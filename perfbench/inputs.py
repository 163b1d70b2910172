"""Seeded benchmark inputs.

Every input is a pure function of (kind, size, seed). It is generated once
per seed into the benchmark's own cache directory (never ``.fixtures/``,
which ``bench.py`` and the tests share) and reused while that seed is the
latest one of its kind. A directory is complete once its ``meta.json``
exists; the metadata holds the input sizes and the reference values the
workloads check their outputs against. The references are computed here
from the generated arrays with numpy/pyarrow, independently of Spark and
of the package's compilers.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# a real table is many files; one small file would be a single Spark split
# and leave all but one core idle
N_PARTS = 8
N_MEDIA = 20_000


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def cached(cache_dir: str, kind: str, n: int, seed: int, build) -> dict:
    """Return the metadata of input ``kind`` at (n, seed), building it with
    ``build(out_dir) -> meta`` when absent. Other seeds of the same kind
    are evicted, so the cache holds one corpus per kind."""
    name = f"{kind}-n{n}-s{seed}"
    out = os.path.join(cache_dir, name)
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        os.makedirs(cache_dir, exist_ok=True)
        for old in os.listdir(cache_dir):
            if old.startswith(kind + "-") and old != name:
                shutil.rmtree(os.path.join(cache_dir, old))
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = out
    return meta


def _write_parts(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    step = max(1, -(-table.num_rows // N_PARTS))
    for i in range(N_PARTS):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


# -- interleaved docs (typed_read, json_read) ----------------------------------

def to_json_docs(table: pa.Table) -> list[str]:
    """Serialize rows as JSON objects, dropping null fields — the
    NULL-is-absent mapping the typed lane applies, so both lanes see the
    same documents."""
    def strip(v):
        if isinstance(v, dict):
            return {k: strip(x) for k, x in v.items() if x is not None}
        if isinstance(v, list):
            return [strip(x) for x in v]
        return v

    return [json.dumps(strip(r), ensure_ascii=False, separators=(",", ":"))
            for r in table.to_pylist()]


def docs_references(docs: pa.Table, media: pa.Table) -> dict:
    """Counts the relational and span operators must reproduce."""
    ids = docs["doc_id"].to_numpy(zero_copy_only=False)
    _, counts = np.unique(ids, return_counts=True)
    dup = counts[counts > 1]

    spans = docs["spans"].combine_chunks()
    offs = spans.offsets.to_numpy()
    flat = spans.flatten()
    refs = flat.field("media_ref")
    known = pc.is_in(refs, value_set=media["media_ref"])
    orphans = pc.sum(pc.and_(pc.is_valid(refs), pc.invert(known))).as_py()

    # a doc fails the ordering check when some offset is null or some
    # adjacent pair inside it does not increase
    o = flat.field("offset")
    null_at = np.nonzero(o.is_null().to_numpy(zero_copy_only=False))[0]
    ov = o.fill_null(0).to_numpy().astype(np.int64)
    bad = np.diff(ov) <= 0
    inner = np.ones(len(bad), dtype=bool)
    starts = offs[1:-1]
    inner[starts[(starts > 0) & (starts < len(ov))] - 1] = False
    bad_pos = np.concatenate([np.nonzero(bad & inner)[0], null_at])
    doc_of = np.searchsorted(offs, bad_pos, side="right") - 1
    return {
        "dup_keys": int(len(dup)),
        "dup_rows": int(dup.sum()),
        "orphans": int(orphans or 0),
        "unordered_docs": int(len(np.unique(doc_of))),
    }


def build_docs(out: str, n: int, seed: int, prefix_n: int,
               sample_n: int) -> dict:
    """``docs/`` (n rows, synth's default 4% defects),
    ``media_assets.parquet``, the typed and JSON forms of the first
    ``prefix_n`` docs, and a ``row``-keyed sample of the first ``sample_n``
    docs in both forms."""
    from valico_spark.sources import synth

    docs = synth.generate_docs(n, seed=seed, n_media=N_MEDIA)
    media = synth.generate_media_assets(N_MEDIA, seed=seed + 1)
    _write_parts(docs, os.path.join(out, "docs"))
    pq.write_table(media, os.path.join(out, "media_assets.parquet"))

    prefix = docs.slice(0, prefix_n)
    _write_parts(prefix, os.path.join(out, "prefix"))
    _write_parts(pa.table({"doc_id": prefix["doc_id"],
                           "json": to_json_docs(prefix)}),
                 os.path.join(out, "prefix_json"))

    sample = docs.slice(0, sample_n)
    rows = pa.array(np.arange(sample.num_rows, dtype=np.int64))
    pq.write_table(pa.table({"row": rows, "doc_id": sample["doc_id"],
                             "spans": sample["spans"]}),
                   os.path.join(out, "sample.parquet"))
    pq.write_table(pa.table({"row": rows, "json": to_json_docs(sample)}),
                   os.path.join(out, "sample_json.parquet"))
    return {
        "docs": n,
        "spans": int(len(docs["spans"].combine_chunks().flatten())),
        "bytes": dir_bytes(os.path.join(out, "docs")),
        "prefix_docs": prefix.num_rows,
        "prefix_json_bytes": dir_bytes(os.path.join(out, "prefix_json")),
        "sample_docs": sample.num_rows,
        "refs": docs_references(docs, media),
    }


# -- text corpus (the curate path) -------------------------------------------

EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
           "that", "this"]
FR_MARKERS = ["le", "la", "les", "et", "est", "un", "une"]
DE_MARKERS = ["der", "die", "das", "und", "ist", "nicht", "ein"]
JUNK = ["#@!", "~~~", ":::", "|||", "&&", "%%", "1234", "5678", "$$", "^^",
        "()", "[]"]
MIN_TEXT_LEN = 20
CURATE_RULESET = {
    "type": "object",
    "required": ["doc_id", "text"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": MIN_TEXT_LEN},
    },
}
# kind shares of the text corpus; the duplicate shares set the near-dup
# stage's candidate density
TEXT_SHARES = {"invalid": 0.03, "junk": 0.05, "foreign": 0.07,
               "exact_dup": 0.05, "near_dup": 0.10}


def _vocab() -> np.ndarray:
    """3000 alphabetic pseudo-words (2-3 consonant-vowel syllables), fixed
    for every seed: wide enough that unrelated docs share few character
    5-grams, and never equal to a language marker word."""
    rng = np.random.default_rng(0)
    syl = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"])
    words: set[str] = set()
    while len(words) < 3000:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(syl, k)))
    return np.array(sorted(words))


def _mix(rng, markers, vocab, share: float, n_tok: int) -> str:
    pick = rng.random(n_tok) < share
    toks = np.where(pick, rng.choice(markers, n_tok), rng.choice(vocab, n_tok))
    return " ".join(toks)


def build_text(out: str, n: int, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    names = ["clean"] + list(TEXT_SHARES)
    p = list(TEXT_SHARES.values())
    kinds = rng.choice(len(names), n, p=[1 - sum(p)] + p)
    texts: list[str | None] = [None] * n
    clean = np.nonzero(kinds == 0)[0]
    for i in clean:
        # the leading "the" makes English the language-ID winner by
        # construction: with no English marker the zero-score tie would
        # resolve to another language
        texts[i] = "the " + _mix(rng, EN_STOP, vocab, 0.35,
                                 int(rng.integers(30, 60)))
    for i in np.nonzero(kinds != 0)[0]:
        kind = names[kinds[i]]
        if kind == "invalid":
            texts[i] = None if rng.random() < 0.5 else "short text"
        elif kind == "junk":
            texts[i] = " ".join(rng.choice(JUNK, int(rng.integers(6, 12))))
        elif kind == "foreign":
            markers = FR_MARKERS if rng.random() < 0.5 else DE_MARKERS
            texts[i] = _mix(rng, markers, vocab, 0.4,
                            int(rng.integers(30, 60)))
        elif kind == "exact_dup":
            texts[i] = texts[clean[rng.integers(len(clean))]]
        else:
            words = texts[clean[rng.integers(len(clean))]].split(" ")
            j = int(rng.integers(len(words)))
            if words[j] in EN_STOP:
                j = next(k for k, w in enumerate(words) if w not in EN_STOP)
            repl = words[j]
            while repl == words[j]:
                repl = str(rng.choice(vocab))
            words[j] = repl
            texts[i] = " ".join(words)
    table = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                      "text": pa.array(texts, pa.string())})
    _write_parts(table, os.path.join(out, "docs"))

    short = np.array([t is None or len(t) < MIN_TEXT_LEN for t in texts])
    kind_of = np.array(names)[kinds]
    return {
        "docs": n,
        "bytes": dir_bytes(os.path.join(out, "docs")),
        "chars": int(sum(len(t) for t in texts if t is not None)),
        "kinds": {k: int((kind_of == k).sum()) for k in names},
        "expected": {
            "invalid": int(short.sum()),
            "low_quality": int(((kind_of == "junk") & ~short).sum()),
            "wrong_lang": int((kind_of == "foreign").sum()),
            "near_dup_min": int((kind_of == "exact_dup").sum()),
            "near_dup_max": int(np.isin(kind_of,
                                        ["exact_dup", "near_dup"]).sum()),
        },
    }
