"""Per-document cost of the walker stage's three steps, without Spark.

Builds ``--docs`` documents with ``synth.generate_docs`` (default 4%
defects), serializes them as ``perfbench.inputs.to_json_docs`` does (the
JSON strings ``json_read`` validates), and times, single-threaded, the
three steps the gated walker stage of ``validate_json_column`` runs per
document:

* ``parse_s`` — ``load_document`` over every string;
* ``gate_s`` — ``Scope.gate``'s ``passes`` over every parsed document;
* ``walk_s`` — ``Scope.validate`` over the documents failing the gate.

Each figure is the min of ``--reps`` runs. The gate and the walker are
checked against each other first (the gate must pass exactly the valid
documents, as ``DOCS_RULESET`` is covered). Prints one JSON line.

Usage: python tools/gate_profile.py [--docs 16000] [--seed 11] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _min_time(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=16_000)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from perfbench.inputs import N_MEDIA, to_json_docs
    from valico_spark.compiler.pyvalidator import Scope, load_document
    from valico_spark.rulesets import DOCS_RULESET
    from valico_spark.sources import synth

    docs = to_json_docs(synth.generate_docs(args.docs, seed=args.seed,
                                            n_media=N_MEDIA))
    scope = Scope()
    sid = scope.compile(DOCS_RULESET)
    passes, covers = scope.gate(sid)
    values = [load_document(d) for d in docs]
    failing = [v for v in values if not passes(v)]
    for v in values:
        if passes(v) is not scope.validate(sid, v).is_valid():
            raise SystemExit(f"gate and walker disagree on {v!r}")

    out = {"python": sys.version.split()[0], "docs": len(docs),
           "seed": args.seed, "reps": args.reps, "covers": covers,
           "failing": len(failing)}
    out["parse_s"] = _min_time(lambda: [load_document(d) for d in docs],
                               args.reps)
    out["gate_s"] = _min_time(lambda: [passes(v) for v in values], args.reps)
    out["walk_s"] = _min_time(
        lambda: [scope.validate(sid, v) for v in failing], args.reps)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
