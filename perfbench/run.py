"""Run one benchmark workload in one fresh Spark JVM.

    python3 perfbench/run.py --workload typed_read --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root. The run generates (or reuses) the seed's
inputs, starts the shipped session (``valico_spark.session.get_spark``
on ``local[<nproc>]``, no extra settings), sets up, runs jobs in a closed
loop with one client for ``--seconds`` (at least ``MIN_JOBS``), checks
every job's outputs, and prints a detail line followed by the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
ones: jobs then alternate untraced and traced, and probes time the
layers the jobs do not isolate. Exit status is 0 when a result was
printed, 2 when the package under test or BENCHMARK.json is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_JOBS = 2
MAX_CONSECUTIVE_FAILURES = 3
SIZES = {
    "full": {"docs": 80_000, "prefix": 16_000, "sample": 500,
             "text": 1_000},
    # the self-test's inputs: a few thousand docs
    "tiny": {"docs": 3_000, "prefix": 600, "sample": 200, "text": 500},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed closed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="input sizes; 'tiny' is the self-test's")
    return ap.parse_args(argv)


def load_inputs(workload: str, seed: int, sizes: dict, trace: int) -> dict:
    from perfbench import inputs

    cache = os.path.join(HERE, ".cache")
    n, t = sizes["docs"], sizes["text"]
    meta = inputs.cached(cache, "docs", n, seed, lambda out:
                         inputs.build_docs(out, n, seed, sizes["prefix"],
                                           sizes["sample"]))
    if workload == "json_read" and trace:
        # the text corpus of the curate path json_read's traced run probes
        meta["text"] = inputs.cached(cache, "text", t, seed, lambda out:
                                     inputs.build_text(out, t, seed))
    return meta


def input_sizes(meta: dict) -> dict:
    return {k: input_sizes(v) if k == "text" else v for k, v in meta.items()
            if k not in ("dir", "refs", "expected")}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin, held by this process, closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@dataclass
class Job:
    i: int
    traced: bool
    wall: float
    cpu: float  # process-tree CPU seconds
    steal: float  # CPU seconds the host took from the VM meanwhile
    out: dict | None
    problems: list[str]

    @property
    def secs(self) -> float:
        from perfbench.tracing import unstolen

        return unstolen(self.wall, self.steal)


def run_job(wl, tracer, i: int) -> Job:
    from perfbench.tracing import steal_s, tree_cpu_s

    cpu0, steal0 = tree_cpu_s(), steal_s()
    t0 = time.perf_counter()
    try:
        with tracer.group(f"job{i}"), tracer.span("job"):
            out = wl.job(tracer, i)
        problems = []
    except Exception:
        out, problems = None, [traceback.format_exc()]
    wall = time.perf_counter() - t0
    cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
    wl.cleanup()
    return Job(i, tracer.enabled, wall, cpu, steal, out, problems)


def layer_metrics(wl, tracer, jobs, warm: int, names: set,
                  start_s: float) -> dict:
    good = [j for j in jobs[warm:] if not j.problems]
    traced = [f"job{j.i}" for j in good if j.traced]
    untraced = [j.secs for j in good if not j.traced]
    m = {name: 0.0 for name in names}
    for span, s in tracer.summary().items():
        key = "scan.s" if span == "scan" else span + "_s"
        if key in m:
            m[key] = s["self_s"]
    stats = tracer.group_stats(traced)
    m["spark.gc_s"] = stats["gc_s"]
    m["spark.spill_bytes"] = stats["spill_bytes"]
    m["spark.tasks"] = stats["tasks"]
    m["operators.relational.shuffle_write_bytes"] = tracer.group_stats(
        traced, {"operators.relational.duplicate_keys",
                 "operators.relational.orphans"})["shuffle_write_bytes"]
    m.update(wl.layer_counts(good[-1].out))
    m["session.start_s"] = start_s
    m["compiler.pyvalidator.docs_per_s"] = wl.walker_rate
    m["failed_share"] = sum(1 for j in jobs if j.problems) / len(jobs)
    m["trace.overhead_s"] = (median(j.secs for j in good if j.traced)
                             - median(untraced))
    return m


def run(args, spec: dict, work: str) -> int:
    from perfbench import tracing, workloads
    from valico_spark.session import get_spark

    t = time.perf_counter()
    meta = load_inputs(args.workload, args.seed, SIZES[args.scale],
                       args.trace)
    gen_s = time.perf_counter() - t

    sw = tracing.stopwatch()
    spark = get_spark(f"perfbench_{args.workload}",
                      master=f"local[{os.cpu_count()}]")
    start_s = sw()
    try:
        wl = workloads.WORKLOADS[args.workload](spark, meta, work)
        null = tracing.NullTracer()
        tracer = tracing.Tracer(spark) if args.trace else null

        prep = []
        for _ in range(SETUP_REPS):
            sw = tracing.stopwatch()
            wl.prepare()
            prep.append(sw())
        jobs = [run_job(wl, null, 0)]  # the untimed first job of set-up
        while len(jobs) <= wl.warmup_jobs:
            jobs.append(run_job(wl, null, len(jobs)))
        warm = len(jobs)

        min_jobs = 4 if args.trace else MIN_JOBS
        deadline = time.perf_counter() + args.seconds
        streak = 0
        while len(jobs) - warm < min_jobs or time.perf_counter() < deadline:
            i = len(jobs)
            traced = (i - warm) % 2 == 1
            jobs.append(run_job(wl, tracer if traced else null, i))
            streak = streak + 1 if jobs[-1].problems else 0
            if streak >= MAX_CONSECUTIVE_FAILURES:
                break
        peak_rss_mb = tracing.tree_peak_rss_mb()

        t = time.perf_counter()
        ref_problems = wl.reference()
        reference_s = time.perf_counter() - t
        for j in jobs:
            if j.out is not None:
                j.problems = wl.check(j.out)
        probe_counts = wl.probe(tracer) if args.trace else {}
        ref_problems += wl.probe_problems
    finally:
        stop_spark(spark)

    for p in ref_problems + [f"job {j.i}: {p}" for j in jobs
                             for p in j.problems]:
        print(f"perfbench: {p}", file=sys.stderr)
    timed = [j.secs for j in jobs[warm:] if not j.traced and not j.problems]
    if not timed or not any(not j.problems for j in jobs if j.traced) \
            and args.trace:
        print("perfbench: no job completed", file=sys.stderr)
        return 1
    failed = sum(1 for j in jobs if j.problems)

    if args.trace:
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = layer_metrics(wl, tracer, jobs, warm, set(names), start_s)
        values["peak_rss_mb"] = peak_rss_mb
        values.update({k: v for k, v in probe_counts.items() if k in names})
    else:
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {"docs_per_s": wl.n_docs / median(timed),
                  "setup_s": start_s + median(prep) + jobs[0].secs}

    detail = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "docs": wl.n_docs,
        "inputs": input_sizes(meta),
        "gen_s": gen_s, "session_start_s": start_s, "prepare_s": prep,
        "first_job_s": jobs[0].secs, "reference_s": reference_s,
        "peak_rss_mb": peak_rss_mb,
        "warmup_jobs": warm - 1, "timed_jobs": len(timed),
        "job_walls": [j.wall for j in jobs],
        "job_cpu_s": [j.cpu for j in jobs],
        "job_steal_s": [j.steal for j in jobs],
        "traced_jobs": [j.i for j in jobs if j.traced],
    }
    if args.trace:
        detail["spans"] = tracer.summary()
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0 and not ref_problems,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": names[k]}
                    for k in sorted(names)},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    # every file the run writes, the JVM's included, stays in the checkout
    work = os.path.join(HERE, ".work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp}").strip()
    sys.path.insert(0, ROOT)
    try:
        try:
            import valico_spark.session  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the package under test is missing: {e}",
                  file=sys.stderr)
            return 2
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
