"""Fixed start of a Spark job with a Python stage, without perfbench.

Times three tiny jobs on one ``get_spark`` session, each to the noop sink
over ``spark.range(4)`` in 4 partitions (one task per row):

* ``identity_s`` — an identity ``mapInArrow`` whose function is not the
  package's, so it leaves the worker's import caches as PySpark left them;
* ``no_python_s`` — the same job without the Python stage;
* ``identity_after_package_s`` — the identity job again, after a package
  stage (``validate_json_column``'s walker stage, which starts with
  ``operators.util.drop_zip_importers``) has run on every Python worker.

``identity_s - no_python_s`` is what each task pays before the function
runs; the third figure shows what is left of it once the package stage
has dropped the worker's zip importers. Each figure is measured after
``--warmup`` untimed runs of its job. Prints one JSON line with the
min/median wall seconds of ``--reps`` runs of each job.

Usage: python tools/python_stage_overhead.py [--reps 7] [--warmup 3]
       [--master local[4]]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = 4


def _identity(batches):
    yield from batches


def _timed(job, warmup: int, reps: int) -> dict:
    for _ in range(warmup):
        job()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t0)
    return {"min": round(min(walls), 4),
            "median": round(statistics.median(walls), 4)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--warmup", type=int, default=3)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from valico_spark.operators.validate import validate_json_column
    from valico_spark.session import get_spark

    spark = get_spark("python_stage_overhead", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    slots = spark.sparkContext.defaultParallelism
    base = spark.range(0, ROWS, 1, ROWS)
    identity = base.mapInArrow(_identity, base.schema)
    docs = spark.range(0, slots, 1, slots).selectExpr(
        "to_json(named_struct('id', id)) AS doc")
    package = validate_json_column(docs, "doc", {"type": "object"})

    def sink(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    out = {"master": spark.sparkContext.master,
           "python": sys.version.split()[0],
           "reps": args.reps, "warmup": args.warmup}
    # the package stage must not run before the first two figures
    out["identity_s"] = _timed(sink(identity), args.warmup, args.reps)
    out["no_python_s"] = _timed(sink(base), args.warmup, args.reps)
    # one package task per slot, a few times, so every idle worker of the
    # reuse pool has run one
    for _ in range(3):
        sink(package)()
    out["identity_after_package_s"] = _timed(sink(identity), args.warmup,
                                             args.reps)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
