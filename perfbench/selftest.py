"""Self-test of the benchmark on tiny inputs (a few thousand docs).

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json untraced and traced at
``--scale tiny`` and checks that each run exits 0 with correct outputs and
emits every metric the spec names, with its unit, as a finite number.
Then checks that a directory holding only BENCHMARK.json and the
benchmark's files (no package under test) makes the benchmark fail
without printing a result. Exit status 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 600


def check_result(proc: subprocess.CompletedProcess, metrics: list) -> list:
    if proc.returncode != 0:
        tail = proc.stderr.strip().splitlines()[-1:]
        return [f"exit status {proc.returncode}: {tail}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        problems.append(f"correct={res.get('correct')} "
                        f"failed={res.get('failed')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        problems.append(f"attempted={res.get('attempted')}")
    want = {m["name"]: m["unit"] for m in metrics}
    got = res.get("metrics", {})
    for name in sorted(set(want) ^ set(got)):
        problems.append(f"{name} {'missing' if name in want else 'extra'}")
    for name in sorted(set(want) & set(got)):
        value, unit = got[name].get("value"), got[name].get("unit")
        if unit != want[name]:
            problems.append(f"{name} unit {unit!r}, spec {want[name]!r}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            problems.append(f"{name} value {value!r}")
    return problems


def run(cmd: list, cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)


def stripped_checkout_fails() -> list:
    """The benchmark alone, without the package, must fail loudly."""
    d = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(
                            ".work", ".cache", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        proc = run([sys.executable, "perfbench/run.py", "--workload",
                    "typed_read", "--seed", "1", "--seconds", "1",
                    "--trace", "0"], d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    if proc.returncode == 0 or '"correct"' in proc.stdout:
        return [f"stripped checkout: exit {proc.returncode}, "
                f"stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", w["name"], "--seed", "7",
                        "--seconds", "1", "--trace", str(trace),
                        "--scale", "tiny"], ROOT)
            problems = check_result(proc, spec[key])
            failures += bool(problems)
            print(f"{'FAIL' if problems else 'ok'} {w['name']} "
                  f"trace={trace} {'; '.join(problems)}".rstrip(),
                  flush=True)
    problems = stripped_checkout_fails()
    failures += bool(problems)
    print(f"{'FAIL' if problems else 'ok'} stripped checkout "
          f"{'; '.join(problems)}".rstrip())
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
