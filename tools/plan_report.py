"""Generate PLANS.md: a per-driver-query physical-plan audit.

For every ``queries()`` entry: shuffle count, join strategies, whether
any Python eval node is in the plan, whole-stage-codegen coverage, scan
column pruning, and the ``parse_json`` / ``schema_of_variant`` call
sites of the VARIANT lane — the scale-shape facts a plan review checks.
Run:

    python tools/plan_report.py        # writes PLANS.md at repo root
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from valico_spark.session import get_spark
    import __spark_entry__ as entry

    # AQE off for the audit: the adaptive wrapper hides codegen spans
    # and final join choices until stages run — the static plan is what
    # a shape review wants. Production sessions keep AQE on.
    spark = get_spark("plan_report", master="local[4]", extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.maxMetadataStringLength": "100000",
    })
    rows = []
    for name, fn in entry.queries().items():
        df = fn(spark, SF_DIR)
        qe = df._jdf.queryExecution()
        phys = qe.executedPlan().toString()
        ana = qe.analyzed().toString()
        joins = sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", phys)))
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", phys)
        scan_cols = max((s.count(",") + 1 for s in scans if s), default=0)
        pushed = sum(1 for m in re.findall(
            r"PushedFilters: \[([^\]]*)\]", phys) if m.strip())
        rows.append({
            "query": name,
            "exchanges": phys.count("Exchange"),
            "joins": "+".join(j.replace("Join", "")
                              .replace("Broadcast", "BC")
                              .replace("SortMerge", "SM")
                              .replace("ShuffledHash", "SH")
                              for j in joins) or "-",
            # codegen spans print as "*(n)" stage prefixes
            "codegen": len(set(re.findall(r"\*\((\d+)\)", phys))),
            "python": "yes" if re.search(
                r"(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas|MapInArrow)", phys) else "no",
            "hint": "yes" if "ResolvedHint" in ana else "no",
            "scan_cols": scan_cols,
            "pushed": pushed,
            # call sites in per-row projections = evaluations per row
            "parse": len(re.findall(r"\.parseJson\(", phys)),
            "sov": len(re.findall(r"\.schemaOfVariant\(", phys)),
        })
    out = [
        "# PLANS — driver-query physical-plan audit",
        "",
        f"Generated by `python tools/plan_report.py` at {SF_DIR} with AQE "
        "DISABLED (the static plan is what a shape review wants); "
        "production sessions run AQE on, which may further coalesce "
        "partitions or switch eligible joins to broadcast at runtime.",
        "",
        "Columns: shuffles = Exchange nodes in the initial physical plan "
        "(AQE may elide); joins = strategies present (BC=broadcast, "
        "SM=sort-merge, SH=shuffled-hash); codegen = WholeStageCodegen "
        "spans; python = any Python/Arrow eval node (the walker fallback "
        "surfaces here — 'no' means the query is entirely JVM-side); "
        "hint = unconditional user join hint (scale smell — should be "
        "'no' everywhere); scan_cols = widest parquet ReadSchema "
        "(column pruning check); parse / sov = `parse_json` / "
        "`schema_of_variant` call sites (per-row evaluations on the "
        "VARIANT lane).",
        "",
        "| query | shuffles | joins | codegen | python | hint | "
        "scan_cols | pushed | parse | sov |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append(
            f"| {r['query']} | {r['exchanges']} | {r['joins']} | "
            f"{r['codegen']} | {r['python']} | {r['hint']} | "
            f"{r['scan_cols']} | {r['pushed']} | {r['parse']} | "
            f"{r['sov']} |")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
