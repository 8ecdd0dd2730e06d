"""Physical-plan audit across the whole suite.

For every registered query, plans it (no execution) and digests the
executed-plan string into the operators that matter at 100 TB: scans,
exchanges (shuffles), sorts, broadcast vs sort-merge vs shuffled-hash
joins, window-group-limits, Python boundaries.  Writes PLAN_AUDIT.md — a
table the reviewer (or a regression diff) can scan for accidental extra
shuffles, missing broadcasts, or Python-worker boundaries in hot paths.

Usage:
    PYTHONPATH=/root/repo python tools/plan_audit.py [--sf DIR]

Streaming queries (st_*) are skipped: their suite entries replay to a
finished table, so "planning" them executes the stream.  Heads whose
reference artifacts are absent (``suite.inference.missing_reference_artifacts``)
keep their row from the existing audit file; the missing files are named
on stderr.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PATTERNS = {
    "scans": r"FileScan|BatchScan",
    "exchanges": r"Exchange (?:hash|range|RoundRobin|SinglePartition)",
    "sorts": r"\bSort \[",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "shj": r"ShuffledHashJoin",
    "wgl": r"WindowGroupLimit",
    "topk": r"TakeOrderedAndProject",
    "python": r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLAN_AUDIT.md"))
    args = ap.parse_args()

    from vtb_datafusion_2023_spark.session import get_spark
    from vtb_datafusion_2023_spark.suite import queries
    from vtb_datafusion_2023_spark.suite.inference import missing_reference_artifacts

    committed = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            for line in f:
                cells = line.split("|")
                if len(cells) > 2:
                    committed[cells[1].strip()] = line.rstrip("\n")

    spark = get_spark(app_name="plan_audit")
    rows = []
    for name, fn in sorted(queries().items()):
        if name.startswith("st_"):
            rows.append((name, None))
            continue
        missing = missing_reference_artifacts(name)
        if missing and name in committed:
            print(f"{name}: kept the committed row, missing {', '.join(missing)}",
                  file=sys.stderr)
            rows.append((name, committed[name]))
            continue
        try:
            df = fn(spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((name, {k: len(re.findall(p, plan)) for k, p in PATTERNS.items()}))
        except Exception as e:  # noqa: BLE001 — audit must finish
            rows.append((name, {"error": str(e)[:60]}))

    hdr = ["query", *PATTERNS]
    lines = [
        "# PLAN_AUDIT — physical-plan digest per suite query",
        "",
        f"Generated by `tools/plan_audit.py` at sf={args.sf.rsplit('sf', 1)[-1]}; counts of",
        "scale-relevant operators in each query's executed plan (AQE initial plan).",
        "`python` counts Python-worker boundaries (Arrow-batched mapInPandas only",
        "where the operator is genuinely non-relational: model inference, multimodal",
        "decode, custom stateful streaming).  Streaming replays are marked `stream`.",
        "",
        "Caveat: queries built around a LAZY `localCheckpoint` (the incremental",
        "dedup family) plan the full pre-checkpoint lineage into every consumer",
        "branch, so their static counts overstate execution — at run time the",
        "checkpointed frame materializes once and all branches read the pinned",
        "blocks (measured: dd_incremental_md5 executes its batch band table once).",
        "The converse also exists: queries whose heavy scans run as a BUILD-TIME",
        "action (an_drift_psi / st_drift_psi collect their two B-row count",
        "aggregates and rebuild the epilogue frame driver-side; kmv_set_ops'",
        "guard count; dp_priority_sample runs its TakeOrderedAndProject scan",
        "at build time and rebuilds the k-row result from the collected",
        "winners — its 0-scan row here means the corpus scan happened eagerly,",
        "so wall-clock timing of that head must bracket query CONSTRUCTION,",
        "not just the returned plan's execution; dp_temperature_mix likewise",
        "runs its one per-source hash aggregate at build time and rebuilds",
        "the #sources-row result driver-side, hence its all-zero row)",
        "show an epilogue-only returned plan — their corpus cost",
        "is one execution of those build-time scans, documented per-operator.",
        "",
        "| " + " | ".join(hdr) + " |",
        "|" + "---|" * len(hdr),
    ]
    for name, d in rows:
        if isinstance(d, str):
            lines.append(d)
        elif d is None:
            lines.append(f"| {name} | stream |" + " |" * (len(PATTERNS) - 1))
        elif "error" in d:
            lines.append(f"| {name} | ERROR: {d['error']} |" + " |" * (len(PATTERNS) - 1))
        else:
            lines.append(
                "| " + name + " | " + " | ".join(str(d[k]) for k in PATTERNS) + " |"
            )
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
