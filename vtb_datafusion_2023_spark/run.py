"""Production CLI — the Spark-native equivalent of the reference's
``python -u run.py <source_csv> <output_csv>``
(/root/reference/metadata.json:3, run.py:17).

Reads the canonical transactions CSV (user_id, mcc_code, currency_rk,
transaction_amt, transaction_dttm[, ord]), runs the full scoring pipeline
(plans.submission), writes the sorted (user_id, target) submission CSV.

Note: with no model artifact the deterministic linear stand-in emits
UNCALIBRATED scores; swapping in a real CatBoost/torch BroadcastModel
(inference.udfs) yields predict_proba-style [0,1] targets like the
reference.

Usage:
    python -m vtb_datafusion_2023_spark.run <source_csv> <output_dir> \
        [--cats 742,4111,...] [--reps N] [--cpus N]
"""

from __future__ import annotations

import argparse

from pyspark.sql import Observation
from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("source_csv")
    ap.add_argument("output_dir")
    ap.add_argument(
        "--cats",
        default=None,
        help="comma-separated closed category vocabulary (default: distinct codes "
        "minus the 6012 blacklist — one extra pass, fine for ad-hoc runs)",
    )
    ap.add_argument("--reps", type=int, default=5, help="bootstrap repetitions (reference: 50)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from .plans import run_submission
    from .session import get_spark, tune_session
    from .sources.readers import read_transactions_csv
    from .sources.writers import write_csv

    # A session of its own: after an Observation (the row count below) a
    # classic SparkSession no longer serializes in Spark 4.1 (its
    # ObservationManager is not transient), so a later job that ships the
    # session, such as a spark.ml model with a training summary, would
    # fail on a session shared with the caller.
    spark = get_spark(app_name="vtb-submission", cpus=args.cpus)
    spark = tune_session(spark.newSession(), args.cpus)
    # stamp a row-order column when the file doesn't carry one explicitly
    # (pandas positional semantics — SURVEY §7.4.1)
    try:
        with open(args.source_csv) as f:
            has_ord = "ord" in [h.strip() for h in f.readline().split(",")]
    except OSError:
        has_ord = False
    tx_raw = read_transactions_csv(spark, args.source_csv, stamp_ord=not has_ord)
    tx = tx_raw.select(
        "user_id",
        F.col("mcc_code").alias("cat"),
        F.col("transaction_amt").alias("amt"),
        F.col("transaction_dttm").alias("ts"),
        "ord",
    )
    if args.cats:
        vocab = [int(c) for c in args.cats.split(",")]
    else:
        vocab = sorted(
            r.cat for r in tx.filter(F.col("cat") != 6012).select("cat").distinct().collect()
        )
    sub = run_submission(spark, tx, cat_vocab=vocab, n_reps=args.reps)
    # the row count rides on the write job: a count() after it would run
    # the post-checkpoint tail (CSV scan, anti-join, sort) a second time
    rows = Observation("rows")
    write_csv(sub.observe(rows, F.count(F.lit(1)).alias("n")), args.output_dir)
    n = rows.get["n"]
    print(f"wrote {n} user scores to {args.output_dir}")


if __name__ == "__main__":
    main()
