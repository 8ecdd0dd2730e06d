"""SparkSession construction and defensive runtime tuning.

Two entry paths exist:

1. We own the session (tests, bench.py): ``get_spark()`` builds a
   ``local[N]`` session with scale-appropriate static configs.
2. The driver owns the session (``__spark_entry__.queries()``): we can only
   set *runtime* SQL confs.  ``tune_session(spark)`` applies everything that
   matters for correctness (session timezone — SURVEY §7.4 / oracle parity)
   and local performance (AQE, shuffle partitions) and is safe to call on
   any session, repeatedly.

Generated-code reuse needs two settings.  ``useIdInClassName=false`` is a
runtime conf, so ``tune_session`` gives it to an externally-owned session
(path 2) too.  The codegen cache size (``_CODEGEN_CACHE_ENTRIES``) is a
static conf read when the JVM starts: only ``get_spark`` can set it, and
an externally-owned session keeps Spark's 100-entry cache.  There the
wide submission plan still recompiles on every pass, and the registered
``pipeline_submission`` head gains only from the class-name setting.

Scale notes (100 TB design): the static builder enables AQE with
coalescing + skew-join handling so the same code re-plans itself on a real
cluster; shuffle partition count here is only the *initial* number — AQE
coalesces post-shuffle.  On a 1000-executor cluster you would raise
``spark.sql.shuffle.partitions`` (or rely on
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) and set
``spark.sql.files.maxPartitionBytes`` to keep scan tasks ~128-256 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs: correctness first (UTC timezone pins timestamp
# part-extraction to the stored naive value, matching the DuckDB oracle and
# the reference's pandas behavior), then adaptive execution.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Size-driven post-shuffle coalescing instead of defaulting to the
    # cluster parallelism: small shuffles collapse to few partitions
    # (measured: q1 1.0->0.4s, tfidf 1.9->1.3s at sf0.1) while large
    # shuffles still split by advisoryPartitionSizeInBytes — the
    # production-recommended setting at any scale.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Never write legacy INT96 timestamps: INT96 parquet columns carry NO
    # footer min/max statistics, which silently disables both the
    # manifest zone-map pruning (commit_versioned stats_cols) and parquet
    # row-group pruning on event-time predicates.  Micros is the modern
    # interoperable physical type.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Small-file split floor: default 4 MB leaves a 10 MB local parquet at
    # ~3 scan tasks, starving 32 cores (measured: minhash 2.9->2.3s,
    # simhash 2.6->2.1s at 512 KB).  At cluster scale maxPartitionBytes
    # caps split size and a lower open-cost only packs many small files
    # more densely per task — safe in both regimes.
    # r10 note: a 64 KB floor was A/B'd (it would derive the split count
    # from input-bytes/cores once a file is multi-row-group).  Quiet-
    # window interleaved reps came back a wash at the full-head level
    # (dd_lsh_recall_eval even favored 512 KB: 4.6-5.1 s clean vs 64 KB
    # all steal-flagged; dd_simhash_idf ~0.4 s the other way; q9 /
    # dd_containment identical) — the splittable-fixture row groups, not
    # the floor, carry the win, so the r9 value stays (OPTIMIZATION_r10).
    "spark.sql.files.openCostInBytes": "524288",
    # The fused branch-C aggregate (plans.features) carries one
    # conditional-agg column per vocabulary entry; at the reference's
    # real MCC vocabulary (~70 codes) that is ~250 aggregate fields —
    # past the default 100-field bound whole-stage codegen silently
    # bails to the interpreted operator path, which at 100 TB is the
    # difference between codegen'd conditional counts and per-row
    # interpretation.  Spark splits oversized generated functions
    # automatically, so a higher bound is safe.  Compile-time A/B
    # (SCALE.md round 9): 512 is same-or-faster than the default 100
    # on all 8 probed heads, cold (incl. Janino compile) AND warm —
    # the global setting is free.
    "spark.sql.codegen.maxFields": "512",
    # Whole-stage codegen names each generated class after its stage id
    # (GeneratedIteratorForCodegenStageN), and the codegen cache is keyed
    # by the source text, class name included.  Ids shift between passes
    # and across the submission plan's 45 codegen stages, so an identical
    # stage body compiled again under a new id: with a large enough cache,
    # 20 of the 55 distinct stage bodies of a warm submission pass were
    # such misses.  With the id out of the name they hit; the id stays in
    # the formatted source's `// codegenStageId=N` comment.  Measured
    # (perfbench submission, seed 601, local[4], with the cache below):
    # compiles over three passes 188/38/4 -> 156/0/0.
    "spark.sql.codegen.useIdInClassName": "false",
    # NOTE on events.ts: the driver's events.parquet stores
    # TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 scans as
    # TIMESTAMP_NTZ (bit-identical to DuckDB's read of the same file).
    # sources.readers.load_table casts it to a session-UTC TIMESTAMP.
    # We deliberately do NOT set spark.sql.legacy.parquet.nanosAsLong:
    # it only takes effect if set before the first scan plan, so as a
    # runtime conf it made the read path session-order-dependent (the
    # round-1 flaky-pytest root cause).
    # exact `percentile`, not approx — required for reference parity
    # (SURVEY §7.4.2); nothing to set, noted for readers.
}


# Static conf ``spark.sql.codegen.cache.maxEntries`` (read at JVM start,
# so it cannot join _RUNTIME_CONFS).  Spark's default LRU of 100 compiled
# classes is smaller than one submission pass, which generates 156-193
# classes (perfbench submission, seed 601, local[4]): the pass evicted
# its own classes and every warm pass ran Janino again, ~180 compiles
# and ~4 s of an ~11 s pass.  2000 holds a dozen such plans, so a test
# or bench JVM running many heads keeps the submission plan's classes
# too.  Cost of a full cache: the pass's 156 classes held ~3.2 MB of
# source text (the cache key), and each recompile at the default size
# grew Metaspace by ~20 KB (~3.5 MB per warm pass), so ~40 MB of heap
# and ~40 MB of Metaspace at 2000 entries.  On the submission pass it
# is a saving: Metaspace after four passes is 155 MB with this cache
# and 160 MB with the default, which keeps loading new copies of the
# same classes.
_CODEGEN_CACHE_ENTRIES = 2000


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by this JVM so far, from Spark's
    ``CodegenMetrics`` compilation histogram; runs no job.  The count is
    exact.  The ms are exact up to the histogram's 1,028-sample reservoir
    and scaled up from that sample past it."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    sample = hist.getSnapshot()
    kept = sample.size()
    ms = jvm.java.util.Arrays.stream(sample.getValues()).sum() * n / kept if kept else 0.0
    return n, ms


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _register_pickle_by_value() -> None:
    """Serialize this package BY VALUE into executor closures.

    The driver process may import us via a sys.path hack that executor
    Python workers don't inherit; module-level functions referenced from
    ``mapInPandas`` closures would then unpickle as by-reference imports
    and crash with ModuleNotFoundError.  Registering the package with
    cloudpickle ships the code itself inside the serialized task."""
    try:
        from pyspark import cloudpickle

        import vtb_datafusion_2023_spark as pkg

        cloudpickle.register_pickle_by_value(pkg)
    except Exception:
        pass


def tune_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an externally-owned session (idempotent)."""
    _register_pickle_by_value()
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — keep going
    if shuffle_partitions is None:
        shuffle_partitions = default_cpus()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "vtb-datafusion-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local session sized by $SPARK_GRAFT_CPUS."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    return tune_session(spark, shuffle_partitions or cpus)
