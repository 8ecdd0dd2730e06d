"""Sources: schema-pinned CSV/parquet scans (SURVEY §2.1 S1/S2/S4).

The reference scans one CSV with parse_dates + dtype map
(``/root/reference/model.py:208-213``) and re-reads a materialized
intermediate three times (``run.py:84-90,185`` — S4).  Spark-first:

- CSV scans carry an explicit ``StructType`` (no schema inference pass —
  inference would be a full extra read of 100 TB).
- Parquet is the internal format: columnar, predicate-pushdown- and
  column-pruning-friendly; ``.explain`` shows PushedFilters/ReadSchema.
- Re-used intermediates are ``.cache()``-ed or checkpointed to parquet
  instead of re-parsed (S4).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The SQL confs Spark's parquet-to-Spark schema converter reads
# (ParquetToSparkSchemaConverter(SQLConf), Spark 4.1): with the file's
# footer they fully determine an inferred schema.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)
# The inferred schema of each single-file parquet table read so far, with
# the file identity and conf values it was inferred under; a rewrite or a
# changed conf replaces the entry.  Inference runs a footer-reading Spark
# job on every read (~0.1 s warm on local[4]; 8 of them per pass of the
# perfbench `queries` mix); a known schema given to the reader runs none.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a single file's schema once
    per file version and session settings.  Directories (partition
    discovery, schema merging) are inferred on every read as before."""
    try:
        st = os.stat(path)
    except OSError:  # not a local path; Spark's reader resolves it or fails
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    # get(k, None) is the value set in this session, None when unset (the
    # build's default applies) or when this build has no such conf
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size, confs)
    key = os.path.abspath(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def small_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """A driver-sized DataFrame of ``rows`` (tuples in ``schema`` order),
    handed to the JVM as one Arrow table.

    ``createDataFrame`` of a Python list plans a PythonRDD over
    ``defaultParallelism`` partitions, so each job that reads the frame
    starts Python workers (~0.25 s per job on local[4]); an Arrow table
    becomes a JVM-side relation and starts none.  Integers, doubles
    (NaN included), strings, arrays of doubles, naive ``timestamp_ntz``
    datetimes and NULLs arrive as ``createDataFrame`` builds them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [() for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic parquet table (TESTDATA.md).

    ``events.ts`` is stored as TIMESTAMP(MICROS, isAdjustedToUTC=false);
    Spark 4 scans that as TIMESTAMP_NTZ — bit-identical to DuckDB's read
    of the same file.  We normalize to a session-UTC TIMESTAMP so every
    downstream operator (``unix_micros``, windows, watermarks) sees one
    type regardless of reader mode.  The ``bigint`` branch covers
    nanos-typed variants read under the legacy ``nanosAsLong`` conf.
    The conversion is a narrow projection; filter pushdown on the
    column still works.
    """
    from ..session import tune_session

    tune_session(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql()."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_transactions_csv(spark: SparkSession, path: str, stamp_ord: bool = False) -> DataFrame:
    """S1+S2: schema-pinned CSV scan of the canonical transactions table;
    rows with a NULL field are dropped, as the reference's ``.dropna()``
    on ingest (``model.py:214``).

    ``stamp_ord=True`` adds an order stamp when the file lacks an
    explicit ``ord`` column.  The stamp is ``monotonically_increasing_id``,
    which encodes the input split's partition index: it is unique and
    increasing within one read, but its values — and so the ``ord``
    tie-break between rows with equal timestamps — follow the split
    layout, which changes with the number of cores and the split size.
    A split-independent stamp is open (ROADMAP Direction 2).
    """
    ddl = (
        "user_id long, mcc_code int, currency_rk int, "
        "transaction_amt double, transaction_dttm timestamp"
        + ("" if stamp_ord else ", ord long")
    )  # string DDL of TX_SCHEMA — keeps CSV column-order binding explicit
    df = spark.read.schema(ddl).option("header", True).csv(path)
    if stamp_ord:
        df = df.withColumn("ord", F.monotonically_increasing_id())
    return df.na.drop()


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-pinned newline-delimited JSON scan — the common wire format
    for document/training-data corpora.

    The explicit schema (DDL string) skips Spark's inference pass (a full
    extra read at 100 TB) and pins types against drifting producers.
    Unparseable lines land in a ``_corrupt_record`` column (PERMISSIVE
    mode) and are dropped instead of failing the scan: the input comes
    from outside the program.
    """
    from ..session import tune_session

    tune_session(spark)
    full = schema + ", _corrupt_record string"
    df = spark.read.schema(full).option("mode", "PERMISSIVE").json(path)
    return df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — predicate pushdown and column pruning work as for
    parquet (tested in test_plan_shapes)."""
    return spark.read.orc(path)


def read_csv_robust(
    spark: SparkSession, path: str, schema: str, drop_corrupt: bool = True
) -> DataFrame:
    """Schema-pinned CSV scan that survives malformed rows: PERMISSIVE
    mode routes unparseable lines into ``_corrupt_record`` and we drop
    (or surface) them instead of failing the scan — at 100 TB a handful
    of mangled rows must never kill the job.  Set ``drop_corrupt=False``
    to keep the corrupt column for a quarantine sink."""
    from ..session import tune_session

    tune_session(spark)
    full = schema + ", _corrupt_record string"
    df = (
        spark.read.schema(full)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    if drop_corrupt:
        df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return df


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet written at different schema versions as one DataFrame.

    ``mergeSchema`` unions the footer schemas at planning time (columns
    added over a dataset's lifetime appear as NULL in files that predate
    them) — the normal state of a 100 TB dataset that has been appended
    to for years.  Column pruning and predicate pushdown still apply
    per-file against each file's physical schema, so old files are not
    penalized.  Type WIDENING across versions (int -> long etc.) is not
    handled here — evolve by adding columns, or migrate with an explicit
    cast-and-rewrite pass.
    """
    return spark.read.option("mergeSchema", True).parquet(*paths)
