"""Manifest-committed versioned tables: an object-store-safe commit
protocol (ROADMAP #8).

``compact_parquet`` / ``upsert_snapshot`` commit by directory rename —
atomic on local/HDFS but not on S3-class stores, where a failed job can
leave readers seeing half a table.  This module commits the way table
formats (Delta/Iceberg) do, reduced to its core:

- data files are IMMUTABLE and uniquely named; a write stages them under
  the table's ``data/`` directory where no reader looks for them,
- a snapshot is a tiny JSON **manifest** (``manifest-v{N}.json``) listing
  exactly the data files in that version,
- the commit is the single atomic publish of that manifest (local:
  ``os.replace``; S3: conditional PUT of one small object).

Readers resolve the highest manifest and read ONLY its files, so they
never observe a partial write, writers never block readers, old versions
stay readable (time travel), and crashed writes leave only invisible
orphans for ``vacuum_versioned`` to sweep.  The 100 TB story: the commit
cost is one small-object write regardless of data size, and the manifest
doubles as file-level pruning metadata (no directory listing on read).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from .readers import small_frame

_MANIFEST_GLOB = "manifest-v*.json"


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"manifest-v{version}.json")


def table_versions(table_dir: str) -> list[int]:
    """All committed versions, ascending; [] for a nonexistent table."""
    out = []
    for p in glob.glob(os.path.join(table_dir, _MANIFEST_GLOB)):
        stem = os.path.basename(p)[len("manifest-v") : -len(".json")]
        if stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def _file_names(manifest: dict) -> list[str]:
    """Data-file names of a manifest — entries are plain strings
    (unbucketed tables) or {"name", "bucket"} dicts (bucketed)."""
    return [e["name"] if isinstance(e, dict) else e for e in manifest["files"]]


def _nullable_type(dt):
    """Recursively normalize nullability flags inside nested types:
    struct-field nullable, array containsNull, map valueContainsNull all
    forced True.  Without this, _evolved_schema would reject an append
    whose nested inner-field nullability differs from the committed
    version's (createDataFrame inference vs a parquet round-trip disagree
    on exactly these flags) as a type change, even though the data is
    compatible."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable_type(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable_type(dt.keyType), _nullable_type(dt.valueType), True)
    return dt


def _normalized_schema(df: DataFrame) -> dict:
    """Schema as a manifest-storable dict, nullability normalized to True
    at every nesting level (files written before a column existed read it
    as NULL, so a versioned table's columns are nullable by construction;
    inner-field flags are observational noise — see _nullable_type)."""
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(f.name, _nullable_type(f.dataType), True) for f in df.schema.fields]
    ).jsonValue()


def _evolved_schema(prev: dict | None, df: DataFrame) -> dict:
    """SCHEMA EVOLUTION (append mode): the table schema is the previous
    manifest schema plus any NEW columns the incoming frame adds, in
    order.  Columns present in both must keep their exact dataType —
    a type change would silently corrupt rows in files written under
    the old type, so it raises instead (rewrite via overwrite mode or a
    migration job).  Old files simply lack the new columns; the reader
    scans them as NULL under the manifest schema."""
    new = _normalized_schema(df)
    if prev is None:
        return new
    prev_fields = {f["name"]: f for f in prev["fields"]}
    new_fields = {f["name"]: f for f in new["fields"]}
    for name, f in new_fields.items():
        if name in prev_fields and prev_fields[name]["type"] != f["type"]:
            raise ValueError(
                f"schema evolution cannot change column {name!r} from "
                f"{prev_fields[name]['type']} to {f['type']}; use "
                "mode='overwrite' (full rewrite) for type migrations"
            )
    merged = dict(prev)
    merged["fields"] = prev["fields"] + [
        f for f in new["fields"] if f["name"] not in prev_fields
    ]
    return merged


import contextlib


@contextlib.contextmanager
def _micros_timestamps(df: DataFrame):
    """Force TIMESTAMP_MICROS for the staging write even on a vanilla
    (externally-owned) session: legacy INT96 timestamp columns carry NO
    parquet footer min/max stats, which silently disables the zone-map
    pruning this storage layer exists to provide."""
    conf = df.sparkSession.conf
    key = "spark.sql.parquet.outputTimestampType"
    try:
        old = conf.get(key)
    except Exception:
        old = None
    try:
        conf.set(key, "TIMESTAMP_MICROS")
    except Exception:
        pass
    try:
        yield
    finally:
        if old is not None:
            with contextlib.suppress(Exception):
                conf.set(key, old)


def _footer_stats(path: str, cols: list[str]) -> dict:
    """Per-file zone map: column min/max read from the parquet FOOTER
    row-group statistics (no data scan — pyarrow metadata only).
    Timestamps serialize as isoformat strings (JSON-safe, order-preserving
    for comparisons against isoformat probes); values the footer has no
    stats for are omitted."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict = {}
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    for c in cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        if lo is not None:
            if hasattr(lo, "isoformat"):
                lo, hi = lo.isoformat(), hi.isoformat()
            out[c] = [lo, hi]
    return out


def commit_versioned(
    df: DataFrame,
    table_dir: str,
    mode: str = "overwrite",
    stats_cols: list[str] | None = None,
    manifest_extra: dict | None = None,
) -> int:
    """Write ``df`` as a new committed version of ``table_dir``; returns
    the new version number.  ``mode='overwrite'`` snapshots just this
    data; ``mode='append'`` carries the previous version's files forward
    (append = old manifest's file list + the new files — no data rewrite).

    ``stats_cols`` records per-file ZONE MAPS (column min/max lifted from
    the parquet footers — no extra scan) in the manifest;
    :func:`read_versioned_range` then prunes whole files by predicate
    before Spark ever lists them.

    The write stages to a scratch dir, hard-moves the finished parts into
    ``data/`` under version-unique names (invisible to readers: readers
    only trust the manifest), then publishes the manifest atomically.  A
    crash before the final publish leaves the table exactly at the prior
    version.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    data_dir = os.path.join(table_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    versions = table_versions(table_dir)
    version = (versions[-1] + 1) if versions else 1

    # resolve the table schema BEFORE any data is written: a rejected
    # type change must not leave a full append's worth of orphans in
    # data/ (it needs only df.schema + the previous manifest)
    schema = _normalized_schema(df)
    prev = None
    if mode == "append" and versions:
        prev = _read_manifest(table_dir, versions[-1])
        prev_schema = prev.get("schema")
        if prev_schema is None and prev["files"]:
            # pre-schema-evolution manifest: recover the old files'
            # schema ONCE from their footers — without this, evolving a
            # legacy table would pin only the new frame's columns and
            # silently hide old-only columns from every later read (and
            # skip the type-change guard)
            old_paths = [
                os.path.join(data_dir, f) for f in _file_names(prev)
            ]
            # mergeSchema: a legacy table may have accumulated appends
            # whose files carry different column sets — a plain read
            # would pin ONE file's schema and silently drop the other
            # files' old-only columns from the evolved schema
            prev_schema = _normalized_schema(
                df.sparkSession.read.option("mergeSchema", "true").parquet(*old_paths)
            )
        # evolve rather than replace: appended files may ADD columns;
        # existing columns keep their types (validated) and old files
        # read the new columns as NULL under the manifest schema
        schema = _evolved_schema(prev_schema, df)

    stage = os.path.join(table_dir, f".stage-{uuid.uuid4().hex}")
    with _micros_timestamps(df):
        df.write.mode("overwrite").parquet(stage)
    tag = uuid.uuid4().hex[:8]
    files = []
    for i, part in enumerate(sorted(glob.glob(os.path.join(stage, "part-*.parquet")))):
        name = f"v{version}-{tag}-{i:05d}.parquet"
        entry: str | dict = name
        if stats_cols:
            dest = os.path.join(data_dir, name)
            os.replace(part, dest)
            entry = {"name": name, "stats": _footer_stats(dest, stats_cols)}
        else:
            os.replace(part, os.path.join(data_dir, name))
        files.append(entry)
    shutil.rmtree(stage, ignore_errors=True)

    if prev is not None:
        files = prev["files"] + files
    manifest = {"version": version, "mode": mode, "files": files, "schema": schema}
    if manifest_extra:
        # caller metadata (e.g. the streaming sink's batch_id txn guard)
        # rides the SAME atomic publish — no stamp-after-commit window
        manifest.update(manifest_extra)
    tmp = os.path.join(table_dir, f".manifest-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(table_dir, version))  # THE commit
    return version


def read_versioned(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a committed version (latest when ``version`` is None).  Only
    manifest-listed files are read — staged, orphaned, or future files in
    ``data/`` are invisible."""
    versions = table_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    m = _read_manifest(table_dir, v)
    files = _file_names(m)
    data_dir = os.path.join(table_dir, "data")
    paths = [os.path.join(data_dir, f) for f in files]
    if "schema" in m:
        # the manifest-recorded schema IS the table schema (per version —
        # time travel sees the schema of ITS manifest): files written
        # before a column evolved in scan it as NULL, and no footer
        # sniffing/mergeSchema pass is needed at any table size
        from pyspark.sql import types as T

        return spark.read.schema(T.StructType.fromJson(m["schema"])).parquet(*paths)
    return spark.read.parquet(*paths)


def vacuum_versioned(table_dir: str, keep: int = 2) -> list[str]:
    """Garbage-collect: keep the newest ``keep`` versions, delete older
    manifests and every data file no kept version references (including
    crash orphans).  Returns the deleted file names.  Run with a retention
    window longer than the longest reader at scale."""
    versions = table_versions(table_dir)
    kept, dropped = versions[-keep:], versions[:-keep]
    live: set[str] = set()
    for v in kept:
        live.update(_file_names(_read_manifest(table_dir, v)))
    deleted = []
    data_dir = os.path.join(table_dir, "data")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        if os.path.basename(p) not in live:
            os.remove(p)
            deleted.append(os.path.basename(p))
    for v in dropped:
        os.remove(_manifest_path(table_dir, v))
    for stray in glob.glob(os.path.join(table_dir, ".stage-*")):
        shutil.rmtree(stray, ignore_errors=True)
    return deleted


def _bucket_expr(key_col: str, n_buckets: int):
    from pyspark.sql import functions as F

    # hash the canonical string form: xxhash64 is physical-type-sensitive
    # (int vs bigint hash differently), and lookup keys arrive with
    # whatever width their Python type maps to
    return F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)).cast("int")


def _stage_bucketed(
    df: DataFrame, table_dir: str, key_col: str, n_buckets: int, version: int
) -> list[dict]:
    """Write ``df`` hash-bucketed by ``key_col`` into ``data/`` under
    version-unique names; returns the manifest file entries (not yet
    committed — invisible until a manifest lists them)."""
    data_dir = os.path.join(table_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    stage = os.path.join(table_dir, f".stage-{uuid.uuid4().hex}")
    with _micros_timestamps(df):
        (
            df.withColumn("_bucket", _bucket_expr(key_col, n_buckets))
            .repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(stage)
        )
    tag = uuid.uuid4().hex[:8]
    entries: list[dict] = []
    i = 0
    for bdir in sorted(glob.glob(os.path.join(stage, "_bucket=*"))):
        bucket = int(os.path.basename(bdir).split("=", 1)[1])
        for part in sorted(glob.glob(os.path.join(bdir, "part-*.parquet"))):
            name = f"v{version}-{tag}-b{bucket:04d}-{i:05d}.parquet"
            os.replace(part, os.path.join(data_dir, name))
            entries.append({"name": name, "bucket": bucket})
            i += 1
    shutil.rmtree(stage, ignore_errors=True)
    return entries


def _publish(table_dir: str, manifest: dict) -> int:
    tmp = os.path.join(table_dir, f".manifest-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(table_dir, manifest["version"]))  # THE commit
    return manifest["version"]


def commit_versioned_bucketed(
    df: DataFrame, table_dir: str, key_col: str, n_buckets: int = 16
) -> int:
    """Commit ``df`` as a new version hash-bucketed by ``key_col``:
    every data file belongs to one of ``n_buckets`` key buckets
    (``pmod(xxhash64(key), n)``), recorded per-file in the manifest.

    Bucketing is what makes maintenance INCREMENTAL at 100 TB:
    ``merge_into`` rewrites only the buckets its update keys hash into
    (the other n-1 buckets' files carry forward by name, zero bytes
    moved), and ``read_versioned_pruned`` opens only the files that can
    contain the probed keys.  Same atomic manifest-publish commit as
    ``commit_versioned``.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    versions = table_versions(table_dir)
    version = (versions[-1] + 1) if versions else 1
    entries = _stage_bucketed(df, table_dir, key_col, n_buckets, version)
    manifest = {
        "version": version,
        "mode": "overwrite",
        "files": entries,
        "bucketing": {"key_col": key_col, "n_buckets": n_buckets},
    }
    return _publish(table_dir, manifest)


def merge_into(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    delete_keys: DataFrame | None = None,
) -> int:
    """MERGE INTO a bucketed versioned table: upsert ``updates``
    (replace rows whose key matches, insert the rest) and optionally
    delete ``delete_keys`` rows, committing one new version.

    Only buckets containing an update/delete key are rewritten; every
    other data file is carried into the new manifest BY NAME — the
    incremental-maintenance shape (cost scales with the delta, not the
    table).  Readers of older versions are untouched (time travel), and
    a crash anywhere before the manifest publish leaves the table at the
    prior version with only invisible orphans.

    ``updates`` must be key-unique (latest-wins needs an order the
    caller owns — pre-compact with ``cleaning.latest_by_key``); raises
    otherwise.
    """
    from pyspark.sql import functions as F

    versions = table_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    m = _read_manifest(table_dir, versions[-1])
    if "bucketing" not in m:
        raise ValueError("merge_into requires a table committed by commit_versioned_bucketed")
    key_col = m["bucketing"]["key_col"]
    n_buckets = m["bucketing"]["n_buckets"]

    dup = (
        updates.groupBy(key_col).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"updates are not key-unique on {key_col!r} (e.g. {dup[0][key_col]}); "
            "pre-compact with latest_by_key"
        )

    keys = updates.select(key_col)
    if delete_keys is not None:
        keys = keys.unionByName(delete_keys.select(key_col))
    touched = {
        r["_b"]
        for r in keys.select(_bucket_expr(key_col, n_buckets).alias("_b"))
        .distinct()
        .collect()
    }

    data_dir = os.path.join(table_dir, "data")
    carried = [e for e in m["files"] if e["bucket"] not in touched]
    old_paths = [
        os.path.join(data_dir, e["name"]) for e in m["files"] if e["bucket"] in touched
    ]
    if old_paths:
        old = spark.read.parquet(*old_paths)
        merged = old.join(updates.select(key_col), key_col, "left_anti")
        if delete_keys is not None:
            merged = merged.join(delete_keys.select(key_col), key_col, "left_anti")
        merged = merged.unionByName(updates)
    else:
        merged = updates
    if delete_keys is not None:
        merged = merged.join(delete_keys.select(key_col), key_col, "left_anti")

    version = versions[-1] + 1
    entries = _stage_bucketed(merged, table_dir, key_col, n_buckets, version)
    manifest = {
        "version": version,
        "mode": "merge",
        "files": carried + entries,
        "bucketing": m["bucketing"],
    }
    return _publish(table_dir, manifest)


# DDL type of a lookup key by its Python type, as createDataFrame infers it
_KEY_TYPES = {bool: "boolean", int: "bigint", float: "double", str: "string"}


def read_versioned_pruned(
    spark: SparkSession,
    table_dir: str,
    keys: list,
    version: int | None = None,
) -> DataFrame:
    """Point/batch lookup with file-level pruning: read only the data
    files whose bucket can contain one of ``keys`` (then filter exactly).
    At 100 TB this is the difference between opening n_buckets' worth of
    files and opening len(set(bucket(k)))'s worth."""
    from pyspark.sql import functions as F

    versions = table_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    v = versions[-1] if version is None else version
    m = _read_manifest(table_dir, v)
    if "bucketing" not in m:
        raise ValueError("read_versioned_pruned requires a bucketed table")
    key_col = m["bucketing"]["key_col"]
    n_buckets = m["bucketing"]["n_buckets"]
    ddl = _KEY_TYPES[type(keys[0])] if keys else "string"
    lookup = small_frame(spark, [(k,) for k in keys], f"`{key_col}` {ddl}")
    touched = {
        r["_b"]
        for r in lookup.select(_bucket_expr(key_col, n_buckets).alias("_b"))
        .distinct()
        .collect()
    }
    data_dir = os.path.join(table_dir, "data")
    paths = [os.path.join(data_dir, e["name"]) for e in m["files"] if e["bucket"] in touched]
    if not paths:
        return read_versioned(spark, table_dir, version=v).limit(0)
    return spark.read.parquet(*paths).filter(F.col(key_col).isin(keys))


def compact_versioned(
    spark: SparkSession, table_dir: str, target_files: int = 8, stats_cols: list[str] | None = None
) -> int:
    """Rewrite the LATEST version's data into ``target_files`` files and
    commit the result as a new version (same rows, fewer files).

    Append-mode ingestion (e.g. the streaming dedup corpus/index, one
    commit per micro-batch) accumulates a file per batch; readers then
    pay per-file open cost and tiny scan tasks.  Compaction is an
    ordinary overwrite commit, so it is atomic, readers on older versions
    are untouched, and ``vacuum_versioned`` reclaims the small files once
    the retention window passes.  Returns the new version number.
    """
    latest = read_versioned(spark, table_dir)
    return commit_versioned(
        latest.repartition(target_files), table_dir, mode="overwrite", stats_cols=stats_cols
    )


def cdc_diff(before: DataFrame, after: DataFrame, keys: list[str]) -> DataFrame:
    """Change-data-feed between two keyed snapshots: one row per changed
    key with ``change_type`` in ``insert`` (key only in ``after``),
    ``delete`` (only in ``before``), ``update`` (present in both with any
    non-key column differing — null-safe comparison).  Non-key columns
    come back twice, as ``old_<col>`` / ``new_<col>``; unchanged keys are
    absent.

    One full-outer shuffle join on the key — the minimal cost of a
    snapshot diff; on bucketed versioned tables both sides arrive
    co-partitioned, so the exchange disappears (same mechanics as
    ``merge_into``).
    """
    from pyspark.sql import functions as F

    val_cols = [c for c in before.columns if c not in keys]
    if val_cols != [c for c in after.columns if c not in keys]:
        raise ValueError("snapshots have different schemas")
    b = before.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_b"),
        *[F.col(c).alias(f"old_{c}") for c in val_cols],
    )
    a = after.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_a"),
        *[F.col(c).alias(f"new_{c}") for c in val_cols],
    )
    j = b.join(a, on=keys, how="full_outer")
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    ct = (
        F.when(F.col("_in_b").isNull(), F.lit("insert"))
        .when(F.col("_in_a").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("change_type", ct)
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[f"old_{c}" for c in val_cols],
            *[f"new_{c}" for c in val_cols],
        )
    )


def table_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """CDC between two committed versions of a versioned table (the
    Delta-style ``table_changes``): reads both manifests and diffs the
    snapshots with :func:`cdc_diff`.  ``keys`` defaults to the bucketing
    key of the versions being DIFFED (``to_version``, falling back to
    ``from_version`` — not the latest manifest, which a later
    un-bucketed compaction may have written)."""
    if keys is None:
        key = None
        for v in (to_version, from_version):
            m = _read_manifest(table_dir, v)
            if "bucketing" in m:
                key = m["bucketing"]["key_col"]
                break
        if key is None:
            raise ValueError("pass keys= for tables without a bucketing key")
        keys = [key]
    return cdc_diff(
        read_versioned(spark, table_dir, version=from_version),
        read_versioned(spark, table_dir, version=to_version),
        keys,
    )


def _norm_probe(v):
    """Normalize a zone-map range probe for comparison with JSON stats.

    Stats for timestamp/date columns are persisted as ``.isoformat()``
    strings ('T' separator).  Accept ``datetime``/``date`` objects and
    Spark-style ``'YYYY-MM-DD HH:MM:SS'`` strings; anything else passes
    through unchanged (numeric/string columns compare natively).
    """
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if (
        isinstance(v, str)
        and len(v) >= 11
        and v[4] == "-"
        and v[7] == "-"
        and v[10] == " "
    ):
        return v[:10] + "T" + v[11:]
    return v


def read_versioned_range(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Range read with ZONE-MAP file pruning: open only the data files
    whose manifest ``[min, max]`` for ``col`` overlaps ``[lo, hi]``
    (either bound optional), then filter exactly.  Files committed
    without stats for ``col`` are conservatively kept.

    The lakehouse skipping primitive: on a table sorted or clustered by
    ``col`` (e.g. ``write_zorder_parquet`` order, or natural event-time
    arrival), a narrow range touches a handful of files regardless of
    table size — manifest-level pruning before Spark's own row-group
    pruning even starts.
    """
    from pyspark.sql import functions as F

    versions = table_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    v = versions[-1] if version is None else version
    m = _read_manifest(table_dir, v)
    # Manifest stats store timestamps as datetime.isoformat() strings
    # ('T' separator).  Normalize caller probes so a datetime object or a
    # Spark-style 'YYYY-MM-DD HH:MM:SS' string compares correctly instead
    # of silently pruning files that contain matching rows.
    plo, phi = _norm_probe(lo), _norm_probe(hi)

    def iso_like(s) -> bool:
        return isinstance(s, str) and len(s) >= 10 and s[4] == "-" and s[7] == "-"

    def lt(a, b) -> bool:
        """True iff a < b PROVABLY.  A date probe against timestamp stats
        (or vice versa) compares at the COMMON granularity: truncating
        ISO strings to the shorter length is order-preserving when the
        prefixes differ, and a tie at that granularity keeps the file —
        full-length lexicographic '2023-01-03T00:00:00' > '2023-01-03'
        would silently prune a file whose midnight row passes the exact
        post-filter (ts <= date casts the date to midnight)."""
        if iso_like(a) and iso_like(b) and len(a) != len(b):
            k = min(len(a), len(b))
            a, b = a[:k], b[:k]
        return a < b

    def keep(entry) -> bool:
        if not isinstance(entry, dict):
            return True
        st = entry.get("stats", {}).get(col)
        if st is None:
            return True
        fmin, fmax = st
        try:
            if plo is not None and lt(fmax, plo):
                return False
            if phi is not None and lt(phi, fmin):
                return False
        except TypeError:
            # incomparable probe/stat types: conservative keep (exact
            # post-filter below still applies) — pruning must never be
            # the reason a matching row goes missing.
            return True
        return True

    data_dir = os.path.join(table_dir, "data")
    kept = [e for e in m["files"] if keep(e)]
    base = read_versioned(spark, table_dir, version=v)
    if not kept:
        out = base.limit(0)
    else:
        out = spark.read.schema(base.schema).parquet(
            *[os.path.join(data_dir, e["name"] if isinstance(e, dict) else e) for e in kept]
        )
    if lo is not None:
        out = out.filter(F.col(col) >= lo)
    if hi is not None:
        out = out.filter(F.col(col) <= hi)
    return out
