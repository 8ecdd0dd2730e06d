"""Streaming ingest dedup: the foreachBatch corpus/index loop admits only
novel documents across micro-batches, survives replays, and leaves no
colliding pair in the accepted corpus."""

from __future__ import annotations

import pyspark.sql.functions as F

from vtb_datafusion_2023_spark.operators.dedup import minhash_lsh_pairs
from vtb_datafusion_2023_spark.sources.manifest import read_versioned, table_versions
from vtb_datafusion_2023_spark.sources.readers import load_table
from vtb_datafusion_2023_spark.streaming.dedup import streaming_dedup_ingest

THRESH = 0.5


def _run(spark, sf_small, tmp_path, tag):
    src = str(tmp_path / f"src_{tag}")
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    # split the corpus into 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    corpus_dir = str(tmp_path / f"corpus_{tag}")
    index_dir = str(tmp_path / f"index_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    streaming_dedup_ingest(
        stream,
        corpus_dir,
        index_dir,
        ckpt,
        jaccard_threshold=THRESH,
        num_perm=32,
        bands=8,
        compact_every=2,  # exercise mid-stream compaction
    )
    return corpus_dir, index_dir, ckpt, src


def test_streaming_dedup_admits_only_novel_docs(spark, sf_small, tmp_path):
    corpus_dir, index_dir, ckpt, src = _run(spark, sf_small, tmp_path, "a")
    corpus = read_versioned(spark, corpus_dir)
    n_in = load_table(spark, sf_small, "documents").count()
    n_kept = corpus.count()
    assert 0 < n_kept < n_in  # the synthetic corpus is duplicate-heavy
    # no LSH-detectable near-dup pair may survive among accepted docs
    # (same banding parameters as ingest -> the detectable set)
    left = minhash_lsh_pairs(
        corpus, "doc_id", "text", num_perm=32, bands=8, jaccard_threshold=THRESH
    )
    assert left.count() == 0
    # the index covers exactly the accepted docs
    idx_ids = {r.doc_id for r in read_versioned(spark, index_dir).select("doc_id").distinct().collect()}
    kept_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert idx_ids == kept_ids

    # replaying the finished stream (same checkpoint + done-markers) is a
    # no-op: versions and contents unchanged
    v_before = table_versions(corpus_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    streaming_dedup_ingest(
        stream, corpus_dir, index_dir, ckpt,
        jaccard_threshold=THRESH, num_perm=32, bands=8,
    )
    assert table_versions(corpus_dir) == v_before
    assert read_versioned(spark, corpus_dir).count() == n_kept


def test_streaming_dedup_index_self_heal_is_durable(spark, sf_small, tmp_path):
    """Deleting the band index must not lose historical dedup coverage:
    the next batch re-bands the corpus AND COMMITS it, so a later batch
    carrying a duplicate of a pre-deletion doc is still rejected."""
    import shutil

    corpus_dir, index_dir, ckpt, src = _run(spark, sf_small, tmp_path, "h")
    corpus = read_versioned(spark, corpus_dir)
    kept_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    victim_text = corpus.orderBy("doc_id").limit(1).collect()[0].text

    shutil.rmtree(index_dir)  # the documented self-heal scenario

    # new batch: one exact duplicate of an accepted historical doc
    spark.createDataFrame(
        [(999_999, victim_text)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    streaming_dedup_ingest(
        stream, corpus_dir, index_dir, ckpt,
        jaccard_threshold=THRESH, num_perm=32, bands=8,
    )
    ids_after = {r.doc_id for r in read_versioned(spark, corpus_dir).select("doc_id").collect()}
    assert 999_999 not in ids_after  # heal worked for THIS batch
    assert ids_after == kept_ids
    # and the heal is durable: the committed index covers the history,
    # so batches AFTER the healing one keep rejecting historical dups
    idx_ids = {
        r.doc_id
        for r in read_versioned(spark, index_dir).select("doc_id").distinct().collect()
    }
    assert kept_ids <= idx_ids


def test_suite_heads_remove_their_temp_root(spark, sf_small):
    """Both two-batch suite heads write their source files, corpus, index
    and checkpoint under one temp root and remove it, while the rows they
    return stay readable."""
    import glob
    import os
    import tempfile

    from vtb_datafusion_2023_spark.suite import queries

    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_stdedup*")
    for name in ("st_dedup_ingest", "st_dedup_ingest_md5"):
        before = set(glob.glob(pattern))
        rows = queries()[name](spark, sf_small).collect()
        assert rows, name
        assert set(glob.glob(pattern)) - before == set(), name
