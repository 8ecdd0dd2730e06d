"""Streaming ingest dedup: a ``foreachBatch`` pipeline that admits only
novel documents, maintaining a manifest-versioned clean corpus AND its
MinHash band index across micro-batches.

The production loop a 100 TB training-data pipeline runs on arriving
shards: each micro-batch

1. bands its documents (``dedup._band_table`` of ``hash_family``, the
   one band-table dispatch batch ``incremental_minhash_pairs`` uses too
   — deterministic signatures; ids are unique, since the batch drops
   duplicate ids first and the corpus only ever receives such batches),
2. finds near-dup candidates in-batch (bucket grouping) and against the
   ACCUMULATED index (equi-join on (band, bucket) — history is probed,
   never re-banded),
3. verifies candidates with exact Jaccard (join-pruned lookups into the
   versioned corpus),
4. drops batch docs that near-dup an accepted doc or a smaller-id batch
   doc (greedy keep-first; transitively conservative — a doc whose only
   match was itself dropped is still dropped, so the accepted set never
   contains a colliding pair whose bucket stayed within
   ``max_bucket_size``; in a hotter bucket both the in-batch star-cap
   and the batch-vs-index cap only pair against the bucket's
   ``max_bucket_size`` smallest ids, so a batch doc whose ONLY near-dup
   is a beyond-cap member can slip through — the recall knob both caps
   share; raise it if exact admission matters more than hot-bucket
   cost),
5. appends survivors to the corpus table and their bands to the index
   table (``commit_versioned(mode='append')`` — no data rewrite), then
   marks the batch done.

Batch replays after failure are idempotent at three levels: the
done-marker skips fully-committed batches before any work; accepted docs
anti-join the existing corpus ids so a replay whose marker write crashed
never appends a row twice; and the index commits BEFORE the corpus, so
the only crash-window artifact is an index entry whose corpus row
arrives on the replay — harmless, since verification drops candidates
with no corpus text.  A fully missing index (manual deletion) self-heals
by re-banding the corpus once and COMMITTING the rebuilt index before
the batch dedups — deterministic signatures rebuild it identically, and
the durable commit keeps historical coverage for every later batch.
For multi-writer object stores, replace markers with a transactional
catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _band_table, _bucket_candidate_pairs, _verify_jaccard
from ..sources.manifest import commit_versioned, read_versioned, table_versions


def _dedup_one_batch(
    batch: DataFrame,
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_n: int,
    jaccard_threshold: float,
    max_bucket_size: int,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Return the batch rows that survive dedup vs (corpus + batch).

    ``hash_family='md5'`` uses the oracle-replayable md5 banding family
    (both engines share md5's hex output) — the certification twin of
    the xxhash64 scale path, exactly as in batch ``minhash_md5_pairs``.
    """
    batch = batch.select(id_col, text_col).dropDuplicates([id_col])
    banded = _band_table(
        batch, id_col, text_col, num_perm, bands, shingle_n, hash_family
    ).localCheckpoint(eager=True)  # feeds both candidate branches once;
    # eager so materialization runs as its own job — a LAZY checkpoint
    # piggybacks on the first consumer's job, and its straggler tasks can
    # complete after that SQL execution unregisters its accumulators
    # (benign but noisy "non-existent accumulator" DAGScheduler errors,
    # seen in the round-3 bench tail; eager removes the race, measured
    # cost-neutral)
    cand = _bucket_candidate_pairs(banded, max_bucket_size)
    # history presence is decided by the CORPUS (the verify text source);
    # the index normally leads it by commit order, but if it is missing
    # entirely (manual deletion), re-band the corpus once to repair —
    # deterministic signatures rebuild it identically
    have_history = bool(table_versions(corpus_dir))
    if have_history:
        old = read_versioned(spark, corpus_dir)
        if table_versions(index_dir):
            index = read_versioned(spark, index_dir)
        else:
            # in-memory fallback only: streaming_dedup_ingest heals a
            # missing index DURABLY (commits the re-banding) before it
            # calls here, so this branch serves ad-hoc callers
            index = _band_table(
                old, id_col, text_col, num_perm, bands, shingle_n, hash_family
            ).withColumnRenamed("_id", id_col)
        # Cap the batch x index candidate join per (band, bucket), like
        # the in-batch star-cap: a hot bucket accumulating m index
        # entries would otherwise emit k*m join rows EVERY micro-batch.
        # The index side is first pruned to the buckets this batch
        # touches (broadcast of the batch's bucket keys — batch-sized by
        # contract, so the index never shuffles), then each surviving
        # bucket keeps its max_bucket_size smallest ids.  Beyond-cap
        # members stop being candidate partners — the same recall knob
        # (and default) as _bucket_candidate_pairs; raise it if exact
        # admission matters more than hot-bucket cost.
        from pyspark.sql import Window

        batch_buckets = banded.select("band", "bucket").distinct()
        pruned = index.select(
            F.col(id_col).alias("_old_id"), "band", "bucket"
        ).join(F.broadcast(batch_buckets), ["band", "bucket"])
        w = Window.partitionBy("band", "bucket").orderBy("_old_id")
        capped = (
            pruned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
        vs_old = (
            banded.join(capped, ["band", "bucket"])
            .filter(F.col("_id") != F.col("_old_id"))
            .select(
                F.least("_id", "_old_id").alias("id_a"),
                F.greatest("_id", "_old_id").alias("id_b"),
            )
            .distinct()
        )
        cand = cand.unionByName(vs_old).distinct()
        docs_all = old.select(id_col, text_col).unionByName(
            batch.select(id_col, text_col)
        )
    else:
        docs_all = batch
    pairs = _verify_jaccard(
        cand, docs_all, id_col, text_col, shingle_n, jaccard_threshold
    )
    new_ids = batch.select(F.col(id_col))
    a_new = new_ids.select(F.col(id_col).alias("id_a")).withColumn("_a_new", F.lit(True))
    b_new = new_ids.select(F.col(id_col).alias("id_b")).withColumn("_b_new", F.lit(True))
    marked = pairs.join(a_new, "id_a", "left").join(b_new, "id_b", "left")
    drops = (
        marked.filter(F.col("_b_new")).select(F.col("id_b").alias(id_col))
        .unionByName(
            marked.filter(F.col("_a_new") & F.col("_b_new").isNull()).select(
                F.col("id_a").alias(id_col)
            )
        )
        .distinct()
    )
    return batch.join(drops, id_col, "left_anti")


def streaming_dedup_ingest(
    stream_docs: DataFrame,
    corpus_dir: str,
    index_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
    timeout_sec: int = 600,
    compact_every: int | None = None,
    hash_family: str = "xxhash64",
) -> None:
    """Run the (finite-source) document stream to completion, growing the
    versioned clean corpus at ``corpus_dir`` and its band index at
    ``index_dir``.  Read results with ``sources.manifest.read_versioned``.

    ``compact_every=N`` rewrites both tables into few files after every
    N-th committed batch (append mode adds a file set per batch;
    compaction keeps reader open-cost flat on long streams — see
    ``sources.manifest.compact_versioned``; vacuum separately, respecting
    reader retention).
    """
    os.makedirs(corpus_dir, exist_ok=True)
    spark = stream_docs.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(corpus_dir, f"batch-{batch_id}.done")
        if os.path.exists(marker):  # replayed batch: already committed
            return
        if table_versions(corpus_dir) and not table_versions(index_dir):
            # durable self-heal: a missing index (manual deletion) is
            # rebuilt from the corpus ONCE and COMMITTED before this
            # batch dedups.  Healing only in-memory would silently lose
            # historical coverage from the next batch on — the next
            # table_versions(index_dir) would see only this batch's
            # bands.  Deterministic signatures rebuild it identically;
            # a crash after this commit is idempotent (versions exist).
            rebuilt = _band_table(
                read_versioned(spark, corpus_dir),
                id_col, text_col, num_perm, bands, shingle_n, hash_family,
            ).withColumnRenamed("_id", id_col)
            commit_versioned(rebuilt, index_dir, mode="append")
        accepted = _dedup_one_batch(
            batch_df,
            spark,
            corpus_dir,
            index_dir,
            id_col,
            text_col,
            num_perm,
            bands,
            shingle_n,
            jaccard_threshold,
            max_bucket_size,
            hash_family,
        ).localCheckpoint()  # pin: two commits below must see one answer
        if table_versions(corpus_dir):
            # row-level idempotency across the crash window: docs already
            # in the corpus (a replay whose marker write crashed) are
            # never appended twice
            accepted = accepted.join(
                read_versioned(spark, corpus_dir).select(id_col), id_col, "left_anti"
            )
        if accepted.limit(1).count() > 0:
            accepted_bands = _band_table(
                accepted, id_col, text_col, num_perm, bands, shingle_n, hash_family
            ).withColumnRenamed("_id", id_col)
            # index FIRST: a crash between the commits then leaves an
            # index entry whose corpus row arrives on replay — harmless
            # (verify drops candidates with no corpus text).  The reverse
            # order would lose dedup coverage for committed corpus docs.
            commit_versioned(accepted_bands, index_dir, mode="append")
            commit_versioned(accepted, corpus_dir, mode="append")
            if compact_every and (batch_id + 1) % compact_every == 0:
                from ..sources.manifest import compact_versioned

                compact_versioned(spark, corpus_dir)
                compact_versioned(spark, index_dir)
        with open(marker, "w") as f:
            f.write("done")

    q = (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    from ._util import await_or_raise

    await_or_raise(q, timeout_sec, "streaming_dedup_ingest")
