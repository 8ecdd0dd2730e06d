"""Property tests for the no-oracle data-pipeline operators (MinHash-LSH,
SimHash, LSH-ANN) and the multimodal/inference plumbing."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from vtb_datafusion_2023_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash64,
)
from vtb_datafusion_2023_spark.operators.multimodal import fake_decode, media_features
from vtb_datafusion_2023_spark.operators.similarity import cosine_topk, lsh_ann_topk
from vtb_datafusion_2023_spark.sources.readers import load_table


def docs(spark, sf):
    return load_table(spark, sf, "documents")


def test_minhash_pairs_subset_of_exact(spark, sf_small):
    """Every LSH-verified pair must appear in the exact 3-shingle Jaccard
    pairs at the same threshold (the verify step guarantees precision;
    banding only affects recall)."""
    d = docs(spark, sf_small)
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            d, "doc_id", "text", jaccard_threshold=0.2, shingle_n=3
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2).collect()
    }
    assert got <= exact
    # banding with 16 bands of 4 rows should recall most pairs well above
    # the threshold (P[collide] = 1-(1-j^4)^16 ~ 0.96 at j=0.5)
    strong = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    if strong:
        assert len(got & strong) / len(strong) >= 0.5


def test_simhash_hamming_bound_and_reproducibility(spark, sf_small):
    d = docs(spark, sf_small)
    pairs = simhash_near_pairs(d, "doc_id", "text", max_hamming=10).collect()
    assert all(r.hamming <= 10 for r in pairs)
    # signature is deterministic across evaluations
    a = {r.doc_id: r.sh for r in d.select("doc_id", simhash64("text").alias("sh")).collect()}
    b = {r.doc_id: r.sh for r in d.select("doc_id", simhash64("text").alias("sh")).collect()}
    assert a == b
    # hamming column equals recomputed popcount(xor)
    for r in pairs[:20]:
        assert bin((a[r.id_a] ^ a[r.id_b]) & ((1 << 64) - 1)).count("1") == r.hamming


def test_lsh_ann_subset_of_bruteforce_candidates(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    ann = lsh_ann_topk(emb, q, k=3, n_planes=4).collect()
    brute = cosine_topk(emb, q, k=emb.count()).collect()
    cos_by_pair = {(r.query_id, r.neighbor_id): r.cos for r in brute}
    # every ANN hit carries the true cosine of that pair
    for r in ann:
        assert abs(cos_by_pair[(r.query_id, r.neighbor_id)] - r.cos) < 1e-12


def reference_shingle_pairs(df, n, threshold, measure="jaccard"):
    """Brute-force shingle-set join in plain Python: every document pair,
    word n-gram sets built the way ``word_shingles`` builds them,
    Jaccard (``id_a < id_b``) or directed containment ``|A & B| / |A|``
    (``id_a != id_b``) at or above ``threshold``."""
    sets = {}
    for r in df.select("doc_id", "text").collect():
        if r.text is None:
            continue
        toks = r.text.split(" ")
        sets[r.doc_id] = {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}
    out = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or (measure == "jaccard" and a > b):
                continue
            inter = len(sa & sb)
            v = inter / (len(sa) + len(sb) - inter) if measure == "jaccard" else inter / len(sa)
            if v >= threshold:
                out[(a, b)] = v
    return out


def test_ngram_jaccard_prefix_filter_matches_naive(spark, sf_small):
    """The prefix-filtered AllPairs operator must return EXACTLY the
    brute-force shingle-set join (candidates are a superset; verify is an
    exact set intersection)."""
    from vtb_datafusion_2023_spark.operators.dedup import ngram_jaccard_pairs

    d = docs(spark, sf_small)
    fast = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.6).collect()
    }
    assert fast == reference_shingle_pairs(d, 1, 0.6) and len(fast) > 0


def test_incremental_minhash_equals_full_rerun(spark, sf_small):
    """Splitting the corpus into history + batch and deduping the batch
    against the history's band INDEX must produce exactly the full-corpus
    pairs that touch a batch doc (signatures are deterministic, so the
    buckets are identical run-to-run)."""
    from vtb_datafusion_2023_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_table,
        minhash_lsh_pairs,
    )

    d = docs(spark, sf_small)
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    kw = dict(num_perm=64, bands=16, shingle_n=3, jaccard_threshold=0.3)
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(d, "doc_id", "text", **kw).collect()
    }
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    expected = {
        p_: j for p_, j in full.items() if p_[0] in new_ids or p_[1] in new_ids
    }
    index = minhash_band_table(old, "doc_id", "text", num_perm=64, bands=16, shingle_n=3)
    inc = {
        (r.id_a, r.id_b): r.jaccard
        for r in incremental_minhash_pairs(new, index, old, "doc_id", "text", **kw).collect()
    }
    assert inc == expected and len(inc) > 0


def test_minhash_index_bucketed_join_no_exchange_on_index_side(spark, sf_small, tmp_path):
    """The persisted band index joins incremental batches without
    shuffling the historical side (bucketed by (band, bucket))."""
    from vtb_datafusion_2023_spark.operators.dedup import (
        minhash_band_table,
        write_minhash_index,
    )

    d = docs(spark, sf_small)
    banded = minhash_band_table(d, "doc_id", "text", num_perm=16, bands=4)
    idx = write_minhash_index(
        banded, table="mh_index_test", path=str(tmp_path / "mh_index")
    )
    probe = banded.limit(50)
    plan = (
        probe.join(idx, ["band", "bucket"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # count exchanges: only the probe side may shuffle
    import re

    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges <= 1, plan


def test_cluster_safe_split_never_leaks_near_dups(spark, sf_small):
    """No near-dup pair may span two splits, and the split column covers
    every doc with the declared labels."""
    from vtb_datafusion_2023_spark.operators.dedup import (
        cluster_safe_split,
        ngram_jaccard_pairs,
    )

    d = docs(spark, sf_small)
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.8)
    out = cluster_safe_split(d, pairs)
    split_of = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
    assert set(split_of) == {r.doc_id for r in d.select("doc_id").collect()}
    assert set(split_of.values()) <= {"train", "val", "test"}
    leaked = [
        (r.id_a, r.id_b)
        for r in pairs.collect()
        if split_of[r.id_a] != split_of[r.id_b]
    ]
    assert leaked == []


def test_media_features_plumbing(spark, sf_small):
    d = docs(spark, sf_small).select(
        F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("payload")
    )
    feats = media_features(d, decoder=fake_decode).collect()
    src = {r.media_id: bytes(r.payload) for r in d.collect()}
    assert len(feats) == len(src)
    for r in feats[:10]:
        b = src[r.media_id]
        assert r.n_bytes == len(b)
        assert r.sha == hashlib.sha256(b).hexdigest()
        d0 = fake_decode(b)
        assert (r.width, r.height) == (d0["width"], d0["height"])
        assert len(r.feature) == 4


def test_media_decode_stub_raises():
    from vtb_datafusion_2023_spark.operators.multimodal import decode_image

    try:
        decode_image(b"\x00")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_ivf_with_kmeans_centroids(spark, sf_small):
    """spark.ml-trained IVF cells: ANN hits carry true cosines and recall
    the brute-force top-1 for most queries."""
    from vtb_datafusion_2023_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ivf_train_centroids,
    )

    emb = load_table(spark, sf_small, "embeddings")
    cents = ivf_train_centroids(emb, k=4, seed=42, sample_fraction=0.5)
    assert cents.count() == 4
    q = emb.filter(F.col("vec_id") < 8)
    ann = ivf_topk(emb, q, k=3, n_cells=4, n_probe=2, centroids=cents).collect()
    brute = {(r.query_id, r.neighbor_id): r.cos for r in cosine_topk(emb, q, k=emb.count()).collect()}
    for r in ann:
        assert abs(brute[(r.query_id, r.neighbor_id)] - r.cos) < 1e-12
    # recall of the true nearest neighbor with 2/4 cells probed
    top1 = {r.query_id: r.neighbor_id for r in cosine_topk(emb, q, k=1).collect()}
    hits = sum(1 for r in ann if r.rank == 1 and top1.get(r.query_id) == r.neighbor_id)
    assert hits >= len(top1) * 0.5


def test_chunking_reassembles_to_original(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_small, "documents")
    chunks = chunk_documents(docs, chunk_tokens=16)
    back = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("rebuilt")
    )
    joined = docs.join(back, "doc_id")
    assert joined.filter(F.col("text") != F.col("rebuilt")).count() == 0
    # every chunk except a doc's last is exactly full-size
    from pyspark.sql import Window as W

    last = F.max("chunk_id").over(W.partitionBy("doc_id"))
    short_nonfinal = chunks.withColumn("_last", last).filter(
        (F.col("chunk_id") != F.col("_last")) & (F.col("n_chunk_tokens") != 16)
    )
    assert short_nonfinal.count() == 0


def test_dedup_clusters_chain_propagates(spark):
    from vtb_datafusion_2023_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5}


def test_quantize_int8_roundtrip_error_bound(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import quantize_int8
    from vtb_datafusion_2023_spark.sources.readers import load_table

    emb = load_table(spark, sf_small, "embeddings").limit(200)
    q = quantize_int8(emb)
    err = q.select(
        F.array_max(
            F.zip_with(
                "embedding",
                "q_vec",
                lambda x, v: F.abs(x.cast("double") - v / F.col("q_scale")),
            )
        ).alias("max_err"),
        (F.lit(0.5) / F.col("q_scale") + F.lit(1e-12)).alias("bound"),
        F.array_max(F.transform("q_vec", F.abs)).alias("max_q"),
    )
    assert err.filter(F.col("max_err") > F.col("bound")).count() == 0
    # quantized components stay in int8 range (127/max|x| scaling)
    assert err.filter(F.col("max_q") > 127).count() == 0


def test_modulo_split_is_exhaustive_and_sized(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.filtering import modulo_split
    from vtb_datafusion_2023_spark.sources.readers import load_table

    docs = load_table(spark, sf_small, "documents")
    out = modulo_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    n = docs.count()
    sizes = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(sizes.values()) == n  # every row assigned
    assert set(sizes) == {"train", "val", "test"}
    assert sizes["train"] > sizes["val"] and sizes["train"] > sizes["test"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        modulo_split(docs, {"train": 0.5})


def test_modulo_split_rounding_undershoot_has_no_null_split(spark, sf_small):
    """Three 1/3 weights at denom=100 round to 33+33+33: the residual
    buckets 99.. must land in the LAST split, not split=NULL."""
    from vtb_datafusion_2023_spark.operators.filtering import modulo_split
    from vtb_datafusion_2023_spark.sources.readers import load_table

    docs = load_table(spark, sf_small, "documents")
    out = modulo_split(docs, {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert out.filter(F.col("split").isNull()).count() == 0
    assert out.count() == docs.count()
    tail = out.filter(F.pmod(F.col("doc_id"), F.lit(100)) == 99)
    assert tail.count() > 0 and tail.filter(F.col("split") != "c").count() == 0


def test_blacklist_keeps_null_rows(spark):
    """Reference pandas ~isin keeps NaN rows; a bare Spark ~isin would
    silently drop them (NULL predicate)."""
    from vtb_datafusion_2023_spark.operators.filtering import blacklist

    df = spark.createDataFrame(
        [(1, "A"), (2, None), (3, "B")], "id int, flag string"
    )
    got = sorted(r.id for r in blacklist(df, "flag", "A").collect())
    assert got == [2, 3]


def test_ewma_all_null_leading_frame_is_null_not_error(spark):
    """A user whose first rows are all-NULL values yields an empty
    collect_list frame: must produce NULL ewma (pandas: NaN), not an
    ANSI INVALID_ARRAY_INDEX crash; later rows fold only the frame's
    non-null values (cross-checked against DuckDB's list_filter form)."""
    from vtb_datafusion_2023_spark.operators.windows import with_ewma

    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, None), (1, 3, 4.0), (1, 4, None), (1, 5, 8.0)],
        "user_id int, event_id int, value double",
    )
    rows = {
        r.event_id: r.value_ewma
        for r in with_ewma(df, "user_id", ["event_id"], "value", alpha=0.5, n=3).collect()
    }
    assert rows[1] is None and rows[2] is None
    assert rows[3] == 4.0
    assert rows[4] == 4.0  # frame rows 2..4 -> non-nulls [4.0]
    assert rows[5] == 4.0 * 0.5 + 8.0 * 0.5  # [4.0, 8.0] fold


def test_group_percentiles_ignore_nulls(spark):
    """NULL values must not shift ranks (Spark NULLS FIRST vs DuckDB
    NULLS LAST would diverge) — percentiles are over observed values."""
    import duckdb
    import pandas as pd

    from vtb_datafusion_2023_spark.operators.gstats import (
        group_percentiles,
        group_percentiles_sql,
    )

    pdf = pd.DataFrame(
        {
            "g": ["x"] * 6 + ["y"] * 3,
            "v": [None, 1.0, 2.0, 3.0, 4.0, None, None, None, None],
        }
    )
    df = spark.createDataFrame(pdf)
    got = group_percentiles(df, ["g"], "v", n_amt=1).toPandas().set_index("g")
    # group y has no observed values -> absent entirely
    assert list(got.index) == ["x"]
    assert got.loc["x", "cnt"] == 4  # non-null count
    assert got.loc["x", "p_median"] == 2.5
    con = duckdb.connect()
    con.register("t", pdf)
    oracle = con.execute(
        group_percentiles_sql("t", ["g"], "v", n_amt=1)
    ).df().set_index("g")
    for c in ("cnt", "p_lo", "p_hi", "p_median"):
        assert float(got.loc["x", c]) == float(oracle.loc["x", c])


def test_resize_media_plumbing(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.multimodal import fake_resize, resize_media

    d = docs(spark, sf_small).select(
        F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("payload")
    )
    out = resize_media(d, 8, 4).collect()
    src = {r.media_id: bytes(r.payload) for r in d.collect()}
    assert len(out) == len(src)
    for r in out[:10]:
        assert (r.width, r.height) == (8, 4)
        assert len(bytes(r.payload)) == 32
        assert bytes(r.payload) == fake_resize(src[r.media_id], 8, 4)


def test_orc_roundtrip_pushdown(spark, sf_small, tmp_path):
    from vtb_datafusion_2023_spark.sources.readers import load_table, read_orc
    from vtb_datafusion_2023_spark.sources.writers import write_orc

    li = load_table(spark, sf_small, "lineitem")
    path = str(tmp_path / "li_orc")
    write_orc(li, path)
    back = read_orc(spark, path)
    assert back.count() == li.count()
    assert back.schema == li.schema
    q = back.filter("l_returnflag = 'R'").select("l_orderkey")
    f = q._sc._jvm.PythonSQLUtils.explainString(q._jdf.queryExecution(), "formatted")
    # ORC scan keeps parquet-grade pushdown + pruning
    assert "EqualTo(l_returnflag,R)" in f, f
    read = [ln for ln in f.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read


def test_compact_parquet_reduces_files(spark, sf_small, tmp_path):
    from vtb_datafusion_2023_spark.sources.readers import load_table
    from vtb_datafusion_2023_spark.sources.writers import compact_parquet

    li = load_table(spark, sf_small, "lineitem")
    frag = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(frag)  # the small-files problem
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, out, target_file_mb=512)
    assert n == 1  # sf0.001 lineitem is far below 512MB
    import glob

    assert len(glob.glob(out + "/*.parquet")) == 1
    assert spark.read.parquet(out).count() == li.count()


def test_stratified_sample_fractions(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.filtering import stratified_sample

    docs = load_table(spark, sf_small, "documents")
    fr = {"en": 0.2, "de": 1.0}
    s = stratified_sample(docs, "lang", fr, seed=7)
    # deterministic under reruns
    assert s.count() == stratified_sample(docs, "lang", fr, seed=7).count()
    got = {r["lang"] for r in s.select("lang").distinct().collect()}
    assert got <= set(fr)  # unlisted strata fully dropped
    n_en = docs.filter("lang = 'en'").count()
    s_en = s.filter("lang = 'en'").count()
    assert 0 < s_en < n_en  # downsampled, not empty
    # fraction 1.0 keeps every row of that stratum
    assert s.filter("lang = 'de'").count() == docs.filter("lang = 'de'").count()


def test_csv_robust_drops_corrupt_rows(spark, tmp_path):
    from vtb_datafusion_2023_spark.sources.readers import read_csv_robust

    p = tmp_path / "tx.csv"
    p.write_text(
        "user_id,amt\n"
        "1,10.5\n"
        "not_a_number,oops,extra,cols\n"  # malformed
        "2,20.25\n"
    )
    ok = read_csv_robust(spark, str(p), "user_id long, amt double")
    assert sorted(r["user_id"] for r in ok.collect()) == [1, 2]
    kept = read_csv_robust(spark, str(p), "user_id long, amt double", drop_corrupt=False)
    # quarantine path: the corrupt line survives with its raw text
    bad = kept.filter("_corrupt_record is not null").collect()
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt_record"]


def test_decontaminate_drop_removes_exactly_flagged(spark, sf_small):
    from pyspark.sql import functions as F

    from vtb_datafusion_2023_spark.operators.text import decontaminate, decontaminate_drop
    from vtb_datafusion_2023_spark.sources.readers import load_table

    docs = load_table(spark, sf_small, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = {r.doc_id for r in decontaminate(corpus, bench).collect()}
    kept = {r.doc_id for r in decontaminate_drop(corpus, bench).collect()}
    all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert kept == all_ids - flagged
    assert flagged  # non-vacuous on the synthetic corpus


def test_cap_per_group_bounds_and_determinism(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.filtering import cap_per_group
    from vtb_datafusion_2023_spark.sources.readers import load_table

    docs = load_table(spark, sf_small, "documents")
    capped = cap_per_group(docs, "source", 5, "doc_id")
    counts = {r["source"]: r["n"] for r in capped.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert counts and all(n <= 5 for n in counts.values()), counts
    a = sorted(r.doc_id for r in capped.select("doc_id").collect())
    b = sorted(r.doc_id for r in cap_per_group(docs, "source", 5, "doc_id").select("doc_id").collect())
    assert a == b  # same draw every run


def test_read_parquet_evolved_merges_added_columns(spark, sf_small, tmp_path):
    from vtb_datafusion_2023_spark.sources.readers import load_table, read_parquet_evolved

    docs = load_table(spark, sf_small, "documents").select("doc_id", "lang")
    v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(v1)
    # later writer adds a quality column
    docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality", F.lit(0.5)
    ).write.parquet(v2)
    merged = read_parquet_evolved(spark, v1, v2)
    assert set(merged.columns) == {"doc_id", "lang", "quality"}
    assert merged.count() == docs.count()
    # old files surface NULL for the new column; new files keep values
    assert merged.filter(F.col("quality").isNull()).count() == docs.filter(F.col("doc_id") % 2 == 0).count()
    # pushdown still reaches each file set
    plan = merged.filter(F.col("doc_id") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,2)]" in plan


# ---------------------------------------------------------------------------
# segment dedup / shard assign / bm25 / histogram


def test_segment_dedup_drops_shared_spans_keeps_unique(spark):
    from vtb_datafusion_2023_spark.operators.text import segment_dedup

    boiler = "all rights reserved worldwide"  # 4 tokens = 1 shared segment
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, "iota kappa lambdax mu nu xi omicron pi"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: (r.text_dedup, r.n_segments_kept)
        for r in segment_dedup(df, segment_tokens=4, max_count=1).collect()
    }
    # the boilerplate segment occurs in docs 1 and 2 -> dropped from both
    assert out[1] == ("alpha beta gamma delta", 1)
    assert out[2] == ("epsilon zeta eta theta", 1)
    # doc 3 is untouched (both its segments are unique)
    assert out[3] == ("iota kappa lambdax mu nu xi omicron pi", 2)


def test_segment_dedup_fully_boilerplate_doc_disappears(spark):
    from vtb_datafusion_2023_spark.operators.text import segment_dedup

    rows = [(1, "x y"), (2, "x y"), (3, "p q")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = segment_dedup(df, segment_tokens=2, max_count=1)
    assert {r.doc_id for r in out.collect()} == {3}


def test_shard_assign_positions_are_dense_and_deterministic(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.filtering import shard_assign

    d = load_table(spark, sf_small, "documents")
    a = shard_assign(d, "doc_id", n_shards=4, salt="s1").select(
        "doc_id", "shard", "pos"
    )
    rows = a.collect()
    # every row assigned; positions dense 0..n_s-1 within each shard
    assert len(rows) == d.count()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # deterministic rerun; different salt reorders
    again = {(r.doc_id, r.shard, r.pos) for r in a.collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}
    other = {
        (r.doc_id, r.shard, r.pos)
        for r in shard_assign(d, "doc_id", n_shards=4, salt="s2").collect()
    }
    assert other != again


def test_bm25_prefers_matching_docs(spark):
    from vtb_datafusion_2023_spark.operators.text import bm25_search

    rows = [
        (1, "spark query engine spark spark"),
        (2, "spark engine"),
        (3, "completely unrelated words here"),
        (4, "query engine query"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = bm25_search(df, ["spark", "query"], k=10).collect()
    got = {r.doc_id: r for r in out}
    # doc 3 matches nothing -> absent; doc 1 hits both terms, high tf -> top
    assert 3 not in got
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)][0] == 1
    assert all(r.score > 0 for r in out)


def test_histogram_accounts_for_every_row_and_clamps(spark):
    from vtb_datafusion_2023_spark.operators.profile import histogram

    rows = [(float(v),) for v in [-5.0, 0.0, 12.5, 25.0, 99.9, 250.0, 1e9]]
    df = spark.createDataFrame(rows, "x double")
    out = histogram(df, "x", 0.0, 100.0, 4).collect()
    assert sum(r.n for r in out) == len(rows)
    bins = {r.bin: r for r in out}
    assert bins[0].n == 3 and bins[0].min_val == -5.0  # clamped below
    assert bins[3].n == 3 and bins[3].max_val == 1e9  # clamped above
    assert bins[0].bin_lo == 0.0 and bins[0].bin_hi == 25.0


def _cc_reference(n_nodes, edges):
    """Pure-python union-find ground truth: node -> min id in component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def test_star_contraction_matches_union_find_on_graph_families(spark):
    import random

    from vtb_datafusion_2023_spark.operators.dedup import dedup_clusters

    rng = random.Random(7)
    graphs = {
        "long_chain": (40, [(i, i + 1) for i in range(39)]),
        "two_cliques": (
            12,
            [(a, b) for a in range(6) for b in range(a + 1, 6)]
            + [(a, b) for a in range(6, 12) for b in range(a + 1, 12)],
        ),
        "star": (15, [(0, i) for i in range(1, 15)]),
        "random": (60, [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]),
        "empty": (10, []),
    }
    for name, (n, edge_list) in graphs.items():
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edge_list if a != b] or [(0, 0)],
            "id_a long, id_b long",
        )
        want = _cc_reference(n, edge_list)
        star = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, pairs).collect()}
        assert star == want, (name, star, want)


def test_star_contraction_round_count_logarithmic_on_chain(spark):
    """A 64-node chain (diameter 63) must converge in O(log n) star
    rounds — the reason star contraction is the clustering path — and
    fail LOUDLY below that budget: partial labels (the min id within a
    few hops, not the component's) would silently corrupt dedup."""
    import pytest as _pytest

    from vtb_datafusion_2023_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(docs, pairs, max_iter=10).collect()
    }
    assert out == {i: 0 for i in range(64)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_iter=2)


def test_mask_positive_nulls_nonpositive(spark):
    """F5: m[m > 0] — non-positive cells become NULL so aggregates skip
    them (reference run.py:209-218)."""
    from vtb_datafusion_2023_spark.operators.filtering import mask_positive

    df = spark.createDataFrame(
        [(1, -5.0), (2, 0.0), (3, 2.5), (4, None)], "id long, amt double"
    )
    out = df.select("id", mask_positive("amt").alias("m"))
    got = {r.id: r.m for r in out.collect()}
    assert got == {1: None, 2: None, 3: 2.5, 4: None}
    # aggregate skips masked cells exactly like pandas m[m > 0].mean()
    avg = out.agg(F.avg("m").alias("a")).collect()[0].a
    assert avg == 2.5


def test_frame_sample_plan_explodes_per_payload(spark):
    from vtb_datafusion_2023_spark.operators.multimodal import frame_sample_plan

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdef")), (2, bytearray(b"xy"))],
        "media_id long, payload binary",
    )
    out = frame_sample_plan(df, every_n=30)
    rows = [(r.media_id, r.frame_idx, r.sample_every) for r in out.collect()]
    # one row per stub frame index 0..(len % 5), every_n carried through
    assert all(se == 30 for _, _, se in rows)
    per_media = {}
    for m, idx, _ in rows:
        per_media.setdefault(m, []).append(idx)
    assert per_media == {1: [0, 1], 2: [0, 1, 2]}


def test_minhash_md5_pairs_sound_and_match_xxhash_on_duplicates(spark, sf_small):
    """md5-family LSH pairs are a subset of exact 3-shingle Jaccard pairs
    (verify guarantees precision), and exact duplicates — which collide
    in EVERY band under any hash family — are found by both families."""
    from vtb_datafusion_2023_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_md5_pairs,
        ngram_jaccard_pairs,
    )

    d = docs(spark, sf_small)
    md5p = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_md5_pairs(d, "doc_id", "text", jaccard_threshold=0.2).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2).collect()
    }
    assert set(md5p) <= set(exact) and len(md5p) > 0
    for p, j in md5p.items():
        assert j == exact[p]
    xx = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            d, "doc_id", "text", jaccard_threshold=0.2, shingle_n=3
        ).collect()
    }
    dup_pairs = {p for p, j in exact.items() if j == 1.0}
    assert dup_pairs <= set(md5p) and dup_pairs <= xx


def test_scd2_intervals_semantics(spark, sf_small):
    """SCD2 invariants: per-key intervals tile [first_change, inf) without
    overlap, consecutive rows always change value, exactly one current."""
    from vtb_datafusion_2023_spark.operators.cleaning import scd2_intervals
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, sf_small, "events")
    out = scd2_intervals(ev, ["user_id"], "ts", ["event_type"], ord_cols=["event_id"])
    rows = out.orderBy("user_id", "valid_from").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for series in by_user.values():
        assert sum(1 for r in series if r.is_current) == 1
        assert series[-1].is_current and series[-1].valid_to is None
        for a, b in zip(series, series[1:]):
            assert a.valid_to == b.valid_from  # gapless tiling
            assert a.event_type != b.event_type  # real change points
    # point-in-time correctness: replay any event against the intervals
    ev_rows = ev.orderBy("user_id", "ts", "event_id").collect()
    import bisect

    for r in ev_rows[:500]:
        series = by_user[r.user_id]
        froms = [s.valid_from for s in series]
        i = bisect.bisect_right(froms, r.ts) - 1
        # the interval covering this event's time must carry a value that
        # was set at or before it
        assert i >= 0 and series[i].valid_from <= r.ts


def test_drift_psi_properties(spark, sf_small):
    import math

    from vtb_datafusion_2023_spark.operators.profile import drift_psi
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, sf_small, "events")
    edges = [0.0, 5.0, 20.0, 50.0, 100.0, 250.0, 1000.0]
    # identical samples -> PSI exactly 0 (every term is 0 * 0)
    same = drift_psi(ev, ev, "value", edges).collect()
    assert all(r.psi == 0.0 for r in same)
    assert len(same) == len(edges)  # real bins + NULL bucket
    # shifted sample (values doubled) -> positive PSI
    shifted = drift_psi(
        ev, ev.withColumn("value", F.col("value") * 2), "value", edges
    ).collect()
    psi = shifted[0].psi
    assert psi > 0.01
    # local replay of the formula from the emitted counts
    nb = len(edges)
    ta = sum(r.n_a for r in shifted) + nb
    tb = sum(r.n_b for r in shifted) + nb
    want = sum(
        ((r.n_a + 1) / ta - (r.n_b + 1) / tb)
        * (
            (math.log(r.n_a + 1) - math.log(ta))
            - (math.log(r.n_b + 1) - math.log(tb))
        )
        for r in sorted(shifted, key=lambda r: 999999 if r.bin is None else r.bin)
    )
    assert abs(psi - want) < 1e-12


def test_simhash_md5_sound_and_partition_invariant(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.dedup import (
        simhash_md5_chunks,
        simhash_md5_pairs,
    )
    from vtb_datafusion_2023_spark.sources.readers import load_table

    docs = load_table(spark, sf_small, "documents")
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_md5_pairs(docs, "doc_id", "text").collect()}
    again = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_md5_pairs(docs.repartition(13), "doc_id", "text").collect()
    }
    assert pairs == again
    sigs = {r._id: list(r.sig) for r in simhash_md5_chunks(docs, "doc_id", "text").collect()}
    assert all(0 <= c <= 0xFFFF for s in sigs.values() for c in s)
    for (a, b), h in list(pairs.items())[:50]:
        want = sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
        assert h == want and h <= 8
        # pigeonhole: the pair shares at least one chunk
        assert any(x == y for x, y in zip(sigs[a], sigs[b]))


def test_bigram_surprisal_flags_word_salad(spark, sf_small):
    """On a corpus with real transition structure, scrambling a doc's
    word order (same unigrams) must raise bigram surprisal; plus
    partitioning invariance on the driver corpus (bitwise)."""
    from vtb_datafusion_2023_spark.operators.text import bigram_logprob
    from vtb_datafusion_2023_spark.sources.readers import load_table

    docs = load_table(spark, sf_small, "documents")
    base = {r.doc_id: r.bi_surprisal for r in bigram_logprob(docs).collect()}
    again = {
        r.doc_id: r.bi_surprisal for r in bigram_logprob(docs.repartition(9)).collect()
    }
    assert base == again and len(base) > 0

    # structured corpus: 40 docs of repeating chains; 5 salad docs carry
    # the same words in a scrambled order
    chain = "alpha beta gamma delta " * 8
    rows = [(i, chain.strip()) for i in range(40)]
    salad = "beta alpha delta beta gamma gamma alpha delta " * 4
    rows += [(100 + i, salad.strip()) for i in range(5)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bi_surprisal for r in bigram_logprob(corpus).collect()}
    chain_scores = [out[i] for i in range(40)]
    salad_scores = [out[100 + i] for i in range(5)]
    assert max(chain_scores) < min(salad_scores)


def test_substring_dedup_semantics(spark):
    """First (doc_id, pos) occurrence of a duplicated window survives;
    every later site is removed; overlapping duplicate windows union into
    one span; sub-window docs pass through untouched."""
    from vtb_datafusion_2023_spark.operators.dedup import substring_dedup

    common = "a b c d e f"  # 6 tokens => two overlapping 5-windows
    rows = [
        (1, common + " x y z"),          # canonical first occurrence
        (2, "p q " + common + " r"),     # later copy -> 6 tokens removed
        (3, "u v w"),                    # shorter than the window: untouched
        (4, common),                     # later copy, whole doc removed
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.text_dedup, r.n_removed)
        for r in substring_dedup(df, window_tokens=5).collect()
    }
    assert got[1] == (rows[0][1], 0)      # first occurrence intact
    assert got[2] == ("p q r", 6)         # overlapping windows -> one span
    assert got[3] == ("u v w", 0)
    assert got[4] == ("", 6)              # fully-duplicated doc -> empty


def test_triangles_known_graphs_and_naive_differential(spark):
    from vtb_datafusion_2023_spark.operators.graph import triangles

    def tri(edges):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        return sorted(tuple(r) for r in triangles(df).collect())

    # K4: 4 triangles; edges given in mixed orientation with a dup + self-loop
    k4 = [(1, 2), (2, 1), (1, 3), (1, 4), (3, 2), (2, 4), (3, 4), (3, 3)]
    assert tri(k4) == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]
    # 4-cycle: none
    assert tri([(1, 2), (2, 3), (3, 4), (4, 1)]) == []
    # hub star + one closing rim edge: exactly one triangle through the hub
    star = [(0, i) for i in range(1, 9)] + [(3, 7)]
    assert tri(star) == [(0, 3, 7)]
    # random graph vs naive enumeration
    import itertools
    import random

    rnd = random.Random(9)
    edges = {(a, b) for a in range(12) for b in range(a + 1, 12) if rnd.random() < 0.35}
    naive = sorted(
        (x, y, z)
        for x, y, z in itertools.combinations(range(12), 3)
        if {(x, y), (x, z), (y, z)} <= edges
    )
    assert tri([(a, b) for a, b in edges]) == naive


def test_token_entropy_closed_forms(spark):
    import math

    from vtb_datafusion_2023_spark.operators.text import token_entropy

    rows = [
        (1, "a b c d"),          # uniform over 4 -> ln 4
        (2, "x x x x x"),        # degenerate -> 0
        (3, "a a b"),            # H = ln3 - (2 ln2)/3
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.n_tokens, r.entropy) for r in token_entropy(df).collect()}
    assert got[1] == (4, math.log(4))
    assert got[2] == (5, 0.0)
    assert got[3][0] == 3 and abs(got[3][1] - (math.log(3) - 2 * math.log(2) / 3)) < 1e-15


def test_lm_family_exact_and_inplan_log_agree(spark):
    """The exact (driver-side libm table, bitwise-oracle) and in-plan
    (executor-side JVM F.log, the 100 TB scale path) variants of the LM
    scoring family agree to float tolerance — the guarantee that lets
    the cardinality guard auto-switch without changing results."""
    import random

    from vtb_datafusion_2023_spark.operators.text import (
        bigram_logprob,
        stupid_backoff_logprob,
        token_entropy,
        unigram_logprob,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def cmp(fn, val_col):
        exact = {r.doc_id: r[val_col] for r in fn(df, exact_log=True).collect()}
        inplan = {r.doc_id: r[val_col] for r in fn(df, exact_log=False).collect()}
        assert exact.keys() == inplan.keys()
        for k in exact:
            assert abs(exact[k] - inplan[k]) <= 1e-9 * max(1.0, abs(exact[k])), (
                fn.__name__, k, exact[k], inplan[k]
            )

    cmp(unigram_logprob, "surprisal")
    cmp(bigram_logprob, "bi_surprisal")
    cmp(token_entropy, "entropy")
    cmp(stupid_backoff_logprob, "sb_surprisal")


def test_lm_family_guard_switches_to_inplan(spark):
    """Dropping EXACT_LN_GUARD below the corpus cardinality must flip the
    auto path to in-plan log (no driver ln tables) with tolerant-equal
    results, and the in-plan plan must contain a LOG expression."""
    from vtb_datafusion_2023_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "b c d d d d"), (3, "a c e")],
        "doc_id bigint, text string",
    )
    exact = {r.doc_id: r.surprisal for r in T.unigram_logprob(df, exact_log=True).collect()}
    old = T.EXACT_LN_GUARD
    T.EXACT_LN_GUARD = 1
    try:
        auto = T.unigram_logprob(df)  # cardinality > 1 -> in-plan
        plan = auto._jdf.queryExecution().optimizedPlan().toString()
        assert "LOG" in plan.upper()
        got = {r.doc_id: r.surprisal for r in auto.collect()}
    finally:
        T.EXACT_LN_GUARD = old
    for k in exact:
        assert abs(exact[k] - got[k]) <= 1e-9 * max(1.0, abs(exact[k]))


def test_chunk_overlap_coverage_and_reconstruction(spark):
    """Strided chunking: every window starts at chunk_id*stride, shares
    chunk-stride tokens with its predecessor, covers the doc exactly, and
    stride=chunk_tokens reproduces the disjoint chunker."""
    from vtb_datafusion_2023_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(75))
    df = spark.createDataFrame([(1, words), (2, "a b c")], "doc_id bigint, text string")
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.chunk, r.n_chunk_tokens)
         for r in chunk_documents(df, chunk_tokens=32, stride=16).collect())
    )
    doc1 = [r for r in rows if r[0] == 1]
    # 75 tokens, chunk 32, stride 16 -> ceil(43/16)+1 = 4 windows
    assert [r[1] for r in doc1] == [0, 1, 2, 3]
    for _, cid, chunk, n in doc1:
        toks = chunk.split(" ")
        assert toks[0] == f"w{cid*16}" and n == len(toks)
        assert n == (32 if cid < 3 else 75 - 48)
    # consecutive windows overlap by exactly 16 tokens
    assert doc1[0][2].split(" ")[16:] == doc1[1][2].split(" ")[:16]
    # short doc: single ragged window
    assert [r for r in rows if r[0] == 2] == [(2, 0, "a b c", 3)]
    # stride=default reproduces the old disjoint behavior
    dis = chunk_documents(df, chunk_tokens=32).collect()
    assert {(r.doc_id, r.chunk_id) for r in dis} == {(1, 0), (1, 1), (1, 2), (2, 0)}


def test_hashed_features_stability_and_distribution(spark):
    """Hashing trick: buckets in range, deterministic across runs and
    partitionings, salted per column (same value, different columns ->
    different buckets), reasonably uniform."""
    from vtb_datafusion_2023_spark.operators.projections import hashed_features

    df = spark.range(0, 2000).select(
        (F.col("id") % 50).cast("string").alias("a"), (F.col("id") % 7).alias("b")
    )
    out = hashed_features(df, ["a", "b"], n_buckets=64, crosses=[["a", "b"]])
    pdf = out.toPandas()
    for c in ("hf_a", "hf_b", "hf_a_x_b"):
        assert pdf[c].between(0, 63).all()
    # deterministic under repartition
    out2 = hashed_features(df.repartition(13), ["a", "b"], n_buckets=64, crosses=[["a", "b"]])
    assert sorted(map(tuple, pdf.values.tolist())) == sorted(
        map(tuple, out2.toPandas().values.tolist())
    )
    # column salt: value "3" appears in both a and b but buckets differ
    row = pdf[(pdf.a == "3") & (pdf.b == 3)].iloc[0]
    assert row.hf_a != row.hf_b
    # 50 distinct values over 64 buckets: no bucket should swallow >25%
    assert pdf.groupby("hf_a").size().max() / len(pdf) < 0.25


def test_seasonal_decompose_recovers_planted_cycle(spark):
    """Plant value = base + seasonal(phase) on a regular series: the
    decomposition's seasonal term must recover the planted cycle (up to a
    constant absorbed by the trend) and residuals must vanish away from
    the window edges."""
    import math

    from vtb_datafusion_2023_spark.operators.analytics import seasonal_decompose

    period, n = 6, 120
    cyc = [5.0, -3.0, 0.0, 4.0, -6.0, 0.0]  # zero-mean cycle
    rows = [(1, i, 10.0 + cyc[i % period]) for i in range(n)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    out = {r.event_id: r for r in seasonal_decompose(
        df, "user_id", "event_id", "value", period=period).collect()}
    h = period // 2
    # edges: trend NULL -> residual NULL
    assert out[0].trend is None and out[0].residual is None
    assert out[n - 1].trend is None
    # interior: the centered 7-row mean of a period-6 cycle wobbles a bit,
    # but seasonal+trend reconstruct value to ~the cycle amplitude / period
    for i in range(h + period, n - h - period):
        r = out[i]
        assert abs(r.value - (r.trend + r.seasonal + r.residual)) < 1e-9
        assert abs(r.residual) < 2.0, (i, r.residual)
    # phases cycle correctly
    assert all(out[i].phase == i % period for i in range(n))


def test_stupid_backoff_branch_closed_forms(spark):
    """Each backoff branch against hand-computed values: seen trigram,
    backed-off bigram, backed-off unigram, and OOV."""
    import math

    from vtb_datafusion_2023_spark.operators.text import stupid_backoff_logprob

    train = spark.createDataFrame(
        [(1, "a b c a b d"), (2, "b d e")], "doc_id bigint, text string"
    )
    # train counts: tri: abc=1, bca=1, cab=1, abd=1, bde=1
    #               bi: ab=2, bc=1, ca=1, bd=2, de=1 ; uni: a=3,b=3,c=2,d=2,e=1 N=9
    ev = spark.createDataFrame(
        [
            (10, "a b c"),   # seen trigram: S = c(abc)/c(ab) = 1/2
            (11, "c a e"),   # unseen tri 'cae', unseen bi 'ae' -> 0.4^2*c(e)/9
            (12, "a b e"),   # unseen tri 'abe', seen bi 'be'? no: be unseen -> uni e
            (13, "c b d"),   # unseen tri 'cbd', seen bi 'bd' -> 0.4*c(bd)/c(b)
            (14, "a b zz"),  # OOV w3 -> 0.4^2 * 1/9
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: (r.n_scored, r.sb_surprisal)
           for r in stupid_backoff_logprob(ev, train=train).collect()}
    assert got[10] == (1, -math.log(1 / 2))
    assert abs(got[11][1] - -(2 * math.log(0.4) + math.log(1 / 9))) < 1e-12
    assert abs(got[12][1] - -(2 * math.log(0.4) + math.log(1 / 9))) < 1e-12
    assert abs(got[13][1] - -(math.log(0.4) + math.log(2 / 3))) < 1e-12
    assert abs(got[14][1] - -(2 * math.log(0.4) + math.log(1) - math.log(9))) < 1e-12


def reference_funnel_joins(events, steps, within="7 days", user_col="user_id",
                           ts_col="ts", type_col="event_type"):
    """``analytics.funnel`` as per-step min-ts aggregation joins: step i's
    completion time is the earliest step-i event strictly after step
    i-1's and within the step-1 deadline — one co-partitioned hash
    aggregate + join per step."""
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_0"))
        .withColumn("deadline", F.expr(f"t_0 + interval {within}"))
    )
    rows = [(1, steps[0], cur)]
    for i, step in enumerate(steps[1:], start=2):
        prev_t = f"t_{i - 2}"
        cur = (
            events.filter(F.col(type_col) == step)
            .join(cur, user_col)
            .filter((F.col(ts_col) > F.col(prev_t)) & (F.col(ts_col) <= F.col("deadline")))
            .groupBy(user_col, "deadline")
            .agg(F.min(ts_col).alias(f"t_{i - 1}"))
        )
        rows.append((i, step, cur))
    out = None
    for i, name, df in rows:
        c = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step"), F.lit(name).alias("step_name"), "n_users"
        )
        out = c if out is None else out.unionByName(c)
    return out


def reference_pattern_spans_joins(df, key, ord_col, type_col, steps, max_matches=8):
    """``analytics.pattern_spans`` as a relational frontier-join loop:
    each round advances every key's frontier past its previous match
    with one min-aggregation join per step; rounds = matches found,
    early exit when a round matches nothing."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    ev = df.select(F.col(key), F.col(ord_col).alias("_o"), F.col(type_col).alias("_t"))
    ord_type = df.schema[ord_col].dataType
    frontier = ev.select(key).distinct().withColumn("_prev", F.lit(None).cast(ord_type))
    out = None
    for match_id in range(1, max_matches + 1):
        cur = frontier
        start = None
        for i, s in enumerate(steps):
            nxt = (
                ev.filter(F.col("_t") == s)
                .join(cur.select(key, "_prev"), key)
                .filter(F.col("_prev").isNull() | (F.col("_o") > F.col("_prev")))
                .groupBy(key)
                .agg(F.min("_o").alias("_next"))
            )
            cur = nxt.withColumnRenamed("_next", "_prev")
            if i == 0:
                start = nxt.withColumnRenamed("_next", "_start")
        matches = (
            start.join(cur.withColumnRenamed("_prev", "_end"), key)
            .select(
                key,
                F.lit(match_id).alias("match_id"),
                F.col("_start").alias("start_ord"),
                F.col("_end").alias("end_ord"),
            )
            .localCheckpoint(eager=True)
        )
        if matches.limit(1).count() == 0:
            break
        out = matches if out is None else out.unionByName(matches)
        frontier = matches.select(key, F.col("end_ord").alias("_prev"))
    if out is None:
        schema = StructType(
            [
                StructField(key, df.schema[key].dataType, True),
                StructField("match_id", IntegerType(), True),
                StructField("start_ord", ord_type, True),
                StructField("end_ord", ord_type, True),
            ]
        )
        return df.sparkSession.createDataFrame([], schema)
    return out


def test_pattern_spans_skip_till_next_match_semantics(spark):
    from vtb_datafusion_2023_spark.operators.analytics import pattern_spans

    rows = [
        # uid 1: a@1 .. b@3 c@4 | a@5 b@6 (extra b@7) c@8 -> (1,4), (5,8)
        (1, 1, "a"), (1, 2, "x"), (1, 3, "b"), (1, 4, "c"),
        (1, 5, "a"), (1, 6, "b"), (1, 7, "b"), (1, 8, "c"),
        (2, 1, "b"), (2, 2, "c"),                 # no 'a': no match
        (3, 1, "a"), (3, 2, "c"), (3, 3, "b"), (3, 4, "c"),  # c before b skipped
        (4, 1, "a"), (4, 2, "b"),                 # incomplete: no match
    ]
    df = spark.createDataFrame(rows, "uid bigint, ord bigint, typ string")
    got = sorted(
        (r.uid, r.match_id, r.start_ord, r.end_ord)
        for r in pattern_spans(df, "uid", "ord", "typ", ["a", "b", "c"]).collect()
    )
    assert got == [(1, 1, 1, 4), (1, 2, 5, 8), (3, 1, 1, 4)]
    # max_matches truncates deterministically
    many = [(9, i, "abc"[i % 3]) for i in range(30)]
    df2 = spark.createDataFrame(many, "uid bigint, ord bigint, typ string")
    caps = pattern_spans(df2, "uid", "ord", "typ", ["a", "b", "c"], max_matches=2).collect()
    assert len(caps) == 2 and {r.match_id for r in caps} == {1, 2}


def test_pattern_spans_automaton_matches_joins(spark):
    """The one-pass SQL aggregate-HOF automaton and the relational
    frontier-join reference are row-identical — including on a skewed
    key (one key holding most of the events) and interleaved false
    starts."""
    import random

    rng = random.Random(42)
    rows = []
    # hot key 1: 3000 events; keys 2..40: ~20 events each
    for uid, n in [(1, 3000)] + [(u, 20) for u in range(2, 41)]:
        for i in range(n):
            rows.append((uid, i, rng.choice(["a", "b", "c", "x", "y"])))
    df = spark.createDataFrame(rows, "uid bigint, ord bigint, typ string").repartition(8)

    def norm(res):
        return sorted((r.uid, r.match_id, r.start_ord, r.end_ord) for r in res.collect())

    from vtb_datafusion_2023_spark.operators.analytics import pattern_spans

    sql = norm(pattern_spans(df, "uid", "ord", "typ", ["a", "b", "c"], max_matches=12))
    joins = norm(
        reference_pattern_spans_joins(df, "uid", "ord", "typ", ["a", "b", "c"], max_matches=12)
    )
    assert sql == joins
    assert len(sql) > 0


def test_pattern_spans_max_events_per_key_guard(spark):
    """The max_events_per_key memory guard: prefix-stable semantics
    (trim == automaton over the first-N-events prefix; a no-op cap
    changes nothing), row-identical to the join reference, and
    plan-pinned to add NO exchange (the trim window and the groupBy
    share one hash shuffle on the key)."""
    import random

    from vtb_datafusion_2023_spark.operators.analytics import _trim_per_key, pattern_spans

    rng = random.Random(7)
    rows = []
    # hot key 1: 2000 events; keys 2..20: ~20 each
    for uid, n in [(1, 2000)] + [(u, 20) for u in range(2, 21)]:
        for i in range(n):
            rows.append((uid, i, rng.choice(["a", "b", "c", "x"])))
    df = spark.createDataFrame(rows, "uid bigint, ord bigint, typ string").repartition(8)

    def norm(res):
        return sorted((r.uid, r.match_id, r.start_ord, r.end_ord) for r in res.collect())

    steps = ["a", "b", "c"]
    full = norm(pattern_spans(df, "uid", "ord", "typ", steps, max_matches=50))
    # a cap larger than any key is a semantic no-op
    assert norm(
        pattern_spans(df, "uid", "ord", "typ", steps, max_matches=50, max_events_per_key=10**6)
    ) == full
    # a binding cap: the join reference agrees on the trimmed input
    capped = norm(
        pattern_spans(df, "uid", "ord", "typ", steps, max_matches=50, max_events_per_key=300)
    )
    trimmed = _trim_per_key(df, "uid", "ord", "typ", 300)
    assert capped == norm(
        reference_pattern_spans_joins(trimmed, "uid", "ord", "typ", steps, max_matches=50)
    )
    # prefix semantics: trimmed result == full automaton over each key's
    # first 300 events (ord, typ) — computed independently here
    by_key: dict = {}
    for uid, i, t in rows:
        by_key.setdefault(uid, []).append((i, t))
    prefix_rows = [
        (uid, i, t)
        for uid, evs in by_key.items()
        for i, t in sorted(evs)[:300]
    ]
    pref_df = spark.createDataFrame(prefix_rows, "uid bigint, ord bigint, typ string")
    assert capped == norm(pattern_spans(pref_df, "uid", "ord", "typ", steps, max_matches=50))
    # the hot key (2000 events, cap 300) lost its tail matches
    hot_full = [r for r in full if r[0] == 1]
    hot_capped = [r for r in capped if r[0] == 1]
    assert 0 < len(hot_capped) < len(hot_full)
    assert hot_capped == hot_full[: len(hot_capped)]
    # memory-guard plan contract: the trim adds NO exchange — one hash
    # shuffle on the key serves both the window sort and the groupBy
    plan = (
        pattern_spans(df, "uid", "ord", "typ", steps, max_events_per_key=300)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_max_events_per_key_guard(spark):
    """funnel's max_events_per_key: no-op cap preserves results, a
    binding cap stays row-identical to the join reference over the
    trimmed step events."""
    import datetime as dt
    import random

    from vtb_datafusion_2023_spark.operators.analytics import _trim_per_key, funnel

    rng = random.Random(3)
    t0 = dt.datetime(2023, 1, 1)
    rows = []
    for uid in range(100):
        for _ in range(rng.randint(0, 40)):
            rows.append(
                (uid, t0 + dt.timedelta(hours=rng.randint(0, 24 * 10)),
                 rng.choice(["view", "click", "purchase", "noise"]))
            )
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")

    def norm(res):
        return sorted((r.step, r.step_name, r.n_users) for r in res.collect())

    steps = ["view", "click", "purchase"]
    assert norm(funnel(df, steps, max_events_per_key=10**6)) == norm(funnel(df, steps))
    capped_scan = norm(funnel(df, steps, max_events_per_key=5))
    trimmed = _trim_per_key(
        df.filter(F.col("event_type").isin(steps)), "user_id", "ts", "event_type", 5
    )
    capped_joins = norm(reference_funnel_joins(trimmed, steps))
    assert capped_scan == capped_joins


def test_pattern_spans_nulls_and_duplicate_ords(spark):
    """NULL event types never match a step (null-safe <=>), NULL ords
    are ignored like the join formulation's strict > would, and
    duplicate ord values across types follow the strict-ordering
    contract — identical rows from the automaton and the join
    reference."""
    from vtb_datafusion_2023_spark.operators.analytics import pattern_spans

    rows = [
        (1, 1, "a"), (1, 1, "b"), (1, 2, "b"), (1, 2, None), (1, 3, "c"),
        (2, None, "a"), (2, 4, "a"), (2, 5, "b"), (2, 6, "c"),
        (3, 7, None), (3, None, None),
    ]
    df = spark.createDataFrame(rows, "uid bigint, ord bigint, typ string")

    def norm(res):
        return sorted((r.uid, r.match_id, r.start_ord, r.end_ord) for r in res.collect())

    sql = norm(pattern_spans(df, "uid", "ord", "typ", ["a", "b", "c"]))
    joins = norm(reference_pattern_spans_joins(df, "uid", "ord", "typ", ["a", "b", "c"]))
    assert sql == joins
    # uid 1: b@1 is NOT after a@1 (strict) -> b@2 is; uid 2 ignores the
    # null-ord 'a' and matches (4, 6); uid 3 has no typed events
    assert sql == [(1, 1, 1, 3), (2, 1, 4, 6)]


def test_funnel_scan_matches_joins(spark):
    """The one-pass aggregate-HOF funnel and the per-step min-ts join
    reference are row-identical — including ts ties at
    step boundaries, users who skip step 1, and deadline expiry."""
    import datetime as dt
    import random

    from vtb_datafusion_2023_spark.operators.analytics import funnel

    rng = random.Random(11)
    t0 = dt.datetime(2023, 1, 1)
    rows = []
    for uid in range(200):
        for _ in range(rng.randint(0, 12)):
            rows.append(
                (
                    uid,
                    t0 + dt.timedelta(hours=rng.randint(0, 24 * 20)),
                    rng.choice(["view", "click", "purchase", "noise"]),
                )
            )
    # deliberate tie: click at exactly the first view's timestamp
    rows += [(900, t0, "view"), (900, t0, "click"), (900, t0 + dt.timedelta(days=1), "click")]
    # deadline expiry: click arrives 8 days after first view
    rows += [(901, t0, "view"), (901, t0 + dt.timedelta(days=8), "click")]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")

    def norm(res):
        return sorted((r.step, r.step_name, r.n_users) for r in res.collect())

    scan = norm(funnel(df, ["view", "click", "purchase"], within="7 days"))
    joins = norm(reference_funnel_joins(df, ["view", "click", "purchase"], within="7 days"))
    assert scan == joins
    # tie rejected (strict >), expiry rejected (<= deadline): user 900
    # reaches click via the next-day event, 901 stops at view
    assert scan[0][2] > 0


def test_pattern_spans_zero_match_schema_derived(spark):
    """Zero-match results must carry the SAME schema as non-empty ones
    for a string key and timestamp ord (previously hardcoded bigint)."""
    from vtb_datafusion_2023_spark.operators.analytics import pattern_spans

    df = spark.sql(
        "select 'u1' as uid, timestamp'2023-01-01 00:00:00' as ts, 'b' as typ"
    )
    out = pattern_spans(df, "uid", "ts", "typ", ["a", "b"])
    assert out.count() == 0
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {
        "uid": "string",
        "match_id": "int",
        "start_ord": "timestamp",
        "end_ord": "timestamp",
    }
    # non-empty result for the same shapes: schema must union cleanly
    df2 = spark.sql(
        "select * from values ('u1', timestamp'2023-01-01 00:00:00', 'a'),"
        " ('u1', timestamp'2023-01-01 01:00:00', 'b') as t(uid, ts, typ)"
    )
    out2 = pattern_spans(df2, "uid", "ts", "typ", ["a", "b"])
    assert out.unionByName(out2).count() == 1


def test_funnel_null_ts_step1_counted_all_strategies(spark):
    """A user whose ONLY step-1 events carry NULL timestamps still counts
    at step 1 (the join reference's groupBy+min yields a t_0=NULL row,
    and so does the SQL oracle); NULL-ts events never advance the ordered
    chain.  The scan used to filter them out entirely."""
    from vtb_datafusion_2023_spark.operators.analytics import funnel

    df = spark.sql(
        """
        select * from values
          (1L, timestamp'2023-01-01 00:00:00', 'view'),
          (1L, timestamp'2023-01-01 01:00:00', 'click'),
          (2L, cast(null as timestamp), 'view'),
          (3L, cast(null as timestamp), 'view'),
          (3L, timestamp'2023-01-02 00:00:00', 'click'),
          (4L, cast(null as timestamp), 'click')
        as t(user_id, ts, event_type)
        """
    )

    def norm(res):
        return sorted((r.step, r.step_name, r.n_users) for r in res.collect())

    scan = norm(funnel(df, ["view", "click"], within="7 days"))
    joins = norm(reference_funnel_joins(df, ["view", "click"], within="7 days"))
    assert scan == joins
    # users 1, 2, 3 have a view row (null ts included); only user 1 chains
    # to click (user 3's click cannot be compared against a NULL t_0)
    assert scan == [(1, "view", 3), (2, "click", 1)]


def test_steps_literal_backslash_safe(spark):
    """Step names containing backslashes must survive the SQL-literal
    round trip: Spark string literals interpret escape sequences, so a
    bare backslash silently corrupted the automaton comparisons while
    the Column-API join reference matched the raw string."""
    from vtb_datafusion_2023_spark.operators.analytics import funnel, pattern_spans

    df = spark.sql(
        r"""
        select * from values
          ('u1', timestamp'2023-01-01 00:00:00', 'a\\b'),
          ('u1', timestamp'2023-01-01 01:00:00', 'c')
        as t(uid, ts, typ)
        """
    )
    steps = [r"a\b", "c"]
    assert df.filter("typ = 'a\\\\b'").count() == 1  # fixture sanity
    assert pattern_spans(df, "uid", "ts", "typ", steps).count() == 1
    assert reference_pattern_spans_joins(df, "uid", "ts", "typ", steps).count() == 1

    res = {r.step: r.n_users for r in funnel(
        df, steps, within="7 days", user_col="uid", ts_col="ts", type_col="typ"
    ).collect()}
    assert res == {1: 1, 2: 1}


def test_incremental_minhash_duplicate_batch_rows_collapse(spark, sf_small):
    """An at-least-once redelivery duplicates batch rows; the verify must
    not multiply its join pairs (output row count, not just pair set,
    stays identical to the clean batch)."""
    from vtb_datafusion_2023_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_table,
    )

    d = docs(spark, sf_small)
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    kw = dict(num_perm=64, bands=16, shingle_n=3, jaccard_threshold=0.3)
    index = minhash_band_table(old, "doc_id", "text", num_perm=64, bands=16, shingle_n=3)
    clean = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_pairs(new, index, old, "doc_id", "text", **kw).collect()
    )
    doubled = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_pairs(
            new.unionByName(new), index, old, "doc_id", "text", **kw
        ).collect()
    )
    assert doubled == clean and len(clean) > 0
    # md5/array family: banding's per-id min-agg absorbs duplicates, the
    # verify-side distinct is the only guard — must hold the same way
    kw5 = dict(num_perm=16, bands=4, jaccard_threshold=0.2, hash_family="md5")
    from vtb_datafusion_2023_spark.operators.dedup import minhash_md5_band_table

    idx5 = minhash_md5_band_table(old, "doc_id", "text", num_perm=16, bands=4, shingle_n=3)
    clean5 = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_pairs(new, idx5, old, "doc_id", "text", **kw5).collect()
    )
    doubled5 = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_pairs(
            new.unionByName(new), idx5, old, "doc_id", "text", **kw5
        ).collect()
    )
    assert doubled5 == clean5 and len(clean5) > 0


def test_bigram_pmi_matches_python_reference(spark):
    from collections import Counter
    import math

    from vtb_datafusion_2023_spark.operators.text import bigram_pmi

    rows = [
        (1, "new york new york city"),
        (2, "new york is a city"),
        (3, "a city in new york"),
        (4, "york new haven city"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.w1, r.w2): (r.c_ab, r.pmi)
        for r in bigram_pmi(df, min_count=2).collect()
    }

    uni: Counter = Counter()
    big: Counter = Counter()
    for _, text in rows:
        tk = text.split(" ")
        uni.update(tk)
        big.update(zip(tk, tk[1:]))
    n_u, n_b = sum(uni.values()), sum(big.values())
    want = {}
    for (a, b), c in big.items():
        if c >= 2:
            want[(a, b)] = (
                c,
                ((((math.log(c) - math.log(n_b)) - math.log(uni[a]))
                  - math.log(uni[b])) + math.log(n_u)) + math.log(n_u),
            )
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1], k  # bitwise: same libm, same op order
    # "new york" collocates: observed co-occurrence beats independence
    assert want[("new", "york")][1] > 0


def test_bigram_pmi_exact_and_inplan_paths_agree(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.text import bigram_pmi

    d = load_table(spark, sf_small, "documents")
    exact = {
        (r.w1, r.w2): r.pmi for r in bigram_pmi(d, min_count=3, exact_log=True).collect()
    }
    inplan = {
        (r.w1, r.w2): r.pmi for r in bigram_pmi(d, min_count=3, exact_log=False).collect()
    }
    assert set(exact) == set(inplan) and exact
    for k in exact:
        assert abs(exact[k] - inplan[k]) < 1e-12


def test_negative_sample_contract(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.filtering import negative_sample

    d = load_table(spark, sf_small, "documents")
    ids = {r.doc_id for r in d.select("doc_id").collect()}
    src = {r.doc_id: r.source for r in d.select("doc_id", "source").collect()}
    out = negative_sample(d, id_col="doc_id", k=4, salt="neg", exclude_col="source")
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 <= r.j < 4
        assert r.neg_id != r.anchor_id          # no self-pairs
        assert r.neg_id in ids                  # negatives exist in the corpus
        assert r.neg_source == src[r.neg_id]
        assert r.neg_source != src[r.anchor_id]  # same-source rejected
    # at most k negatives per anchor, (anchor, j) unique
    keys = [(r.anchor_id, r.j) for r in rows]
    assert len(keys) == len(set(keys))
    # deterministic rerun; partitioning-independent; salt = independent draw
    a = {(r.anchor_id, r.j, r.neg_id) for r in rows}
    b = {
        (r.anchor_id, r.j, r.neg_id)
        for r in negative_sample(
            d.repartition(7), id_col="doc_id", k=4, salt="neg", exclude_col="source"
        ).collect()
    }
    assert a == b
    c = {
        (r.anchor_id, r.j, r.neg_id)
        for r in negative_sample(
            d, id_col="doc_id", k=4, salt="neg2", exclude_col="source"
        ).collect()
    }
    assert c != a


def test_canonicalize_url_edge_cases(spark):
    from vtb_datafusion_2023_spark.operators.text import canonicalize_url

    cases = [
        # (input, expected canonical)
        ("HTTP://WWW.Ex.COM:80/a/b/?utm_source=x&z=1&a=2#f", "http://ex.com/a/b?a=2&z=1"),
        ("https://Ex.com:443/", "https://ex.com/"),
        ("https://ex.com", "https://ex.com/"),
        ("https://ex.com/path///", "https://ex.com/path"),
        ("https://ex.com/?utm_source=1&utm_medium=2&fbclid=3&gclid=4", "https://ex.com/"),
        ("http://ex.com:8080/x", "http://ex.com:8080/x"),  # non-default port kept
        ("https://ex.com/CaseSensitive/Path", "https://ex.com/CaseSensitive/Path"),
        ("https://www.ex.com/a?b=2&a=1", "https://ex.com/a?a=1&b=2"),
        ("https://ex.com/a#only-fragment", "https://ex.com/a"),
        # tracking params match case-insensitively on the NAME, and a
        # bare fbclid (no '=') is stripped too
        ("https://ex.com/a?UTM_SOURCE=x&z=1", "https://ex.com/a?z=1"),
        ("https://ex.com/a?fbclid", "https://ex.com/a"),
        ("https://ex.com/a?GCLID=9&a=1", "https://ex.com/a?a=1"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i int, url string")
    got = {r.i: r.c for r in df.select("i", canonicalize_url("url").alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_url_dedup_groups_and_keeps_min_id(spark):
    from vtb_datafusion_2023_spark.operators.text import url_dedup

    rows = [
        (1, "https://ex.com/a?x=1&utm_source=t"),
        (2, "HTTPS://WWW.EX.COM:443/a/?x=1"),
        (3, "https://ex.com/b"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r.url_canon: (r.doc_id, r.n_dupes) for r in url_dedup(df, "url", "doc_id").collect()}
    assert out == {
        "https://ex.com/a?x=1": (1, 2),
        "https://ex.com/b": (3, 1),
    }


def test_proximity_pairs_complete_vs_bruteforce(spark):
    """Grid-bucketed proximity join finds EXACTLY the brute-force pair
    set — including pairs straddling cell boundaries (the 3x3 expansion
    guarantee) — and each pair exactly once."""
    from vtb_datafusion_2023_spark.operators.spatial import proximity_pairs

    pts = [
        (1, 0.0, 0.0), (2, 9.99, 0.0),      # same-radius, adjacent cells
        (3, 10.01, 0.0),                    # crosses the cell boundary from 2
        (4, 19.0, 19.0), (5, 21.0, 21.0),   # diagonal-neighbor cells
        (6, 500.0, 500.0),                  # isolated
        (7, 0.0, 9.5), (8, 0.0, 10.5),      # vertical boundary
    ]
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    got = {(r.id_a, r.id_b) for r in proximity_pairs(df, "id", "x", "y", 10.0).collect()}
    want = {
        (a, b)
        for ai, (a, xa, ya) in enumerate(pts)
        for (b, xb, yb) in pts[ai + 1:]
        if (xa - xb) ** 2 + (ya - yb) ** 2 <= 100.0
    }
    assert got == want and (2, 3) in got and (4, 5) in got and (7, 8) in got
    rows = proximity_pairs(df, "id", "x", "y", 10.0).collect()
    assert len(rows) == len(got)  # exactly-once: no duplicate candidates


def test_markov_transitions_tiny_sequence(spark):
    import datetime as dt

    from vtb_datafusion_2023_spark.operators.analytics import markov_transitions

    t0 = dt.datetime(2020, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> b
        (1, t0, 1, "a"), (1, t0 + dt.timedelta(seconds=1), 2, "b"),
        (1, t0 + dt.timedelta(seconds=2), 3, "a"),
        (2, t0, 4, "a"), (2, t0 + dt.timedelta(seconds=1), 5, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_id bigint, event_type string")
    got = {(r.from_type, r.to_type): (r.n, r.p) for r in markov_transitions(df).collect()}
    # from 'a': two transitions, both to 'b'; from 'b': one transition
    # (user 2's trailing 'b' has no successor and contributes nothing)
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}
    # rows P(.|from) sum to 1 on real data
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = markov_transitions(ev).collect()
    by_from: dict = {}
    for r in out:
        by_from.setdefault(r.from_type, 0.0)
        by_from[r.from_type] += r.p
    assert all(abs(s - 1.0) < 1e-9 for s in by_from.values())


def test_ohlc_bars_match_pandas_reference(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.analytics import ohlc_bars
    from vtb_datafusion_2023_spark.sources.readers import load_table

    ev = load_table(spark, sf_small, "events")
    got = {
        (r.event_type, r.bucket): (r.open, r.close, r.high, r.low, r.n)
        for r in ohlc_bars(ev, keys=["event_type"]).collect()
    }
    pdf = ev.select("event_type", "ts", "event_id", "value").toPandas()
    pdf["bucket"] = pdf["ts"].dt.floor("h")
    want = {}
    for (et, bk), g in pdf.groupby(["event_type", "bucket"]):
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        v = g["value"].astype(float)
        want[(et, bk.to_pydatetime())] = (
            float(v.iloc[0]), float(v.iloc[-1]), float(v.max()), float(v.min()), len(g)
        )
    assert got == want


def test_interleave_sources_order_properties(spark, sf_small):
    from collections import Counter

    from vtb_datafusion_2023_spark.operators.filtering import interleave_sources

    # supply proportional to the weights, so all sources exhaust together
    # and stride proportionality holds over every prefix (a real corpus's
    # tail is whatever source remains after the others run dry)
    rows_in = (
        [(i, "src0") for i in range(150)]
        + [(1000 + i, "src1") for i in range(100)]
        + [(2000 + i, "src2") for i in range(50)]
        + [(9999, "other")]
    )
    d = spark.createDataFrame(rows_in, "doc_id bigint, source string")
    w = {"src0": 3, "src1": 2, "src2": 1}
    out = interleave_sources(d, weights=w, n_shards=2, salt="mix")
    rows = out.collect()
    assert rows
    # only weighted sources survive; pos dense 0..n-1 per shard
    by_shard: dict = {}
    for r in rows:
        assert r.source in w
        by_shard.setdefault(r.shard, []).append((r.pos, r.source))
    for shard, items in by_shard.items():
        items.sort()
        assert [p for p, _ in items] == list(range(len(items)))
        # stride scheduling: in any prefix, each source's share stays
        # within one stride of its weight share
        seen: Counter = Counter()
        total_w = sum(w.values())
        for i, (_, src) in enumerate(items, 1):
            seen[src] += 1
            for s, ws in w.items():
                expected = i * ws / total_w
                assert abs(seen[s] - expected) <= total_w, (shard, i, s)
    # deterministic under repartitioning; salt is an independent epoch
    a = {(r.doc_id, r.shard, r.pos) for r in rows}
    b = {(r.doc_id, r.shard, r.pos)
         for r in interleave_sources(d.repartition(7), weights=w, n_shards=2, salt="mix").collect()}
    assert a == b
    c = {(r.doc_id, r.shard, r.pos)
         for r in interleave_sources(d, weights=w, n_shards=2, salt="mix2").collect()}
    assert c != a


def test_prefix_keep_never_tighter_than_verify():
    """The AllPairs prefix bound (ADVICE r5 fix): for every (threshold,
    doc size) the epsilon-adjusted ceil must keep a prefix at least as
    long as the exact rational bound |d| - s_min + 1, where s_min is the
    smallest integer overlap with s/|d| >= t — a too-short prefix can
    prune a pair the verify predicate (and the oracle) keeps.  Checked
    exhaustively over a dense threshold grid x sizes 1..400 with
    fractions.Fraction as the exact reference."""
    from fractions import Fraction

    import math

    def prefix_keep_py(threshold: float, sz: int) -> int:
        # mirrors operators.dedup._prefix_keep's arithmetic
        return sz - math.ceil(threshold * sz - 1e-9) + 1

    thresholds = [i / 100 for i in range(1, 100)] + [0.3333333333333333, 0.9999]
    for t in thresholds:
        ft = Fraction(t)  # the exact rational the float threshold denotes
        for sz in range(1, 401):
            s_min = math.ceil(ft * sz)  # exact: smallest s with s/sz >= t
            exact_keep = sz - s_min + 1
            got = prefix_keep_py(t, sz)
            assert got >= exact_keep, (t, sz, got, exact_keep)
            # and never looser than one extra shingle (perf guard)
            assert got <= exact_keep + 1, (t, sz, got, exact_keep)


def test_jaccard_alpha_never_tighter_than_verify():
    """The PPJoin minimal-overlap bound (r7): for every (threshold,
    |A|, |B|) the epsilon-adjusted ceil(t/(1+t)·(|A|+|B|)) must sit at
    or below the exact rational s_min — the smallest integer overlap
    with s/(|A|+|B|-s) >= t — or the position/length filters could
    prune a pair the verify division (and the oracle) keeps.  Exact
    reference via fractions.Fraction, like the _prefix_keep sweep."""
    import math
    from fractions import Fraction

    def alpha_py(threshold: float, s: int) -> int:
        # mirrors operators.dedup._jaccard_alpha's arithmetic
        return math.ceil(threshold / (1.0 + threshold) * s - 1e-9)

    thresholds = [i / 100 for i in range(1, 100)] + [0.3333333333333333, 0.9999]
    for t in thresholds:
        ft = Fraction(t)
        for s in range(2, 801):  # s = |A| + |B|
            # exact smallest integer overlap with ov/(s-ov) >= ft
            s_min = math.ceil(ft * s / (1 + ft))
            got = alpha_py(t, s)
            assert got <= s_min, (t, s, got, s_min)
            # perf guard: at most one below the exact bound
            assert got >= s_min - 1, (t, s, got, s_min)
        # length bound: every qualifying (|A|, |B|) pair has
        # min >= ceil(t*max) exactly (overlap <= min, >= t*union >=
        # t*max) — the float ceil with epsilon must never exceed it
        for mx in range(1, 401):
            exact_floor = math.ceil(ft * mx)  # smallest admissible min
            got_len = math.ceil(t * mx - 1e-9)  # mirrors the operator
            assert got_len <= exact_floor, (t, mx, got_len, exact_floor)
            assert got_len >= exact_floor - 1, (t, mx, got_len, exact_floor)


def test_position_filter_output_invariant(spark, sf_small):
    """PPJoin position/length pruning must not change the verified
    output of either AllPairs operator — at a low threshold (alpha
    rounding exercised hard) and at the operator defaults — against the
    brute-force shingle-set join."""
    from vtb_datafusion_2023_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    d = docs(spark, sf_small)
    for thr, ng in ((0.3, 3), (0.6, 1)):
        on = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(d, "doc_id", "text", n=ng, threshold=thr).collect()
        }
        assert on == reference_shingle_pairs(d, ng, thr) and len(on) > 0, (thr, ng)
    c_on = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(d, "doc_id", "text", n=3, threshold=0.7).collect()
    }
    assert c_on == reference_shingle_pairs(d, 3, 0.7, "containment") and len(c_on) > 0


def test_planted_corpus_offset_guard_fires_on_collision(spark, sf_small, monkeypatch):
    """_PLANTED_OFFSET collision guard (ADVICE r6): if real doc_ids ever
    reach the planted-id offset, the in-plan raise_error must turn the
    silent corpus corruption (identical on Spark and oracle — the gate
    would stay green) into a loud failure.  Normal-scale corpus passes
    through unchanged."""
    import pytest
    from pyspark.sql import functions as F

    import vtb_datafusion_2023_spark.suite.datapipe as dp

    ok = dp._planted_corpus(spark, sf_small)
    assert ok.agg(F.max("doc_id")).first()[0] >= dp._PLANTED_OFFSET  # planted ids minted
    orig = dp.T
    monkeypatch.setattr(
        dp, "T",
        lambda s, d, t: orig(s, d, t).withColumn(
            "doc_id", F.col("doc_id") + F.lit(dp._PLANTED_OFFSET)
        ),
    )
    with pytest.raises(Exception, match="planted corpus"):
        dp._planted_corpus(spark, sf_small).agg(F.max("doc_id")).collect()


def test_priority_sample_matches_numpy_reference(spark, sf_small):
    """Selection set, tau, and every w_hat must equal a literal numpy
    re-derivation of Duffield-Lund-Thorup priority sampling from the
    same md5 coin — pins both the estimator algebra and the exact
    IEEE priority arithmetic."""
    import hashlib

    import numpy as np
    from vtb_datafusion_2023_spark.operators.filtering import priority_sample
    from vtb_datafusion_2023_spark.suite.datapipe import T

    docs = T(spark, sf_small, "documents").select("doc_id", "n_chars")
    rows = docs.collect()
    k = 25

    def coin(i):
        return int(hashlib.md5(f"{i}:ps".encode()).hexdigest()[:8], 16)

    q = {
        r.doc_id: np.float64(r.n_chars) * np.float64(4294967296.0)
        / np.float64(coin(r.doc_id) + 1)
        for r in rows
    }
    ranked = sorted(rows, key=lambda r: (-q[r.doc_id], r.doc_id))
    tau = q[ranked[k].doc_id] if len(ranked) > k else 0.0
    expect = {
        r.doc_id: (r.n_chars, max(np.float64(r.n_chars), tau)) for r in ranked[:k]
    }

    got = {
        r.doc_id: (r.w, r.w_hat)
        for r in priority_sample(docs, "n_chars", k=k, salt="ps").collect()
    }
    assert got == expect


def test_priority_sample_small_input_keeps_all_with_w_hat_equal_w(spark):
    """n <= k: no (k+1)-th priority exists, tau = 0, so every row
    survives carrying exactly its own weight (the estimator degenerates
    to the exact sum)."""
    from vtb_datafusion_2023_spark.operators.filtering import priority_sample

    df = spark.createDataFrame(
        [(i, 10 * (i + 1)) for i in range(7)], "doc_id long, w_in long"
    )
    out = priority_sample(df, "w_in", k=20, id_col="doc_id").collect()
    assert len(out) == 7
    assert all(float(r.w_hat) == float(r.w) for r in out)


def test_priority_sample_nan_weights_match_window_formulation(spark):
    """NaN weights: Spark orders NaN GREATER than any double (first
    under DESC) and `greatest` propagates it.  The driver-side tau
    epilogue must reproduce the replaced unpartitioned-window plan
    bit-for-bit — including deterministic NaN ranking (Python's native
    sort on NaN keys is order-dependent, which is exactly the bug this
    pins against)."""
    import math

    from vtb_datafusion_2023_spark.operators.filtering import priority_sample

    k = 3
    df = spark.createDataFrame(
        [
            (1, float("nan")),
            (2, 100.0),
            (3, None),
            (4, 7.0),
            (5, 9000.0),
            (6, float("nan")),
        ],
        "doc_id long, w double",
    )
    df.createOrReplaceTempView("ps_nan_input")
    # The pre-epilogue window formulation, verbatim Spark semantics.
    expect_rows = spark.sql(
        f"""
        WITH q AS (
          SELECT doc_id, w,
                 w * 4294967296.0 /
                 (CAST(conv(substring(md5(concat(CAST(doc_id AS string), ':ps')), 1, 8),
                            16, 10) AS bigint) + 1) AS _q
          FROM ps_nan_input
        ),
        top AS (SELECT * FROM q ORDER BY _q DESC, doc_id ASC LIMIT {k + 1}),
        t AS (
          SELECT *,
                 CASE WHEN count(*) OVER () = {k + 1}
                      THEN min(_q) OVER () ELSE 0.0 END AS tau,
                 row_number() OVER (ORDER BY _q DESC, doc_id ASC) AS rn
          FROM top
        )
        SELECT doc_id, w, greatest(CAST(w AS double), tau) AS w_hat
        FROM t WHERE rn <= {k}
        """
    ).collect()
    got_rows = priority_sample(df, "w", k=k, id_col="doc_id", salt="ps").collect()

    def key(rs):
        return {
            r.doc_id: tuple(
                "nan" if isinstance(v, float) and math.isnan(v) else v
                for v in (r.w, r.w_hat)
            )
            for r in rs
        }

    assert key(got_rows) == key(expect_rows)
    # Both NaN-weight rows must be in the sample (NaN outranks 9000.0).
    assert {1, 6} <= set(key(got_rows))


def test_priority_sample_partition_invariant(spark, sf_small):
    """The sample is a pure function of (id, weight, salt): any
    repartitioning yields the identical (id, w, w_hat) set."""
    from vtb_datafusion_2023_spark.operators.filtering import priority_sample
    from vtb_datafusion_2023_spark.suite.datapipe import T

    docs = T(spark, sf_small, "documents").select("doc_id", "n_chars")
    a = {tuple(r) for r in priority_sample(docs, "n_chars", k=40).collect()}
    b = {
        tuple(r)
        for r in priority_sample(docs.repartition(17, "doc_id"), "n_chars", k=40).collect()
    }
    assert a == b and len(a) == 40


def test_canonical_pick_elects_max_quality_min_id(spark):
    """Hand-built clusters: argmax quality wins; equal quality ->
    smallest id; member counts include every labeled doc; singleton
    clusters elect themselves."""
    from vtb_datafusion_2023_spark.operators.dedup import canonical_pick

    docs = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (4, 10), (5, 70)],
        "doc_id long, quality long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        "doc_id long, cluster_id long",
    )
    out = {
        r.cluster_id: (r.canonical_id, r.n_members, r.canonical_quality)
        for r in canonical_pick(docs, clusters, "quality").collect()
    }
    # cluster 1: quality tie 90 between ids 2 and 3 -> id 2
    assert out == {1: (2, 3, 90), 4: (5, 2, 70)}


def test_contamination_report_fractions_and_zero_hit_docs(spark):
    """Hand-built corpora: known per-eval-doc overlap fractions, clean
    docs present with contamination 0.0, and fraction denominators are
    DISTINCT grams (the repeated trigram counts once)."""
    from vtb_datafusion_2023_spark.operators.text import contamination_report

    corpus = spark.createDataFrame(
        [(100, "a b c d"), (101, "x y z w")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (1, "a b c q r s"),        # grams: 'a b c','b c q','c q r','q r s' -> 1/4 hit
            (2, "p q r"),              # 1 gram, no hits -> 0.0
            (3, "a b c d"),            # 'a b c','b c d' -> 2/2
            (4, "a b c a b c"),        # distinct grams: 'a b c','b c a','c a b' -> 1/3
        ],
        "doc_id long, text string",
    )
    out = {
        r.bench_id: (r.n_grams, r.n_hit, r.contamination)
        for r in contamination_report(corpus, bench).collect()
    }
    assert out == {
        1: (4, 1, 0.25),
        2: (1, 0, 0.0),
        3: (2, 2, 1.0),
        4: (3, 1, 1.0 / 3.0),
    }


def test_priority_sample_per_group_matches_numpy_reference(spark, sf_small):
    """Per-group selection, per-group tau, and every w_hat must equal a
    literal numpy re-derivation from the same md5 coin — including
    groups smaller than k (tau = 0, w_hat = w)."""
    import hashlib
    from collections import defaultdict

    import numpy as np
    from vtb_datafusion_2023_spark.operators.filtering import (
        priority_sample_per_group,
    )
    from vtb_datafusion_2023_spark.suite.datapipe import T

    docs = T(spark, sf_small, "documents").select("source", "doc_id", "n_chars")
    rows = docs.collect()
    k = 7

    def coin(i):
        return int(hashlib.md5(f"{i}:ps".encode()).hexdigest()[:8], 16)

    q = {
        r.doc_id: np.float64(r.n_chars) * np.float64(4294967296.0)
        / np.float64(coin(r.doc_id) + 1)
        for r in rows
    }
    groups = defaultdict(list)
    for r in rows:
        groups[r.source].append(r)
    expect = {}
    for src, members in groups.items():
        ranked = sorted(members, key=lambda r: (-q[r.doc_id], r.doc_id))
        tau = q[ranked[k].doc_id] if len(ranked) > k else np.float64(0.0)
        for r in ranked[:k]:
            expect[(src, r.doc_id)] = (r.n_chars, float(max(np.float64(r.n_chars), tau)))

    got = {
        (r.source, r.doc_id): (r.w, r.w_hat)
        for r in priority_sample_per_group(
            docs, "n_chars", k=k, group_col="source"
        ).collect()
    }
    assert got == expect


def test_priority_sample_per_group_plans_window_group_limit(spark, sf_small):
    """The rank <= k+1 filter must trigger Catalyst's WindowGroupLimit
    rewrite — per-task (k+1)-row heaps before the exchange are the
    whole skew story."""
    from vtb_datafusion_2023_spark.operators.filtering import (
        priority_sample_per_group,
    )
    from vtb_datafusion_2023_spark.suite.datapipe import T

    docs = T(spark, sf_small, "documents").select("source", "doc_id", "n_chars")
    p = priority_sample_per_group(docs, "n_chars", k=5, group_col="source")
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_word_shingles_unigram_fast_path_matches_slice_reference(spark, sf_small):
    """r9: word_shingles(n=1) collapses to array_distinct(split(...)) —
    16x cheaper than the generic per-position slice+array_join build.
    Pin string-identical output (elements AND first-occurrence order)
    against the original slice construction on a real corpus plus the
    edge shapes (empty text, single token, all-duplicate tokens)."""
    from pyspark.sql import functions as F

    from vtb_datafusion_2023_spark.operators.dedup import word_shingles

    def slice_reference(text, n):
        toks = F.split(F.col(text), " ")
        k = F.size(toks) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
        return F.array_distinct(grams)

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    edge = spark.createDataFrame(
        [("",), ("x",), ("a b",), ("a a a",), ("b a b a c",)], "text string"
    )
    for frame in (docs, edge):
        for n in (1, 2, 3):
            bad = (
                frame.select(
                    word_shingles("text", n).alias("a"),
                    slice_reference("text", n).alias("b"),
                )
                .filter(F.expr("a <> b or (a is null) <> (b is null)"))
                .count()
            )
            assert bad == 0, f"n={n}: fast path diverges from slice reference"


def test_lag_autocorr_matches_pandas(spark, sf_small):
    """Per-user lag-1 autocorrelation must match pandas Series.autocorr
    on the identically-ordered series (float tolerance: pandas uses raw
    double moments, the engine uses exact decimal sums)."""
    import math

    import pandas as pd
    from vtb_datafusion_2023_spark.operators.analytics import lag_autocorr
    from vtb_datafusion_2023_spark.suite.datapipe import T

    events = T(spark, sf_small, "events")
    got = {
        r.user_id: (r.n_pairs, r.autocorr)
        for r in lag_autocorr(events, "value", "user_id", ("ts", "event_id")).collect()
    }
    pdf = events.select("user_id", "ts", "event_id", "value").toPandas()
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    checked = 0
    for uid, g in pdf.groupby("user_id"):
        s = g["value"].reset_index(drop=True)
        if len(s) < 2:
            assert uid not in got
            continue
        expect = s.autocorr(lag=1)
        n_pairs, r = got[uid]
        assert n_pairs == len(s) - 1
        if math.isnan(expect):
            assert r is None
        else:
            assert r is not None and abs(r - expect) < 1e-9, (uid, r, expect)
        checked += 1
    assert checked > 10


def test_lag_autocorr_single_exchange(spark, sf_small):
    """The lag window and the per-user aggregate share one user_id hash
    partitioning — exactly one exchange, no Python workers."""
    from vtb_datafusion_2023_spark.operators.analytics import lag_autocorr
    from vtb_datafusion_2023_spark.suite.datapipe import T

    events = T(spark, sf_small, "events")
    p = lag_autocorr(events, "value", "user_id", ("ts", "event_id"))._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning(user_id") == 1, p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in p


def test_lag_autocorr_constant_series_is_null(spark):
    from vtb_datafusion_2023_spark.operators.analytics import lag_autocorr

    df = spark.createDataFrame(
        [(1, i, i, 5.0) for i in range(6)] + [(2, i, i, float(i)) for i in range(6)],
        "user_id long, ts long, event_id long, value double",
    )
    rows = {r.user_id: r for r in lag_autocorr(df, "value", "user_id", ("ts", "event_id")).collect()}
    assert rows[1].autocorr is None  # zero variance -> NULL (pandas: NaN)
    assert abs(rows[2].autocorr - 1.0) < 1e-12  # perfectly linear -> r = 1


def test_split_sentences_hand_cases(spark):
    """Terminator stays attached; indices enumerate before the empty
    filter; docs without boundaries come back whole."""
    from vtb_datafusion_2023_spark.operators.text import split_sentences

    df = spark.createDataFrame(
        [
            (1, "alpha beta. gamma delta! eps"),
            (2, "no boundary here"),
            (3, "tail punct."),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.sent_idx): r.sentence
        for r in split_sentences(df).collect()
    }
    assert got == {
        (1, 0): "alpha beta.",
        (1, 1): "gamma delta!",
        (1, 2): "eps",
        (2, 0): "no boundary here",
        (3, 0): "tail punct.",
    }


def test_mrl_truncate_matches_numpy(spark, sf_small):
    """Unit norm, correct prefix values, and fidelity = ||x16||/||x||
    against a literal numpy re-derivation (same left-fold order)."""
    import numpy as np
    from vtb_datafusion_2023_spark.operators.similarity import mrl_truncate
    from vtb_datafusion_2023_spark.suite.datapipe import T

    emb = T(spark, sf_small, "embeddings").limit(50)
    rows = emb.collect()
    got = {r.vec_id: (list(r.unit_vec), r.fidelity) for r in mrl_truncate(emb, 16).collect()}
    for r in rows:
        x = np.array(r.embedding, dtype=np.float64)
        # left-fold in declared order == np cumulative add for these sizes
        n16 = np.sqrt(np.add.reduce(x[:16] * x[:16]))
        nfull = np.sqrt(np.add.reduce(x * x))
        unit, fid = got[r.vec_id]
        assert np.allclose(unit, x[:16] / n16, rtol=0, atol=1e-12)
        assert abs(fid - n16 / nfull) < 1e-12
        assert abs(np.linalg.norm(unit) - 1.0) < 1e-9


def test_trend_slope_matches_numpy_polyfit(spark, sf_small):
    """Per-user OLS slope/intercept must match numpy lstsq on the same
    (whole-hour, value) pairs (float tolerance: numpy uses raw double
    moments, the engine exact decimal sums)."""
    import numpy as np
    from vtb_datafusion_2023_spark.operators.analytics import trend_slope
    from vtb_datafusion_2023_spark.suite.datapipe import T

    events = T(spark, sf_small, "events")
    got = {
        r.user_id: (r.n_events, r.slope_per_hour, r.intercept)
        for r in trend_slope(events, "value", "user_id", "ts", 1704067200).collect()
    }
    pdf = events.select("user_id", "ts", "value").toPandas()
    pdf["x"] = ((pdf["ts"].astype("int64") // 10**9 - 1704067200) // 3600).astype(float)
    checked = 0
    for uid, g in pdf.groupby("user_id"):
        n, slope, icept = got[uid]
        assert n == len(g)
        x, y = g["x"].to_numpy(), g["value"].to_numpy()
        if np.ptp(x) == 0:
            assert slope is None and icept is None
            continue
        m, b = np.polyfit(x, y, 1)
        assert abs(slope - m) < 1e-7 and abs(icept - b) < 1e-6, (uid, slope, m)
        checked += 1
    assert checked > 10


def test_trend_slope_single_aggregate_no_window(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.analytics import trend_slope
    from vtb_datafusion_2023_spark.suite.datapipe import T

    events = T(spark, sf_small, "events")
    p = trend_slope(events)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning(user_id") == 1, p
    assert "Window" not in p and "SortMergeJoin" not in p


def test_sentence_dedup_hand_cases(spark):
    """A corpus-repeated sentence vanishes from every doc; survivors
    reassemble in order; all-boilerplate docs disappear."""
    from vtb_datafusion_2023_spark.operators.text import sentence_dedup

    df = spark.createDataFrame(
        [
            (1, "unique alpha. shared footer. tail one"),
            (2, "other beta! shared footer. tail two"),
            (3, "shared footer."),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text_dedup, r.n_sentences_kept) for r in sentence_dedup(df).collect()}
    assert got == {
        1: ("unique alpha. tail one", 2),
        2: ("other beta! tail two", 2),
    }


def test_partial_ols_merge_is_shard_invariant_bitwise(spark, sf_small):
    """Merging 2 shards, 5 shards, or 1 shard of OLS state must finish
    to IDENTICAL slope/intercept bits (exact integer states), and match
    a from-scratch single aggregate."""
    from vtb_datafusion_2023_spark.functions.temporal import hours_since
    from vtb_datafusion_2023_spark.operators.rollup import (
        merge_ols_partials,
        ols_estimate,
        partial_ols,
    )
    from vtb_datafusion_2023_spark.suite.datapipe import T

    ev = (
        T(spark, sf_small, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            hours_since(F.col("ts"), 1704067200).cast("double").alias("hx"),
            "value",
        )
    )

    def fit(shards):
        parts = [partial_ols(s, ["user_id"], "hx", "value") for s in shards]
        out = ols_estimate(merge_ols_partials(parts, ["user_id"]))
        return {r.user_id: (r.n, r.slope, r.intercept) for r in out.collect()}

    one = fit([ev])
    two = fit([ev.filter(F.col("event_id") < 500), ev.filter(F.col("event_id") >= 500)])
    five = fit([ev.filter(F.col("event_id") % 5 == i) for i in range(5)])
    assert one == two == five
    assert len(one) > 10


def test_partial_ols_matches_numpy(spark):
    """The finished fit equals numpy polyfit on hand data (1e-6
    quantization tolerance from the fixed-point mode)."""
    import numpy as np
    from vtb_datafusion_2023_spark.operators.rollup import (
        merge_ols_partials,
        ols_estimate,
        partial_ols,
    )

    rows = [(1, float(i), 3.25 * i + 7.5 + (0.11 if i % 2 else -0.11)) for i in range(20)]
    df = spark.createDataFrame(rows, "k long, x double, y double")
    out = ols_estimate(
        merge_ols_partials([partial_ols(df, ["k"], "x", "y")], ["k"])
    ).collect()[0]
    x = np.array([r[1] for r in rows])
    y = np.array([r[2] for r in rows])
    m, b = np.polyfit(x, y, 1)
    assert abs(out.slope - m) < 1e-5 and abs(out.intercept - b) < 1e-4


def test_mrl_rerank_with_full_coarse_k_equals_bruteforce(spark, sf_small):
    """With k_coarse >= corpus size the funnel prunes nothing, so the
    result must EQUAL brute-force cosine top-k bit-for-bit."""
    from vtb_datafusion_2023_spark.operators.similarity import (
        cosine_topk,
        mrl_rerank_topk,
    )
    from vtb_datafusion_2023_spark.suite.datapipe import T

    emb = T(spark, sf_small, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    exact = {tuple(r) for r in cosine_topk(emb, qs, k=5).collect()}
    funnel = {
        tuple(r)
        for r in mrl_rerank_topk(emb, qs, dims=16, k_coarse=n, k=5).collect()
    }
    assert funnel == exact and len(exact) == 25


def test_cusum_drift_matches_python_recurrence(spark, sf_small):
    """cusum_max must equal the literal clamped recurrence
    S_t = max(0, S_{t-1} + (x_t - mu)) evaluated in Python over the
    identically-ordered series (tolerance: the engine subtracts the
    exact-decimal drift line; Python accumulates in raw doubles)."""
    from vtb_datafusion_2023_spark.operators.analytics import cusum_drift
    from vtb_datafusion_2023_spark.suite.datapipe import T

    events = T(spark, sf_small, "events").filter(F.col("value").isNotNull())
    got = {r.user_id: (r.n, r.cusum_max) for r in cusum_drift(events).collect()}
    pdf = (
        events.select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    checked = 0
    for uid, g in pdf.groupby("user_id"):
        xs = g["value"].tolist()
        mu = sum(xs) / len(xs)
        s = best = 0.0
        for x in xs:
            s = max(0.0, s + (x - mu))
            best = max(best, s)
        n, cmax = got[uid]
        assert n == len(xs)
        assert abs(cmax - best) < 1e-6, (uid, cmax, best)
        checked += 1
    assert checked > 10


def test_cusum_drift_flags_planted_level_shift(spark):
    """A series with a mid-stream level shift must score far above an
    i.i.d.-flat one of the same mean."""
    from vtb_datafusion_2023_spark.operators.analytics import cusum_drift

    flat = [(1, i, i, 10.0 + (1 if i % 2 else -1)) for i in range(40)]
    shift = [(2, i, i, 5.0 if i < 20 else 15.0) for i in range(40)]
    df = spark.createDataFrame(
        flat + shift, "user_id long, ts long, event_id long, value double"
    )
    got = {r.user_id: r.cusum_max for r in cusum_drift(df).collect()}
    assert got[2] > 10 * max(got[1], 1.0), got


def test_holt_linear_matches_python_recurrence(spark, sf_small):
    """level/trend/forecast must equal the literal Holt recurrence in
    Python over the identically-ordered series — exact, since both fold
    the same IEEE ops in the same order."""
    from vtb_datafusion_2023_spark.operators.analytics import holt_linear
    from vtb_datafusion_2023_spark.suite.datapipe import T

    events = T(spark, sf_small, "events").filter(F.col("value").isNotNull())
    got = {
        r.user_id: (r.n, r.level, r.trend, r.forecast_next)
        for r in holt_linear(events, alpha=0.5, beta=0.25).collect()
    }
    pdf = (
        events.select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    checked = 0
    for uid, g in pdf.groupby("user_id"):
        xs = g["value"].tolist()
        l, b = xs[0], 0.0
        for x in xs[1:]:
            nl = 0.5 * x + 0.5 * (l + b)
            nb = 0.25 * (nl - l) + 0.75 * b
            l, b = nl, nb
        n, level, trend, fc = got[uid]
        assert n == len(xs)
        assert level == l and trend == b and fc == l + b, (uid, level, l)
        checked += 1
    assert checked > 10


def test_holt_linear_beta_zero_degenerates_to_ewma_level(spark):
    """beta=0 freezes the trend at 0, so the level is exactly the EWMA
    recurrence — pins the state wiring."""
    from vtb_datafusion_2023_spark.operators.analytics import holt_linear

    xs = [10.0, 14.0, 9.0, 22.0, 17.0]
    df = spark.createDataFrame(
        [(1, i, i, x) for i, x in enumerate(xs)],
        "user_id long, ts long, event_id long, value double",
    )
    r = holt_linear(df, alpha=0.25, beta=0.0).collect()[0]
    l = xs[0]
    for x in xs[1:]:
        l = 0.25 * x + 0.75 * (l + 0.0)
    assert r.trend == 0.0 and r.level == l and r.n == 5


def test_holt_linear_single_point(spark):
    from vtb_datafusion_2023_spark.operators.analytics import holt_linear

    df = spark.createDataFrame(
        [(1, 0, 0, 42.5)], "user_id long, ts long, event_id long, value double"
    )
    r = holt_linear(df).collect()[0]
    assert (r.level, r.trend, r.forecast_next) == (42.5, 0.0, 42.5)


def test_link_jaccard_hand_graph(spark):
    """4-cycle + chord: known neighbor sets give exact Jaccard values;
    an edge with zero common neighbors scores 0."""
    from vtb_datafusion_2023_spark.operators.graph import link_jaccard

    # square 1-2-3-4-1 plus chord 1-3; plus pendant 5-1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)], "src long, dst long"
    )
    got = {(r.a, r.b): (r.common, r.deg_a, r.deg_b, r.jaccard) for r in link_jaccard(edges).collect()}
    # N(1)={2,3,4,5} N(2)={1,3} N(3)={1,2,4} N(4)={1,3} N(5)={1}
    assert got[(1, 2)] == (1, 4, 2, 1 / 5)   # common {3}
    assert got[(1, 3)] == (2, 4, 3, 2 / 5)   # common {2,4}
    assert got[(1, 4)] == (1, 4, 2, 1 / 5)   # common {3}
    assert got[(2, 3)] == (1, 2, 3, 1 / 4)   # common {1}
    assert got[(3, 4)] == (1, 3, 2, 1 / 4)   # common {1}
    assert got[(1, 5)] == (0, 4, 1, 0.0)     # pendant: none


def test_simhash_idf_planted_complete_and_partition_invariant(spark, sf_small):
    """IDF-weighted SimHash: (a) on a corpus where docs share a heavy
    stopword core, the unweighted signature collapses but the idf one
    separates planted near-dups from random docs; (b) chunks=8 @
    max_hamming=7 candidates are pigeonhole-COMPLETE — the pair output
    equals brute-force hamming over the signatures; (c) bitwise
    partitioning invariance."""
    from vtb_datafusion_2023_spark.operators.dedup import (
        simhash_idf_chunks,
        simhash_idf_pairs,
    )

    # 30 base docs: a shared high-frequency core (idf ~ 0) + 200 per-doc
    # rare-tail tokens; 10 planted near-dups copy a base doc dropping 4
    # tail tokens (2% edit).  Tail length matters: each differing token
    # shifts a bit's vote by ~1 idf unit against a sqrt(|tail|)-unit
    # random walk, so short docs scatter past any radius (measured:
    # 12-token tails put planted pairs at hamming 7-20, 200-token tails
    # at 1-6 vs random >= 19).
    core = "the of and to in for on with as by " * 5
    rows = []
    for i in range(30):
        tail = " ".join(f"rare{i}_{j}" for j in range(200))
        rows.append((i, (core + tail).strip()))
        if i < 10:
            near_tail = " ".join(f"rare{i}_{j}" for j in range(196))
            rows.append((1000 + i, (core + near_tail).strip()))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_idf_pairs(docs, "doc_id", "text").collect()
    }
    planted = {(i, 1000 + i) for i in range(10)}
    assert set(pairs) <= planted, f"false positives: {set(pairs) - planted}"
    assert len(pairs) >= 6, f"recall collapsed: found only {sorted(pairs)}"

    # completeness: brute-force hamming over the signatures finds no
    # pair within the radius that the pigeonhole missed
    sigs = {r._id: list(r.sig) for r in simhash_idf_chunks(docs, "doc_id", "text").collect()}
    ids = sorted(sigs)
    brute = {}
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            h = sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
            if h <= 7:
                brute[(a, b)] = h
    assert pairs == brute

    again = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_idf_pairs(docs.repartition(11), "doc_id", "text").collect()
    }
    assert pairs == again
    # (the saturation contrast vs UNWEIGHTED simhash is a corpus
    # property, pinned by measurement on the zipf fixtures — 878k pairs
    # at hamming<=16 vs this head's planted-only output; see the
    # operator docstring and the bench SF_OVERRIDE note)


def test_simhash_idf_duplicate_pair_and_validation(spark):
    """An exact duplicate pairs at hamming 0 and nothing else pairs, and
    the parameter guards raise loudly."""
    import pytest

    from vtb_datafusion_2023_spark.operators.dedup import (
        simhash_idf_chunks,
        simhash_idf_pairs,
    )

    # exact duplicate -> identical token multiset -> identical signature
    # (hamming 0); the distinct third doc must not pair
    dup = " ".join(f"tok{j}" for j in range(40))
    other = " ".join(f"oth{j}" for j in range(40))
    rows = [(0, dup), (1, dup), (2, other)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = simhash_idf_pairs(docs, "doc_id", "text").collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in got} == {(0, 1, 0)}

    with pytest.raises(ValueError, match="chunks"):
        simhash_idf_chunks(docs, "doc_id", "text", chunks=7)
    with pytest.raises(ValueError, match="distinct"):
        simhash_idf_chunks(docs, "doc_id", "text", max_distinct_dfs=1).collect()


def test_shingled_table_n_must_match_consumer(spark, sf_small):
    """A shingle_array_table records its n; a consumer with another n
    refuses it instead of scoring trigram sets as 5-grams, and a matching
    table gives the same pairs and bands as the consumer's own build."""
    import pytest

    from vtb_datafusion_2023_spark.operators.dedup import (
        minhash_md5_band_table,
        ngram_jaccard_pairs,
        shingle_array_table,
    )

    d = docs(spark, sf_small)
    sh3 = shingle_array_table(d, "doc_id", "text", n=3)
    assert sh3.schema["_sh"].metadata == {"shingle_n": 3}
    assert sh3.localCheckpoint(eager=True).schema["_sh"].metadata == {"shingle_n": 3}
    with pytest.raises(ValueError, match="shingle_n=3, expected 5"):
        ngram_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.5, shingled=sh3)
    with pytest.raises(ValueError, match="shingle_n=3, expected 5"):
        minhash_md5_band_table(d, "doc_id", "text", shingle_n=5, shingled=sh3)
    bare = d.select(F.col("doc_id").alias("_id"), F.split("text", " ").alias("_sh"))
    with pytest.raises(ValueError, match="shingle_n=None"):
        ngram_jaccard_pairs(d, "doc_id", "text", n=3, shingled=bare.withColumn("_sz", F.size("_sh")))

    def pairs(df):
        return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())

    shared = pairs(ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.3, shingled=sh3))
    assert shared == pairs(ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.3))
    assert len(shared) > 0
    bands = sorted(minhash_md5_band_table(d, "doc_id", "text", shingle_n=3, shingled=sh3).collect())
    assert bands == sorted(minhash_md5_band_table(d, "doc_id", "text", shingle_n=3).collect())
