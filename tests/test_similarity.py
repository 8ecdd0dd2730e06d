"""Embedding near-dup: the banded-LSH default path vs the exact all-pairs
verifier — soundness (subset, exact cosines), recall bound, and the
plan-shape guarantee that the default never plans a nested-loop join."""

from __future__ import annotations

import pyspark.sql.functions as F

from vtb_datafusion_2023_spark.operators.similarity import cosine_near_pairs
from vtb_datafusion_2023_spark.sources.readers import load_table


def _pairs(df):
    return {(r.id_a, r.id_b): r.cos for r in df.collect()}


def test_banded_pairs_sound_and_recall_bounded(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    exact = _pairs(cosine_near_pairs(emb, threshold=0.4, exact=True))
    # fixture geometry (see operator docstring): loose threshold + 500
    # vectors -> r=4, b=8
    banded = _pairs(cosine_near_pairs(emb, threshold=0.4, n_planes=4, n_bands=8))
    # soundness: every banded pair is a true pair with the identical
    # exact cosine (verify step is exact; LSH only prunes candidates)
    for pair, cos in banded.items():
        assert pair in exact
        assert cos == exact[pair]
    # recall: the fixture geometry must keep a useful fraction of true
    # pairs on the driver's embedding fixture
    assert len(exact) > 0
    assert len(banded) >= 0.5 * len(exact), (len(banded), len(exact))


def test_banded_path_plans_no_nested_loop_join(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    plan = (
        cosine_near_pairs(emb, threshold=0.4, n_planes=4, n_bands=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the exact verifier IS the nested-loop shape (that's why it's opt-in)
    exact_plan = (
        cosine_near_pairs(emb, threshold=0.4, exact=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoopJoin" in exact_plan or "CartesianProduct" in exact_plan


def test_banded_pairs_deterministic_across_partitionings(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    one = _pairs(cosine_near_pairs(emb.repartition(1), threshold=0.4, n_planes=4, n_bands=8))
    many = _pairs(cosine_near_pairs(emb.repartition(13), threshold=0.4, n_planes=4, n_bands=8))
    assert one == many and len(one) > 0


def test_higher_band_count_raises_recall(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings").limit(150)
    exact = _pairs(cosine_near_pairs(emb, threshold=0.4, exact=True))
    few = _pairs(cosine_near_pairs(emb, threshold=0.4, n_planes=4, n_bands=2))
    many = _pairs(cosine_near_pairs(emb, threshold=0.4, n_planes=4, n_bands=12))
    assert set(few) <= set(exact) and set(many) <= set(exact)
    assert len(many) >= len(few)


def _topk(df):
    return {(r.query_id, r.rank): (r.neighbor_id, r.cos) for r in df.collect()}


def test_knn_join_blocked_matches_bruteforce_bitwise(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import (
        cosine_topk,
        knn_join_blocked,
    )

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = _topk(cosine_topk(emb, q, k=5))
    gemm = _topk(knn_join_blocked(emb, q, k=5))
    assert gemm == brute and len(gemm) > 0  # bitwise: cos included


def test_knn_join_blocked_partitioning_invariant(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    one = _topk(knn_join_blocked(emb.repartition(1), q, k=5))
    many = _topk(knn_join_blocked(emb.repartition(11), q, k=5))
    assert one == many and len(one) > 0


def test_knn_join_blocked_plans_no_nested_loop(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    plan = (
        knn_join_blocked(emb, q, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the candidate set joins back as the BROADCAST side; the corpus scan
    # must not shuffle
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# Product quantization


def _load_emb(spark, sf_dir):
    from vtb_datafusion_2023_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "embeddings")


def _pq_sub_dists(vec_sql, sub, subdim, cb_sql):
    """Distances of one subvector to every centroid of its codebook:
    left-fold of squared differences in index order (the oracle's)."""
    return (
        f"transform(element_at({cb_sql}, {sub + 1}), cv -> "
        f"aggregate(zip_with(slice({vec_sql}, {sub * subdim + 1}, {subdim}), cv, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"cast(0 as double), (a, b) -> a + b))"
    )


def _pq_codes_sql(vec_sql, m, subdim, cb):
    per_sub = []
    for sub in range(m):
        d = _pq_sub_dists(vec_sql, sub, subdim, cb)
        per_sub.append(f"(array_position({d}, array_min({d})) - 1)")
    return F.expr("array(" + ", ".join(per_sub) + ")").cast("array<int>")


def _pq_adist_sql(lut_col, codes_col, m):
    return F.expr(
        f"aggregate(transform(sequence(1, {m}), s -> "
        f"element_at(element_at({lut_col}, s), element_at({codes_col}, s) + 1)), "
        f"cast(0 as double), (a, b) -> a + b)"
    )


def _pq_luts_sql(vec_sql, m, subdim, cb):
    return F.expr("array(" + ", ".join(_pq_sub_dists(vec_sql, s, subdim, cb) for s in range(m)) + ")")


def reference_pq_encode_expr(df, id_col="vec_id", vec_col="embedding", m=8, k=16, subdim=8):
    """``pq_encode`` as pure Catalyst array expressions (zero Python)."""
    from vtb_datafusion_2023_spark.operators.similarity import pq_formula_codebook_sql

    cb = pq_formula_codebook_sql(m, k, subdim)
    return df.select(id_col, _pq_codes_sql(vec_col, m, subdim, cb).alias("codes"))


def reference_pq_topk_expr(corpus, queries, k_neighbors=5, m=8, k=16, subdim=8):
    """``pq_topk`` as pure Catalyst: expression codes, a broadcast query
    LUT, and the per-pair ADC fold."""
    from pyspark.sql import Window

    from vtb_datafusion_2023_spark.operators.similarity import pq_formula_codebook_sql

    cb = pq_formula_codebook_sql(m, k, subdim)
    codes = reference_pq_encode_expr(corpus, m=m, k=k, subdim=subdim).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), _pq_luts_sql("embedding", m, subdim, cb).alias("qlut")
    )
    scored = codes.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "adist", _pq_adist_sql("qlut", "codes", m)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "adist")
    )


def reference_lsh_pq_topk_expr(corpus, queries, k=5, n_planes=16, rerank=20, m=8,
                               n_centroids=16, subdim=8):
    """``lsh_pq_topk`` as pure Catalyst: JVM bucket signatures, expression
    codes and LUTs, an ADC shortlist window, then the exact cosine
    rerank."""
    from pyspark.sql import Window

    from vtb_datafusion_2023_spark.operators.similarity import (
        cosine,
        lsh_signature,
        pq_formula_codebook_sql,
    )

    cb = pq_formula_codebook_sql(m, n_centroids, subdim)
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv"))
    c = c.withColumn("_bkt", lsh_signature(F.col("_cv"), n_planes)).withColumn(
        "_codes", _pq_codes_sql("_cv", m, subdim, cb)
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    q = q.withColumn("_bkt", lsh_signature(F.col("_qv"), n_planes)).withColumn(
        "_qlut", _pq_luts_sql("_qv", m, subdim, cb)
    )
    cand = (
        c.join(F.broadcast(q), "_bkt")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_adist", _pq_adist_sql("_qlut", "_codes", m))
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.col("_adist").asc(), F.col("neighbor_id").asc())
    short = cand.withColumn("_rr", F.row_number().over(w_adc)).filter(F.col("_rr") <= rerank)
    rescored = short.withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    w_fin = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w_fin))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def test_pq_encode_arrow_path_is_shuffle_free(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import pq_encode

    plan = (
        pq_encode(_load_emb(spark, sf_small))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # numpy map on the scan partition


def test_pq_arrow_and_expr_paths_bitwise_equal(spark, sf_small):
    from pyspark.sql import functions as F

    from vtb_datafusion_2023_spark.operators.similarity import pq_encode, pq_topk

    emb = _load_emb(spark, sf_small)
    a = [tuple(r) for r in pq_encode(emb).orderBy("vec_id").collect()]
    e = [tuple(r) for r in reference_pq_encode_expr(emb).orderBy("vec_id").collect()]
    assert a == e
    qs = emb.filter(F.col("vec_id") < 4)
    ta = [tuple(r) for r in pq_topk(emb, qs, 5).orderBy("query_id", "rank").collect()]
    te = [tuple(r) for r in reference_pq_topk_expr(emb, qs, 5).orderBy("query_id", "rank").collect()]
    assert ta == te and len(ta) > 0


def test_pq_encode_partitioning_invariant(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import pq_encode

    emb = _load_emb(spark, sf_small)
    a = [tuple(r) for r in pq_encode(emb).orderBy("vec_id").collect()]
    b = [tuple(r) for r in pq_encode(emb.repartition(11)).orderBy("vec_id").collect()]
    assert a == b


def test_pq_trained_codebooks_beat_formula_on_quantization_error(spark, sf_small):
    import numpy as np

    from vtb_datafusion_2023_spark.operators.similarity import (
        pq_codebook_literal_sql,
        pq_encode,
        pq_train_codebooks,
    )

    emb = _load_emb(spark, sf_small)
    x = np.asarray([list(r.embedding) for r in emb.orderBy("vec_id").collect()], dtype=np.float64)
    trained = pq_train_codebooks(emb, m=8, k=16, iters=8, max_sample=400)

    def recon_err(codes_rows, books):
        err = 0.0
        by_id = {r.vec_id: list(r.codes) for r in codes_rows}
        for i, row in enumerate(sorted(by_id)):
            codes = by_id[row]
            rec = np.concatenate([books[s][codes[s]] for s in range(8)])
            err += float(((x[i] - rec) ** 2).sum())
        return err

    # formula codebook materialized in numpy for the comparison
    formula = np.zeros((8, 16, 8))
    for s in range(8):
        for c in range(16):
            for j in range(8):
                formula[s, c, j] = ((c * (j + 3) + s * 7) % 17 - 8) / 8.0
    e_formula = recon_err(pq_encode(emb).collect(), formula)
    e_trained = recon_err(
        pq_encode(emb, codebook_sql=pq_codebook_literal_sql(trained)).collect(), trained
    )
    assert e_trained < e_formula  # Lloyd iterations must help


def test_pq_topk_recall_against_exact(spark, sf_small):
    """PQ for cosine: L2-normalize first (ADC is L2; on unit vectors L2
    ranking == cosine ranking), train codebooks, compare to exact top-k.
    The synthetic near-uniform 64-dim vectors are PQ's worst case (every
    pair nearly equidistant), so the bound is a floor far above the ~2%
    random baseline, not a production recall claim."""
    from pyspark.sql import functions as F

    from vtb_datafusion_2023_spark.operators.similarity import (
        cosine_topk,
        l2_normalize,
        pq_codebook_literal_sql,
        pq_topk,
        pq_train_codebooks,
    )

    emb = _load_emb(spark, sf_small)
    unit = l2_normalize(emb).select("vec_id", F.col("unit_vec").alias("embedding"))
    qs = unit.filter(F.col("vec_id") < 8)
    exact = cosine_topk(unit, qs, k=10)
    cb = pq_codebook_literal_sql(pq_train_codebooks(unit, m=16, k=64, iters=10, max_sample=500))
    got = pq_topk(unit, qs, k_neighbors=10, m=16, k=64, subdim=4, codebook_sql=cb)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    g = {(r.query_id, r.neighbor_id) for r in got.collect()}
    recall = len(e & g) / len(e)
    assert recall > 0.4, recall


def test_pq_train_deterministic_across_partitionings(spark, sf_small):
    import numpy as np

    from vtb_datafusion_2023_spark.operators.similarity import pq_train_codebooks

    emb = _load_emb(spark, sf_small)
    a = pq_train_codebooks(emb, max_sample=300, iters=3)
    b = pq_train_codebooks(emb.repartition(17), max_sample=300, iters=3)
    assert np.array_equal(a, b)


def test_lsh_signature_numpy_matches_jvm_bitwise(spark, sf_small):
    import numpy as np
    from pyspark.sql import functions as F

    from vtb_datafusion_2023_spark.operators.similarity import (
        _lsh_signature_numpy,
        lsh_signature,
    )

    emb = _load_emb(spark, sf_small)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    x = np.asarray([list(r.embedding) for r in rows], dtype=np.float64)
    for planes, off in [(8, 0), (12, 5)]:
        jvm = [
            r.b
            for r in emb.select(
                "vec_id", lsh_signature(F.col("embedding"), planes, off).alias("b")
            )
            .orderBy("vec_id")
            .collect()
        ]
        assert jvm == _lsh_signature_numpy(x, planes, off).tolist()


def test_lsh_pq_topk_arrow_expr_parity_and_membership(spark, sf_small):
    from pyspark.sql import functions as F

    from vtb_datafusion_2023_spark.operators.similarity import lsh_ann_topk, lsh_pq_topk

    emb = _load_emb(spark, sf_small)
    qs = emb.filter(F.col("vec_id") < 5)
    a = [tuple(r) for r in lsh_pq_topk(emb, qs, k=5, n_planes=8).orderBy("query_id", "rank").collect()]
    e = [
        tuple(r)
        for r in reference_lsh_pq_topk_expr(emb, qs, k=5, n_planes=8).orderBy("query_id", "rank").collect()
    ]
    assert a == e and len(a) > 0
    # stage-1 soundness: every result lives in the query's LSH bucket
    # (= appears in the unlimited in-bucket exact ranking)
    bucket_all = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann_topk(emb, qs, k=10**6, n_planes=8).collect()
    }
    assert {(q, n) for q, n, _, _ in a} <= bucket_all


def test_ivf_indexed_search_matches_in_memory_and_prunes_files(spark, sf_small, tmp_path):
    """Persisted IVF index: ivf_search_indexed == ivf_topk on the same
    deterministic centroids, and the search opens only the probed cells'
    bucket files."""
    from vtb_datafusion_2023_spark.operators.similarity import (
        ivf_search_indexed,
        ivf_topk,
        write_ivf_index,
    )
    from vtb_datafusion_2023_spark.sources.manifest import read_versioned
    from vtb_datafusion_2023_spark.sources.readers import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, idx, n_cells=8)

    got = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_search_indexed(spark, idx, queries, k=5, n_probe=2).collect()
    )
    want = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2).collect()
    )
    assert got == want and len(got) > 0

    # file pruning: the probed read opens fewer files than the full cells table
    total_files = len(set(read_versioned(spark, idx + "/cells").inputFiles()))
    from vtb_datafusion_2023_spark.sources.manifest import read_versioned_pruned

    probed = read_versioned_pruned(spark, idx + "/cells", keys=[0])
    assert len(set(probed.inputFiles())) < total_files


def reference_gram_expr(df, vec_col="embedding"):
    """``embedding_gram`` as pure Catalyst: each row's upper-triangle
    products from a nested ``transform``, exploded into one (i, j) hash
    aggregate with the same ``sqlgen.fsum`` accumulation; a ragged
    vector raises through ``raise_error``."""
    from vtb_datafusion_2023_spark import sqlgen

    nn = df.filter(F.col(vec_col).isNotNull())
    probe = nn.select(F.size(vec_col)).first()
    dim = 0 if probe is None else int(probe[0])
    guarded = (
        f"case when size({vec_col}) = {dim} then {vec_col} "
        f"else raise_error(concat('embedding_gram: expected dim {dim}, got "
        f"vector of size ', cast(size({vec_col}) as string))) end"
    )
    tri = F.expr(
        f"""flatten(transform({guarded}, (x, i) ->
              transform(slice({vec_col}, i + 1, size({vec_col}) - i), (y, k) ->
                struct(i as i, i + k as j,
                       cast(x as double) * cast(y as double) as p))))"""
    )
    prods = nn.select(F.explode(tri).alias("t")).select("t.i", "t.j", "t.p")
    return prods.groupBy("i", "j").agg(F.expr(sqlgen.fsum("p", "g")), F.count(F.lit(1)).alias("n"))


def test_embedding_gram_matches_numpy_and_partitioning_invariant(spark, sf_small):
    import numpy as np

    from vtb_datafusion_2023_spark.operators.similarity import embedding_gram

    emb = load_table(spark, sf_small, "embeddings")
    rows = embedding_gram(emb).collect()
    pdf = emb.select("embedding").toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n, d = x.shape
    assert len(rows) == d * (d + 1) // 2
    ref = x.T @ x
    for r in rows:
        assert r["n"] == n
        # fsum quantizes each product at 1e-6: n rows of <= 5e-7 each
        assert abs(r["g"] - ref[r["i"], r["j"]]) <= n * 5e-7 + 1e-9, (r["i"], r["j"])
    again = {(r["i"], r["j"]): r["g"] for r in embedding_gram(emb.repartition(13)).collect()}
    assert again == {(r["i"], r["j"]): r["g"] for r in rows}  # bitwise: int64 partials


def test_whitening_projection_decorrelates_and_matches_numpy(spark, sf_small):
    import numpy as np

    from vtb_datafusion_2023_spark.operators.similarity import (
        apply_projection,
        embedding_gram,
        whitening_matrix,
    )

    emb = load_table(spark, sf_small, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n, d = x.shape
    w = whitening_matrix(embedding_gram(emb).collect(), d=d, n=n)
    got = {r["vec_id"]: np.array(r["projected"]) for r in
           apply_projection(emb, w).collect()}
    want = x @ w.T
    for vid, row in zip(pdf["vec_id"], want):
        assert np.allclose(got[vid], row, rtol=0, atol=1e-12)
    # whitened second moment ~ identity (eps-regularized)
    y = np.stack([got[v] for v in pdf["vec_id"]])
    m = (y.T @ y) / n
    assert np.allclose(m, np.eye(d), atol=1e-2)


def test_embedding_gram_arrow_path_bitwise_equals_expr(spark, sf_small):
    from vtb_datafusion_2023_spark.operators.similarity import embedding_gram

    emb = load_table(spark, sf_small, "embeddings")
    expr = {(r["i"], r["j"]): (r["g"], r["n"]) for r in reference_gram_expr(emb).collect()}
    arrow = {(r["i"], r["j"]): (r["g"], r["n"]) for r in embedding_gram(emb).collect()}
    assert arrow == expr and len(arrow) > 0  # bitwise: same quantized int64 partials
    # and invariant under partitioning
    again = {
        (r["i"], r["j"]): (r["g"], r["n"])
        for r in embedding_gram(emb.repartition(9)).collect()
    }
    assert again == expr


def test_embedding_gram_ragged_dim_fails_loudly_both_paths(spark):
    import pytest as _pt

    from vtb_datafusion_2023_spark.operators.similarity import (
        apply_projection,
        embedding_gram,
    )

    rows = [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, None)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    with _pt.raises(Exception, match="expected dim"):
        embedding_gram(df).collect()
    with _pt.raises(Exception, match="expected dim"):
        reference_gram_expr(df).collect()
    # NULL embeddings drop silently in the gram, its reference and projection
    ok = df.filter("vec_id != 2")
    assert {r["n"] for r in embedding_gram(ok).collect()} == {1}
    assert {r["n"] for r in reference_gram_expr(ok).collect()} == {1}
    import numpy as np

    got = apply_projection(ok, np.eye(2)).collect()
    assert [r.vec_id for r in got] == [1] and list(got[0].projected) == [1.0, 2.0]


def test_ann_recall_eval_matches_independent_set_intersection(spark, sf_small):
    """The recall head's per-query hit count must equal the independent
    |topk_exact ∩ topk_lsh| intersection computed from the two underlying
    operators, with recall = hits/5; plus partitioning invariance."""
    from collections import defaultdict

    from vtb_datafusion_2023_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )
    from vtb_datafusion_2023_spark.suite import REGISTRY, queries

    queries()
    got = {
        r.query_id: (r.hits, r.recall_at_5)
        for r in REGISTRY["ann_recall_eval"].fn(spark, sf_small).collect()
    }
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    exact = defaultdict(set)
    for r in cosine_topk(emb, q, k=5).collect():
        exact[r.query_id].add(r.neighbor_id)
    approx = defaultdict(set)
    for r in lsh_ann_topk(emb, q, k=5, n_planes=8).collect():
        approx[r.query_id].add(r.neighbor_id)
    want = {qid: len(exact[qid] & approx[qid]) for qid in exact}
    assert {qid: h for qid, (h, _) in got.items()} == want
    for qid, (h, rec) in got.items():
        assert rec == h / 5.0
    assert set(got) == set(range(10))
