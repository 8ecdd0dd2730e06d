"""Similarity search over embedding columns, built as one retrieval
pipeline: candidates -> rank -> exact rescore.

Each ANN operator differs only in how it produces candidate
``(query_id, neighbor_id)`` pairs; the shared stages are written once:

- ``_rank``: the one per-query top-k (``row_number`` over ``(score,
  neighbor_id)``), an int ``rank``; also picks IVF cells per vector.
- ``_cosine_rank`` / ``_rescore``: the exact left-fold cosine of the
  candidates (``_rescore`` first broadcast-joins bare id pairs back to
  both vector sides), self pairs dropped, then ``_rank``.
- ``_query_block``: the one bounded driver-side collect of the query
  set for the numpy candidate kernels.

Candidate families: brute force (``cosine_topk``, broadcast cross join;
``knn_join_blocked``, blocked numpy GEMM pruning), hyperplane-LSH
buckets (``lsh_ann_topk``, banded ``cosine_near_pairs``), IVF cells
(``ivf_topk``, the persisted ``write_ivf_index`` / ``ivf_search_indexed``),
PQ/ADC lookup-table scoring (``pq_topk``, and ``lsh_pq_topk`` with the
bucket match as its pre-filter; one ``_adc_shortlist`` kernel), and two
coarse-to-exact funnels (``mrl_rerank_topk`` on a Matryoshka prefix,
``int8_rerank_topk`` on int8-quantized vectors).

All exact vector math is JVM-side array expressions: ``zip_with``
products + ``aggregate`` left-fold sums (deterministic order — bitwise
reproducible and oracle-comparable via DuckDB's ``list_reduce``); the
numpy kernels replay the same fold orders.  At 100 TB the query side is
broadcast (|queries| << |corpus|), so every path scans the corpus once
and shuffles only per-query candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..sources.readers import small_frame


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _rank(
    scored: DataFrame,
    score: str,
    k: int,
    asc: bool = False,
    key: str = "query_id",
    tie: str = "neighbor_id",
) -> DataFrame:
    """The top ``k`` rows per ``key`` by ``score`` (descending unless
    ``asc``; ties to the lowest ``tie``), numbered 1..k in an int
    ``rank`` column — Spark plans the cut as a WindowGroupLimit."""
    order = F.col(score).asc() if asc else F.col(score).desc()
    w = Window.partitionBy(key).orderBy(order, F.col(tie).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _sides(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str):
    """The corpus as ``(neighbor_id, _cv)`` and the queries as
    ``(query_id, _qv)``."""
    return (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
    )


def _cosine_rank(cand: DataFrame, k: int, cv: str = "_cv") -> DataFrame:
    """Exact stage of every cosine path: drop self pairs, score the
    ``(query_id, _qv)`` x ``(neighbor_id, cv)`` candidates with the
    left-fold ``cosine`` and keep the top ``k`` per query."""
    scored = cand.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cos", cosine(F.col("_qv"), F.col(cv))
    )
    return _rank(scored, "cos", k).select("query_id", "neighbor_id", "rank", "cos")


def _rescore(
    cand: DataFrame, corpus: DataFrame, queries: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact re-score of a small ``(query_id, neighbor_id)`` candidate
    set: broadcast-join it back to the corpus vectors (the corpus side
    stays a plain scan, no shuffle) and to the query vectors, then
    ``_cosine_rank`` — so (rank, cos) match ``cosine_topk`` and the
    DuckDB oracle bitwise."""
    cv, qv = _sides(corpus, queries, id_col, vec_col)
    joined = cv.join(broadcast(cand), "neighbor_id").join(broadcast(qv), "query_id")
    return _cosine_rank(joined, k)


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("neighbor_id", T.LongType(), False),
    ]
)


def _query_block(queries: DataFrame, id_col: str, vec_col: str, empty_schema: str):
    """Collect the query side to the driver as ``(ids, matrix)`` (int64
    ids, float64 Q x d) for the numpy candidate kernels — the documented
    ANN bound |queries| << |corpus|.  With no queries there is nothing
    to search: returns the empty result frame typed ``empty_schema``."""
    import numpy as np

    rows = queries.select(id_col, vec_col).collect()
    if not rows:
        return small_frame(queries.sparkSession, [], empty_schema)
    return (
        np.asarray([r[0] for r in rows], dtype=np.int64),
        np.asarray([list(r[1]) for r in rows], dtype=np.float64),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: every query vs every corpus vector.

    Returns (query_id, neighbor_id, rank, cos).  The query side is
    broadcast (ANN workloads have |queries| << |corpus|); ranking is a
    per-query window.  Ties break on neighbor_id for determinism.
    """
    c, q = _sides(corpus, queries, id_col, vec_col)
    return _cosine_rank(c.crossJoin(broadcast(q)), k)


def cosine_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 12,
    n_bands: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    Banded-LSH candidates + exact verify (the 100 TB shape): each vector gets ``n_bands`` bucket keys (disjoint ``n_planes``-plane
    sign signatures); candidate pairs share ANY band bucket (equi-join on
    (band, bucket) — never a nested loop), are deduped once, then exact
    cosine keeps true pairs.  Everything is the deterministic
    integer-plane arithmetic of ``lsh_signature``, so the same pipeline
    is expressible in the DuckDB oracle and certified bitwise (suite
    ``dd_embedding_cosine``).

    GEOMETRY — pick ``n_planes`` (r) for BUCKET DENSITY first: each band
    has 2^r possible buckets, so expected bucket occupancy is n/2^r and
    the per-band join does ~n^2/2^r comparisons — r must grow with the
    corpus (r >= log2(n / wanted_bucket_size); the r=12, b=16 default
    suits ~10^5-10^7 vectors at dedup thresholds ~0.9, where per-plane
    agreement p = 1 - theta/pi ~ 0.86 gives recall 1-(1-p^r)^b ~ 0.93).
    Then buy recall with bands (b): each adds a full corpus pass.  Small
    fixtures / loose thresholds need the opposite corner (the suite uses
    r=4, b=8 for its 500-vector, t=0.4 oracle).  Identical vectors all
    share all buckets — run ``exact_dedup`` first so hot buckets hold
    near-dups, not exact copies.  The all-pairs verifier that bounds
    its recall lives in tests/test_similarity.py.
    """
    sigs = F.array(
        *[
            lsh_signature(F.col("_v"), n_planes, plane_offset=band * n_planes)
            for band in range(n_bands)
        ]
    )
    banded = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).select("_id", "_v", F.posexplode(sigs).alias("_band", "_bkt"))
    left = banded.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_band", "_bkt"
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_band", "_bkt"
    )
    cands = (
        left.join(right, ["_band", "_bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair colliding in several bands must verify once, not b times
        .groupBy("id_a", "id_b")
        .agg(F.first("_va").alias("_va"), F.first("_vb").alias("_vb"))
    )
    return (
        cands.withColumn("cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def ivf_train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Train IVF centroids with spark.ml KMeans (the production path; the
    suite's oracle variant uses deterministic id-based centroids instead
    because k-means init is not cross-engine reproducible).

    ``sample_fraction``: train on a seeded sample of the corpus — at 100 TB
    k-means over every vector is wasted work (centroid quality is
    insensitive to sampling); ~1M vectors (fraction ≈ 1e-4..1e-3) is ample
    for any practical k.

    Returns a tiny (cid, centroid: array<double>) frame to pass to
    ``ivf_topk(centroids=...)``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if sample_fraction is not None:
        corpus = corpus.sample(fraction=sample_fraction, seed=seed)
    train = corpus.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(train)
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return small_frame(corpus.sparkSession, centers, "cid int, centroid array<double>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into Voronoi cells around the
    given centroids (``ivf_train_centroids`` k-means output, or the first
    ``n_cells`` corpus vectors by id as the deterministic default), then
    search only the query's ``n_probe`` nearest cells with exact cosine.

    At 100 TB: the cell assignment is one broadcast join + rank (the
    centroid set is tiny), the inverted index is the corpus repartitioned
    by cell, and each query touches n_probe/n_cells of the data.
    """
    cents = _ivf_centroids(corpus, id_col, vec_col, n_cells, centroids)
    c_cells = _assign_cells(corpus, cents, id_col, vec_col, "neighbor_id", "_cvv", 1)
    q_cells = _assign_cells(queries, cents, id_col, vec_col, "query_id", "_qv", n_probe)
    return _cosine_rank(q_cells.join(c_cells, "_cid"), k, cv="_cvv")


def hyperplane_weight(plane: Column | int, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane weights from pure integer
    arithmetic (no RNG, no libm => bit-identical in any engine):
    w = ((plane*1009 + dim + 1) * 2654435761) mod 2^31 - 2^30."""
    p = F.lit(plane) if isinstance(plane, int) else plane
    return (
        F.pmod((p * 1009 + dim + 1) * F.lit(2654435761), F.lit(1 << 31)) - F.lit(1 << 30)
    ).cast("double")


def lsh_signature(vec: Column, n_planes: int = 16, plane_offset: int = 0) -> Column:
    """Sign bits of <plane_i, x> packed into a bigint bucket key.

    Plane indices are Python ints (shift amounts must be literals), so
    this generates ``n_planes`` fold expressions — one projection.
    ``plane_offset`` selects a disjoint plane family per LSH band (band b
    uses planes [b*r, b*r + r))."""
    from functools import reduce as _reduce

    def plane_dot(p: int) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda d: hyperplane_weight(p, d) * F.element_at(vec, d + 1).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bits = [
        F.when(plane_dot(p + plane_offset) > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
        for p in range(n_planes)
    ]
    return _reduce(lambda x, y: x.bitwiseOR(y), bits)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 16,
) -> DataFrame:
    """Bucketed ANN: exact cosine ranking restricted to the query's LSH
    bucket.  Recall < 1 by construction (candidates sharing all sign
    bits); multiply probe-buckets or lower n_planes to trade recall for
    cost.  Bucketing the corpus is one projection; the join hits only
    matching buckets.

    Bucket-density rule (same as ``cosine_near_pairs``): 2^n_planes
    buckets total, so each query scans ~n/2^r corpus vectors — grow r
    with the corpus (the r=16 default ~ 65k buckets suits 10^6-10^8
    vectors; the 500-vector suite fixture passes r=8 explicitly)."""
    c, q = _sides(corpus, queries, id_col, vec_col)
    c = c.withColumn("_bkt", lsh_signature(F.col("_cv"), n_planes))
    q = q.withColumn("_bkt", lsh_signature(F.col("_qv"), n_planes))
    return _cosine_rank(c.join(broadcast(q), "_bkt"), k)


def knn_join_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    margin: int = 8,
) -> DataFrame:
    """Exact cosine top-k at GEMM speed: blocked matrix-multiply candidate
    pruning + exact left-fold re-score.

    Same contract and bitwise-identical output as ``cosine_topk`` (which
    evaluates one array expression per (corpus row, query) pair); this is
    the shape that survives 100 TB:

    - **Stage 1 — vectorized heavy lift.** The L2-normalized query matrix
      (Q x d float64) is broadcast once; ``mapInPandas`` folds each corpus
      partition into (B x d) @ (d x Q) numpy GEMMs and keeps a running
      per-partition top-``k + margin`` corpus-id buffer per query
      (argpartition, no full sort).  The shuffleless scan emits only
      O(partitions * Q * (k+margin)) (query_id, neighbor_id) pairs — ids,
      not scores, and never the corpus.
    - **Stage 2 — exact re-score of the tiny candidate set.** Candidates
      broadcast-join back to corpus vectors (corpus side stays a plain
      scan, no shuffle) and to the query vectors, then rank with the same
      deterministic left-fold ``cosine`` as the brute-force path — so
      final (rank, cos) match ``cosine_topk`` / the DuckDB oracle
      bitwise.  GEMM float error is irrelevant to correctness unless it
      demotes a true top-k member below rank ``k + margin`` *within its
      own partition* — which needs ``margin`` corpus vectors packed
      within ~1e-15 cosine of each other (why the default margin).

    The query side is collected to the driver and broadcast — the
    documented ANN-workload bound (|queries| << |corpus|), identical to
    the broadcast in ``cosine_topk``.
    """
    import numpy as np
    import pandas as pd

    block = _query_block(
        queries, id_col, vec_col, "query_id bigint, neighbor_id bigint, rank int, cos double"
    )
    if isinstance(block, DataFrame):
        return block
    q_ids, q_mat = block
    q_norms = np.linalg.norm(q_mat, axis=1)
    q_norms[q_norms == 0.0] = 1.0
    q_mat = q_mat / q_norms[:, None]
    b = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat))
    cap = k + margin

    def candidates(batches):
        qids, qm = b.value
        n_q = len(qids)
        run_s = np.empty((0, n_q), dtype=np.float64)
        run_i = np.empty((0, n_q), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            norms = np.linalg.norm(c, axis=1)
            norms[norms == 0.0] = 1.0
            scores = (c / norms[:, None]) @ qm.T  # (B, Q)
            all_s = np.vstack([run_s, scores])
            all_i = np.vstack([run_i, np.broadcast_to(ids[:, None], scores.shape)])
            if len(all_s) > cap:
                sel = np.argpartition(-all_s, cap - 1, axis=0)[:cap]
                run_s = np.take_along_axis(all_s, sel, axis=0)
                run_i = np.take_along_axis(all_i, sel, axis=0)
            else:
                run_s, run_i = all_s, all_i
        if len(run_i):
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, len(run_i)),
                    "neighbor_id": run_i.ravel(),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(candidates, schema=_PAIR_SCHEMA)
    return _rescore(cand, corpus, queries, k, id_col, vec_col)


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec"
) -> DataFrame:
    """Unit-normalize an embedding column (cosine becomes plain dot).

    JVM-side array expressions (left-fold norm, elementwise divide) —
    deterministic, shuffle-free, bitwise-reproducible.  Zero vectors
    yield NaN components (documented; filter upstream if present).
    """
    n = norm(F.col(vec_col))
    return df.withColumn(
        out_col, F.transform(F.col(vec_col), lambda x: x.cast("double") / n)
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q_vec"
) -> DataFrame:
    """Symmetric int8 vector quantization for embedding storage: per
    vector, scale = 127 / max(|x|); q_i = floor(x_i * scale + 0.5).

    4x storage reduction for ANN candidate stores; the scale factor is
    emitted (``q_scale``) for dequantization.  Exact-rounded double ops
    only (max, divide, floor) — bitwise identical across engines.
    """
    mx = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0).cast("double") / mx
    return df.withColumn("q_scale", scale).withColumn(
        out_col,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.col("q_scale") + F.lit(0.5)).cast("int"),
        ),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-side ANN scale path.  A d-dim
# vector compresses to m uint8 codes (one per subspace, k<=256 centroids)
# -- 32x smaller than float64 at (m=8, d=64), which is what lets a
# 100 TB embedding corpus's index live in cluster RAM.  Search runs ADC
# (asymmetric distance computation, Jegou et al. TPAMI'11): per query,
# one (m x k) lookup table of subspace distances; each corpus row costs
# m table lookups instead of d multiplies.
#
# Encoding and scoring run batched in numpy inside ``mapInPandas`` with
# the fold orders and tie-breaks of the DuckDB oracle's array
# expressions -- bitwise partitioning-invariant and exactly replayable
# (suite `pq_encode_codes` / `ann_pq_topk` / `ann_lsh_pq_topk`); the
# all-Catalyst expression forms are the bitwise test references in
# tests/test_similarity.py.


def pq_formula_codebook_sql(m: int = 8, k: int = 16, subdim: int = 8) -> str:
    """Deterministic data-independent codebook as a SQL expression:
    centroid[sub][code][j] = ((code*(j+3) + sub*7) % 17 - 8) / 8.0 --
    integer arithmetic then one exact /8.0, so Spark and DuckDB build the
    identical nested array.  Used by the oracle-gated suite entries;
    production swaps in `pq_train_codebooks` literals via
    `pq_codebook_literal_sql` (same plan, different constants)."""
    return (
        f"transform(sequence(0, {m - 1}), sub -> "
        f"transform(sequence(0, {k - 1}), code -> "
        f"transform(sequence(0, {subdim - 1}), j -> "
        f"cast((code*(j+3) + sub*7) % 17 - 8 as double) / 8.0)))"
    )


def pq_codebook_literal_sql(codebooks) -> str:
    """Trained numpy codebooks (m, k, subdim) -> nested array literal SQL."""
    subs = []
    for sub in codebooks:
        codes = ", ".join(
            "array(" + ", ".join(f"cast({float(v)!r} as double)" for v in cv) + ")"
            for cv in sub
        )
        subs.append(f"array({codes})")
    return "array(" + ", ".join(subs) + ")"


def _pq_codebook_numpy(spark, cb_sql: str):
    """Materialize a codebook SQL expression to (m, k, subdim) float64 —
    one driver-side row, so the numpy kernels score against the exact
    same constants as the oracle's expression."""
    import numpy as np

    row = spark.range(1).select(F.expr(cb_sql).alias("cb")).first()
    return np.asarray(row["cb"], dtype=np.float64)


def _pq_encode_numpy(x, books):
    """Sequential-fold subspace argmin: same summation order (j
    ascending from a 0.0 seed) and tie-break (lowest code) as the
    oracle's SQL expression, hence bitwise-identical codes."""
    import numpy as np

    m, k, subdim = books.shape
    n = x.shape[0]
    codes = np.empty((n, m), dtype=np.int32)
    for sub in range(m):
        acc = np.zeros((n, k))
        for j in range(subdim):
            diff = x[:, sub * subdim + j, None] - books[None, sub, :, j]
            acc += diff * diff
        codes[:, sub] = acc.argmin(axis=1)
    return codes


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    subdim: int = 8,
    codebook_sql: str | None = None,
    out_col: str = "codes",
) -> DataFrame:
    """Encode vectors to m centroid codes (argmin squared distance per
    subspace; ties break to the lowest code).  A shuffle-free map of
    vectorized numpy inside ``mapInPandas``: the m*k interpreted lambda
    folds of the all-Catalyst form cost ~0.5 ms/row, the batched numpy
    equivalent ~5 us/row.  Fold order and tie-break replicate the SQL
    exactly (differentially tested), so the output — and the DuckDB
    oracle — stay bitwise identical.
    """
    cb = codebook_sql or pq_formula_codebook_sql(m, k, subdim)
    import numpy as np
    import pandas as pd

    books = _pq_codebook_numpy(df.sparkSession, cb)
    b = df.sparkSession.sparkContext.broadcast(books)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField(out_col, T.ArrayType(T.IntegerType()), True),
        ]
    )

    def run(batches):
        bk = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            codes = _pq_encode_numpy(x, bk)
            yield pd.DataFrame(
                {id_col: pdf[id_col].astype("int64"), out_col: list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema=schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    subdim: int = 8,
    codebook_sql: str | None = None,
) -> DataFrame:
    """ADC top-k: per-query (m x k) LUT of subspace distances against the
    PQ-encoded corpus; a corpus row costs m lookups + a left-fold sum.

    Encodes and scores batched in numpy — per Arrow batch it emits only
    the k best (adist, neighbor) per query (argpartition-style candidate
    pruning, the ``knn_join_blocked`` shape), so the shuffle carries
    O(batches * Q * k) rows, never the corpus.  Fold orders match the
    DuckDB oracle, and the final (adist, neighbor_id) window makes the
    cut deterministic — outputs are bitwise identical.  Returns
    ``(query_id, neighbor_id, rank, adist)``.
    """
    books = _pq_codebook_numpy(
        corpus.sparkSession, codebook_sql or pq_formula_codebook_sql(m, k, subdim)
    )
    block = _query_block(
        queries, id_col, vec_col, "query_id bigint, neighbor_id bigint, rank int, adist double"
    )
    if isinstance(block, DataFrame):
        return block
    scored = _adc_shortlist(corpus, id_col, vec_col, *block, books, k_neighbors)
    return _rank(scored, "adist", k_neighbors, asc=True).select(
        "query_id", "neighbor_id", "rank", "adist"
    )


def _adc_luts(q_mat, books):
    """Per-query ADC lookup tables, (Q, m, k): the squared distance of
    each query subvector to every centroid, summed j ascending from a
    0.0 seed — the oracle's fold order."""
    import numpy as np

    m, k, subdim = books.shape
    luts = np.zeros((len(q_mat), m, k))
    for sub in range(m):
        for j in range(subdim):
            diff = q_mat[:, sub * subdim + j, None] - books[None, sub, :, j]
            luts[:, sub, :] += diff * diff
    return luts


_ADC_SCHEMA = T.StructType(_PAIR_SCHEMA.fields + [T.StructField("adist", T.DoubleType(), True)])


def _adc_shortlist(corpus, id_col, vec_col, q_ids, q_mat, books, keep, n_planes=None):
    """The PQ candidate stage, one numpy pass over the corpus scan: per
    Arrow batch, encode the rows, price every (row, query) pair at m
    lookups of the query's ``_adc_luts`` table (sub ascending from a 0.0
    seed, the oracle's fold) and emit the ``keep`` best ``(query_id,
    neighbor_id, adist)`` per query (ties to the lowest id), self pairs
    excluded.  With ``n_planes`` a row is a candidate of a query only
    when their ``n_planes``-plane LSH buckets match — the bucket match
    is the kernel's one optional pre-filter.  The shuffle carries
    O(batches * Q * keep) rows, never the corpus."""
    import numpy as np
    import pandas as pd

    q_bkt = None if n_planes is None else _lsh_signature_numpy(q_mat, n_planes)
    b = corpus.sparkSession.sparkContext.broadcast((q_ids, q_bkt, _adc_luts(q_mat, books), books))

    def run(batches):
        qi, qb, lut, bk = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            codes = _pq_encode_numpy(x, bk)
            acc = np.zeros((len(ids), len(qi)))
            for sub in range(bk.shape[0]):  # s ascending: the SQL fold order
                acc += lut[:, sub, codes[:, sub]].T
            cbkt = None if qb is None else _lsh_signature_numpy(x, n_planes)
            out: dict[str, list] = {"query_id": [], "neighbor_id": [], "adist": []}
            for qpos in range(len(qi)):
                mask = ids != qi[qpos]
                if qb is not None:
                    mask &= cbkt == qb[qpos]
                cand_ids, cand_d = ids[mask], acc[mask, qpos]
                order = np.lexsort((cand_ids, cand_d))[:keep]
                out["query_id"].extend([int(qi[qpos])] * len(order))
                out["neighbor_id"].extend(cand_ids[order].tolist())
                out["adist"].extend(cand_d[order].tolist())
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col).mapInPandas(run, schema=_ADC_SCHEMA)


def pq_train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    max_sample: int = 4096,
    seed: int = 7,
    id_col: str = "vec_id",
):
    """Train PQ codebooks: seeded deterministic sample (md5-hash order on
    the id -- partition-layout-independent, same device as
    `weighted_sample`), then per-subspace Lloyd k-means in numpy with
    k-means++-style farthest-first init from a seeded RNG.  The sample is
    driver-side by design (bounded by ``max_sample``); at 100 TB the
    codebook is KBs of broadcast state trained once."""
    import numpy as np

    sample = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), F.col(id_col))
        .limit(max_sample)
        .collect()
    )
    x = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    d = x.shape[1]
    subdim = d // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, k, subdim))
    for sub in range(m):
        xs = x[:, sub * subdim : (sub + 1) * subdim]
        cent = xs[rng.choice(len(xs), size=k, replace=False)]
        for _ in range(iters):
            dist = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[sub] = cent
    return books


def _lsh_signature_numpy(x, n_planes: int, plane_offset: int = 0):
    """numpy replica of ``lsh_signature``: identical integer plane
    weights ((p*1009 + d + 1) * 2654435761 mod 2^31 - 2^30, exact in
    int64) and the same d-ascending float64 fold from a 0.0 seed — so
    bucket keys match the JVM/oracle expressions bitwise
    (differentially tested)."""
    import numpy as np

    n, d = x.shape
    dims = np.arange(d, dtype=np.int64)
    buckets = np.zeros(n, dtype=np.int64)
    for p in range(n_planes):
        w = (
            (((p + plane_offset) * 1009 + dims + 1) * 2654435761) % (1 << 31) - (1 << 30)
        ).astype(np.float64)
        acc = np.zeros(n)
        for j in range(d):
            acc += w[j] * x[:, j]
        buckets |= (acc > 0).astype(np.int64) << p
    return buckets


def lsh_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 16,
    rerank: int = 20,
    m: int = 8,
    n_centroids: int = 16,
    subdim: int = 8,
    codebook_sql: str | None = None,
) -> DataFrame:
    """Two-stage production retrieval: LSH bucket recall -> PQ/ADC cheap
    scoring -> exact cosine rerank of the short list.

    This is the composition that holds at corpus scale: the bucket match
    bounds candidates at ~n/2^r per query, ADC prices each candidate at
    m table lookups (codes are 32x smaller than vectors), and the exact
    fold-cosine touches only ``rerank`` rows per query.  Every stage is
    deterministic (integer-plane signatures, formula/literal codebooks,
    (adist|cos, neighbor_id) tie-breaks), so the whole pipeline replays
    bitwise in the DuckDB oracle (suite ``ann_lsh_pq_topk``).

    Bucket match + encode + ADC + per-batch shortlist pruning run in ONE
    numpy pass over the corpus scan (query buckets/LUTs precomputed
    driver-side with the identical integer-plane and fold arithmetic —
    differentially tested bitwise against the JVM signatures and the
    all-Catalyst form, which costs m*k interpreted lambdas per row);
    only the O(Q * rerank) shortlist reaches the JVM rerank join.
    """
    books = _pq_codebook_numpy(
        corpus.sparkSession, codebook_sql or pq_formula_codebook_sql(m, n_centroids, subdim)
    )
    block = _query_block(
        queries, id_col, vec_col, "query_id bigint, neighbor_id bigint, rank int, cos double"
    )
    if isinstance(block, DataFrame):
        return block
    cand = _adc_shortlist(corpus, id_col, vec_col, *block, books, rerank, n_planes)
    short = _rank(cand, "adist", rerank, asc=True).select("query_id", "neighbor_id")
    return _rescore(short, corpus, queries, k, id_col, vec_col)


def pq_dedup_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    subdim: int = 8,
    codebook_sql: str | None = None,
) -> DataFrame:
    """Embedding near-dup via PQ code collision: vectors whose m subspace
    codes all agree are quantization-identical — a 1-byte/dim perceptual
    bucket, the coarse first pass before banded-LSH cosine verify.

    One encode map + one groupBy on the (tiny) code array; emits
    (id, rep_id = min id in cluster, cluster_size) for clustered rows
    only.  Deterministic: encode ties break to the lowest code, cluster
    representative is the minimum id.
    """
    codes = pq_encode(df, id_col, vec_col, m, k, subdim, codebook_sql)
    w = Window.partitionBy("codes")
    return (
        codes.withColumn("rep_id", F.min(id_col).over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .filter(F.col("cluster_size") > 1)
        .select(id_col, "rep_id", "cluster_size")
    )


def _ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_cells: int, centroids: DataFrame | None
) -> DataFrame:
    """IVF centroids as ``(_cid int, _cv)``: the given ``(cid,
    centroid)`` frame, or the first ``n_cells`` corpus vectors by id —
    the deterministic default the DuckDB oracle replays."""
    if centroids is not None:
        return centroids.select(F.col("cid").alias("_cid"), F.col("centroid").alias("_cv"))
    return corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("int").alias("_cid"), F.col(vec_col).alias("_cv")
    )


def _assign_cells(
    df: DataFrame, cents: DataFrame, id_col: str, vec_col: str, idc: str, vecc: str, keep: int
) -> DataFrame:
    """Rank centroids per vector (broadcast cross + window), keep the
    nearest ``keep`` cell ids as ``(idc, vecc, _cid)``.  ``cents``:
    (_cid, _cv)."""
    side = df.select(F.col(id_col).alias(idc), F.col(vec_col).alias(vecc))
    scored = side.crossJoin(broadcast(cents)).withColumn(
        "_ccos", cosine(F.col(vecc), F.col("_cv"))
    )
    return _rank(scored, "_ccos", keep, key=idc, tie="_cid").select(idc, vecc, "_cid")


def write_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    centroids: DataFrame | None = None,
) -> int:
    """Persist an IVF index as a versioned table: centroids in
    ``{index_dir}/centroids`` and the cell-assigned corpus in
    ``{index_dir}/cells``, BUCKETED BY CELL ID — so a later search opens
    only the probed cells' files (``read_versioned_pruned``), the
    disk-level inverted-file contract.  Centroids default to the
    deterministic first-``n_cells`` corpus vectors (``ivf_topk``'s
    oracle-friendly scheme); pass ``ivf_train_centroids`` output for the
    k-means production path.  Returns the cells-table version.

    At 100 TB the index build is one broadcast assign + one bucketed
    write; refreshing it for an append-only corpus is ``merge_into`` on
    the new vectors' buckets.
    """
    import os

    from ..sources.manifest import commit_versioned, commit_versioned_bucketed

    cents = _ivf_centroids(corpus, id_col, vec_col, n_cells, centroids)
    commit_versioned(
        cents.select(F.col("_cid").alias("cid"), F.col("_cv").alias("centroid")),
        os.path.join(index_dir, "centroids"),
    )
    assigned = _assign_cells(corpus, cents, id_col, vec_col, "neighbor_id", "_cvv", 1).select(
        "_cid", "neighbor_id", "_cvv"
    )
    return commit_versioned_bucketed(
        assigned, os.path.join(index_dir, "cells"), key_col="_cid", n_buckets=n_cells
    )


def ivf_search_indexed(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Search a persisted IVF index: assign queries to their ``n_probe``
    nearest stored centroids, then read ONLY those cells' data files
    (bucket-pruned point read) and exact-rerank with cosine.  Identical
    results to ``ivf_topk`` with the same centroids — certified by
    equivalence test — but the corpus scan cost is ``n_probe/n_cells`` of
    the files on disk, not a full-table read.
    """
    import os

    from ..sources.manifest import read_versioned, read_versioned_pruned

    cents = read_versioned(spark, os.path.join(index_dir, "centroids")).select(
        F.col("cid").alias("_cid"), F.col("centroid").alias("_cv")
    )
    q_cells = _assign_cells(queries, cents, id_col, vec_col, "query_id", "_qv", n_probe)
    probed = [r["_cid"] for r in q_cells.select("_cid").distinct().collect()]
    cells = read_versioned_pruned(spark, os.path.join(index_dir, "cells"), keys=probed)
    return _cosine_rank(q_cells.join(cells, "_cid"), k, cv="_cvv")


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Upper-triangular Gram matrix of an embedding column — the one-pass
    second-moment aggregation behind PCA/whitening of a corpus's
    embedding space (e.g. the decorrelation step ahead of semantic dedup
    or IVF training).

    Per Arrow batch, numpy forms the d(d+1)/2 upper-triangle component
    products (one BLAS product block per row index, no per-component
    self-join) and emits at most d(d+1)/2 partial rows; ONE hash
    aggregate keyed by (i, j) merges them, so the shuffle carries at
    most d(d+1)/2 rows per batch regardless of corpus size — the correct
    100 TB shape for a dense second-moment sum.  Accumulation uses the
    engine's fixed-point ``sqlgen.fsum`` mode: each product quantizes
    through the IDENTICAL IEEE ops (floor(p + 0.5) / floor((p - hi) *
    1e6 + 0.5)) into int64 hi/lo partials — integer-valued doubles cast
    to int64 PER ELEMENT before the sum, so the exact envelope is
    int64's 9.2e18 rather than float64's 2^53 — and the final merge and
    double recombination reuse the ``fsum_merge``/``fsum_final`` SQL
    text: partitioning-independent and bitwise equal to the DuckDB
    oracle and to the all-Catalyst explode form (``reference_gram_expr``
    in tests/test_similarity.py).  Per-product quantization at 1e-6
    keeps the RELATIVE error of an n-row moment at ~5e-7/E[x_i x_j], far
    below what eigendecomposition-based whitening is sensitive to.

    Returns ``(i, j, g, n)`` for ``0 <= i <= j < d`` — g the quantized
    product sum, n the contributing vector count (NULL embeddings drop).

    ``dim``: expected vector size; ``None`` probes it from one row.  A
    ragged vector fails LOUDLY (the k-means rule — clustering.py's dim
    guard): silently, ragged input would skew the per-cell counts and
    corrupt the downstream whitening scale.
    """
    import numpy as np
    import pandas as pd

    from .. import sqlgen

    nn = df.filter(F.col(vec_col).isNotNull())
    if dim is None:
        probe = nn.select(F.size(vec_col)).first()
        dim = 0 if probe is None else int(probe[0])  # empty corpus: empty gram

    def _partials(batches):
        for pdf in batches:
            vecs = pdf[vec_col].dropna()
            if not len(vecs):
                continue
            sizes = np.fromiter((len(v) for v in vecs), dtype=np.int64)
            if (sizes != dim).any():
                bad = int(sizes[sizes != dim][0])
                raise ValueError(
                    f"embedding_gram: expected dim {dim}, got vector of size {bad}"
                )
            x = np.stack(vecs.to_numpy()).astype(np.float64)
            b, d = x.shape
            # row-index loop keeps peak memory at one (b, d) product
            # block instead of the full (b, d, d) outer-product tensor
            ii, jj, his, los = [], [], [], []
            for i in range(d):
                p = x[:, i : i + 1] * x[:, i:]  # (b, d - i)
                hi = np.floor(p + 0.5)
                lo = np.floor((p - hi) * 1e6 + 0.5)
                ii.append(np.full(d - i, i, dtype="int32"))
                jj.append(np.arange(i, d, dtype="int32"))
                his.append(hi.astype("int64").sum(axis=0))
                los.append(lo.astype("int64").sum(axis=0))
            m = d * (d + 1) // 2
            yield pd.DataFrame(
                {
                    "i": np.concatenate(ii),
                    "j": np.concatenate(jj),
                    "g_hi": np.concatenate(his),
                    "g_lo": np.concatenate(los),
                    "c": np.full(m, b, dtype="int64"),
                }
            )

    part = nn.select(vec_col).mapInPandas(
        _partials, schema="i int, j int, g_hi long, g_lo long, c long"
    )
    merged = part.groupBy("i", "j").agg(
        *[F.expr(e) for e in sqlgen.fsum_merge("g")],
        F.sum("c").alias("n"),
    )
    return merged.select(
        "i", "j", F.expr(sqlgen.fsum_final("g", "g")), F.col("n")
    )


def whitening_matrix(gram_rows, d: int | None = None, n: int | None = None, eps: float = 1e-6):
    """ZCA whitening matrix from ``embedding_gram`` output (driver-side
    numpy on the d x d moment — d^2 scalars, never the corpus): W =
    U diag(1/sqrt(s + eps)) U^T of the (uncentered) second-moment matrix
    G/n.  Deterministic for a given gram (LAPACK ``eigh`` on an exactly
    reproducible matrix); the corpus-scale work stays in the one-pass
    aggregate.

    ``d``/``n`` default to the values the gram rows already carry
    (d = max j + 1; n = the cells' contributing count) — passing a
    hand-computed n (e.g. ``df.count()`` on a table whose NULL
    embeddings the gram dropped) would silently mis-scale every moment,
    so prefer the defaults."""
    import numpy as np

    rows = list(gram_rows)
    if not rows:
        raise ValueError("whitening_matrix: empty gram")
    if d is None:
        d = max(r["j"] for r in rows) + 1
    if n is None:
        n = rows[0]["n"]  # identical per cell (dim-guarded, NULLs dropped)
    g = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        g[r["i"], r["j"]] = r["g"]
        g[r["j"], r["i"]] = r["g"]
    s, u = np.linalg.eigh(g / float(n))
    return (u * (1.0 / np.sqrt(np.maximum(s, 0.0) + eps))) @ u.T


def apply_projection(
    df: DataFrame,
    w,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Project every embedding through a dense d x d matrix (whitening,
    PCA rotation) with an Arrow-batched matmul: one numpy GEMM per
    batch, no shuffle, no per-component codegen (a d^2-term column
    expression tree is exactly the k-means codegen cliff this engine
    already retired).  ``w`` is broadcast once per executor via the
    closure."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    w64 = np.asarray(w, dtype=np.float64)
    id_field = df.schema[id_col]
    out_schema = StructType(
        [StructField(id_col, id_field.dataType), StructField(out_col, ArrayType(DoubleType()))]
    )

    def _proj(batches):
        for pdf in batches:
            # NULL embeddings drop, matching embedding_gram's contract —
            # the whiten-then-project pipeline runs on the same input
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if mat.shape[1] != w64.shape[1]:
                raise ValueError(
                    f"apply_projection: vectors have dim {mat.shape[1]}, "
                    f"matrix expects {w64.shape[1]}"
                )
            out = mat @ w64.T
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(out)})

    return df.select(id_col, vec_col).mapInPandas(_proj, schema=out_schema)


def embedding_drift(
    df_a: DataFrame, df_b: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension mean shift between two embedding cohorts — the
    vector-space counterpart of the scalar PSI monitor
    (``profile.drift_psi``): an embedding model change, a corpus-mix
    shift, or an upstream encoder bug moves the per-dimension means
    long before any downstream metric notices.

    Shape: each cohort is ONE posexplode + one (i)-keyed hash aggregate
    with map-side partials — the shuffle carries at most d rows per
    task at any corpus size — then a d-row join.  Means use the
    fixed-point ``sqlgen.fsum`` accumulation over exact float->double
    casts, so the output is bitwise cross-engine and
    partitioning-independent.

    Returns ``(i, mean_a, mean_b, delta)`` for each dimension.
    """
    from .. import sqlgen

    def means(df: DataFrame) -> DataFrame:
        comp = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.posexplode(vec_col).alias("i", "_v"))
            .select("i", F.col("_v").cast("double").alias("_v"))
        )
        return comp.groupBy(F.col("i").cast("int").alias("i")).agg(
            F.expr(sqlgen.fsum("_v")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )

    a = means(df_a).select("i", (F.col("_s") / F.col("_n")).alias("mean_a"))
    b = means(df_b).select("i", (F.col("_s") / F.col("_n")).alias("mean_b"))
    return a.join(b, "i").select(
        "i", "mean_a", "mean_b", (F.col("mean_a") - F.col("mean_b")).alias("delta")
    )


def mrl_truncate(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    out_col: str = "unit_vec",
) -> DataFrame:
    """Matryoshka (MRL) truncation: keep the first ``dims`` dimensions
    and re-unit-normalize — the storage/recall dial for
    Matryoshka-trained embedding corpora (Kusupati et al. 2022), where
    prefixes of the vector are themselves valid lower-dim embeddings.

    Also emits ``fidelity`` = ||x[:dims]|| / ||x|| — algebraically the
    cosine between the truncated-unit and full-unit vectors, i.e. how
    much of the embedding's mass the prefix retains (the per-vector
    quality signal for choosing ``dims``).

    Composition of existing deterministic kernels: slice + the
    :func:`l2_normalize` left-fold norm — JVM-side array expressions,
    shuffle-free, bitwise cross-engine.  Zero prefixes yield NaN
    components (same contract as :func:`l2_normalize`).
    """
    if dims < 1:
        raise ValueError(f"mrl_truncate: dims must be >= 1, got {dims}")
    prefix = F.slice(F.col(vec_col), 1, dims)
    n_trunc = norm(prefix)
    n_full = norm(F.col(vec_col))
    return df.withColumn(
        out_col, F.transform(prefix, lambda x: x.cast("double") / n_trunc)
    ).withColumn("fidelity", n_trunc / n_full)


def mrl_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_coarse: int = 32,
    k: int = 5,
) -> DataFrame:
    """Two-stage Matryoshka retrieval (adaptive retrieval, Kusupati et
    al. 2022): stage 1 scores the WHOLE corpus on the cheap ``dims``-dim
    prefix cosine and keeps ``k_coarse`` candidates per query; stage 2
    reranks only those candidates with full-dimension cosine and keeps
    the final ``k``.

    The funnel is the MRL scale story: at production geometry (64-dim
    prefix of a 1024-dim embedding) the corpus scan does 1/16th the
    arithmetic and full vectors are touched for only k_coarse rows per
    query.  Recall loss is bounded by prefix fidelity (see
    :func:`mrl_truncate`); raise ``k_coarse`` to buy it back.

    Deterministic: both stages are left-fold cosines with
    ``(score desc, id asc)`` row_number ties — bitwise cross-engine.
    Returns ``(query_id, neighbor_id, rank, cos)`` (full-dim cosine).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.slice(F.col(vec_col), 1, dims).alias("_q16"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.slice(F.col(vec_col), 1, dims).alias("_c16"),
    )
    coarse = (
        c.crossJoin(broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_cos16", cosine(F.col("_q16"), F.col("_c16")))
    )
    rer = _rank(coarse, "_cos16", k_coarse).withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    return _rank(rer, "cos", k).select("query_id", "neighbor_id", "rank", "cos")


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int arrays (bigint fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def int8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_coarse: int = 32,
    k: int = 5,
) -> DataFrame:
    """Two-stage int8 retrieval funnel: stage 1 scans the corpus on
    SYMMETRIC-INT8-quantized vectors (:func:`quantize_int8`, 4x smaller
    — the candidate store that lets a 100 TB embedding corpus's scan
    working set fit executor memory / SIMD integer units), stage 2
    reranks only ``k_coarse`` survivors per query with full-precision
    cosine.

    The coarse score is SCALE-FREE: with ``q = round(x * 127/max|x|)``,
    ``cos8 = dot_int(qa, qc) / (sqrt(||qa||^2) * sqrt(||qc||^2))`` —
    the per-vector scales cancel between numerator and denominator, so
    the score is built ONLY from exact integer dot products and two
    correctly-rounded sqrt/divide ops => bitwise cross-engine, no float
    accumulation anywhere in the corpus-scan stage.

    Recall is an explicit dial like the MRL funnel
    (:func:`mrl_rerank_topk`): with ``k_coarse >= corpus size`` the
    result is bitwise-equal to :func:`cosine_topk` whenever int8
    ranking preserves the true top-k's membership of the candidate set;
    raise ``k_coarse`` to buy back quantization misses.

    Returns ``(query_id, neighbor_id, rank, cos8, cos)`` — the coarse
    int8 score is kept so downstream audits can measure quantization
    fidelity per pair.
    """
    qq = quantize_int8(queries.select(F.col(id_col), F.col(vec_col)), vec_col)
    qc = quantize_int8(corpus.select(F.col(id_col), F.col(vec_col)), vec_col)
    q = qq.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("q_vec").alias("_qa"),
        _int_dot(F.col("q_vec"), F.col("q_vec")).alias("_qn2"),
    )
    c = qc.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("q_vec").alias("_ca"),
        _int_dot(F.col("q_vec"), F.col("q_vec")).alias("_cn2"),
    )
    coarse = (
        c.crossJoin(broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos8",
            _int_dot(F.col("_qa"), F.col("_ca")).cast("double")
            / (F.sqrt(F.col("_qn2").cast("double")) * F.sqrt(F.col("_cn2").cast("double"))),
        )
    )
    rer = _rank(coarse, "cos8", k_coarse).withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    return _rank(rer, "cos", k).select("query_id", "neighbor_id", "rank", "cos8", "cos")
