"""Suite: training-data pipeline operators — dedup, similarity search,
text analysis, multimodal metadata, mapInPandas inference (north-star
extensions; BASELINE.json)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import sqlgen
from ..inference.udfs import linear_scorer, score_with_model
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ..operators.multimodal import with_binary_metadata
from ..operators.similarity import (
    cosine_near_pairs,
    cosine_topk,
    ivf_topk,
    knn_join_blocked,
    lsh_ann_topk,
    lsh_signature,
)
from ..operators.text import (
    EN_STOPWORDS,
    TOKEN_REGEX,
    with_fingerprint,
    with_langid,
    with_text_quality,
    with_token_count,
)
from . import register
from ._util import T


def _spread(df):
    """Spread a small scan across all cores before a stage whose compute
    is PINNED at the input partitioning.

    The sf0.1 documents table is one 594 KB parquet file => 1-2 scan
    splits.  For most pipelines that's fine — the first exchange
    redistributes to shuffle.partitions anyway (A/B-measured: adding
    this to the minhash/simhash banding fixtures made them SLOWER,
    2.30 -> 3.46 s, so they don't use it).  Two shapes genuinely need
    it, because their heavy work executes at scan granularity and no
    exchange ever rebalances it: (a) per-payload Python codec stages
    (mapInPandas runs on the scan splits — 2 of 32 cores), and (b)
    localCheckpoint-pinned lineages (the incremental-dedup band tables
    materialize at input partitioning; measured 4.66 -> 1.80 s).  At
    100 TB the scan itself yields thousands of partitions and this
    shuffle would be waste — the OPERATORS never repartition their
    input; only these fixtures do, and only thin columns (ids, short
    text) pass through the exchange.  Binary payload columns still
    never shuffle (SCALE.md, codecs.py:37); AQE can only coalesce,
    never split, a too-coarse map side.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


# the mm_* fixtures synthesize payloads from ids inside the UDF
_spread_ids = _spread


# ---------------------------------------------------------------------------
# Deduplication.


@register(
    "dd_exact_dedup",
    oracle="""
select md5(text) as content_key, count(*) as n_copies,
       min(doc_id) as keep_id
from documents group by md5(text)
""",
    survey_ref="dedup-exact",
    doc="exact dedup: content-hash groupBy, min-id representative.",
)
def dd_exact_dedup(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", ["text"])


# Shared oracle fragment: exact unigram-Jaccard near-dup pairs >= 0.8
# (used by dd_ngram_jaccard and as the edge set of dd_dedup_clusters).
_JACCARD_PAIRS_SQL = """
with sh as (
  select doc_id as _id, unnest(list_distinct(string_split(text, ' '))) as _s
  from documents
),
sizes as (select _id, count(*) as _sz from sh group by _id),
inter as (
  select l._id as id_a, r._id as id_b, count(*) as _inter
  from sh l join sh r on l._s = r._s and l._id < r._id
  group by 1, 2
)
select id_a, id_b,
       (_inter / (sa._sz + sb._sz - _inter)) as jaccard
from inter
join sizes sa on inter.id_a = sa._id
join sizes sb on inter.id_b = sb._id
where (_inter / (sa._sz + sb._sz - _inter)) >= 0.8
"""


@register(
    "dd_ngram_jaccard",
    oracle=_JACCARD_PAIRS_SQL,
    survey_ref="dedup-jaccard",
    doc="exact unigram-Jaccard near-dup pairs (baseline path; LSH is the scale path).",
)
def dd_ngram_jaccard(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.8)


@register(
    "dd_dedup_clusters",
    oracle=f"""
with recursive jp as ({_JACCARD_PAIRS_SQL}),
edges as (select id_a as src, id_b as dst from jp
          union all
          select id_b, id_a from jp),
reach(id, label) as (
  select doc_id, doc_id from documents
  union
  select e.src, r.label from edges e join reach r on e.dst = r.id
)
select id as doc_id, min(label) as cluster_id from reach group by id
""",
    survey_ref="dedup-clusters",
    doc="duplicate-group assembly: connected components over near-dup "
    "pairs via iterative min-label propagation (oracle: recursive CTE); "
    "cluster_id = min reachable doc id, singletons keep their own id.",
)
def dd_dedup_clusters(spark, sf_dir):
    from ..operators.dedup import dedup_clusters

    docs = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.8)
    return dedup_clusters(docs, pairs)


@register(
    "dd_canonical_pick",
    oracle=f"""
with recursive jp as ({_JACCARD_PAIRS_SQL}),
edges as (select id_a as src, id_b as dst from jp
          union all
          select id_b, id_a from jp),
reach(id, label) as (
  select doc_id, doc_id from documents
  union
  select e.src, r.label from edges e join reach r on e.dst = r.id
),
cl as (select id as doc_id, min(label) as cluster_id from reach group by id),
j as (select cl.cluster_id, d.doc_id, d.n_chars
      from cl join documents d on cl.doc_id = d.doc_id),
r as (select cluster_id, doc_id, n_chars,
             row_number() over (partition by cluster_id
                                order by n_chars desc, doc_id asc) as rn,
             count(*) over (partition by cluster_id) as n_members
      from j)
select cluster_id, doc_id as canonical_id,
       cast(n_members as bigint) as n_members,
       n_chars as canonical_quality
from r where rn = 1
""",
    survey_ref="dedup-canonical",
    doc="keep-BEST-duplicate finisher: connected components over near-dup "
    "pairs, then per cluster elect the highest-quality member (n_chars "
    "proxy; ties -> smallest id).  Near-dup members differ, so real "
    "curation keeps the best copy, not min(id); one window on cluster_id "
    "over (id, quality) scalars — the payload never shuffles.",
)
def dd_canonical_pick(spark, sf_dir):
    from ..operators.dedup import canonical_pick, dedup_clusters

    docs = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.8)
    clusters = dedup_clusters(docs, pairs)
    return canonical_pick(docs, clusters, quality_col="n_chars")


@register(
    "dd_minhash_lsh",
    oracle=None,  # xxhash64 permutations are engine-specific; the identical
    # pipeline IS hash-certified via the md5 family (dd_minhash_md5)
    survey_ref="dedup-minhash-lsh",
    doc="MinHash(64) banded LSH candidates + exact-Jaccard verify "
    "(xxhash64 scale path; see dd_minhash_md5 for the oracle-certified "
    "md5-family twin of the same banding pipeline).",
)
def dd_minhash_lsh(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, shingle_n=3, jaccard_threshold=0.2
    )


def _minhash_md5_oracle(num_perm: int = 16, bands: int = 4, shingle_n: int = 3, t: float = 0.2) -> str:
    """DuckDB replay of the ENTIRE md5-family MinHash pipeline: shingle
    -> per-permutation md5 min -> band bucket -> bucket candidates ->
    exact-Jaccard verify.  Mirrors `dedup.minhash_md5_pairs` expression
    for expression."""
    r = num_perm // bands
    n1 = shingle_n - 1
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len(tk) - {n1}, 1) + 1), "
        f"i -> array_to_string(tk[i:i+{n1}], ' ')))"
    )
    mins = ", ".join(f"min(md5('{p}:' || _s)) as m{p}" for p in range(num_perm))
    band_rows = "\n  union all\n  ".join(
        f"select _id, {b} as band, md5(concat_ws('|', "
        + ", ".join(f"m{b * r + j}" for j in range(r))
        + ")) as bucket from sigs"
        for b in range(bands)
    )
    return f"""
with sh as (
  select doc_id as _id, unnest({shingles}) as _s
  from (select doc_id, string_split(text, ' ') as tk from documents)
),
sigs as (select _id, {mins} from sh group by _id),
banded as (
  {band_rows}
),
cand as (
  select distinct l._id as id_a, r._id as id_b
  from banded l join banded r on l.band = r.band and l.bucket = r.bucket
                             and l._id < r._id
),
sizes as (select _id, count(*) as _sz from sh group by _id),
inter as (
  select c.id_a, c.id_b, count(*) as _inter
  from cand c
  join sh a on a._id = c.id_a
  join sh b on b._id = c.id_b and a._s = b._s
  group by 1, 2
)
select id_a, id_b,
       (_inter / (sa._sz + sb._sz - _inter)) as jaccard
from inter
join sizes sa on inter.id_a = sa._id
join sizes sb on inter.id_b = sb._id
where (_inter / (sa._sz + sb._sz - _inter)) >= {t}
"""


@register(
    "dd_minhash_md5",
    oracle=_minhash_md5_oracle(),
    survey_ref="dedup-minhash-lsh",
    doc="MinHash banding with the md5 hash family: both engines share "
    "md5's hex output, so the full shingle -> permuted-min -> band-"
    "bucket -> candidate -> exact-verify pipeline replays in the oracle "
    "BITWISE (the xxhash64 default is the fast path, certified by "
    "property tests; this entry certifies the banding pipeline itself).",
)
def dd_minhash_md5(spark, sf_dir):
    from ..operators.dedup import minhash_md5_pairs

    docs = T(spark, sf_dir, "documents")
    return minhash_md5_pairs(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle_n=3, jaccard_threshold=0.2
    )


@register(
    "dd_simhash",
    oracle=None,  # xxhash64 signature is engine-specific; the identical
    # pipeline IS hash-certified via the md5 family (dd_simhash_md5)
    survey_ref="dedup-simhash",
    doc="64-bit SimHash near-dup pairs via chunk-pigeonhole candidates "
    "(xxhash64 scale path; see dd_simhash_md5 for the oracle-certified "
    "md5-family twin of the same pipeline).",
)
def dd_simhash(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=16, chunks=4)


# ---------------------------------------------------------------------------
# Text analysis.

_STOP_IN = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@register(
    "text_quality",
    oracle=f"""
select doc_id,
       cast(len(string_split(text, ' ')) as bigint) as n_tokens,
       cast(length(text) as bigint) as n_chars_calc,
       ((length(text) - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' '))) as avg_token_len,
       (len(list_filter(string_split(text, ' '), t -> t in ({_STOP_IN}))) / len(string_split(text, ' '))) as stopword_ratio
from documents
""",
    survey_ref="text-quality",
    doc="quality features: token count, avg token length, stopword ratio.",
)
def text_quality(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    q = with_text_quality(docs, "text")
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_chars_calc").cast("bigint").alias("n_chars_calc"),
        "avg_token_len",
        "stopword_ratio",
    )


@register(
    "text_langid",
    oracle=f"""
select doc_id,
       case when (len(list_filter(string_split(text, ' '), t -> t in ({_STOP_IN})))
                  / len(string_split(text, ' '))) > 0.05
            then 'en' else 'und' end as lang_pred
from documents
""",
    survey_ref="text-langid",
    doc="n-gram/stopword-density language ID heuristic.",
)
def text_langid(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return with_langid(docs, "text").select("doc_id", "lang_pred")


@register(
    "text_fingerprint",
    oracle="""
select doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) as fp
from documents
""",
    survey_ref="text-fingerprint",
    doc="document fingerprint: md5 of the sorted distinct token set.",
)
def text_fingerprint(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return with_fingerprint(docs, "text").select("doc_id", "fp")


@register(
    "text_token_count",
    oracle=rf"""
select doc_id,
       cast(len(string_split(text, ' ')) as bigint) as n_ws_tokens,
       cast(len(regexp_extract_all(text, '{TOKEN_REGEX}')) as bigint) as n_bpe_tokens
from documents
""",
    survey_ref="text-tokens",
    doc="whitespace + BPE-ish regex token counting.",
)
def text_token_count(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    tc = with_token_count(docs, "text")
    return tc.select(
        "doc_id",
        F.col("n_ws_tokens").cast("bigint").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Similarity search.

_DOT = (
    "list_reduce(list_transform(range(1, len(qv) + 1), "
    "i -> cast(qv[i] as double) * cast(cv[i] as double)), (a, b) -> a + b)"
)
_NQ = "sqrt(list_reduce(list_transform(range(1, len(qv) + 1), i -> cast(qv[i] as double) * cast(qv[i] as double)), (a, b) -> a + b))"
_NC = "sqrt(list_reduce(list_transform(range(1, len(cv) + 1), i -> cast(cv[i] as double) * cast(cv[i] as double)), (a, b) -> a + b))"


@register(
    "sim_topk_bruteforce",
    oracle=f"""
with q as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 10),
c as (select vec_id as neighbor_id, embedding as cv from embeddings),
scored as (
  select query_id, neighbor_id, ({_DOT} / ({_NQ} * {_NC})) as cos
  from c cross join q
  where query_id <> neighbor_id
),
ranked as (
  select query_id, neighbor_id, cos,
         row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, cast(rank as int) as rank, cos
from ranked where rank <= 5
""",
    survey_ref="sim-topk",
    doc="brute-force cosine top-5 per query vector (left-fold dot => cross-engine bitwise).",
)
def sim_topk_bruteforce(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "ann_gemm_topk",
    oracle=f"""
with q as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 10),
c as (select vec_id as neighbor_id, embedding as cv from embeddings),
scored as (
  select query_id, neighbor_id, ({_DOT} / ({_NQ} * {_NC})) as cos
  from c cross join q
  where query_id <> neighbor_id
),
ranked as (
  select query_id, neighbor_id, cos,
         row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, cast(rank as int) as rank, cos
from ranked where rank <= 5
""",
    survey_ref="sim-topk",
    doc=(
        "exact top-5 via blocked-GEMM candidate pruning + left-fold re-score "
        "(bitwise-identical to brute force; the 100 TB scan shape)."
    ),
)
def ann_gemm_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    out = knn_join_blocked(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


_BUCKET8 = """
select vec_id,
       list_reduce(
         list_transform(range(0, 8), p ->
           case when list_reduce(
                  list_transform(range(0, len(embedding)), d ->
                    cast((((p * 1009 + d + 1) * 2654435761) % 2147483648) - 1073741824 as double)
                    * cast(embedding[d + 1] as double)),
                  (a, b) -> a + b) > 0
                then cast(1 as bigint) << p else cast(0 as bigint) end),
         (a, b) -> a + b) as bucket
from embeddings
"""


# PQ: shared formula codebook (pq_formula_codebook_sql) replayed in DuckDB.
# dist fold order (j ascending), argmin tie-break (lowest code), and the
# ADC fold (sub ascending, 0.0 seed) all match the Spark expressions
# exactly, so both entries hash bitwise.
_PQ_DIST = """
  select e.vec_id, g.sub, g.code,
         list_reduce(list_transform(range(0, 8), j ->
             (cast(e.embedding[g.sub*8 + j + 1] as double)
               - cast((g.code*(j+3) + g.sub*7) % 17 - 8 as double) / 8.0)
           * (cast(e.embedding[g.sub*8 + j + 1] as double)
               - cast((g.code*(j+3) + g.sub*7) % 17 - 8 as double) / 8.0)),
           (a, b) -> a + b) as dist
  from embeddings e
  cross join (select s.range as sub, c.range as code from range(8) s, range(16) c) g
"""

_PQ_ENC = f"""
with dists as ({_PQ_DIST}),
ranked as (
  select vec_id, sub, code,
         row_number() over (partition by vec_id, sub order by dist asc, code asc) as rn
  from dists
)
"""


@register(
    "pq_encode_codes",
    oracle=_PQ_ENC
    + """
select vec_id, cast(sub as int) as sub, cast(code as int) as code
from ranked where rn = 1
""",
    survey_ref="sim-ann-pq",
    doc="product-quantization encode (Jegou et al. TPAMI'11): argmin "
    "subspace centroid per 8-dim block, pure codegen (no Python, no "
    "shuffle); 32x memory compression for corpus-scale ANN indexes.  "
    "Oracle replays the identical squared-distance folds + tie-break.",
)
def pq_encode_codes(spark, sf_dir):
    from ..operators.similarity import pq_encode

    emb = T(spark, sf_dir, "embeddings")
    return pq_encode(emb).select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )


@register(
    "ann_pq_topk",
    oracle=_PQ_ENC
    + """,
enc as (select vec_id, sub, code from ranked where rn = 1),
qd as (select vec_id, sub, code, dist from dists where vec_id < 5),
pair as (
  select qd.vec_id as query_id, e.vec_id as neighbor_id,
         list_reduce(list(qd.dist order by qd.sub), (a, b) -> a + b) as adist
  from enc e
  join qd on qd.sub = e.sub and qd.code = e.code
  where qd.vec_id <> e.vec_id
  group by qd.vec_id, e.vec_id
),
rk as (
  select query_id, neighbor_id, adist,
         row_number() over (partition by query_id order by adist asc, neighbor_id asc) as rank
  from pair
)
select query_id, neighbor_id, cast(rank as int) as rank, adist
from rk where rank <= 5
""",
    survey_ref="sim-ann-pq",
    doc="ADC top-k over the PQ-encoded corpus: broadcast per-query "
    "(8x16) lookup tables, m array lookups + one left fold per corpus "
    "row, WindowGroupLimit rank.  Bitwise oracle via the shared codebook "
    "formula and fold orders.",
)
def ann_pq_topk(spark, sf_dir):
    from ..operators.similarity import pq_topk

    emb = T(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 5), k_neighbors=5)


@register(
    "ann_lsh_buckets",
    oracle=_BUCKET8,
    survey_ref="sim-ann-lsh",
    doc="hyperplane-LSH bucket assignment (deterministic integer-arithmetic planes).",
)
def ann_lsh_buckets(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    return emb.select("vec_id", lsh_signature(F.col("embedding"), 8).alias("bucket"))




@register(
    "ann_lsh_topk",
    oracle=f"""
with sigs as ({_BUCKET8}),
q as (select s.vec_id as query_id, e.embedding as qv, s.bucket
      from sigs s join embeddings e using (vec_id) where s.vec_id < 10),
c as (select s.vec_id as neighbor_id, e.embedding as cv, s.bucket
      from sigs s join embeddings e using (vec_id)),
scored as (
  select query_id, neighbor_id, ({_DOT} / ({_NQ} * {_NC})) as cos
  from c join q using (bucket)
  where query_id <> neighbor_id
),
ranked as (
  select query_id, neighbor_id, cos,
         row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, cast(rank as int) as rank, cos
from ranked where rank <= 5
""",
    survey_ref="sim-ann-lsh",
    doc="ANN top-k restricted to the query's LSH bucket (scale path); "
    "oracle replays the identical integer-plane bucketing + in-bucket "
    "exact rerank, bitwise.",
)
def ann_lsh_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    out = lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_planes=8)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "ann_recall_eval",
    oracle=f"""
with sigs as ({_BUCKET8}),
q0 as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 10),
c0 as (select vec_id as neighbor_id, embedding as cv from embeddings),
ex as (
  select query_id, neighbor_id from (
    select query_id, neighbor_id,
           row_number() over (partition by query_id
             order by ({_DOT} / ({_NQ} * {_NC})) desc, neighbor_id asc) as rank
    from c0 cross join q0 where query_id <> neighbor_id) t
  where rank <= 5
),
ql as (select s.vec_id as query_id, e.embedding as qv, s.bucket
       from sigs s join embeddings e using (vec_id) where s.vec_id < 10),
cl as (select s.vec_id as neighbor_id, e.embedding as cv, s.bucket
       from sigs s join embeddings e using (vec_id)),
ap as (
  select query_id, neighbor_id from (
    select query_id, neighbor_id,
           row_number() over (partition by query_id
             order by ({_DOT} / ({_NQ} * {_NC})) desc, neighbor_id asc) as rank
    from cl join ql using (bucket) where query_id <> neighbor_id) t
  where rank <= 5
)
select ex.query_id,
       cast(count(ap.neighbor_id) as bigint) as hits,
       (cast(count(ap.neighbor_id) as bigint) / 5.0) as recall_at_5
from ex left join ap on ex.query_id = ap.query_id and ex.neighbor_id = ap.neighbor_id
group by ex.query_id
""",
    survey_ref="sim-ann-lsh",
    doc="ANN quality gate: recall@5 of the LSH-bucketed scale path vs "
    "exact brute-force cosine, per query, in ONE query — the standard "
    "production acceptance metric for approximate retrieval (an index "
    "config ships only if measured recall on a sampled query set "
    "clears the bar).  Both rankings share the certified left-fold "
    "cosine grammar and (cos desc, neighbor_id asc) tie-break, so the "
    "oracle replays bitwise.  Scale: the exact leg is the expensive "
    "one BY DESIGN (recall is measured against ground truth on a "
    "BOUNDED query sample — here vec_id < 10 — never all queries); "
    "corpus-side cost is one brute-force scan per eval run, the same "
    "budget any ANN benchmark pays.",
)
def ann_recall_eval(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = lsh_ann_topk(emb, q, k=5, n_planes=8).select(
        F.col("query_id").alias("_aq"), F.col("neighbor_id").alias("_an")
    )
    return (
        exact.join(
            approx,
            (exact.query_id == approx._aq) & (exact.neighbor_id == approx._an),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("_an").alias("hits"))
        .select(
            "query_id",
            F.col("hits").cast("bigint").alias("hits"),
            (F.col("hits").cast("bigint") / F.lit(5.0)).alias("recall_at_5"),
        )
    )


def _cosf(a: str, b: str) -> str:
    """DuckDB cosine with the same left-fold arithmetic as
    ``operators.similarity.cosine`` — bitwise-comparable."""
    def dot(x, y):
        return (
            f"list_reduce(list_transform(range(1, len({x}) + 1), "
            f"i -> cast({x}[i] as double) * cast({y}[i] as double)), (x, y) -> x + y)"
        )

    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


@register(
    "ann_lsh_pq_topk",
    oracle=f"""{_PQ_ENC},
enc as (select vec_id, sub, code from ranked where rn = 1),
sigs as ({_BUCKET8}),
q as (select vec_id as query_id, bucket from sigs where vec_id < 5),
c as (select vec_id as neighbor_id, bucket from sigs),
cand as (
  select q.query_id, c.neighbor_id
  from c join q using (bucket)
  where q.query_id <> c.neighbor_id
),
qd as (select vec_id, sub, code, dist from dists where vec_id < 5),
adc as (
  select cand.query_id, cand.neighbor_id,
         list_reduce(list(qd.dist order by qd.sub), (a, b) -> a + b) as adist
  from cand
  join enc e on e.vec_id = cand.neighbor_id
  join qd on qd.vec_id = cand.query_id and qd.sub = e.sub and qd.code = e.code
  group by cand.query_id, cand.neighbor_id
),
short as (
  select query_id, neighbor_id,
         row_number() over (partition by query_id order by adist asc, neighbor_id asc) as rr
  from adc
),
rescored as (
  select s.query_id, s.neighbor_id, {_cosf('qe.embedding', 'ne.embedding')} as cos
  from short s
  join embeddings qe on qe.vec_id = s.query_id
  join embeddings ne on ne.vec_id = s.neighbor_id
  where s.rr <= 20
),
fin as (
  select query_id, neighbor_id, cos,
         row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from rescored
)
select query_id, neighbor_id, cast(rank as int) as rank, cos
from fin where rank <= 5
""",
    survey_ref="sim-ann-pq,sim-ann-lsh",
    doc="two-stage production retrieval: LSH bucket recall -> PQ/ADC cheap "
    "scoring -> exact cosine rerank of the 20-row short list.  Every stage "
    "deterministic; the oracle replays the whole pipeline bitwise.",
)
def ann_lsh_pq_topk(spark, sf_dir):
    from ..operators.similarity import lsh_pq_topk

    emb = T(spark, sf_dir, "embeddings")
    return lsh_pq_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, n_planes=8, rerank=20)


def _banded_sig_sql(r: int = 4, b: int = 8) -> str:
    """DuckDB replica of the Spark banded LSH signature: band ``bd`` uses
    planes [bd*r, bd*r + r) of the same integer-arithmetic family as
    ``similarity.hyperplane_weight`` — bitwise cross-engine."""
    return f"""
  select e.vec_id, e.embedding, bands.bd as band,
         list_reduce(
           list_transform(range(0, {r}), p ->
             case when list_reduce(
                    list_transform(range(0, len(e.embedding)), d ->
                      cast(((((bands.bd * {r} + p) * 1009 + d + 1) * 2654435761)
                            % 2147483648) - 1073741824 as double)
                      * cast(e.embedding[d + 1] as double)),
                    (a, b) -> a + b) > 0
                  then cast(1 as bigint) << p else cast(0 as bigint) end),
           (a, b) -> a + b) as bucket
  from embeddings e cross join (select unnest(range(0, {b})) as bd) bands
"""


@register(
    "dd_embedding_cosine",
    oracle=f"""
with sigs as ({_banded_sig_sql()}),
cands as (
  select distinct s1.vec_id as id_a, s2.vec_id as id_b
  from sigs s1
  join sigs s2 on s1.band = s2.band and s1.bucket = s2.bucket
              and s1.vec_id < s2.vec_id
)
select c.id_a, c.id_b, {_cosf('ea.embedding', 'eb.embedding')} as cos
from cands c
join embeddings ea on ea.vec_id = c.id_a
join embeddings eb on eb.vec_id = c.id_b
where {_cosf('ea.embedding', 'eb.embedding')} >= 0.4
""",
    survey_ref="dedup-embedding-cosine",
    doc="embedding-cosine near-dup pairs via the SCALE path: banded-LSH "
    "candidates (equi-join on (band, bucket), never all-pairs) + exact "
    "cosine verify; the oracle replicates the identical banded pipeline "
    "(deterministic integer planes), so the match is bitwise.  The "
    "all-pairs verifier stays available as cosine_near_pairs(exact=True) "
    "and bounds recall in tests/test_similarity.py.",
)
def dd_embedding_cosine(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    # banded-LSH path; fixture geometry (r=4, b=8) matches the oracle SQL
    # and the loose t=0.4 threshold of the synthetic embeddings — see the
    # operator docstring for production geometry (r grows with corpus)
    return cosine_near_pairs(emb, threshold=0.4, n_planes=4, n_bands=8)


@register(
    "dd_semantic_dedup",
    oracle=f"""
with recursive sigs as ({_banded_sig_sql()}),
pairs as (
  select c.id_a, c.id_b
  from (
    select distinct s1.vec_id as id_a, s2.vec_id as id_b
    from sigs s1
    join sigs s2 on s1.band = s2.band and s1.bucket = s2.bucket
                and s1.vec_id < s2.vec_id
  ) c
  join embeddings ea on ea.vec_id = c.id_a
  join embeddings eb on eb.vec_id = c.id_b
  where {_cosf('ea.embedding', 'eb.embedding')} >= 0.4
),
edges as (select id_a as src, id_b as dst from pairs
          union all
          select id_b, id_a from pairs),
reach(id, label) as (
  select vec_id, vec_id from embeddings
  union
  select e.src, r.label from edges e join reach r on e.dst = r.id
),
labels as (select id, min(label) as cluster_id from reach group by id)
select cluster_id, cast(count(*) as bigint) as n_members
from labels group by cluster_id
""",
    survey_ref="dedup-semantic",
    doc="end-to-end semantic dedup: banded-LSH cosine pairs -> star-"
    "contraction connected components -> one canonical id (cluster "
    "minimum) per near-dup group with its member count.  Every stage is "
    "the scale path; the oracle replays the identical pipeline "
    "(recursive-CTE components).",
)
def dd_semantic_dedup(spark, sf_dir):
    from ..operators.dedup import dedup_clusters

    emb = T(spark, sf_dir, "embeddings")
    pairs = cosine_near_pairs(emb, threshold=0.4, n_planes=4, n_bands=8)
    clusters = dedup_clusters(
        emb.select("vec_id"), pairs, id_col="vec_id", id_a="id_a", id_b="id_b"
    )
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


def _ivf_oracle(n_cells: int = 8, n_probe: int = 2, k: int = 5) -> str:
    return f"""
with cents as (select vec_id as _cid, embedding as _cv from embeddings where vec_id < {n_cells}),
corpus as (select vec_id as neighbor_id, embedding as cvv from embeddings),
c_assign as (
  select neighbor_id, cvv, _cid from (
    select neighbor_id, cvv, _cid,
           row_number() over (partition by neighbor_id order by ccos desc, _cid asc) as crk
    from (select neighbor_id, cvv, _cid, {_cosf('cvv', '_cv')} as ccos
          from corpus cross join cents)
  ) where crk <= 1
),
qs as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 10),
q_assign as (
  select query_id, qv, _cid from (
    select query_id, qv, _cid,
           row_number() over (partition by query_id order by ccos desc, _cid asc) as crk
    from (select query_id, qv, _cid, {_cosf('qv', '_cv')} as ccos
          from qs cross join cents)
  ) where crk <= {n_probe}
),
scored as (
  select query_id, neighbor_id, {_cosf('qv', 'cvv')} as cos
  from q_assign join c_assign using (_cid)
  where query_id <> neighbor_id
),
ranked as (
  select query_id, neighbor_id, cos,
         row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, cast(rank as int) as rank, cos
from ranked where rank <= {k}
"""


@register(
    "ann_ivf_topk",
    oracle=_ivf_oracle(),
    survey_ref="sim-ann-ivf",
    doc="IVF-cell ANN: deterministic centroids, n_probe nearest cells, exact rerank.",
)
def ann_ivf_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_cells=8, n_probe=2)


# ---------------------------------------------------------------------------
# Multimodal metadata + inference surface.


@register(
    "mm_binary_metadata",
    oracle="""
select doc_id,
       cast(octet_length(cast(text as blob)) as bigint) as n_bytes,
       sha256(text) as sha
from documents
""",
    survey_ref="multimodal-binary",
    doc="opaque-binary column metadata, JVM-side (the always-available codec-free path).",
)
def mm_binary_metadata(spark, sf_dir):
    docs = T(spark, sf_dir, "documents").withColumn(
        "payload", F.col("text").cast("binary")
    )
    out = with_binary_metadata(docs, "payload")
    return out.select(
        "doc_id", F.col("n_bytes").cast("bigint").alias("n_bytes"), "sha"
    )


# Real codec round-trips (operators/codecs.py): each document synthesizes a
# deterministic image/waveform, encodes it to the REAL container format,
# decodes it back inside mapInPandas, and emits integer stats the DuckDB
# oracle derives independently from the closed-form pixel/sample pattern —
# so a single flipped bit anywhere in the encoder, zlib stream, filter
# reconstruction, or dispatch fails the hash gate.

_MM_W, _MM_H = 24, 16
_WAV_N, _WAV_RATE = 64, 16000


@register(
    "mm_decode_png",
    oracle=f"""
select d.doc_id,
       cast({_MM_W} as int) as width,
       cast({_MM_H} as int) as height,
       cast(sum((d.doc_id*7 + g.y*5 + g.x*3 + g.c*11) % 256) as bigint) as pix_sum
from documents d
cross join (select y.range as y, x.range as x, c.range as c
            from range({_MM_H}) y, range({_MM_W}) x, range(3) c) g
group by d.doc_id
""",
    survey_ref="multimodal-decode",
    doc="REAL PNG decode (pure zlib+numpy, operators/codecs.py): encode a "
    "per-doc RGB pattern with all five PNG scanline filters (row%5), decode "
    "it back, emit pixel sums the oracle computes from the closed form.",
)
def mm_decode_png(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T_

    from ..operators.codecs import decode_png, encode_png

    w, h = _MM_W, _MM_H
    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType(), False),
            T_.StructField("width", T_.IntegerType(), True),
            T_.StructField("height", T_.IntegerType(), True),
            T_.StructField("pix_sum", T_.LongType(), True),
        ]
    )

    def run(batches):
        import numpy as np

        yy, xx, cc = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
        base = yy * 5 + xx * 3 + cc * 11
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                img = ((int(doc_id) * 7 + base) % 256).astype(np.uint8)
                back = decode_png(encode_png(img, filter_mode="cycle"))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "width": back.shape[1],
                        "height": back.shape[0],
                        "pix_sum": int(back.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "width", "height", "pix_sum"])

    return (
        _spread_ids(T(spark, sf_dir, "documents").select("doc_id")).mapInPandas(run, schema=schema)
    )


@register(
    "mm_audio_wav",
    oracle=f"""
select d.doc_id,
       cast({_WAV_N} as bigint) as n_samples,
       cast({_WAV_RATE} as int) as sample_rate,
       cast(sum((d.doc_id*13 + g.i*17) % 65536 - 32768) as bigint) as amp_sum
from documents d
cross join (select i.range as i from range({_WAV_N}) i) g
group by d.doc_id
""",
    survey_ref="multimodal-decode",
    doc="REAL WAV decode (RIFF PCM, operators/codecs.py): per-doc int16 "
    "waveform encoded to a valid WAV and decoded back; sample sums oracle-"
    "derived from the closed form.",
)
def mm_audio_wav(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T_

    from ..operators.codecs import decode_wav, encode_wav

    n, rate = _WAV_N, _WAV_RATE
    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType(), False),
            T_.StructField("n_samples", T_.LongType(), True),
            T_.StructField("sample_rate", T_.IntegerType(), True),
            T_.StructField("amp_sum", T_.LongType(), True),
        ]
    )

    def run(batches):
        import numpy as np

        idx = np.arange(n, dtype=np.int64)
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                samples = ((int(doc_id) * 13 + idx * 17) % 65536 - 32768).astype(np.int16)
                back, got_rate = decode_wav(encode_wav(samples, rate))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "n_samples": int(back.shape[0]),
                        "sample_rate": int(got_rate),
                        "amp_sum": int(back.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "n_samples", "sample_rate", "amp_sum"])

    return (
        _spread_ids(T(spark, sf_dir, "documents").select("doc_id")).mapInPandas(run, schema=schema)
    )


@register(
    "u6_mapinpandas_inference",
    oracle="""
select vec_id,
       list_reduce(
         list_transform(range(0, len(embedding)), j ->
           cast(embedding[j + 1] as double) * (cast(((j * 37) % 19 - 9) as double) / 10)),
         (a, b) -> a + b) as score
from embeddings
""",
    survey_ref="U1,U4,U6,S5",
    doc="Arrow-batched mapInPandas scoring with a broadcast artifact; the linear stand-in "
    "shares the torch/CatBoost plumbing (model.py:27-145, run.py:466-475).",
)
def u6_mapinpandas_inference(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    dim = 64
    weights = [((j * 37) % 19 - 9) / 10 for j in range(dim)]
    return score_with_model(
        emb, linear_scorer(weights), id_col="vec_id", vec_col="embedding", round_digits=None
    )


# ---------------------------------------------------------------------------
# Corpus prep: chunking, repetition scoring, deterministic mixing.


@register(
    "text_chunking",
    oracle="""
with t as (select doc_id, string_split(text, ' ') as toks from documents),
c as (select doc_id, toks,
             unnest(range(cast(ceil(len(toks)/16.0) as bigint))) as chunk_id
      from t)
select doc_id, chunk_id,
       array_to_string(toks[chunk_id*16+1 : (chunk_id+1)*16], ' ') as chunk,
       len(toks[chunk_id*16+1 : (chunk_id+1)*16]) as n_chunk_tokens
from c
""",
    survey_ref="text-chunking",
    doc="context-window chunking: 16-token windows per document, ragged "
    "tail kept; shuffle-free explode.",
)
def text_chunking(spark, sf_dir):
    from ..operators.text import chunk_documents

    return chunk_documents(T(spark, sf_dir, "documents"), chunk_tokens=16)


@register(
    "text_repetition",
    oracle="""
select doc_id,
       cast(len(string_split(text, ' ')) - len(list_distinct(string_split(text, ' ')))
            as double) / len(string_split(text, ' ')) as dup_token_ratio
from documents
""",
    survey_ref="text-repetition",
    doc="repetition quality metric: duplicated-token fraction per doc.",
)
def text_repetition(spark, sf_dir):
    from ..operators.text import with_repetition

    docs = T(spark, sf_dir, "documents")
    return with_repetition(docs).select("doc_id", "dup_token_ratio")


@register(
    "dp_corpus_mix",
    oracle="""
select doc_id, source from documents
where doc_id % 100 < case when source in ('src0', 'src1') then 100
                          when source in ('src2', 'src3') then 37
                          else 0 end
""",
    survey_ref="corpus-mixing",
    doc="deterministic weighted corpus mixing: id-modulo predicate "
    "(engine- and partitioning-independent, unlike sample()).",
)
def dp_corpus_mix(spark, sf_dir):
    from ..operators.filtering import deterministic_mix

    docs = T(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 1.0, "src2": 0.37, "src3": 0.37}
    return deterministic_mix(docs, rates).select("doc_id", "source")


@register(
    "text_normalize",
    oracle="""
select doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) as text_norm
from documents
""",
    survey_ref="text-normalize",
    doc="canonical normalization (lower, strip punctuation, collapse "
    "whitespace) feeding dedup/fingerprints; shuffle-free codegen.",
)
def text_normalize(spark, sf_dir):
    from ..operators.text import normalize_text

    docs = T(spark, sf_dir, "documents")
    return normalize_text(docs).select("doc_id", "text_norm")


@register(
    "text_tfidf",
    oracle="""
with t as (select doc_id, unnest(string_split(text, ' ')) as term from documents),
tf as (select doc_id, term, count(*) as tf from t group by 1, 2),
dft as (select term, count(*) as df from tf group by 1),
n as (select cast(count(*) as double) as n_docs from documents)
select doc_id, term, tf, df, (tf * ln(n.n_docs / df)) as tfidf
from tf join dft using (term), n
""",
    survey_ref="text-tfidf",
    doc="corpus TF-IDF: (doc,term) tf + term df + tf*ln(N/df); two hash "
    "aggs and a term join, no driver-side vocabulary.",
)
def text_tfidf(spark, sf_dir):
    from ..operators.text import tfidf

    return tfidf(T(spark, sf_dir, "documents"))


@register(
    "dp_modulo_split",
    oracle="""
select doc_id,
       case when doc_id % 100 < 90 then 'train'
            when doc_id % 100 < 95 then 'val'
            else 'test' end as split
from documents
""",
    survey_ref="dp-split",
    doc="deterministic train/val/test assignment by id-modulo buckets: "
    "re-runnable, engine-portable, pushdown-friendly (no RNG).",
)
def dp_modulo_split(spark, sf_dir):
    from ..operators.filtering import modulo_split

    docs = T(spark, sf_dir, "documents")
    return modulo_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05}).select(
        "doc_id", "split"
    )


@register(
    "text_pack_sequences",
    oracle="""
with t as (
  select doc_id, source, cast(len(string_split(text, ' ')) as bigint) as n_tokens
  from documents
)
select doc_id, source, n_tokens,
       cast(floor(coalesce(sum(n_tokens) over (
           partition by source order by doc_id
           rows between unbounded preceding and 1 preceding), 0) / 512.0)
         as bigint) as pack_id
from t
""",
    survey_ref="dp-packing",
    doc="fixed-token-budget sequence packing per source shard (exclusive "
    "running token count floor-divided by budget); shards pack in "
    "parallel — no global ordered cumsum bottleneck.",
)
def text_pack_sequences(spark, sf_dir):
    from ..operators.text import pack_sequences

    return pack_sequences(T(spark, sf_dir, "documents"), target_tokens=512)


@register(
    "text_scrub_pii",
    oracle=r"""
select doc_id,
  regexp_replace(regexp_replace(regexp_replace(
    text || ' contact u' || cast(doc_id as varchar)
         || '@ex.org or 192.168.0.1 or +7 912 345 6789',
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\b\+?\d[\d -]{7,14}\d\b', '<PHONE>', 'g') as text_scrubbed
from documents
""",
    survey_ref="dp-pii",
    doc="PII redaction (emails/IPv4/phones -> typed tokens) over docs "
    "with injected synthetic PII; RE2-safe patterns, codegen-only.",
)
def text_scrub_pii(spark, sf_dir):
    from ..operators.text import scrub_pii

    docs = T(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org or 192.168.0.1 or +7 912 345 6789"),
        ),
    )
    return scrub_pii(docs).select("doc_id", "text_scrubbed")


@register(
    "text_strip_html",
    oracle=r"""
select doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        '<html><script>var x=1;</script><style>.a{}</style><!-- c --><p>'
          || text || '</p> &amp; &lt;tail' || cast(doc_id as varchar) || '&gt;</html>',
        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '<[^>]*>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
    '\s+', ' ', 'g')) as text_clean
from documents
""",
    survey_ref="text-strip-html",
    doc="C4-style HTML stripping (script/style/comment/tag removal, entity "
    "decode, whitespace collapse) over docs wrapped in injected markup; "
    "RE2-safe codegen chain, shuffle-free.",
)
def text_strip_html(spark, sf_dir):
    from ..operators.text import strip_html

    docs = T(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("<html><script>var x=1;</script><style>.a{}</style><!-- c --><p>"),
            F.col("text"),
            F.lit("</p> &amp; &lt;tail"),
            F.col("doc_id").cast("string"),
            F.lit("&gt;</html>"),
        ),
    )
    return strip_html(docs).select("doc_id", "text_clean")


@register(
    "text_surprisal",
    oracle="""
with tok as (
  select doc_id,
         unnest(string_split(text, ' ')) as term,
         generate_subscripts(string_split(text, ' '), 1) as pos
  from documents
),
counts as (select term, count(*) as cnt from tok group by term),
total as (select sum(cnt) as t from counts),
vocab as (select term, cnt from counts where cnt >= 2),
scored as (
  select tok.doc_id, tok.pos,
         coalesce(ln(vocab.cnt / (select t from total)),
                  ln(0.5 / (select t from total))) as lnp
  from tok left join vocab using (term)
),
perdoc as (
  select doc_id,
         cast(count(*) as bigint) as n_tokens,
         list(-lnp order by pos) as nl
  from scored group by doc_id
)
select doc_id, n_tokens,
       (list_reduce(nl, (a, b) -> a + b) / n_tokens) as surprisal
from perdoc
""",
    survey_ref="text-surprisal",
    doc="unigram LM surprisal per doc (mean -ln p(token) under the corpus "
    "unigram distribution, OOV-smoothed): the cheap LM quality filter.  "
    "libm-exact ln via broadcast count lookup + position-ordered fold "
    "=> bitwise cross-engine.",
)
def text_surprisal(spark, sf_dir):
    from ..operators.text import unigram_logprob

    docs = T(spark, sf_dir, "documents")
    out = unigram_logprob(docs)
    return out.select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"), "surprisal")


@register(
    "text_pmi",
    oracle="""
with d as (select doc_id, string_split(text, ' ') as tk from documents),
tok as (select unnest(tk) as w from d),
uni as (select w, count(*) as c from tok group by w),
nu as (select count(*) as t from tok),
bigall as (
  select unnest(list_transform(range(1, len(tk)),
                               i -> {'w1': tk[i], 'w2': tk[i+1]}),
                recursive := true)
  from d where len(tk) >= 2
),
nb as (select count(*) as t from bigall),
big as (select w1, w2, count(*) as c_ab from bigall
        group by w1, w2 having count(*) >= 5)
select big.w1, big.w2, big.c_ab,
  ((((ln(cast(big.c_ab as double)) - ln(cast((select t from nb) as double)))
     - ln(cast(u1.c as double))) - ln(cast(u2.c as double)))
   + ln(cast((select t from nu) as double)))
   + ln(cast((select t from nu) as double)) as pmi
from big
join uni u1 on big.w1 = u1.w
join uni u2 on big.w2 = u2.w
""",
    survey_ref="text-pmi",
    doc="adjacent-bigram PMI collocation profile (Church & Hanks): "
    "ln-decomposed into integer-count lns under the engine's exact-log "
    "contract (libm lookup under EXACT_LN_GUARD, in-plan F.log at "
    "scale), left-associated IEEE sum => bitwise cross-engine.  "
    "In-array zip_with pairing — no per-token self-join.",
)
def text_pmi(spark, sf_dir):
    from ..operators.text import bigram_pmi

    return bigram_pmi(T(spark, sf_dir, "documents"), min_count=5)


_HCW = (
    "cast(cast(instr('0123456789abcdef', substr(md5(t || ':qual'), 1, 1)) - 1 "
    "as bigint) * 16 + cast(instr('0123456789abcdef', substr(md5(t || ':qual'), 2, 1)) - 1 "
    "as bigint) - 128 as double) / cast(1024 as double)"
)


@register(
    "text_hash_classifier",
    oracle=f"""
select doc_id,
       cast(len(string_split(text, ' ')) as bigint) as n_tokens,
       list_reduce(
         list_prepend(cast(0.0 as double),
           list_transform(string_split(text, ' '), t -> {_HCW})),
         (acc, x) -> acc + x) as margin,
       list_reduce(
         list_prepend(cast(0.0 as double),
           list_transform(string_split(text, ' '), t -> {_HCW})),
         (acc, x) -> acc + x) > 0.0 as keep
from documents
""",
    survey_ref="text-hash-classifier",
    doc="fastText-style hashed linear quality classifier: every token "
    "hashes to an exact k/1024 weight, the doc margin is one in-array "
    "left fold (token order both engines) plus bias, keep = sign.  "
    "Shuffle-free, explode-free, join-free — O(tokens) per doc inside "
    "whole-stage codegen; real trained weights swap in as a broadcast "
    "map join with the same plan shape.",
)
def text_hash_classifier(spark, sf_dir):
    from ..operators.text import hash_classifier_score

    return hash_classifier_score(T(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "margin", "keep"
    )


@register(
    "text_top_ngrams",
    oracle="""
with toks as (select doc_id, string_split(text, ' ') as tk from documents),
g as (
  select 1 as n, unnest(tk) as ngram from toks
  union all
  select 2 as n, unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                                       i -> array_to_string(tk[i:i+1], ' '))) as ngram
  from toks where len(tk) >= 2
  union all
  select 3 as n, unnest(list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
                                       i -> array_to_string(tk[i:i+2], ' '))) as ngram
  from toks where len(tk) >= 3
),
counted as (select n, ngram, count(*) as cnt from g group by n, ngram),
ranked as (
  select n, ngram, cnt,
         cast(row_number() over (partition by n order by cnt desc, ngram asc) as bigint) as rank
  from counted
)
select cast(n as int) as n, ngram, cnt, rank from ranked where rank <= 20
""",
    survey_ref="text-top-ngrams",
    doc="corpus top-20 n-grams for n=1..3 (vocabulary/collocation "
    "profile): per-n explode + hash count + top-k window; ties break on "
    "gram text.",
)
def text_top_ngrams(spark, sf_dir):
    from ..operators.text import top_ngrams

    docs = T(spark, sf_dir, "documents")
    return top_ngrams(docs).select(F.col("n").cast("int").alias("n"), "ngram", "cnt", "rank")


_NRM = (
    "sqrt(list_reduce(list_transform(range(1, len(embedding) + 1), "
    "i -> cast(embedding[i] as double) * cast(embedding[i] as double)), "
    "(a, b) -> a + b))"
)


@register(
    "emb_l2_normalize",
    oracle=f"""
with e as (select vec_id, embedding, {_NRM} as nrm from embeddings),
u as (select vec_id, nrm, embedding,
             unnest(range(1, len(embedding) + 1)) as i from e)
select vec_id, cast(i - 1 as int) as pos,
       (cast(embedding[i] as double) / nrm) as val
from u
""",
    survey_ref="emb-normalize",
    doc="unit-normalize embeddings (cosine becomes dot); exploded to "
    "(vec_id, pos, val) for value-level cross-engine comparison.",
)
def emb_l2_normalize(spark, sf_dir):
    from ..operators.similarity import l2_normalize

    emb = T(spark, sf_dir, "embeddings")
    return l2_normalize(emb).select(
        "vec_id", F.posexplode("unit_vec").alias("pos", "val")
    )


@register(
    "emb_gram_matrix",
    oracle=f"""
with x as (
  select vec_id,
         cast(generate_subscripts(embedding, 1) - 1 as int) as i,
         unnest(embedding) as v
  from embeddings where embedding is not null
),
p as (
  select a.i as i, b.i as j,
         cast(a.v as double) * cast(b.v as double) as p
  from x a join x b on a.vec_id = b.vec_id and b.i >= a.i
)
select i, j, {sqlgen.fsum("p", "g")}, count(*) as n
from p group by i, j
""",
    survey_ref="emb-gram",
    doc="one-pass upper-triangular Gram (second-moment) matrix of the "
    "embedding corpus — the PCA/whitening aggregation: Arrow-batched "
    "numpy outer products (no component self-join on the Spark side), "
    "one hash aggregate merging the per-batch partials (shuffle <= "
    "d(d+1)/2 rows/batch at any corpus size), fixed-point fsum "
    "accumulation => bitwise "
    "cross-engine.  The driver-side eigh + Arrow-batched projection "
    "(whitening_matrix/apply_projection) are numpy-parity pytest-pinned.",
)
def emb_gram_matrix(spark, sf_dir):
    from ..operators.similarity import embedding_gram

    # embedding_gram's one path is Arrow-batched numpy (one BLAS product
    # block per batch, ~4x the all-Catalyst explode at sf0.1: 3.4 -> 0.9 s
    # warm); the explode survives as the bitwise test reference
    # reference_gram_expr in tests/test_similarity.py.
    return embedding_gram(T(spark, sf_dir, "embeddings"))


@register(
    "emb_quantize_int8",
    oracle="""
with m as (
  select vec_id, embedding,
         cast(127 as double) / list_max(list_transform(
             range(1, len(embedding) + 1),
             i -> abs(cast(embedding[i] as double)))) as q_scale
  from embeddings
),
u as (select vec_id, q_scale, embedding,
             unnest(range(1, len(embedding) + 1)) as i from m)
select vec_id, cast(i - 1 as int) as pos, q_scale,
       cast(floor(cast(embedding[i] as double) * q_scale + 0.5) as int) as q
from u
""",
    survey_ref="emb-quantize",
    doc="symmetric int8 quantization (scale = 127/max|x|, emitted for "
    "dequant); 4x embedding storage cut for ANN candidate stores.",
)
def emb_quantize_int8(spark, sf_dir):
    from ..operators.similarity import quantize_int8

    emb = T(spark, sf_dir, "embeddings")
    return quantize_int8(emb).select(
        "vec_id", F.posexplode("q_vec").alias("pos", "q"), "q_scale"
    )


@register(
    "mm_resize",
    oracle="""
with raw as (
  select doc_id as media_id,
         substr(hex(coalesce(encode(text), '' :: blob)), 1, 128) as hx
  from documents
),
pix as (
  select media_id,
         list_transform(range(0, 64), k ->
           case when 2*k + 2 <= len(hx)
                then cast(('0x' || substr(hx, 2*k + 1, 2)) as int)
                else 0 end) as p
  from raw
),
consts as (
  select
    list_transform(range(0, 16), r ->
      greatest(0, least(7, cast(floor(r / 2.0 - 0.25) as int)))) as i0,
    list_transform(range(0, 16), r ->
      least(greatest(0, least(7, cast(floor(r / 2.0 - 0.25) as int))) + 1, 7)) as i1,
    list_transform(range(0, 16), r ->
      greatest(0.0, least(1.0, (r / 2.0 - 0.25)
        - greatest(0, least(7, cast(floor(r / 2.0 - 0.25) as int)))))) as w
),
vals as (
  select media_id,
         list_transform(range(0, 256), k ->
           ( p[i0[k // 16 + 1] * 8 + i0[k % 16 + 1] + 1] * (1 - w[k % 16 + 1])
           + p[i0[k // 16 + 1] * 8 + i1[k % 16 + 1] + 1] * w[k % 16 + 1]
           ) * (1 - w[k // 16 + 1])
           +
           ( p[i1[k // 16 + 1] * 8 + i0[k % 16 + 1] + 1] * (1 - w[k % 16 + 1])
           + p[i1[k // 16 + 1] * 8 + i1[k % 16 + 1] + 1] * w[k % 16 + 1]
           ) * w[k // 16 + 1]
         ) as v
  from pix cross join consts
),
grid as (
  select media_id,
         list_transform(v, x ->
           case when x - floor(x) > 0.5 then floor(x) + 1
                when x - floor(x) < 0.5 then floor(x)
                else floor(x) + cast(cast(floor(x) as bigint) % 2 as double)
           end) as outp
  from vals
)
select media_id, cast(k as int) as pos, cast(outp[k + 1] as int) as px
from (select media_id, outp, unnest(range(0, 256)) as k from grid)
""",
    survey_ref="multimodal-resize",
    doc="REAL image resize over binary media columns: per-doc PNG payloads "
    "(first 64 UTF-8 bytes of text as an 8x8 grayscale image) decoded "
    "(operators/codecs.py), bilinear-resampled 8x8->16x16 in numpy "
    "(align_corners=False, np.rint half-to-even), re-encoded PNG — "
    "Arrow-batched mapInPandas, payloads never shuffled.  The final "
    "decode-and-explode makes the binary output hash-gateable: the oracle "
    "replays UTF-8 byte extraction (hex pairs), the exact clipped-edge "
    "bilinear weights (all exact binary fractions, so float64 arithmetic "
    "is order-independent and bitwise reproducible), and round-half-even "
    "in pure SQL.  One flipped bit in the resampler, or any encoder bug "
    "that does not survive its own decode_png round-trip, fails the gate; "
    "a symmetric encoder+decoder bug that round-trips would cancel here — "
    "PNG container correctness itself is certified independently by "
    "mm_decode_png's gate against fixed byte fixtures.",
)
def mm_resize(spark, sf_dir):
    import pandas as pd

    from ..operators.codecs import decode_png, encode_png, real_resize
    from ..operators.multimodal import resize_media

    def _to_png(texts):
        import numpy as np

        out = []
        for t in texts:
            b = (t or "").encode()[:64].ljust(64, b"\0")
            out.append(encode_png(np.frombuffer(b, dtype=np.uint8).reshape(8, 8)))
        return pd.Series(out)

    def _to_pixels(payloads):
        out = []
        for p in payloads:
            out.append([int(v) for v in decode_png(bytes(p)).reshape(-1)])
        return pd.Series(out)

    to_png = F.pandas_udf(_to_png, "binary")
    to_pixels = F.pandas_udf(_to_pixels, "array<int>")

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), to_png("text").alias("payload")
    )
    resized = resize_media(d, 16, 16, resizer=real_resize)
    return resized.select(
        "media_id", F.posexplode(to_pixels("payload")).alias("pos", "px")
    )


@register(
    "dd_fuzzy_pairs",
    oracle="""
select a.lang, a.source, a.doc_id as id_a, b.doc_id as id_b,
       levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) as edit_dist
from documents a
join documents b on a.lang = b.lang and a.source = b.source
where a.doc_id < b.doc_id
  and levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 24
""",
    survey_ref="dd-fuzzy",
    doc="edit-distance near-dup pairs: bucket self-join (lang, source) "
    "+ levenshtein over bounded prefixes — the high-precision verifier "
    "for the minhash/simhash candidate families.",
)
def dd_fuzzy_pairs(spark, sf_dir):
    from ..operators.dedup import fuzzy_pairs

    return fuzzy_pairs(T(spark, sf_dir, "documents"), ["lang", "source"], max_dist=24)


@register(
    "dp_latest_by_key",
    oracle="""
select user_id, ts, event_type, value, event_id from (
  select *, row_number() over (partition by user_id
                               order by ts desc, event_id desc) as rk
  from events
) where rk = 1
""",
    survey_ref="dp-cdc-compact",
    doc="CDC latest-wins compaction: one row per user (greatest ts, "
    "event_id tie-break) — change-log -> snapshot via WindowGroupLimit.",
)
def dp_latest_by_key(spark, sf_dir):
    from ..operators.cleaning import latest_by_key

    return latest_by_key(
        T(spark, sf_dir, "events"), ["user_id"], ["ts", "event_id"]
    ).select("user_id", "ts", "event_type", "value", "event_id")


@register(
    "sql_surface",
    oracle=rf"""
select doc_id,
       cast(len(string_split(text, ' ')) as bigint) as n_ws,
       cast(len(regexp_extract_all(text, '{TOKEN_REGEX}')) as bigint) as n_bpe,
       md5(array_to_string(list_sort(list_distinct(string_split(
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')), ' '))), ' ')) as fp_norm
from documents
""",
    survey_ref="sql-surface",
    doc="pure-SQL user path: temp views + the engine's SQL-UDF library "
    "(Spark 4 CREATE FUNCTION, inlined at analysis — no Python boundary).",
)
def sql_surface(spark, sf_dir):
    from ..sqlapi import register_sql_functions, register_tables

    register_tables(spark, sf_dir)
    register_sql_functions(spark)
    return spark.sql(
        """
        select doc_id,
               cast(ws_token_count(text) as bigint)  as n_ws,
               cast(bpe_token_count(text) as bigint) as n_bpe,
               doc_fingerprint(norm_text(text))      as fp_norm
        from documents
        """
    )


# DuckDB mirror of dedup.word_shingles(n=3): 1-based clamped slices over
# the whitespace tokens, distinct per document.
_DUCK_TRIGRAMS = (
    "list_distinct(list_transform("
    "range(1, greatest(len(ws) - 2, 1) + 1), "
    "i -> array_to_string(ws[i:i+2], ' ')))"
)


@register(
    "text_decontaminate",
    oracle=f"""
with bench as (
  select distinct g
  from (select unnest({_DUCK_TRIGRAMS}) as g
        from (select string_split(text, ' ') as ws
              from documents where doc_id % 97 = 0))
),
grams as (
  select doc_id, unnest({_DUCK_TRIGRAMS}) as g
  from (select doc_id, string_split(text, ' ') as ws
        from documents where doc_id % 97 <> 0)
)
select doc_id, count(*) as n_hits
from grams join bench using (g)
group by doc_id
""",
    survey_ref="text-decontaminate",
    doc="benchmark decontamination: word-trigram overlap between the "
    "corpus and a held-out benchmark (docs with id%97=0 stand in); the "
    "benchmark gram set broadcasts, the corpus pass is shuffle-free.",
)
def text_decontaminate(spark, sf_dir):
    from ..operators.text import decontaminate

    docs = T(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=3)


@register(
    "text_contamination_report",
    oracle=f"""
with bws as (select doc_id as bench_id, string_split(text, ' ') as ws
             from documents where doc_id % 97 = 0),
bg as (select bench_id, unnest({_DUCK_TRIGRAMS}) as g from bws),
cws as (select string_split(text, ' ') as ws
        from documents where doc_id % 97 <> 0),
cg as (select distinct unnest({_DUCK_TRIGRAMS}) as g from cws),
tot as (select bench_id, count(*) as n_grams from bg group by bench_id),
hit as (select bench_id, count(*) as n_hit from bg join cg using (g)
        group by bench_id)
select t.bench_id, t.n_grams,
       coalesce(h.n_hit, 0) as n_hit,
       cast(coalesce(h.n_hit, 0) as double) / cast(t.n_grams as double)
         as contamination
from tot t left join hit h on t.bench_id = h.bench_id
""",
    survey_ref="text-contamination-report",
    doc="eval-side contamination audit (the dirty/clean split model "
    "releases report): per BENCHMARK doc, the fraction of its distinct "
    "word trigrams found anywhere in the training corpus, zero-hit docs "
    "included.  Corpus scanned once, never shuffled: bench universe "
    "broadcasts out, matched-gram set (<= the universe) broadcasts back; "
    "the only corpus-side shuffle is the per-task-deduped matched set.",
)
def text_contamination_report(spark, sf_dir):
    from ..operators.text import contamination_report

    docs = T(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(corpus, bench, "doc_id", "text", n=3)


@register(
    "dp_cap_per_source",
    oracle="""
select doc_id, source
from (
  select doc_id, source,
         row_number() over (
           partition by source
           order by md5(cast(doc_id as varchar)), doc_id
         ) as rn
  from documents
)
where rn <= 40
""",
    survey_ref="dp-cap-per-group",
    doc="per-source corpus cap (domain balancing): keep at most 40 docs "
    "per source, drawn by md5 hash rank — deterministic, engine-portable, "
    "and planned as WindowGroupLimit (per-task n-row heaps pre-shuffle).",
)
def dp_cap_per_source(spark, sf_dir):
    from ..operators.filtering import cap_per_group

    docs = T(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", 40, "doc_id").select("doc_id", "source")


@register(
    "dp_weighted_sample",
    oracle="""
select doc_id, source, n_chars
from documents
where cast(cast(('0x' || substring(md5(cast(doc_id as varchar) || ':ws'), 1, 8)) as bigint) as double)
      < floor(least(1.0, n_chars / 2000.0) * 4294967296.0)
""",
    survey_ref="dp-weighted-sample,SO3",
    doc="importance-weighted downsampling: each document survives with "
    "probability proportional to its length score (least(1, n_chars/2000)) "
    "decided by an md5-hash coin — deterministic, partition-independent, "
    "no RNG; a pure narrow predicate (no shuffle).",
)
def dp_weighted_sample(spark, sf_dir):
    from ..operators.filtering import weighted_sample

    docs = T(spark, sf_dir, "documents")
    p = F.least(F.lit(1.0), F.col("n_chars") / F.lit(2000.0))
    return weighted_sample(docs, p, "doc_id", "ws").select("doc_id", "source", "n_chars")


_PS_K = 200


@register(
    "dp_priority_sample",
    oracle=f"""
with h as (
  select doc_id, n_chars as w,
         cast(('0x' || substring(md5(cast(doc_id as varchar) || ':ps'), 1, 8)) as bigint) as hh
  from documents
),
q as (select doc_id, w,
             cast(w as double) * 4294967296.0 / cast(hh + 1 as double) as q
      from h),
top as (select * from q order by q desc, doc_id asc limit {_PS_K + 1}),
m as (select count(*) as c, min(q) as mq from top),
r as (select doc_id, w, q,
             row_number() over (order by q desc, doc_id asc) as rn
      from top)
select r.doc_id, r.w,
       greatest(cast(r.w as double),
                case when m.c = {_PS_K + 1} then m.mq else 0.0 end) as w_hat
from r, m where r.rn <= {_PS_K}
""",
    survey_ref="dp-priority-sample,SO3",
    doc="fixed-size weighted corpus sample with an unbiased subset-sum "
    "estimator (priority sampling, Duffield-Lund-Thorup JACM'07): "
    "md5-uniform priority w/u, top-k via per-partition heaps "
    "(TakeOrderedAndProject — no global sort), w_hat = max(w, tau) so "
    "sum(w_hat) over any subset of the sample unbiasedly estimates that "
    "subset's true weight; deterministic and partition-independent.",
)
def dp_priority_sample(spark, sf_dir):
    from ..operators.filtering import priority_sample

    docs = T(spark, sf_dir, "documents")
    return priority_sample(docs, "n_chars", k=_PS_K, id_col="doc_id", salt="ps")


_PSG_K = 10


@register(
    "dp_priority_sample_per_source",
    oracle=f"""
with h as (
  select source, doc_id, n_chars as w,
         cast(('0x' || substring(md5(cast(doc_id as varchar) || ':ps'), 1, 8)) as bigint) as hh
  from documents
),
q as (select source, doc_id, w,
             cast(w as double) * 4294967296.0 / cast(hh + 1 as double) as q
      from h),
r as (select *, row_number() over (partition by source
                                   order by q desc, doc_id asc) as rn
      from q),
top as (select * from r where rn <= {_PSG_K + 1}),
m as (select source, count(*) as c, min(q) as mq from top group by source)
select t.source, t.doc_id, t.w,
       greatest(cast(t.w as double),
                case when m.c = {_PSG_K + 1} then m.mq else 0.0 end) as w_hat
from top t join m on t.source = m.source
where t.rn <= {_PSG_K}
""",
    survey_ref="dp-priority-sample,dp-cap-per-source",
    doc="stratified priority sampling: k weight-proportional docs from "
    "EVERY source with the per-group Duffield-Lund-Thorup estimator "
    "(w_hat = max(w, tau_g)); the rank<=k+1 filter triggers "
    "WindowGroupLimit, so a skewed source shuffles the same O(groups*k) "
    "rows as a balanced one.",
)
def dp_priority_sample_per_source(spark, sf_dir):
    from ..operators.filtering import priority_sample_per_group

    docs = T(spark, sf_dir, "documents")
    return priority_sample_per_group(
        docs, "n_chars", k=_PSG_K, group_col="source", id_col="doc_id", salt="ps"
    )


@register(
    "dp_quality_percentile",
    oracle="""
select doc_id, lang, n_chars
from (
  select doc_id, lang, n_chars,
         cume_dist() over (partition by lang order by n_chars) as cd
  from documents
)
where cd >= 0.2
""",
    survey_ref="dp-percentile-filter,A7",
    doc="per-group percentile threshold: drop the shortest 20% of "
    "documents within each language (cume_dist window — rank-based, "
    "tie-stable, interpolation-free); one shuffle on the group key.",
)
def dp_quality_percentile(spark, sf_dir):
    from ..operators.filtering import percentile_filter

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return percentile_filter(docs, "n_chars", ["lang"], 0.2)


@register(
    "dd_segment_dedup",
    oracle="""
with t as (select doc_id, string_split(text, ' ') as toks from documents),
c as (select doc_id, toks,
             unnest(range(cast(ceil(len(toks)/3.0) as bigint))) as chunk_id
      from t),
s as (select doc_id, chunk_id,
             array_to_string(toks[chunk_id*3+1 : (chunk_id+1)*3], ' ') as chunk
      from c),
k as (select doc_id, chunk_id, chunk,
             count(*) over (partition by chunk) as n
      from s)
select doc_id,
       string_agg(chunk, ' ' order by chunk_id) as text_dedup,
       count(*) as n_segments_kept
from k where n <= 1
group by doc_id
""",
    survey_ref="dd-segment-dedup",
    doc="C4-style duplicate-span removal: 3-token segments occurring more "
    "than once corpus-wide are dropped, survivors reassembled in order; "
    "one segment-keyed window shuffle + one doc regroup.",
)
def dd_segment_dedup(spark, sf_dir):
    from ..operators.text import segment_dedup

    return segment_dedup(
        T(spark, sf_dir, "documents"), segment_tokens=3, max_count=1
    )


_MIX_H8 = sqlgen.hex_to_int("h", 8)


@register(
    "dp_interleave_sources",
    oracle=f"""
with d as (
  select doc_id, source,
         md5(cast(doc_id as varchar) || ':mix') as h,
         case source when 'src0' then 2 when 'src1' then 3 else 6 end as stride
  from documents where source in ('src0', 'src1', 'src2')
),
s as (select *, ({_MIX_H8} % 4) as shard from d),
r as (select *, row_number() over (partition by shard, source
                                   order by h, doc_id) as rn from s),
p as (select doc_id, source, shard,
             row_number() over (partition by shard
                                order by rn * stride, source, doc_id) - 1 as pos
      from r)
select doc_id, source, cast(shard as bigint) as shard,
       cast(pos as bigint) as pos
from p
""",
    survey_ref="dp-interleave",
    doc="deterministic stride-scheduled source interleaving — the "
    "training-loader ORDER, not just the mix ratio: weights src0:3, "
    "src1:2, src2:1 (lcm strides 2/3/6), the i-th doc of a source "
    "serves at shard-local key i*stride, so every window of the "
    "sequence carries the sources at their rates.  All windows "
    "partition by shard (no global sort); pure hash + integer "
    "arithmetic => bitwise cross-engine, salt = epoch.",
)
def dp_interleave_sources(spark, sf_dir):
    from ..operators.filtering import interleave_sources

    return interleave_sources(
        T(spark, sf_dir, "documents"),
        weights={"src0": 3, "src1": 2, "src2": 1},
        n_shards=4,
        salt="mix",
    )


@register(
    "dp_dataset_card",
    oracle="""
with t as (
  select doc_id, lang, source, text,
         cast(len(string_split(text, ' ')) as bigint) as n_tok,
         md5(text) as h
  from documents
)
select 'n_docs' as metric, cast(count(*) as bigint) as value from t
union all
select 'total_tokens', cast(sum(n_tok) as bigint) from t
union all
select 'distinct_langs', cast(count(distinct lang) as bigint) from t
union all
select 'distinct_sources', cast(count(distinct source) as bigint) from t
union all
select 'exact_dup_docs',
       cast(count(*) - count(distinct h) as bigint) from t
union all
select 'docs_over_100_tokens',
       cast(count(case when n_tok > 100 then 1 end) as bigint) from t
union all
select 'max_doc_tokens', cast(max(n_tok) as bigint) from t
""",
    survey_ref="dp-dataset-card",
    doc="one-query dataset card: the corpus summary every training-data "
    "release ships (doc/token counts, language and source diversity, "
    "exact-duplicate count, length profile) — ONE scan feeding one "
    "multi-aggregate plus two distincts, unioned into (metric, value) "
    "rows.  Integer-only metrics => hash-stable on any engine.",
)
def dp_dataset_card(spark, sf_dir):
    t = T(spark, sf_dir, "documents").select(
        "lang", "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        F.md5("text").alias("h"),
    )
    agg = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.countDistinct("lang").alias("distinct_langs"),
        F.countDistinct("source").alias("distinct_sources"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("exact_dup_docs"),
        F.count(F.when(F.col("n_tok") > 100, 1)).alias("docs_over_100_tokens"),
        F.max("n_tok").alias("max_doc_tokens"),
    )
    metrics = [
        "n_docs", "total_tokens", "distinct_langs", "distinct_sources",
        "exact_dup_docs", "docs_over_100_tokens", "max_doc_tokens",
    ]
    # melt the one aggregated row with stack — a union of per-metric
    # selects would re-execute the whole aggregate once per metric
    stack = ", ".join(f"'{m}', cast({m} as bigint)" for m in metrics)
    return agg.select(
        F.expr(f"stack({len(metrics)}, {stack}) as (metric, value)")
    )


_GJX = sqlgen.hex_to_int("md5(cast(c_custkey as varchar) || ':x')", 8)
_GJY = sqlgen.hex_to_int("md5(cast(c_custkey as varchar) || ':y')", 8)


@register(
    "gj_proximity_pairs",
    oracle=f"""
with pts as (
  select c_custkey as id,
         ({_GJX} % 100000) / cast(100 as double) as x,
         ({_GJY} % 100000) / cast(100 as double) as y
  from customer
),
a as (select id as id_a, x as xa, y as ya,
             cast(floor(x / 10.0) as bigint) as cx,
             cast(floor(y / 10.0) as bigint) as cy from pts),
b as (select id as id_b, x as xb, y as yb,
             cast(floor(x / 10.0) as bigint) as bx,
             cast(floor(y / 10.0) as bigint) as byy from pts),
probe as (select id_b, xb, yb, bx + dx.d as cx, byy + dy.d as cy
          from b, (values (-1), (0), (1)) dx(d), (values (-1), (0), (1)) dy(d))
select id_a, id_b,
       (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) as dist_sq
from a join probe using (cx, cy)
where id_a < id_b
  and (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= 100.0
""",
    survey_ref="gj-proximity",
    doc="spatial proximity join via grid-cell bucketing (the geo "
    "analogue of LSH banding): md5-synthesized points in [0,1000)^2, "
    "all pairs within radius 10 from a cell equi-join (build side keeps "
    "its home cell, probe side explodes to the 3x3 neighborhood — each "
    "qualifying pair produced exactly once), exact IEEE distance verify "
    "inside candidate cells.  O(points x local density), never a cross "
    "join; one shuffle per side.",
)
def gj_proximity_pairs(spark, sf_dir):
    from ..operators.spatial import proximity_pairs

    spark_x = sqlgen.hex_to_int("md5(concat(cast(c_custkey as string), ':x'))", 8)
    spark_y = sqlgen.hex_to_int("md5(concat(cast(c_custkey as string), ':y'))", 8)
    pts = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.expr(f"({spark_x} % 100000) / cast(100 as double)").alias("x"),
        F.expr(f"({spark_y} % 100000) / cast(100 as double)").alias("y"),
    )
    return proximity_pairs(pts, "id", "x", "y", radius=10.0)


_NEG_H = sqlgen.hex_to_int(
    "md5(cast(anchor_id as varchar) || ':neg:' || cast(j as varchar))",
    nibbles=15,
)


@register(
    "dp_negative_sample",
    oracle=f"""
with dom as (select max(doc_id) + 1 as n from documents),
anch as (select doc_id as anchor_id, source as a_src,
                unnest([0, 1, 2, 3]) as j
         from documents),
cand as (
  select anchor_id, cast(j as bigint) as j, a_src,
         ({_NEG_H} % (select n from dom)) as neg_id
  from anch
)
select c.anchor_id, c.j, c.neg_id, d.source as neg_source
from cand c join documents d on c.neg_id = d.doc_id
where c.neg_id != c.anchor_id and d.source != c.a_src
""",
    survey_ref="dp-negative-sample",
    doc="deterministic negative sampling for contrastive pairs: k=4 "
    "md5-drawn negatives per anchor doc, modulo the id domain, self and "
    "same-source candidates rejected (near-dup/leaky negatives).  Pure "
    "hash draw — reproducible on any engine/layout, salt = epoch.  One "
    "narrow k-explode + one shuffle hash join on the corpus id.",
)
def dp_negative_sample(spark, sf_dir):
    from ..operators.filtering import negative_sample

    return negative_sample(
        T(spark, sf_dir, "documents"), id_col="doc_id", k=4, salt="neg",
        exclude_col="source",
    )


@register(
    "dp_url_dedup",
    oracle="""
with c as (
  select 'https://' || lower(source) || '.example.com/Path/'
           || cast(doc_id % 25 as varchar)
           || '?a=' || cast(doc_id % 5 as varchar)
           || '&b=' || cast(doc_id % 2 as varchar) as url_canon,
         doc_id
  from documents
)
select url_canon, min(doc_id) as doc_id, count(*) as n_dupes
from c group by url_canon
""",
    survey_ref="dp-url-dedup",
    doc="canonical-URL web-corpus dedup: each doc gets a deliberately "
    "messy synthetic URL (uppercase scheme/host, www., explicit :443, "
    "trailing slashes, utm_ tracking param, unsorted params, fragment); "
    "canonicalize_url must normalize ALL of it because the oracle "
    "constructs the expected canonical form closed-form — any "
    "mishandled step (case, port, www, param filter/order, slash, "
    "fragment) breaks the hash.  Narrow map + ONE hash aggregate.",
)
def dp_url_dedup(spark, sf_dir):
    from ..operators.text import url_dedup

    d = T(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://WWW."), F.upper(F.col("source")),
            F.lit(".Example.COM:443/Path/"),
            (F.col("doc_id") % 25).cast("string"),
            F.lit("//?utm_source=x&b="), (F.col("doc_id") % 2).cast("string"),
            F.lit("&a="), (F.col("doc_id") % 5).cast("string"),
            F.lit("#sec"),
        ),
    )
    return url_dedup(d, "url", "doc_id")


@register(
    "dp_shard_assign",
    oracle="""
select doc_id,
       cast(('0x' || substring(md5(cast(doc_id as varchar) || ':ep1'), 1, 8)) as bigint) % 4 as shard,
       cast(row_number() over (
           partition by cast(('0x' || substring(md5(cast(doc_id as varchar) || ':ep1'), 1, 8)) as bigint) % 4
           order by md5(cast(doc_id as varchar) || ':ep1'), doc_id
       ) as bigint) - 1 as pos
from documents
""",
    survey_ref="dp-global-shuffle,SO5",
    doc="deterministic global shuffle for training epochs: md5-derived "
    "shard + in-shard position, reproducible on any engine/partitioning; "
    "one shuffle on shard, different salt = independent epoch reshuffle.",
)
def dp_shard_assign(spark, sf_dir):
    from ..operators.filtering import shard_assign

    docs = T(spark, sf_dir, "documents")
    return shard_assign(docs, "doc_id", n_shards=4, salt="ep1").select(
        "doc_id", "shard", "pos"
    )


@register(
    "text_bm25",
    oracle="""
with lens as (select doc_id, cast(len(string_split(text, ' ')) as bigint) as dl
              from documents),
tot as (select cast(sum(dl) as bigint) as sdl, count(*) as nd from lens),
posting as (
  select doc_id, term, count(*) as tf
  from (select doc_id, unnest(string_split(text, ' ')) as term from documents)
  where term in ('customer', 'stream', 'vector')
  group by 1, 2),
dft as (select term, count(*) as df from posting group by 1),
scored as (
  select p.doc_id, p.term,
         ln(cast(1 as double)
            + (tot.nd - d.df + cast('0.5' as double)) / (d.df + cast('0.5' as double)))
         * (p.tf * cast('2.2' as double))
         / (p.tf + cast('1.2' as double)
            * (cast('0.25' as double)
               + cast('0.75' as double) * l.dl
                 / (cast(tot.sdl as double) / cast(tot.nd as double)))) as s
  from posting p join dft d using (term) join lens l using (doc_id), tot),
wide as (
  select doc_id,
         coalesce(max(case when term = 'customer' then s end), cast(0 as double))
       + coalesce(max(case when term = 'stream' then s end), cast(0 as double))
       + coalesce(max(case when term = 'vector' then s end), cast(0 as double)) as score
  from scored group by doc_id)
select doc_id, score, "rank" from (
  select doc_id, score,
         cast(row_number() over (order by score desc, doc_id) as bigint) as "rank"
  from wide)
where "rank" <= 10
""",
    survey_ref="text-bm25",
    doc="BM25 top-10 search (k1=1.2, b=0.75): postings filtered to the "
    "query terms before the shuffle, libm-exact idf via broadcast lookup, "
    "fixed-term-order score sum, distributed TakeOrdered top-k.",
)
def text_bm25(spark, sf_dir):
    from ..operators.text import bm25_search

    return bm25_search(
        T(spark, sf_dir, "documents"), ["customer", "stream", "vector"], k=10
    )


@register(
    "dp_token_budget",
    oracle="""
with t as (
  select doc_id, source, cast(len(string_split(text, ' ')) as bigint) as n_tok, n_chars
  from documents
)
select doc_id, source, n_tok from (
  select doc_id, source, n_tok,
         sum(n_tok) over (partition by source order by n_chars desc, doc_id asc
                          rows between unbounded preceding and current row) as running
  from t
) where running <= 2000
""",
    survey_ref="dp-token-budget",
    doc="greedy token-budget corpus selection: per-source, best-first "
    "(n_chars desc) cumulative token fill to a 2000-token budget — the "
    "'build an N-billion-token mix from the best documents' primitive; "
    "exact window cumsum, tie-broken on doc_id, engine-identical.",
)
def dp_token_budget(spark, sf_dir):
    from ..operators.filtering import select_to_token_budget

    d = T(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split(F.col("text"), " ")).cast("bigint")
    )
    picked = select_to_token_budget(
        d,
        token_col="n_tok",
        budget=2000,
        order_cols=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        partition_cols=["source"],
    )
    return picked.select("doc_id", "source", "n_tok")


@register(
    "dd_incremental_minhash",
    oracle=None,  # LSH banding (rows-only, like dd_minhash_lsh); the
    # full-rerun equivalence is property-tested in tests/test_datapipe.py
    survey_ref="dedup-incremental",
    doc="incremental near-dup: the batch (doc_id%5==0) dedups against "
    "the history's persisted band INDEX — (new x new) in-batch grouping "
    "+ (new x old) index equi-join + exact verify with join-pruned "
    "lookups into the historical text.  History is never re-banded or "
    "re-scanned: the 100 TB daily-ingest shape.",
)
def dd_incremental_minhash(spark, sf_dir):
    from ..operators.dedup import incremental_minhash_pairs, minhash_band_table

    d = _spread(T(spark, sf_dir, "documents"))
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    index = minhash_band_table(old, "doc_id", "text", num_perm=64, bands=16, shingle_n=3)
    return incremental_minhash_pairs(
        new, index, old, "doc_id", "text",
        num_perm=64, bands=16, shingle_n=3, jaccard_threshold=0.3,
    )


@register(
    "dd_incremental_md5",
    oracle=_minhash_md5_oracle() + "\nand (id_a % 5 = 0 or id_b % 5 = 0)",
    survey_ref="dedup-incremental",
    doc="md5-family twin of dd_incremental_minhash, hash-gated: the "
    "batch (doc_id%5==0) dedups against history's persisted md5 band "
    "index; because signatures are deterministic, the result is exactly "
    "the full-corpus md5 rerun filtered to pairs touching a batch doc — "
    "which is precisely what the oracle replays, certifying the "
    "batch-vs-index equivalence bitwise.",
)
def dd_incremental_md5(spark, sf_dir):
    from ..operators.dedup import incremental_minhash_pairs, minhash_md5_band_table

    d = _spread(T(spark, sf_dir, "documents"))
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    index = minhash_md5_band_table(old, "doc_id", "text", num_perm=16, bands=4, shingle_n=3)
    return incremental_minhash_pairs(
        new, index, old, "doc_id", "text",
        num_perm=16, bands=4, shingle_n=3, jaccard_threshold=0.2,
        hash_family="md5",
    )


@register(
    "sink_roundtrip",
    oracle=f"""
select l_returnflag,
       count(*) as n,
       {sqlgen.dsum("l_quantity", "sum_qty")},
       {sqlgen.dsum("l_extendedprice", "sum_price")}
from lineitem
group by l_returnflag
""",
    survey_ref="S3,S4",
    doc="sink certification (S3 CSV sink + S4 materialized "
    "intermediate): project lineitem -> write multi-part CSV -> "
    "schema-pinned re-read -> checkpoint to parquet -> re-read -> "
    "decimal-exact aggregate.  The oracle computes the same aggregate "
    "from the ORIGINAL table, so any row lost/duplicated/corrupted in "
    "either sink round-trip (including double formatting: Spark writes "
    "shortest-round-trip decimal text) breaks the value hash.",
)
def sink_roundtrip(spark, sf_dir):
    import os
    import tempfile

    from ..sources.writers import checkpoint_parquet, write_csv

    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    tmp = tempfile.mkdtemp(prefix="sink-roundtrip-")
    write_csv(li, os.path.join(tmp, "csv"), single_file=False)
    back = (
        spark.read.schema("l_returnflag string, l_quantity double, l_extendedprice double")
        .option("header", True)
        .csv(os.path.join(tmp, "csv"))
    )
    mat = checkpoint_parquet(back, os.path.join(tmp, "pq"))
    return mat.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sqlgen.dsum("l_quantity", "sum_qty")),
        F.expr(sqlgen.dsum("l_extendedprice", "sum_price")),
    )


@register(
    "tbl_maintenance_roundtrip",
    oracle=f"""
select l_returnflag,
       count(*) as n,
       {sqlgen.dsum("l_quantity", "sum_qty")}
from lineitem
group by l_returnflag
""",
    survey_ref="versioned-storage",
    doc="storage-maintenance certification: split lineitem into two "
    "append commits of a manifest-versioned table, COMPACT it (atomic "
    "overwrite commit, fewer files), vacuum the superseded versions, "
    "read the survivor back, decimal-exact aggregate.  The oracle "
    "aggregates the ORIGINAL table, so any row lost or duplicated by "
    "append / compact / vacuum breaks the value hash — and the vacuum "
    "proves readers only ever trusted the manifest.",
)
def tbl_maintenance_roundtrip(spark, sf_dir):
    import tempfile

    from ..sources.manifest import (
        commit_versioned,
        compact_versioned,
        read_versioned,
        vacuum_versioned,
    )

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_quantity")
    t = tempfile.mkdtemp(prefix="tbl-maint-") + "/t"
    commit_versioned(li.filter(F.col("l_orderkey") % 2 == 0), t, mode="overwrite")
    commit_versioned(li.filter(F.col("l_orderkey") % 2 != 0), t, mode="append")
    compact_versioned(spark, t, target_files=4)
    vacuum_versioned(t, keep=1)  # drop the pre-compaction versions
    back = read_versioned(spark, t)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sqlgen.dsum("l_quantity", "sum_qty")),
    )


@register(
    "tbl_zorder_roundtrip",
    oracle=f"""
select 'all' as slice, event_type, count(*) as n,
       {sqlgen.dsum("value", "sum_value")}
from events group by event_type
union all
select 'tile' as slice, event_type, count(*) as n,
       {sqlgen.dsum("value", "sum_value")}
from events where user_id <= 15 and value >= 300.0
group by event_type
""",
    survey_ref="zorder-clustering",
    doc="Z-order (Morton-curve) clustering certification: rewrite events "
    "z-ordered on (user_id, value) — the Delta/Iceberg OPTIMIZE ZORDER "
    "layout — re-read, and aggregate twice: the full table (any row "
    "lost/duplicated by the quantile-rank bucketing, bit interleave, or "
    "range shuffle breaks the hash) and a selective 2-D tile whose "
    "predicate reaches the parquet scan, so a file wrongly skipped by "
    "min/max stats under the clustered layout also breaks the hash.  "
    "The oracle computes both slices from the ORIGINAL table.  The "
    "both-dimension pruning evidence (z-order skips on the SECOND "
    "column where a linear sort cannot) is pinned by "
    "tests/test_plan_shapes.py::test_zorder_parquet_prunes_on_both_columns.",
)
def tbl_zorder_roundtrip(spark, sf_dir):
    import os
    import tempfile

    from ..sources.writers import write_zorder_parquet

    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "value")
    path = os.path.join(tempfile.mkdtemp(prefix="zorder-rt-"), "events_z")
    write_zorder_parquet(ev, path, ["user_id", "value"], n_files=8, bits=4)
    back = spark.read.parquet(path)
    full = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sqlgen.dsum("value", "sum_value")),
    ).select(F.lit("all").alias("slice"), "event_type", "n", "sum_value")
    tile = (
        back.filter((F.col("user_id") <= 15) & (F.col("value") >= 300.0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(sqlgen.dsum("value", "sum_value")),
        )
        .select(F.lit("tile").alias("slice"), "event_type", "n", "sum_value")
    )
    return full.unionByName(tile)


@register(
    "tbl_merge_time_travel",
    oracle="""
select 'merged' as snapshot, c_custkey, c_acctbal + 100 as c_acctbal
from customer where c_custkey % 2 = 0
union all
select 'merged', c_custkey, c_acctbal
from customer where c_custkey % 3 != 0 and c_custkey % 2 != 0
  and c_custkey % 5 != 1
union all
select 'v1', c_custkey, c_acctbal
from customer where c_custkey % 3 != 0
""",
    survey_ref="merge-into,time-travel",
    doc="MERGE INTO + time travel certification on a bucketed versioned "
    "table: v1 = customers with key%3!=0; merge upserts key%2==0 rows "
    "(acctbal+100: overlaps update, rest insert) and deletes key%5==1 "
    "non-updated rows; the result unions the post-merge snapshot with a "
    "TIME-TRAVEL read of v1 — so the oracle certifies the upsert set "
    "algebra, the delete, AND that the old version is untouched, "
    "bitwise.  Only buckets containing a changed key are rewritten "
    "(delta-cost maintenance; plan/pytest cover the carry-by-name).",
)
def tbl_merge_time_travel(spark, sf_dir):
    import tempfile

    from ..sources.manifest import (
        commit_versioned_bucketed,
        merge_into,
        read_versioned,
    )

    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = tempfile.mkdtemp(prefix="tbl-merge-") + "/t"
    base = cust.filter(F.col("c_custkey") % 3 != 0)
    commit_versioned_bucketed(base, t, key_col="c_custkey", n_buckets=8)
    updates = cust.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    # deletes: non-updated keys with key%5==1 (delete wins only where no
    # upsert targets the key — merge_into applies updates over deletes)
    deletes = base.filter(
        (F.col("c_custkey") % 5 == 1) & (F.col("c_custkey") % 2 != 0)
    ).select("c_custkey")
    merge_into(spark, t, updates, delete_keys=deletes)
    merged = read_versioned(spark, t).withColumn("snapshot", F.lit("merged"))
    v1 = read_versioned(spark, t, version=1).withColumn("snapshot", F.lit("v1"))
    return merged.unionByName(v1).select("snapshot", "c_custkey", "c_acctbal")


@register(
    "tbl_zone_map_range",
    oracle=f"""
select count(*) as n,
       {sqlgen.dsum("l_quantity", "sum_qty")},
       cast(min(l_orderkey) as bigint) as min_ok,
       cast(max(l_orderkey) as bigint) as max_ok
from lineitem
where l_shipdate >= timestamp '1995-01-01 00:00:00'
  and l_shipdate <= timestamp '1995-12-31 23:59:59'
""",
    survey_ref="zone-map-skip",
    doc="zone-map file-skipping certification on a TIMESTAMP column: "
    "commit lineitem range-partitioned by l_shipdate with per-file "
    "min/max stats lifted from the parquet footers (TIMESTAMP_MICROS — "
    "legacy INT96 would carry no stats), then range-read one year with "
    "a Spark-style 'YYYY-MM-DD HH:MM:SS' probe (normalized against the "
    "isoformat stats) and aggregate.  The oracle filters the ORIGINAL "
    "table, so a file wrongly pruned (or wrongly kept rows) breaks the "
    "hash; pruning itself is plan/pytest-asserted.",
)
def tbl_zone_map_range(spark, sf_dir):
    import tempfile

    from ..sources.manifest import commit_versioned, read_versioned_range

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    ).repartitionByRange(8, "l_shipdate")
    t = tempfile.mkdtemp(prefix="tbl-zm-") + "/t"
    commit_versioned(li, t, stats_cols=["l_shipdate"])
    r = read_versioned_range(
        spark, t, "l_shipdate", lo="1995-01-01 00:00:00", hi="1995-12-31 23:59:59"
    )
    return r.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sqlgen.dsum("l_quantity", "sum_qty")),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )


@register(
    "dp_cluster_safe_split",
    oracle=f"""
with recursive jp as ({_JACCARD_PAIRS_SQL}),
edges as (select id_a as src, id_b as dst from jp
          union all
          select id_b, id_a from jp),
reach(id, label) as (
  select doc_id, doc_id from documents
  union
  select e.src, r.label from edges e join reach r on e.dst = r.id
),
cl as (select id as doc_id, min(label) as cluster_id from reach group by id)
select doc_id, cluster_id,
       case when cluster_id % 100 < 80 then 'train'
            when cluster_id % 100 < 90 then 'val'
            else 'test' end as split
from cl
""",
    survey_ref="dp-cluster-split",
    doc="near-dup-leakage-safe train/val/test split: every doc in a "
    "near-dup cluster gets the SAME split (assignment is a modulo "
    "predicate of cluster_id = min reachable id), so eval never contains "
    "a near-duplicate of a training doc — the contamination bug "
    "benchmark-dedup papers warn about.",
)
def dp_cluster_safe_split(spark, sf_dir):
    from ..operators.dedup import cluster_safe_split

    docs = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.8)
    return cluster_safe_split(
        docs, pairs, weights={"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "cluster_id", "split")


@register(
    "sql_udtf_chunking",
    oracle="""
with t as (select doc_id, string_split(text, ' ') as toks from documents),
c as (select doc_id, toks,
             unnest(range(cast(ceil(len(toks)/16.0) as bigint))) as chunk_id
      from t)
select doc_id, chunk_id,
       array_to_string(toks[chunk_id*16+1 : (chunk_id+1)*16], ' ') as chunk,
       len(toks[chunk_id*16+1 : (chunk_id+1)*16]) as n_chunk_tokens
from c
""",
    survey_ref="sql-udtf",
    doc="Python UDTF surface: chunk_text(text, 16) as a SQL LATERAL "
    "table function — bitwise-identical to the codegen chunk_documents "
    "(same oracle as text_chunking).  The extensibility path for row "
    "logic Spark expressions cannot state; hot paths use the builtin op.",
)
def sql_udtf_chunking(spark, sf_dir):
    from ..sqlapi import register_tables, register_udtfs

    register_tables(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        select d.doc_id, c.chunk_id, c.chunk, c.n_chunk_tokens
        from documents d, lateral chunk_text(d.text, 16) c
        """
    )


def _pagerank_oracle(iterations: int = 3, damping: float = 0.85) -> str:
    """Unrolled PageRank recursion with the operator's exact float
    grammar: same damping literals (repr-round-tripped), same fsum
    contribution aggregation — bitwise cross-engine."""
    from .. import sqlgen

    d = f"cast('{damping!r}' as double)"
    omd = f"cast('{1.0 - damping!r}' as double)"
    sql = """
with edges as (
  select l_orderkey as src, l_partkey as dst from lineitem where l_orderkey <= 600
),
nodes as (select src as node from edges union select dst from edges),
deg as (select src, count(*) as od from edges group by src),
r0 as (select node, cast(1 as double) as r from nodes)"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f""",
c{i} as (select dst as node, r / od as c
         from edges join {prev} on edges.src = {prev}.node join deg using (src)),
s{i} as (select node, {sqlgen.fsum('c')} as s from c{i} group by node),
r{i} as (select nodes.node, {omd} + {d} * coalesce(s, cast(0 as double)) as r
         from nodes left join s{i} using (node))"""
        prev = f"r{i}"
    return sql + f"\nselect node, r from {prev}"


@register(
    "gr_pagerank",
    oracle=_pagerank_oracle(),
    survey_ref="graph-pagerank",
    doc="fixed-iteration PageRank over the order->part bipartite edge "
    "list (driver loop of joins/aggs, fsum-deterministic ranks); oracle "
    "= the unrolled 3-step recursion, bitwise.",
)
def gr_pagerank(spark, sf_dir):
    from ..operators.graph import pagerank

    li = T(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") <= 600).select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return pagerank(edges).withColumnRenamed("r", "r")


@register(
    "dp_scd2_intervals",
    oracle="""
with o as (
  select user_id, ts, event_id, event_type,
         lag(event_type) over (partition by user_id order by ts, event_id) as _prev,
         row_number() over (partition by user_id order by ts, event_id) as _rn
  from events
),
ch as (
  select user_id, ts, event_id, event_type
  from o where _rn = 1 or event_type is distinct from _prev
)
select user_id, event_type, ts as valid_from,
       lead(ts) over (partition by user_id order by ts, event_id) as valid_to,
       (lead(ts) over (partition by user_id order by ts, event_id) is null) as is_current
from ch
""",
    survey_ref="dp-scd2",
    doc="SCD type-2 dimension build: change log -> validity intervals "
    "(change detection, interval close, currency flag — all on ONE key "
    "window partitioning); the history-keeping complement of "
    "dp_latest_by_key, queried point-in-time via the as-of join.",
)
def dp_scd2_intervals(spark, sf_dir):
    from ..operators.cleaning import scd2_intervals

    ev = T(spark, sf_dir, "events")
    return scd2_intervals(
        ev, ["user_id"], "ts", ["event_type"], ord_cols=["event_id"]
    )


def _bpe_oracle() -> str:
    from ..operators.bpe import SEED_MERGES, bpe_replace_chain_sql

    chain = bpe_replace_chain_sql("w", SEED_MERGES)
    return f"""
with w as (
  select doc_id, w from (
    select doc_id, unnest(string_split(lower(text), ' ')) as w from documents
  ) where w <> ''
),
enc as (
  select doc_id,
         (length({chain}) - length(replace({chain}, chr(1), ''))) / 2 as sub
  from w
)
select doc_id, cast(sum(sub) as bigint) as n_bpe_tok
from enc group by doc_id
"""


@register(
    "text_bpe_tokens",
    oracle=_bpe_oracle(),
    survey_ref="text-bpe",
    doc="REAL trained BPE subword token counts (Sennrich ACL'16): greedy "
    "merge table learned from an embedded seed vocabulary, applied via "
    "the dictionary trick (each unique word encoded once in mapInPandas, "
    "broadcast back).  The merge loop IS sequential string replacement, "
    "so the oracle replays it as a generated 100-deep replace chain — "
    "hash-gated, not a heuristic approximation.",
)
def text_bpe_tokens(spark, sf_dir):
    from ..operators.bpe import bpe_token_count

    return bpe_token_count(
        T(spark, sf_dir, "documents"), out_col="n_bpe_tok"
    )


_PSI_EDGES = [0.0, 5.0, 20.0, 50.0, 100.0, 250.0, 1000.0]


def _psi_oracle() -> str:
    import math

    nb = len(_PSI_EDGES) - 1 + 1  # real bins + NULL bucket
    case = (
        "(case "
        + " ".join(
            f"when value > {_PSI_EDGES[i - 1]} and value <= {_PSI_EDGES[i]} then {i - 1}"
            for i in range(1, len(_PSI_EDGES))
        )
        + " end)"
    )
    bins_rows = ", ".join(f"({b})" for b in range(len(_PSI_EDGES) - 1)) + ", (NULL)"
    return f"""
with ca as (
  select {case} as bin, count(*) as n_a from events where user_id % 2 = 0 group by 1
),
cb as (
  select {case} as bin, count(*) as n_b from events where user_id % 2 = 1 group by 1
),
bins(bin) as (values {bins_rows}),
j as (
  select b.bin,
         cast(coalesce(ca.n_a, 0) as bigint) as n_a,
         cast(coalesce(cb.n_b, 0) as bigint) as n_b
  from bins b
  left join ca on ca.bin is not distinct from b.bin
  left join cb on cb.bin is not distinct from b.bin
),
tot as (select sum(n_a) + {nb} as ta, sum(n_b) + {nb} as tb from j),
d as (
  select j.bin, j.n_a, j.n_b,
         cast(j.n_a + 1 as double) / cast(t.ta as double) as p_a,
         cast(j.n_b + 1 as double) / cast(t.tb as double) as p_b,
         ((cast(j.n_a + 1 as double) / cast(t.ta as double))
          - (cast(j.n_b + 1 as double) / cast(t.tb as double)))
         * ((ln(cast(j.n_a + 1 as double)) - ln(cast(t.ta as double)))
            - (ln(cast(j.n_b + 1 as double)) - ln(cast(t.tb as double)))) as term
  from j cross join tot t
),
p as (
  select list_reduce(
           list_transform(
             list_sort(list(struct_pack(b := coalesce(bin, 999999), term := term))),
             s -> s.term),
           (a, x) -> a + x) as psi
  from d
)
select d.bin, d.n_a, d.n_b, d.p_a, d.p_b, d.term, p.psi
from d cross join p
"""


@register(
    "an_drift_psi",
    oracle=_psi_oracle(),
    survey_ref="an-drift",
    doc="Population Stability Index drift monitor between two samples: "
    "fixed-edge binning + NULL out-of-range bucket, Laplace smoothing, "
    "integer-argument logs (broadcast libm table), bin-ordered PSI fold — "
    "bitwise deterministic on any engine/partitioning.",
)
def an_drift_psi(spark, sf_dir):
    from ..operators.profile import drift_psi

    ev = T(spark, sf_dir, "events")
    return drift_psi(
        ev.filter(F.expr("user_id % 2 = 0")),
        ev.filter(F.expr("user_id % 2 = 1")),
        "value",
        _PSI_EDGES,
    )


@register(
    "dd_pq_dedup",
    oracle=_PQ_ENC
    + """,
codes as (select vec_id, list(code order by sub) as cl from ranked where rn = 1 group by vec_id),
g as (select cl, min(vec_id) as rep_id, count(*) as n from codes group by cl)
select c.vec_id, g.rep_id, cast(g.n as bigint) as cluster_size
from codes c join g on c.cl = g.cl
where g.n > 1
""",
    survey_ref="dedup-embedding-pq",
    doc="embedding near-dup via PQ code collision: quantization-identical "
    "vectors bucket together (1 byte/dim) — the coarse pass before "
    "banded-LSH cosine verify; oracle replays encode + collision grouping.",
)
def dd_pq_dedup(spark, sf_dir):
    from ..operators.similarity import pq_dedup_clusters

    return pq_dedup_clusters(T(spark, sf_dir, "embeddings"))


@register(
    "an_markov_transitions",
    oracle="""
with seq as (
  select event_type as from_type,
         lead(event_type) over (partition by user_id order by ts, event_id) as to_type
  from events
),
tr as (select from_type, to_type, count(*) as n
       from seq where to_type is not null group by from_type, to_type),
tot as (select from_type, cast(sum(n) as bigint) as t from tr group by from_type)
select tr.from_type, tr.to_type, cast(tr.n as bigint) as n,
       cast(tr.n as double) / cast(tot.t as double) as p
from tr join tot using (from_type)
""",
    survey_ref="an-markov",
    doc="first-order Markov transition matrix over per-user event "
    "sequences (P(next | current) from adjacent counts): one per-key "
    "lead window + two type-pair aggregates; single bigint/bigint "
    "double division => bitwise cross-engine.",
)
def an_markov_transitions(spark, sf_dir):
    from ..operators.analytics import markov_transitions

    return markov_transitions(T(spark, sf_dir, "events"))


@register(
    "an_ohlc_bars",
    oracle="""
with b as (
  select event_type, date_trunc('hour', ts) as bucket,
         cast(value as double) as v, ts, event_id
  from events
),
r as (
  select *,
    row_number() over (partition by event_type, bucket
                       order by ts, event_id) as ra,
    row_number() over (partition by event_type, bucket
                       order by ts desc, event_id desc) as rd
  from b
)
select event_type, cast(bucket as timestamp) as bucket,
       max(case when ra = 1 then v end) as open,
       max(case when rd = 1 then v end) as close,
       max(v) as high, min(v) as low,
       count(*) as n
from r group by event_type, bucket
""",
    survey_ref="an-ohlc",
    doc="time-bucketed OHLC bars per event_type (hourly): first/last "
    "under the deterministic (ts, event_id) order via row_number flags "
    "folded into ONE aggregate — one window + one hash agg per bar key, "
    "no self-join; min/max/count are exact.",
)
def an_ohlc_bars(spark, sf_dir):
    from ..operators.analytics import ohlc_bars

    return ohlc_bars(T(spark, sf_dir, "events"), keys=["event_type"])


@register(
    "an_pair_affinity",
    oracle="""
with base as (select distinct user_id as b, event_type as i from events),
tot as (select count(distinct b) as nb from base),
per as (select i, count(*) as n from base group by i),
pairs as (
  select x.i as item_a, y.i as item_b, count(*) as n_both
  from base x join base y on x.b = y.b and x.i < y.i
  group by x.i, y.i
)
select p.item_a, p.item_b,
       cast(p.n_both as bigint) as n_both,
       cast(a.n as bigint) as n_a,
       cast(c.n as bigint) as n_b,
       (cast(p.n_both as double) * cast(t.nb as double))
         / (cast(a.n as double) * cast(c.n as double)) as lift
from pairs p
join per a on a.i = p.item_a
join per c on c.i = p.item_b
cross join tot t
""",
    survey_ref="an-affinity",
    doc="market-basket 2-itemset affinity with lift: distinct (basket, "
    "item) -> basket-key self-join (co-partitioned, never an item "
    "cartesian) -> exact-count lift; the 2-itemset core FPGrowth "
    "generalizes (differential pytest).",
)
def an_pair_affinity(spark, sf_dir):
    from ..operators.analytics import pair_affinity

    return pair_affinity(T(spark, sf_dir, "events"))


def _simhash_md5_oracle(max_hamming: int = 8, chunks: int = 4) -> str:
    bits_per = 64 // chunks

    def bit(p: int) -> str:
        j, k = divmod(p, 4)
        return (
            f"(floor((instr('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) / {1 << k}) % 2)"
        )

    votes = ", ".join(
        f"sum(case when {bit(p)} = 1 then 1 else -1 end) as v{p}" for p in range(64)
    )
    cks = ", ".join(
        "("
        + " + ".join(
            f"case when v{c * bits_per + k} > 0 then {1 << k} else 0 end"
            for k in range(bits_per)
        )
        + f") as ck{c}"
        for c in range(chunks)
    )
    ham = " + ".join(f"bit_count(xor(a.ck{c}, b.ck{c}))" for c in range(chunks))
    anyc = " or ".join(f"a.ck{c} = b.ck{c}" for c in range(chunks))
    return f"""
with toks as (
  select doc_id, md5(t) as h
  from (select doc_id, unnest(string_split(text, ' ')) as t from documents)
  where t <> ''
),
votes as (select doc_id, {votes} from toks group by doc_id),
sig as (select doc_id, {cks} from votes),
cand as (
  select a.doc_id as id_a, b.doc_id as id_b, {ham} as hamming
  from sig a join sig b on a.doc_id < b.doc_id and ({anyc})
)
select id_a, id_b, cast(hamming as int) as hamming
from cand where hamming <= {max_hamming}
"""


@register(
    "dd_simhash_md5",
    oracle=_simhash_md5_oracle(),
    survey_ref="dedup-simhash",
    doc="SimHash near-dup with the md5 hash family: token bits from md5 "
    "hex digits (pure integer extraction), 16-bit chunk pigeonhole "
    "candidates, bit_count(xor) hamming verify — the ENTIRE pipeline "
    "replays in DuckDB and certifies bitwise (the hard signal the "
    "xxhash64 default gets from property tests).",
)
def dd_simhash_md5(spark, sf_dir):
    from ..operators.dedup import simhash_md5_pairs

    return simhash_md5_pairs(T(spark, sf_dir, "documents"), "doc_id", "text")


def _simhash_idf_oracle(max_hamming: int = 7, chunks: int = 8, quant: int = 1_000_000) -> str:
    """DuckDB replay of the ENTIRE idf-weighted SimHash pipeline: tf ->
    df -> integer-quantized libm idf (floor(ln(N/df)*quant) — floor, not
    round: Python banker's vs SQL half-away) -> weighted bit votes from
    md5 hex digits -> chunk keys -> pigeonhole candidates -> hamming
    verify.  All vote arithmetic is int64, so the replay is bitwise."""
    bits_per = 64 // chunks

    def bit(p: int) -> str:
        j, k = divmod(p, 4)
        return (
            f"(floor((instr('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) / {1 << k}) % 2)"
        )

    votes = ", ".join(
        f"sum(case when {bit(p)} = 1 then w else -w end) as v{p}" for p in range(64)
    )
    cks = ", ".join(
        "("
        + " + ".join(
            f"case when v{c * bits_per + k} > 0 then {1 << k} else 0 end"
            for k in range(bits_per)
        )
        + f") as ck{c}"
        for c in range(chunks)
    )
    ham = " + ".join(f"bit_count(xor(a.ck{c}, b.ck{c}))" for c in range(chunks))
    anyc = " or ".join(f"a.ck{c} = b.ck{c}" for c in range(chunks))
    return f"""
with toks as (
  select doc_id, t
  from (select doc_id, unnest(string_split(text, ' ')) as t from documents)
  where t <> ''
),
tf as (select doc_id, t, count(*) as tf from toks group by 1, 2),
dft as (select t, count(*) as df from tf group by 1),
nd as (select cast(count(*) as double) as n from documents),
wtab as (
  select tf.doc_id, md5(tf.t) as h,
         tf.tf * cast(floor(ln(nd.n / dft.df) * {quant}) as bigint) as w
  from tf join dft using (t) cross join nd
),
votes as (select doc_id, {votes} from wtab group by doc_id),
sig as (select doc_id, {cks} from votes),
cand as (
  select a.doc_id as id_a, b.doc_id as id_b, {ham} as hamming
  from sig a join sig b on a.doc_id < b.doc_id and ({anyc})
)
select id_a, id_b, cast(hamming as int) as hamming
from cand where hamming <= {max_hamming}
"""


@register(
    "dd_simhash_idf",
    oracle=_simhash_idf_oracle(),
    survey_ref="dedup-simhash",
    doc="IDF-weighted SimHash near-dup pairs (Charikar STOC'02 with the "
    "tf-idf feature weights the formulation assumes): unweighted "
    "unigram SimHash saturates on zipfian text (878k pairs at "
    "hamming<=16 on the 5.5k-doc zipf fixture vs 500 planted), idf "
    "weighting drives random pairs past radius 11 while planted "
    "near-dups stay inside (0 false positives at <=11, measured).  "
    "chunks=8 @ max_hamming=7 makes the pigeonhole COMPLETE (7 "
    "differing bits cannot touch all 8 chunks).  Integer-quantized "
    "exact-libm idf (floor(ln(N/df)*1e6)) keeps every vote sum int64 — "
    "the full pipeline replays in DuckDB bitwise.  Benched over the "
    "zipf fixture (SF_OVERRIDE) where the answer is the planted set, "
    "not an output artifact.",
)
def dd_simhash_idf(spark, sf_dir):
    from ..operators.dedup import simhash_idf_pairs

    return simhash_idf_pairs(T(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_bigram_surprisal",
    oracle="""
with tok as (
  select doc_id,
         unnest(string_split(text, ' ')) as term,
         generate_subscripts(string_split(text, ' '), 1) as pos
  from documents
),
big as (
  select doc_id, pos, term as w1,
         lead(term) over (partition by doc_id order by pos) as w2
  from tok
),
b2 as (select doc_id, pos, w1, w2 from big where w2 is not null),
cb as (select w1, w2, count(*) as cnt from b2 group by w1, w2),
cw as (select w1, count(*) as ctx from b2 group by w1),
tot as (select sum(cnt) as t from cb),
vocab as (select w1, w2, cnt from cb where cnt >= 2),
scored as (
  select b.doc_id, b.pos,
         coalesce(ln(cast(v.cnt as double)) - ln(cast(cw.ctx as double)),
                  ln(0.5) - ln(cast((select t from tot) as double))) as lnp
  from b2 b
  join cw using (w1)
  left join vocab v on v.w1 = b.w1 and v.w2 = b.w2
),
perdoc as (
  select doc_id, cast(count(*) as bigint) as n_bigrams,
         list(-lnp order by pos) as nl
  from scored group by doc_id
)
select doc_id, n_bigrams,
       (list_reduce(nl, (a, b) -> a + b) / n_bigrams) as bi_surprisal
from perdoc
""",
    survey_ref="text-surprisal",
    doc="bigram conditional-LM surprisal per doc (mean -ln p(w2|w1), "
    "OOV-smoothed): one order sharper than unigram at flagging word "
    "salad.  Integer-argument libm logs (ln c(w1,w2) - ln c(w1,.)) via "
    "broadcast tables + position-ordered fold => bitwise cross-engine; "
    "bigram assembly is a shuffle-free array transform.",
)
def text_bigram_surprisal(spark, sf_dir):
    from ..operators.text import bigram_logprob

    return bigram_logprob(T(spark, sf_dir, "documents"))


_SUBSTR_W = 5

@register(
    "dd_substring_dedup",
    oracle=f"""
with toks as (
  select doc_id, str_split(text, ' ') as t, len(str_split(text, ' ')) as n from documents
),
wins as (
  select doc_id,
         unnest(case when n >= {_SUBSTR_W} then generate_series(1, n-{_SUBSTR_W}+1) else [] end) as p,
         unnest([md5(array_to_string(t[p:p+{_SUBSTR_W}-1], ' '))
                 for p in (case when n >= {_SUBSTR_W} then generate_series(1, n-{_SUBSTR_W}+1) else [] end)]) as h
  from toks
),
flagged as (
  select doc_id, p from (
    select doc_id, p, row_number() over (partition by h order by doc_id, p) as rn
    from wins) where rn >= 2
),
flags as (
  select doc_id,
         list_distinct(flatten([generate_series(s, s+{_SUBSTR_W}-1) for s in list_sort(list(p))])) as cov
  from flagged group by doc_id
)
select t.doc_id,
       coalesce(array_to_string([t.t[i] for i in generate_series(1, t.n)
                        if not list_contains(coalesce(f.cov, []), i)], ' '), '') as text_dedup,
       cast(len(coalesce(f.cov, [])) as bigint) as n_removed
from toks t left join flags f using (doc_id)
""",
    survey_ref="dedup-substring",
    doc="exact duplicated-substring removal at window granularity (Lee et "
    "al. 2021 suffix-array dedup semantics): any 5-token window occurring "
    "at >1 corpus site is deleted everywhere except its first "
    "(doc_id, pos) occurrence; overlapping windows union into spans.  "
    "Linear window fan-out + one hash shuffle — no self-join, no Python.",
)
def dd_substring_dedup(spark, sf_dir):
    from ..operators.dedup import substring_dedup

    return substring_dedup(T(spark, sf_dir, "documents"), window_tokens=_SUBSTR_W)


# G.711 quantizer replayed in integer-exact SQL (encode+decode closed form;
# power(2, k) is exact in doubles for k <= 10)
_G711_SQL_PRE = f"""
with g as (select i.range as i from range({_WAV_N}) i),
samp as (
  select d.doc_id, (d.doc_id*13 + g.i*17) % 65536 - 32768 as _s
  from documents d cross join g
),
ul as (
  select doc_id, _s,
         least(case when _s < 0 then 132 - _s else _s + 132 end, 32767) as _m
  from samp
),
ulq as (
  select doc_id, _s,
         case when _m <= 255 then 0 when _m <= 511 then 1 when _m <= 1023 then 2
              when _m <= 2047 then 3 when _m <= 4095 then 4 when _m <= 8191 then 5
              when _m <= 16383 then 6 else 7 end as _seg, _m
  from ul
),
ulv as (
  select doc_id, _s,
         ((_m // cast(power(2, _seg+3) as bigint)) % 16 * 8 + 132)
           * cast(power(2, _seg) as bigint) - 132 as _q0
  from ulq
),
al as (
  select doc_id, _s, cast(floor(_s / 8.0) as bigint) as _x from samp
),
al2 as (
  select doc_id, _s, _x, case when _x < 0 then -_x - 1 else _x end as _m from al
),
alq as (
  select doc_id, _s, _x, _m,
         case when _m <= 31 then 0 when _m <= 63 then 1 when _m <= 127 then 2
              when _m <= 255 then 3 when _m <= 511 then 4 when _m <= 1023 then 5
              when _m <= 2047 then 6 else 7 end as _seg
  from al2
),
alv as (
  select doc_id, _x,
         (case when _seg = 0 then _t + 8 when _seg = 1 then _t + 264
               else (_t + 264) * cast(power(2, _seg - 1) as bigint) end) as _t2
  from (select *, (case when _seg < 2 then (_m // 2) % 16
                        else (_m // cast(power(2, _seg) as bigint)) % 16 end) * 16 as _t
        from alq)
)
"""


@register(
    "mm_audio_g711",
    oracle=_G711_SQL_PRE + f"""
select u.doc_id,
       cast({_WAV_N} as bigint) as n_samples,
       u.ulaw_sum, a.alaw_sum
from (select doc_id,
             cast(sum(case when _s < 0 then -_q0 else _q0 end) as bigint) as ulaw_sum
      from ulv group by doc_id) u
join (select doc_id,
             cast(sum(case when _x < 0 then -_t2 else _t2 end) as bigint) as alaw_sum
      from alv group by doc_id) a using (doc_id)
""",
    survey_ref="multimodal-decode",
    doc="REAL G.711 u-law + A-law decode (ITU-T G.711, WAV format tags "
    "7/6, operators/codecs.py): per-doc int16 waveforms compressed to "
    "8-bit log PCM inside a valid WAV container and decoded back; the "
    "oracle replays the companding quantizer (segment search + mantissa "
    "truncation) in integer-exact SQL, so sample sums match bitwise.",
)
def mm_audio_g711(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T_

    from ..operators.codecs import decode_wav, encode_wav

    n, rate = _WAV_N, _WAV_RATE
    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType(), False),
            T_.StructField("n_samples", T_.LongType(), True),
            T_.StructField("ulaw_sum", T_.LongType(), True),
            T_.StructField("alaw_sum", T_.LongType(), True),
        ]
    )

    def run(batches):
        import numpy as np

        idx = np.arange(n, dtype=np.int64)
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                samples = ((int(doc_id) * 13 + idx * 17) % 65536 - 32768).astype(np.int16)
                uq, _ = decode_wav(encode_wav(samples, rate, codec="ulaw"))
                aq, _ = decode_wav(encode_wav(samples, rate, codec="alaw"))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "n_samples": int(uq.shape[0]),
                        "ulaw_sum": int(uq.astype(np.int64).sum()),
                        "alaw_sum": int(aq.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "n_samples", "ulaw_sum", "alaw_sum"])

    return _spread_ids(T(spark, sf_dir, "documents").select("doc_id")).mapInPandas(run, schema=schema)


@register(
    "mm_decode_gif",
    oracle=f"""
select d.doc_id,
       cast({_MM_W} as int) as width,
       cast({_MM_H} as int) as height,
       cast(sum(((d.doc_id*3 + g.y*7 + g.x) % 256) * 3) as bigint) as pix_sum
from documents d
cross join (select y.range as y, x.range as x
            from range({_MM_H}) y, range({_MM_W}) x) g
group by d.doc_id
""",
    survey_ref="multimodal-decode",
    doc="REAL GIF decode (GIF87a LZW, operators/codecs.py): per-doc "
    "grayscale pattern encoded with the real variable-width LZW "
    "compressor and decoded back (identity 256-gray palette => each "
    "pixel contributes 3x its gray level); pixel sums oracle-derived "
    "from the closed form.",
)
def mm_decode_gif(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T_

    from ..operators.codecs import decode_gif, encode_gif

    w, h = _MM_W, _MM_H
    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType(), False),
            T_.StructField("width", T_.IntegerType(), True),
            T_.StructField("height", T_.IntegerType(), True),
            T_.StructField("pix_sum", T_.LongType(), True),
        ]
    )

    def run(batches):
        import numpy as np

        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        base = yy * 7 + xx
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                img = ((int(doc_id) * 3 + base) % 256).astype(np.uint8)
                back = decode_gif(encode_gif(img))  # [h, w, 3]
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "width": back.shape[1],
                        "height": back.shape[0],
                        "pix_sum": int(back.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "width", "height", "pix_sum"])

    return (
        _spread_ids(T(spark, sf_dir, "documents").select("doc_id")).mapInPandas(run, schema=schema)
    )


@register(
    "gr_triangles",
    oracle="""
with base as (
  select distinct l_orderkey as o, l_partkey as p from lineitem where l_orderkey <= 300
),
e as (
  select distinct x.p as a, y.p as b
  from base x join base y on x.o = y.o and x.p < y.p
)
select e1.a as a, e1.b as b, e2.b as c
from e e1
join e e2 on e2.a = e1.b
join e e3 on e3.a = e1.a and e3.b = e2.b
""",
    survey_ref="graph-triangles",
    doc="exact triangle enumeration (Suri-Vassilvitskii degree-ordered "
    "orientation: out-degrees capped at O(sqrt m), so wedge fan-out has "
    "no hub blow-up) over the part co-occurrence graph; the oracle is an "
    "INDEPENDENT naive three-way self-join listing each x<y<z triple.",
)
def gr_triangles(spark, sf_dir):
    from ..operators.graph import triangles

    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 300)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("x"), li.alias("y")
    edges = (
        a.join(
            b,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
        .distinct()
    )
    return triangles(edges)


@register(
    "dp_cdc_diff",
    oracle="""
with s1 as (
  select user_id, event_type, value from (
    select user_id, event_type, value,
           row_number() over (partition by user_id order by ts desc, event_id desc) as rn
    from events where event_id <= 4999) where rn = 1
),
s2 as (
  select user_id, event_type, value from (
    select user_id, event_type, value,
           row_number() over (partition by user_id order by ts desc, event_id desc) as rn
    from events) where rn = 1
)
select coalesce(s1.user_id, s2.user_id) as user_id,
       case when s1.user_id is null then 'insert'
            when s2.user_id is null then 'delete'
            else 'update' end as change_type,
       s1.event_type as old_event_type, s1.value as old_value,
       s2.event_type as new_event_type, s2.value as new_value
from s1 full outer join s2 on s1.user_id = s2.user_id
where s1.user_id is null or s2.user_id is null
   or (s1.event_type is distinct from s2.event_type)
   or (s1.value is distinct from s2.value)
""",
    survey_ref="dp-cdc",
    doc="change-data-feed between two keyed snapshots "
    "(sources/manifest.py::cdc_diff, the Delta-style table_changes "
    "surface): per-user latest-event state at event_id<=4999 vs the full "
    "log, classified insert/delete/update with old_*/new_* values via "
    "one null-safe full-outer join.",
)
def dp_cdc_diff(spark, sf_dir):
    from pyspark.sql import Window

    from ..sources.manifest import cdc_diff

    ev = T(spark, sf_dir, "events")

    def snap(df):
        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_type", "value")
        )

    return cdc_diff(snap(ev.filter(F.col("event_id") <= 4999)), snap(ev), keys=["user_id"])


@register(
    "text_entropy",
    oracle="""
with tc as (
  select doc_id, term, cast(count(*) as bigint) as c
  from (select doc_id, unnest(str_split(text, ' ')) as term from documents)
  group by doc_id, term
)
select doc_id, cast(sum(c) as bigint) as n_tokens,
       (ln(cast(sum(c) as bigint))
        - list_reduce(list(c * ln(c) order by term), (a, b) -> a + b) / sum(c)) as entropy
from tc group by doc_id
""",
    survey_ref="text-entropy",
    doc="per-doc token-distribution Shannon entropy (nats): ln evaluated "
    "only at integer arguments (libm parity), term-ordered fold => "
    "bitwise cross-engine.  Doc-local complement of the corpus-relative "
    "unigram surprisal.",
)
def text_entropy(spark, sf_dir):
    from ..operators.text import token_entropy

    return token_entropy(T(spark, sf_dir, "documents"))


@register(
    "text_chunk_overlap",
    oracle="""
with toks as (
  select doc_id, str_split(text, ' ') as t, len(str_split(text, ' ')) as n from documents
),
w as (
  select doc_id, t,
         case when n <= 32 then 1 else cast(ceil((n-32)/16.0) as bigint) + 1 end as k
  from toks
)
select doc_id,
       unnest(generate_series(0, k-1)) as chunk_id,
       unnest([array_to_string(t[i*16+1 : i*16+32], ' ')
               for i in generate_series(0, k-1)]) as chunk,
       unnest([cast(len(t[i*16+1 : i*16+32]) as int)
               for i in generate_series(0, k-1)]) as n_chunk_tokens
from w
""",
    survey_ref="text-chunk-overlap",
    doc="sliding-window chunking with overlap (32-token windows, stride "
    "16): each window shares 16 tokens with its predecessor so no "
    "training context dies on a chunk boundary.  Same shuffle-free "
    "explode fan-out as disjoint chunking.",
)
def text_chunk_overlap(spark, sf_dir):
    from ..operators.text import chunk_documents

    return chunk_documents(
        T(spark, sf_dir, "documents"), chunk_tokens=32, stride=16
    )


@register(
    "agg_incremental_distinct",
    oracle="""
select user_id, cast(count(distinct event_type) as bigint) as nd
from events group by user_id
""",
    survey_ref="rollup-distinct",
    doc="incrementally-maintained distinct counts: two ingest shards "
    "sketch independently (DataSketches HLL via hll_sketch_agg), merge "
    "with hll_union_agg, finalize to counts.  Per-user event_type "
    "cardinality sits in the sketch's exact list/set regime, so the "
    "estimates EQUAL the oracle's exact count(distinct) — certifying "
    "the whole partial->merge->finalize path, not an approximation.",
)
def agg_incremental_distinct(spark, sf_dir):
    from ..operators.rollup import (
        finalize_distinct,
        merge_distinct_partials,
        partial_distinct,
    )

    ev = T(spark, sf_dir, "events")
    shard1 = partial_distinct(ev.filter(F.col("event_id") < 5000), ["user_id"], "event_type")
    shard2 = partial_distinct(ev.filter(F.col("event_id") >= 5000), ["user_id"], "event_type")
    return finalize_distinct(merge_distinct_partials([shard1, shard2], ["user_id"]))


@register(
    "dp_feature_hash",
    oracle=f"""
select event_id, user_id, event_type,
       {sqlgen.md5_bucket('event_type', 256, salt='event_type:')} as hf_event_type,
       {sqlgen.md5_bucket("((event_type) || '') || chr(31) || ((user_id) || '')", 256, salt='event_typexuser_id:')} as hf_event_type_x_user_id
from events
""",
    survey_ref="feature-hashing",
    doc="hashing-trick categorical encoding + feature cross (Weinberger "
    "et al. 2009): md5-nibble buckets, partition- and engine-independent "
    "(the oracle runs the textually identical fragment), no vocabulary "
    "pass — the unbounded-vocab alternative to the frozen one-hot P5.",
)
def dp_feature_hash(spark, sf_dir):
    from ..operators.projections import hashed_features

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return hashed_features(
        ev, cols=["event_type"], n_buckets=256, crosses=[["event_type", "user_id"]]
    )


def _seasonal_oracle() -> str:
    from ..operators.analytics import seasonal_decompose_sql

    trend, phase, seasonal = seasonal_decompose_sql("user_id", "event_id", "value", 24)
    return f"""
with s1 as (
  select user_id, event_id, value, {trend} as trend, {phase} as phase
  from events
),
s2 as (
  select *, {seasonal} as seasonal from s1
)
select user_id, event_id, value, trend, phase, seasonal,
       ((value) - trend - seasonal) as residual
from s2
"""


@register(
    "an_seasonal_decompose",
    oracle=_seasonal_oracle(),
    survey_ref="ts-seasonal",
    doc="classical additive decomposition over per-user event series "
    "(period 24): centered decimal-exact trend (NULL edges), per-phase "
    "seasonal means of the detrended values, residual — identical SQL "
    "text both engines, bitwise.",
)
def an_seasonal_decompose(spark, sf_dir):
    from ..operators.analytics import seasonal_decompose

    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return seasonal_decompose(ev, key="user_id", order="event_id", value="value", period=24)


@register(
    "agg_incremental_cms",
    oracle="""
select event_type, cast(count(*) as bigint) as est
from events group by event_type
""",
    survey_ref="rollup-cms",
    doc="incrementally-maintained item frequencies: two ingest shards "
    "build count-min sketch state (sparse (depth,pos,count) rows), merge "
    "by exact integer re-aggregation, point-query with min-over-depths.  "
    "event_type cardinality (~distinct/width = 6/4096 per depth) makes "
    "an all-depths collision practically impossible AND the sketch is "
    "deterministic, so the estimates EQUAL the oracle's exact counts — "
    "certifying the partial->merge->estimate path end to end.",
)
def agg_incremental_cms(spark, sf_dir):
    from ..operators.rollup import cms_estimate, merge_cms_partials, partial_cms

    ev = T(spark, sf_dir, "events")
    s1 = partial_cms(ev.filter(F.col("event_id") < 5000), [], "event_type")
    s2 = partial_cms(ev.filter(F.col("event_id") >= 5000), [], "event_type")
    merged = merge_cms_partials([s1, s2], [])
    probes = ev.select("event_type").distinct()
    return cms_estimate(merged, probes, "event_type")


@register(
    "mm_audio_flac",
    oracle=f"""
select d.doc_id,
       cast({_WAV_N} as bigint) as n_samples,
       cast(sum((d.doc_id*13 + g.i*17) % 65536 - 32768) as bigint) as amp_sum,
       cast(sum(abs((d.doc_id*13 + g.i*17) % 65536 - 32768)) as bigint) as abs_sum
from documents d
cross join (select i.range as i from range({_WAV_N}) i) g
group by d.doc_id
""",
    survey_ref="multimodal-decode",
    doc="REAL FLAC decode (operators/flac.py: rice-coded fixed/LPC "
    "subframes, CRC-8/16 verified): per-doc int16 waveform encoded to a "
    "valid FLAC stream and decoded back.  FLAC is LOSSLESS, so the "
    "oracle is the ORIGINAL closed-form sample sums — any coding error "
    "anywhere in the chain breaks the hash.",
)
def mm_audio_flac(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T_

    from ..operators.flac import decode_flac, encode_flac

    n = _WAV_N
    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType(), False),
            T_.StructField("n_samples", T_.LongType(), True),
            T_.StructField("amp_sum", T_.LongType(), True),
            T_.StructField("abs_sum", T_.LongType(), True),
        ]
    )

    def run(batches):
        import numpy as np

        idx = np.arange(n, dtype=np.int64)
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                samples = ((int(doc_id) * 13 + idx * 17) % 65536 - 32768).astype(np.int16)
                back, _ = decode_flac(encode_flac(samples, 16000, block_size=32))
                flat = back.ravel().astype(np.int64)
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "n_samples": int(flat.shape[0]),
                        "amp_sum": int(flat.sum()),
                        "abs_sum": int(np.abs(flat).sum()),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "n_samples", "amp_sum", "abs_sum"])

    return _spread_ids(T(spark, sf_dir, "documents").select("doc_id")).mapInPandas(run, schema=schema)


_PREP_W = 5


@register(
    "pipeline_corpus_prep",
    oracle=f"""
with corpus0 as (
  select doc_id, text from documents where doc_id % 97 <> 0
),
bench as (
  select distinct g
  from (select unnest({_DUCK_TRIGRAMS}) as g
        from (select string_split(text, ' ') as ws
              from documents where doc_id % 97 = 0))
),
q as (
  select doc_id, text from (
    select doc_id, text, str_split(text, ' ') as ws from corpus0)
  where len(ws) between 20 and 200
    and (len(ws) - len(list_distinct(ws))) / cast(len(ws) as double) < 0.4
),
reps as (
  select min(doc_id) as doc_id from q group by md5(text)
),
s2 as (select q.doc_id, q.text from q join reps using (doc_id)),
toks as (
  select doc_id, str_split(text, ' ') as t, len(str_split(text, ' ')) as n from s2
),
wins as (
  select doc_id,
         unnest(case when n >= {_PREP_W} then generate_series(1, n-{_PREP_W}+1) else [] end) as p,
         unnest([md5(array_to_string(t[p:p+{_PREP_W}-1], ' '))
                 for p in (case when n >= {_PREP_W} then generate_series(1, n-{_PREP_W}+1) else [] end)]) as h
  from toks
),
flagged as (
  select doc_id, p from (
    select doc_id, p, row_number() over (partition by h order by doc_id, p) as rn
    from wins) where rn >= 2
),
flags as (
  select doc_id,
         list_distinct(flatten([generate_series(s, s+{_PREP_W}-1) for s in list_sort(list(p))])) as cov
  from flagged group by doc_id
),
sd as (
  select t.doc_id,
         coalesce(array_to_string([t.t[i] for i in generate_series(1, t.n)
                          if not list_contains(coalesce(f.cov, []), i)], ' '), '') as text_final,
         cast(len(coalesce(f.cov, [])) as bigint) as n_removed
  from toks t left join flags f using (doc_id)
),
bad as (
  select distinct doc_id
  from (select doc_id, unnest({_DUCK_TRIGRAMS}) as g
        from (select doc_id, string_split(text_final, ' ') as ws from sd)) grams
  join bench using (g)
)
select doc_id,
       cast(('0x' || substring(md5(cast(doc_id as varchar) || ':ep1'), 1, 8)) as bigint) % 4 as shard,
       cast(row_number() over (
           partition by cast(('0x' || substring(md5(cast(doc_id as varchar) || ':ep1'), 1, 8)) as bigint) % 4
           order by md5(cast(doc_id as varchar) || ':ep1'), doc_id
       ) as bigint) - 1 as pos,
       n_removed, text_final
from sd
where doc_id not in (select doc_id from bad)
""",
    survey_ref="pipeline-corpus-prep",
    doc="FLAGSHIP training-corpus prep, end-to-end in ONE certified "
    "query: quality gate (token count + duplicate-token ratio) -> exact "
    "dedup (min-id representative per md5) -> exact substring dedup "
    "(5-token windows, first-site-wins) -> benchmark decontamination "
    "(word-trigram overlap, broadcast ban set) -> deterministic epoch "
    "shard/position assignment.  Every stage is the already-certified "
    "operator; the oracle replays the whole chain in DuckDB, so stage "
    "INTERACTIONS (column flow, survivor sets, order) are hash-gated "
    "too, not just the stages in isolation.",
)
def pipeline_corpus_prep(spark, sf_dir):
    """Two plan rewrites (r8) over the block composition of the certified
    operators, with bitwise-identical output — pinned against that
    composition, kept as ``reference_corpus_prep_blocks`` in
    tests/test_plans.py, by test_corpus_prep_fused_matches_blocks_bitwise:

    1. The exact-dedup stage (min-id representative per md5(text)) runs
       as ONE ``row_number`` window over ``md5(text)`` instead of
       ``exact_dedup``'s groupBy + join-back: same survivor set (doc_id
       is unique, so rank-1-by-doc_id == min(doc_id) per content key),
       but 1 exchange where the block form paid 3 (agg + both SMJ legs).
    2. The substring-dedup output is PINNED at its fan-out point: the
       decontamination ban set derives from POST-dedup trigrams, so
       ``sd`` feeds both the anti-join probe and the ban-set build —
       unpinned, column pruning makes the two subtrees non-identical
       and ReuseExchange cannot cover them, so the ENTIRE window-dedup
       (explode + shuffle-on-hash + reassembly) executed twice
       (plan-audited r8: 10 exchanges + 2 SMJ -> 5 exchanges + 0 SMJ).

    Measured (interleaved A/B, same host): sf0.1 flat (overhead-bound),
    sf1 6.5 -> 3.4-3.9 s, sf10 39-47 -> 13-14 s (~3x) — at 100 TB the
    block form replays the dominant window-dedup term twice per run.
    """
    from ..operators.dedup import substring_dedup
    from ..operators.filtering import shard_assign
    from ..operators.text import decontaminate_drop

    corpus, bench = _corpus_prep_inputs(spark, sf_dir)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    s2 = (
        corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
    )
    sd = (
        substring_dedup(s2, window_tokens=_PREP_W)
        .withColumnRenamed("text_dedup", "text_final")
        .localCheckpoint(eager=False)
    )
    s4 = decontaminate_drop(
        sd, bench.withColumnRenamed("text", "text_final"), "doc_id", "text_final", n=3
    )
    out = shard_assign(s4, "doc_id", n_shards=4, salt="ep1")
    return out.select("doc_id", "shard", "pos", "n_removed", "text_final")


def _corpus_prep_inputs(spark, sf_dir):
    """(quality-gated corpus, benchmark split) of the corpus-prep head."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    dup_ratio = (n - F.size(F.array_distinct(toks))) / n.cast("double")
    return corpus.filter((n >= 20) & (n <= 200) & (dup_ratio < 0.4)), bench


def _seasonal_anomaly_oracle() -> str:
    from ..operators.analytics import seasonal_decompose_sql

    trend, phase, seasonal = seasonal_decompose_sql("user_id", "event_id", "value", 24)
    return f"""
with s1 as (
  select user_id, event_id, value, {trend} as trend, {phase} as phase
  from events
),
s2 as (
  select *, {seasonal} as seasonal from s1
),
s3 as (
  select user_id, event_id, value, ((value) - trend - seasonal) as residual from s2
),
s4 as (
  select *,
         count(residual) over (partition by user_id) as _n,
         {_res_sum} as _s1,
         {_res_sum2} as _s2
  from s3
)
select user_id, event_id, value, residual,
       (abs(residual - _s1 / _n) > 3 * sqrt(
          case when (_s2 / _n - (_s1 / _n) * (_s1 / _n)) < 0 then 0.0
               else (_s2 / _n - (_s1 / _n) * (_s1 / _n)) end)) as is_anomaly
from s4
where residual is not null
"""


from .. import sqlgen as _sg

_res_sum = _sg.dec_to_double(f"sum(cast((residual) as {_sg.DEC})) over (partition by user_id)")
_res_sum2 = _sg.dec_to_double(
    f"sum(cast((residual) * (residual) as {_sg.DEC})) over (partition by user_id)"
)


@register(
    "an_seasonal_anomaly",
    oracle=_seasonal_anomaly_oracle(),
    survey_ref="ts-anomaly",
    doc="seasonality-aware anomaly flags: decompose (trend+seasonal), "
    "then mark rows whose residual deviates more than 3 population "
    "sigmas from the per-user residual mean — all moments from "
    "decimal-exact window sums, identical SQL text both engines, "
    "bitwise incl. the boolean.",
)
def an_seasonal_anomaly(spark, sf_dir):
    from ..operators.analytics import seasonal_decompose

    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "value")
    dec = seasonal_decompose(ev, key="user_id", order="event_id", value="value", period=24)
    s3 = dec.selectExpr("user_id", "event_id", "value", "residual")
    s4 = s3.selectExpr(
        "*",
        "count(residual) over (partition by user_id) as _n",
        f"{_res_sum} as _s1",
        f"{_res_sum2} as _s2",
    )
    var = "(case when (_s2 / _n - (_s1 / _n) * (_s1 / _n)) < 0 then 0.0 else (_s2 / _n - (_s1 / _n) * (_s1 / _n)) end)"
    return s4.filter(F.col("residual").isNotNull()).selectExpr(
        "user_id",
        "event_id",
        "value",
        "residual",
        f"(abs(residual - _s1 / _n) > 3 * sqrt({var})) as is_anomaly",
    )


@register(
    "text_stupid_backoff",
    oracle="""
with tr as (
  select str_split(text, ' ') as t, len(str_split(text, ' ')) as n
  from documents where doc_id % 3 <> 0
),
ev as (
  select doc_id, str_split(text, ' ') as t, len(str_split(text, ' ')) as n
  from documents where doc_id % 3 = 0
),
pos as (
  select doc_id,
         unnest(generate_series(3, n)) as pos,
         unnest([t[i-2] for i in generate_series(3, n)]) as w1,
         unnest([t[i-1] for i in generate_series(3, n)]) as w2,
         unnest([t[i] for i in generate_series(3, n)]) as w3
  from ev where n >= 3
),
uni as (
  select w, cast(count(*) as bigint) as cu
  from (select unnest(t) as w from tr) group by w
),
tot as (select cast(sum(cu) as bigint) as n from uni),
bi as (
  select w1, w2, cast(count(*) as bigint) as cb from (
    select unnest([t[i-1] for i in generate_series(2, n)]) as w1,
           unnest([t[i] for i in generate_series(2, n)]) as w2
    from tr where n >= 2) group by w1, w2
),
tri as (
  select w1, w2, w3, cast(count(*) as bigint) as c3 from (
    select unnest([t[i-2] for i in generate_series(3, n)]) as w1,
           unnest([t[i-1] for i in generate_series(3, n)]) as w2,
           unnest([t[i] for i in generate_series(3, n)]) as w3
    from tr where n >= 3) group by w1, w2, w3
),
scored as (
  select p.doc_id, p.pos,
         case when tri.c3 is not null then ln(tri.c3) - ln(b12.cb)
              when b23.cb is not null then ln(0.4) + ln(b23.cb) - ln(u2.cu)
              else ln(0.4) + ln(0.4) + coalesce(ln(u3.cu), 0.0) - ln((select n from tot)) end as lns
  from pos p
  left join tri on tri.w1 = p.w1 and tri.w2 = p.w2 and tri.w3 = p.w3
  left join bi b12 on b12.w1 = p.w1 and b12.w2 = p.w2
  left join bi b23 on b23.w1 = p.w2 and b23.w2 = p.w3
  left join uni u2 on u2.w = p.w2
  left join uni u3 on u3.w = p.w3
)
select doc_id, cast(count(*) as bigint) as n_scored,
       (-list_reduce(list(lns order by pos), (a, b) -> a + b) / count(*)) as sb_surprisal
from scored group by doc_id
""",
    survey_ref="text-stupid-backoff",
    doc="Stupid Backoff trigram LM surprisal (Brants et al. 2007 — the "
    "MapReduce-era distributed n-gram LM: count ratios with a 0.4 "
    "backoff, no discounting state) scored on a held-out third of the "
    "corpus against counts from the rest, so the trigram->bigram->"
    "unigram backoff chain actually fires.  Integer-argument libm logs, "
    "position-ordered fold => bitwise incl. the backoff branches.",
)
def text_stupid_backoff(spark, sf_dir):
    from ..operators.text import stupid_backoff_logprob

    docs = T(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 3 != 0)
    ev = docs.filter(F.col("doc_id") % 3 == 0)
    return stupid_backoff_logprob(ev, train=train)


@register(
    "dp_pseudonymize",
    oracle="""
select event_id,
       case when user_id is not null
            then md5('s3cr3t' || ':' || cast(user_id as varchar)) end as user_id,
       case when event_type is not null
            then md5('s3cr3t' || ':' || event_type) end as event_type,
       value
from events
""",
    survey_ref="dp-pseudonymize",
    doc="keyed pseudonymization (cleaning.pseudonymize): md5(secret:value) "
    "tokens — deterministic so cross-table joins survive, irreversible "
    "without the secret, NULLs preserved; pure codegen projection.",
)
def dp_pseudonymize(spark, sf_dir):
    from ..operators.cleaning import pseudonymize

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    return pseudonymize(ev, ["user_id", "event_type"], secret="s3cr3t")


@register(
    "dp_k_anonymity",
    oracle="""
select event_type, cast(value % 10 as bigint) as value_band,
       cast(count(*) as bigint) as class_size,
       (count(*) < 50) as at_risk
from (select event_type, cast(floor(value) as bigint) as value from events)
group by event_type, cast(value % 10 as bigint)
""",
    survey_ref="dp-k-anonymity",
    doc="k-anonymity audit (profile.k_anonymity): equivalence-class sizes "
    "over a quasi-identifier combo with an at-risk flag — the release-"
    "safety check paired with pseudonymize.  One hash aggregate.",
)
def dp_k_anonymity(spark, sf_dir):
    from ..operators.profile import k_anonymity

    ev = (
        T(spark, sf_dir, "events")
        .select("event_type", F.floor(F.col("value")).cast("bigint").alias("value"))
        .select("event_type", (F.col("value") % 10).cast("bigint").alias("value_band"))
    )
    return k_anonymity(ev, ["event_type", "value_band"], k=50)


@register(
    "mm_decode_tiff",
    oracle=f"""
select d.doc_id,
       cast({_MM_W} as int) as width,
       cast({_MM_H} as int) as height,
       cast(sum((d.doc_id*5 + g.y*11 + g.x*3) % 256) as bigint) as pix_sum
from documents d
cross join (select y.range as y, x.range as x
            from range({_MM_H}) y, range({_MM_W}) x) g
group by d.doc_id
""",
    survey_ref="multimodal-decode",
    doc="REAL TIFF decode (TIFF 6.0, operators/codecs.py): per-doc gray "
    "pattern encoded with TIFF-LZW (MSB-first, early-change widths) + "
    "horizontal-differencing predictor, decoded back; pixel sums "
    "oracle-derived from the closed form.",
)
def mm_decode_tiff(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T_

    from ..operators.codecs import decode_tiff, encode_tiff

    w, h = _MM_W, _MM_H
    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType(), False),
            T_.StructField("width", T_.IntegerType(), True),
            T_.StructField("height", T_.IntegerType(), True),
            T_.StructField("pix_sum", T_.LongType(), True),
        ]
    )

    def run(batches):
        import numpy as np

        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        base = yy * 11 + xx * 3
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                img = ((int(doc_id) * 5 + base) % 256).astype(np.uint8)
                back = decode_tiff(encode_tiff(img, compression=5, predictor=2))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "width": back.shape[1],
                        "height": back.shape[0],
                        "pix_sum": int(back.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "width", "height", "pix_sum"])

    return _spread_ids(T(spark, sf_dir, "documents").select("doc_id")).mapInPandas(run, schema=schema)


def _pattern_oracle(steps: list[str], rounds: int) -> str:
    # AS MATERIALIZED: DuckDB inlines single-reference CTEs, which makes
    # this chain re-evaluate exponentially (match10 re-derives every
    # earlier round); materialization keeps it linear
    ctes = [
        "f0 as materialized (select distinct user_id, cast(-4611686018427387904 as bigint) as prev from events)"
    ]
    unions = []
    for r in range(1, rounds + 1):
        for i, s in enumerate(steps):
            prev_rel = f"f{r-1}" if i == 0 else f"m{r}_{i-1}"
            prev_col = "prev" if i == 0 else "o"
            ctes.append(
                f"m{r}_{i} as materialized (select e.user_id, min(e.event_id) as o from events e "
                f"join {prev_rel} p on e.user_id = p.user_id and e.event_id > p.{prev_col} "
                f"where e.event_type = '{s}' group by e.user_id)"
            )
        last = len(steps) - 1
        ctes.append(
            f"match{r} as materialized (select m0.user_id, cast({r} as int) as match_id, "
            f"m0.o as start_ord, ml.o as end_ord "
            f"from m{r}_0 m0 join m{r}_{last} ml using (user_id))"
        )
        ctes.append(f"f{r} as materialized (select user_id, end_ord as prev from match{r})")
        unions.append(f"select * from match{r}")
    return "with " + ",\n".join(ctes) + "\n" + "\nunion all\n".join(unions)


@register(
    "an_pattern_spans",
    oracle=_pattern_oracle(["view", "click", "purchase"], 10),
    survey_ref="event-pattern-match",
    doc="sequential pattern matching, MATCH_RECOGNIZE-lite "
    "(analytics.pattern_spans): earliest-first NON-OVERLAPPING "
    "view->click->purchase spans per user under skip-till-next-match "
    "semantics — ONE shuffle on user_id + a JVM-side aggregate-HOF "
    "automaton over the per-key sorted event array (pinned row-identical "
    "to the relational frontier-join test reference "
    "reference_pattern_spans_joins in tests/test_datapipe.py), "
    "matched by a 10-round unrolled oracle with the identical bound.",
)
def an_pattern_spans(spark, sf_dir):
    from ..operators.analytics import pattern_spans

    ev = T(spark, sf_dir, "events")
    return pattern_spans(
        ev, "user_id", "event_id", "event_type",
        ["view", "click", "purchase"], max_matches=10,
    )


@register(
    "an_sessionize",
    oracle=f"""
with o as (
  select user_id, ts, event_id, value,
         case when lag(ts) over (partition by user_id order by ts, event_id) is null
                   or epoch_us(ts) - epoch_us(lag(ts) over (partition by user_id order by ts, event_id))
                      > 1800 * 1000000
              then 1 else 0 end as brk
  from events
),
s as (
  select *, sum(brk) over (partition by user_id order by ts, event_id
                           rows between unbounded preceding and current row) as sess
  from o
)
select user_id, cast(sess as bigint) as session_idx, count(*) as n_events,
       min(ts) as session_start, max(ts) as session_end,
       cast(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0) as bigint) as duration_s,
       {sqlgen.fsum("value", "total_value")}
from s group by user_id, sess
""",
    survey_ref="an-sessionize",
    doc="batch gap-based sessionization (analytics.sessionize): idle gap "
    "> 30 min closes the session — the batch counterpart of "
    "sw_session_window with identical strict-gap semantics.  ONE "
    "exchange on user_id: the lag flag and the running session index "
    "share a single window sort, and the closing (user, session) "
    "aggregate is clustered by the same partitioning (AQE keeps it "
    "exchange-free).  fsum total => bitwise cross-engine.",
)
def an_sessionize(spark, sf_dir):
    from ..operators.analytics import sessionize

    return sessionize(T(spark, sf_dir, "events"), gap_seconds=1800)


@register(
    "dd_containment",
    oracle="""
with sh as (
  select doc_id as _id, unnest(list_distinct(string_split(text, ' '))) as _s
  from documents
),
sizes as (select _id, count(*) as _sz from sh group by _id),
inter as (
  select l._id as id_a, r._id as id_b, count(*) as _inter
  from sh l join sh r on l._s = r._s and l._id <> r._id
  group by 1, 2
)
select id_a, id_b, (_inter / sa._sz) as containment
from inter join sizes sa on inter.id_a = sa._id
where (_inter / sa._sz) >= 0.9
""",
    survey_ref="dedup-containment",
    doc="directed n-gram containment pairs |A∩B|/|A| >= 0.9 "
    "(dedup.containment_pairs): the quote/excerpt detector Jaccard "
    "misses — prefix-filtered AllPairs probing (rarest shingles only) "
    "against the posting index, full-intersection verify => output "
    "bitwise identical to the naive quadratic oracle.",
)
def dd_containment(spark, sf_dir):
    from ..operators.dedup import containment_pairs

    return containment_pairs(T(spark, sf_dir, "documents"), "doc_id", "text", n=1, threshold=0.9)


# --- duplicate-density-controlled near-dup corpus (VERDICT r5 item 3 /
# ROADMAP item 6).  The raw word-soup corpus (31-word vocabulary) makes
# UNIGRAM containment/Jaccard near-all-pairs — a data artifact that left
# dd_containment / dd_ngram_jaccard with no meaningful bench.  The
# planted corpus fixes the artifact IN-PLAN, so the same derivation runs
# at any sf on both engines:
#
# - every token is salted with floor(doc_id/2), so base docs share
#   shingles only within 2-doc groups (word order still random: trigram
#   collisions ~0) — candidate volume stays LINEAR in the corpus;
# - 10% of docs (doc_id % 10 = 0) get a planted near-duplicate: the
#   first ceil-ish 90% of their salted tokens under a shifted id —
#   trigram containment 1.0 one way, ~0.88 the other, Jaccard ~0.88 —
#   a controlled planted-pair density the operators must recover.

_PLANTED_OFFSET = 10_000_000


def _planted_corpus(spark, sf_dir):
    # r10: spread the 1-row-group documents scan before the per-row
    # corpus synthesis — the salting transform + array_join + downstream
    # trigram shingling are ~1 ms/doc of map work that otherwise runs on
    # the single scan task (the _spread rationale above; the exchange
    # carries only (doc_id, text)).  Measured: dd_containment_planted
    # 5.3 -> 3.6 s, dd_jaccard_planted 4.9 -> 3.2 s at sf0.1 x 32 cores.
    # Values unchanged (per-doc derivation; both heads stay hash-green).
    docs = _spread(T(spark, sf_dir, "documents").select("doc_id", "text"))
    stoks = F.transform(
        F.split(F.col("text"), " "),
        lambda t: F.concat(t, F.lit("#"), F.expr("cast(doc_id div 2 as string)")),
    )
    d = docs.withColumn("_st", stoks)
    # in-plan guard (ADVICE r6): planted ids are minted at doc_id +
    # _PLANTED_OFFSET — if a scale factor ever pushes real doc_ids past
    # the offset, planted ids would collide with base ids and corrupt
    # Spark result and oracle IDENTICALLY (gate stays green on a broken
    # corpus).  raise_error turns that into a loud red row instead;
    # distributed, no extra job.
    guarded_id = F.when(
        F.col("doc_id") < F.lit(_PLANTED_OFFSET), F.col("doc_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("planted corpus: doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(f" >= _PLANTED_OFFSET {_PLANTED_OFFSET}; raise the offset"),
            )
        ).cast("long")
    )
    base = d.select(guarded_id.alias("doc_id"), F.array_join("_st", " ").alias("text"))
    planted = d.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + F.lit(_PLANTED_OFFSET)).alias("doc_id"),
        F.array_join(
            F.slice("_st", F.lit(1), F.greatest(F.expr("(size(_st) * 9) div 10"), F.lit(3))),
            " ",
        ).alias("text"),
    )
    return base.unionByName(planted)


# shared oracle prefix: the planted corpus + its trigram shingle/size
# tables (DuckDB's spelling of operators.dedup.word_shingles(n=3))
_PLANTED_SHINGLES_SQL = f"""
with c as (
  select doc_id,
         array_to_string(list_transform(string_split(text, ' '),
           t -> t || '#' || cast(doc_id // 2 as varchar)), ' ') as text
  from documents
  union all
  select doc_id + {_PLANTED_OFFSET},
         array_to_string(
           list_slice(list_transform(string_split(text, ' '),
             t -> t || '#' || cast(doc_id // 2 as varchar)),
             1, greatest((len(string_split(text, ' ')) * 9) // 10, 3)), ' ')
  from documents where doc_id % 10 = 0
),
tk as (select doc_id, string_split(text, ' ') as toks from c),
sh as (
  select doc_id as _id, unnest(list_distinct(
    list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) as _s
  from tk
),
sizes as (select _id, count(*) as _sz from sh group by _id)"""


@register(
    "dd_containment_planted",
    oracle=_PLANTED_SHINGLES_SQL + """,
inter as (
  select l._id as id_a, r._id as id_b, count(*) as _inter
  from sh l join sh r on l._s = r._s and l._id <> r._id
  group by 1, 2
)
select id_a, id_b, (_inter / sa._sz) as containment
from inter join sizes sa on inter.id_a = sa._id
where (_inter / sa._sz) >= 0.8
""",
    survey_ref="dedup-containment",
    doc="directed trigram containment over the duplicate-density-"
    "controlled corpus (10% planted 90%-prefix near-dups, salted tokens "
    "keep base docs distinct): the prefix-filtered AllPairs probe's "
    "candidate volume is LINEAR in the corpus here — the benchable twin "
    "of dd_containment, whose unigram/word-soup input is a degenerate "
    "all-pairs data artifact.",
)
def dd_containment_planted(spark, sf_dir):
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        _planted_corpus(spark, sf_dir), "doc_id", "text", n=3, threshold=0.8
    )


@register(
    "dd_jaccard_planted",
    oracle=_PLANTED_SHINGLES_SQL + """,
inter as (
  select l._id as id_a, r._id as id_b, count(*) as _inter
  from sh l join sh r on l._s = r._s and l._id < r._id
  group by 1, 2
)
select id_a, id_b,
       (_inter / (sa._sz + sb._sz - _inter)) as jaccard
from inter
join sizes sa on inter.id_a = sa._id
join sizes sb on inter.id_b = sb._id
where (_inter / (sa._sz + sb._sz - _inter)) >= 0.8
""",
    survey_ref="dedup-jaccard",
    doc="exact trigram-Jaccard near-dup pairs over the planted-density "
    "corpus — the benchable twin of dd_ngram_jaccard (prefix-filtered "
    "AllPairs; candidates linear in the corpus at controlled 10% "
    "near-dup rate).",
)
def dd_jaccard_planted(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _planted_corpus(spark, sf_dir), "doc_id", "text", n=3, threshold=0.8
    )


def _lpa_oracle(iterations: int = 3) -> str:
    """Unrolled synchronous LPA recursion — integer counts and ids only,
    identical (count desc, label asc) argmax => bitwise cross-engine."""
    sql = """
with e0 as (
  select l_orderkey as u, l_partkey as v from lineitem where l_orderkey <= 600
),
edges as (select u, v from e0 union select v, u from e0),
nodes as (select distinct u as node from edges),
l0 as (select node, node as label from nodes)"""
    prev = "l0"
    for i in range(1, iterations + 1):
        sql += f""",
c{i} as (select e.u as node, l.label, count(*) as n
         from edges e join {prev} l on e.v = l.node group by 1, 2),
r{i} as (select node, label,
                row_number() over (partition by node order by n desc, label asc) as rn
         from c{i}),
l{i} as (select node, label from r{i} where rn = 1)"""
        prev = f"l{i}"
    return sql + f"\nselect node, cast(label as bigint) as label from {prev}"


@register(
    "gr_label_propagation",
    oracle=_lpa_oracle(),
    survey_ref="graph-lpa",
    doc="synchronous label-propagation communities (graph.label_propagation) "
    "over the order->part bipartite edges: majority neighbor label, "
    "(count desc, label asc) tie-break, fixed 3 rounds — deterministic "
    "by construction (async LPA is run-order-dependent); oracle = the "
    "unrolled integer recursion, bitwise.",
)
def gr_label_propagation(spark, sf_dir):
    from ..operators.graph import label_propagation

    li = T(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_orderkey") <= 600).select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return label_propagation(edges)


_KCORE_K = 3


def _kcore_oracle(k: int = _KCORE_K, iterations: int = 3) -> str:
    """Unrolled k-core peel — pure integer degrees and semi-joins,
    bitwise cross-engine (the LPA/pagerank recursion pattern).  The
    graph is part CO-PURCHASE (parts sharing an order form a clique):
    per-order cliques give the peel real structure at EVERY sf — the
    bipartite order->part graph collapses to 0 survivors at sf0.1
    because parts spread thinner as the catalog grows."""
    sql = """
with e0 as (
  select a.l_partkey as u, b.l_partkey as v
  from lineitem a join lineitem b
    on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
  where a.l_orderkey <= 600
),
g0 as (
  select distinct u, v
  from (select u, v from e0 union all select v, u from e0)
  where u <> v
)"""
    prev = "g0"
    for i in range(1, iterations + 1):
        sql += f""",
d{i} as (select u, count(*) as degree from {prev} group by u),
k{i} as (select u from d{i} where degree >= {k}),
g{i} as (select g.u, g.v from {prev} g
         join k{i} a on g.u = a.u join k{i} b on g.v = b.u)"""
        prev = f"g{i}"
    return sql + f"""
select u as node, cast(count(*) as bigint) as degree
from {prev} group by u
"""


@register(
    "gr_kcore",
    oracle=_kcore_oracle(),
    survey_ref="graph-kcore",
    doc=f"iterative {_KCORE_K}-core peeling (graph.kcore, Seidman 1983 / "
    "distributed peel) over the part co-purchase graph (parts sharing "
    "an order form a clique): 3 rounds of drop-degree<k + both-endpoint "
    "semi-joins — the graph-side dense-subgraph filter for bot-ring/"
    "spam-farm curation; integer-only, oracle = the unrolled recursion, "
    "bitwise; non-degenerate peel at every sf (sf0.01: 1145/1354 nodes "
    "survive, sf0.1: 1851/2283).",
)
def gr_kcore(spark, sf_dir):
    from ..operators.graph import kcore

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 600)
    a = li.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst"))
    edges = a.join(b, "_o").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return kcore(edges, k=_KCORE_K, iterations=3)


@register(
    "mm_frame_sample",
    oracle="""
with raw as (
  select doc_id as media_id, hex(encode(text)) as hx,
         cast(octet_length(encode(text)) // 16 as int) as n_frames
  from documents
),
idx as (
  select media_id, n_frames, hx, unnest(range(0, n_frames, 3)) as frame_idx
  from raw where n_frames >= 1
)
select media_id, cast(frame_idx as int) as frame_idx, n_frames,
       substr(hx, cast(frame_idx * 32 + 1 as int), 32) as frame_hex
from idx
""",
    survey_ref="multimodal-frame-sample",
    doc="REAL video frame sampling for fixed-frame-size (rawvideo-style) "
    "payloads (multimodal.frame_sample): every 3rd 16-byte frame sliced "
    "JVM-side via sequence+explode+binary substring — no Python worker, "
    "no codec, full payloads never leave the scan stage.  Fixture: the "
    "doc's UTF-8 bytes as the raw stream; the oracle replays the byte "
    "slicing on the hex image of the same blob.",
)
def mm_frame_sample(spark, sf_dir):
    from ..operators.multimodal import frame_sample

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = frame_sample(docs, frame_bytes=16, every_n=3)
    return out.select(
        "media_id", "frame_idx", "n_frames", F.hex("frame").alias("frame_hex")
    )


@register(
    "an_rfm_segments",
    oracle=f"""
with per as (
  select user_id,
         max(epoch_us(ts)) as _last_us,
         cast(count(*) as bigint) as frequency,
         {sqlgen.fsum("value", "monetary")}
  from events group by user_id
),
anchor as (select max(epoch_us(ts)) as _anchor_us from events),
r as (
  select user_id, frequency, monetary,
         cast(floor((_anchor_us - _last_us) / 86400000000.0) as bigint) as recency_days
  from per cross join anchor
),
s as (
  select user_id, recency_days, frequency, monetary,
         cast(5 - ntile(4) over (order by recency_days asc, user_id asc) as int) as r_score,
         cast(ntile(4) over (order by frequency asc, user_id asc) as int) as f_score,
         cast(ntile(4) over (order by monetary asc, user_id asc) as int) as m_score
  from r
)
select user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
       cast(r_score * 100 + f_score * 10 + m_score as int) as segment
from s
""",
    survey_ref="an-rfm",
    doc="RFM customer segmentation (analytics.rfm_segments): one hash agg "
    "events -> per-user (recency µs-exact vs the in-plan global max "
    "anchor, count, fsum monetary), three equi-depth ntile scores with "
    "(metric, user_id) tie-breaks, 3-digit segment code — bitwise "
    "cross-engine; scale path for >1e8 users documented (KLL edge "
    "binning instead of the global ntile).",
)
def an_rfm_segments(spark, sf_dir):
    from ..operators.analytics import rfm_segments

    return rfm_segments(T(spark, sf_dir, "events"))


@register(
    "text_keywords",
    oracle="""
with t as (select doc_id, unnest(string_split(text, ' ')) as term from documents),
tf as (select doc_id, term, count(*) as tf from t group by 1, 2),
dft as (select term, count(*) as df from tf group by 1),
n as (select cast(count(*) as double) as n_docs from documents),
scored as (
  select doc_id, term, tf, df, (tf * ln(n.n_docs / df)) as tfidf
  from tf join dft using (term), n
),
rk as (
  select *, row_number() over (partition by doc_id
                               order by tfidf desc, term asc) as rank
  from scored
)
select doc_id, cast(rank as int) as rank, term, tfidf
from rk where rank <= 3
""",
    survey_ref="text-keywords",
    doc="per-document keyword extraction: top-3 terms by TF-IDF "
    "(text.tfidf composed with analytics.topk_per_group — row_number "
    "rewritten to WindowGroupLimit: each map task keeps a 3-row heap "
    "per doc BEFORE the shuffle), (tfidf desc, term asc) tie-break => "
    "deterministic selection, bitwise cross-engine scores.",
)
def text_keywords(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.text import tfidf

    scored = tfidf(T(spark, sf_dir, "documents"))
    # one row_number does both the top-3 cut and the rank output —
    # composing topk_per_group (which drops its rank) and a second
    # identical window would pay a duplicate exchange+sort; this single
    # window still rewrites to WindowGroupLimit (plan-asserted)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tfidf")
    )


@register(
    "sink_orc_jsonl_roundtrip",
    oracle=f"""
select event_type,
       count(*) as n,
       cast(sum(user_id) as bigint) as sum_uid,
       {sqlgen.fsum("value", "sum_value")}
from events
group by event_type
""",
    survey_ref="S3,S4",
    doc="secondary-sink certification: project events -> ORC sink -> "
    "re-read -> JSONL sink -> schema-pinned re-read -> deterministic "
    "aggregate.  The oracle aggregates the ORIGINAL table, so any row "
    "lost/duplicated/corrupted across EITHER format round-trip — "
    "including JSON double formatting (Spark writes shortest-round-trip "
    "decimal text) and ORC type mapping — breaks the value hash.  "
    "Completes sink coverage: CSV+parquet (sink_roundtrip), ORC+JSONL "
    "(here), versioned manifest tables (tbl_* family).",
)
def sink_orc_jsonl_roundtrip(spark, sf_dir):
    import os
    import tempfile

    from ..sources.writers import write_jsonl, write_orc

    ev = T(spark, sf_dir, "events").select("event_type", "user_id", "value")
    tmp = tempfile.mkdtemp(prefix="sink-orc-jsonl-")
    write_orc(ev, os.path.join(tmp, "orc"))
    back_orc = spark.read.orc(os.path.join(tmp, "orc"))
    write_jsonl(back_orc, os.path.join(tmp, "jsonl"))
    back = (
        spark.read.schema("event_type string, user_id bigint, value double")
        .json(os.path.join(tmp, "jsonl"))
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").cast("bigint").alias("sum_uid"),
        F.expr(sqlgen.fsum("value")).alias("sum_value"),
    )


@register(
    "tbl_schema_evolution",
    oracle="""
select case when doc_id % 2 = 1 then lang end as lang,
       count(*) as n,
       cast(sum(n_chars) as bigint) as sum_chars
from documents group by 1
""",
    survey_ref="table-schema-evolution",
    doc="schema evolution on manifest-committed tables: v1 commits "
    "(doc_id, n_chars), v2 APPENDS rows with an added lang column — "
    "the manifest records the evolved union schema, the reader scans "
    "v1's files as lang=NULL under that schema (no mergeSchema footer "
    "sniff at any table size), and time travel to v1 still sees v1's "
    "own 2-column schema.  The aggregate over the merged read is "
    "hash-compared against replaying the split on the original table; "
    "type changes on append raise (pytest).",
)
def tbl_schema_evolution(spark, sf_dir):
    import os
    import tempfile

    from ..sources.manifest import commit_versioned, read_versioned

    docs = T(spark, sf_dir, "documents")
    td = os.path.join(tempfile.mkdtemp(prefix="tbl-evolve-"), "t")
    commit_versioned(
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars"), td
    )
    commit_versioned(
        docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "n_chars", "lang"),
        td,
        mode="append",
    )
    cur = read_versioned(spark, td)
    return cur.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


@register(
    "dp_throttle",
    oracle="""
with w as (
  select *, cast(epoch_us(ts) // 3600000000 as bigint) as window_id
  from events
),
r as (
  select event_id, user_id, window_id,
         row_number() over (partition by user_id, window_id
                            order by ts, event_id) as rn
  from w
)
select event_id, user_id, window_id from r where rn <= 2
""",
    survey_ref="dp-throttle",
    doc="windowed rate limiting (filtering.throttle_events): keep each "
    "user's first 2 events per epoch-aligned hour — the ingestion "
    "throttle for retry storms where latest-by-key is too coarse.  One "
    "(key, window) exchange; row_number rewrites to WindowGroupLimit so "
    "map tasks ship at most `keep` rows per (key, window): under a "
    "storm the shuffle carries the throttled volume, not the storm.",
)
def dp_throttle(spark, sf_dir):
    from ..operators.filtering import throttle_events

    out = throttle_events(
        T(spark, sf_dir, "events"), window_seconds=3600, keep=2
    )
    return out.select("event_id", "user_id", "window_id")


@register(
    "an_top_paths",
    oracle="""
with s as (
  select event_type as t1,
         lead(event_type, 1) over w as t2,
         lead(event_type, 2) over w as t3
  from events
  window w as (partition by user_id order by ts, event_id)
),
c as (
  select concat_ws(' > ', t1, t2, t3) as path, count(*) as n
  from s where t3 is not null group by 1
),
r as (
  select path, n,
         cast(row_number() over (order by n desc, path asc) as int) as rank
  from c
)
select path, n, rank from r where rank <= 20
""",
    survey_ref="an-paths",
    doc="top-20 most frequent 3-step event-type paths "
    "(analytics.top_paths): stacked leads on ONE per-user window sort, "
    "one map-side-combined path count (<= |types|^3 rows), "
    "deterministic (n desc, path asc) top-k — the whole-journey "
    "complement of the Markov transition matrix.",
)
def an_top_paths(spark, sf_dir):
    from ..operators.analytics import top_paths

    return top_paths(T(spark, sf_dir, "events"))


@register(
    "emb_drift_means",
    oracle=f"""
with x as (
  select vec_id % 2 as grp,
         cast(generate_subscripts(embedding, 1) - 1 as int) as i,
         cast(unnest(embedding) as double) as v
  from embeddings where embedding is not null
),
m as (select grp, i, {sqlgen.fsum("v", "s")}, count(*) as n from x group by 1, 2)
select a.i, (a.s / a.n) as mean_a, (b.s / b.n) as mean_b,
       (a.s / a.n) - (b.s / b.n) as delta
from m a join m b on a.i = b.i
where a.grp = 0 and b.grp = 1
""",
    survey_ref="emb-drift",
    doc="embedding-distribution drift monitor (similarity.embedding_drift): "
    "per-dimension mean shift between two cohorts (vec_id parity split) — "
    "the vector counterpart of an_drift_psi.  One posexplode + one "
    "d-keyed map-side-combined aggregate per cohort (shuffle <= d rows/"
    "task at any corpus size), fsum means => bitwise cross-engine.",
)
def emb_drift_means(spark, sf_dir):
    from ..operators.similarity import embedding_drift

    emb = T(spark, sf_dir, "embeddings")
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)
    )


@register(
    "an_gap_histogram",
    oracle="""
with g as (
  select epoch_us(ts) - epoch_us(lag(ts) over (partition by user_id
                                               order by ts, event_id)) as gap
  from events
)
select case when gap < 1000000 then 'lt_1s'
            when gap < 10000000 then 'lt_10s'
            when gap < 60000000 then 'lt_1m'
            when gap < 600000000 then 'lt_10m'
            when gap < 3600000000 then 'lt_1h'
            when gap < 86400000000 then 'lt_1d'
            else 'ge_1d' end as bucket,
       count(*) as n
from g where gap is not null
group by 1
""",
    survey_ref="an-gap-histogram",
    doc="inter-event idle-gap histogram over log-scale buckets "
    "(analytics.gap_histogram): the data-driven basis for choosing "
    "sessionize's gap threshold — one user_id lag window + one 7-row "
    "count; integer µs thresholds => bitwise cross-engine.",
)
def an_gap_histogram(spark, sf_dir):
    from ..operators.analytics import gap_histogram

    return gap_histogram(T(spark, sf_dir, "events"))


@register(
    "dp_softdedup_weights",
    oracle=f"""
with recursive jp as ({_JACCARD_PAIRS_SQL}),
edges as (select id_a as src, id_b as dst from jp
          union all
          select id_b, id_a from jp),
reach(id, label) as (
  select doc_id, doc_id from documents
  union
  select e.src, r.label from edges e join reach r on e.dst = r.id
),
labels as (select id as doc_id, min(label) as cluster_id from reach group by id),
sizes as (select cluster_id, cast(count(*) as bigint) as cluster_size
          from labels group by cluster_id)
select l.doc_id, l.cluster_id, s.cluster_size,
       1.0 / cast(s.cluster_size as double) as weight
from labels l join sizes s using (cluster_id)
""",
    survey_ref="dedup-soft-weights",
    doc="soft deduplication (dedup.softdedup_weights): weight = "
    "1/|duplicate cluster| instead of dropping — a weighted sampler "
    "sees each near-dup GROUP with equal total mass while keeping "
    "within-group variation.  Connected components + one cluster-size "
    "agg + one co-keyed join; bigint/bigint division => bitwise.",
)
def dp_softdedup_weights(spark, sf_dir):
    from ..operators.dedup import softdedup_weights

    docs = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.8)
    return softdedup_weights(docs, pairs)


# ---------------------------------------------------------------------------
# Round-10 additions: second-order series stats, sentence segmentation,
# Matryoshka truncation.


@register(
    "an_autocorr",
    oracle=f"""
with p as (
  select user_id, value as _y,
         lag(value, 1) over (partition by user_id order by ts, event_id) as _x
  from events
)
select user_id, cast(count(*) as bigint) as n_pairs,
       {sqlgen.corr_from_pairs("_x", "_y")} as autocorr
from p where _x is not null
group by user_id
""",
    survey_ref="an-autocorr",
    doc="per-user lag-1 autocorrelation of event values (Pearson r over "
    "consecutive pairs ordered by ts, event_id) — the burstiness / "
    "machine-generated-stream screen.  Exact decimal moment sums "
    "(sqlgen.corr_from_pairs) => bitwise cross-engine; ONE exchange "
    "(the lag window and the per-user aggregate share the user_id "
    "partitioning).",
)
def an_autocorr(spark, sf_dir):
    from ..operators.analytics import lag_autocorr

    events = T(spark, sf_dir, "events")
    out = lag_autocorr(events, "value", "user_id", ("ts", "event_id"), lag=1)
    return out.select(
        "user_id", F.col("n_pairs").cast("bigint").alias("n_pairs"), "autocorr"
    )


@register(
    "text_sentence_split",
    oracle=r"""
with s as (
  select doc_id,
    regexp_replace(
      regexp_replace(text,
        '([a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ', '\1. ', 'g'),
      '([.!?]) ', '\1' || chr(1), 'g') as m
  from documents
),
u as (select doc_id,
             unnest(string_split(m, chr(1))) as sentence,
             generate_subscripts(string_split(m, chr(1)), 1) as i
      from s)
select doc_id, cast(i - 1 as int) as sent_idx, sentence,
       cast(length(sentence) as bigint) as n_chars_sent
from u where length(sentence) > 0
""",
    survey_ref="text-sentence-split",
    doc="sentence segmentation (split after [.!?] + space, terminator "
    "kept) over docs sentencified by injecting a period every 4 words — "
    "the unit-of-text primitive under chunkers / decontamination spans / "
    "sentence dedup.  RE2-safe control-char boundary rewrite (no "
    "lookbehind), shuffle-free codegen explode.",
)
def text_sentence_split(spark, sf_dir):
    from ..operators.text import split_sentences

    docs = T(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(
            "text", r"([a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ", "$1. "
        ),
    )
    return split_sentences(docs).select(
        "doc_id",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        "sentence",
        F.length("sentence").cast("bigint").alias("n_chars_sent"),
    )


_MRL_DIMS = 16

_MRL_NRM = (
    "sqrt(list_reduce(list_transform(range(1, len({v}) + 1), "
    "i -> cast({v}[i] as double) * cast({v}[i] as double)), "
    "(a, b) -> a + b))"
)


@register(
    "emb_mrl_truncate",
    oracle=f"""
with t as (select vec_id, embedding, embedding[1:{_MRL_DIMS}] as e
           from embeddings),
n as (select vec_id, e,
             {_MRL_NRM.format(v="e")} as nrm,
             {_MRL_NRM.format(v="embedding")} as nrm_full
      from t),
u as (select vec_id, e, nrm, nrm / nrm_full as fidelity,
             unnest(range(1, len(e) + 1)) as i
      from n)
select vec_id, cast(i - 1 as int) as pos,
       (cast(e[i] as double) / nrm) as val,
       fidelity
from u
""",
    survey_ref="emb-mrl-truncate",
    doc="Matryoshka truncation: keep the first 16 of 32 dims and "
    "re-unit-normalize (the MRL storage/recall dial), plus fidelity = "
    "||x[:16]||/||x|| (cosine of truncated-unit vs full-unit vector). "
    "Slice + the l2_normalize left-fold kernels — shuffle-free, bitwise.",
)
def emb_mrl_truncate(spark, sf_dir):
    from ..operators.similarity import mrl_truncate

    emb = T(spark, sf_dir, "embeddings")
    out = mrl_truncate(emb, dims=_MRL_DIMS)
    return out.select(
        "vec_id", F.posexplode("unit_vec").alias("pos", "val"), "fidelity"
    )


_TREND_ANCHOR = 1704067200  # 2024-01-01T00:00:00Z, near the events epoch

_TREND_SLOPE_SQL, _TREND_ICEPT_SQL = sqlgen.ols_from_pairs("_x", "_y")


@register(
    "an_trend_slope",
    oracle=f"""
with p as (
  select user_id,
         cast(cast(floor((cast(floor(epoch(ts)) as bigint) - {_TREND_ANCHOR}) / 3600)
                   as bigint) as double) as _x,
         value as _y
  from events
  where ts is not null and value is not null
)
select user_id, cast(count(*) as bigint) as n_events,
       {_TREND_SLOPE_SQL} as slope_per_hour,
       {_TREND_ICEPT_SQL} as intercept
from p group by user_id
""",
    survey_ref="an-trend-slope",
    doc="per-user OLS trend (value ~ whole hours since a fixed anchor): "
    "the drift screen per entity.  Exact decimal moment sums "
    "(sqlgen.ols_from_pairs) => bitwise; integer x keeps the sums in "
    "the bit-parity domain; ONE hash aggregate, no window/join, no "
    "build-time anchor collect.",
)
def an_trend_slope(spark, sf_dir):
    from ..operators.analytics import trend_slope

    events = T(spark, sf_dir, "events")
    out = trend_slope(events, "value", "user_id", "ts", _TREND_ANCHOR)
    return out.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        "slope_per_hour",
        "intercept",
    )


@register(
    "dd_sentence_dedup",
    oracle=r"""
with s as (
  select doc_id,
    regexp_replace(
      regexp_replace(text,
        '([a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ', '\1. ', 'g'),
      '([.!?]) ', '\1' || chr(1), 'g') as m
  from documents
),
u as (select doc_id,
             unnest(string_split(m, chr(1))) as sentence,
             generate_subscripts(string_split(m, chr(1)), 1) as i
      from s),
f as (select doc_id, i, sentence from u where length(sentence) > 0),
c as (select doc_id, i, sentence,
             count(*) over (partition by sentence) as n
      from f),
k as (select doc_id, i, sentence from c where n <= 1)
select doc_id,
       string_agg(sentence, ' ' order by i) as text_dedup,
       cast(count(*) as bigint) as n_sentences_kept
from k group by doc_id
""",
    survey_ref="dedup-sentence",
    doc="sentence-level duplicate removal (RefinedWeb/C4 lineage) over "
    "the sentencified corpus: drop every sentence whose exact text "
    "repeats corpus-wide, reassemble survivors in order.  Sentence-"
    "boundary sibling of dd_segment_dedup (fixed token windows); ONE "
    "occurrence-count shuffle (window on sentence) + one doc reassembly "
    "aggregate.",
)
def dd_sentence_dedup(spark, sf_dir):
    from ..operators.text import sentence_dedup

    docs = T(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(
            "text", r"([a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ", "$1. "
        ),
    )
    out = sentence_dedup(docs, max_count=1)
    return out.select(
        "doc_id",
        "text_dedup",
        F.col("n_sentences_kept").cast("bigint").alias("n_sentences_kept"),
    )


_IOLS_SLOPE, _IOLS_ICEPT = sqlgen.ols_from_sums(
    "count(*)",
    sqlgen.fsum("_x"),
    sqlgen.fsum("_y"),
    sqlgen.fsum("(_x) * (_y)"),
    sqlgen.fsum("(_x) * (_x)"),
)


@register(
    "agg_incremental_ols",
    oracle=f"""
with p as (
  select user_id,
         cast(cast(floor((cast(floor(epoch(ts)) as bigint) - {_TREND_ANCHOR}) / 3600)
                   as bigint) as double) as _x,
         value as _y
  from events
  where ts is not null and value is not null
)
select user_id, cast(count(*) as bigint) as n,
       {_IOLS_SLOPE} as slope,
       {_IOLS_ICEPT} as intercept
from p group by user_id
""",
    survey_ref="rollup-ols",
    doc="incrementally-maintained per-user OLS trend: two ingest shards "
    "aggregate mergeable fixed-point moment states (n, Sx, Sy, Sxy, Sxx "
    "as exact hi/lo int64 partials) independently; merging the partials "
    "and finishing is bitwise identical to this full-recompute oracle — "
    "regression rollups without rescanning history (extends the "
    "mergeable-state family: sum / HLL / CMS / KLL / now OLS).",
)
def agg_incremental_ols(spark, sf_dir):
    from ..functions.temporal import hours_since
    from ..operators.rollup import merge_ols_partials, ols_estimate, partial_ols

    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            hours_since(F.col("ts"), _TREND_ANCHOR).cast("double").alias("hx"),
            "value",
        )
    )
    shard1 = partial_ols(ev.filter(F.col("event_id") < 5000), ["user_id"], "hx", "value")
    shard2 = partial_ols(ev.filter(F.col("event_id") >= 5000), ["user_id"], "hx", "value")
    est = ols_estimate(merge_ols_partials([shard1, shard2], ["user_id"]))
    return est.select(
        "user_id", F.col("n").cast("bigint").alias("n"), "slope", "intercept"
    )


_D16 = {
    "dot": "list_reduce(list_transform(range(1, len(q16) + 1), "
    "i -> cast(q16[i] as double) * cast(c16[i] as double)), (a, b) -> a + b)",
    "nq": "sqrt(list_reduce(list_transform(range(1, len(q16) + 1), "
    "i -> cast(q16[i] as double) * cast(q16[i] as double)), (a, b) -> a + b))",
    "nc": "sqrt(list_reduce(list_transform(range(1, len(c16) + 1), "
    "i -> cast(c16[i] as double) * cast(c16[i] as double)), (a, b) -> a + b))",
}


@register(
    "ann_mrl_rerank",
    oracle=f"""
with q as (select vec_id as query_id, embedding as qv,
                  embedding[1:{_MRL_DIMS}] as q16
           from embeddings where vec_id < 10),
c as (select vec_id as neighbor_id, embedding as cv,
             embedding[1:{_MRL_DIMS}] as c16
      from embeddings),
s1 as (
  select query_id, neighbor_id, qv, cv,
         ({_D16["dot"]} / ({_D16["nq"]} * {_D16["nc"]})) as cos16
  from c cross join q
  where query_id <> neighbor_id
),
r1 as (
  select query_id, neighbor_id, qv, cv,
         row_number() over (partition by query_id
                            order by cos16 desc, neighbor_id asc) as r1
  from s1
),
s2 as (
  select query_id, neighbor_id, ({_DOT} / ({_NQ} * {_NC})) as cos
  from r1 where r1 <= 32
),
r2 as (
  select query_id, neighbor_id, cos,
         row_number() over (partition by query_id
                            order by cos desc, neighbor_id asc) as rank
  from s2
)
select query_id, neighbor_id, cast(rank as int) as rank, cos
from r2 where rank <= 5
""",
    survey_ref="ann-mrl-rerank",
    doc="two-stage Matryoshka retrieval: 16-dim-prefix cosine scans the "
    "corpus (1/2 the arithmetic here; 1/16 at production 64-of-1024 "
    "geometry), full-dim cosine reranks only the 32 survivors per "
    "query.  Both stages left-fold + deterministic ties => bitwise.",
)
def ann_mrl_rerank(spark, sf_dir):
    from ..operators.similarity import mrl_rerank_topk

    emb = T(spark, sf_dir, "embeddings")
    out = mrl_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 10), dims=_MRL_DIMS, k_coarse=32, k=5
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "an_cusum",
    oracle=f"""
with p as (
  select user_id, ts, event_id, cast(value as double) as _v
  from events where value is not null
),
scored as (
  select user_id,
         row_number() over (partition by user_id order by ts, event_id) as _t,
         {sqlgen.wcumsum("_v", "user_id", "ts, event_id")} as _c,
         {sqlgen.wdsum("_v", "user_id")} as _su,
         count(*) over (partition by user_id) as _n
  from p
),
drifted as (
  select user_id, _t, (_c - _t * (_su / _n)) as _d from scored
),
s as (
  select user_id,
         (_d - least(cast(0 as double),
                     min(_d) over (partition by user_id order by _t
                                   rows between unbounded preceding and current row))) as _s
  from drifted
)
select user_id, cast(count(*) as bigint) as n, max(_s) as cusum_max
from s group by user_id
""",
    survey_ref="an-cusum",
    doc="per-user one-sided CUSUM drift statistic (Page): max prefix "
    "excursion of the running sum above the own-mean trend, via the "
    "cumsum-minus-running-min identity — pure window algebra (no fold/"
    "UDF), decimal-exact cumsum => bitwise; ONE exchange, windows share "
    "one sort.",
)
def an_cusum(spark, sf_dir):
    from ..operators.analytics import cusum_drift

    events = T(spark, sf_dir, "events")
    out = cusum_drift(events, "value", "user_id", ("ts", "event_id"))
    return out.select(
        "user_id", F.col("n").cast("bigint").alias("n"), "cusum_max"
    )


@register(
    "an_forecast_holt",
    oracle="""
with arr as (
  select user_id, cast(count(*) as bigint) as n,
         list(cast(value as double) order by ts, event_id) as xs
  from events where value is not null
  group by user_id
),
f as (
  select user_id, n,
         list_reduce(
           list_transform(xs, x -> [x, cast(0 as double)]),
           (acc, e) -> [
             cast(0.5 as double) * e[1]
               + cast(0.5 as double) * (acc[1] + acc[2]),
             cast(0.25 as double)
               * ((cast(0.5 as double) * e[1]
                   + cast(0.5 as double) * (acc[1] + acc[2])) - acc[1])
               + cast(0.75 as double) * acc[2]
           ]
         ) as st
  from arr
)
select user_id, n, st[1] as level, st[2] as trend,
       (st[1] + st[2]) as forecast_next
from f
""",
    survey_ref="an-forecast-holt",
    doc="per-user Holt linear-trend smoothing (alpha=0.5, beta=0.25; "
    "EWMA's two-state big sibling): ARRAY-accumulator [level, trend] "
    "left fold over the time-sorted series, identical IEEE recurrence "
    "order in both engines => bitwise (struct accumulators are "
    "deliberately avoided: DuckDB evaluates struct-literal lambda "
    "fields sequentially against the mutating accumulator).  ONE "
    "exchange (per-user collect), final (level, trend, one-step "
    "forecast).",
)
def an_forecast_holt(spark, sf_dir):
    from ..operators.analytics import holt_linear

    events = T(spark, sf_dir, "events")
    return holt_linear(
        events, "value", "user_id", ("ts", "event_id"), alpha=0.5, beta=0.25
    )


@register(
    "gr_link_jaccard",
    oracle="""
with base as (
  select distinct l_orderkey as o, l_partkey as p from lineitem where l_orderkey <= 300
),
e as (
  select distinct x.p as a, y.p as b
  from base x join base y on x.o = y.o and x.p < y.p
),
nbr as (
  select a as x, b as w from e
  union all
  select b as x, a as w from e
),
deg as (select x, count(*) as d from nbr group by x),
wedges as (
  select n1.x as a, n2.x as b
  from nbr n1 join nbr n2 on n1.w = n2.w
  where n1.x < n2.x
),
common as (select a, b, count(*) as common from wedges group by a, b),
scored as (
  select e.a, e.b, coalesce(c.common, 0) as common, da.d as deg_a, db.d as deg_b
  from e
  left join common c on e.a = c.a and e.b = c.b
  join deg da on da.x = e.a
  join deg db on db.x = e.b
)
select a, b, cast(common as bigint) as common,
       cast(deg_a as bigint) as deg_a, cast(deg_b as bigint) as deg_b,
       (cast(common as double) / cast(deg_a + deg_b - common as double)) as jaccard
from scored
""",
    survey_ref="graph-link-jaccard",
    doc="neighbor-set Jaccard per co-purchase edge (Liben-Nowell & "
    "Kleinberg link prediction / tie strength): exact wedge-join common "
    "counts + degree joins, int/int double division => bitwise.",
)
def gr_link_jaccard(spark, sf_dir):
    from ..operators.graph import link_jaccard

    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 300)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), F.col("x.o") == F.col("y.o"))
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return link_jaccard(e)


@register(
    "gr_assortativity",
    oracle=f"""
with base as (
  select distinct l_orderkey as o, l_partkey as p from lineitem where l_orderkey <= 300
),
e as (
  select distinct x.p as u, y.p as v
  from base x join base y on x.o = y.o and x.p < y.p
),
nbr as (
  select u as x, v as w from e
  union all
  select v as x, u as w from e
),
deg as (select x, count(*) as d from nbr group by x),
pairs as (
  select n.x, n.w, da.d as _x, db.d as _y
  from nbr n
  join deg da on da.x = n.x
  join deg db on db.x = n.w
)
select cast(count(*) / 2 as bigint) as n_edges,
       {sqlgen.corr_from_pairs("_x", "_y")} as assortativity
from pairs
""",
    survey_ref="graph-assortativity",
    doc="degree assortativity of the co-purchase graph (Newman 2002: "
    "Pearson r of endpoint degrees over both orientations of every "
    "edge) — the one-number mixing diagnostic for graph-corpus "
    "curation.  Exact integer degrees + sqlgen.corr_from_pairs "
    "decimal moment sums => bitwise; dedupe + two degree joins + one "
    "scalar aggregate.",
)
def gr_assortativity(spark, sf_dir):
    from ..operators.graph import degree_assortativity

    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 300)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), F.col("x.o") == F.col("y.o"))
        .filter(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return degree_assortativity(e)


@register(
    "dp_temperature_mix",
    oracle="""
with s as (
  select source, cast(count(*) as bigint) as n_docs,
         cast(sum(len(string_split(text, ' '))) as bigint) as n_tokens
  from documents group by source
),
w as (select source, n_docs, n_tokens,
             sqrt(sqrt(cast(n_tokens as double))) as w_raw from s),
d as (select list_reduce(list(w_raw order by source), (a, b) -> a + b) as denom
      from w)
select w.source, w.n_docs, w.n_tokens,
       w.w_raw / d.denom as weight,
       (w.w_raw / d.denom) * 1000000.0 as alloc_tokens,
       ((w.w_raw / d.denom) * 1000000.0) / cast(w.n_tokens as double) as epochs
from w cross join d
""",
    survey_ref="corpus-temperature-mix",
    doc="temperature-scaled source mixing weights (XLM-R / mT5 style "
    "w_i ∝ n_i^0.25): exact per-source token sums (ONE map-side-"
    "partial hash aggregate over the corpus), alpha as an IEEE sqrt "
    "chain (no cross-libm pow), normalizer as a source-ordered LEFT "
    "FOLD mirrored by DuckDB list_reduce — driver epilogue over "
    "#sources rows (the priority-sample tau idiom) => bitwise.  "
    "Outputs weight / token allocation / implied epochs per source; "
    "feeds deterministic_mix or a weighted sampler.",
)
def dp_temperature_mix(spark, sf_dir):
    from ..operators.filtering import temperature_mix_weights

    docs = T(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return temperature_mix_weights(
        docs, source_col="source", token_col="n_tokens",
        sqrt_steps=2, token_budget=1_000_000,
    )


@register(
    "ann_int8_rerank",
    oracle=f"""
with base as (
  select vec_id, embedding,
         cast(127 as double) / list_max(list_transform(
             range(1, len(embedding) + 1),
             i -> abs(cast(embedding[i] as double)))) as s
  from embeddings
),
qz as (
  select vec_id, embedding,
         list_transform(range(1, len(embedding) + 1),
             i -> cast(floor(cast(embedding[i] as double) * s + 0.5) as bigint)) as qa
  from base
),
q as (select vec_id as query_id, embedding as qv, qa,
             list_reduce(list_transform(range(1, len(qa) + 1),
                 i -> qa[i] * qa[i]), (a, b) -> a + b) as qn2
      from qz where vec_id < 10),
c as (select vec_id as neighbor_id, embedding as cv, qa as ca,
             list_reduce(list_transform(range(1, len(qa) + 1),
                 i -> qa[i] * qa[i]), (a, b) -> a + b) as cn2
      from qz),
s1 as (
  select query_id, neighbor_id, qv, cv,
         cast(list_reduce(list_transform(range(1, len(qa) + 1),
                  i -> qa[i] * ca[i]), (a, b) -> a + b) as double)
           / (sqrt(cast(qn2 as double)) * sqrt(cast(cn2 as double))) as cos8
  from c cross join q
  where query_id <> neighbor_id
),
r1 as (
  select query_id, neighbor_id, qv, cv, cos8,
         row_number() over (partition by query_id
                            order by cos8 desc, neighbor_id asc) as _r1
  from s1
),
s2 as (
  select query_id, neighbor_id, cos8, ({_DOT} / ({_NQ} * {_NC})) as cos
  from r1 where _r1 <= 32
),
r2 as (
  select query_id, neighbor_id, cos8, cos,
         row_number() over (partition by query_id
                            order by cos desc, neighbor_id asc) as rank
  from s2
)
select query_id, neighbor_id, cast(rank as int) as rank, cos8, cos
from r2 where rank <= 5
""",
    survey_ref="ann-int8-rerank",
    doc="two-stage int8 retrieval funnel: the corpus scan ranks on "
    "symmetric-int8 quantized vectors (4x smaller candidate store; "
    "scale-free coarse score — the per-vector scales cancel, so stage "
    "1 is built ONLY from exact integer dot products + two rounded "
    "sqrt/divides, no float accumulation), full-precision cosine "
    "reranks the 32 survivors per query.  Bitwise cross-engine; "
    "recall dial = k_coarse, like the MRL funnel.",
)
def ann_int8_rerank(spark, sf_dir):
    from ..operators.similarity import int8_rerank_topk

    emb = T(spark, sf_dir, "embeddings")
    out = int8_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 10), k_coarse=32, k=5
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# Shared closed-form dHash derivation for the mm_phash_* oracles: md5-coin
# block values -> adjacent-column comparison bits -> two bigint words.
_PHASH_CTES = """with vb as (
  select d.doc_id, r.range as r, c.range as c,
         1 + cast(('0x' || substring(md5(
                 cast(d.doc_id % 101 as varchar) || ':' ||
                 cast(r.range as varchar) || ':' ||
                 cast(c.range as varchar)), 1, 8)) as bigint) % 220
           + case when d.doc_id % 5 = 0 and (r.range + c.range) % 7 = 0
                  then 23 else 0 end as v
  from documents d, range(8) r, range(9) c
),
bits as (
  select l.doc_id, l.r, l.c,
         case when rt.v > l.v then 1 else 0 end as b
  from vb l
  join vb rt on rt.doc_id = l.doc_id and rt.r = l.r and rt.c = l.c + 1
  where l.c < 8
),
ph as (
  select doc_id,
         cast(sum(case when r >= 4
                       then b * cast(pow(2, (r - 4) * 8 + c) as bigint)
                       else 0 end) as bigint) as phash_hi,
         cast(sum(case when r < 4
                       then b * cast(pow(2, r * 8 + c) as bigint)
                       else 0 end) as bigint) as phash_lo
  from bits group by doc_id
)"""


@register(
    "mm_phash_dedup",
    oracle=f"""
{_PHASH_CTES}
select doc_id, phash_hi, phash_lo,
       min(doc_id) over (partition by phash_hi, phash_lo) as canon_doc,
       cast(count(*) over (partition by phash_hi, phash_lo) as bigint)
         as group_size
from ph
""",
    survey_ref="multimodal-phash-dedup",
    doc="perceptual-hash image dedup: per doc, synthesize a 36x32 RGB "
    "pattern (md5-coin block values keyed doc_id%101 — the repo's "
    "deterministic-randomness idiom, so distinct clusters get distinct "
    "hashes w.h.p.; a 23-level block perturb on doc_id%5==0 that flips "
    "a few comparison bits — a NEAR variant landing in its own exact "
    "group; and a per-doc checkerboard NOISE phase that "
    "changes the encoded bytes but not the hash), round-trip it "
    "through the REAL PNG codec, compute the integer-exact 64-bit "
    "dHash (multimodal.dhash64 — floor-arithmetic gray + 8x9 block "
    "means + adjacent-column comparisons, packed as two bigint "
    "words), then canonicalize by exact hash (min doc / group size; "
    "ONE window exchange on the hash words).  The DuckDB oracle "
    "derives every bit from the closed-form block values, so a "
    "single flipped bit in the PNG encoder, zlib, filter "
    "reconstruction, gray/block floor math, or bit packing fails the "
    "hash gate.  Byte-different noise variants land in the same "
    "group — the image-side exact-dedup analogue; compose simhash "
    "banding on the words for near-hash matching.",
)
def mm_phash_dedup(spark, sf_dir):
    from ..operators.multimodal import phash_canonicalize

    return phash_canonicalize(_phash_hashed(spark, sf_dir))


def _phash_hashed(spark, sf_dir):
    """Shared stage for the phash heads: synthesize + PNG-round-trip +
    dHash every document (one Arrow mapInPandas pass).  Closure imports
    sit at BUILD scope so the codec ships by value to vanilla executors
    (round-7 finding)."""
    import pandas as pd
    from pyspark.sql import types as T_

    from ..operators.codecs import decode_png, encode_png
    from ..operators.multimodal import dhash64

    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType(), False),
            T_.StructField("phash_hi", T_.LongType(), True),
            T_.StructField("phash_lo", T_.LongType(), True),
        ]
    )

    def run(batches):
        import hashlib

        import numpy as np

        by, bx = np.meshgrid(np.arange(8), np.arange(9), indexing="ij")
        yy, xx = np.meshgrid(np.arange(32), np.arange(36), indexing="ij")
        base_cache: dict = {}

        def base_grid(cluster):
            g = base_cache.get(cluster)
            if g is None:
                g = np.array(
                    [
                        [
                            1
                            + int(
                                hashlib.md5(
                                    f"{cluster}:{r}:{c}".encode()
                                ).hexdigest()[:8],
                                16,
                            )
                            % 220
                            for c in range(9)
                        ]
                        for r in range(8)
                    ],
                    dtype=np.int64,
                )
                base_cache[cluster] = g
            return g

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                vb = base_grid(d % 101) + 23 * (
                    (d % 5 == 0) & ((by + bx) % 7 == 0)
                )
                vpix = np.repeat(np.repeat(vb, 4, axis=0), 4, axis=1)
                vpix = vpix + ((yy + xx + d) % 2)
                img = np.stack(
                    [vpix - 1, vpix, vpix + 1], axis=2
                ).astype(np.uint8)
                back = decode_png(encode_png(img, filter_mode="cycle"))
                hi, lo = dhash64(back)
                out.append({"doc_id": d, "phash_hi": hi, "phash_lo": lo})
            yield pd.DataFrame(out, columns=["doc_id", "phash_hi", "phash_lo"])

    return _spread_ids(
        T(spark, sf_dir, "documents").select("doc_id")
    ).mapInPandas(run, schema=schema)


@register(
    "mm_phash_near_pairs",
    oracle=f"""
{_PHASH_CTES},
reps as (
  select phash_hi, phash_lo, min(doc_id) as rep_doc,
         cast(count(*) as bigint) as group_size
  from ph group by phash_hi, phash_lo
),
ch as (
  select rep_doc, phash_hi, phash_lo, group_size, j.range as chunk,
         cast(case when j.range < 4
              then (phash_lo // cast(pow(256, j.range) as bigint)) % 256
              else (phash_hi // cast(pow(256, j.range - 4) as bigint)) % 256
              end as int) as ckey
  from reps, range(8) j
),
cand as (
  select distinct a.rep_doc as rep_a, b.rep_doc as rep_b,
         a.phash_hi as hi_a, a.phash_lo as lo_a, a.group_size as size_a,
         b.phash_hi as hi_b, b.phash_lo as lo_b, b.group_size as size_b
  from ch a
  join ch b on a.chunk = b.chunk and a.ckey = b.ckey
           and a.rep_doc < b.rep_doc
)
select rep_a, rep_b,
       cast(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) as int)
         as hamming,
       size_a, size_b
from cand
where bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 7
""",
    survey_ref="multimodal-phash-near",
    doc="NEAR-duplicate image matching on perceptual hashes: distinct "
    "dHash values collapse to one representative first (group "
    "cardinality, not corpus cardinality — the scale bound), then an "
    "8x8-bit chunk pigeonhole join finds candidate rep pairs and "
    "bit_count(xor) verifies hamming <= 7 (pigeonhole-COMPLETE at "
    "that radius: any pair within 7 bits shares at least one exact "
    "byte chunk).  Merges the perturb-variant groups with their "
    "cluster base groups — the image analogue of the simhash banding "
    "family, riding the same real-PNG-codec hash stage.",
)
def mm_phash_near_pairs(spark, sf_dir):
    hashed = _phash_hashed(spark, sf_dir)
    reps = hashed.groupBy("phash_hi", "phash_lo").agg(
        F.min("doc_id").alias("rep_doc"),
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
    )
    chunks = [
        (
            F.shiftright(F.col("phash_lo"), 8 * j) if j < 4
            else F.shiftright(F.col("phash_hi"), 8 * (j - 4))
        ).bitwiseAND(F.lit(255)).cast("int")
        for j in range(8)
    ]
    ch = reps.select(
        "rep_doc", "phash_hi", "phash_lo", "group_size",
        F.posexplode(F.array(*chunks)).alias("chunk", "ckey"),
    )
    a = ch.select(
        F.col("rep_doc").alias("rep_a"), F.col("phash_hi").alias("hi_a"),
        F.col("phash_lo").alias("lo_a"), F.col("group_size").alias("size_a"),
        "chunk", "ckey",
    )
    b = ch.select(
        F.col("rep_doc").alias("rep_b"), F.col("phash_hi").alias("hi_b"),
        F.col("phash_lo").alias("lo_b"), F.col("group_size").alias("size_b"),
        "chunk", "ckey",
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("int")
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", "hi_a", "lo_a", "hi_b", "lo_b",
                "size_a", "size_b")
        .distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 7)
        .select("rep_a", "rep_b", "hamming", "size_a", "size_b")
    )


def _minhash_md5_cand_sql(num_perm: int = 16, bands: int = 4, shingle_n: int = 3) -> str:
    """The banding-only prefix of `_minhash_md5_oracle` (shingle ->
    permuted-min -> band bucket -> distinct candidates), reused by the
    recall-eval head, which scores the RAW candidate set."""
    r = num_perm // bands
    n1 = shingle_n - 1
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len(tk) - {n1}, 1) + 1), "
        f"i -> array_to_string(tk[i:i+{n1}], ' ')))"
    )
    mins = ", ".join(f"min(md5('{p}:' || _s)) as m{p}" for p in range(num_perm))
    band_rows = "\n  union all\n  ".join(
        f"select _id, {b} as band, md5(concat_ws('|', "
        + ", ".join(f"m{b * r + j}" for j in range(r))
        + ")) as bucket from sigs"
        for b in range(bands)
    )
    return f"""sh as (
  select doc_id as _id, unnest({shingles}) as _s
  from (select doc_id, string_split(text, ' ') as tk from documents)
),
sigs as (select _id, {mins} from sh group by _id),
banded as (
  {band_rows}
),
cand as (
  select distinct l._id as id_a, r._id as id_b
  from banded l join banded r on l.band = r.band and l.bucket = r.bucket
                             and l._id < r._id
)"""


@register(
    "dd_lsh_recall_eval",
    oracle=f"""
with {_minhash_md5_cand_sql()},
sizes as (select _id, count(*) as _sz from sh group by _id),
inter_all as (
  select a._id as id_a, b._id as id_b, count(*) as _inter
  from sh a join sh b on a._s = b._s and a._id < b._id
  group by 1, 2
),
truth as (
  select i.id_a, i.id_b
  from inter_all i
  join sizes sa on i.id_a = sa._id
  join sizes sb on i.id_b = sb._id
  where (i._inter / (sa._sz + sb._sz - i._inter)) >= 0.8
),
hits as (
  select count(*) as hits
  from truth t join cand c on t.id_a = c.id_a and t.id_b = c.id_b
)
select cast((select count(*) from truth) as bigint) as n_truth,
       cast((select count(*) from cand) as bigint) as n_cand,
       cast(hits as bigint) as hits,
       cast(hits as double)
         / nullif(cast((select count(*) from truth) as double), 0.0) as recall,
       cast(hits as double)
         / nullif(cast((select count(*) from cand) as double), 0.0) as band_precision
from hits
""",
    survey_ref="dedup-recall-eval",
    doc="dedup quality gate (the LSH analogue of ann_recall_eval): "
    "exact trigram-Jaccard pairs at >= 0.8 are ground truth; the "
    "md5-family MinHash band candidates (16 perms / 4 bands) are the "
    "approximate path; one summary row reports truth/candidate/hit "
    "counts plus recall and band precision (exact integer counts, "
    "int/int double division => bitwise).  The S-curve predicts "
    "1-(1-j^4)^4 recall — the measured number audits the banding "
    "config against its theory at every corpus change.  Assumes "
    "buckets under the star-cap (holds at gate scales, like "
    "dd_minhash_md5).",
)
def dd_lsh_recall_eval(spark, sf_dir):
    from ..operators.dedup import (
        _bucket_candidate_pairs,
        minhash_md5_band_table,
        shingle_array_table,
    )

    docs = T(spark, sf_dir, "documents")
    # truth feeds TWO consumers (its count + the hits join) and cand
    # feeds two more — unpinned, the PPJoin truth pipeline and the
    # 16-md5-per-shingle banding each execute twice inside the one
    # returned plan.  Both results are pair/id rows linear in the true
    # duplicate count — tiny next to the corpus — so pin each once
    # (lazy: plan construction stays job-free).  Measured at zipf0.1 x
    # 32 cores: 8.9 -> 4.9 s (r10; plans/r10/dd_lsh_recall_eval_*.txt).
    # r11: truth and cand each built the SAME trigram shingle table
    # from scratch (the n=3 slice+array_join build is the expensive
    # form); one pinned shingle_array_table now feeds both pipelines.
    sh_all = shingle_array_table(docs, "doc_id", "text", n=3)
    truth = (
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8, shingled=sh_all)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    banded = minhash_md5_band_table(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle_n=3, shingled=sh_all
    )
    cand = _bucket_candidate_pairs(banded, max_bucket_size=1000).localCheckpoint(
        eager=False
    )
    t_cnt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    c_cnt = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    h_cnt = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    return (
        t_cnt.crossJoin(c_cnt)
        .crossJoin(h_cnt)
        .select(
            "n_truth",
            "n_cand",
            "hits",
            F.expr(
                "cast(hits as double) / nullif(cast(n_truth as double), 0.0)"
            ).alias("recall"),
            F.expr(
                "cast(hits as double) / nullif(cast(n_cand as double), 0.0)"
            ).alias("band_precision"),
        )
    )
