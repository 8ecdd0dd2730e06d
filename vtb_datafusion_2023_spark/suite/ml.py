"""Suite: iterative ML over embeddings — fixed-iteration Lloyd k-means
(semantic clustering for corpus curation: topic balancing, SemDeDup-style
cluster pruning, cluster-stratified sampling).

Oracle strategy: like ``gr_pagerank``, the DuckDB oracle replays the
UNROLLED recursion — init centroids, then per iteration the cross-join
argmin assignment and the fsum/count centroid update — with the exact
float grammar of ``operators/clustering.py``: the distance chain text is
generated by the same ``l2sq_sql`` helper, the means are the same
``sqlgen.favg`` fragments, and argmin ties break by ``(dist, cid)`` via
``row_number`` in both engines.  Output is integer-only (vec_id, cid), but
the internals are bitwise so every argmin decision is replayed exactly.
"""

from __future__ import annotations

from .. import sqlgen
from ..operators.clustering import kmeans, l2sq_sql
from . import register
from ._util import T

_DIM = 64
_K = 8
_ITERS = 2


def _duck_elem(col: str):
    return lambda j: f"{col}[{j}]"


def _kmeans_ctes(k: int = _K, dim: int = _DIM, iterations: int = _ITERS) -> str:
    """The shared unrolled-recursion WITH-prefix: init + per-iteration
    assignment/update CTEs, ending in an ``asg`` CTE holding the final
    ``(vec_id, cid)`` assignment.  Reused by every kmeans-derived
    oracle (``ml_kmeans``, ``dd_semdedup``)."""
    dist = l2sq_sql(_duck_elem("e.v"), _duck_elem("c.c"), dim)
    means = ",\n         ".join(
        sqlgen.favg(f"v[{j}]", f"_m{j}") for j in range(1, dim + 1)
    )
    newlist = "[" + ", ".join(f"s._m{j}" for j in range(1, dim + 1)) + "]"
    sql = f"""
with e0 as (
  select vec_id, list_transform(embedding, x -> cast(x as double)) as v
  from embeddings
),
c0 as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cid, v as c
  from (select vec_id, v from e0 order by vec_id limit {k})
)"""
    prev = "c0"
    for i in range(1, iterations + 1):
        sql += f""",
a{i} as (
  select vec_id, v, cid from (
    select e.vec_id, e.v, c.cid,
           row_number() over (partition by e.vec_id order by {dist}, c.cid) as rn
    from e0 e cross join {prev} c
  ) where rn = 1
),
s{i} as (
  select cid, {means}
  from a{i} group by cid
),
c{i} as (
  select c.cid, case when s.cid is null then c.c else {newlist} end as c
  from {prev} c left join s{i} s on c.cid = s.cid
)"""
        prev = f"c{i}"
    return sql + f""",
asg as (
  select vec_id, cid from (
    select e.vec_id, c.cid,
           row_number() over (partition by e.vec_id order by {dist}, c.cid) as rn
    from e0 e cross join {prev} c
  ) where rn = 1
)"""


def _kmeans_oracle(k: int = _K, dim: int = _DIM, iterations: int = _ITERS) -> str:
    return _kmeans_ctes(k, dim, iterations) + "\nselect vec_id, cid from asg\n"


@register(
    "ml_kmeans",
    oracle=_kmeans_oracle(),
    survey_ref="ml-kmeans",
    doc="fixed-iteration Lloyd k-means over the 64-dim embeddings "
    "(k=8, 2 updates, init = k smallest vec_ids): broadcast-centroid "
    "argmin assignment + favg centroid update, one corpus scan per "
    "iteration; oracle = the unrolled recursion, bitwise (shared "
    "l2sq/favg grammar, row_number ties to smallest cid).",
)
def ml_kmeans(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    return kmeans(emb, dim=_DIM, k=_K, iterations=_ITERS)


_SD_T = 0.4


def _semdedup_oracle() -> str:
    from .datapipe import _cos_sql

    return _kmeans_ctes() + f""",
j as (
  select a.vec_id, a.cid, e.embedding
  from asg a join embeddings e on a.vec_id = e.vec_id
),
drp as (
  select distinct b.vec_id
  from j a join j b on a.cid = b.cid and a.vec_id < b.vec_id
  where {_cos_sql('a.embedding', 'b.embedding')} >= cast({_SD_T!r} as double)
)
select j.vec_id, j.cid from j
left join drp on j.vec_id = drp.vec_id
where drp.vec_id is null
"""


@register(
    "dd_semdedup",
    oracle=_semdedup_oracle(),
    survey_ref="dedup-semdedup",
    doc="SemDeDup (Abbas et al. 2023): k-means shard the corpus, drop "
    "any doc whose cosine to a lower-id doc in the SAME cluster is >= "
    "0.4 — the quadratic term bounded by cluster size, never corpus "
    "size.  Assignment from ml_kmeans's certified recursion; cosine in "
    "the ANN family's certified fold grammar; output integer-only.  "
    "Complements dd_semantic_dedup (LSH-banded candidates + connected "
    "components) with the paper's cluster-sharded non-transitive rule.",
)
def dd_semdedup(spark, sf_dir):
    from ..operators.clustering import semdedup

    emb = T(spark, sf_dir, "embeddings")
    return semdedup(emb, dim=_DIM, k=_K, iterations=_ITERS, threshold=_SD_T)


@register(
    "dd_semdedup_scaled",
    oracle=None,  # rows-only; hash twin dd_semdedup (NO_ORACLE_TWINS)
    survey_ref="dedup-semdedup",
    doc="SemDeDup in its PRODUCTION configuration (VERDICT r9 item 2): "
    "k DERIVED so expected cluster size stays bounded (~800 — the "
    "paper's grow-k remedy), nearest-centroid assignment via the "
    "Arrow-GEMM argmin, within-cluster cosine via the tiled grouped-GEMM "
    "Gram (BLAS, no pair rows) — the 41.7x-measured scale path at sf10 "
    "(SCALE.md r6/r7) that the fixed-k fold/fold head dd_semdedup "
    "cannot exercise.  At the driver's gate scale derived k == 8, so "
    "the kept set is identical to the hash-certified twin (pinned by "
    "tests/test_clustering.py::test_semdedup_scaled_head_matches_oracle_"
    "head_at_gate_scale); rows-only here because the BLAS distance "
    "reassociation is not DuckDB-replayable bitwise.",
)
def dd_semdedup_scaled(spark, sf_dir):
    from ..operators.clustering import derived_k, semdedup

    emb = T(spark, sf_dir, "embeddings")
    k = derived_k(emb.count(), floor=_K)
    return semdedup(
        emb, dim=_DIM, k=k, iterations=_ITERS, threshold=_SD_T,
        assign_strategy="gemm", pair_strategy="grouped_gemm",
    )


_CS_M = 25


@register(
    "dp_cluster_sample",
    oracle=_kmeans_ctes() + f"""
select vec_id, cid from (
  select vec_id, cid,
         row_number() over (
           partition by cid
           order by md5('cs:' || (vec_id || '')) asc, vec_id asc
         ) as rn
  from asg
) where rn <= {_CS_M}
""",
    survey_ref="dp-cluster-sample",
    doc=f"cluster-balanced sampling: keep {_CS_M} docs per semantic "
    "(k-means) cluster in deterministic md5 draw order — topic "
    "balancing for corpus curation; one group-limit window over the "
    "certified kmeans assignment.",
)
def dp_cluster_sample(spark, sf_dir):
    from ..operators.clustering import cluster_sample

    emb = T(spark, sf_dir, "embeddings")
    return cluster_sample(emb, dim=_DIM, per_cluster=_CS_M, k=_K, iterations=_ITERS)
