"""Iterative graph analytics as DataFrame loops.

The engine already runs one iterative algorithm — ``dedup.dedup_clusters``
(min-label propagation for connected components).  This module adds the
other canonical one, PageRank, as the template for iterative dataflow done
Spark-first: a driver-side Python loop over pure DataFrame joins/aggs, NO
RDDs, deterministic floats via ``sqlgen.fsum`` so a DuckDB oracle can
replay the unrolled recursion bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import sqlgen


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list; returns ``(node, r)``
    with ranks in the mean-1 formulation (``r`` averages 1.0; divide by
    node count for a probability).  Simplified recurrence (no dangling-
    mass redistribution — give sinks a self-loop or symmetric edges if
    every node must keep out-degree > 0):

        r_{k+1}(n) = (1 - d) + d * sum_{m -> n} r_k(m) / out_degree(m)

    Scale: each iteration is one src-keyed join (edges x ranks x degrees)
    and one dst-keyed aggregation — two shuffles, both partial-aggregable;
    the rank table is |nodes| rows, tiny next to |edges|, so at 100 TB the
    iteration cost is dominated by re-shuffling edges on ``src``.  AQE
    reuses the exchange within an iteration; set ``checkpoint_every`` to
    truncate the growing lineage on long runs (localCheckpoint — no
    checkpoint dir needed on a driver-owned session).

    Determinism: the per-node contribution sum uses ``sqlgen.fsum``
    (fixed-point int64 accumulation), so ranks are bit-identical across
    partitionings, engines, and reruns — the mean-1 scaling keeps values
    O(1) where fsum's 1e-6 quantization is ~1e-6 relative error.
    """
    d_lit = f"cast('{damping!r}' as double)"
    omd_lit = f"cast('{1.0 - damping!r}' as double)"

    # nodes and out-degrees come from ONE role-exploded aggregation
    # (node set = every id in either role, od = src-role count) — one
    # shuffle with map-side partials instead of a distinct-union plus a
    # separate degree agg.  The result is |nodes|-cardinality (tiny next
    # to |edges|) but carries a full edge-scan lineage, and EVERY
    # iteration of the final plan re-derives whatever auxiliary frames
    # it references (audited: 14 scans for 3 iterations without
    # pinning; 3 with).  One materialization is the cluster-scale shape
    # too: per-iteration cost should be the edge shuffle, not
    # re-aggregating degrees.
    aux = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("node"), F.lit(1).alias("is_src")),
                    F.struct(F.col(dst).alias("node"), F.lit(0).alias("is_src")),
                )
            ).alias("x")
        )
        .select("x.node", "x.is_src")
        .groupBy("node")
        .agg(F.sum("is_src").alias("od"))
        .localCheckpoint(eager=True)
    )
    nodes = aux.select("node")
    deg = aux.filter(F.col("od") > 0).select(F.col("node").alias(src), "od")
    ranks = nodes.selectExpr("node", "cast(1 as double) as r")
    for i in range(iterations):
        contrib = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(deg, src)
            .selectExpr(f"{dst} as node", "r / od as c")
        )
        sums = contrib.groupBy("node").agg(F.expr(sqlgen.fsum("c")).alias("s"))
        ranks = nodes.join(sums, "node", "left").selectExpr(
            "node",
            f"{omd_lit} + {d_lit} * coalesce(s, cast(0 as double)) as r",
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle enumeration via degree-ordered edge orientation
    (the MPC-friendly algorithm of Suri & Vassilvitskii, "Counting
    triangles and the curse of the last reducer", WWW'11).

    Orient every undirected edge from its lower ``(degree, id)`` endpoint
    to the higher; enumerate wedges from each node's oriented
    out-neighbors; close each wedge against the oriented edge set.  The
    orientation bounds every out-degree by O(sqrt(m)), so the wedge
    fan-out — the quadratic hazard of naive counting on hub nodes — is
    capped, and each triangle appears exactly once.  Three shuffles
    (degree agg, wedge join on the pivot, closure join on the pair);
    skew-safe at 100 TB because no reducer sees a hub's full
    neighborhood, only its oriented out-list.

    Returns one row per triangle with vertex ids as ``(a, b, c)``,
    ``a < b < c``.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        und.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.struct(F.col("du").alias("d"), F.col("u").alias("i")).alias("ku"),
            F.struct(F.col("dv").alias("d"), F.col("v").alias("i")).alias("kv"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("kt"),
    )
    # the oriented edge set is referenced three times (both wedge sides +
    # the closure probe); materialize it once instead of re-planning the
    # distinct + degree join lineage per reference
    oriented = oriented.localCheckpoint(eager=True)
    p = oriented.select(F.col("s").alias("w_s"), F.col("t").alias("w_b"), F.col("kt").alias("w_kb"))
    q = oriented.select(F.col("s").alias("w_s"), F.col("t").alias("w_c"), F.col("kt").alias("w_kc"))
    wedges = p.join(q, on="w_s").filter(F.col("w_kb") < F.col("w_kc"))
    closed = wedges.join(
        oriented.select(F.col("s").alias("w_b"), F.col("t").alias("w_c")),
        on=["w_b", "w_c"],
    )
    arr = F.array_sort(F.array("w_s", "w_b", "w_c"))
    return closed.select(
        arr.getItem(0).alias("a"), arr.getItem(1).alias("b"), arr.getItem(2).alias("c")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    checkpoint_every: int | None = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA, Raghavan
    et al. 2007) with FIXED iterations and deterministic tie-breaks —
    distinct from ``dedup.dedup_clusters``: connected components
    propagate the MIN label to convergence (one label per component);
    LPA adopts each node's MAJORITY neighbor label, so dense subgraphs
    keep distinct labels inside one component.

    Determinism (asynchronous LPA is run-order-dependent, useless for a
    certifiable engine): updates are synchronous (all nodes step on the
    round-(k-1) labels), the neighbor multiset is the DISTINCT
    symmetrized edge set, and the argmax tie-break is (count desc,
    label asc) — integer-only arithmetic, so results are bitwise
    reproducible on any engine/partitioning and the unrolled recursion
    is a plain SQL oracle.

    Scale: per iteration one join of edges against the |nodes|-row label
    table + one (node, label) count + one row_number argmax — the same
    two-exchange shape as a PageRank step; the label table never exceeds
    |nodes| rows.  Lineage is truncated every ``checkpoint_every``
    rounds (localCheckpoint) so long runs don't re-plan the full unroll.

    Returns ``(node, label)``; labels are seed node ids.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # referenced every iteration — pin the distinct once (pagerank's
    # pinned-aux rationale: iteration cost = the join, not
    # re-deduplicating the edge list)
    und = und.localCheckpoint(eager=True)
    nodes = und.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("label").asc())
    for i in range(iterations):
        cnt = (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            labels = labels.localCheckpoint(eager=True)
    return labels


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    checkpoint_every: int | None = 2,
) -> DataFrame:
    """Iterative k-core peeling (Seidman 1983; the distributed peel of
    Montresor et al. 2013): repeatedly drop every node whose degree in
    the SURVIVING subgraph is below ``k``, ``iterations`` rounds.  The
    data-curation use: bot rings, spam farms, and citation/link cores
    are dense subgraphs that survive peeling while incidental one-off
    connections fall away — the graph-side complement of frequency
    filtering.

    FIXED iterations keep the recursion oracle-expressible (the
    pagerank/LPA pattern): each round is pure integer arithmetic —
    degree count over the distinct symmetrized edge set, threshold,
    semi-join both endpoints — so the unrolled SQL replays it bitwise.
    A graph whose peel has not stabilized in ``iterations`` rounds
    returns the round-N overapproximation (documented truncation, same
    contract as ``pagerank``'s fixed step count; peeling converges in
    at most |V| rounds, in practice a handful).

    Scale: per round one map-side-partial degree count + two semi-joins
    of the edge set against the shrinking |survivors|-row node table —
    no operator holds a neighborhood in one row, no driver-side state.
    Lineage truncates every ``checkpoint_every`` rounds.

    Returns surviving ``(node, degree)`` — degree within the final core.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = und
    deg = None
    for i in range(iterations):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        cur = (
            cur.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            cur = cur.localCheckpoint(eager=True)
    # final degrees within the surviving subgraph (post-round-N edges);
    # no extra threshold here — a survivor whose degree fell below k
    # AFTER the round-N edge removal is exactly the truncation state the
    # oracle replays (another round would peel it)
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def link_jaccard(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Neighbor-set Jaccard per EXISTING edge — the classic link-
    prediction / tie-strength score (Liben-Nowell & Kleinberg 2003):
    ``J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` with the union counted as
    ``deg(a) + deg(b) - common`` (endpoints are members of each other's
    neighborhoods, as in the standard set definition).

    Exact integer counts + one int/int double division => bitwise
    cross-engine.  Scale shape: the common-neighbor count is the
    triangle wedge join (each edge's score sums its closed wedges), so
    the same degree-orientation bound applies if hubs appear; here the
    canonical form is three hash joins + one count aggregate, all on
    edge/vertex keys, no fan-out beyond wedges.  Edges with no common
    neighbor score 0.  Returns ``(a, b, common, deg_a, deg_b,
    jaccard)`` with ``a < b``.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # both directions: neighbor lists
    nbr = und.select(F.col("u").alias("x"), F.col("v").alias("w")).unionAll(
        und.select(F.col("v").alias("x"), F.col("u").alias("w"))
    )
    deg = nbr.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    # common neighbors of the two endpoints of each existing edge:
    # wedge join through the shared neighbor w, then keep wedges whose
    # endpoints form an edge
    w1 = nbr.select(F.col("x").alias("a"), "w")
    w2 = nbr.select(F.col("x").alias("b"), "w")
    wedges = w1.join(w2, "w").filter(F.col("a") < F.col("b"))
    common = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    scored = (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(common, ["a", "b"], "left")
        .fillna(0, subset=["common"])
        .join(deg.select(F.col("x").alias("a"), F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("x").alias("b"), F.col("d").alias("deg_b")), "b")
    )
    j = F.col("common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("common")
    ).cast("double")
    return scored.select(
        "a", "b",
        F.col("common").cast("bigint").alias("common"),
        F.col("deg_a").cast("bigint").alias("deg_a"),
        F.col("deg_b").cast("bigint").alias("deg_b"),
        j.alias("jaccard"),
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph — the
    Pearson correlation of (deg(u), deg(v)) over every directed edge
    realization (both orientations of each undirected edge, Newman
    2002) — the one-number mixing diagnostic behind curation of graph
    corpora (social graphs are assortative, web/purchase graphs
    disassortative; extends the reference's graph screens with the
    standard structural summary).

    Determinism: degrees are exact integer counts and the coefficient
    comes from exact decimal moment sums (:func:`sqlgen.corr_from_pairs`
    — one shared scalar fragment in both engines), so the single output
    row is bitwise cross-engine and partitioning-independent.  Using
    both orientations makes the pair set symmetric, so x- and y-moments
    coincide — the undirected definition.

    Scale shape: dedupe + two degree joins + ONE scalar hash aggregate;
    everything keys on vertex ids, no fan-out beyond the edge list (2|E|
    rows into the final aggregate).  NULL on a degree-regular graph
    (zero variance), like scipy.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nbr = und.select(F.col("u").alias("x"), F.col("v").alias("w")).unionAll(
        und.select(F.col("v").alias("x"), F.col("u").alias("w"))
    )
    deg = nbr.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    both = (
        nbr.join(deg.select(F.col("x"), F.col("d").alias("_x")), "x")
        .join(
            deg.select(F.col("x").alias("w"), F.col("d").alias("_y")), "w"
        )
    )
    return both.agg(
        (F.count(F.lit(1)) / F.lit(2)).cast("bigint").alias("n_edges"),
        F.expr(sqlgen.corr_from_pairs("_x", "_y")).alias("assortativity"),
    )
