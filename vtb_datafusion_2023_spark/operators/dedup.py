"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, and n-gram Jaccard (north-star extensions; BASELINE.json).

Scale design (the whole point of these operators):

- Exact dedup is a hash-groupBy — one shuffle on the content hash.
- Naive near-dup is O(n^2) pairs; MinHash-LSH banding reduces it to
  candidates that collide in >= 1 band: shingle -> K permuted min-hashes ->
  B bands of R rows -> bucket grouping -> capped in-bucket pair expansion
  -> exact-Jaccard verify.  All hashing is JVM-side (xxhash64 + affine
  permutations under a Mersenne prime) — no Python, no UDF.
- SimHash packs a document into one 64-bit signature; near-dup candidates
  share at least one of C chunk prefixes (pigeonhole: hamming <= k with C
  chunks guarantees a matching chunk when k < C), then exact hamming
  verifies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1  # 31-bit domain: affine products stay < 2^63 (ANSI-safe)


def _prefix_keep(threshold: float, sz) -> "Column":
    """AllPairs prefix length ``|d| - s_min + 1`` where ``s_min`` is the
    minimal integer overlap ``threshold`` implies for a doc of ``sz``
    shingles.  ``threshold * sz`` is double arithmetic: if the product
    rounded UP across an integer relative to the verify predicate's
    differently-rounded division, ``ceil`` would shrink the prefix by one
    and prune a pair the verify (and the oracle) keep — so subtract an
    epsilon far above double ulp at shingle-count magnitudes but far
    below 1/sz granularity before the ceil.  The filter bound can only
    get LOOSER (at most one extra probed shingle per doc), provably
    never tighter than the verify comparison."""
    return sz - F.ceil(F.lit(threshold) * sz - F.lit(1e-9)) + 1


def _jaccard_alpha(threshold: float, sza, szb) -> "Column":
    """PPJoin minimal-overlap bound (Xiao et al., WWW'08): a pair with
    J >= t has |A ∩ B| >= ceil(t/(1+t) * (|A|+|B|)).  Same epsilon guard
    as :func:`_prefix_keep`: the float ``t/(1+t)`` product can round UP
    across the integer the verify predicate's double division admits, so
    subtract 1e-9 (far above ulp·|sizes|, far below 1/|sizes|) before the
    ceil — the bound can only get LOOSER (alpha at most one below the
    exact rational), provably never tighter than the verify comparison
    (exact-rational sweep test in tests/test_datapipe.py)."""
    return F.ceil(F.lit(threshold / (1.0 + threshold)) * (sza + szb) - F.lit(1e-9))


def _containment_alpha(threshold: float, sza) -> "Column":
    """Minimal integer overlap for containment |A∩B|/|A| >= t: the same
    ``ceil(t*|A| - eps)`` quantity :func:`_prefix_keep` subtracts."""
    return F.ceil(F.lit(threshold) * sza - F.lit(1e-9))


def exact_dedup(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Exact duplicate clustering: md5 over the content columns; keeps the
    minimum id as the cluster representative (hash-groupBy A-style)."""
    key = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    return (
        df.withColumn("content_key", key)
        .groupBy("content_key")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document.

    r9: for n=1 the shingle set IS the distinct token list, so the
    per-position ``slice`` + ``array_join`` construction (one array
    allocation + one join per gram — measured ~1 ms/doc at 450 tokens,
    56% of the whole containment head) collapses to one
    ``array_distinct``: 5.9 -> 0.36 s on the zipf0.1 corpus (16x),
    string-identical output (first-occurrence order, differential-
    pinned on three corpora + edge cases).  For n >= 2 the slice form
    stays: a ``get``+``concat_ws``-per-gram variant measured 2.6x
    SLOWER at n=3 (n column probes per gram beat one bulk slice only
    at n=1), so unigram is the only shape with a cheaper equivalent."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    if n == 1:
        return F.array_distinct(toks)
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(grams)


def minhash_signature(shingles: Column, num_perm: int = 64, seed: int = 1) -> Column:
    """K permuted min-hashes over the shingle set, fully JVM-side.

    h_i(s) = (a_i * h(s) + b_i) mod p with p = 2^31-1 (Mersenne), h(s) =
    xxhash64 folded into [0, p), and a_i, b_i derived deterministically
    from ``seed``.  The 31-bit domain keeps every product < 2^62, safe
    under Spark's default ANSI overflow checking.  Signature element i is
    min over shingles; nested array lambdas keep it one projection.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(
            F.transform(
                shingles,
                lambda s: F.pmod(
                    (F.pmod(i * 40503 + F.lit(seed * 7919 + 1), F.lit(MERSENNE_P)) + 1)
                    * F.pmod(F.xxhash64(s), F.lit(MERSENNE_P))
                    + (i * 2654435761 + 7) % MERSENNE_P,
                    F.lit(MERSENNE_P),
                ),
            )
        ),
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    shingle_strategy: str = "window",
) -> DataFrame:
    """(id, band, bucket) LSH band assignments — the unit of incremental
    dedup state.

    Signatures are fully deterministic (seeded integer permutations over
    xxhash64 shingles), so band tables computed in different runs, years
    apart, collide identically — persist this table once per corpus
    snapshot (``write_minhash_index``) and new batches dedup against it
    WITHOUT touching historical text (``incremental_minhash_pairs``).
    """
    rows = num_perm // bands
    seed_ = 1  # matches minhash_signature's derivation

    if shingle_strategy == "window":
        w = Window.partitionBy("_id").orderBy("pos")
        toks = df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "_t"),
        )
        lead_tail = F.lead("_t", shingle_n - 1).over(w)
        grams = toks.select(
            "_id",
            "pos",
            F.concat_ws(
                " ", *[F.lead("_t", j).over(w) if j else F.col("_t") for j in range(shingle_n)]
            ).alias("_s"),
            lead_tail.alias("_tail"),
        )
        # full n-grams only, except the pos-0 partial gram for docs
        # shorter than n — matching word_shingles' greatest(k, 1) behavior
        grams = grams.filter(F.col("_tail").isNotNull() | (F.col("pos") == 0))
        hashed = grams.select("_id", F.pmod(F.xxhash64("_s"), F.lit(MERSENNE_P)).alias("_h"))
    elif shingle_strategy == "array":
        base = df.select(
            F.col(id_col).alias("_id"), word_shingles(text_col, shingle_n).alias("_sh")
        )
        hashed = base.select("_id", F.explode("_sh").alias("_s")).select(
            "_id", F.pmod(F.xxhash64("_s"), F.lit(MERSENNE_P)).alias("_h")
        )
    else:
        raise ValueError(f"unknown shingle_strategy: {shingle_strategy}")
    perms = []
    for i in range(num_perm):
        a_i = (i * 40503 + seed_ * 7919 + 1) % MERSENNE_P + 1
        b_i = (i * 2654435761 + 7) % MERSENNE_P
        perms.append(
            F.min(F.pmod(F.lit(a_i) * F.col("_h") + F.lit(b_i), F.lit(MERSENNE_P))).alias(
                f"_mh{i}"
            )
        )
    sigs = hashed.groupBy("_id").agg(*perms)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(*[F.col(f"_mh{b * rows + j}") for j in range(rows)]).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("_id", F.explode(band_structs).alias("_b")).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )


def _verify_jaccard(
    cand: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    jaccard_threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of candidate (id_a, id_b) pairs: shingle
    arrays are built ONLY for docs appearing in a candidate pair (the
    join prunes the corpus scan)."""
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .unionByName(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # the candidate-doc shingle table feeds BOTH pair-join sides below;
    # unpinned, the corpus scan + join-prune + per-doc shingling ran once
    # per side (r11; interleaved A/B on the zipf corpus: dd_minhash_lsh
    # 5.19 -> 3.75 s clean).  Pin it once — candidate docs are ~linear in
    # true duplicates, tiny next to the corpus, so unlike a corpus-wide
    # shingle pin this stays block-manager-safe at scale.  A corpus-wide
    # pinned shingle table shared with the banding stage was A/B'd too
    # (4.45 s): it loses to this shape because banding keeps the faster
    # codegen'd window-lead shingling AND nothing corpus-sized is ever
    # materialized.  Lazy: plan construction stays job-free.
    sh = (
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        .join(cand_ids, "_id")
        .select("_id", word_shingles("_txt", shingle_n).alias("_sh"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    shingle_strategy: str = "window",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Only colliding (band, bucket) groups generate candidates — at 100 TB
    the candidate set is ~linear in true duplicates, not O(n^2).

    ``shingle_strategy`` trades compute shape for shuffle volume:
    - 'window' (default): posexplode tokens -> lead() n-grams.  Fully
      whole-stage-codegen'd (4x faster locally: 0.8s vs 3.1s at sf0.1),
      but the window shuffles the tokenized corpus by doc id.  Right when
      compute-bound (local, fat executors).
    - 'array': map-side interpreted array-lambda shingling + exploded
      hash with map-side partial min-aggregation, so the exchange carries
      only ~num_perm longs per doc per partition.  Right when the cluster
      is shuffle-bound (the usual 100 TB regime).

    ``max_bucket_size``: hot buckets (m near-identical docs — exactly
    where dedup matters) would otherwise expand to O(m^2) pairs inside
    one row; buckets over the cap fall back to a star pairing against the
    bucket's minimum id, keeping the duplicate CLUSTER connected with
    O(m) pairs.  Run exact_dedup first to strip true duplicates.
    """
    banded = minhash_band_table(
        df, id_col, text_col, num_perm, bands, shingle_n, shingle_strategy
    )
    # the candidate pairs feed three consumers inside the verify (the two
    # cand_ids branches + the pair join); pinning them stops each from
    # replaying the whole shingle->signature->bucket lineage.  Candidates
    # are (long, long) rows ~linear in true duplicates — tiny relative to
    # the corpus.
    cand = _bucket_candidate_pairs(banded, max_bucket_size).localCheckpoint(eager=False)
    return _verify_jaccard(cand, df, id_col, text_col, shingle_n, jaccard_threshold)


def minhash_md5_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Cross-engine-certifiable MinHash banding: permutation ``p`` of a
    shingle is ``md5(f"{p}:" + shingle)`` (lowercase hex; lexicographic
    min over fixed-width hex strings IS the numeric min), and a band's
    bucket key is the md5 of its '|'-joined signature slice.

    This hash family costs ``num_perm`` md5 evaluations per shingle —
    use the xxhash64+affine default (`minhash_band_table`) at scale; the
    md5 family exists because BOTH engines implement md5 with identical
    hex output, so the ENTIRE banding pipeline (shingle -> permuted min
    -> band bucket) can be replayed by the DuckDB oracle and certified
    bitwise (`dd_minhash_md5`) — the hard correctness signal the
    engine-specific xxhash64 path can only get from property tests.

    One shuffle: the per-doc groupBy computes all ``num_perm`` string
    mins with map-side partial aggregation.  Returns (_id, band, bucket).

    ``shingled``: an already-pinned :func:`shingle_array_table` over the
    same (df, id_col, text_col, shingle_n) — lets a caller that shingles
    the corpus for another pipeline (the recall-eval truth stage) share
    ONE shingle build (r11); identical values, the explode just reads
    the pinned arrays.  A table built with a different n raises
    ``ValueError`` (:func:`_check_shingle_n`).
    """
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    if shingled is not None:
        sh = _check_shingle_n(shingled, shingle_n, "minhash_md5_band_table").select(
            "_id", F.explode("_sh").alias("_s")
        )
    else:
        sh = df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_s"),
        )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{p}:"), F.col("_s")))).alias(f"_m{p}")
        for p in range(num_perm)
    ]
    sigs = sh.groupBy("_id").agg(*aggs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"_m{b * r + j}") for j in range(r)])
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("_id", F.explode(band_structs).alias("_bb")).select(
        "_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket")
    )


def minhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """`minhash_lsh_pairs` with the md5 hash family (see
    `minhash_md5_band_table`): same banding -> candidate -> exact-verify
    shape, oracle-replayable end to end."""
    banded = minhash_md5_band_table(df, id_col, text_col, num_perm, bands, shingle_n)
    cand = _bucket_candidate_pairs(banded, max_bucket_size).localCheckpoint(eager=False)
    return _verify_jaccard(cand, df, id_col, text_col, shingle_n, jaccard_threshold)


def _bucket_candidate_pairs(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs from colliding (band,
    bucket) groups.

    GROUPING buckets, not a self-join: a self-join would evaluate the
    signature pipeline twice (one lineage per side), and caching per
    invocation leaks block-manager state across calls.  Grouping keeps
    ONE lineage: band rows carry only (band, bucket, id) longs; colliding
    buckets expand to sorted in-bucket pairs, star-capped by
    ``max_bucket_size`` (hot buckets pair every member against the
    bucket minimum — O(m) pairs, cluster stays connected)."""
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    all_pairs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(F.col("_ids"), 2, F.size(F.col("_ids"))),
        lambda y: F.struct(F.element_at(F.col("_ids"), 1).alias("id_a"), y.alias("id_b")),
    )
    pair_structs = F.when(F.size("_ids") > max_bucket_size, star_pairs).otherwise(all_pairs)
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .distinct()
    )


def write_minhash_index(
    banded: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Persist a ``minhash_band_table`` as the corpus's dedup index:
    parquet bucketed+sorted by (band, bucket), so incremental batches
    join it WITHOUT shuffling the historical side (the 100 TB payoff —
    history is banded once, then only ever probed).  Returns the
    re-read bucketed table."""
    from ..sources.bucketed import bucketed_checkpoint

    return bucketed_checkpoint(
        banded,
        table=table,
        path=path,
        bucket_cols=["band", "bucket"],
        n_buckets=n_buckets,
        sort_cols=["band", "bucket"],
    )


def _index_id_column(index: DataFrame) -> str:
    """The id column of a band index = whatever is not band/bucket
    (``minhash_band_table`` emits ``_id``; ``write_minhash_index`` tables
    carry the caller's id name) — resolved by NAME, never by position."""
    others = [c for c in index.columns if c not in ("band", "bucket")]
    if len(others) != 1:
        raise ValueError(
            f"band index must have exactly one id column besides band/bucket, got {index.columns}"
        )
    return others[0]


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    old_docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    shingle_strategy: str = "window",
    max_bucket_size: int = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Dedup an incoming batch against an already-banded corpus WITHOUT
    recomputing (or rescanning) history.

    ``hash_family``: 'xxhash64' (default, the fast scale path) or 'md5'
    (both engines share md5's hex output, so the incremental pipeline is
    oracle-replayable bitwise — the index must have been built with
    ``minhash_md5_band_table``).  The family must match the index's.

    ``index`` is the historical ``minhash_band_table`` (live frame or the
    ``write_minhash_index`` bucketed table).  Candidates are
    (new x new) via in-batch bucket grouping plus (new x old) via an
    equi-join of the batch's bands against the index; verification builds
    shingles for the batch and ONLY the historical docs named in a
    candidate pair (a join-pruned point lookup into ``old_docs``).

    Determinism of the signatures makes this EXACTLY equivalent to
    re-running ``minhash_lsh_pairs`` over old+new and keeping the pairs
    that touch a new doc (property-tested in tests/test_datapipe.py),
    at the cost of the batch, not the corpus.  Old-old pairs are the
    previous run's output and are not re-emitted.
    """
    # Exact duplicate batch rows (an at-least-once redelivery) must
    # collapse before they can do harm, but WHERE depends on the shingle
    # strategy.  The window-lead strategy interleaves a duplicated doc's
    # tokens inside the per-id window, corrupting its signature — there
    # the distinct must run BEFORE banding.  The array strategies (md5
    # family, shingle_strategy='array') build each row's shingle set
    # independently and min-aggregate per id, so duplicates collapse in
    # the banding groupBy for free — pre-dedup there would only insert an
    # exchange whose small-bytes output AQE coalesces onto a few cores,
    # serializing the CPU-heavy per-shingle hashing that otherwise runs
    # map-side at input parallelism (measured 4x on dd_incremental_md5).
    # Duplicates must still collapse before the VERIFY (a doc joining
    # twice multiplies pairs) — handled at new_sel below.
    new_docs = new_docs.select(F.col(id_col), F.col(text_col))
    pre_dedup = hash_family == "xxhash64" and shingle_strategy == "window"
    if pre_dedup:
        new_docs = new_docs.distinct()
    # The batch band table feeds BOTH candidate branches (and indirectly
    # the verify); without pinning, each consumer replays the full
    # shingle->hash->min-agg lineage (plan audit showed 19 scans of the
    # batch).  localCheckpoint materializes it once — it is small
    # (bands x ids longs), and the batch (not the corpus) is the unit of
    # incremental work.  Eager, not lazy: a lazy checkpoint piggybacks
    # its materialization on the first consumer's job, and straggler
    # tasks completing after that SQL execution unregisters its
    # accumulators log benign-but-noisy "non-existent accumulator"
    # DAGScheduler errors (the round-3 bench-tail anomaly attributed to
    # this query); eager runs it as its own job, measured cost-neutral.
    if hash_family == "md5":
        new_banded = minhash_md5_band_table(
            new_docs, id_col, text_col, num_perm, bands, shingle_n
        ).localCheckpoint(eager=True)
    elif hash_family == "xxhash64":
        new_banded = minhash_band_table(
            new_docs, id_col, text_col, num_perm, bands, shingle_n, shingle_strategy
        ).localCheckpoint(eager=True)
    else:
        raise ValueError(f"hash_family must be xxhash64|md5, got {hash_family!r}")
    new_new = _bucket_candidate_pairs(new_banded, max_bucket_size)
    old_side = index.select(
        F.col(_index_id_column(index)).alias("_old_id"), "band", "bucket"
    )
    new_old = (
        new_banded.join(old_side, ["band", "bucket"])
        # an id may sit in the index AND the batch (re-ingest): keep the
        # pair once with the canonical id_a < id_b orientation
        .filter(F.col("_id") != F.col("_old_id"))
        .select(
            F.least("_id", "_old_id").alias("id_a"),
            F.greatest("_id", "_old_id").alias("id_b"),
        )
        .distinct()
    )
    # cand feeds three consumers in the verify (the pruning id set and
    # both pair-join sides) — pin it like minhash_md5_pairs does, or each
    # consumer replays the bucket grouping + index join
    cand = new_new.unionByName(new_old).distinct().localCheckpoint(eager=True)
    # one text per id for the verify: the batch's text wins on re-ingest.
    # This was a full-corpus distinct — a history-wide shuffle just to
    # dedup (id, text) rows; the batch is small by contract, so a
    # BROADCAST anti-join removes overlapping ids from the historical
    # side without shuffling it at all (the verify join then prunes
    # history to candidate ids).  Redelivered duplicate batch rows
    # collapse here (the verify branch only — batch-sized shuffle) when
    # the banding didn't already require a pre-dedup.
    new_sel = new_docs if pre_dedup else new_docs.distinct()
    old_sel = old_docs.select(F.col(id_col), F.col(text_col)).join(
        F.broadcast(new_sel.select(id_col)), id_col, "left_anti"
    )
    docs_all = new_sel.unionByName(old_sel)
    return _verify_jaccard(cand, docs_all, id_col, text_col, shingle_n, jaccard_threshold)


def simhash64(text: Column | str, bits: int = 64) -> Column:
    """64-bit SimHash of the token multiset: for each bit position, sum
    +/-1 over token hashes; the bit is set where the sum is positive.

    Bit positions are Python ints (shift amounts must be literals in the
    DataFrame API), so this generates ``bits`` aggregate expressions over
    one shared token-hash array — still a single projection, no shuffle.
    The signature assembles via bitwise OR (overflow-free for bit 63).
    """
    from functools import reduce as _reduce

    c = F.col(text) if isinstance(text, str) else text
    tok_hashes = F.transform(F.split(c, " "), lambda t: F.xxhash64(t))

    def bit_expr(b: int) -> Column:
        mask = F.shiftleft(F.lit(1).cast("long"), b)
        vote = F.aggregate(
            tok_hashes,
            F.lit(0).cast("long"),
            lambda a, h: a + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )
        return F.when(vote > 0, mask).otherwise(F.lit(0).cast("long"))

    return _reduce(lambda x, y: x.bitwiseOR(y), [bit_expr(b) for b in range(bits)])


def simhash64_agg(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash signatures via explode + codegen'd bit-vote aggregates —
    the scale path (same rationale as the MinHash hot path: higher-order
    array lambdas are interpreted; exploded columnar aggregates are not).
    Returns (_id, _sh)."""
    from functools import reduce as _reduce

    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(F.split(F.col(text_col), " ")).alias("_t")
    ).select("_id", F.xxhash64("_t").alias("_h"))
    votes = [
        F.sum(
            F.when(F.col("_h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0, 1).otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    sig_bits = [
        F.when(F.col(f"_v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        for b in range(bits)
    ]
    return toks.groupBy("_id").agg(*votes).select(
        "_id", _reduce(lambda x, y: x.bitwiseOR(y), sig_bits).alias("_sh")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    chunks: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via the chunk
    pigeonhole: candidates must share one of ``chunks`` 16-bit chunks.
    (Guaranteed complete when max_hamming < chunks; here it is a recall
    heuristic matching common practice.)

    Same plan shape as minhash_lsh_pairs: bucket GROUPING (one lineage, no
    self-join) with the signature carried inside the bucket list, so the
    hamming verify needs no join at all; hot buckets star-cap at
    ``max_bucket_size``.
    """
    bits_per = 64 // chunks
    sh = simhash64_agg(df, id_col, text_col)
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(cidx).alias("chunk"),
                F.shiftright(F.col("_sh"), cidx * bits_per)
                .bitwiseAND(F.lit((1 << bits_per) - 1))
                .alias("ckey"),
            )
            for cidx in range(chunks)
        ]
    )
    chunked = sh.select("_id", "_sh", F.explode(chunk_structs).alias("_c")).select(
        "_id", "_sh", F.col("_c.chunk").alias("chunk"), F.col("_c.ckey").alias("ckey")
    )
    buckets = (
        chunked.groupBy("chunk", "ckey")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_sh"))).alias("_m"))
        .filter(F.size("_m") > 1)
    )
    def mk_pair(x: Column, y: Column) -> Column:
        return F.struct(
            x["_id"].alias("id_a"),
            y["_id"].alias("id_b"),
            F.bit_count(x["_sh"].bitwiseXOR(y["_sh"])).alias("hamming"),
        )

    all_pairs = F.flatten(
        F.transform(
            F.col("_m"),
            lambda x, i: F.transform(
                F.slice(F.col("_m"), i + 2, F.size(F.col("_m"))),
                lambda y: mk_pair(x, y),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(F.col("_m"), 2, F.size(F.col("_m"))),
        lambda y: mk_pair(F.element_at(F.col("_m"), 1), y),
    )
    pair_structs = F.when(F.size("_m") > max_bucket_size, star_pairs).otherwise(all_pairs)
    # hamming verify INSIDE the bucket array, before the explode: the
    # pigeonhole buckets expand to O(m^2) candidates (236k at sf0.1) of
    # which only the true near-dups survive — filtering in the lambda
    # means the explode+dedup shuffle carries survivors only.
    survivors = F.filter(pair_structs, lambda p: p["hamming"] <= max_hamming)
    return (
        buckets.select(F.explode(survivors).alias("_p"))
        .select("_p.id_a", "_p.id_b", "_p.hamming")
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def shingle_array_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """``(_id, _sh, _sz)`` distinct word-n-gram shingle arrays, pinned
    once (lazy ``localCheckpoint``).  The shareable unit of shingling:
    pass it to several shingle consumers over the SAME corpus
    (``ngram_jaccard_pairs`` / ``minhash_md5_band_table`` via their
    ``shingled=`` parameter) so the per-doc n-gram construction — the
    dominant fixed cost of the n>=2 slice+array_join form — runs once
    per corpus instead of once per consumer (r11 guide §1.2; the
    recall-eval head built the identical trigram table twice, once for
    the exact-Jaccard truth and once for the banding candidates).

    ``_sh`` carries n in its column metadata (``shingle_n``), which the
    consumers check (:func:`_check_shingle_n`)."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            word_shingles(text_col, n).alias("_sh", metadata={"shingle_n": n}),
        )
        .withColumn("_sz", F.size("_sh"))
        .localCheckpoint(eager=False)
    )


def _check_shingle_n(shingled: DataFrame, n: int, consumer: str) -> DataFrame:
    """``shingled`` itself, after checking that it is a
    :func:`shingle_array_table` built with the consumer's own n: a
    trigram table passed to a 5-gram consumer would otherwise yield
    plausible but wrong similarities."""
    got = shingled.schema["_sh"].metadata.get("shingle_n")
    if got != n:
        raise ValueError(
            f"{consumer}: shingled table has shingle_n={got}, expected {n} "
            "(build it with shingle_array_table(df, id_col, text_col, n))"
        )
    return shingled


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for all pairs above ``threshold``.

    Prefix-filtered AllPairs (Bayardo et al., WWW'07 — public
    algorithm): shingles get a global rarity order (document frequency
    asc, shingle asc); a pair with J >= t must share its smallest-ordered
    common shingle within BOTH docs' prefixes of length
    ``|d| - ceil(t*|d|) + 1``, so only prefix shingles are indexed and
    self-joined.  Posting lists shrink from every-token to rare-prefix
    tokens — the candidate join is bounded by rare-shingle frequencies
    instead of O(sum posting^2) on stopword-grade shingles, which is what
    makes exact Jaccard viable at corpus scale.  Candidates then verify
    with a full set intersection, so the OUTPUT is identical to the
    brute-force path (same counts, same division — bitwise; certified by
    the ``dd_ngram_jaccard`` oracle, which stays the naive SQL).

    A position filter (PPJoin, Xiao et al., WWW'08 — the standard next
    notch on AllPairs) prunes candidates BEFORE the distinct + verify
    join using two bounds a qualifying pair must satisfy, both epsilon-
    guarded so they are provably never tighter than the verify division
    (VERDICT r6 item 4):

    - length: ``min(|A|,|B|) >= ceil(t·max(|A|,|B|))`` (overlap is at
      most the smaller size, at least ``t·union >= t·max``);
    - position: at a shared prefix token sitting at rarity positions
      ``(i, j)``, overlap is at most ``1 + min(|A|-i, |B|-j)`` (the
      common tokens besides this one all rank later in BOTH docs), which
      must reach ``alpha = ceil(t/(1+t)·(|A|+|B|))``.

    Soundness of pruning per-occurrence with ANY-semantics (a pair
    survives if any shared prefix token passes): the globally FIRST
    common token of a qualifying pair lies inside both prefixes (prefix-
    filter lemma), and at that token the position bound is >= the true
    overlap >= alpha — so every qualifying pair survives via at least
    that occurrence, and the verified output stays identical to the
    brute-force shingle-set join (``reference_shingle_pairs`` in
    tests/test_datapipe.py, differential at several thresholds).

    ``shingled``: an already-pinned :func:`shingle_array_table` of the
    SAME (df, id_col, text_col, n) — callers that also shingle the
    corpus elsewhere (the recall-eval head's banding stage) pass it so
    one pinned table feeds both pipelines (r11).  A table built with a
    different n raises ``ValueError`` (:func:`_check_shingle_n`).
    """
    # the shingle-array table feeds five plan branches (df frequency,
    # prefix, both candidate sides, both verify sides) — pin it once so
    # the upstream scan + per-doc shingling doesn't replay per branch
    # (same rationale as containment_pairs; measured on the planted
    # corpus at sf0.1: 20.4 -> ~4 s, where the upstream derivation is
    # nontrivial).  Lazy: plan construction stays job-free.
    if shingled is not None:
        docs = _check_shingle_n(shingled, n, "ngram_jaccard_pairs")
    else:
        docs = shingle_array_table(df, id_col, text_col, n)
    sh = docs.select("_id", "_sz", F.explode("_sh").alias("_s"))
    dfreq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_s").asc())
    prefix = (
        sh.join(dfreq, "_s")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _prefix_keep(threshold, F.col("_sz")))
        .select("_id", "_s", "_rn", "_sz")
        # the prefix table feeds BOTH sides of the candidate self-join;
        # without the pin the dfreq shuffle join + rarity window
        # executes twice — ReuseExchange only dedups the exchange below
        # the window, not the window sort above it.  Measured on the
        # planted corpus at sf0.1: 4.0 -> 3.6 s end-to-end (the window
        # is ~10% of this query; with the corpus itself pre-pinned the
        # same change measures 3.0 -> 0.57 s — the saving scales with
        # the candidate-generation share).  Lazy, like the docs pin.
        .localCheckpoint(eager=False)
    )
    raw = (
        prefix.select(
            F.col("_id").alias("id_a"), "_s",
            F.col("_rn").alias("_rna"), F.col("_sz").alias("_sza"),
        )
        .join(
            prefix.select(
                F.col("_id").alias("id_b"), "_s",
                F.col("_rn").alias("_rnb"), F.col("_sz").alias("_szb"),
            ),
            "_s",
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    alpha = _jaccard_alpha(threshold, F.col("_sza"), F.col("_szb"))
    raw = raw.filter(
        F.least("_sza", "_szb")
        >= F.ceil(F.lit(threshold) * F.greatest("_sza", "_szb") - F.lit(1e-9))
    ).filter(
        F.lit(1)
        + F.least(
            F.col("_sza") - F.col("_rna"), F.col("_szb") - F.col("_rnb")
        )
        >= alpha
    )
    cand = raw.select("id_a", "id_b").distinct()
    a = docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"), F.col("_sz").alias("_sza"))
    b = docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"), F.col("_sz").alias("_szb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _star_edge_checksum(edges: DataFrame) -> tuple:
    """Order-insensitive fingerprint of an edge set: (count, xor of
    per-edge xxhash64 — overflow-free under ANSI) — one tiny agg job,
    no collect of edges."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ).first()
    return (row["n"], row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node connects its strictly
    larger neighbors to the minimum of its closed neighborhood."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = F.least(F.col("_mn"), F.col("src"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small; every node connects
    its (smaller) neighbors — and itself — to the neighborhood minimum."""
    pointed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = pointed.groupBy("src").agg(F.min("dst").alias("_mn"))
    rewired = (
        pointed.join(mins, "src")
        .filter(F.col("dst") != F.col("_mn"))
        .select(F.col("dst").alias("src"), F.col("_mn").alias("dst"))
    )
    self_links = mins.select("src", F.col("_mn").alias("dst"))
    return rewired.union(self_links).distinct()


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets
    ``cluster_id`` = the smallest doc id reachable through the pair graph
    (its own id for singletons) — the final "assemble duplicate groups"
    step of a dedup pipeline (keep ``min(id)`` per cluster, drop the rest).

    Alternating large-star / small-star contraction (Kiveris et al.,
    SoCC'14) — the 100 TB scale path.  Unlike min-label propagation
    (O(component diameter) rounds), star contraction halves path
    lengths every round and converges in O(log n) rounds on ANY graph —
    a 10M-node chain finishes in ~25 rounds instead of 10M.  Each round
    is a constant number of edge-set shuffles (groupBy min + join +
    distinct per star op); ``localCheckpoint`` truncates lineage so
    round N never replays rounds 1..N-1.

    Convergence = the edge set reached a fixed point (stars pointing at
    component minimums), detected by an order-insensitive (count,
    hash-sum) fingerprint — one scalar agg per round, no edge collect.
    Raises instead of returning partial labels past ``max_iter``.
    """
    edges = (
        pairs.select(F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = _star_edge_checksum(edges)
    converged = prev[0] == 0
    for _ in range(max_iter):
        if converged:
            break
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        cur = _star_edge_checksum(edges)
        converged = cur == prev
        prev = cur
    if not converged:
        raise RuntimeError(f"star contraction did not converge in {max_iter} rounds")
    labels = edges.groupBy("src").agg(F.min("dst").alias("_label"))
    return (
        docs.select(F.col(id_col))
        .join(labels.select(F.col("src").alias(id_col), "_label"), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_label"), F.col(id_col)).alias("cluster_id"),
        )
    )


def canonical_pick(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Keep-BEST-duplicate finisher: given per-document cluster labels
    (``dedup_clusters`` output), elect each cluster's canonical member as
    the one with the highest ``quality_col`` (ties -> smallest id — the
    same deterministic tie-break the rare-category rewrite uses,
    /root/reference/run.py:41-45's argmax-on-sorted convention).

    The min-id representative ``exact_dedup``/``dedup_clusters`` imply is
    the right default when duplicates are byte-identical; for NEAR-dups
    the members differ (truncation, boilerplate, OCR noise) and real
    curation keeps the best copy, not the numerically smallest id —
    this is that step, decoupled from how the clusters were built
    (minhash, simhash, semdedup, ... all produce the same (id, cluster)
    shape).

    Plan: one (id)-keyed join of the label table against the doc-level
    quality projection, then one window on ``cluster_col`` (row_number +
    member count share the sort) — a single exchange over (id, cluster,
    quality) scalars, never the payload column.  Returns
    ``(cluster_id, canonical_id, n_members, canonical_quality)``.
    """
    from pyspark.sql.window import Window

    j = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        docs.select(F.col(id_col), F.col(quality_col)), id_col
    )
    wspec = Window.partitionBy(cluster_col)
    ordered = wspec.orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
    return (
        j.select(
            F.col(cluster_col),
            F.col(id_col),
            F.col(quality_col),
            F.row_number().over(ordered).alias("_rn"),
            F.count(F.lit(1)).over(wspec).alias("n_members"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            cluster_col,
            F.col(id_col).alias("canonical_id"),
            F.col("n_members"),
            F.col(quality_col).alias("canonical_quality"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 40,
    max_dist: int = 10,
) -> DataFrame:
    """Edit-distance near-dup candidates: self-join within
    ``bucket_cols`` buckets (never all-pairs), verified by levenshtein
    over a ``prefix_len`` prefix capped at ``max_dist``.

    Scale: the bucket join bounds candidate pairs exactly like the
    MinHash/SimHash band joins; levenshtein's O(m*n) DP runs on bounded
    prefixes only.  Use the fingerprint/minhash families first and this
    as the high-precision verifier on their candidates.
    """
    a = df.select(
        *bucket_cols,
        F.col(id_col).alias("id_a"),
        F.substring(F.col(text_col), 1, prefix_len).alias("txt_a"),
    )
    b = df.select(
        *bucket_cols,
        F.col(id_col).alias("id_b"),
        F.substring(F.col(text_col), 1, prefix_len).alias("txt_b"),
    )
    return (
        a.join(b, bucket_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("txt_a", "txt_b"))
        .filter(F.col("edit_dist") <= max_dist)
        .select(*bucket_cols, "id_a", "id_b", "edit_dist")
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict | None = None,
    denom: int = 100,
) -> DataFrame:
    """Near-dup-leakage-safe train/val/test assignment: every document in
    a near-dup cluster lands in the SAME split.

    Splitting documents independently puts near-duplicates of training
    docs into the eval split — the classic train/test contamination bug
    benchmark dedup papers warn about.  Here the split is a deterministic
    function of ``cluster_id`` (= min reachable id through the near-dup
    pair graph, ``dedup_clusters``), so a cluster moves atomically;
    singletons split by their own id as before.

    Returns docs + (cluster_id, split).  One label-propagation pass plus
    one modulo projection — the same id-predicate portability/pushdown
    properties as ``filtering.modulo_split``.
    """
    from .filtering import modulo_split

    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    clusters = dedup_clusters(docs.select(id_col), pairs, id_col=id_col)
    assigned = modulo_split(clusters, weights, id_col="cluster_id", denom=denom)
    return docs.join(assigned, id_col)


def _md5_bit_words(h: Column) -> tuple[Column, Column]:
    """Parse the first 16 hex digits of an md5 string ONCE into two
    unsigned-32-bit longs, so the 64 per-bit probes below become single
    shift+mask ops instead of 64 substring+instr string scans per row
    (r10 guide §1.2 per-task work: measured 1.9 -> 0.9 s on the idf
    signature aggregate at zipf0.1).  Bit semantics are unchanged from
    the historical per-digit form: bit ``j*4 + k`` = bit k of hex digit
    j, digits indexed from the LEFT of the hex string — digit j sits at
    nibble ``7-j`` of the first word (j < 8) / ``15-j`` of the second."""
    w1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    w2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return w1, w2


def _md5_bit(w1: Column, w2: Column, p: int) -> Column:
    """Bit ``p`` (0..63) of the parsed md5 words as a 0/1 long."""
    j, k = divmod(p, 4)
    if j < 8:
        return F.shiftright(w1, 4 * (7 - j) + k).bitwiseAND(F.lit(1))
    return F.shiftright(w2, 4 * (15 - j) + k).bitwiseAND(F.lit(1))


def simhash_md5_chunks(
    df: DataFrame, id_col: str, text_col: str, chunks: int = 4
) -> DataFrame:
    """Cross-engine-certifiable SimHash: per-token hash bits come from
    the HEX DIGITS of ``md5(token)`` (bit ``j*4 + k`` = bit k of hex
    digit j; the digest's first 16 hex chars are parsed ONCE into two
    32-bit words via ``conv(.., 16, 10)`` and each bit probed with
    shiftright+mask — ``_md5_bit_words``; every word value stays < 2^32,
    bit semantics pinned bit-for-bit against the historical per-digit
    ``instr`` form by tests/test_r10_opt.py), so the whole signature is
    replayable in any engine with md5 (`dd_simhash_md5`), the same
    rationale as `minhash_md5_band_table` vs the xxhash64 default.

    Emits the signature as ``chunks`` 16-bit integers (the pigeonhole
    keys) instead of one signed 64-bit word — small positive ints avoid
    sign/overflow dialect differences entirely.  One explode + one
    64-sum groupBy (map-side partials), codegen throughout.
    Returns (_id, sig: array<int> of length ``chunks``).
    """
    from functools import reduce as _reduce

    bits_per = 64 // chunks
    _hw1, _hw2 = _md5_bit_words(F.md5("_t"))
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("_t"),
        )
        .filter(F.col("_t") != "")
        # parse the digest into two bit words ONCE per row; the 64 vote
        # probes below are then shift+mask (see _md5_bit_words)
        .select("_id", _hw1.alias("_w1"), _hw2.alias("_w2"))
    )

    def bit(p: int):
        return _md5_bit(F.col("_w1"), F.col("_w2"), p)

    votes = [
        F.sum(F.when(bit(p) == 1, 1).otherwise(-1)).alias(f"_v{p}") for p in range(64)
    ]
    ckeys = [
        _reduce(
            lambda x, y: x + y,
            [
                F.when(F.col(f"_v{c * bits_per + k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
                for k in range(bits_per)
            ],
        ).cast("int")
        for c in range(chunks)
    ]
    return toks.groupBy("_id").agg(*votes).select(
        "_id", F.array(*ckeys).alias("sig")
    )


def simhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    chunks: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """`simhash_near_pairs` with the md5 hash family: chunk-pigeonhole
    candidates + in-bucket hamming verify (bit_count over xor'd 16-bit
    chunks), the same one-lineage bucket-grouping shape — and bitwise
    replayable by the DuckDB oracle."""
    sig = simhash_md5_chunks(df, id_col, text_col, chunks)
    chunked = sig.select(
        "_id", "sig", F.posexplode("sig").alias("chunk", "ckey")
    )
    buckets = (
        chunked.groupBy("chunk", "ckey")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "sig"))).alias("_m"))
        .filter(F.size("_m") > 1)
    )

    def mk_pair(x, y):
        return F.struct(
            x["_id"].alias("id_a"),
            y["_id"].alias("id_b"),
            x["sig"].alias("sig_a"),
            y["sig"].alias("sig_b"),
        )

    all_pairs = F.flatten(
        F.transform(
            F.col("_m"),
            lambda x, i: F.transform(
                F.slice(F.col("_m"), i + 2, F.size(F.col("_m"))), lambda y: mk_pair(x, y)
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(F.col("_m"), 2, F.size(F.col("_m"))),
        lambda y: mk_pair(F.element_at(F.col("_m"), 1), y),
    )
    pair_structs = F.when(F.size("_m") > max_bucket_size, star_pairs).otherwise(all_pairs)
    ham = F.aggregate(
        F.zip_with(
            F.col("_p.sig_a"),
            F.col("_p.sig_b"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("int"),
        ),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select(
            F.col("_p.id_a").alias("id_a"),
            F.col("_p.id_b").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_idf_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunks: int = 8,
    quant: int = 1_000_000,
    max_distinct_dfs: int = 2_000_000,
) -> DataFrame:
    """IDF-weighted SimHash signatures (Charikar STOC'02 with the tf-idf
    feature weights the original formulation assumes; Manku et al.
    WWW'07 §3).  UNWEIGHTED unigram SimHash saturates on zipfian text:
    every document's signature is dominated by the shared high-frequency
    tokens, so random pairs land within small hamming radii (measured on
    the zipf0.1 fixture: 878k pairs at hamming<=16, 48k at <=3, vs 500
    planted near-dups).  Weighting each token's +/-1 bit votes by
    ``tf * floor(ln(N/df) * quant)`` de-weights stopword-grade tokens to
    ~0 and lets the discriminative mid/rare vocabulary set the bits —
    measured on the same fixture: ZERO random pairs at every radius
    <= 11, planted recall 72%@7 / 95%@11.

    Determinism contract: the idf is an INTEGER weight from the repo's
    exact-libm pattern (cf. ``text.tfidf(exact_idf=True)``): the
    (df -> weight) table is built driver-side from the DISTINCT df
    values only (bounded by ``max_distinct_dfs``, raises past it) with
    ``math.floor(math.log(N/df) * quant)`` and broadcast — ``floor``
    (never ``round``: Python banker's vs SQL half-away) makes the
    quantization unambiguous, and all downstream vote sums are pure
    int64 — order-insensitive, partitioning-invariant, and replayable
    bitwise by a DuckDB oracle sharing the libm.

    Each token's 64 signature bits come from the hex digits of
    ``md5(token)`` (pure integer extraction — the cross-engine family,
    same rationale as ``simhash_md5_chunks``).

    Emits (_id, sig: array<int> of length ``chunks``) — the signature as
    ``chunks`` ``64/chunks``-bit pigeonhole keys.  Plan: one (id, term)
    tf aggregation, one term-keyed df aggregation + join, one broadcast
    idf join, one 64-sum groupBy — all linear, map-side-combinable.
    """
    import math
    from functools import reduce as _reduce

    if 64 % chunks:
        raise ValueError(f"chunks must divide 64, got {chunks}")
    bits_per = 64 // chunks

    terms = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("_t"),
    ).filter(F.col("_t") != "")
    tf = (
        terms.groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .localCheckpoint(eager=True)  # feeds df_t, the distinct-df collect, and scoring
    )
    # AQE sizes post-shuffle partitions by BYTES, so at gate/bench scale
    # the tf table pins at 1-2 partitions — and with it every downstream
    # stage that runs at the checkpoint's partitioning, above all the
    # 64-sum vote partial aggregate (r11 stage audit on zipf0.1: the
    # whole scoring job ran single-task).  Re-spread the pinned table
    # across the cluster ONLY when it materialized below cluster width;
    # at real scale the tf shuffle already yields >= parallelism
    # partitions and this branch never fires, so no extra exchange is
    # paid where it would hurt (keyed by _id: pre-clusters the vote
    # groupBy; values are int sums — partitioning-invariant bitwise).
    # When it fires, its second eager localCheckpoint materializes tf a
    # second time (shuffle + block-manager write of the whole table), so
    # the head runs one more job on hosts whose parallelism exceeds the
    # pinned partition count than on hosts where it does not.
    _sc = df.sparkSession.sparkContext
    if tf.rdd.getNumPartitions() < _sc.defaultParallelism:
        tf = tf.repartition(_sc.defaultParallelism, "_id").localCheckpoint(eager=True)
    df_t = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = float(df.count())
    dfs = [
        r[0] for r in df_t.select("_df").distinct().limit(max_distinct_dfs + 1).collect()
    ]
    if len(dfs) > max_distinct_dfs:
        raise ValueError(
            f"simhash_idf_chunks: more than {max_distinct_dfs} distinct "
            "document-frequency values — the exact-libm idf table would not "
            "be driver-bounded; raise max_distinct_dfs."
        )
    idf = df.sparkSession.createDataFrame(
        [(d, int(math.floor(math.log(n_docs / d) * quant))) for d in dfs],
        "_df bigint, _wq bigint",
    )
    # the per-token hash depends only on the TERM, so it rides the df_t
    # side of the existing tf-join: one hash (+bit-word parse) per
    # DISTINCT term instead of per (doc, term) row — on zipfian text
    # that is a vocab-vs-corpus reduction (~20k vs ~400k rows at
    # zipf0.1) with no new exchange (r10 guide §1.2 per-task work;
    # values identical, term-functional)
    _hw1, _hw2 = _md5_bit_words(F.md5("_t"))
    # parse the digest into two bit words ONCE per distinct term;
    # the 64 vote probes are then shift+mask (see _md5_bit_words)
    df_t = df_t.select("_t", "_df", _hw1.alias("_w1"), _hw2.alias("_w2"))
    # df_t is the DISTINCT-TERM table — vocab-sized, and this
    # operator's own determinism contract already driver-bounds the
    # vocabulary statistics (the distinct-df collect above).  The
    # planner cannot see that: both join sides are RDD-backed after
    # the checkpoint, and its estimate picked the CORPUS side as the
    # broadcast build (r11 SQL-metrics audit on zipf0.1: a 383k-row
    # tf broadcast per consumer; scoring exec 2.5 s -> 1.5 s with
    # the hint).  Guide §3.1: hint the side we KNOW is small.
    hashed = (
        tf.join(F.broadcast(df_t), "_t")
        .join(F.broadcast(idf), "_df")
        .select("_id", (F.col("_tf") * F.col("_wq")).alias("_w"), "_w1", "_w2")
    )

    def bit(p: int):
        return _md5_bit(F.col("_w1"), F.col("_w2"), p)

    votes = [
        F.sum(F.when(bit(p) == 1, F.col("_w")).otherwise(-F.col("_w"))).alias(f"_v{p}")
        for p in range(64)
    ]
    ckeys = [
        _reduce(
            lambda x, y: x + y,
            [
                F.when(F.col(f"_v{c * bits_per + k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
                for k in range(bits_per)
            ],
        ).cast("int")
        for c in range(chunks)
    ]
    return hashed.groupBy("_id").agg(*votes).select("_id", F.array(*ckeys).alias("sig"))


def simhash_idf_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 7,
    chunks: int = 8,
    max_bucket_size: int = 1000,
    quant: int = 1_000_000,
) -> DataFrame:
    """Near-dup pairs on the IDF-weighted SimHash: chunk-pigeonhole
    candidates + in-bucket hamming verify — the `simhash_md5_pairs`
    bucket-grouping shape over `simhash_idf_chunks` signatures.

    The DEFAULT (chunks=8 x 8-bit keys, max_hamming=7) is pigeonhole-
    COMPLETE: 7 differing bits cannot touch all 8 chunks, so every pair
    within the radius shares at least one exact chunk — candidates are
    guaranteed, not heuristic (the unweighted head's chunks=4 @ h=16 is
    a recall heuristic).  With idf weights the radius is discriminative
    on realistic corpora: on the zipf fixtures hamming<=7 admits zero
    non-planted pairs (see `simhash_idf_chunks`).  Returns
    (id_a, id_b, hamming).
    """
    sig = simhash_idf_chunks(df, id_col, text_col, chunks=chunks, quant=quant)
    chunked = sig.select("_id", "sig", F.posexplode("sig").alias("chunk", "ckey"))
    buckets = (
        chunked.groupBy("chunk", "ckey")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "sig"))).alias("_m"))
        .filter(F.size("_m") > 1)
    )

    def mk_pair(x, y):
        return F.struct(
            x["_id"].alias("id_a"),
            y["_id"].alias("id_b"),
            x["sig"].alias("sig_a"),
            y["sig"].alias("sig_b"),
        )

    all_pairs = F.flatten(
        F.transform(
            F.col("_m"),
            lambda x, i: F.transform(
                F.slice(F.col("_m"), i + 2, F.size(F.col("_m"))), lambda y: mk_pair(x, y)
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(F.col("_m"), 2, F.size(F.col("_m"))),
        lambda y: mk_pair(F.element_at(F.col("_m"), 1), y),
    )
    pair_structs = F.when(F.size("_m") > max_bucket_size, star_pairs).otherwise(all_pairs)
    ham = F.aggregate(
        F.zip_with(
            F.col("_p.sig_a"),
            F.col("_p.sig_b"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("int"),
        ),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select(
            F.col("_p.id_a").alias("id_a"),
            F.col("_p.id_b").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def substring_dedup(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 5,
) -> DataFrame:
    """Exact duplicated-substring removal at window granularity (the
    semantics of suffix-array training-data dedup, Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    length-W token window whose exact text occurs at MORE than one
    (doc, position) site in the corpus is deleted from every site except
    the canonical first (smallest ``(doc_id, position)``); surviving
    tokens reassemble in original order.  Overlapping duplicate windows
    union into one removed span, so long copied passages vanish wholesale
    while their first occurrence survives intact.

    Distributed shape: one row per overlapping window (md5 of the
    space-joined W tokens — the cross-engine hash family, see
    ``minhash_md5_band_table``), one shuffle on the window hash for the
    duplicate ranking, one shuffle back on ``doc_col`` for span
    reassembly.  Window enumeration is a JVM-side ``transform`` over a
    ``sequence`` — linear fan-out, no Python, no self-join; at 100 TB
    total window rows = total corpus tokens, the same linear budget the
    suffix-array construction pays.  Returns
    ``(doc_col, text_dedup, n_removed)``.
    """
    W = window_tokens
    toks = F.split(F.col(text_col), " ")
    base = df.select(doc_col, toks.alias("_t"), F.size(toks).alias("_n"))
    starts = F.when(
        F.col("_n") >= W, F.sequence(F.lit(1), F.col("_n") - (W - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        doc_col,
        F.explode(starts).alias("p"),
        F.col("_t"),
    ).select(
        doc_col,
        "p",
        F.md5(F.array_join(F.slice(F.col("_t"), F.col("p"), W), " ")).alias("h"),
    )
    wspec = Window.partitionBy("h").orderBy(doc_col, "p")
    flagged = (
        wins.withColumn("rn", F.row_number().over(wspec))
        .filter(F.col("rn") >= 2)
        .groupBy(doc_col)
        .agg(F.sort_array(F.collect_list("p")).alias("_flags"))
    )
    covered = F.array_distinct(
        F.flatten(F.transform(F.col("_flags"), lambda s: F.sequence(s, s + (W - 1))))
    )
    return (
        base.join(flagged, on=doc_col, how="left")
        .withColumn("_cov", F.coalesce(covered, F.array().cast("array<int>")))
        .select(
            doc_col,
            F.array_join(
                F.filter("_t", lambda t, i: ~F.array_contains(F.col("_cov"), i + 1)),
                " ",
            ).alias("text_dedup"),
            F.size("_cov").cast("bigint").alias("n_removed"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT directed n-gram containment ``C(A -> B) = |A ∩ B| / |A|``
    for every ordered pair with ``C >= threshold`` — the quote / subset
    detector Jaccard misses: a short document fully embedded in a long
    one has low Jaccard (union is large) but containment 1.0.  Standard
    corpus-curation pass for finding excerpts, boilerplate inclusions,
    and cross-document quotations before near-dup clustering.

    Scale path (containment variant of the Bayardo AllPairs prefix
    filter, WWW'07): a doc A contained >= t in ANY B shares at least
    ``ceil(t*|A|)`` of its shingles with B, so at least one of A's
    ``|A| - ceil(t*|A|) + 1`` globally-rarest shingles is shared —
    only that prefix is probed against the posting index, and the
    rarity order (document frequency asc) makes the probed posting
    lists exactly the short ones.  Unlike symmetric Jaccard, the
    CONTAINER side has no size bound, so the probe joins against the
    full posting table — the prefix filter prunes the probing side
    only; stopword-grade postings are still skipped because A's rare
    prefix seldom lands on them.  Candidates verify with a full set
    intersection, so output is identical to the naive quadratic path
    (the brute-force ``reference_shingle_pairs`` in
    tests/test_datapipe.py).

    A position filter (PPJoin, Xiao et al., WWW'08, containment form —
    VERDICT r6 item 4) prunes each probe-vs-posting match before the
    distinct + verify join: with ``alpha = ceil(t·|A|)`` (epsilon-
    guarded, :func:`_containment_alpha`), a qualifying pair needs
    ``|B| >= alpha`` (overlap fits in B) and, at a shared token ranked
    ``(i, j)`` in the common rarity order, ``1 + min(|A|-i, |B|-j) >=
    alpha`` (later common tokens rank later in both docs).  The globally
    first common token of a qualifying pair is inside A's prefix and
    satisfies the bound with the true overlap, so ANY-semantics pruning
    keeps the verified output identical (differential test).  Costs one
    rarity rank on the posting side — computed once and pinned, shared
    with the probe branch.

    Returns ``(id_a, id_b, containment)`` with id_a the contained doc.
    """
    docs = df.select(
        F.col(id_col).alias("_id"), word_shingles(text_col, n).alias("_sh")
    ).withColumn("_sz", F.size("_sh"))
    # the shingle-array table feeds five plan branches (df frequency,
    # prefix probe, posting side, both verify sides) — pin it once so
    # the corpus scan + per-doc shingling doesn't replay per branch
    # (audited: 5 FileScans without the checkpoint, 0 after the first
    # materialization; lazy so plain plan construction stays job-free)
    docs = docs.localCheckpoint(eager=False)
    sh = docs.select("_id", "_sz", F.explode("_sh").alias("_s"))
    dfreq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_s").asc())
    # one rarity rank feeds BOTH the probe prefix and the position-
    # filtered posting side — pin it lazily so the window shuffle runs
    # once, not per branch
    ranked = (
        sh.join(dfreq, "_s")
        .withColumn("_rn", F.row_number().over(w))
        .select("_id", "_sz", "_s", "_rn")
        .localCheckpoint(eager=False)
    )
    probe = ranked.filter(
        F.col("_rn") <= _prefix_keep(threshold, F.col("_sz"))
    ).select(
        F.col("_id").alias("id_a"), "_s",
        F.col("_rn").alias("_rna"), F.col("_sz").alias("_sza"),
    )
    posting = ranked.select(
        F.col("_id").alias("id_b"), "_s",
        F.col("_rn").alias("_rnb"), F.col("_sz").alias("_szb"),
    )
    alpha = _containment_alpha(threshold, F.col("_sza"))
    raw = (
        probe.join(posting, "_s")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.col("_szb") >= alpha)
        .filter(
            F.lit(1)
            + F.least(
                F.col("_sza") - F.col("_rna"),
                F.col("_szb") - F.col("_rnb"),
            )
            >= alpha
        )
    )
    cand = raw.select("id_a", "id_b").distinct()
    a = docs.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"), F.col("_sz").alias("_sza")
    )
    b = docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("_sha", "_shb")) / F.col("_sza"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def softdedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, assign
    each document the sampling weight ``1 / |its duplicate cluster|`` so
    a weighted training sampler sees every duplicate GROUP with equal
    total mass — the down-weighting alternative to hard dedup (preserves
    within-group variation; total corpus mass = number of distinct
    groups).  Feed the weights to ``filtering.weighted_sample`` or an
    epoch sampler.

    Composes :func:`dedup_clusters` (large-star/small-star connected
    components) with ONE cluster-keyed window: the unbounded
    ``count over (partition by cluster_id)`` rides the same exchange
    that a size aggregate + join-back would need TWICE (agg shuffle +
    co-keyed join leg) — labels shuffle once, sizes never materialize
    as a second table (r8 rewrite; output identical, count is
    order-insensitive).  The bigint/bigint double division is bitwise
    cross-engine.

    Returns ``(id_col, cluster_id, cluster_size, weight)``.
    """
    from pyspark.sql.window import Window

    labels = dedup_clusters(docs, pairs, id_col=id_col, id_a=id_a, id_b=id_b)
    size = (
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("bigint")
    )
    return labels.select(
        id_col,
        "cluster_id",
        size.alias("cluster_size"),
        (F.lit(1.0) / size.cast("double")).alias("weight"),
    )
