"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries execute through the `noop` sink — full computation, no driver
collect, so the timing reflects the distributed plan.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "pipeline_user_profile",
    "clean_transactions_composed",
    "a10_vertical_stats",
    "a11_horizontal_stats",
    "a1_pivot_count",
    "w1_cumsum",
    "f4_positional_trim",
    "j1_join_enrich",
    "dd_minhash_lsh",
    "dd_simhash",
    "dd_exact_dedup",
    "sim_topk_bruteforce",
    "ann_gemm_topk",
    "u6_mapinpandas_inference",
    "agg_time_rollup",
    "sw_session_window",
    "q9_product_profit",
    "q13_order_distribution",
    "tj_asof_join",
    "text_tfidf",
    "u6_catboost_cbm",
    "ann_pq_topk",
    "ann_lsh_pq_topk",
    "mm_decode_png",
    "j6_bloom_prune_join",
    "dd_substring_dedup",
    "gr_triangles",
    "mm_decode_gif",
    "mm_audio_g711",
    "mm_audio_flac",
    "pipeline_corpus_prep",
    "mm_decode_tiff",
    "an_pattern_spans",
    # round-3 additions: the funnel/LM/incremental-dedup/graph heads get
    # recorded baselines the round they ship their scale paths
    "an_funnel",
    "text_surprisal",
    "dd_incremental_md5",
    "gr_pagerank",
    # round-5 additions: the end-to-end run.py-equivalent flagship, the
    # iterative-ML head, and the mergeable-quantile head
    "pipeline_submission",
    "ml_kmeans",
    "agg_incremental_quantiles",
    "dd_semdedup",
    # round-5 session-2 additions: corpus collocation profile, the
    # whitening second-moment aggregate, contrastive negative pairing
    "text_pmi",
    "emb_gram_matrix",
    "dp_negative_sample",
    # round-5 session-3 additions: batch sessionization, LPA communities,
    # raw-frame sampling.  dd_containment / dd_ngram_jaccard stay
    # correctness-only: the raw word-soup corpus makes UNIGRAM
    # containment near-all-pairs at sf0.1 (8.3M directed pairs — a data
    # artifact), so benching them times degenerate output
    # materialization; their benchable twins over the planted-density
    # corpus are below (round 6).
    "an_sessionize",
    "gr_label_propagation",
    "mm_frame_sample",
    "an_rfm_segments",
    "text_keywords",
    "dp_throttle",
    "an_top_paths",
    "emb_drift_means",
    # round-6 additions: the dedup pair operators over the duplicate-
    # density-controlled corpus (VERDICT r5 item 3 / ROADMAP item 6) —
    # trigram shingles + 10% planted near-dups keep candidates linear,
    # so these finally time the AllPairs prefix filter, not a data
    # artifact.
    "dd_containment_planted",
    "dd_jaccard_planted",
    # round-6 session-2 additions: KMV pairwise set-operation estimates
    # and co-purchase k-core peeling
    "sk_kmv_overlap",
    "gr_kcore",
    # round-8 addition: fixed-k weighted sampling (TakeOrderedAndProject
    # shape — times the top-k heap path).  dd_canonical_pick stays
    # correctness-only: its dominant term is the unigram-jaccard pair
    # generation over the word-soup corpus, the same documented data
    # artifact that keeps dd_dedup_clusters out of the bench.
    "dp_priority_sample",
    # round-9 addition (VERDICT r8 item 4): the RAW AllPairs pair heads,
    # benched over the zipfian-vocabulary fixture (tools/gen_zipf.py —
    # heavy-tailed token frequencies + 10% planted near-dups, true
    # answer linear) instead of the degenerate 31-word word-soup corpus.
    # Their correctness gate stays on the driver's own tables; both are
    # additionally oracle-PASS on the zipf fixture itself (FIXTURES.md).
    # The *_planted twins above remain as the control.
    "dd_ngram_jaccard",
    "dd_containment",
    # round-10 additions: second-order series stats (one-exchange lag
    # window + exact-moment aggregate), the mergeable-OLS rollup, the
    # sentence family (shuffle-free segmentation; one-count-window
    # dedup), and the Matryoshka prefix-scan/rerank funnel.
    # an_trend_slope stays correctness-only (plan is a strict subset of
    # agg_incremental_ols: same aggregate without the merge leg).
    "an_autocorr",
    "agg_incremental_ols",
    "text_sentence_split",
    "dd_sentence_dedup",
    "emb_mrl_truncate",
    "ann_mrl_rerank",
    "an_cusum",
    "an_forecast_holt",
    # round-10 session-2 addition (VERDICT r9 item 2): SemDeDup's
    # PRODUCTION configuration — derived k + gemm assignment +
    # grouped-GEMM pairs — so the bench certifies the plan that
    # survives scale, not only the fixed-k oracle replay (dd_semdedup
    # stays as the hash-certified control).
    "dd_semdedup_scaled",
    # round-10 session-2 addition (VERDICT r9 item 5 follow-through):
    # idf-weighted SimHash over the zipf fixture — the simhash family's
    # non-degenerate benchable head (see SF_OVERRIDE note).
    "dd_simhash_idf",
    # round-10 session-3 additions: graph mixing diagnostic,
    # temperature mixing weights, int8 retrieval funnel, and
    # perceptual-hash image dedup over the real PNG codec.
    "gr_assortativity",
    "dp_temperature_mix",
    "ann_int8_rerank",
    "mm_phash_dedup",
    "mm_phash_near_pairs",
    # dedup quality gate on the zipf fixture (see SF_OVERRIDE)
    "dd_lsh_recall_eval",
]

# Per-head sf_dir override: heads whose MAIN-dir input is a documented
# data artifact run against a purpose-built fixture instead (generated
# deterministically on first use — byte-stable across rounds).
_ZIPF_DIR = os.environ.get("SPARK_GRAFT_ZIPF_DIR", os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".benchdata", "zipf0.1"))
SF_OVERRIDE = {
    "dd_ngram_jaccard": _ZIPF_DIR,
    "dd_containment": _ZIPF_DIR,
    # the recall gate is non-degenerate on the planted zipf corpus
    # (recall 0.994 at zipf0.1 vs 1.0 on the 31-word-vocab driver
    # fixture, whose truth pairs are all jaccard~1 and always caught)
    "dd_lsh_recall_eval": _ZIPF_DIR,
    # round-10 (VERDICT r9 item 5): dd_minhash_lsh's headline number
    # also stops carrying the word-soup output artifact (sf10 word-soup
    # produces 27.3M true pairs — 109x output growth for 10x data, so
    # the bench timed degenerate output materialization).  On the
    # zipfian corpus its answer is EXACTLY the planted set (500 pairs at
    # zipf0.1, measured) — linear.  Correctness untouched: rows-only
    # scale path, md5 twin stays oracle-certified on the driver tables.
    # dd_simhash deliberately STAYS on the word-soup corpus: measured on
    # zipf0.1, unweighted simhash at hamming<=16 returns 878k pairs (29%
    # of all pairs — saturated signatures, worse than word-soup's 213k);
    # the zipf-benched simhash story belongs to dd_simhash_idf below,
    # whose idf weighting makes the radius discriminative (planted-only
    # output, measured 0 false positives at <=11).
    "dd_minhash_lsh": _ZIPF_DIR,
    "dd_simhash_idf": _ZIPF_DIR,
}


_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _steal_seconds() -> float:
    """Cumulative hypervisor steal time (seconds) from /proc/stat.  On the
    Firecracker sandbox this accumulates in multi-second jumps during
    bursts (BASELINE.md round-5 protocol section); reading it around each
    rep tells us whether THAT rep's window overlapped a burst."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) / _CLK_TCK
    except (OSError, IndexError, ValueError):  # pragma: no cover - non-linux
        return 0.0


# a rep is burst-contaminated when its window accumulated more steal than
# this floor or than 10% of its own wall time; contaminated reps are
# RE-RUN (up to _MAX_EXTRA extra attempts) instead of silently averaged in
_STEAL_FLOOR_S = 0.25
_MAX_EXTRA = 4

# quiet-window wait: bursts arrive in multi-second clumps, so a rerun
# fired immediately after a contaminated rep often lands inside the SAME
# burst and burns rerun budget for nothing.  Before each rerun, poll
# steal over short windows until a window comes back quiet (or the wait
# budget runs out — never stall the whole bench on a pathological host).
_QUIET_PROBE_S = 0.5
_QUIET_MAX_WAIT_S = 15.0
# Aggregate cap across the whole bench run (ADVICE r7): a persistently
# noisy host could otherwise add up to 15 s x _MAX_EXTRA per head of
# pure sleeping across 59 heads.  Once exhausted, contaminated reps
# rerun immediately — they were going to rerun anyway; the wait only
# improves the odds the rerun lands clean.
_QUIET_GLOBAL_BUDGET_S = 180.0
_quiet_spent_s = 0.0


def _wait_for_quiet_window() -> float:
    """Block until a _QUIET_PROBE_S window accumulates no steal, up to
    _QUIET_MAX_WAIT_S total and a run-wide _QUIET_GLOBAL_BUDGET_S.
    Returns seconds actually waited (0.0 once the global budget is out)."""
    global _quiet_spent_s
    budget_left = _QUIET_GLOBAL_BUDGET_S - _quiet_spent_s
    if budget_left <= 0:
        return 0.0
    waited = 0.0
    while waited < min(_QUIET_MAX_WAIT_S, budget_left):
        s0 = _steal_seconds()
        time.sleep(_QUIET_PROBE_S)
        waited += _QUIET_PROBE_S
        if _steal_seconds() - s0 < 0.02:
            break
    _quiet_spent_s += waited
    return waited


def _bench_query(run, after_rep, base_reps: int = 3) -> tuple[float, bool, int, int]:
    """min over steal-clean reps of ``run()``, calling ``after_rep()``
    outside the timed window of each rep; heads at >= 2 s extend to 5
    clean reps (longer windows carry more burst exposure — VERDICT r5
    item 1).  Sub-second heads get twice the rerun budget: their reps
    are cheap and the 0.25 s steal floor flags them easily during
    sustained-burst windows, so spending a few more retries buys a clean
    measurement where a flagged upper bound would otherwise be recorded.
    Returns (best_sec, clean, n_clean, target): ``clean=False`` means
    every rep overlapped a burst and the min is an upper bound, not a
    measurement; ``n_clean < target`` means the attempt budget ran out
    before the documented rep count — the min is a real measurement but
    carries fewer clean reps than the protocol asks (ADVICE r6: recorded
    as ``short_reps`` in the output instead of silently passing as
    full-protocol clean)."""
    clean: list[float] = []
    dirty: list[float] = []
    attempts = 0
    target = base_reps
    extra = _MAX_EXTRA
    while len(clean) < target and attempts < target + extra:
        attempts += 1
        s0 = _steal_seconds()
        t0 = time.time()
        run()
        elapsed = time.time() - t0
        stolen = _steal_seconds() - s0
        after_rep()
        if elapsed < 1.0:
            extra = 2 * _MAX_EXTRA  # cheap reps: buy more chances at clean
        if stolen > max(_STEAL_FLOOR_S, 0.10 * elapsed):
            dirty.append(elapsed)
            print(
                f"bench:   rep {attempts} contaminated ({stolen:.2f}s steal "
                f"in {elapsed:.2f}s) — rerun",
                file=sys.stderr,
                flush=True,
            )
            waited = _wait_for_quiet_window()
            if waited > _QUIET_PROBE_S:
                print(
                    f"bench:   waited {waited:.1f}s for a quiet window",
                    file=sys.stderr,
                    flush=True,
                )
            continue
        clean.append(elapsed)
        if len(clean) >= base_reps and min(clean) >= 2.0:
            target = max(target, 5)
    if clean:
        return min(clean), True, len(clean), target
    return min(dirty), False, 0, target


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vtb_datafusion_2023_spark.session import codegen_compiles, get_spark
    from vtb_datafusion_2023_spark.suite import queries

    spark = get_spark(app_name="bench")
    qs = queries()

    # warm the JVM, file listing, and parquet footers (harness overhead,
    # not query cost); queries below still plan+execute cold
    spark.range(1).count()
    from vtb_datafusion_2023_spark.sources.readers import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()

    # fixture-override heads: generate the deterministic zipf corpus if
    # absent (seconds, one-time) and warm its footer the same way
    if any(name in SF_OVERRIDE for name in HEADLINE):
        import importlib.util as _ilu

        _spec = _ilu.spec_from_file_location(
            "gen_zipf",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools", "gen_zipf.py"),
        )
        _gz = _ilu.module_from_spec(_spec)
        _spec.loader.exec_module(_gz)
        _gz.ensure(_ZIPF_DIR, docs=5000)
        spark.read.parquet(os.path.join(_ZIPF_DIR, "documents.parquet")).count()

    # min of 3 steal-clean runs per query (5 for >= 2 s heads): the first
    # run pays one-time whole-stage-codegen compilation (~2-4s of Janino
    # per distinct plan), which later runs skip while the JVM's codegen
    # cache holds the plan's classes (get_spark sizes it: at Spark's
    # default 100 entries pipeline_submission recompiled on every rep;
    # the per-head compile counts on stderr flag a head that still does),
    # and this sandbox's hypervisor exhibits
    # multi-second CPU-steal bursts (measured round 5: 5-rep arrays like
    # [0.98, 0.98, 1.33, 1.96, 22.18] on an unchanged query — BASELINE.md)
    # — _bench_query probes /proc/stat steal around each rep and RERUNS
    # burst-overlapped reps, so the recorded min is a clean measurement,
    # not a min-of-N gamble (VERDICT r5 item 1).
    timings: dict[str, float] = {}
    flagged: list[str] = []
    short: dict[str, str] = {}
    for name in HEADLINE:
        # stderr marker so any Spark ERROR lines in the log are
        # attributable to a query (stdout stays one JSON line)
        print(f"bench: {name} @ {time.strftime('%H:%M:%S')}", file=sys.stderr, flush=True)
        q = qs[name]
        q_dir = SF_OVERRIDE.get(name, sf_dir)
        # compile counts only: past ~1k compiles per JVM the ms are estimates
        compiled = [codegen_compiles(spark)[0]]
        best, is_clean, n_clean, rep_target = _bench_query(
            lambda q=q, d=q_dir: q(spark, d).write.format("noop").mode("overwrite").save(),
            lambda: compiled.append(codegen_compiles(spark)[0]),
        )
        print(
            f"bench:   codegen compiles: first rep {compiled[1] - compiled[0]}, "
            f"later {len(compiled) - 2} reps {compiled[-1] - compiled[1]}",
            file=sys.stderr,
            flush=True,
        )
        timings[name] = round(best, 3)
        if not is_clean:
            flagged.append(name)
        elif n_clean < rep_target:
            short[name] = f"{n_clean}/{rep_target}"
        # localCheckpoint block-manager RDDs are only released when their
        # Python DataFrames are garbage-collected (ContextCleaner); with
        # 45 queries in one JVM the accumulation was degrading the
        # checkpoint-heavy tail (dd_incremental_md5 2.9 -> 8.2 s by
        # position 39).  Collect between queries so each runs against a
        # clean block manager — real deployments run one query per job.
        # The JVM side needs the same treatment: ContextCleaner reclaims
        # asynchronously on weak-reference processing, so a
        # checkpoint-heavy head late in the suite can pay the PREVIOUS
        # heads' deferred cleanup inside its own reps (measured r6:
        # agg_incremental_quantiles 2.3 s in-suite with zero steal vs
        # 1.24 s isolated) — one synchronous System.gc() between queries
        # drains the reference queue outside any timed window.
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_suite_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if flagged:
        # every rep of these heads overlapped a steal burst even after
        # reruns: their numbers are upper bounds, not measurements
        out["steal_flagged"] = flagged
    if short:
        # clean measurements that achieved fewer clean reps than the
        # protocol's target before the attempt budget ran out (e.g. a
        # >=2s head that raised its target to 5 mid-loop): the min is
        # real but carries less burst protection than documented
        out["short_reps"] = short
    print(json.dumps(out))


if __name__ == "__main__":
    main()
