"""Two-scale scaling probe for the headline suite.

Runs every ``bench.HEADLINE`` query (or an explicit subset) at two SF
directories with the bench's min-of-N discipline and prints a markdown
ratio table plus a super-linear flag list — the reproducible version of
the sf0.1 -> sf1 measurements recorded in BASELINE.md.

Usage:
    PYTHONPATH=/root/repo python tools/scale_probe.py \
        [--base /root/testdata/sf0.1] [--big /root/repo/.benchdata/sf1] \
        [--reps 3] [--flag 12.0] [names...]

Generate the big directory first if absent:
    python tools/gen_scale.py --src /root/testdata/sf0.1 \
        --dst /root/repo/.benchdata/sf1 --k 10
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run(names: list[str], sf_dir: str, reps: int) -> dict[str, float]:
    from vtb_datafusion_2023_spark.session import codegen_compiles, get_spark
    from vtb_datafusion_2023_spark.suite import queries

    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    out: dict[str, float] = {}
    for name in names:
        best = float("inf")
        compiled = [codegen_compiles(spark)[0]]
        for _ in range(reps):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            compiled.append(codegen_compiles(spark)[0])
        out[name] = round(best, 3)
        gc.collect()
        print(f"  {sf_dir.rsplit('/', 1)[-1]} {name}: {out[name]}s, codegen compiles "
              f"first rep {compiled[1] - compiled[0]}, later reps {compiled[-1] - compiled[1]}",
              file=sys.stderr)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/root/repo/.benchdata/sf1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--flag", type=float, default=12.0,
                    help="ratio above which a head is flagged super-linear")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)
    if not os.path.isdir(args.big):
        print(f"--big dir {args.big} missing — run tools/gen_scale.py first",
              file=sys.stderr)
        return 2
    from gen_scale import stale_layouts

    stale = stale_layouts(args.big)
    if stale:
        print(f"--big dir {args.big} has row groups larger than gen_scale's "
              f"ROW_GROUP_OVERRIDE {stale}: its scans would cap at a few tasks — "
              f"regenerate it with tools/gen_scale.py", file=sys.stderr)
        return 2

    import bench
    from vtb_datafusion_2023_spark.suite import queries

    names = args.names or list(bench.HEADLINE)
    # fixture-override heads (bench.SF_OVERRIDE) read a purpose-built
    # corpus, not the --base/--big dirs — running them here would time
    # the degenerate word-soup artifact their override exists to avoid.
    # Probe them separately with scale-matched fixture dirs, e.g.:
    #   gen_zipf.py --dst .benchdata/zipf1 --docs 50000
    #   scale_probe.py --base .benchdata/zipf0.1 --big .benchdata/zipf1 \
    #       dd_ngram_jaccard dd_containment
    skipped = [n for n in names if n in getattr(bench, "SF_OVERRIDE", {})
               and n not in (args.names or [])]
    if skipped:
        print(f"skipping fixture-override heads (probe with matching "
              f"fixture dirs instead): {skipped}", file=sys.stderr)
        names = [n for n in names if n not in skipped]
    unknown = [n for n in names if n not in queries()]
    if unknown:  # fail BEFORE minutes of measurements, not mid-run
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    base = run(names, args.base, args.reps)
    big = run(names, args.big, args.reps)

    rows = sorted(
        ((n, base[n], big[n], big[n] / base[n] if base[n] else float("inf"))
         for n in names),
        key=lambda r: -r[3],
    )
    print(f"\nwall: base {sum(base.values()):.1f}s, big {sum(big.values()):.1f}s "
          f"({sum(big.values()) / max(sum(base.values()), 1e-9):.1f}x)")
    print("\n| query | base s | big s | ratio |")
    print("|---|---|---|---|")
    for n, a, b, r in rows:
        print(f"| {n} | {a} | {b} | {r:.1f}x |")
    flagged = [n for n, _, _, r in rows if r > args.flag]
    print(f"\nsuper-linear (> {args.flag}x): {flagged or 'none'}")
    # exit 1 on flags so CI-style callers can gate on it; the caller
    # decides whether a flag is workload-quadratic (e.g. planted
    # near-dup pairs) or a real plan regression
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
