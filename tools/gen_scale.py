"""Scale-up generator for larger-SF bench runs.

Builds an sfN directory from the driver's sf0.1 testdata by unioning K
key-shifted copies of each fact table (dimension tables nation/region
stay fixed, like TPC-H).  Key domains shift consistently across tables
(copy i adds ``i * (max_key + 1)`` to every occurrence of the key), so
referential integrity, join fan-outs, and per-group sizes are preserved:
K x the groups, same distribution per group — the same scaling a real
SF bump produces.

Document text gets a per-copy prefix token so the dedup family sees
NEAR-duplicates across copies (a harder, more realistic workload than
exact clones); embeddings keep their vectors (corpus grows K x).

Usage:
    python tools/gen_scale.py --src /root/testdata/sf0.1 \
        --dst /root/repo/.benchdata/sf1 --k 10
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb

# (table, [key columns to shift], text perturb column or None)
PLAN = [
    ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"], None),
    ("orders", ["o_orderkey", "o_custkey"], None),
    ("customer", ["c_custkey"], None),
    ("supplier", ["s_suppkey"], None),
    ("part", ["p_partkey"], None),
    ("events", ["event_id", "user_id"], None),
    ("documents", ["doc_id"], "text"),
    ("embeddings", ["vec_id"], None),
    ("nation", [], None),  # dimensions: copied once
    ("region", [], None),
]

# Parquet scans split at ROW-GROUP granularity (a byte-range split only
# reads row groups whose start offset falls inside it), so a table whose
# per-row downstream compute is heavy needs many small row groups or its
# scan stage caps at num_row_groups tasks regardless of core count —
# the r10 zipf-fixture lesson (gen_zipf _ROW_GROUP_SIZE), rediscovered
# at sf10 in r11: duckdb's default ~123k-row groups left the 500k-doc
# documents.parquet at FIVE row groups, capping every scan+tokenize
# stage at 5 tasks (text_tfidf read FLAT 8-core vs 32-core because of
# it).  Relational tables keep the default (they get hundreds of groups
# at these scales and their per-row work is light).
ROW_GROUP_OVERRIDE = {"documents": 4096, "embeddings": 16384}
# DuckDB closes a row group on the first 2048-row vector that reaches the
# requested size, so a fresh file's groups run up to one vector over it.
DUCKDB_VECTOR_ROWS = 2048


def stale_layouts(sf_dir: str) -> dict[str, int]:
    """Override tables in ``sf_dir`` whose first row group is larger than
    ``ROW_GROUP_OVERRIDE`` allows, as {table: rows in row group 0}.

    A fixture written before the override (duckdb's default ~123k-row
    groups) keeps the few-task scan cap the override removes; like
    gen_zipf.ensure(), callers regenerate or refuse such a directory
    instead of measuring it."""
    import pyarrow.parquet as pq

    stale = {}
    for table, rows in ROW_GROUP_OVERRIDE.items():
        path = os.path.join(sf_dir, f"{table}.parquet")
        if not os.path.exists(path):
            continue
        meta = pq.ParquetFile(path).metadata
        if meta.num_row_groups and meta.row_group(0).num_rows > rows + DUCKDB_VECTOR_ROWS:
            stale[table] = meta.row_group(0).num_rows
    return stale

# key domains shared across tables must shift by the SAME stride
DOMAIN_OF = {
    "l_orderkey": "orderkey", "o_orderkey": "orderkey",
    "l_partkey": "partkey", "p_partkey": "partkey",
    "l_suppkey": "suppkey", "s_suppkey": "suppkey",
    "o_custkey": "custkey", "c_custkey": "custkey",
    "event_id": "event_id", "user_id": "user_id",
    "doc_id": "doc_id", "vec_id": "vec_id",
}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--perturb",
        choices=["near", "strong"],
        default="near",
        help="'near': prefix token only (copies are near-duplicates — "
        "dedup workload density grows with k); 'strong': per-copy token "
        "woven into every word (copies are distinct docs — isolates "
        "corpus-size scaling from duplicate-density scaling)",
    )
    args = ap.parse_args(argv)
    os.makedirs(args.dst, exist_ok=True)
    stale = stale_layouts(args.dst)
    if stale:
        print(f"gen_scale: stale row-group layout in {args.dst} {stale} — regenerating",
              file=sys.stderr)
    con = duckdb.connect()

    # stride per key domain = max over every table that carries it, + 1
    strides: dict[str, int] = {}
    for table, keys, _ in PLAN:
        for key in keys:
            mx = con.execute(
                f"select max({key}) from '{args.src}/{table}.parquet'"
            ).fetchone()[0]
            d = DOMAIN_OF[key]
            strides[d] = max(strides.get(d, 0), int(mx) + 1)

    for table, keys, text_col in PLAN:
        src = f"'{args.src}/{table}.parquet'"
        dst = os.path.join(args.dst, f"{table}.parquet")
        rg = ROW_GROUP_OVERRIDE.get(table)
        fmt = f"(format parquet{f', row_group_size {rg}' if rg else ''})"
        if not keys:
            con.execute(f"copy (select * from {src}) to '{dst}' {fmt}")
            continue
        cols = [c[0] for c in con.execute(f"describe select * from {src}").fetchall()]
        selects = []
        for i in range(args.k):
            proj = []
            for c in cols:
                if c in keys:
                    proj.append(f"{c} + {i * strides[DOMAIN_OF[c]]} as {c}")
                elif c == text_col and i > 0:
                    if args.perturb == "near":
                        proj.append(f"('v{i} ' || {c}) as {c}")
                    else:  # strong: every word tagged -> all shingles differ
                        proj.append(f"replace({c}, ' ', ' v{i}') as {c}")
                else:
                    proj.append(c)
            selects.append(f"select {', '.join(proj)} from {src}")
        union = "\nunion all\n".join(selects)
        con.execute(f"copy ({union}) to '{dst}' {fmt}")
        n = con.execute(f"select count(*) from '{dst}'").fetchone()[0]
        print(f"{table}: {n} rows")
    stale = stale_layouts(args.dst)
    if stale:
        raise SystemExit(f"gen_scale: wrote row groups larger than ROW_GROUP_OVERRIDE: {stale}")


if __name__ == "__main__":
    main()
