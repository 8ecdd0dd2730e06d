"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical files, and only the generated files reach the
program under test.  Sizes are fixed per workload, so seeds change the
values, never the row counts that set how much work a pass does.

- ``write_transactions_csv``: the transactions CSV the production CLI
  reads (FIXTURES.md section 1 shape).
- ``write_star_schema``: the star schema the registered suite heads
  read (customer/nation/orders/lineitem/events/documents, same columns
  and physical types as the TESTDATA.md tables).
- ``write_corpus``: the zipfian near-duplicate corpus from
  ``tools/gen_zipf.py`` with its planted pair set.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_YEAR_START = np.datetime64("2022-01-01T00:00:00", "s")
_YEAR_S = 365 * 86400
_CURRENCIES = np.array([48, 50, 60])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window".split()
)
_LANGS = np.array(["en", "en", "zh", "de", "fr", "es"])


def digest(*paths: str) -> str:
    """sha256 over the bytes of ``paths`` (inputs are verified with it)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def _user_sizes(rng: np.random.Generator, users: int, rows: int) -> np.ndarray:
    """Zipf-ish rows per user in [30, 3000] that sum to exactly ``rows``."""
    raw = np.clip(30.0 * (1.0 + rng.pareto(1.2, size=users)), 30, 3000)
    sizes = np.clip(np.floor(raw * rows / raw.sum()), 30, 3000).astype(np.int64)
    short = rows - int(sizes.sum())
    order = np.argsort(-sizes, kind="stable")
    i = 0
    while short != 0:  # hand the rounding residue to the largest users
        u = order[i % users]
        step = 1 if short > 0 else -1
        if 30 <= sizes[u] + step <= 3000:
            sizes[u] += step
            short -= step
        i += 1
    return sizes


def write_transactions_csv(path: str, seed: int, users: int, rows: int, codes: int) -> str:
    """Transactions log: one row per card transaction, in time order.

    Columns ``user_id, mcc_code, currency_rk, transaction_amt,
    transaction_dttm, ord``.  ``codes`` MCC codes with zipf frequencies
    plus the ``-1`` sentinel and the blacklisted ``6012``; signed amounts
    with a heavy tail; one year of timestamps; ``ord`` is the file order.
    """
    rng = np.random.default_rng([seed, 1])
    sizes = _user_sizes(rng, users, rows)
    user_ids = np.repeat(rng.permutation(np.arange(10_000, 10_000 + 7 * users, 7))[:users], sizes)

    vocab = np.sort(rng.choice(np.arange(3000, 9000), size=codes, replace=False))
    vocab = np.concatenate((vocab, [-1, 6012]))
    weights = rng.permutation(1.0 / np.arange(1, len(vocab) + 1) ** 1.1)
    mcc = rng.choice(vocab, size=rows, p=weights / weights.sum())

    debit = rng.random(rows) < 0.8
    base = np.exp(rng.normal(6.0, 1.3, size=rows))
    base *= np.where(rng.random(rows) < 0.01, 50.0, 1.0)  # outliers for winsorization
    amt = np.round(np.where(debit, -base, base), 2)

    secs = rng.integers(0, _YEAR_S, size=rows)
    ts = (_YEAR_START + secs.astype("timedelta64[s]")).astype(str)
    order = np.lexsort((user_ids, secs))
    cur = rng.choice(_CURRENCIES, size=rows, p=[0.9, 0.06, 0.04])

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("user_id,mcc_code,currency_rk,transaction_amt,transaction_dttm,ord\n")
        lines = (
            f"{user_ids[i]},{mcc[i]},{cur[i]},{amt[i]!r},{ts[i].replace('T', ' ')},{k}\n"
            for k, i in enumerate(order)
        )
        f.writelines(lines)
    os.replace(tmp, path)
    return path


def _write(table: dict, path: str) -> str:
    pq.write_table(pa.table(table), path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def write_star_schema(dst: str, seed: int, scale: float) -> list[str]:
    """The suite's star-schema tables at ``scale`` (1.0 = TESTDATA.md's sf1).

    Row counts follow the TESTDATA.md tables (sf0.1: 15k customers, 150k
    orders, 600k lineitems, 100k events over 1.5k users, 5k documents);
    value domains match it too, so every registered head reads the same
    shapes it is certified on.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(dst, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_users, n_docs = int(1_000_000 * scale), int(15_000 * scale), int(50_000 * scale)
    paths = []

    paths.append(_write({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }, os.path.join(dst, "nation.parquet")))

    paths.append(_write({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }, os.path.join(dst, "customer.parquet")))

    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + (rng.integers(0, 2404, n_ord) * 86_400_000_000).astype("timedelta64[us]")
    paths.append(_write({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }, os.path.join(dst, "orders.parquet")))

    lkey = rng.integers(0, n_ord, n_li).astype(np.int64)
    ship = odate[lkey] + (rng.integers(1, 122, n_li) * 86_400_000_000).astype("timedelta64[us]")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    paths.append(_write({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, int(200_000 * scale), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * scale), n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }, os.path.join(dst, "lineitem.parquet")))

    # events: one 30-day stream, distinct microsecond timestamps in id order
    mean_gap = 30 * 86_400_000_000 // n_ev
    ts_us = np.cumsum(1 + rng.integers(0, 2 * mean_gap, n_ev))
    ev_ts = np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")
    paths.append(_write({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, os.path.join(dst, "events.parquet")))

    lengths = rng.integers(5, 61, n_docs)
    words = rng.choice(_WORDS, int(lengths.sum()))
    offs = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_docs)]
    paths.append(_write({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, os.path.join(dst, "documents.parquet")))
    return paths


def load_tool(name: str):
    """Import ``tools/<name>.py`` of the checkout this benchmark sits in."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(os.path.dirname(here), "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_corpus(dst: str, seed: int, docs: int) -> tuple[str, set[tuple[int, int]]]:
    """``tools/gen_zipf.py`` corpus under ``dst``; returns (path, planted pairs).

    Every tenth base document has a planted near-duplicate at
    ``doc_id + PLANTED_OFFSET``; those pairs are the workload's true answer.
    """
    gz = load_tool("gen_zipf")
    os.makedirs(dst, exist_ok=True)
    path = os.path.join(dst, "documents.parquet")
    if os.path.exists(path):
        os.remove(path)  # ensure() keeps an existing file; the seed may differ
    gz.ensure(dst, docs=docs, seed=seed)
    planted = {(i, i + gz.PLANTED_OFFSET) for i in range(0, docs, 10)}
    return path, planted
