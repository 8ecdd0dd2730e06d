"""Differential pins for the SQL-text pivot expressions.

``operators.pivots.pivot_exprs`` builds its conditional aggregates as SQL
text.  ``reference_pivot_exprs`` below is the Column-API body it replaced;
every test here runs both and asserts the same column names, dtypes and
values bit for bit.  ``test_branch_c_fused_matches_blocks_bitwise`` in
test_plans.py cannot catch a regression in the text form, because both
of its arms call ``pivot_exprs``.
"""

from __future__ import annotations

import datetime as dt
import math
import re
import struct

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from vtb_datafusion_2023_spark.operators import pivots
from vtb_datafusion_2023_spark.plans import features


def dsum(c):
    """Column-API exact sum: a decimal(38,6) sum split into integral and
    fractional parts before the double cast (``sqlgen.dsum_cast``)."""
    s = F.sum(c.cast("decimal(38,6)"))
    return (s - s % 1).cast("decimal(38,0)").cast("double") + (s % 1).cast("double")


def reference_pivot_exprs(pivot_col, vocab, agg="count", value_col=None, prefix=None):
    """Column-API conditional aggregates: one ``F.when`` per vocabulary
    value, counted or summed through ``dsum``."""
    prefix = prefix or f"{pivot_col}_{agg}"
    aggs = []
    for v in vocab:
        cond = F.col(pivot_col) == F.lit(v)
        if agg == "count":
            e = F.count(F.when(cond, 1))
        elif agg == "sum":
            e = dsum(F.when(cond, F.col(value_col)))
        else:
            raise ValueError(f"unsupported agg: {agg}")
        aggs.append(e.alias(f"{prefix}-{v}"))
    return aggs


BIG = 2.0**53
# int32 and int64 edges, negatives, and one value absent from the data
INT_VOCAB = [-(2**31) - 1, -(2**31), -7, 0, 3, 2**31 - 1, 2**31, 2**40, 99]
STR_VOCAB = ["plain", "it's", "back\\slash", "both\\'mixed", "", "tab\tnl\n", "ünï", "absent"]

_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("k", LongType()),
        StructField("k32", IntegerType()),
        StructField("s", StringType()),
        StructField("amt", DoubleType()),
    ]
)


def _rows():
    ks = [v for v in INT_VOCAB if v != 99] + [None, 12345]
    k32s = [v for v in INT_VOCAB if -(2**31) <= v < 2**31 and v != 99] + [None]
    ss = [v for v in STR_VOCAB if v != "absent"] + [None, "other"]
    # sums past 2^53 of both signs, fractions below and at decimal(38,6)
    # resolution, and NULL values
    amts = [3 * BIG, 2 * BIG, 0.75, 123.4567891, -3 * BIG, -2 * BIG, -0.25, None, 1e-7, -1.5]
    rows = []
    for i in range(120):
        rows.append(
            (
                i % 4,
                ks[i % len(ks)],
                k32s[(i * 5) % len(k32s)],
                ss[(i * 3) % len(ss)],
                amts[(i * 7) % len(amts)],
            )
        )
    return rows


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(_rows(), _SCHEMA)


def _bits(v):
    return ("f", struct.pack(">d", v)) if isinstance(v, float) else v


def _assert_bitwise(got, want):
    assert got.dtypes == want.dtypes
    a = [tuple(map(_bits, r)) for r in got.orderBy("user_id").collect()]
    b = [tuple(map(_bits, r)) for r in want.orderBy("user_id").collect()]
    assert len(a) > 0
    assert a == b


def _analyzed(frame):
    """Analyzed plan with expression ids stripped."""
    return re.sub(r"#\d+L?", "", frame._jdf.queryExecution().analyzed().toString())


CASES = [
    ("k", INT_VOCAB, "count", None),
    ("k", INT_VOCAB, "sum", "amt"),
    ("k32", [v for v in INT_VOCAB if -(2**31) <= v < 2**31], "count", None),
    ("k32", [v for v in INT_VOCAB if -(2**31) <= v < 2**31], "sum", "amt"),
    ("s", STR_VOCAB, "count", None),
    ("s", STR_VOCAB, "sum", "amt"),
]


@pytest.mark.parametrize("pivot_col,vocab,agg,value_col", CASES)
def test_pivot_exprs_text_matches_column_api(df, pivot_col, vocab, agg, value_col):
    got = df.groupBy("user_id").agg(*pivots.pivot_exprs(pivot_col, vocab, agg, value_col))
    want = df.groupBy("user_id").agg(*reference_pivot_exprs(pivot_col, vocab, agg, value_col))
    _assert_bitwise(got, want)
    # the text form parses to the same analyzed plan, not merely equal values
    assert _analyzed(got) == _analyzed(want)


def test_sums_cross_2_pow_53_in_both_signs(df):
    """The fixture really exercises the exact-decimal split past 2^53."""
    rows = df.groupBy("user_id").agg(*pivots.pivot_exprs("k", INT_VOCAB, "sum", "amt")).collect()
    sums = [v for r in rows for v in r[1:] if v is not None]
    assert any(v > BIG for v in sums) and any(v < -BIG for v in sums)


@pytest.mark.parametrize("agg,value_col,fill", [("count", None, 0), ("sum", "amt", 0.0)])
def test_pivot_agg_fill_matches_reference(df, monkeypatch, agg, value_col, fill):
    got = pivots.pivot_agg(df, "user_id", "s", STR_VOCAB, agg, value_col, fill=fill)
    monkeypatch.setattr(pivots, "pivot_exprs", reference_pivot_exprs)
    want = pivots.pivot_agg(df, "user_id", "s", STR_VOCAB, agg, value_col, fill=fill)
    _assert_bitwise(got, want)


def _transactions(spark):
    """Six users x 30 rows over a vocabulary with negative and > 2^31
    codes, NULL codes and amounts, and amounts past 2^53."""
    cats = [-(2**31) - 1, -5, 742, 2**31, 5411, None, 6012]
    amts = [BIG, 3 * BIG, -2 * BIG, 10.25, -0.5, None, 7.125, -BIG]
    t0 = dt.datetime(2023, 1, 1, 0, 0, 0)
    rows = []
    for u in range(6):
        for j in range(30):
            i = u * 30 + j
            ts = t0 + dt.timedelta(hours=i * 7 + u, minutes=(i * 13) % 60)
            rows.append((u, cats[(i * 3 + u) % len(cats)], amts[(i * 5) % len(amts)], ts, i))
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("cat", LongType()),
            StructField("amt", DoubleType()),
            StructField("ts", TimestampType()),
            StructField("ord", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_branch_c_fused_matches_reference_pivots(spark, monkeypatch):
    tx = _transactions(spark)
    vocab = [-(2**31) - 1, -5, 742, 2**31, 5411, 8888]
    got = features.branch_c_features(tx, cat_vocab=vocab, trim=2)
    monkeypatch.setattr(features, "pivot_exprs", reference_pivot_exprs)
    want = features.branch_c_features(tx, cat_vocab=vocab, trim=2)
    _assert_bitwise(got, want)
    assert _analyzed(got) == _analyzed(want)
    sums = got.select(*[f"`mcc_sum-{v}`" for v in vocab]).collect()
    assert any(abs(v) > BIG and not math.isnan(v) for r in sums for v in r)
