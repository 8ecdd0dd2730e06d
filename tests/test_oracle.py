"""Replicates the driver's t2 gate: every suite query vs its DuckDB oracle.

Runs at sf0.001 for speed in the default test loop; `tools/oracle_check.py
--sf /root/testdata/sf0.01` is the pre-commit full-scale check (the driver
compares at sf0.01).
"""

from __future__ import annotations

import pytest

from tools.oracle_check import compare, duck_connect
from vtb_datafusion_2023_spark.suite import REGISTRY, queries
from vtb_datafusion_2023_spark.suite.inference import missing_reference_artifacts

queries()  # force registry load


@pytest.fixture(scope="module")
def duck(sf_small):
    return duck_connect(sf_small)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_match(name, spark, sf_small, duck):
    missing = missing_reference_artifacts(name)
    if missing:
        pytest.skip(f"{name}: reference artifact(s) absent: {', '.join(missing)}")
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_small).toPandas()
    if spec.oracle is None:
        assert sdf is not None  # rows-only contract: query must run
        return
    odf = duck.execute(spec.oracle).df()
    rep = compare(sdf, odf)
    assert rep["ok"], rep
