"""Guard: every rows-only (oracle=None) registered head must declare a
hash-certified twin (VERDICT r8 item 8).

The driver's correctness gate records only a weak rows-only check for
heads without an ``oracle_sql`` entry; the repo's policy is that such a
head is admissible ONLY when a hash-certifiable twin pins the same code
path.  ``suite.NO_ORACLE_TWINS`` is the source-of-truth mapping; this
test makes it impossible to register a new no-oracle head without
either an oracle or a declared, registered, oracle-bearing twin.

A head whose reference artifact is absent (``u6_catboost_cbm`` loses
its generated oracle without the .cbm) is left out here and skipped,
itemized, by the per-head test below.

No SparkSession needed — this inspects the registry only.
"""

import pytest

from vtb_datafusion_2023_spark.suite import NO_ORACLE_TWINS, REGISTRY, queries
from vtb_datafusion_2023_spark.suite.inference import (
    REFERENCE_ARTIFACTS,
    missing_reference_artifacts,
)


def test_every_no_oracle_head_has_a_registered_hash_certified_twin():
    queries()  # force _load_all()
    no_oracle = {n for n, s in REGISTRY.items() if s.oracle is None}
    artifact_less = {n for n in REFERENCE_ARTIFACTS if missing_reference_artifacts(n)}

    undeclared = no_oracle - set(NO_ORACLE_TWINS) - artifact_less
    assert not undeclared, (
        f"rows-only heads with no declared twin: {sorted(undeclared)} — "
        "add an oracle_sql entry or a NO_ORACLE_TWINS mapping"
    )

    stale = set(NO_ORACLE_TWINS) - no_oracle
    assert not stale, (
        f"NO_ORACLE_TWINS names heads that are not rows-only (or not "
        f"registered): {sorted(stale)} — prune the mapping"
    )

    for head, twin in NO_ORACLE_TWINS.items():
        assert twin in REGISTRY, f"twin {twin!r} for {head!r} is not registered"
        assert REGISTRY[twin].oracle is not None, (
            f"twin {twin!r} for {head!r} is itself rows-only — a twin must "
            "be hash-certifiable (oracle_sql present)"
        )
        assert twin != head


@pytest.mark.parametrize("name", sorted(REFERENCE_ARTIFACTS))
def test_reference_artifact_head_is_hash_certified(name):
    """With its artifacts present, a real-model head has an oracle or a
    declared twin."""
    missing = missing_reference_artifacts(name)
    if missing:
        pytest.skip(f"{name}: reference artifact(s) absent: {', '.join(missing)}")
    queries()
    assert REGISTRY[name].oracle is not None or name in NO_ORACLE_TWINS
