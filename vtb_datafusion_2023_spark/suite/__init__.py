"""Driver-facing correctness suite.

Every operator in SURVEY.md §2 (plus the training-data-pipeline extensions)
is exposed here as a named query over the driver's synthetic tables, paired
with the ANSI-SQL oracle DuckDB runs on the same parquet files.  The
``__spark_entry__`` module re-exports this registry; ``tools/oracle_check``
and ``tests/test_oracle.py`` replicate the driver's t2 gate locally.

Contract (see repo root ``__spark_entry__.py``): Spark result and oracle
result must match on row count, schema, and order-insensitive value hash —
so every computed column is aliased identically on both sides, and float
aggregates use deterministic arithmetic (the shared ``sqlgen`` fragments).

Certification order: the external certification gate checks ~50 heads
per round in registry order and records each round as
``CORRECTNESS_rNN.json`` in the repo root.  ``queries()`` returns the
heads sorted by those committed records (``suite.certification``): failed
heads first, then heads with no recorded row yet, then greens by the
round of their newest green, oldest first; ties keep module registration
order.  A head's newest row decides its
status, so a later failure overrides an earlier green.  Green means
``hash_match`` is true, or ``err == "no_oracle"`` with ``spark_rows`` not
null.  Without records the registration order stands.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    survey_ref: str  # SURVEY.md §2 operator ids this query certifies
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, survey_ref: str, doc: str = ""):
    """Decorator: add a (spark, sf_dir) -> DataFrame query to the suite."""

    def wrap(fn):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, survey_ref=survey_ref, doc=doc)
        return fn

    return wrap


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


# Every rows-only (oracle=None) head must name a registered HASH-certified
# twin that pins the same code path — the driver's weaker rows-only check
# is acceptable only because the twin carries the parity claim.  This map
# is the source of truth; tests/test_twins.py enforces it, so a future
# no-oracle head cannot ship without either an oracle or a declared twin.
NO_ORACLE_TWINS: dict[str, str] = {
    # streaming replay ingest (micro-batch timing is engine-internal)
    "st_dedup_ingest": "st_dedup_ingest_md5",
    # xxhash64 scale-path sketches (engine-specific hash)
    "dd_minhash_lsh": "dd_minhash_md5",
    "dd_simhash": "dd_simhash_md5",
    "dd_incremental_minhash": "dd_incremental_md5",
    "sk_approx_distinct": "sk_kmv_distinct",
    # BLAS scale path (gemm distance reassociation is not bitwise
    # DuckDB-replayable; kept set == twin at gate scale, pytest-pinned)
    "dd_semdedup_scaled": "dd_semdedup",
    # RNG draws (rand() stream is engine-internal)
    "so3_bootstrap_sample": "so3_md5_sample",
    # LSTM/GRU float32 forwards (non-SQL numerics; both also bitwise
    # pytest-pinned against the real reference checkpoints)
    "u1_rnn_scores": "u6_mapinpandas_inference",
    "u4_vrae_latents": "u4_vrae_twin",
}


_LOADED = False


def _load_all() -> None:
    """Import every suite module (each registers its queries on import),
    then put the registry in certification order (module docstring)."""
    global _LOADED
    if _LOADED:
        return
    from . import joins  # noqa: F401
    from . import windows  # noqa: F401
    from . import pipeline  # noqa: F401
    from . import inference  # noqa: F401
    from . import datapipe  # noqa: F401
    from . import streaming  # noqa: F401
    from . import tpch  # noqa: F401
    from . import tpch2  # noqa: F401
    from . import basics  # noqa: F401
    from . import aggregates  # noqa: F401
    from . import cleaning  # noqa: F401
    from . import submission_e2e  # noqa: F401
    from . import ml  # noqa: F401
    from .certification import certification_order, load_rounds

    ordered = {n: REGISTRY[n] for n in certification_order(list(REGISTRY), load_rounds())}
    REGISTRY.clear()
    REGISTRY.update(ordered)
    _LOADED = True
