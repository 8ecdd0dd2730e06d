"""The benchmark's workloads: generated inputs, one timed pass, output checks.

A workload object owns its input directory.  ``generate`` writes the
seeded inputs and returns their paths; ``run_pass`` executes one closed-
loop pass (the next pass starts when this one returns) and returns one
``Op`` per user-visible operation; ``check`` verifies the outputs of the
ops untimed and returns how many failed.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time
from dataclasses import dataclass, field

import gen

PLANTED_MIN_RECALL = 0.9


@dataclass
class Op:
    name: str
    wall_s: float
    result: object = None
    error: str | None = None
    extra: dict = field(default_factory=dict)


class Submission:
    """The production CLI path (``vtb_datafusion_2023_spark.run``) as one pass:
    read the transactions CSV, collect the MCC vocabulary, ``run_submission``
    with its defaults, write the sorted ``(user_id, target)`` CSV."""

    name = "submission"
    # Cold passes, each in its own set-up's fresh JVM.  Here a cold pass
    # is twice a warm pass and one alone spreads past first_pass_s's bound.
    cold_passes = 2

    def __init__(self, data_dir: str, seed: int, tiny: bool):
        self.data_dir, self.seed = data_dir, seed
        # A pass is plan-bound: its cost follows the MCC vocabulary (the width
        # of branch C's pivots and of the scorer's vector), not the rows.  70
        # codes is the reference data's own vocabulary; with two cold passes
        # a run at 100 or ~150 codes overruns the benchmark's repeat budget.
        self.users, self.rows, self.codes = (60, 6_000, 70) if tiny else (200, 20_000, 70)
        self.csv = os.path.join(data_dir, "transactions.csv")
        self.out = os.path.join(data_dir, "submission")
        self.input_rows = self.rows
        self.inputs: list[str] = []
        self.first_digest: str | None = None
        self.users_in: set | None = None

    def generate(self) -> list[str]:
        os.makedirs(self.data_dir, exist_ok=True)
        self.inputs = [
            gen.write_transactions_csv(self.csv, self.seed, self.users, self.rows, self.codes)
        ]
        return self.inputs

    def run_pass(self, spark, tracer) -> list[Op]:
        from pyspark.sql import functions as F

        from vtb_datafusion_2023_spark.plans import submission
        from vtb_datafusion_2023_spark.sources import readers, writers

        t0 = time.perf_counter()
        with tracer.span("sources.readers", fn="vocab"):
            tx = readers.read_transactions_csv(spark, self.csv).select(
                "user_id",
                F.col("mcc_code").alias("cat"),
                F.col("transaction_amt").alias("amt"),
                F.col("transaction_dttm").alias("ts"),
                "ord",
            )
            vocab = sorted(
                r.cat for r in tx.filter(F.col("cat") != 6012).select("cat").distinct().collect()
            )
        # use_real_rnn=False: the reference checkpoints live outside the
        # checkout; without them the default takes this same path anyway.
        sub = submission.run_submission(spark, tx, cat_vocab=vocab, use_real_rnn=False)
        writers.write_csv(sub, self.out)
        return [Op(self.name, time.perf_counter() - t0)]

    def check(self, ops: list[Op], corrupt: bool = False) -> int:
        """Untimed check of the CSV the last pass wrote, against the input."""
        import numpy as np
        import pandas as pd

        parts = sorted(glob.glob(os.path.join(self.out, "part-*.csv")))
        problems = []
        if len(parts) != 1:
            problems.append(f"expected one CSV part, found {len(parts)}")
        else:
            with open(parts[0], "rb") as f:
                data = f.read()
            if corrupt:  # self-check: drop the last user's row
                data = data[: data.rstrip(b"\n").rfind(b"\n") + 1]
            digest = hashlib.sha256(data).hexdigest()
            if self.first_digest is None:
                self.first_digest = digest
            elif digest != self.first_digest:
                problems.append("output bytes differ from the first pass")
            out = pd.read_csv(pd.io.common.BytesIO(data))
            if self.users_in is None:
                self.users_in = set(pd.read_csv(self.csv, usecols=["user_id"])["user_id"].tolist())
            ids = out["user_id"].to_numpy()
            if list(out.columns) != ["user_id", "target"]:
                problems.append(f"columns {list(out.columns)}")
            elif len(ids) != len(self.users_in) or set(ids.tolist()) != self.users_in:
                problems.append(f"{len(ids)} rows for {len(self.users_in)} input users")
            elif not np.all(np.diff(ids) > 0):
                problems.append("user_id not strictly ascending")
            elif not np.all(np.isfinite(out["target"].to_numpy(dtype=float))):
                problems.append("non-finite target")
        for op in ops:
            op.error = op.error or ("; ".join(problems) or None)
        return sum(op.error is not None for op in ops)


# Registered suite heads over the star schema (short analyst queries) ...
TXN_MIX = [
    "clean_transactions_composed", "pipeline_user_profile", "q3_shipping_priority",
    "dp_priority_sample", "text_tfidf",
]
# ... and an exact near-duplicate pair head over the zipf corpus.
DEDUP_MIX = ["dd_ngram_jaccard"]


class Queries:
    """A fixed mix of registered suite heads, each built then collected."""

    name = "queries"
    cold_passes = 1  # a second would overrun the benchmark's total run budget

    def __init__(self, data_dir: str, seed: int, tiny: bool):
        self.seed = seed
        self.scale, self.docs = (0.002, 200) if tiny else (0.01, 1000)
        self.star = os.path.join(data_dir, "star")
        self.zipf = os.path.join(data_dir, "zipf")
        self.mix = {n: self.star for n in TXN_MIX} | {n: self.zipf for n in DEDUP_MIX}
        self.oracle_check = gen.load_tool("oracle_check")
        self.planted: set = set()
        self.reference: dict[str, object] = {}
        self.inputs: list[str] = []
        self.input_rows = 0

    def generate(self) -> list[str]:
        import pyarrow.parquet as pq

        paths = gen.write_star_schema(self.star, self.seed, self.scale)
        corpus, self.planted = gen.write_corpus(self.zipf, self.seed, self.docs)
        self.inputs = paths + [corpus]
        self.input_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in self.inputs)
        return self.inputs

    def run_pass(self, spark, tracer) -> list[Op]:
        from vtb_datafusion_2023_spark.suite import queries

        qs = queries()
        ops = []
        for name, sf_dir in self.mix.items():
            t0 = time.perf_counter()
            try:
                with tracer.span("suite", fn=name) as rec:
                    df = qs[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    pdf = df.toPandas()
                    rec["build_s"] = t1 - t0
            except Exception as e:  # a raised query counts as a failed op
                ops.append(Op(name, time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"))
                continue
            ops.append(Op(name, time.perf_counter() - t0, result=pdf))
        return ops

    def check(self, ops: list[Op], corrupt: bool = False) -> int:
        """First result of each head vs its DuckDB oracle (or the planted
        pairs); every later result must equal the first one."""
        from vtb_datafusion_2023_spark.suite import REGISTRY

        oc = self.oracle_check

        cons = {}
        for op in ops:
            if op.error is not None:
                continue
            pdf = op.result
            if corrupt:
                pdf = pdf.iloc[1:] if len(pdf) > 1 else pdf.iloc[0:0]
            if op.name in DEDUP_MIX:
                recall = self.planted_recall(pdf)
                op.extra["planted_recall"], op.extra["pairs"] = recall, len(pdf)
                if recall < PLANTED_MIN_RECALL:
                    op.error = f"planted recall {recall:.3f}"
            norm = oc._normalize(pdf)
            ref = self.reference.get(op.name)
            if ref is not None:
                if not norm.equals(ref):
                    op.error = op.error or "result differs from the checked first result"
                op.result = None
                continue
            sf_dir = self.mix[op.name]
            spec = REGISTRY[op.name]
            if spec.oracle is not None:
                con = cons.get(sf_dir) or cons.setdefault(sf_dir, oc.duck_connect(sf_dir))
                rep = oc.compare(pdf, con.execute(spec.oracle).df())
                if not rep["ok"]:
                    op.error = op.error or f"oracle mismatch: {rep}"[:500]
            if op.error is None:
                self.reference[op.name] = norm
            op.result = None
        for con in cons.values():
            con.close()
        return sum(op.error is not None for op in ops)

    def planted_recall(self, pdf) -> float:
        cols = [c for c in pdf.columns if pdf[c].dtype.kind in "iu"][:2]
        found = {tuple(sorted(p)) for p in pdf[cols].itertuples(index=False, name=None)}
        return len(self.planted & found) / len(self.planted)


WORKLOADS = {w.name: w for w in (Submission, Queries)}
