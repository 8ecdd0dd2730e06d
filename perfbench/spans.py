"""Per-layer tracing for the benchmark's traced run.

A span is one call into a layer's public function, recorded from outside
the program: the benchmark either opens the span around its own call or
wraps the function (``instrument``) so calls the program makes between
its own modules open spans too.  Every span runs its Spark jobs under its
own job group, so an uncompressed Spark event log folds back into
per-span jobs, tasks, executor time, shuffle, spill and GC.

Spans stay in memory and are written once, at exit.  A span's self time
is its duration minus the time its child spans cover.  Plans are lazy: a
function that returns a DataFrame costs only its build time, and the plan
runs under the span of the action that executes it (an eager checkpoint
inside ``plans.submission``, the CSV writer, or a suite head's collect).
So only the layers in ``EXECUTING`` ever run a Spark job in these
workloads, and only they report job counters; the other layers report
their self (plan-building) time.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "vtb_datafusion_2023_spark"

# Layers, named after the program's modules, in report order.
LAYERS = [
    "session",
    "sources.readers",
    "sources.writers",
    "operators.cleaning",
    "plans.features",
    "operators.joins",
    "inference.udfs",
    "plans.submission",
    "suite",
    "operators.dedup",
]
# Layers whose own calls run Spark actions in the benchmark's workloads.
EXECUTING = ["sources.readers", "sources.writers", "plans.submission", "suite", "operators.dedup"]
# Per-span counters folded from the event log, then per layer.
COUNTERS = ["jobs", "tasks", "failed_tasks", "task_s", "shuffle_mb", "spill_mb", "gc_s"]
# Public functions whose calls open a span in the traced pass, by layer.
WRAPPED = {
    "sources.readers": ["load_table", "read_transactions_csv"],
    "sources.writers": ["write_csv"],
    "operators.cleaning": ["clean_transactions"],
    "plans.features": ["branch_c_features"],
    "operators.joins": [
        "assemble_features", "anti_join_missing", "union_fill_max", "ensemble_mean",
        "bootstrap_runs",
    ],
    "inference.udfs": ["linear_scorer", "score_with_model"],
    "plans.submission": ["run_submission"],
    "operators.dedup": [
        "minhash_lsh_pairs", "simhash_idf_pairs", "ngram_jaccard_pairs", "containment_pairs",
    ],
}
# Plan operators that start Python workers, as they appear in stage RDD names.
_PYTHON_RDD = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
               "FlatMapGroupsInPandas", "PythonRDD", "mapInPandas")
# Untraced group: jobs outside any span land here and are not folded.
_NO_GROUP = "perfbench-untraced"


class NullTracer:
    """Tracer of the untraced passes: spans cost one context manager."""

    @contextmanager
    def span(self, layer: str, **attrs):
        yield attrs

    def rebind(self) -> None:
        pass


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, sid: int | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:  # a session span opens before its context exists
            gid = _NO_GROUP if sid is None else f"perfbench-{sid}"
            sc.setJobGroup(gid, gid)

    def rebind(self) -> None:
        """Tag the jobs of a context started inside the open span."""
        self._group(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, layer: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}


def instrument(tracer, layers=WRAPPED):
    """Wrap each listed function wherever the package binds it.

    Returns an undo list for ``restore``.  A module that imported the
    function by name holds its own reference, so every loaded module of
    the package whose attribute *is* the original gets the wrapper.
    """
    undo = []
    mods = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m is not None]
    for layer, names in layers.items():
        home = importlib.import_module(f"{PACKAGE}.{layer}")
        for name in names:
            orig = getattr(home, name)

            @functools.wraps(orig)
            def wrapper(*args, _orig=orig, _layer=layer, _name=name, **kwargs):
                with tracer.span(_layer, fn=_name):
                    return _orig(*args, **kwargs)

            for m in mods:
                if getattr(m, name, None) is orig:
                    setattr(m, name, wrapper)
                    undo.append((m, name, orig))
    return undo


def restore(undo) -> None:
    for m, name, orig in reversed(undo):
        setattr(m, name, orig)


def fold_event_log(path: str) -> tuple[dict[str, dict], dict]:
    """Per job group counters, plus stage facts, from an uncompressed event log."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_names: dict[int, str] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    stage_input: dict[int, int] = defaultdict(int)
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    task_ends = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for info in ev.get("Stage Infos", []):
                    sid = info["Stage ID"]
                    stage_job.setdefault(sid, jid)
                    stage_names[sid] = " ".join(
                        [info.get("Stage Name", "")]
                        + [r.get("Name", "") + " " + str(r.get("Scope", ""))
                           for r in info.get("RDD Info", [])]
                    )
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for g in job_group.values():
        if g and g != _NO_GROUP:
            groups[g]["jobs"] += 1
    for ev in task_ends:
        sid = ev["Stage ID"]
        g = job_group.get(stage_job.get(sid))
        m = ev.get("Task Metrics") or {}
        stage_tasks[sid] += 1
        stage_input[sid] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        if not g or g == _NO_GROUP:
            continue
        c = groups[g]
        c["tasks"] += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        c["failed_tasks"] += int(reason != "Success" or (ev.get("Task Info") or {}).get("Failed", False))
        c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        c["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
        c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    traced = {sid for sid, jid in stage_job.items() if job_group.get(jid) not in (None, _NO_GROUP)}
    stages = {
        "python_tasks": sum(stage_tasks[s] for s in traced
                            if any(k in stage_names.get(s, "") for k in _PYTHON_RDD)),
        "csv_scans": sum("Scan csv" in stage_names.get(s, "") for s in traced),
        "input_bytes": sum(stage_input[s] for s in traced),
    }
    return dict(groups), stages


def layer_metrics(tracer: Tracer, groups: dict[str, dict], cores: int) -> dict[str, float]:
    """``<layer>.wall_s`` (self time) for every layer but the session, plus
    the folded counters and core use of the ``EXECUTING`` layers."""
    selfs = tracer.self_times()
    out: dict[str, float] = {}
    for layer in LAYERS[1:]:
        ids = [s["id"] for s in tracer.spans if s["layer"] == layer]
        wall = sum(selfs[i] for i in ids)
        out[f"{layer}.wall_s"] = wall
        if layer not in EXECUTING:
            continue
        c = dict.fromkeys(COUNTERS, 0)
        for i in ids:
            for k, v in groups.get(f"perfbench-{i}", {}).items():
                c[k] += v
        for k in COUNTERS:
            out[f"{layer}.{k}"] = c[k]
        out[f"{layer}.core_util"] = c["task_s"] / (wall * cores) if wall > 0 else 0.0
    return out


def span_durations(tracer: Tracer, layer: str) -> list[float]:
    return [s["end"] - s["start"] for s in tracer.spans if s["layer"] == layer]


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
