"""Self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

For every workload it runs ``run.py`` untraced, traced and with every
output damaged, and asserts that:

- the result line has exactly the keys ``correct``, ``attempted``,
  ``failed`` and ``metrics``, and every metric BENCHMARK.json names is
  emitted with its unit (end-to-end untraced, per-layer traced);
- an undamaged run is correct, and a damaged one reports failures;
- in the traced pass the layer self times account for the pass wall
  within ``ACCOUNTED_TOLERANCE``;
- in a directory holding only BENCHMARK.json and the benchmark's files,
  the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Share of the traced pass wall that may fall outside every layer span.
ACCOUNTED_TOLERANCE = 0.02
TIMEOUT_S = 600


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT_S,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, (what, set(result))
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, what
    assert isinstance(result["failed"], int), what
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    assert set(got) == set(want), (what, set(got) ^ set(want))
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (what, name, got[name]["unit"], unit)
        assert isinstance(got[name]["value"], (int, float)), (what, name)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in [w["name"] for w in bench["workloads"]]:
        base = ["--workload", w, "--seed", "7", "--seconds", "1", "--size", "tiny"]

        rc, res, err = run(base + ["--trace", "0"])
        assert rc == 0 and res is not None, (w, rc, err[-2000:])
        check_metrics(res, bench["end_to_end"], f"{w} untraced")
        assert res["correct"] and res["failed"] == 0, (w, err[-2000:])
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in bench["end_to_end"]), res

        rc, res, err = run(base + ["--trace", "1"])
        assert rc == 0 and res is not None, (w, rc, err[-2000:])
        check_metrics(res, bench["per_layer"], f"{w} traced")
        assert res["correct"], (w, err[-2000:])
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert abs(m["trace.unaccounted_s"]) <= ACCOUNTED_TOLERANCE * m["trace.pass_s"], m
        if w == "submission":
            assert m["plans.submission.build_s"] > 0 and m["plans.submission.execute_s"] > 0, m
        else:
            assert m["operators.dedup.planted_recall"] >= 0.9, m

        rc, res, err = run(base + ["--trace", "0", "--corrupt"])
        assert rc == 0 and res is not None, (w, rc, err[-2000:])
        assert not res["correct"] and res["failed"] >= 1, (w, res)
        print(f"selfcheck: {w} ok", flush=True)

    bare = os.path.join(ROOT, ".benchdata", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, _ = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    assert rc != 0 and res is None, (rc, res)
    print("selfcheck: bare directory refused; all ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
