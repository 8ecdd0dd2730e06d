"""Certification order of the registry, derived from the committed
``CORRECTNESS_r*.json`` records (rule: ``suite`` module docstring).

Pure Python, no Spark: ``_load_all`` applies :func:`certification_order`
on the first ``queries()`` call, and ``tools/plan_next_round.py`` prints it.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Mapping, Sequence

# suite/ -> package -> repo root, where the records are committed.
# Resolved from this file, not the working directory: the certification
# gate imports ``__spark_entry__`` from outside the repo.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

Rounds = Mapping[int, Mapping[str, Mapping]]


def is_green(row: Mapping) -> bool:
    """A recorded row certifies its head: the value hash matched, or a
    rows-only (no-oracle) head ran and returned rows."""
    return row.get("hash_match") is True or (
        row.get("err") == "no_oracle" and row.get("spark_rows") is not None
    )


def load_rounds(root: str = REPO_ROOT) -> dict[int, dict[str, dict]]:
    """Round number -> that round's recorded rows (head name -> row)."""
    rounds = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                rounds[int(m.group(1))] = json.load(f)
    return rounds


def newest_status(rounds: Rounds) -> dict[str, tuple[int, bool]]:
    """Head name -> (round of its newest recorded row, whether it is green)."""
    return {name: (rnd, is_green(row)) for rnd in sorted(rounds) for name, row in rounds[rnd].items()}


def certification_order(names: Sequence[str], rounds: Rounds) -> list[str]:
    """``names`` (registration order) sorted failed, never-checked, then
    greens by the round of their newest row, oldest first; stable, so
    ties keep registration order.  Names in ``rounds`` that are not in
    ``names`` are ignored."""
    newest = newest_status(rounds)

    def rank(name: str) -> tuple[int, int]:
        if name not in newest:
            return (1, 0)
        rnd, green = newest[name]
        return (2, rnd) if green else (0, 0)

    return sorted(names, key=rank)
