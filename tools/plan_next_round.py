"""Print the certification order for the next round.

The order is ``suite.queries()``'s: the registered heads sorted by the
committed CORRECTNESS_r*.json records, with the rule stated in the
``vtb_datafusion_2023_spark.suite`` module docstring.  The certification
gate checks about the first 50 per round.  Each line is position, the
head's status (``failed``, ``never`` or the round of its newest green)
and its name.

Usage:
    python tools/plan_next_round.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from vtb_datafusion_2023_spark.suite import queries
    from vtb_datafusion_2023_spark.suite.certification import load_rounds, newest_status

    newest = newest_status(load_rounds())
    for i, name in enumerate(queries(), 1):
        rnd, green = newest.get(name, (None, False))
        status = "never" if rnd is None else f"r{rnd:02d}" if green else "failed"
        print(f"{i:4d}  {status:6s}  {name}")


if __name__ == "__main__":
    main()
