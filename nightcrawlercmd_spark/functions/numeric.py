"""Cross-engine-stable numeric helpers.

Spark's ``round()`` converts the double to DECIMAL and applies
HALF_UP on that representation; DuckDB's ``round()`` rounds the IEEE
double directly — on values whose 6th decimal sits at a half boundary
the two disagree, which makes a value-hash oracle comparison flaky
(the quality-score operator documented and fixed this for its
composite; every other ratio/similarity column still used the
divergent pair). ``round6``/``sql_round6`` are the single shared fix:
``floor(x*1e6 + 0.5)/1e6`` in pure double arithmetic, bit-identical
across engines because both evaluate the same IEEE operations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round6(col: Column) -> Column:
    """Engine-stable 6-decimal rounding (see module docstring)."""
    return F.floor(col * 1e6 + 0.5) / 1e6


def sql_round6(expr: str) -> str:
    """ANSI-SQL twin of ``round6`` — substitute for ``round(expr, 6)``
    in DuckDB oracle strings so both engines run the identical IEEE
    double expression."""
    return f"(floor(({expr}) * 1000000 + 0.5) / 1000000)"
