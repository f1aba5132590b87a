"""Quality-control combinators (SURVEY.md §2.4 A9 / §2.8 F12).

The reference folds per-profile QC codes with a product-reduce —
``FLAG = reduce(mul, qc_columns)`` is 1 iff every code is 1 (reference:
src/argostats/toctools.py:186-187; truth table in tests/test_toctools.py:
59-60: [1,1,0,1]→0, [1,2,3,4,5]→nonzero). Per-level QC masks levels with
a sentinel (interpolation.py:222). Here both are column expressions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def combine_qc(*qc_cols) -> Column:
    """Product-combine scalar QC codes → FLAG (1 iff all 1).

    Matches toctools.py:186-187 semantics including the non-boolean
    residue for codes > 1 (e.g. product of [1,2,3,4,5] is nonzero).
    """
    cols = [_c(c).cast("int") for c in qc_cols]
    return reduce(lambda a, b: a * b, cols)


def all_good(qc_array) -> Column:
    """Per-level QC: true iff every level code == 1 (interpolation.py:
    174-179 expressed with the ``forall`` higher-order function)."""
    return F.forall(_c(qc_array), lambda q: q == F.lit(1))
