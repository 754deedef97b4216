"""Check-suite composition — the reference's Combination determiners
(/root/reference/src/algorithms/combination.py:122-218) as Column
expressions over K per-check code columns."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from anomaly_detection_spark.codes import UNDEFINED_CODE


def combine_and(codes: Sequence[Column | str]) -> Column:
    """AND determiner (combination.py:121-148): the MAX status ignoring
    Undefined(2); all-Undefined -> Undefined. Error only if every defined
    check errored."""
    cols = [F.col(c) if isinstance(c, str) else c for c in codes]
    masked = [F.when(c == UNDEFINED_CODE, F.lit(-2)).otherwise(c) for c in cols]
    mx = F.greatest(*masked) if len(masked) > 1 else masked[0]
    return F.when(mx == -2, F.lit(UNDEFINED_CODE)).otherwise(mx)


def combine_or(codes: Sequence[Column | str]) -> Column:
    """OR determiner (combination.py:150-176): the plain MIN status —
    error if any check errored (Undefined, being 2, never wins the min
    unless it is the only value)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in codes]
    return F.least(*cols) if len(cols) > 1 else cols[0]
