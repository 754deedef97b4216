"""Verdict codes + the warning-ladder expression shared by every check.

Reference semantics (/root/reference/src/algorithms/border_check.py:122-146):
given a value normalized to [-1, 1] band semantics
    vn = 2*(v - (UL+LL)/2) / (UL-LL)
the verdict is
    vn >  1          -> Error  (above upper limit),  code -1
    vn < -1          -> Error  (below lower limit),  code -1
    else walk warning_stages ascending; the LAST stage k with
    vn > stage_k (upper) or vn < -stage_k (lower) wins -> Warning{k}, code 0
    no stage matched -> OK, code 1

All of this compiles to a single Catalyst CASE WHEN chain — fully
whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

OK = "OK"
OK_CODE = 1
WARNING_CODE = 0
ERROR_CODE = -1
UNDEFINED = "Undefined"
UNDEFINED_CODE = 2


def normalized(value: Column, LL: float, UL: float) -> Column:
    """vn = 2*(v - (UL+LL)/2) / (UL-LL) — the reference's band normalization."""
    return 2.0 * (value - (UL + LL) / 2.0) / (UL - LL)


def ladder_code(vn: Column, warning_stages: Sequence[float]) -> Column:
    """Status code (int) for a normalized value per the reference ladder."""
    stages = sorted(warning_stages)
    expr = F.lit(OK_CODE)
    # ascending loop with break == first (smallest) stage exceeded decides
    # warning-vs-ok; any stage exceeded -> warning. Highest matched stage
    # only affects the status TEXT, not the code.
    if stages:
        expr = F.when(F.abs(vn) > stages[0], F.lit(WARNING_CODE)).otherwise(expr)
    return (
        F.when(vn > 1.0, F.lit(ERROR_CODE))
        .when(vn < -1.0, F.lit(ERROR_CODE))
        .otherwise(expr)
    )


def ladder_code_np(vn: np.ndarray, warning_stages: Sequence[float]) -> np.ndarray:
    """:func:`ladder_code` over a numpy array (NaN -> OK, as in SQL)."""
    code = np.ones(len(vn), dtype=np.int32)
    if len(warning_stages) > 0:
        code[np.abs(vn) > min(warning_stages)] = WARNING_CODE
    code[vn > 1.0] = ERROR_CODE
    code[vn < -1.0] = ERROR_CODE
    return code


def ladder_status(
    vn: Column, warning_stages: Sequence[float], subject: str = "measurement"
) -> Column:
    """Status text mirroring the reference strings, e.g.
    'Error: measurement above upper limit',
    'Warning1: measurement close to upper limit.'.
    """
    stages = sorted(warning_stages)
    # walk DESCENDING so the highest exceeded stage wins (matches the
    # ascending-with-break loop in the reference).
    chain = F.lit(OK)
    for k in range(len(stages)):
        chain = (
            F.when(vn > stages[k], F.lit(f"Warning{k}: {subject} close to upper limit."))
            .when(vn < -stages[k], F.lit(f"Warning{k}: {subject} close to lower limit."))
            .otherwise(chain)
        )
    return (
        F.when(vn > 1.0, F.lit(f"Error: {subject} above upper limit"))
        .when(vn < -1.0, F.lit(f"Error: {subject} below lower limit"))
        .otherwise(chain)
    )


def ladder_code_sql(vn_sql: str, warning_stages: Sequence[float]) -> str:
    """ANSI-SQL rendering of :func:`ladder_code` for the DuckDB oracle."""
    stages = sorted(warning_stages)
    warn = (
        f"CASE WHEN ABS({vn_sql}) > {stages[0]} THEN 0 ELSE 1 END" if stages else "1"
    )
    return (
        f"CASE WHEN ({vn_sql}) > 1.0 THEN -1 "
        f"WHEN ({vn_sql}) < -1.0 THEN -1 "
        f"ELSE {warn} END"
    )
