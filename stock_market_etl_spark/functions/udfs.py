"""UDF / UDAF / UDTF extension surface (SURVEY §2.M).

The reference has no engine-registered UDFs — its row-wise Python
(`.apply(format_daily_return)` `scripts/app.py:147-148`) is expressible
natively (I9). This module exposes the three Spark extension points the
engine supports, each demonstrated on reference semantics:

- scalar ``pandas_udf`` (Arrow-batched, vectorized — the only acceptable
  Python hot-path form; row-at-a-time ``@udf`` appears only in its
  Arrow-transported form, M8);
- grouped-aggregate ``pandas_udf`` (UDAF);
- PySpark 4 ``@udtf`` (table function).

Every demo is deterministic so the DuckDB oracle can check it — the
point is that a Python extension must not change the answer, only the
execution engine.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import functions as F, types as T
from pyspark.sql.functions import pandas_udf, udf, udtf


@pandas_udf(T.StringType())
def format_direction_pandas(dr: pd.Series) -> pd.Series:
    """M1: vectorized reimplementation of I9's sign formatting
    (reference `scripts/app.py:121-124`) — one Arrow batch in, one out;
    ~10-100× the row-at-a-time form."""
    out = pd.Series("FLAT", index=dr.index, dtype="object")
    out[dr > 0] = "UP"
    out[dr < 0] = "DOWN"
    return out


@udf(T.DoubleType(), useArrow=True)
def signed_log_return_arrow(dr):
    """M8: ARROW-OPTIMIZED scalar @udf (``useArrow=True``, PySpark
    3.5+) — row-at-a-time Python logic with Arrow-batched transport:
    the migration middle ground between the legacy pickled @udf
    (never in data paths) and the fully vectorized pandas_udf (M1).
    Computes the symmetric log return sign(dr)·ln(1+|dr|), a
    pure-SQL-expressible transform so the oracle checks that switching
    the serialization engine cannot change the answer."""
    import math

    if dr is None:
        return None
    return math.log1p(dr) if dr >= 0 else -math.log1p(-dr)


@pandas_udf(T.DoubleType())
def mean_abs_return(dr: pd.Series) -> float:
    """M2: grouped-aggregate pandas UDF (UDAF) — mean absolute return
    per group, Arrow-batched. Semantically avg(abs(x)) so the oracle can
    check that the Python aggregation path returns the built-in answer.
    """
    return float(dr.abs().mean())


@udtf(returnType="field: string, val: double")
class OhlcUnpivotUDTF:
    """M3: Python UDTF (PySpark 4 `@udtf`) — explodes one OHLC bar into
    (field, value) rows, the reference's wide→long stack (J1,
    `scripts/ingest_backfill_raw.py:41-42`) as a table function."""

    def eval(self, open: float, high: float, low: float, close: float):  # noqa: A002
        yield "open", open
        yield "high", high
        yield "low", low
        yield "close", close


@pandas_udf(T.DoubleType())
def clip_outliers_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """M6: ITERATOR-form scalar pandas UDF (`Iterator[pd.Series] →
    Iterator[pd.Series]`) — the sixth Python batch API. Its reason to
    exist is amortized per-partition initialization: the body runs ONCE
    per partition and the loop consumes every Arrow batch, so an
    expensive setup (loading a tokenizer/ONNX model, opening a side
    connection) is paid per task, not per batch — the standard shape
    for model-inference stages in training-data pipelines. Here the
    "model" is a deterministic pair of winsorization bounds so the
    demo stays hash-checkable (same rule as m4/m5): values clip to
    [1.0, 400.0] exactly like least(greatest(x, 1), 400)."""
    lo, hi = 1.0, 400.0  # stands in for the once-per-partition load
    for s in batches:
        yield s.clip(lo, hi)
