"""Async API variants — the reference's ``async_collect`` / ``async_freeze``.

cryo ships both sync and async entry points
(/root/reference/crates/python/python/cryo/_collect.py:53-143,
_freeze.py): the async forms await the same job without blocking the
caller's event loop. Spark actions are blocking JVM calls, so the
idiomatic PySpark re-expression runs the sync API in a worker thread
(``asyncio.to_thread``) — the event loop stays free, concurrent
``async_collect`` calls interleave their Spark job submissions, and
cancellation semantics are Python-standard (the underlying Spark job
completes; the awaiting task is released).

``async_collect`` also mirrors the reference's ``output_format`` menu
(polars/pandas/list/dict there; spark/pandas/arrow/list/dict here —
'spark' returns the lazy DataFrame, everything else materializes).
The list/dict/pandas formats are driver-bound by design: they collect
every row into driver memory, so use 'spark' or 'arrow' at scale.
"""

from __future__ import annotations

import asyncio
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import engine

_FORMATS = ("spark", "pandas", "arrow", "list", "dict")


def _format_result(df: DataFrame, output_format: str) -> Any:
    if output_format == "spark":
        return df
    if output_format == "pandas":
        return df.toPandas()
    if output_format == "arrow":
        # spark-native Arrow collection preserves the Spark types
        # (array<int> stays list<int32>; a pandas round-trip would
        # re-infer list<int64> and drop nullability)
        if hasattr(df, "toArrow"):
            return df.toArrow()
        import pyarrow as pa

        return pa.Table.from_pandas(df.toPandas(),
                                    preserve_index=False)
    if output_format == "list":  # reference: list of row dicts
        return [r.asDict(recursive=True) for r in df.collect()]
    if output_format == "dict":  # reference: dict of column lists
        rows = [r.asDict(recursive=True) for r in df.collect()]
        cols = df.columns
        return {c: [r[c] for r in rows] for c in cols}
    raise ValueError(
        f"unknown output format {output_format!r} (one of {_FORMATS})")


async def async_collect(spark: SparkSession, output_dir: str,
                        output_format: str = "spark",
                        **kwargs: Any) -> Any:
    """Await a decoded read of a frozen output (sync: engine.collect)."""
    if output_format not in _FORMATS:
        raise ValueError(
            f"unknown output format {output_format!r} (one of {_FORMATS})")

    def run() -> Any:
        df = engine.collect(spark, output_dir, **kwargs)
        return _format_result(df, output_format)

    return await asyncio.to_thread(run)


async def async_freeze(spark: SparkSession, input_path: str | DataFrame,
                       output_dir: str, **kwargs: Any) -> dict:
    """Await a full freeze job (sync: engine.freeze)."""
    return await asyncio.to_thread(
        engine.freeze, spark, input_path, output_dir, **kwargs)


async def async_encode(df: DataFrame, **kwargs: Any) -> DataFrame:
    """Await plan construction for an in-session encode (lazy result)."""
    return await asyncio.to_thread(engine.encode, df, **kwargs)


async def async_decode(enc: DataFrame, **kwargs: Any) -> DataFrame:
    return await asyncio.to_thread(engine.decode, enc, **kwargs)
