"""Per-event transcript transforms — the pluggable "MappingFormat" stage.

estuary's transform plug-point is ``trait MappingFormat[IN, OUT]`` plus a
chain of partial functions over row values
(``core/trans/MappingFormat.scala``,
``CanalEntry2RowDataInfoMappingFormat.scala:143-170`` in /root/reference).
Here the same composability is a registry of DataFrame -> DataFrame
functions; per-event work is vectorized — built-in expressions where
possible, Arrow-batched pandas UDFs where Python is genuinely needed
(north rule: no per-row Python).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

TransformFn = Callable[[DataFrame], DataFrame]

_REGISTRY: dict[str, TransformFn] = {}


def register_transform(name: str):
    """Register a named transform (the dynamic-component-loading analogue,
    SURVEY.md K4: worker classes chosen by name maps)."""

    def deco(fn: TransformFn) -> TransformFn:
        _REGISTRY[name] = fn
        return fn

    return deco


def transform_chain(df: DataFrame, names: list[str]) -> DataFrame:
    """Apply registered transforms in order (partial-function chain)."""
    for n in names:
        df = _REGISTRY[n](df)
    return df


# ---------------------------------------------------------------- built-ins

TOOL_ARGS_SCHEMA = T.StructType([T.StructField("arg", T.IntegerType())])


@register_transform("decode_tool_args")
def decode_tool_args(df: DataFrame) -> DataFrame:
    """Decode the JSON tool_args payload into a typed struct (JVM-side
    from_json — the S2 binlog-payload-decode analogue)."""
    if "tool_args" not in df.columns:
        return df
    return df.withColumn("tool_args_parsed", F.from_json(F.col("tool_args"), TOOL_ARGS_SCHEMA))


@register_transform("normalize_whitespace")
def normalize_whitespace(df: DataFrame) -> DataFrame:
    if "text" not in df.columns:
        return df
    return df.withColumn("text", F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))


# Arrow-batched pandas UDF: a transform that genuinely needs Python string
# logic runs vectorized on pandas Series (never row-at-a-time Python UDFs)
@pandas_udf(T.StringType())
def redact_emails(s: pd.Series) -> pd.Series:
    return s.str.replace(r"[\w.+-]+@[\w-]+\.[\w.]+", "<email>", regex=True)


@register_transform("redact_pii")
def redact_pii(df: DataFrame) -> DataFrame:
    if "text" not in df.columns:
        return df
    return df.withColumn("text", redact_emails(F.col("text")))

