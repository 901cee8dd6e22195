"""The benchmark's sink: one Spark action that consumes every output column.

A ``count()`` sink lets Catalyst prune the work it claims to time (an
overlay under ``count()`` keeps only an Exchange and a HashAggregate; the
fused PIP + kNN query drops its nearest-feature UDF).  This sink instead
aggregates an order-independent checksum over all columns,
``sum(pmod(xxhash64(c1, ..., cn), p))`` (a raw sum of ``xxhash64`` overflows
under ANSI mode), together with the row count, any workload check
aggregates and a hash-selected sample of rows for the driver-side checks.

``plan_errors`` then checks the executed plan for the layer's work: a plan
that lacks an expected node (the nearest column's ArrowEvalPython, the cell
equi-join, overlay's area UDF, zonal's MapInPandas, minhash's signature UDF)
fails the op.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKSUM_P = 2_147_483_647  # Mersenne prime 2^31 - 1


@dataclass
class SinkSpec:
    """How to consume one call's DataFrame.

    ``sample_key`` (a column name or a tuple of them) selects the sampled
    rows: those whose ``pmod(xxhash64(key), sample_mod)`` is 0; their
    ``sample_cols`` come back as dicts.  ``extra`` maps result names to
    aggregate Columns evaluated in the same action.  ``expect`` holds the
    regexes the executed plan must match."""
    sample_key: str | tuple
    sample_mod: int
    sample_cols: tuple = ()
    extra: dict = field(default_factory=dict)
    expect: tuple = ()


def sink_frame(df: DataFrame, spec: SinkSpec) -> DataFrame:
    """The one-row aggregate that consumes every column of ``df``."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    keys = spec.sample_key if isinstance(spec.sample_key, tuple) else (spec.sample_key,)
    picked = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(spec.sample_mod)) == 0
    aggs = [F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(CHECKSUM_P))).alias("checksum"),
            F.collect_list(F.when(picked, F.struct(*spec.sample_cols))).alias("sample")]
    aggs += [c.alias(name) for name, c in spec.extra.items()]
    return df.agg(*aggs)


def consume(df: DataFrame, spec: SinkSpec) -> tuple[dict, str]:
    """Run the sink; returns (result dict, executed plan string)."""
    agg = sink_frame(df, spec)
    row = agg.collect()[0].asDict(recursive=True)
    return row, executed_plan(agg)


def executed_plan(df: DataFrame) -> str:
    """The executed (final adaptive) physical plan of an action's frame."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_errors(plan: str, expect: tuple) -> list[str]:
    return [f"executed plan lacks {pat!r}" for pat in expect
            if not re.search(pat, plan)]
