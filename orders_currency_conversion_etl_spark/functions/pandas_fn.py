"""Vectorized Pandas-UDF surface (SURVEY F5: the reference's row-wise
``df.apply(axis=1)`` generalized the right way).

Two UDF kinds, both Arrow-batched (never row-at-a-time Python):

- scalar ``@pandas_udf``: Series → Series, runs per Arrow batch inside
  the executor; the hot path stays columnar end-to-end;
- grouped-agg ``@pandas_udf``: Series → scalar per group, Spark's UDAF
  surface — partial aggregation does NOT apply (all group rows ship to
  one executor), so at 100 TB prefer rewriting into algebraic pieces
  (as the oracle here does with exp(avg(ln(x)))) when one exists; the
  UDAF is for when it doesn't.

The flagship conversion deliberately uses NEITHER (pure column
arithmetic, SURVEY §2 op F5) — these exist for operators that
genuinely need numpy/pandas semantics.

Row-wise Python that no column expression can state (codec encode/
decode, container walks) goes through :func:`map_rows`: the engine
owns the Arrow batching and the output frame, the caller supplies only
the per-row function and the output schema.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructType

from ..plans.registry import query
from ..sources import catalog


def row_batches(
    fn: Callable[..., Iterable[tuple]], schema: StructType
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The ``mapInPandas`` batch function behind :func:`map_rows`: one
    output frame per input batch, holding every tuple ``fn`` yields for
    the batch's rows, in order, under ``schema``'s field names."""
    names = schema.fieldNames()

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [t for row in pdf.itertuples(index=False, name=None) for t in fn(*row)]
            yield pd.DataFrame(out, columns=names)

    return _rows


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: StructType) -> DataFrame:
    """Run ``fn(*row)`` over every row of ``df`` in Arrow batches, one
    ``mapInPandas`` stage. Arguments arrive in ``df.columns`` order;
    ``fn`` yields zero, one or many output tuples per row, each in
    ``schema`` field order. The plan is one MapInPandas over ``df``,
    no shuffle; project ``df`` to the columns ``fn`` takes first."""
    return df.mapInPandas(row_batches(fn, schema), schema=schema)


# returnType as a DataType object, NOT a DDL string — string parsing
# happens at decoration (= import) time and needs a live SparkContext.


@pandas_udf(DoubleType())
def log1p_price(price: pd.Series) -> pd.Series:
    """Scalar vectorized UDF: numpy ufunc over the whole Arrow batch."""
    return np.log1p(price)


@pandas_udf(DoubleType())
def geometric_mean(price: pd.Series) -> float:
    """Grouped-agg UDF (UDAF): geometric mean of a group."""
    return float(np.exp(np.log(price).mean()))


@pandas_udf(DoubleType())
def mean_log1p(price: pd.Series) -> float:
    """Second UDAF — Spark disallows mixing group-agg pandas UDFs with
    JVM aggregates in one agg(), so the companion stat is also a UDAF."""
    return float(np.log1p(price).mean())


_GEOMEAN_ORACLE = """
SELECT o_orderstatus,
       CAST(exp(avg(ln(o_totalprice))) AS DECIMAL(18,4)) AS geo_mean_price,
       CAST(avg(ln(o_totalprice + 1)) AS DECIMAL(18,8)) AS mean_log1p
FROM orders
GROUP BY o_orderstatus
"""


@query("pandas_udf_geomean", _GEOMEAN_ORACLE)
def pandas_udf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two pandas UDAFs in one aggregation (scalar UDF log1p_price is
    exercised in tests/test_pandas_fn.py — Spark disallows mixing
    group-agg pandas UDFs with JVM aggregates in a single agg()). The
    oracle recomputes each algebraically (exp∘avg∘ln) — also the
    preferred 100 TB rewrite, since the algebraic form gets map-side
    partial aggregation that a UDAF cannot."""
    o = catalog.load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        geometric_mean("o_totalprice").cast("decimal(18,4)").alias("geo_mean_price"),
        mean_log1p("o_totalprice").cast("decimal(18,8)").alias("mean_log1p"),
    )
