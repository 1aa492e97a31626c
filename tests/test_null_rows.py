"""NULL join keys and NULL JSON against the DuckDB oracle.

The fixture scales carry no NULL, so these rows are added to an sf0.001
copy of ``events``:

- two events with a NULL ``user_id``, eight days apart (two cohort
  weeks), so a query that keeps NULL keys counts one extra user in
  each week;
- a NULL ``props`` next to a ``props`` whose only key is ``k``, so an
  oracle that hard-codes the first map key disagrees with Spark, which
  returns NULL for a NULL map.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__  # noqa: F401 — registers every query
from orders_currency_conversion_etl_spark.plans import registry
from tests.oracle_harness import TABLE_NAMES, compare_query

SF = "/root/testdata/sf0.001"

_T0 = dt.datetime(2024, 1, 2, 10, 0, 0)

#: (event_id, ts, user_id, props)
NULL_EVENTS = [
    (900001, _T0, None, '{"k": 1}'),
    (900002, _T0 + dt.timedelta(days=8), None, None),
    (900003, _T0, 1, None),
]


@pytest.fixture(scope="module")
def null_rows_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("null_rows")
    for name in TABLE_NAMES:
        if name != "events":
            os.symlink(os.path.join(SF, f"{name}.parquet"), d / f"{name}.parquet")
    events = pq.read_table(os.path.join(SF, "events.parquet"))
    extra = pa.Table.from_pylist(
        [
            {
                "event_id": i,
                "ts": ts,
                "user_id": u,
                "event_type": "click",
                "value": 1.0,
                "props": p,
            }
            for i, ts, u, p in NULL_EVENTS
        ],
        schema=events.schema,
    )
    pq.write_table(pa.concat_tables([events, extra]), d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", ["cohort_retention_weekly", "map_column_access"])
def test_null_keys_and_props_match_oracle(spark, null_rows_sf, name):
    compare_query(
        spark, null_rows_sf, registry.QUERIES[name], registry.finalized_oracles()[name]
    )
