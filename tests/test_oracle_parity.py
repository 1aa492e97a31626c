"""Run every registered query against its DuckDB oracle — the local
mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_harness import compare_query


def _cases():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    return [(name, q[name], o.get(name)) for name in sorted(q)]


@pytest.mark.parametrize("name,fn,oracle", _cases(), ids=[c[0] for c in _cases()])
def test_query_matches_oracle(spark, name, fn, oracle):
    if oracle is None:
        df = fn(spark, SF_ORACLE)
        assert df.count() >= 0  # rows-only check, mirroring the driver
    else:
        compare_query(spark, SF_ORACLE, fn, oracle)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) == 8


def test_window_is_fifty_registered_names():
    """The driver checks ``list(queries())[:50]``: that is exactly the
    static WINDOW, 50 distinct registered names, and every registered
    query has an oracle."""
    from orders_currency_conversion_etl_spark.plans import registry

    window = entry_mod.WINDOW
    assert len(window) == 50 == len(set(window))
    assert set(window) <= set(registry.QUERIES)
    q = entry_mod.queries()
    assert list(q)[:50] == window
    assert len(q) == 210
    assert set(q) <= set(entry_mod.oracle_sql())


# Queries that synthesize a fixture per document (or per order) and
# branch on its length or id. The sweep above runs sf0.001; these are
# also compared at sf0.01, the scale the driver checks at, whose
# documents have different texts and whose orders are ten times more.
SF_DRIVER = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
FIXTURE_QUERIES = [
    "archive_gzip_members",
    "archive_warc_gz_index",
    "archive_warc_gz_fetch",
    "lake_rowgroup_stats",
    "queue_source_roundtrip",
    "multimodal_gif_decode",
    "multimodal_png_palette_decode",
    "multimodal_video_dims",
    "multimodal_audio_info",
    "multimodal_image_dims",
]


@pytest.mark.parametrize("name", FIXTURE_QUERIES)
def test_fixture_query_matches_oracle_at_sf0_01(spark, name):
    compare_query(
        spark, SF_DRIVER, entry_mod.queries()[name], entry_mod.oracle_sql()[name]
    )
