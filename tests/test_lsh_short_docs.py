"""Short and empty documents against the DuckDB oracle.

Documents with fewer than 3 tokens have no shingles, so no MinHash
signature. Every MinHash-LSH query must leave them out of the band
table: their empty signatures must not collide with each other (that
divided 0 by 0 in verification under ANSI mode) and must match the
oracle, where the NULL band joins nothing. The empty document has no
BPE token either, so its chars-per-token ratio is NULL in both engines
instead of a division by zero.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__  # noqa: F401 — registers every query
from orders_currency_conversion_etl_spark.plans import registry
from tests.oracle_harness import TABLE_NAMES, compare_query

SF = "/root/testdata/sf0.001"

#: one new-batch doc (doc_id % 10 == 0, see dedup_incremental_lsh) and
#: three corpus docs, all under 3 tokens, one of them empty
SHORT_DOCS = [(500, "alpha"), (501, "beta gamma"), (502, "delta"), (503, "")]


@pytest.fixture(scope="module")
def short_doc_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("short_docs")
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(os.path.join(SF, f"{name}.parquet"), d / f"{name}.parquet")
    docs = pq.read_table(os.path.join(SF, "documents.parquet"))
    extra = pa.Table.from_pylist(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": "web", "n_chars": len(t)}
            for i, t in SHORT_DOCS
        ],
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_minhash_lsh_hr",
        "dedup_incremental_lsh",
        "curation_pipeline_lsh",
        "text_bpe_token_count",
    ],
)
def test_lsh_queries_skip_shingleless_docs(spark, short_doc_sf, name):
    compare_query(
        spark, short_doc_sf, registry.QUERIES[name], registry.finalized_oracles()[name]
    )
