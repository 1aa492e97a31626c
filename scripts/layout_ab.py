"""Measured layout A/B: files touched by selective predicates under
z-order vs compound sort vs round-robin.

Deterministic evidence (file counts, not timings) for the SCALE.md
claim that Morton clustering prunes on EITHER dimension while a plain
compound sort only helps its prefix. Writes LAYOUT_AB.json.

Run from the repo root:  python scripts/layout_ab.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import tempfile

from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.operators import layout
from orders_currency_conversion_etl_spark.session import get_spark
from orders_currency_conversion_etl_spark.sources import catalog

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FILES = 32


def main() -> None:
    spark = get_spark("layout-ab")
    spark.sparkContext.setLogLevel("ERROR")
    li = catalog.load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).first()
    plo, phi = b[0], b[0] + (b[1] - b[0]) // 8
    slo, shi = b[2], b[2] + (b[3] - b[2]) // 8
    preds = {
        "part_and_supp_eighth": F.col("l_partkey").between(plo, phi)
        & F.col("l_suppkey").between(slo, shi),
        "part_only_eighth": F.col("l_partkey").between(plo, phi),
        "supp_only_eighth": F.col("l_suppkey").between(slo, shi),
    }

    out = {"sf_dir": SF_DIR, "n_files": N_FILES, "layouts": {}}
    with tempfile.TemporaryDirectory() as tmp:
        paths = {
            "zorder": os.path.join(tmp, "z"),
            "hilbert": os.path.join(tmp, "h"),
            "compound_sort": os.path.join(tmp, "c"),
            "roundrobin": os.path.join(tmp, "r"),
        }
        layout.write_zordered(li, "l_partkey", "l_suppkey", paths["zorder"], N_FILES)
        layout.write_hilbert_ordered(
            li, "l_partkey", "l_suppkey", paths["hilbert"], N_FILES
        )
        (
            li.repartitionByRange(N_FILES, "l_partkey", "l_suppkey")
            .sortWithinPartitions("l_partkey", "l_suppkey")
            .write.mode("overwrite").parquet(paths["compound_sort"])
        )
        li.repartition(N_FILES).write.mode("overwrite").parquet(paths["roundrobin"])

        for lname, path in paths.items():
            df = catalog.read_parquet(spark, path)
            out["layouts"][lname] = {
                pname: layout.files_touched(df.filter(pred))
                for pname, pred in preds.items()
            }

    dst = os.path.join(REPO, "LAYOUT_AB.json")
    with open(dst, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
