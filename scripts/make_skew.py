"""Generate a skewed twin of the local sf1 lineitem for the skew bench.

It rewrites ~30% of sf1 lineitem rows (6M rows; scripts/make_sf1.py
must have run first) to a single hot l_orderkey — the classic
one-customer-is-a-third-of-traffic shape. A plain shuffle join then
sends ~1.8M rows to one reducer, which AQE's skew join can split;
scripts/bench_skew.py measures the variants.

The hot orderkey keeps a matching orders row, so join selectivity is
preserved; only the key DISTRIBUTION changes. Non-key columns are
untouched — any timing delta is the shuffle layout, not data volume.

Writes /root/repo/.localdata/skew/lineitem.parquet (+ an orders copy
so the pair can be read from one dir). Gitignored like sf1.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata")
SRC = os.path.join(BASE, "sf1")
DST = os.path.join(BASE, "skew")
HOT_FRAC = 0.30
SEED = 0x5EED


def main() -> None:
    if not os.path.isdir(SRC):
        raise SystemExit("run scripts/make_sf1.py first (needs .localdata/sf1)")
    os.makedirs(DST, exist_ok=True)

    li = pq.read_table(os.path.join(SRC, "lineitem.parquet"))
    n = li.num_rows
    keys = li["l_orderkey"].to_numpy(zero_copy_only=False).copy()
    hot_key = int(pc.min(li["l_orderkey"]).as_py())

    rng = np.random.default_rng(SEED)
    hot_rows = rng.random(n) < HOT_FRAC
    keys[hot_rows] = hot_key
    li = li.set_column(
        li.schema.get_field_index("l_orderkey"),
        "l_orderkey",
        pa.array(keys, type=li.schema.field("l_orderkey").type),
    )
    # same 32-row-group layout as make_sf1 so scan parallelism matches
    pq.write_table(li, os.path.join(DST, "lineitem.parquet"), row_group_size=max(1, n // 32))

    orders = pq.read_table(os.path.join(SRC, "orders.parquet"))
    pq.write_table(
        orders,
        os.path.join(DST, "orders.parquet"),
        row_group_size=max(1, orders.num_rows // 32),
    )
    print(f"skewed lineitem: {n} rows, {int(hot_rows.sum())} on hot key {hot_key}")


if __name__ == "__main__":
    main()
