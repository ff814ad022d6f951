"""Build a larger synthetic SF by tiling an existing testdata dir N times.

    python tools/make_sf_tile.py SRC_DIR DST_DIR [tiles]

Each tile i>0 offsets every key column by i*10**7 so referential
integrity holds within a tile; tile 0 is byte-identical to the source,
so id-pinned query constants still resolve. Texts and embeddings are
EXACT copies across tiles — a deliberately dup-heavy pathological
corpus (every doc sits in an N-way duplicate cluster), which is the
worst case for the dedup/LSH family and grows every `source` group N×
(the worst case for the bounded-group pairwise ops). Used for the
round-6 10× robustness smoke (`BENCH/r06_sf1_smoke_bench.json`).
"""
from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFF = 10**7

KEYS: dict[str, list[str] | None] = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": None,  # fixed dimension tables: copied, not tiled
    "region": None,
}


def _check_key_room(table: str, key: str, col, tiles: int) -> None:
    """Tiles stay disjoint only if every source key is below OFF, and
    the largest tiled key, (tiles-1)*OFF + max, must fit the column
    type; refuse before writing anything otherwise."""
    if not pa.types.is_integer(col.type):
        raise SystemExit(f"{table}.{key}: key column is {col.type}, not integer")
    hi = pc.max(col).as_py()
    if hi is None:
        return
    if hi >= OFF:
        raise SystemExit(
            f"{table}.{key}: source key {hi} >= OFF={OFF}; tiles would "
            "collide. Tile a smaller source or raise OFF."
        )
    top = (tiles - 1) * OFF + hi
    if top > np.iinfo(col.type.to_pandas_dtype()).max:
        raise SystemExit(
            f"{table}.{key}: tiled key {top} overflows {col.type}; "
            "use fewer tiles."
        )


def main() -> None:
    src, dst = sys.argv[1], sys.argv[2]
    tiles = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    for t, keys in KEYS.items():
        tab = pq.read_table(f"{src}/{t}.parquet")
        if keys is None:
            pq.write_table(tab, f"{dst}/{t}.parquet")
            print(t, tab.num_rows)
            continue
        for k in keys:
            _check_key_room(t, k, tab[k], tiles)
        parts = []
        for i in range(tiles):
            tt = tab
            if i > 0:
                for k in keys:
                    col = tt[k]
                    newcol = pc.add_checked(
                        col, pa.scalar(i * OFF, type=col.type)
                    )
                    tt = tt.set_column(
                        tt.schema.get_field_index(k), tt.field(k), newcol
                    )
            parts.append(tt)
        out = pa.concat_tables(parts)
        pq.write_table(out, f"{dst}/{t}.parquet")
        print(t, out.num_rows)
    with open(f"{dst}/_DONE", "w") as fh:
        fh.write(f"synthetic {tiles}x tile of {src} for robustness smoke\n")


if __name__ == "__main__":
    main()
