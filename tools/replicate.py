#!/usr/bin/env python3
"""Replicate a corpus directory N times, as a corpus directory.

Usage: python3 tools/replicate.py <srcDir> <N> <outDir>

Every `<t>.parquet` of <srcDir> becomes one flat parquet file of the
same name in <outDir>, so `graft.Verify` + `tools/check.py` and
`graft.Bench` (`SPARK_GRAFT_SF_DIR`) run on the replica unchanged:

  * keyed tables hold N copies of their rows. Replica r adds r * 10^9
    to every key column, so joins stay aligned within each replica and
    never match across replicas;
  * dimension tables are copied once.

Why 10^9: it is above the largest planted-id offset in the engine
(`Multimodal.M5TwinOffset` = 10^6), so planted ids never reach the next
replica; and it is divisible by 5 and 10, so per-id folds such as
`pmod(user_id, 5)` (the churn model's split) and `pmod(doc_id, 10)`
(m5's twins) fall the same way in every replica.

pyarrow, not Spark, writes the copies: every parquet logical type of
the source survives as it is (e.g. `events.ts` stays TIMESTAMP(MICROS,
isAdjustedToUTC=false)), and the result is one file per table with no
`_SUCCESS` or `.crc` beside it.
"""
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10 ** 9

# table -> the key columns offset per replica
KEYS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
}
# tables every replica shares
DIMENSIONS = {"region", "nation", "supplier", "part"}


def shifted(table: pa.Table, keys, r: int) -> pa.Table:
    """`table` with r * OFFSET added to each key column (nulls stay null)."""
    for k in keys:
        i = table.schema.get_field_index(k)
        col = table.column(i)
        if col.type != pa.int64():
            raise SystemExit(f"replicate: key {k} is {col.type}, expected int64")
        table = table.set_column(i, table.schema.field(i),
                                 pc.add_checked(col, pa.scalar(r * OFFSET, pa.int64())))
    return table


def replicate_table(src: str, dst: str, keys, n: int) -> int:
    """Write `n` offset copies of `src` to `dst`; returns the rows written."""
    table = pq.read_table(src)
    for k in keys:
        lo, hi = pc.min(table.column(k)).as_py(), pc.max(table.column(k)).as_py()
        if lo is not None and not (0 <= lo and hi < OFFSET):
            raise SystemExit(f"replicate: {src} {k} spans [{lo}, {hi}], "
                             f"outside [0, {OFFSET}): replicas would collide")
    with pq.ParquetWriter(dst, table.schema) as w:
        for r in range(n):
            w.write_table(shifted(table, keys, r))
    return table.num_rows * n


def main(argv) -> None:
    if len(argv) != 4:
        raise SystemExit(__doc__.strip().splitlines()[2])
    src_dir, n, out_dir = argv[1], int(argv[2]), argv[3]
    if n < 1:
        raise SystemExit("replicate: N must be >= 1")
    if os.path.realpath(src_dir) == os.path.realpath(out_dir):
        raise SystemExit("replicate: outDir must differ from srcDir")
    names = sorted(f[:-len(".parquet")] for f in os.listdir(src_dir)
                   if f.endswith(".parquet"))
    unknown = [t for t in names if t not in KEYS and t not in DIMENSIONS]
    if unknown:
        raise SystemExit(f"replicate: no replication rule for {unknown}; "
                         "add the table to KEYS or DIMENSIONS")
    os.makedirs(out_dir, exist_ok=True)
    for t in names:
        src, dst = (os.path.join(d, f"{t}.parquet") for d in (src_dir, out_dir))
        if t in DIMENSIONS:
            shutil.copyfile(src, dst)
            rows = pq.read_metadata(dst).num_rows
        else:
            rows = replicate_table(src, dst, KEYS[t], n)
        print(f"[replicate] {t} rows={rows}")


if __name__ == "__main__":
    main(sys.argv)
