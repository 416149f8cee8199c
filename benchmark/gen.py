"""The benchmark's inputs, written as parquet under one directory.

* The ten registry tables (``region`` ... ``embeddings``) are the
  repository's reference fixtures (TESTDATA.md: the seed-42 star schema
  plus ``documents``/``embeddings``/``events``), kept in
  ``benchmark/data/sf<scale>/`` at sf0.01 and sf0.001 and copied as
  they are: the queries' costs (LSH candidates, tf-idf, BPE, kNN)
  follow those tables' real distributions.
* ``etl_source``, the reference-shaped cast-matrix table of
  FIXTURES.md §B, is generated from the seed: bit, tinyint, decimal,
  money, float, date, ms timestamp, strings with nulls and empties,
  guid and binary columns, with column names that need standardizing.

The same seed always gives byte-identical values.  Run it on its own to
look at the inputs::

    python3 benchmark/gen.py --out /tmp/inputs --sf 0.01 --etl-rows 200000 --seed 1
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import uuid
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SCALES = ("0.01", "0.001")


def star_tables(out_dir: str, sf: str) -> dict[str, int]:
    """Copy the ten registry tables at scale ``sf``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for t in STAR_TABLES:
        src = os.path.join(FIXTURE_DIR, f"sf{sf}", f"{t}.parquet")
        shutil.copyfile(src, os.path.join(out_dir, f"{t}.parquet"))
        rows[t] = pq.ParquetFile(src).metadata.num_rows
    return rows


def etl_source(out_dir: str, rows: int, seed: int) -> str:
    """Write the reference-shaped ``etl_source`` table (FIXTURES.md §B)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = rows
    # one row in 64 repeats an earlier row exactly (a history load
    # re-reads rows), so the row-hash check has equal rows to compare
    base = np.arange(n)
    rep = (base % 64 == 63) & (base > 64)
    src = np.where(rep, base - 1 - rng.integers(0, 64, n), base)
    src = np.where(rep, src - (src % 64 == 63), src)  # never point at a repeat

    def pick(vals: np.ndarray) -> np.ndarray:
        return vals[src]

    bit = pick(rng.integers(0, 2, n).astype(bool))
    tiny = pick(rng.integers(0, 256, n) - 128).astype(np.int8)
    amount_units = pick(rng.integers(-10**12, 10**12, n))
    money_units = pick(rng.integers(-10**10, 10**10, n))
    ratio = pick(rng.normal(0.0, 1000.0, n).astype(np.float32))
    days = pick(rng.integers(-120_000, 40_000, n))  # 1641 .. 2079
    ms = pick(rng.integers(0, 60 * 365 * 86400 * 1000, n))
    name_len = pick(rng.integers(0, 24, n))
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz ABCDEFG", dtype=np.uint8)
    name_chars = letters[rng.integers(0, len(letters), (n, 24))]
    guid_bytes = rng.integers(0, 256, (n, 16), dtype=np.uint8)
    pay_len = pick(rng.integers(0, 48, n))
    pay_bytes = rng.integers(0, 256, (n, 48), dtype=np.uint8)
    null_draw = rng.random((n, 9)) < 0.05
    null_draw = null_draw[src]

    def nullable(values: list, j: int) -> list:
        return [None if null_draw[i, j] else v for i, v in enumerate(values)]

    names = [bytes(name_chars[s, : name_len[i]]).decode() for i, s in enumerate(src)]
    guids = [str(uuid.UUID(bytes=bytes(guid_bytes[s]))) for s in src]
    payloads = [bytes(pay_bytes[s, : pay_len[i]]) for i, s in enumerate(src)]
    epoch = dt.date(1970, 1, 1)
    table = pa.table({
        "id": pa.array((src + 1).astype(np.int64)),
        "Is Active": pa.array(nullable(bit.tolist(), 0), pa.bool_()),
        "tiny-flag": pa.array(nullable(tiny.tolist(), 1), pa.int8()),
        "amount": pa.array(
            nullable([Decimal(int(u)).scaleb(-6) for u in amount_units], 2),
            pa.decimal128(18, 6)),
        "price_money": pa.array(
            nullable([Decimal(int(u)).scaleb(-4) for u in money_units], 3),
            pa.decimal128(19, 4)),
        "ratio": pa.array(nullable(ratio.tolist(), 4), pa.float32()),
        "Birth - Date": pa.array(
            nullable([epoch + dt.timedelta(days=int(d)) for d in days], 5), pa.date32()),
        "created_at": pa.array(nullable(ms.tolist(), 6), pa.timestamp("ms")),
        # a null name is NULL, a zero-length one is ''; both occur
        "name": pa.array(nullable(names, 7), pa.string()),
        "guid": pa.array(guids, pa.string()),
        "payload": pa.array(nullable(payloads, 8), pa.binary()),
    })
    path = os.path.join(out_dir, "etl_source.parquet")
    pq.write_table(table, path, row_group_size=65536)
    return path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", choices=SCALES, default="0.01")
    ap.add_argument("--etl-rows", type=int, default=0)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    rows = star_tables(args.out, args.sf)
    if args.etl_rows:
        etl_source(args.out, args.etl_rows, args.seed)
        rows["etl_source"] = args.etl_rows
    print(rows)


if __name__ == "__main__":
    main()
