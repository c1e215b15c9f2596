"""Seeded benchmark inputs.

The lineitem table is a fixed function of its row index (same volume and
value distributions for every seed, shaped like the engine's sf-scaled test
tables). The seed picks a bijective remap of `l_orderkey` over its key
domain, which changes partition keys, tokens, bloom bits and index order but
not the volume, and it picks the point-get key sequence. The engine only
sees the files written here.
"""

import math
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42


def key_space(rows):
    """Order keys: four lineitem rows per key on average."""
    return max(1, rows // 4)


def remap_params(seed, keys):
    """(a, b) of the affine bijection k -> (a*k + b) mod keys, a coprime to
    keys."""
    rnd = random.Random(seed)
    a = rnd.randrange(1, keys) if keys > 1 else 1
    while math.gcd(a, keys) != 1:
        a = rnd.randrange(1, keys)
    return a, rnd.randrange(keys)


def remap(k, a, b, keys):
    return (a * k + b) % keys


def lineitem(seed, rows):
    """The lineitem table as a pyarrow Table, keys remapped by `seed`."""
    g = np.random.Generator(np.random.PCG64(BASE_SEED))
    keys = key_space(rows)
    a, b = remap_params(seed, keys)
    raw = g.integers(0, keys, rows, dtype=np.int64)
    qty = g.integers(1, 51, rows).astype(np.float64)
    price = qty * g.integers(900, 2900, rows) + g.integers(0, 100, rows) / 100.0
    ship = (np.datetime64("1995-01-02", "us")
            + g.integers(0, 2498, rows).astype("timedelta64[D]"))
    return pa.table({
        "l_orderkey": remap(raw, a, b, keys),
        "l_partkey": g.integers(0, 2000, rows, dtype=np.int64),
        "l_suppkey": g.integers(0, 100, rows, dtype=np.int64),
        "l_linenumber": g.integers(1, 8, rows).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": g.integers(0, 11, rows) / 100.0,
        "l_tax": g.integers(0, 9, rows) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[g.integers(0, 3, rows)],
        "l_linestatus": np.array(["O", "F"])[g.integers(0, 2, rows)],
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })


def get_sequence(seed, existing, n):
    """Point-get keys: even positions are existing keys, odd positions
    absent ones (the negation of an existing key minus one; every generated
    key is non-negative, so it never exists)."""
    g = np.random.Generator(np.random.PCG64(seed))
    picks = np.asarray(existing)[g.integers(0, len(existing), n)]
    present = np.arange(n) % 2 == 0
    return np.where(present, picks, -picks - 1), present


def write(seed, rows, dirs, gets_file, n_gets):
    """Write the table under each of `dirs` and the get sequence to
    `gets_file` ("<key> <1|0>" per line). Returns the input record."""
    table = lineitem(seed, rows)
    for d in dirs:
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, d / "lineitem.parquet")
    existing = np.unique(table.column("l_orderkey").to_numpy())
    keys, present = get_sequence(seed, existing, n_gets)
    gets_file.write_text("".join(f"{k} {int(p)}\n" for k, p in zip(keys, present)))
    a, b = remap_params(seed, key_space(rows))
    return {"rows": rows, "key_space": key_space(rows), "remap_a": a,
            "remap_b": b, "partitions": int(len(existing))}
