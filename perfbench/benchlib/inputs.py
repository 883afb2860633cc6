"""Seeded benchmark inputs derived from the bundled sf0.01 tables: the four
tables the workloads and their oracles read.

Seed 0 uses the tables unchanged. Any other seed keeps a hash-keyed subset
of each fact table (events, embeddings): the KEEP share of its rows with
the lowest seeded hash of their key, so every seed's tables have the same
row counts and only the chosen rows differ. documents keep every row, in a
seeded order, because a subset changes the near-duplicate graph's diameter
and with it the number of connected-components rounds (one or two,
depending on the seed) and jobs a pass of the iterative workload runs,
which would make the seed, not the program, set the pass's work. nation,
a dimension table, is always copied whole.
"""
import os
import random
import shutil

import numpy as np
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "data", "sf0.01")
TABLES = ["nation", "events", "documents", "embeddings"]
FACT_KEYS = {"events": "event_id", "embeddings": "vec_id"}
PERMUTED = {"documents": "doc_id"}
KEEP = 0.9


def seeded_hash(keys, seed):
    """splitmix64 of key xor a seed-derived constant, as uint64."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) ^ np.uint64(
            (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def keep_mask(keys, seed, share=KEEP):
    """Boolean mask keeping floor(share * n) rows: those with the lowest
    seeded hash (ties broken by position)."""
    keys = np.asarray(keys)
    n = len(keys)
    order = np.argsort(seeded_hash(keys, seed), kind="stable")
    mask = np.zeros(n, dtype=bool)
    mask[order[: int(share * n)]] = True
    return mask


def generate(dst, seed, base=BASE):
    """Write the seed's tables to dst; returns {table: rows}."""
    os.makedirs(dst, exist_ok=True)
    rows = {}
    for t in TABLES:
        src = os.path.join(base, f"{t}.parquet")
        out = os.path.join(dst, f"{t}.parquet")
        if seed == 0 or t not in (*FACT_KEYS, *PERMUTED):
            shutil.copyfile(src, out)
            rows[t] = pq.ParquetFile(out).metadata.num_rows
            continue
        table = pq.read_table(src)
        if t in PERMUTED:
            keys = table[PERMUTED[t]].to_numpy()
            table = table.take(np.argsort(seeded_hash(keys, seed), kind="stable"))
        else:
            table = table.filter(keep_mask(table[FACT_KEYS[t]].to_numpy(), seed))
        pq.write_table(table, out)
        rows[t] = table.num_rows
    return rows


def op_order(ops, seed):
    """The pass order of a workload's operations: as listed for seed 0,
    a seeded shuffle otherwise."""
    ops = list(ops)
    if seed != 0:
        random.Random(seed).shuffle(ops)
    return ops
