"""Seeded input generators for the benchmark.

Everything the program reads during a benchmark run is written here,
from the ``--seed`` alone: the base tables (same names, column names
and types as the TPC-H-ish testdata the query registry is written
against), the ``elt_chain`` source increments and the ``cdc_upsert``
change batches. Generation is numpy + pyarrow only (no Spark), so the
same seed gives byte-identical parquet files, and the program receives
only those files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# Base-table sizes: about the testdata's sf0.001 shape. Runs on this
# benchmark are bound by per-query fixed cost (planning, codegen, job
# scheduling), which is what this size exposes.
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "events": 1000, "documents": 500, "embeddings": 500}
LINES_PER_ORDER = 4

_EPOCH = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000
_VOCAB = ("a", "the", "row", "query", "stream", "fast", "spark", "line",
          "small", "customer", "group", "key", "agg", "scan", "slow",
          "table", "part", "merge", "window", "order", "column", "join",
          "vector", "value", "hash", "batch", "sort", "data", "big",
          "filter")
_P_ADJ = ("red", "old", "cold", "hot", "new", "large", "small", "blue")
_P_NOUN = ("bolt", "anvil", "plate", "widget", "gear", "ring", "rod",
           "gizmo")

# elt_chain increments: each cycle covers the next watermark slice of
# this many days, and re-sends a share of keys landed in earlier cycles
# with a later watermark (replays the keep-latest ingest must absorb).
SLICE_DAYS = 30
REPLAY_FRAC = 0.1

# cdc_upsert change batches: Zipf-skewed keys over the seeded snapshot,
# about one change in seven a delete.
ZIPF_A = 1.3
DELETE_FRAC = 1 / 7


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream name): adding a
    table or a batch never shifts the values of another."""
    words = [int(seed) & 0xFFFFFFFF, *stream.encode()]
    return np.random.default_rng(np.random.SeedSequence(words))


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH + days.astype("int64") * _DAY_US,
                    type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "orders:0")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n),
                              pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, n, 1000, 500_000)),
        "o_orderdate": _ts(rng.integers(0, 2400, n)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n)),
    })


def lineitem_table(rng: np.random.Generator, orderkeys: np.ndarray,
                   linenumbers: np.ndarray, shipdays: np.ndarray) -> pa.Table:
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n),
                              pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n),
                                             2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(shipdays),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary. About one in
    eight is a near-copy of an earlier document (a few words changed,
    a ``dup`` marker appended) and a few are exact copies, so the
    dedup, similarity and graph operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kind < 0.14:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join([*words, "dup"]))
        else:
            k = int(rng.integers(12, 80))
            texts.append(" ".join(_VOCAB[j] for j in
                                  rng.integers(0, len(_VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["de", "en", "es", "fr", "zh"], n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 0.15, (10, 64))
    vecs = (centroids[labels] + rng.normal(0, 0.05, (n, 64))).astype(
        "float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def base_tables(seed: int) -> dict[str, pa.Table]:
    """Every table of the registry's data contract, from ``seed``."""
    r = {t: _rng(seed, t) for t in TABLES}
    n_c, n_s, n_p = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    n_o, n_e = SIZES["orders"], SIZES["events"]
    orders = orders_table(seed, n_o)
    n_l = n_o * LINES_PER_ORDER
    okeys = np.repeat(np.arange(n_o), LINES_PER_ORDER)
    odays = ((orders["o_orderdate"].to_numpy() - _EPOCH)
             // np.timedelta64(1, "D")).astype("int64")
    ship = np.repeat(odays, LINES_PER_ORDER) + r["lineitem"].integers(
        1, 120, n_l)
    e_ts = np.sort(r["events"].integers(0, 30 * _DAY_US, n_e))
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(r["customer"].integers(0, 25, n_c),
                                    pa.int32()),
            "c_acctbal": pa.array(_money(r["customer"], n_c, -999, 9999)),
            "c_mktsegment": pa.array(r["customer"].choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_c))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(r["supplier"].integers(0, 25, n_s),
                                    pa.int32()),
            "s_acctbal": pa.array(_money(r["supplier"], n_s, -999, 9999))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": pa.array([
                f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in
                zip(r["part"].integers(0, 8, n_p),
                    r["part"].integers(0, 8, n_p))]),
            "p_brand": pa.array([f"Brand#{i}" for i in
                                 r["part"].integers(1, 26, n_p)]),
            "p_type": pa.array(r["part"].choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                 "STANDARD"], n_p)),
            "p_size": pa.array(r["part"].integers(1, 51, n_p), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + r["part"].integers(0, 1000, n_p) / 10, 1))}),
        "orders": orders,
        "lineitem": lineitem_table(
            r["lineitem"], okeys,
            np.tile(np.arange(1, LINES_PER_ORDER + 1), n_o), ship),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + e_ts,
                           type=pa.timestamp("us")),
            "user_id": pa.array(r["events"].integers(0, 150, n_e),
                                pa.int64()),
            "event_type": pa.array(r["events"].choice(
                ["click", "error", "purchase", "signup", "view"], n_e)),
            "value": pa.array(_money(r["events"], n_e, 0.01, 490)),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               r["events"].integers(0, 100, n_e)])}),
        "documents": _documents(r["documents"], SIZES["documents"]),
        "embeddings": _embeddings(r["embeddings"], SIZES["embeddings"]),
    }


def write_base_tables(seed: int, out_dir: str) -> None:
    """One ``<table>.parquet`` file per table, the testdata layout."""
    for name, table in base_tables(seed).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# elt_chain: watermark-sliced lineitem increments with replayed keys
# --------------------------------------------------------------------------

CHAIN_START_DAY = 3000          # after every base-table date
CHAIN_ORDERS_PER_CYCLE = 750


def chain_increment(seed: int, cycle: int) -> pa.Table:
    """Cycle ``cycle``'s new ``lineitem`` source rows.

    Fresh orders get keys above every earlier cycle's, with line items
    whose watermark lies inside this cycle's slice ``[start, start +
    SLICE_DAYS)`` days. The line items of a ``REPLAY_FRAC`` share of
    earlier cycles' orders are re-sent with a watermark in this slice,
    so the ingest's keep-latest dedupe and the landing zone see
    replayed keys. Every watermark of cycle c is above every watermark
    of cycle c-1, so the bookmark after cycle c is exactly this
    increment's maximum."""
    rng = _rng(seed, f"chain:{cycle}")
    n = CHAIN_ORDERS_PER_CYCLE
    key0 = 1_000_000 + cycle * n
    fresh = np.arange(key0, key0 + n)
    n_rep = int(n * REPLAY_FRAC) if cycle > 0 else 0
    replay = rng.choice(np.arange(1_000_000, key0), n_rep, replace=False) \
        if n_rep else np.empty(0, "int64")
    okeys = np.sort(np.concatenate([fresh, replay]))
    start = CHAIN_START_DAY + cycle * SLICE_DAYS
    lkeys = np.repeat(okeys, LINES_PER_ORDER)
    lnum = np.tile(np.arange(1, LINES_PER_ORDER + 1), len(okeys))
    lday = rng.integers(start, start + SLICE_DAYS, len(lkeys))
    return lineitem_table(rng, lkeys, lnum, lday)


def write_chain_increment(seed: int, cycle: int, source_dir: str) -> dict:
    """Append cycle ``cycle`` to the source folder as one new part file
    under ``<source>/lineitem.parquet/``. Returns its row count, its
    size in bytes and its maximum watermark."""
    data = chain_increment(seed, cycle)
    path = os.path.join(source_dir, "lineitem.parquet",
                        f"part-{cycle:05d}.parquet")
    write_table(data, path)
    return {"rows": data.num_rows, "bytes": os.path.getsize(path),
            "max_watermark": max(data["l_shipdate"].to_pylist())}


# --------------------------------------------------------------------------
# cdc_upsert: Zipf-skewed change batches with deletes
# --------------------------------------------------------------------------

def snapshot_seed(seed: int) -> pa.Table:
    """The orders rows the bucketed snapshot is seeded from, with the
    change-feed columns the merge orders and filters by."""
    base = orders_table(seed, SIZES["orders"])
    n = base.num_rows
    return (base.append_column("seq", pa.array(np.zeros(n, "int64")))
                .append_column("op", pa.array(["U"] * n)))


def change_batch(seed: int, batch: int, rows: int) -> pa.Table:
    """Batch ``batch`` of the change feed: ``rows`` changes whose keys
    are Zipf-skewed over the seeded keys (hot keys change often), with
    about one in seven a delete. ``seq`` rises with the batch and the
    row, so keep-latest has a total order."""
    rng = _rng(seed, f"cdc:{batch}")
    n_keys = SIZES["orders"]
    keys = (rng.zipf(ZIPF_A, rows) - 1) % n_keys
    perm = _rng(seed, "cdc:perm").permutation(n_keys)
    body = orders_table(seed * 7919 + batch, rows)
    body = body.set_column(0, "o_orderkey", pa.array(perm[keys], pa.int64()))
    seq = (batch + 1) * 1_000_000 + np.arange(rows)
    ops = np.where(rng.random(rows) < DELETE_FRAC, "D", "U")
    return (body.append_column("seq", pa.array(seq, pa.int64()))
                .append_column("op", pa.array(ops)))


def write_change_batch(seed: int, batch: int, rows: int,
                       out_dir: str) -> str:
    path = os.path.join(out_dir, f"batch-{batch:05d}.parquet")
    write_table(change_batch(seed, batch, rows), path)
    return path

