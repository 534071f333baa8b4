"""Seeded input generators for the benchmark.

Every table the program reads is generated here from the run's seed, with
the schema and value domains of the engine's synthetic TPC-H-style star
schema (the ``region .. embeddings`` tables ``Engine.register_sf_dir``
expects). The same seed writes byte-identical files; another seed writes
other files of the same sizes.

Two input properties are set on purpose and reported with each run:

- ``near_dup_share``: the share of documents that are a near-duplicate
  (one token replaced) of another document. Dedup cost and recall depend
  on it.
- ``late_share``: the share of each events batch whose timestamps fall on
  the two days before the batch's new day. It decides how many table
  partitions a merge rewrites.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes (rows) of the tpch_sql inputs; lineitem is the ~600k-row fact.
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
}
N_DOCS = 5_000
NEAR_DUP_SHARE = 0.20
N_VECS = 2_000
VEC_DIM = 64
N_LABELS = 10
EVENTS_DAYS = 30
EVENTS_PER_DAY = 3_400  # 30 days ~ 100k rows, the size of the static events table
LATE_SHARE = 0.05
N_USERS = 1_500
EVENTS_START = dt.date(2024, 1, 1)

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "large", "hot", "cold", "small", "new", "blue", "old")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per table, so adding a table never shifts
    another table's values for the same seed."""
    return np.random.default_rng([seed, *stream.encode()])


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _dates(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, size=n)
    base = np.datetime64(lo, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)



def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """The seven star-schema tables (uniform, independent columns)."""
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    nk = np.arange(SIZES["nation"], dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": nk,
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": nk % 5,
        }
    )
    r = _rng(seed, "customer")
    n = SIZES["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": r.integers(0, 25, size=n, dtype=np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n),
            "c_mktsegment": _pick(r, SEGMENTS, n),
        }
    )
    r = _rng(seed, "supplier")
    n = SIZES["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": r.integers(0, 25, size=n, dtype=np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n),
        }
    )
    r = _rng(seed, "part")
    n = SIZES["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(r, names, n),
            "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, size=n)]),
            "p_type": _pick(r, PART_TYPES, n),
            "p_size": r.integers(1, 51, size=n, dtype=np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
        }
    )
    r = _rng(seed, "orders")
    n = SIZES["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, SIZES["customer"], size=n, dtype=np.int64),
            "o_orderstatus": _pick(r, ("F", "O", "P"), n),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n),
            "o_orderdate": _dates(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": _pick(r, PRIORITIES, n),
        }
    )
    r = _rng(seed, "lineitem")
    n = SIZES["lineitem"]
    okey = r.integers(0, SIZES["orders"], size=n, dtype=np.int64)
    # l_linenumber: 1-based position of the row among its order's rows
    order = np.argsort(okey, kind="stable")
    sorted_keys = okey[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    linenumber = np.empty(n, dtype=np.int32)
    linenumber[order] = np.arange(n) - run_start + 1
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": r.integers(0, SIZES["part"], size=n, dtype=np.int64),
            "l_suppkey": r.integers(0, SIZES["supplier"], size=n, dtype=np.int64),
            "l_linenumber": linenumber,
            "l_quantity": r.integers(1, 51, size=n).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n),
            "l_discount": np.round(r.integers(0, 11, size=n) * 0.01, 2),
            "l_tax": np.round(r.integers(0, 9, size=n) * 0.01, 2),
            "l_returnflag": _pick(r, ("A", "N", "R"), n),
            "l_linestatus": _pick(r, ("F", "O"), n),
            "l_shipdate": _dates(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        }
    )
    return out


def documents(seed: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """``N_DOCS`` documents drawn from ``VOCAB``; ``NEAR_DUP_SHARE`` of them
    copy an original document with one token replaced by another word.

    Returns the table and the injected (original, duplicate) pairs as
    ``(smaller doc_id, larger doc_id)``, the ground truth for dedup recall."""
    r = _rng(seed, "documents")
    n_dup = int(round(N_DOCS * NEAR_DUP_SHARE))
    n_orig = N_DOCS - n_dup
    lengths = r.integers(10, 101, size=n_orig)
    words = np.asarray(VOCAB, dtype=object)
    toks = [list(words[r.integers(0, len(VOCAB), size=k)]) for k in lengths]
    srcs = r.integers(0, n_orig, size=n_dup)
    for src in srcs:
        t = list(toks[src])
        pos = int(r.integers(0, len(t)))
        # a different word at one position: near, never exact
        t[pos] = words[(VOCAB.index(t[pos]) + int(r.integers(1, len(VOCAB)))) % len(VOCAB)]
        toks.append(t)
    # doc ids are a seeded permutation, so duplicates interleave with originals
    ids = r.permutation(N_DOCS).astype(np.int64)
    pairs = sorted(
        tuple(sorted((int(ids[src]), int(ids[n_orig + j]))))
        for j, src in enumerate(srcs)
    )
    text = [" ".join(t) for t in toks]
    table = pa.table(
        {
            "doc_id": ids,
            "text": pa.array(text, pa.string()),
            "lang": _pick(r, LANGS, N_DOCS, p=LANG_P),
            "source": pa.array([f"src{i}" for i in r.integers(0, 20, size=N_DOCS)]),
            "n_chars": np.array([len(s) for s in text], dtype=np.int64),
        }
    ).sort_by("doc_id")
    return table, pairs


def embeddings(seed: int) -> pa.Table:
    """``N_VECS`` unit vectors: one of ``N_LABELS`` seeded centres plus noise."""
    r = _rng(seed, "embeddings")
    centres = r.normal(size=(N_LABELS, VEC_DIM))
    labels = r.integers(0, N_LABELS, size=N_VECS, dtype=np.int32)
    v = centres[labels] + r.normal(scale=0.8, size=(N_VECS, VEC_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": labels,
        }
    )


def events_rows(
    rng: np.random.Generator, first_id: int, day: dt.date, n: int
) -> pa.Table:
    """``n`` events with timestamps uniform over ``day``."""
    base = np.datetime64(day, "us").astype(np.int64)
    ts = np.sort(base + rng.integers(0, _US_PER_DAY, size=n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, size=n, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def events_history(seed: int) -> list[pa.Table]:
    """The initial ``EVENTS_DAYS``-day window, one table per day."""
    r = _rng(seed, "events")
    out = []
    for i in range(EVENTS_DAYS):
        out.append(events_rows(r, i * EVENTS_PER_DAY, EVENTS_START + dt.timedelta(i), EVENTS_PER_DAY))
    return out


def events_batch(seed: int, cycle: int) -> tuple[pa.Table, dt.date]:
    """Batch ``cycle`` (0-based) of the ingest stream: one new day after the
    window plus ``LATE_SHARE`` late rows spread over the two days before it.
    Returns the batch and its new day."""
    r = _rng(seed, f"events-batch-{cycle}")
    day = EVENTS_START + dt.timedelta(EVENTS_DAYS + cycle)
    n_late = int(round(EVENTS_PER_DAY * LATE_SHARE))
    first = (EVENTS_DAYS + cycle) * EVENTS_PER_DAY * 2  # ids never collide across batches
    parts = [events_rows(r, first, day, EVENTS_PER_DAY)]
    n_prev = n_late // 2
    for back, k in ((1, n_prev), (2, n_late - n_prev)):
        parts.append(events_rows(r, first + EVENTS_PER_DAY + back * n_late, day - dt.timedelta(back), k))
    return pa.concat_tables(parts), day


def write_sf_dir(seed: int, sf_dir: str, names: tuple[str, ...]) -> dict:
    """Write the ``names`` tables as ``<sf_dir>/<name>.parquet``; returns
    the input description recorded with the run."""
    os.makedirs(sf_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    out: dict = {}
    if set(names) & set(SIZES):
        tables.update(tpch_tables(seed))
    if "documents" in names:
        tables["documents"], pairs = documents(seed)
        out["near_dup_share"] = len(pairs) / N_DOCS
        out["injected_pairs"] = pairs
    if "embeddings" in names:
        tables["embeddings"] = embeddings(seed)
    if "events" in names:
        tables["events"] = pa.concat_tables(events_history(seed))
    out["rows"] = {n: tables[n].num_rows for n in names}
    out["bytes"] = sum(_write(tables[n], f"{sf_dir}/{n}.parquet") for n in names)
    return out


def write_events_table(seed: int, table_dir: str) -> list[pa.Table]:
    """The events window as a hive-partitioned table, one file per day."""
    days = events_history(seed)
    for i, t in enumerate(days):
        d = EVENTS_START + dt.timedelta(i)
        os.makedirs(f"{table_dir}/day={d.isoformat()}", exist_ok=True)
        pq.write_table(t, f"{table_dir}/day={d.isoformat()}/part-0.parquet")
    return days
