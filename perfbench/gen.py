"""Seeded input generators. The same seed always gives byte-identical
parquet files: every random draw comes from a numpy generator keyed on
``(seed, stream, index)``, and pyarrow writes no timestamps or host data
into the file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_INGEST, _LAKE, _CORPUS = 1, 2, 3

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: share of landed events that are invalid (NULL user_id or bad props JSON)
INVALID_SHARE = 0.04
#: 2024-01-01T00:00:00Z in microseconds
_T0_US = 1_704_067_200_000_000
_HOUR_US = 3_600_000_000


def rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` as one plain parquet file; returns its size."""
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# -- ingest: event-schema landing files ------------------------------------

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def event_file(seed: int, index: int, rows: int) -> tuple[pa.Table, np.ndarray]:
    """Landing file ``index``: ``rows`` events one producer emitted within
    one hour, about ``INVALID_SHARE`` of them invalid (NULL ``user_id`` or
    malformed ``props`` JSON). Returns the table and its validity mask."""
    r = rng(seed, _INGEST, index)
    ts = _T0_US + index * _HOUR_US // 4 + np.sort(
        r.integers(0, _HOUR_US, rows)
    )
    user = r.integers(0, 5_000, rows)
    k = r.integers(0, 1_000, rows)
    bad = r.random(rows) < INVALID_SHARE
    null_user = bad & (r.random(rows) < 0.5)
    bad_props = bad & ~null_user
    props = [
        ('{"k": %d' % kk) if b else ('{"k": %d}' % kk)
        for kk, b in zip(k.tolist(), bad_props.tolist())
    ]
    table = pa.table(
        {
            "event_id": pa.array(index * rows + np.arange(rows), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user, pa.int64(), mask=null_user),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), rows)]
            ),
            "value": pa.array(r.integers(1, 100_000, rows) / 100.0),
            "props": pa.array(props, pa.string()),
        },
        schema=EVENT_SCHEMA,
    )
    return table, ~bad


# -- lake_mixed: keyed rows --------------------------------------------------

LAKE_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("grp", pa.string()),
    ("val", pa.float64()),
    ("note", pa.string()),
])
GROUPS = tuple(f"g{i}" for i in range(8))


def lake_rows(seed: int, index: int, ids: np.ndarray) -> pa.Table:
    """Rows for the given ids (new or existing) drawn for operation
    ``index``: integral ``val`` so sums compare exactly, ``ts`` over three
    days so a batch spans a few ``day(ts)`` partitions."""
    r = rng(seed, _LAKE, index)
    n = len(ids)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                _T0_US + r.integers(0, 72 * _HOUR_US, n),
                pa.timestamp("us", tz="UTC"),
            ),
            "grp": pa.array(np.array(GROUPS)[r.integers(0, len(GROUPS), n)]),
            "val": pa.array(r.integers(0, 10_000, n).astype(np.float64)),
            "note": pa.array([f"n{x:012x}" for x in r.integers(0, 2**48, n)]),
        },
        schema=LAKE_SCHEMA,
    )


# -- analytics: TPC-H-style star schema plus LLM-pipeline tables ------------

_WORDS = (
    "batch window spark order data column agg join small line customer "
    "query value a table key scan slow fast row merge part hash sort the "
    "filter group big stream vector embedding token model train eval "
    "shard index cache commit snapshot lake file"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_COLORS = ("red", "blue", "green", "small", "large", "black", "white")
_NOUNS = ("widget", "bolt", "ring", "gear", "valve", "spring", "panel")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
#: day numbers (since the epoch) of 1995-01-01 and 2001-08-01
_D1995, _D2001 = 9131, 11535
_DAY_MS = 86_400_000


def _ms_dates(r: np.random.Generator, n: int, span_extra: int = 0) -> pa.Array:
    days = r.integers(_D1995, _D2001 + span_extra, n)
    return pa.array(days.astype(np.int64) * _DAY_MS, pa.timestamp("ms"))


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten corpus tables at scale factor ``sf`` (lineitem has about
    ``6_000_000 * sf`` rows), in the schemas the query registry reads."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    r = [rng(seed, _CORPUS, i) for i in range(10)]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r[0].integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r[0], -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(
            np.array(_SEGMENTS)[r[0].integers(0, 5, n_cust)]
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r[1].integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r[1], -999.99, 9999.99, n_supp)),
    })
    colors = np.array(_COLORS)[r[2].integers(0, len(_COLORS), n_part)]
    nouns = np.array(_NOUNS)[r[2].integers(0, len(_NOUNS), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{c} {n}" for c, n in zip(colors, nouns)]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in r[2].integers(1, 26, n_part)]
        ),
        "p_type": pa.array(np.array(_PTYPES)[r[2].integers(0, 6, n_part)]),
        "p_size": pa.array(r[2].integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 2000) / 10.0, 2)
        ),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r[3].integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(("F", "O", "P"))[r[3].integers(0, 3, n_ord)]
        ),
        "o_totalprice": pa.array(_money(r[3], 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ms_dates(r[3], n_ord),
        "o_orderpriority": pa.array(
            np.array(_PRIORITIES)[r[3].integers(0, 5, n_ord)]
        ),
    })
    qty = r[4].integers(1, 51, n_li).astype(np.float64)
    part = r[4].integers(0, n_part, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r[4].integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(r[4].integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r[4].integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * (900.0 + (part % 2000) / 10.0), 2)
        ),
        "l_discount": pa.array(r[4].integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r[4].integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(
            np.array(("A", "N", "R"))[r[4].integers(0, 3, n_li)]
        ),
        "l_linestatus": pa.array(
            np.array(("F", "O"))[r[4].integers(0, 2, n_li)]
        ),
        "l_shipdate": _ms_dates(r[4], n_li, span_extra=95),
    })
    ev_ts = _T0_US + np.sort(r[5].integers(0, 30 * 24 * _HOUR_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(
            r[5].integers(0, max(15, n_ev // 66), n_ev), pa.int64()
        ),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[r[5].integers(0, 5, n_ev)]
        ),
        "value": pa.array(np.round(r[5].exponential(50.0, n_ev) + 0.01, 2)),
        "props": pa.array(
            ['{"k": %d}' % k for k in r[5].integers(0, 100, n_ev)]
        ),
    })
    t["documents"] = _documents(r[6], n_doc)
    t["embeddings"] = _embeddings(r[7], n_emb)
    return t


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about one in eight is a near-duplicate of an
    earlier one (a few words replaced), so the dedup kernels find pairs."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < 0.125:
            toks = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(1, 4))):
                toks[int(r.integers(0, len(toks)))] = str(
                    words[int(r.integers(0, len(words)))]
                )
        else:
            toks = list(words[r.integers(0, len(words), int(r.integers(8, 90)))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[r.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(r: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Ten label clusters of ``dim``-dimensional float32 vectors."""
    centers = r.normal(0.0, 1.0, (10, dim))
    label = r.integers(0, 10, n)
    vecs = (centers[label] + r.normal(0.0, 0.6, (n, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_corpus(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the corpus as ``<out_dir>/<table>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in corpus_tables(seed, sf).items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
