"""Seeded input generation for the benchmark.

Every input the benchmark feeds the engine is made here from ``--seed``:
the ten catalog tables (the same schemas and value domains as the engine's
synthetic TPC-H-style testdata) and the change-event and session-event
files the stream workload replays. The same seed gives byte-identical
inputs; nothing is read from outside the checkout.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

#: rows per generated table (the sf0.001 shape of the engine's testdata)
BASE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def _days(start: dt.date, end: dt.date, rng: np.random.Generator, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables for ``seed``, sized by ``BASE_ROWS``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = BASE_ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = BASE_ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = BASE_ROWS["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = BASE_ROWS["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, no),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = BASE_ROWS["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, nl),
        }
    )
    ne = BASE_ROWS["events"]
    # 30 days of events in id order, microsecond stamps, 15 users per 1k events
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(15, ne * 15 // 1000), ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = BASE_ROWS["documents"]
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)) for k in lens]
    # a few exact duplicates, as in the engine's testdata
    for dst, src in rng.integers(0, nd, (max(1, nd // 600), 2)):
        texts[dst] = texts[src]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = BASE_ROWS["embeddings"]
    vec = rng.standard_normal((nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> str:
    """Write the tables as ``<name>.parquet`` under ``out_dir`` (idempotent)."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), version="2.6")
    open(done, "w").close()
    return out_dir


# --------------------------------------------------------------------------
# stream inputs
# --------------------------------------------------------------------------
def change_event(i: int, coll: str, due: float, payload: str) -> str:
    """One change-stream envelope line; ``_id`` is the resume token and sorts
    in generation order, ``fullDocument`` carries the creation stamp."""
    return json.dumps(
        {
            "_id": json.dumps({"_data": f"{i:012d}"}),
            "operationType": "insert",
            "clusterTime": dt.datetime.fromtimestamp(due, dt.timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%S.%fZ"
            ),
            "ns": {"db": "bench", "coll": coll},
            "documentKey": json.dumps({"_id": i}),
            "fullDocument": json.dumps({"_id": i, "due": due, "payload": payload}),
        }
    )


def write_event_file(path: str, lines: list[str], mtime: float | None = None) -> None:
    """Write ``lines`` to ``path`` atomically (hidden temp name, then rename)
    so the file source never lists a partial file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def payloads(seed: int, n: int) -> list[str]:
    """Seeded document bodies of varied length (24-160 chars)."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(24, 161, n)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)
    return [alphabet[rng.integers(0, 36, k)].tobytes().decode() for k in lens]


def write_cdc_backlog(
    events_dir: str, seed: int, files: int, per_file: int, first_id: int = 0
) -> int:
    """A pre-written change-event backlog: ``files`` files of ``per_file``
    events, ids increasing across files, mtimes one second apart so the file
    source takes them in id order. Returns the number of events written."""
    os.makedirs(events_dir, exist_ok=True)
    body = payloads(seed, files * per_file)
    for f in range(files):
        lines = [
            change_event(i, "backlog", float(EPOCH_2024 + i), body[i - first_id])
            for i in range(first_id + f * per_file, first_id + (f + 1) * per_file)
        ]
        write_event_file(
            os.path.join(events_dir, f"part-{f:05d}.json"), lines, mtime=EPOCH_2024 + f
        )
    return files * per_file


def write_session_backlog(events_dir: str, seed: int, files: int, per_file: int) -> int:
    """Session-window input: ``files`` files of in-order user events whose
    timestamps never step back, so no row is late for the watermark."""
    os.makedirs(events_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    total = files * per_file
    gaps = rng.exponential(4.0, total)  # seconds between events
    ts = EPOCH_2024 + np.cumsum(gaps)
    users = rng.integers(0, max(1, total // 20), total)
    etype = rng.integers(0, len(EVENT_TYPES), total)
    value = np.round(rng.exponential(50.0, total), 2)
    for f in range(files):
        lines = []
        for i in range(f * per_file, (f + 1) * per_file):
            stamp = dt.datetime.fromtimestamp(ts[i], dt.timezone.utc)
            lines.append(
                json.dumps(
                    {
                        "event_id": i,
                        "ts": stamp.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                        "user_id": int(users[i]),
                        "event_type": EVENT_TYPES[etype[i]],
                        "value": float(value[i]),
                    }
                )
            )
        write_event_file(
            os.path.join(events_dir, f"part-{f:05d}.json"), lines, mtime=EPOCH_2024 + f
        )
    return total
