"""Seeded input generators. Everything here is numpy + pyarrow only: the
program under test never takes part in making its own inputs, and one
seed always yields byte-identical files.

* ``write_tables``: the ten fixture tables the registry queries read
  (region nation customer supplier part orders lineitem events
  documents embeddings), same schemas and value domains as the tables
  TESTDATA.md describes, sized by ``sf`` (1.0 = 6M lineitem rows).
* ``KafkaFiles``: Kafka-record-shaped parquet files for the files
  source a replication route reads (topic, partition, offset, ts_sec,
  key, binary value with heavy-tailed sizes, due_ms). Offsets are
  contiguous per (topic, partition) across files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixtures.SNAPSHOT_T1 / SNAPSHOT_T2 (the control-plane snapshot cutoffs)
SNAPSHOT_T1 = 1705708800
SNAPSHOT_T2 = 1706313600
JAN_2024 = 1704067200

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
N_LABELS = 10

_WRITE_OPTS = dict(compression="snappy", write_statistics=True)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, **_WRITE_OPTS)
    os.replace(tmp, path)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n)


def _ts_us_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n: int, n_users: int) -> pa.Table:
    """The event log the replication-domain views derive from
    (fixtures.records: topic=event_type, partition=user_id % 4,
    offset=event_id). One partition, (click, 0), is quiet between the
    two snapshot cutoffs and busy after them, so the no-progress
    detector has a real stalled partition to find."""
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + JAN_2024 * 1_000_000
    user = rng.integers(0, n_users, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    ts_sec = ts // 1_000_000
    stall = (
        (etype == EVENT_TYPES.index("click"))
        & (user % 4 == 0)
        & (ts_sec > SNAPSHOT_T1)
        & (ts_sec <= SNAPSHOT_T2)
    )
    etype[stall] = EVENT_TYPES.index("view")
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
            "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
            "props": pa.array(props),
        }
    )


def documents_table(rng, n: int) -> pa.Table:
    """Word-salad docs over a 31-word vocabulary; about one doc in
    twenty is a near-duplicate of an earlier one with ' dup' appended
    one to three times, so the dedup family finds real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 4 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 4)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng, n: int) -> pa.Table:
    """Unit-scale float vectors around ten label centres."""
    centres = rng.normal(0.0, 0.15, (N_LABELS, EMB_DIM))
    label = rng.integers(0, N_LABELS, n)
    vec = (centres[label] + rng.normal(0.0, 0.1, (n, EMB_DIM))).astype(np.float32)
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables for ``sf`` into ``out_dir``; returns
    row counts. Deterministic in (seed, sf)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = max(2000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
            ),
        }
    )
    odays = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts_us_from_days(odays),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    okey = np.sort(rng.integers(0, n_ord, n_line))
    # 1-based line number within each order
    first = np.r_[True, okey[1:] != okey[:-1]]
    idx = np.arange(n_line)
    start = np.maximum.accumulate(np.where(first, idx, 0))
    linenumber = (idx - start) % 7 + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(linenumber.astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_us_from_days(_days(rng, "1995-01-02", "2001-11-04", n_line)),
        }
    )
    t["events"] = events_table(rng, n_ev, n_users)
    t["documents"] = documents_table(rng, n_docs)
    t["embeddings"] = embeddings_table(rng, n_emb)
    for name, tbl in t.items():
        _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in t.items()}


# ---------------------------------------------------------------------------
# Kafka-record files for the replication route
# ---------------------------------------------------------------------------

# Source topics: two are renamed by the route's topic mapping
# (fixtures.TOPIC_MAPPING_ROWS), three destination topics carry a
# partition count so P2 remaps (fixtures.PARTITION_COUNT_ROWS), and the
# rest pass through with a NULL destination partition.
KAFKA_TOPICS = ["click", "purchase", "signup", "view", "error"]
N_SRC_PARTITIONS = 4

KAFKA_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("ts_sec", pa.int64()),
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("due_ms", pa.int64()),
    ]
)


class KafkaFiles:
    """Deterministic stream of Kafka-record files. Each call to
    ``write`` emits the next file of ``n`` records; offsets continue
    per (topic, partition) across calls. Payload sizes are Pareto
    (alpha 1.5, 64 B minimum, 16 KiB cap); about 1% of records carry a
    non-positive timestamp (P3 normalises them to NULL) and 20% a
    NULL key."""

    def __init__(self, out_dir: str, seed: int) -> None:
        self.out_dir = out_dir
        self.rng = np.random.default_rng([seed, 2])
        self.next_offset = np.zeros(
            (len(KAFKA_TOPICS), N_SRC_PARTITIONS), dtype=np.int64
        )
        self.n_files = 0
        self.n_records = 0
        # one random payload pool; each record slices its bytes from it
        self._pool = self.rng.integers(0, 256, 1 << 16, dtype=np.uint8).tobytes()
        os.makedirs(out_dir, exist_ok=True)

    def _batch(self, n: int, due_ms: int) -> pa.Table:
        rng = self.rng
        topic = rng.integers(0, len(KAFKA_TOPICS), n)
        part = rng.integers(0, N_SRC_PARTITIONS, n)
        # offsets contiguous per (topic, partition): rank within group
        key = topic * N_SRC_PARTITIONS + part
        order = np.argsort(key, kind="stable")
        sk = key[order]
        group_start = np.r_[0, np.flatnonzero(sk[1:] != sk[:-1]) + 1]
        rank = np.arange(n) - np.repeat(group_start, np.diff(np.r_[group_start, n]))
        base = self.next_offset.reshape(-1)
        offset = np.empty(n, dtype=np.int64)
        offset[order] = base[sk] + rank
        base += np.bincount(key, minlength=base.size)
        ts = JAN_2024 + rng.integers(0, 30 * 86400, n)
        ts[rng.random(n) < 0.01] = -1
        sizes = np.minimum((64 * (1.0 + rng.pareto(1.5, n))).astype(np.int64), 16384)
        starts = rng.integers(0, len(self._pool) - 16384, n)
        pool = self._pool
        values = [pool[s : s + z] for s, z in zip(starts.tolist(), sizes.tolist())]
        keys = [
            None if nk else b"k%d" % k
            for nk, k in zip((rng.random(n) < 0.2).tolist(), rng.integers(0, 1000, n).tolist())
        ]
        return pa.table(
            [
                pa.array([KAFKA_TOPICS[i] for i in topic]),
                pa.array(part.astype(np.int32)),
                pa.array(offset),
                pa.array(ts.astype(np.int64)),
                pa.array(keys, pa.binary()),
                pa.array(values, pa.binary()),
                pa.array(np.full(n, due_ms, dtype=np.int64)),
            ],
            schema=KAFKA_SCHEMA,
        )

    def write(self, n: int, due_ms: int = 0) -> str:
        """Write the next file atomically (write to a dot-file, then
        rename into place: the files source skips hidden names)."""
        path = os.path.join(self.out_dir, f"part-{self.n_files:06d}.parquet")
        tmp = os.path.join(self.out_dir, f".part-{self.n_files:06d}.parquet.tmp")
        pq.write_table(self._batch(n, due_ms), tmp, **_WRITE_OPTS)
        os.replace(tmp, path)
        self.n_files += 1
        self.n_records += n
        return path
