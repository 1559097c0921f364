"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` writes the engine's star schema plus ``events``,
  ``documents`` and ``embeddings`` as one parquet file per table, with the
  column names and types the engine's catalog reads, at the ``sf0.01``
  row counts.
* ``write_backlog`` writes a log-message backlog ``(ms, seq, id, payload)``
  whose ``payload['key']`` values are ``events.user_id`` values.

The shapes follow the engine's own generated testdata (seed 42; see
TESTDATA.md and FIXTURES.md), as measured and listed in README.md under
*Inputs*: ``user_id`` is uniform over one user per ~67 events, about 4.8% of
documents are a copy of an earlier one with one to three ``dup`` words
appended, and embeddings are independent random unit vectors.

Everything is a pure function of the seed, so the same seed gives the same
bytes on every run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
P_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Rows per table.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
#: Events per distinct ``user_id``: the testdata has 150 users over 10k
#: events at sf0.01 and 1500 over 100k at sf0.1.
EVENTS_PER_USER = 200 / 3
#: Share of documents that copy an earlier document plus ``dup`` words
#: (24 of 500 at sf0.01, 244 of 5000 at sf0.1).
DOC_DUP_RATE = 0.048
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts drawn as whole cents (exactly representable
    decimals, like the engine's own testdata)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over 30 days; ``user_id`` is uniform over
    ``n / EVENTS_PER_USER`` users."""
    gaps = rng.exponential(30 * _US_PER_DAY / n, n).astype(np.int64) + 1
    users = max(1, round(n / EVENTS_PER_USER))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        if texts and rng.random() < DOC_DUP_RATE:
            # planted near-duplicate: an earlier text plus 1-3 "dup" words
            texts.append(texts[rng.integers(len(texts))] + " dup" * int(rng.integers(1, 4)))
            continue
        n_chars = int(rng.integers(44, 578))
        text = " ".join(rng.choice(VOCAB, n_chars // 3))
        texts.append(text[:n_chars])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Independent random unit vectors with uniform labels 0-9: the
    testdata's closest pair has cosine 0.51, so no near-duplicates."""
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    offsets = np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel(), pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels),
        }
    )


def i32(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int32))


def i64(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = SIZES
    nation_region = np.arange(25) % 5
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(nation_region),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(s["customer"])),
                "c_name": pa.array(_names("Customer", s["customer"])),
                "c_nationkey": i32(rng.integers(0, 25, s["customer"])),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s["customer"])),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, s["customer"])),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(s["supplier"])),
                "s_name": pa.array(_names("Supplier", s["supplier"])),
                "s_nationkey": i32(rng.integers(0, 25, s["supplier"])),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s["supplier"])),
            }
        ),
    }
    n_part = s["part"]
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    tables["part"] = pa.table(
        {
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(P_TYPES, n_part)),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(retail),
        }
    )
    n_ord = s["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, s["customer"], n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }
    )
    n_li = s["lineitem"]
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": i64(partkey),
            "l_suppkey": i64(rng.integers(0, s["supplier"], n_li)),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * retail[partkey] * 100) / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_li) * _US_PER_DAY),
        }
    )
    tables["events"] = make_events(rng, s["events"])
    tables["documents"] = _documents(rng, s["documents"])
    tables["embeddings"] = _embeddings(rng, s["embeddings"])
    return tables


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


#: The first message's millisecond stamp; ids advance one ms per 1000 seqs.
BASE_MS = 1_700_000_000_000


#: Distinct keys in the backlog: the users of the sf0.1 ``events`` table
#: (100k events).
KEY_USERS = round(100_000 / EVENTS_PER_USER)


def make_backlog(seed: int, n: int) -> pa.Table:
    """``n`` log messages in (ms, seq) order. Keys are ``user_id`` values
    drawn as ``make_events`` draws them for the sf0.1 ``events`` table."""
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, KEY_USERS, n, dtype=np.int64)
    i = np.arange(n, dtype=np.int64)
    ms = BASE_MS + i // 1000
    seq = i % 1000
    ids = [f"{a}-{b}" for a, b in zip(ms.tolist(), seq.tolist())]
    payload = pa.array(
        [[("key", str(k)), ("n", str(j))] for j, k in enumerate(keys.tolist())],
        type=pa.map_(pa.string(), pa.string()),
    )
    return pa.table(
        {
            "ms": pa.array(ms),
            "seq": pa.array(seq),
            "id": pa.array(ids),
            "payload": payload,
        }
    )


def write_backlog(seed: int, n: int, out_dir: str, files: int = 4) -> pa.Table:
    """Write the backlog as ``files`` parquet files (a few large files, the
    bulk-ingest shape); returns the table."""
    os.makedirs(out_dir, exist_ok=True)
    table = make_backlog(seed, n)
    step = -(-n // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(out_dir, f"part-{f}.parquet"))
    return table
