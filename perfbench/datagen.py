"""Seeded inputs, written as parquet with the schemas of the engine's
fixture tables (events, documents, lineitem). The same seed gives the
same bytes of data; the program under test sees only these files."""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
WORDS = np.array(
    "batch part spark line column order small sort fast value scan a hash slow group "
    "agg query filter big key window vector table join shuffle stage task plan edge flow".split()
)
LANGS = np.array(["en", "de", "fr", "es", "zh"])
DUP_SHARE = 0.05  # documents that copy an earlier one with one word changed
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + EPOCH_US
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n // 67, 10), n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.gamma(2.0, 60.0, n), 2)),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Space-separated word texts; DUP_SHARE of them are near-duplicates,
    so the dedup operators have work to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(WORDS[rng.integers(0, len(WORDS))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(10, 80)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    orders = max(n // 4, 1)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, max(n // 30, 1), n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(n // 600, 1), n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                694_224_000_000_000 + rng.integers(0, 2500, n) * 86_400_000_000,
                type=pa.timestamp("us"),
            ),
        }
    )


TABLES = {"events": events, "documents": documents, "lineitem": lineitem}


def write_tables(directory: str, seed: int, sizes: dict[str, int]) -> dict[str, str]:
    """Write one parquet file per table named in ``sizes``; returns the
    paths. Each table draws from its own stream of the seed, so adding a
    table does not change the others."""
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, n in sizes.items():
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(TABLES[name](rng, n), path)
        paths[name] = path
    return paths
