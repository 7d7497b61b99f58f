"""Seeded input generation: writes the ten base tables the catalog registers
(`kalytical_spark.domain.BASE_TABLES`) as parquet under one directory.

    python3 perfbench/gen.py OUT_DIR SEED [full|small]

The same (seed, scale) always writes the same bytes. Only `supplier`
(one pipeline per row), `events` (the lifecycle log) and `documents` (the
curation corpus) drive the workloads; the other tables are written small
because `catalog.register` reads every base table's schema.

The shapes follow the repository's sf0.1 ("full") and sf0.001 ("small")
test data (TESTDATA.md), as measured from those files: row counts; events
uniform over 30 days and over five event types, `value` exponential with
mean 50; documents of 10-100 tokens drawn uniformly from a 30-word
vocabulary, 5% of them a copy of a random original with the token "dup"
appended (two copies of one original are the corpus's exact duplicates).
`events.ts` is written as parquet TIMESTAMP(NANOS), the type
`catalog.register` converts on read.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Scale:
    pipelines: int
    users: int
    events: int
    docs: int


SCALES = {
    "full": Scale(pipelines=1000, users=1500, events=100_000, docs=5000),
    "small": Scale(pipelines=10, users=15, events=1000, docs=500),
}

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter big key window row table stream merge data join "
    "query vector customer the"
).split()
NEAR_DUP_SHARE = 0.05
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z
SPAN_NS = 30 * 86_400 * 1_000_000_000


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _events(rng: np.random.Generator, s: Scale) -> pa.Table:
    ts = np.sort(rng.integers(EPOCH_NS, EPOCH_NS + SPAN_NS, s.events))
    return pa.table(
        {
            "event_id": pa.array(np.arange(s.events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, s.users, s.events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, s.events)),
            "value": pa.array(np.round(rng.exponential(50, s.events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)]),
        }
    )


def _documents(rng: np.random.Generator, s: Scale) -> pa.Table:
    """Random documents with planted near duplicates: a copy of a random
    original plus the token "dup"."""
    n = s.docs
    copy = np.zeros(n, bool)
    copy[rng.choice(n, round(n * NEAR_DUP_SHARE), replace=False)] = True
    joined = np.empty(n, object)
    originals = np.flatnonzero(~copy)
    joined[originals] = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in originals]
    joined[copy] = [t + " dup" for t in joined[rng.choice(originals, int(copy.sum()))]]
    joined = joined.tolist()
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(joined),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in joined], pa.int64()),
        }
    )


def generate(out_dir: str, seed: int, scale: str = "full") -> Scale:
    """Write every base table for `seed` into `out_dir`; return the scale."""
    s = SCALES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    k = np.arange(s.pipelines)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in k]),
        "s_nationkey": pa.array(k % 25, pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, s.pipelines), 2)),
    }))
    _write(out_dir, "events", _events(rng, s))
    _write(out_dir, "documents", _documents(rng, s))
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(range(10), pa.int64()),
        "c_name": pa.array([f"Customer#{i}" for i in range(10)]),
        "c_nationkey": pa.array(range(10), pa.int32()),
        "c_acctbal": pa.array([float(i) for i in range(10)]),
        "c_mktsegment": pa.array(["BUILDING"] * 10),
    }))
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(range(10), pa.int64()),
        "p_name": pa.array([f"part{i}" for i in range(10)]),
        "p_brand": pa.array(["Brand#1"] * 10),
        "p_type": pa.array(["STANDARD"] * 10),
        "p_size": pa.array(range(10), pa.int32()),
        "p_retailprice": pa.array([float(i) for i in range(10)]),
    }))
    day = pa.array([EPOCH_NS // 1000] * 10, pa.timestamp("us"))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(range(10), pa.int64()),
        "o_custkey": pa.array(range(10), pa.int64()),
        "o_orderstatus": pa.array(["O"] * 10),
        "o_totalprice": pa.array([float(i) for i in range(10)]),
        "o_orderdate": day,
        "o_orderpriority": pa.array(["1-URGENT"] * 10),
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(range(10), pa.int64()),
        "l_partkey": pa.array(range(10), pa.int64()),
        "l_suppkey": pa.array(range(10), pa.int64()),
        "l_linenumber": pa.array([1] * 10, pa.int32()),
        "l_quantity": pa.array([1.0] * 10),
        "l_extendedprice": pa.array([1.0] * 10),
        "l_discount": pa.array([0.0] * 10),
        "l_tax": pa.array([0.0] * 10),
        "l_returnflag": pa.array(["N"] * 10),
        "l_linestatus": pa.array(["O"] * 10),
        "l_shipdate": day,
    }))
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(range(10), pa.int64()),
        "embedding": pa.array([[0.0, 1.0]] * 10, pa.list_(pa.float32())),
        "label": pa.array([0] * 10, pa.int32()),
    }))
    return s


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3] if len(sys.argv) > 3 else "full")
