"""Seeded parquet inputs for the operator workload.

The registry queries read ``<sf_dir>/<table>.parquet``.  This writes the
three tables the measured queries read, fitted to the repository's
synthetic test data at sf0.01 (TESTDATA.md):

- ``documents``: doc_id, text (10-100 words from a 30-word vocabulary),
  lang, source, n_chars; 5% of documents are an earlier document plus the
  token ``dup``, so the near-duplicate operators find clusters;
- ``lineitem``: l_orderkey, l_suppkey, l_linenumber, l_quantity, 1-13
  lines per order as often as in the repository's sf0.01 lineitem, rows
  shuffled;
- ``supplier``: s_suppkey, s_name, s_nationkey, s_acctbal.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


@dataclass(frozen=True)
class OpsShape:
    documents: int
    lineitems: int
    suppliers: int


OPS = OpsShape(documents=500, lineitems=60000, suppliers=100)
# orders with 1, 2, ... 13 lines in the repository's sf0.01 lineitem
LINES_PER_ORDER = (1120, 2129, 2955, 3024, 2295, 1550, 936, 434, 203, 55, 25, 11, 6)
FIXED_SEED = 42


def documents(n: int, rng: random.Random) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def lineitem(n: int, suppliers: int, rng: random.Random) -> pa.Table:
    rows = []
    order = 0
    sizes = range(1, len(LINES_PER_ORDER) + 1)
    while len(rows) < n:
        order += 1
        lines = rng.choices(sizes, weights=LINES_PER_ORDER)[0]
        for line in range(1, min(lines, n - len(rows)) + 1):
            rows.append((order, rng.randrange(suppliers), line, float(rng.randint(1, 50))))
    rng.shuffle(rows)
    orderkey, suppkey, linenumber, quantity = zip(*rows)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_suppkey": pa.array(suppkey, pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(quantity, pa.float64()),
        }
    )


def supplier(n: int, rng: random.Random) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
            "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n)],
        }
    )


def write_inputs(shape: OpsShape, seed: int, out_dir: Path) -> dict[str, int]:
    """Write the tables; returns ``{table: rows}``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = random.Random(f"ops:{seed}")
    tables = {
        "documents": documents(shape.documents, rng),
        "lineitem": lineitem(shape.lineitems, shape.suppliers, rng),
        "supplier": supplier(shape.suppliers, rng),
    }
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
