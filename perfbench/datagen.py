"""Seeded inputs for the benchmark workloads.

``ops_tables`` writes the tables the ``ops`` queries read (``documents``)
with the schema and value distributions of the driver's read-only ``sf*``
tables, one parquet file with one row group per table, so every query's
DuckDB ``oracle_sql()`` applies unchanged. The seed picks the rows and
their order.

``pages_tables`` writes the synthetic pages table and its next snapshot
through ``sources.pages`` (the production generator), plus a JSON
rendering of a fixed slice for the dynamic and variant modes.
"""

from __future__ import annotations

import copy
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path, row_group_size=1 << 31, compression="snappy")
    return os.path.getsize(path)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    pool = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(pool[e - k:e]) for e, k in zip(ends, lens)]
    # a few exact copies, like the driver tables carry
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[(i + 1) % n]
    ids = rng.permutation(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array(np.char.add("src", (ids % 20).astype(str)), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def ops_tables(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write ``documents`` with ``sizes["documents"]`` rows under
    ``out_dir``; return {table: bytes on disk}."""
    os.makedirs(out_dir, exist_ok=True)
    table = documents(np.random.default_rng([seed, 0]), sizes["documents"])
    return {"documents": _write(os.path.join(out_dir, "documents.parquet"), table)}


def json_pages_schema() -> dict:
    """PAGES_SCHEMA as plain draft-4 for the JSON-document modes: the
    timestamp ``maximum`` is a columnar-only extension, and a timestamp
    reaches a JSON document as a string."""
    from schema_fantasy_spark.sources.pages import PAGES_SCHEMA

    schema = copy.deepcopy(PAGES_SCHEMA)
    schema["properties"]["warc_ts"] = {"type": "string"}
    return schema


def pages_tables(spark, out_dir: str, seed: int, n_rows: int, n_days: int,
                 n_slice: int) -> dict:
    """Write base/next snapshots and the JSON slice under ``out_dir``;
    return {name: bytes on disk}."""
    from pyspark.sql import functions as F

    from schema_fantasy_spark.sources.pages import snapshot_pair

    base, nxt = snapshot_pair(spark, n_rows, seed=seed, n_days=n_days)
    paths = {k: os.path.join(out_dir, k) for k in ("base", "next", "json")}
    base.write.mode("overwrite").parquet(paths["base"])
    nxt.write.mode("overwrite").parquet(paths["next"])
    doc = F.to_json(F.struct("url", "warc_ts", "text", "lang"))
    (spark.read.parquet(paths["base"]).filter(F.col("id") < n_slice)
     .select("id", doc.alias("doc")).write.mode("overwrite").parquet(paths["json"]))
    return {k: dir_bytes(p) for k, p in paths.items()}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if f.endswith(".parquet")
    )
