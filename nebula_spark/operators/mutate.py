"""Mutation operators: INSERT / UPSERT / DELETE / TTL-vacuum (SURVEY.md §2.1
mutate rows).

Reference: ``src/graph/executor/mutate/{Insert,Update,Delete}Executor.cpp``;
storage ``src/storage/mutate/AddVerticesProcessor.cpp``; UPSERT =
``insertable_`` flag (``src/parser/MutateSentences.h:385-411``); TTL purge at
compaction (``src/storage/CompactionFilter.h:76-131``).

Without Delta in this container, the implementation is merge-on-read-free:
each mutation produces the NEW full table DataFrame (pure function), and
``commit_table`` atomically swaps the parquet directory (write temp +
rename). On a Delta-enabled cluster the same call sites map 1:1 to
``MERGE INTO`` / ``DELETE FROM`` — the API is the contract, the sink is
pluggable. Keys: vertices by ``vid``, edges by ``(src, dst, _rank)``.

Scale note: upsert/delete are anti/outer joins on the key — shuffle on the
key, same co-location as every other traversal op; at 100 TB you'd bucket
the table by the key so the merge join is shuffle-free, which is exactly
what Delta's Z-order/liquid clustering automates.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_spark.catalog import DST, RANK, SRC, VID

VERTEX_KEY = [VID]
EDGE_KEY = [SRC, DST, RANK]


def insert_rows(table: DataFrame, rows: DataFrame, key: list[str],
                if_not_exists: bool = False) -> DataFrame:
    """INSERT (VERTEX|EDGE): append; IF NOT EXISTS keeps existing keys.

    Default semantics match the reference: plain INSERT **overwrites** an
    existing key (last write wins — AddVerticesProcessor upserts the KV
    pair); IF NOT EXISTS drops incoming rows whose key is present.
    """
    rows = rows.select(*table.columns)
    if if_not_exists:
        fresh = rows.join(table.select(*key).distinct(), key, "left_anti")
        return table.unionByName(fresh)
    survivors = table.join(rows.select(*key).distinct(), key, "left_anti")
    return survivors.unionByName(rows)


def update_rows(table: DataFrame, updates: DataFrame, key: list[str],
                insertable: bool = False) -> DataFrame:
    """UPDATE / UPSERT: read-modify-write by key.

    ``updates`` carries key columns + any subset of prop columns; props not
    present keep their old value (the reference evaluates update expressions
    against the stored row). ``insertable=True`` = UPSERT: unmatched keys are
    inserted with NULL for unspecified props.
    """
    prop_cols = [c for c in updates.columns if c not in key]
    renamed = updates.select(
        *key, *[F.col(c).alias(f"_new_{c}") for c in prop_cols])
    joined = table.join(renamed, key, "left")
    merged = joined.select(
        *key,
        *[F.coalesce(F.col(f"_new_{c}"), F.col(c)).alias(c)
          if c in prop_cols else F.col(c)
          for c in table.columns if c not in key])
    if insertable:
        missing = renamed.join(table.select(*key).distinct(), key, "left_anti")
        inserts = missing.select(
            *key,
            *[F.col(f"_new_{c}").alias(c) if c in prop_cols
              else F.lit(None).alias(c)
              for c in table.columns if c not in key])
        merged = merged.unionByName(inserts)
    return merged


def delete_rows(table: DataFrame, keys: DataFrame,
                key: list[str]) -> DataFrame:
    """DELETE (VERTEX|EDGE|TAG): anti-join on the key set."""
    return table.join(keys.select(*key).distinct(), key, "left_anti")


def ttl_vacuum(table: DataFrame, ttl_col: str, ttl_duration: int) -> DataFrame:
    """Physically drop expired rows (compaction parity with
    CompactionFilter.h:76-131; the read path already filters them)."""
    return table.filter(
        F.col(ttl_col) + F.expr(f"INTERVAL {ttl_duration} SECOND")
        >= F.current_timestamp())


def commit_table(df: DataFrame, path: str) -> None:
    """Atomically replace a parquet table directory with ``df``.

    Write to a temp sibling then rename — the poor-man's ACID swap that
    Delta's transaction log replaces on a real deployment. A write that
    raises removes the temp sibling and leaves ``path`` untouched.
    """
    parent = os.path.dirname(os.path.abspath(path))
    tmp = os.path.join(parent, f".tmp_{uuid.uuid4().hex}")
    try:
        df.write.mode("overwrite").parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = None
    if os.path.exists(path):
        old = os.path.join(tempfile.gettempdir(), f".old_{uuid.uuid4().hex}")
        shutil.move(path, old)
    shutil.move(tmp, path)
    if old:
        shutil.rmtree(old, ignore_errors=True)
