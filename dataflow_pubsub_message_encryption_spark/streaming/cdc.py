"""Streaming CDC twin: foreachBatch MERGE-style upsert.

The batch operator ``cdc_upsert_latest`` (operators/cdc.py) collapses the
whole change log to one current row per key. This module maintains the
SAME state incrementally from an unbounded stream, the way a warehouse
target table tracks a CDC feed: each micro-batch is reduced to one
candidate row per key (map-side ``max_by``), merged into the parquet
snapshot with latest-wins semantics, and the merged snapshot is
committed as a new version of the target's commit log
(:mod:`.versioned`). Tombstones (``error`` events) are KEPT in the
snapshot — a delete must be able to supersede an earlier update and be
superseded by a later one — and filtered only in the read view, exactly
like the batch operator's final filter.

Exactly-once: ``foreachBatch`` delivers at-least-once, so a replayed
batch would double-count ``n_versions``. The commit log carries the
idempotence recipe — every version records its batch_id and a batch at
or below the committed one is skipped. Only the live version is kept
(``keep=1``), so the target holds one snapshot on disk.

Scale notes (100 TB): the per-batch merge shuffles one candidate row per
(map partition, key) — never the raw log — and the rewrite cost is the
snapshot size, the same cost profile as a MERGE INTO a non-partitioned
table. A real deployment partitions the snapshot by key range so a batch
rewrites only touched partitions (or uses a table format with row-level
merge); the merge computation itself is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import _fold_sink, read_version

_TABLE = "current"

_ORD = ("last_ts", "last_event_id")


def _merge(snapshot: DataFrame | None, contrib: DataFrame) -> DataFrame:
    """Latest-wins merge of two keyed states. Associative + commutative
    (max_by over the (ts, event_id) total order; integer version sums),
    so ANY split of the log into micro-batches folds to the same state."""
    if snapshot is None:
        return contrib
    ordk = F.struct(*_ORD)
    return (
        snapshot.unionByName(contrib)
        .groupBy("user_id")
        .agg(
            F.max_by("last_event_type", ordk).alias("last_event_type"),
            F.max_by("last_value", ordk).alias("last_value"),
            F.max_by("last_event_id", ordk).alias("last_event_id"),
            F.max("last_ts").alias("last_ts"),
            F.sum("n_versions").alias("n_versions"),
        )
    )


def _batch_contrib(batch_df: DataFrame) -> DataFrame:
    ordk = F.struct("ts", "event_id")
    return batch_df.groupBy("user_id").agg(
        F.max_by("event_type", ordk).alias("last_event_type"),
        F.max_by("value", ordk).alias("last_value"),
        F.max_by("event_id", ordk).alias("last_event_id"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n_versions"),
    )


def cdc_upsert_sink(events: DataFrame, target_dir: str, checkpoint_dir: str):
    """MERGE-style streaming upsert into a parquet snapshot. Returns the
    (unstarted) ``DataStreamWriter``; read the result with
    ``cdc_current_view``."""
    return _fold_sink(
        events, target_dir, checkpoint_dir, {_TABLE: (_batch_contrib, _merge)}, keep=1
    )


def cdc_current_view(spark: SparkSession, target_dir: str) -> DataFrame:
    """The queryable current state: tombstoned keys dropped, exactly the
    batch operator's final filter."""
    return read_version(spark, target_dir)[_TABLE].filter(
        F.col("last_event_type") != "error"
    )
