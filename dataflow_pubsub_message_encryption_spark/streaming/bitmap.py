"""Streaming twin of ``agg_bitmap_distinct``: incremental EXACT distinct
counts via foreachBatch bitmap-word merge.

The batch operator (operators/scale.py) packs the dense integer user-id
space into 62-bit ``bit_or`` words. Because ``bit_or`` is associative,
commutative and idempotent, the SAME word table can be maintained
incrementally from an unbounded stream: each micro-batch reduces to its
own (event_type, word) bitmap contribution (map-side partial combine) and
ORs into the snapshot — any split of the stream into micro-batches folds
to the identical word table, and replaying a batch changes NOTHING
(idempotence is free here, unlike the CDC twin's version counter, which
needs the commit log's batch-id skip rule). This is the classic "exact
distinct users so far" dashboard state: per-day/per-shard word tables at
100 TB merge with one tiny OR pass instead of rescanning the fact history.

The word table is committed through the commit log (:mod:`.versioned`)
like every sink, keeping only the live version (``keep=1``); its replay
skip saves a replayed batch the snapshot REWRITE (pure I/O savings),
correctness does not depend on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import _fold_sink, read_version

_WORD = 62  # keep in lock-step with operators/scale.py::_BM_WORD
_TABLE = "words"


def _batch_words(batch_df: DataFrame) -> DataFrame:
    bits = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {_WORD} AS INT))")
    return (
        batch_df.select(
            "event_type",
            F.expr(f"user_id DIV {_WORD}").alias("w"),
            bits.alias("b"),
        )
        .groupBy("event_type", "w")
        .agg(F.bit_or("b").alias("bm"))
    )


def _merge(snapshot: DataFrame | None, contrib: DataFrame) -> DataFrame:
    if snapshot is None:
        return contrib
    return (
        snapshot.unionByName(contrib)
        .groupBy("event_type", "w")
        .agg(F.bit_or("bm").alias("bm"))
    )


def bitmap_distinct_sink(events: DataFrame, target_dir: str, checkpoint_dir: str):
    """Maintain the (event_type, word) bitmap snapshot from a stream.
    Returns the (unstarted) ``DataStreamWriter``; read the counts with
    :func:`bitmap_distinct_view`."""
    return _fold_sink(
        events, target_dir, checkpoint_dir, {_TABLE: (_batch_words, _merge)}, keep=1
    )


def bitmap_distinct_view(spark: SparkSession, target_dir: str) -> DataFrame:
    """Exact distinct users per event_type, decoded from the word table —
    the same (event_type, n_words, distinct_users) shape as the batch
    operator."""
    words = read_version(spark, target_dir)[_TABLE]
    return words.groupBy("event_type").agg(
        F.count("*").alias("n_words"),
        F.sum(F.bit_count("bm")).cast("long").alias("distinct_users"),
    )
