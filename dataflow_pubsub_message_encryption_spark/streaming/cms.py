"""Streaming twin of ``agg_heavy_hitters_cms``: incremental Count-Min
sketch via foreachBatch counter-grid SUM merge.

The batch operator (operators/scale.py) folds the stream into a
``_CMS_DEPTH`` × ``_CMS_WIDTH`` counter grid. Cell counts ADD across any
split of the input — associative and commutative but **NOT idempotent**
(unlike the bitmap twin's bit_or): replaying a micro-batch would
double-count every cell it touched. This twin therefore exists to
exercise the at-least-once machinery for real — the commit log's
batch-id skip rule (:mod:`.versioned`) is correctness-critical here:
a batch whose version reached the ``_latest`` pointer is skipped on
replay, and anything a crash left past the pointer is rolled back by
``recover`` so the replayed batch re-sums exactly once. Only the live
version is kept (``keep=1``).

Scale notes: the per-batch contribution partial-aggregates map-side to
≤ DEPTH×WIDTH cells; the snapshot is a few hundred longs regardless of
stream length; shard/day sketches union by the same cell-wise SUM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import _CMS_DEPTH, _CMS_WIDTH
from .versioned import _fold_sink, read_version

_TABLE = "cells"


def _batch_cells(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's CMS contribution — the same portable sha-nibble
    bucketing as the batch op (operators/scale.py::agg_heavy_hitters_cms),
    so stream-folded and batch-built grids are bit-identical."""
    key = F.col("user_id").cast("string")
    rows = []
    for i in range(_CMS_DEPTH):
        h = F.sha2(F.concat(F.lit(f"{i}:"), key), 256)

        def nib(j, h=h):
            return F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1)) - 1

        rows.append(
            F.struct(
                F.lit(i).alias("i"),
                ((nib(1) * 16 + nib(2)) % _CMS_WIDTH).alias("p"),
            )
        )
    return (
        batch_df.select(F.explode(F.array(*rows)).alias("ip"))
        .groupBy(F.col("ip.i").alias("i"), F.col("ip.p").alias("p"))
        .agg(F.count("*").alias("c"))
    )


def _merge(snapshot: DataFrame | None, contrib: DataFrame) -> DataFrame:
    if snapshot is None:
        return contrib
    return (
        snapshot.unionByName(contrib)
        .groupBy("i", "p")
        .agg(F.sum("c").cast("long").alias("c"))
    )


def cms_sketch_sink(events: DataFrame, target_dir: str, checkpoint_dir: str):
    """Maintain the CMS cell grid from a stream. Returns the (unstarted)
    ``DataStreamWriter``; read estimates with :func:`cms_grid_view`."""
    return _fold_sink(
        events, target_dir, checkpoint_dir, {_TABLE: (_batch_cells, _merge)}, keep=1
    )


def cms_grid_view(spark: SparkSession, target_dir: str) -> DataFrame:
    """The maintained (i, p, c) counter grid."""
    return read_version(spark, target_dir)[_TABLE]
