"""Incremental conversation-rollup maintenance: keep a conversations table
(one row per conv_id — the reassembled ordered transcript) current per CDC
batch, as a materialized view over the primary per-turn table.

This is the standard downstream consumer of a CDC change stream (the
reference ships per-op JSON and the warehouse maintains its own derived
views); here the engine maintains it natively: after the primary MERGE of a
batch, only the conversations that batch TOUCHED are re-rolled from the
primary's (already-merged) state and MERGEd into the conversations table.
A conversation whose last turn was deleted is deleted from the view.

Cost per batch is O(touched conversations' turns), not O(table): the
primary read is row-pruned to touched conv_ids (pushed into the scan; at
100x the primary would bucket by conv_id alone — today's layout buckets by
(conv_id, turn_idx), so the filter prunes rows, not files — documented
trade), the rollup groupBy shuffles only those rows, and the MERGE prunes
to the touched conversation buckets. Exactly-once rides the same snapshot
write-audit as every other sink; the re-read of primary state is
deterministic because the primary's own merge for this batch is idempotent.

Ordering contract: call AFTER the primary merge of the same batch (the
rollup reads post-merge state). On a replay, the primary merge is skipped
(already applied) and the rollup recomputes from the same state — the
conversations merge is then skipped by ITS batch audit too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from openlogreplicator_spark.config import EngineConfig
from openlogreplicator_spark.functions.transcripts import (
    reconstruct_conversations,
)
from openlogreplicator_spark.lake import LakeTable

CONV_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("n_turns", LongType(), True),
    StructField("first_turn", LongType(), True),
    StructField("last_turn", LongType(), True),
    StructField("roles", StringType(), True),
    StructField("full_text", StringType(), True),
    StructField("n_chars", LongType(), True),
])

_PAYLOAD = [f.name for f in CONV_SCHEMA.fields if f.name != "conv_id"]


def bootstrap_conversations_target(path: str, cfg: EngineConfig) -> LakeTable:
    return LakeTable.create(
        path, CONV_SCHEMA, ["conv_id"], num_buckets=cfg.num_buckets
    )


def apply_conv_rollup_batch(
    spark: SparkSession,
    touched_convs: DataFrame,
    primary: LakeTable,
    conversations: LakeTable,
    cfg: EngineConfig,
    batch_id: int,
    sep: str = "\x1f",
    touched_buckets: list[int] | None = None,
) -> dict:
    """Re-roll the touched conversations from the primary's current state
    and MERGE into the conversations table (see module doc).

    ``touched_convs``: one column ``conv_id`` — the conversations this
    batch's net changes touched (any DML, including deletes).
    ``touched_buckets`` (optional): the conversations table's buckets of
    those conv_ids, forwarded to ``merge`` so it skips its own
    distinct-collect over the rollup plan.
    """
    touched = touched_convs.select("conv_id").where(
        F.col("conv_id").isNotNull()
    ).distinct()
    state = primary.read(spark).join(touched, "conv_id", "left_semi")
    roll = reconstruct_conversations(state, sep=sep)
    upd = touched.join(roll, "conv_id", "left").select(
        "conv_id",
        *[F.col(c) for c in _PAYLOAD],
        # a touched conversation with no surviving turns vanished from the
        # primary -> delete it from the view
        F.when(F.col("n_turns").isNull(), F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.array(*[F.lit(c) for c in _PAYLOAD]).alias("cols_set"),
    )
    return conversations.merge(
        spark, upd, batch_id=batch_id, touched=touched_buckets)
