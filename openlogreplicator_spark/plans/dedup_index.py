"""CDC-maintained SimHash signature index over the conversations view.

`functions/dedup.py simhash_neardup_incremental` scopes its scale story to
"join the batch against a persisted signature index" — this plan IS that
index, maintained by the engine itself: per CDC batch, only the
conversations the batch touched are re-signed from the (already-updated)
conversations view and MERGEd into a signature lake table; a conversation
that vanished is deleted. Downstream, near-dup candidates for a batch are
one banded equi-join of the batch's signatures against the index — never a
corpus recompute, never corpus x corpus.

This closes the transcripts-payload loop: change feed -> per-turn state ->
conversations view -> duplicate-conversation detection, every hop
incremental and exactly-once (each MERGE rides the same snapshot
write-audit; the chain is deterministic per batch because each stage reads
the previous stage's post-merge state).

Scale: per batch O(touched conversations); the index table is bucketed by
conv_id so the candidate join and the MERGE both prune. The signature is
computed with the same portable hash as the driver oracles (flip
``use_portable_hash=False`` for xxhash64 in production).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from openlogreplicator_spark.config import EngineConfig
from openlogreplicator_spark.functions.dedup import simhash
from openlogreplicator_spark.lake import LakeTable

SIG_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("simhash", LongType(), True),
])


def bootstrap_sig_index(path: str, cfg: EngineConfig) -> LakeTable:
    return LakeTable.create(
        path, SIG_SCHEMA, ["conv_id"], num_buckets=cfg.num_buckets
    )


def apply_sig_index_batch(
    spark: SparkSession,
    touched_convs: DataFrame,
    conversations: LakeTable,
    index: LakeTable,
    cfg: EngineConfig,
    batch_id: int,
    bits: int = 32,
    use_portable_hash: bool = True,
    touched_buckets: list[int] | None = None,
) -> dict:
    """Re-sign the touched conversations from the post-rollup view and
    MERGE into the signature index (delete when the conversation is gone).
    Call AFTER apply_conv_rollup_batch of the same batch.
    ``touched_buckets`` (optional): the index's buckets of the touched
    conv_ids, forwarded to ``merge`` (see apply_conv_rollup_batch)."""
    touched = touched_convs.select("conv_id").where(
        F.col("conv_id").isNotNull()
    ).distinct()
    docs = conversations.read(spark).join(touched, "conv_id", "left_semi")
    sigs = simhash(
        docs.select("conv_id", F.col("full_text").alias("text")),
        bits=bits, id_col="conv_id", text_col="text",
        use_portable_hash=use_portable_hash,
    )
    upd = touched.join(sigs, "conv_id", "left").select(
        "conv_id",
        "simhash",
        F.when(F.col("simhash").isNull(), F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.array(F.lit("simhash")).alias("cols_set"),
    )
    return index.merge(
        spark, upd, batch_id=batch_id, touched=touched_buckets)


def neardup_candidates(
    index: LakeTable,
    spark: SparkSession,
    probe_convs: DataFrame | None = None,
    bits: int = 32,
    radius: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup conversation pairs from the index alone (no text reads):
    banded equi-join of the probe side (default: whole index — one-off
    audit; pass the batch's touched convs for the incremental path) against
    the full index, then exact popcount verify. Output: (conv_a, conv_b,
    hamming), conv_a < conv_b."""
    if radius >= bands:
        raise ValueError("completeness requires radius < bands")
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame) -> DataFrame:
        return df.select(
            "conv_id", "simhash",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask)).alias("bv"),
                )
                for b in range(bands)
            ])).alias("p"),
        ).select("conv_id", "simhash",
                 F.col("p.band").alias("band"), F.col("p.bv").alias("bv"))

    full = index.read(spark).select("conv_id", "simhash")
    probe = full if probe_convs is None else full.join(
        probe_convs.select("conv_id").distinct(), "conv_id", "left_semi"
    )
    p, a = banded(probe).alias("p"), banded(full).alias("a")
    return (
        p.join(a, (F.col("p.band") == F.col("a.band"))
               & (F.col("p.bv") == F.col("a.bv")))
        .where(F.col("p.conv_id") != F.col("a.conv_id"))
        .select(
            F.least(F.col("p.conv_id"), F.col("a.conv_id")).alias("conv_a"),
            F.greatest(F.col("p.conv_id"), F.col("a.conv_id")).alias("conv_b"),
            F.bit_count(
                F.col("p.simhash").bitwiseXOR(F.col("a.simhash"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
        .distinct()
    )
