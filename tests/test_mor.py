"""Merge-on-read (Iceberg v2 write.merge.mode=merge-on-read) lake tests.

Contract: a MoR table must be READ-equivalent to a CoW table given the same
merge sequence — deletes, partial updates (cols_set), replace (RP), delete
then re-insert — while writing O(batch) instead of O(touched buckets) per
merge. compact() folds the deltas back with no visible state change.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from openlogreplicator_spark.lake import LakeTable

SCHEMA = StructType([
    StructField("k", IntegerType()),
    StructField("a", StringType()),
    StructField("b", LongType()),
])

UPD_SCHEMA = "k int, a string, b long, op string, cols_set array<string>"


def _mk_pair(spark, tmp_path, n_buckets=4):
    cow = LakeTable.create(str(tmp_path / "cow"), SCHEMA, ["k"],
                           num_buckets=n_buckets, write_mode="cow")
    mor = LakeTable.create(str(tmp_path / "mor"), SCHEMA, ["k"],
                           num_buckets=n_buckets, write_mode="mor")
    return cow, mor


def _merge_both(spark, cow, mor, rows, batch_id):
    df = spark.createDataFrame(rows, UPD_SCHEMA)
    s1 = cow.merge(spark, df, batch_id=batch_id)
    s2 = mor.merge(spark, df, batch_id=batch_id)
    return s1, s2


def _state(spark, table, version=None):
    pdf = table.read(spark, version=version).toPandas()
    return pdf.sort_values("k").reset_index(drop=True)


# three batches covering every op shape; keys collide across batches so the
# read-side seq resolution is actually exercised
BATCH1 = [(k, f"a{k}", k * 10, "I", ["a", "b"]) for k in range(40)]
BATCH2 = (
    [(k, f"A{k}", None, "U", ["a"]) for k in range(0, 10)]        # partial: keep b
    + [(k, None, None, "D", None) for k in range(10, 20)]          # delete
    + [(k, None, k * 100, "RP", ["b"]) for k in range(20, 25)]     # replace: a -> NULL
    + [(k, f"n{k}", k, "I", ["a", "b"]) for k in range(40, 50)]    # new keys
)
BATCH3 = (
    [(k, f"re{k}", -1, "I", ["a", "b"]) for k in range(12, 16)]    # re-insert deleted
    + [(k, None, 7, "U", ["b"]) for k in range(0, 5)]              # partial on updated
    + [(k, None, None, "D", None) for k in range(40, 43)]          # delete new keys
)


def test_mor_merge_equals_cow(spark, tmp_path):
    cow, mor = _mk_pair(spark, tmp_path)
    for i, rows in enumerate([BATCH1, BATCH2, BATCH3], start=1):
        _merge_both(spark, cow, mor, rows, i)

    got, want = _state(spark, mor), _state(spark, cow)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # MoR accumulated delete files; CoW never has any
    m = mor.manifest()
    assert any(f.get("content") == "eq-del" for f in m["files"])
    assert not any(f.get("content") == "eq-del"
                   for f in cow.manifest()["files"])
    # MoR never rewrote batch-1 files: every v1 data file is still referenced
    v1_paths = {f["path"] for f in mor.manifest(1)["files"]}
    assert v1_paths <= {f["path"] for f in m["files"]}


def test_mor_write_amplification(spark, tmp_path):
    """Per-batch rows written: CoW rewrites every row of each touched
    bucket, MoR writes only the batch's rows."""
    cow, mor = _mk_pair(spark, tmp_path, n_buckets=2)
    _merge_both(spark, cow, mor, BATCH1, 1)
    small = [(k, "x", 0, "U", ["a"]) for k in range(3)]
    s_cow, s_mor = _merge_both(spark, cow, mor, small, 2)
    assert s_mor["rows_written"] == 3          # O(batch)
    assert s_mor["delete_keys"] == 3
    assert s_cow["rows_merged"] > 3            # O(buckets): full rewrite


def test_mor_partial_update_reads_matched_base_only(spark, tmp_path):
    """cols_set resolution pulls unset columns from the CURRENT version of
    the key, across stacked MoR generations."""
    _, mor = _mk_pair(spark, tmp_path)
    for i, rows in enumerate([BATCH1, BATCH2], start=1):
        mor.merge(spark, spark.createDataFrame(rows, UPD_SCHEMA), batch_id=i)
    # k=0 was partially updated in batch 2 (a only): b must survive from v1
    st = _state(spark, mor)
    row = st[st.k == 0].iloc[0]
    assert row["a"] == "A0" and row["b"] == 0
    # k=22 was RP'd: unset column a is NULL, not the old value
    row = st[st.k == 22].iloc[0]
    assert pd.isna(row["a"]) and row["b"] == 2200


def test_mor_compact_folds_deltas(spark, tmp_path):
    cow, mor = _mk_pair(spark, tmp_path)
    for i, rows in enumerate([BATCH1, BATCH2, BATCH3], start=1):
        _merge_both(spark, cow, mor, rows, i)
    before = _state(spark, mor)
    pre_version = mor.current_version()

    s = mor.compact(spark)
    assert not s.get("skipped") and s["delete_files_removed"] > 0
    m = mor.manifest()
    assert not any(f.get("content") == "eq-del" for f in m["files"])
    # at most one data file per bucket after compaction
    per_bucket = {}
    for f in m["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())

    after = _state(spark, mor)
    pd.testing.assert_frame_equal(after, before, check_dtype=False)
    # time travel to the pre-compaction snapshot still MoR-resolves
    pd.testing.assert_frame_equal(
        _state(spark, mor, version=pre_version), before, check_dtype=False)
    # compaction preserved the write-audit watermark: batch 3 still skips
    s3 = mor.merge(spark, spark.createDataFrame(BATCH3, UPD_SCHEMA), batch_id=3)
    assert s3["skipped"]
    # a second compact is a no-op
    assert mor.compact(spark).get("skipped")


def test_mor_idempotent_retry(spark, tmp_path):
    _, mor = _mk_pair(spark, tmp_path)
    df1 = spark.createDataFrame(BATCH1, UPD_SCHEMA)
    mor.merge(spark, df1, batch_id=1)
    before = _state(spark, mor)
    s = mor.merge(spark, df1, batch_id=1)
    assert s["skipped"]
    pd.testing.assert_frame_equal(_state(spark, mor), before, check_dtype=False)


def test_mor_schema_evolution_mid_stream(spark, tmp_path):
    """ADD COLUMN between MoR commits: old generations null-fill, delete
    files keep applying (keys are evolution-stable)."""
    _, mor = _mk_pair(spark, tmp_path)
    mor.merge(spark, spark.createDataFrame(BATCH1, UPD_SCHEMA), batch_id=1)
    mor.alter_add_column("c", StringType())
    rows = [(k, None, None, "U", ["c"], f"c{k}") for k in range(5)] + \
           [(k, None, None, "D", None, None) for k in range(30, 35)]
    df = spark.createDataFrame(
        rows, "k int, a string, b long, op string, cols_set array<string>, c string")
    mor.merge(spark, df, batch_id=2)
    st = _state(spark, mor)
    assert len(st) == 35
    assert st[st.k == 0].iloc[0]["c"] == "c0"
    assert st[st.k == 0].iloc[0]["a"] == "a0"          # preserved
    assert pd.isna(st[st.k == 6].iloc[0]["c"])          # pre-evolution row
    assert 30 not in set(st.k)


def test_mor_changelog_diff(spark, tmp_path):
    """Snapshot-diff changelog reads THROUGH the MoR resolve on both sides."""
    from openlogreplicator_spark.plans.changes import table_changes

    _, mor = _mk_pair(spark, tmp_path)
    mor.merge(spark, spark.createDataFrame(BATCH1, UPD_SCHEMA), batch_id=1)
    v1 = mor.current_version()
    mor.merge(spark, spark.createDataFrame(BATCH2, UPD_SCHEMA), batch_id=2)
    ch = table_changes(spark, mor, v1, mor.current_version()).toPandas()
    by_k = ch.set_index("k")
    assert by_k.loc[5, "change"] == "U" and by_k.loc[5, "a"] == "A5" \
        and by_k.loc[5, "prev_a"] == "a5"
    assert by_k.loc[15, "change"] == "D"
    assert by_k.loc[45, "change"] == "I"
    assert (ch[ch.change == "D"].k >= 10).all()


def test_mor_replay_e2e_matches_oracle(spark, tmp_path):
    """Full engine replay in scn chunks with merge_mode='mor' + a final
    compact == the sequential oracle (same contract as the CoW e2e test)."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.feed import (
        generate_change_events, sequential_oracle,
    )
    from openlogreplicator_spark.plans.replay import (
        bootstrap_target, replay_batch,
    )

    cfg = EngineConfig(num_buckets=4, merge_mode="mor")
    events = generate_change_events(spark, n_txs=200, n_convs=30, seed=7)
    pdf = events.toPandas().sort_values(["scn", "seq"])
    oracle = sequential_oracle(pdf).drop(columns=["meta"])

    table = bootstrap_target(str(tmp_path / "t"), cfg)
    assert table.write_mode == "mor"
    cuts = [0.0, 0.4, 0.75, 1.0]
    scns = sorted(pdf["scn"].tolist())
    for i in range(3):
        lo = scns[int(cuts[i] * (len(scns) - 1))]
        hi = scns[int(cuts[i + 1] * (len(scns) - 1))]
        chunk = events.where(events.scn <= hi)
        replay_batch(spark, chunk, table, cfg, batch_id=i + 1)
    assert any(f.get("content") == "eq-del"
               for f in table.manifest()["files"])
    table.compact(spark)

    got = table.read(spark).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    got = got[oracle.columns.tolist()].astype({"turn_idx": "int64"})
    pd.testing.assert_frame_equal(
        got, oracle.astype({"turn_idx": "int64"}).reset_index(drop=True),
        check_dtype=False,
    )


def test_set_write_mode_switch(spark, tmp_path):
    """cow -> mor mid-life layers deltas over CoW files; mor -> cow folds
    touched buckets' deletes back on the next rewrite."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["k"],
                         num_buckets=2, write_mode="cow")
    t.merge(spark, spark.createDataFrame(BATCH1, UPD_SCHEMA), batch_id=1)
    t.set_write_mode("mor")
    t.merge(spark, spark.createDataFrame(BATCH2, UPD_SCHEMA), batch_id=2)
    assert any(f.get("content") == "eq-del" for f in t.manifest()["files"])
    t.set_write_mode("cow")
    t.merge(spark, spark.createDataFrame(BATCH3, UPD_SCHEMA), batch_id=3)
    # every bucket was touched by batch 3 (n_buckets=2) -> deletes folded
    assert not any(f.get("content") == "eq-del" for f in t.manifest()["files"])

    # reference state: the same three batches on an all-cow table
    ref = LakeTable.create(str(tmp_path / "ref"), SCHEMA, ["k"], num_buckets=2)
    for i, rows in enumerate([BATCH1, BATCH2, BATCH3], start=1):
        ref.merge(spark, spark.createDataFrame(rows, UPD_SCHEMA), batch_id=i)
    pd.testing.assert_frame_equal(
        _state(spark, t), _state(spark, ref), check_dtype=False)


def test_streaming_mor_with_compaction_cadence(spark, tmp_path):
    """Microbatched MoR apply with compact_every=2: state equals the
    sequential oracle and the cadence leaves no delete files behind."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.feed import (
        generate_change_events, pandas_to_events_df, sequential_oracle,
    )
    from openlogreplicator_spark.plans.replay import bootstrap_target
    from openlogreplicator_spark.streaming.pipeline import CDCStreamPipeline

    cfg = EngineConfig(num_buckets=4, merge_mode="mor", compact_every=2)
    events = generate_change_events(spark, n_txs=250, n_convs=30, seed=21)
    pdf = events.toPandas().sort_values(["scn", "seq"]).reset_index(drop=True)
    oracle = sequential_oracle(pdf).drop(columns=["meta"])

    table = bootstrap_target(str(tmp_path / "t"), cfg)
    assert table.write_mode == "mor"
    pipe = CDCStreamPipeline(table, cfg, str(tmp_path / "state"))
    n = len(pdf)
    cuts = [0, n // 4, n // 2, (3 * n) // 4, n]
    compacted = 0
    for bid in range(4):
        chunk = pandas_to_events_df(spark, pdf.iloc[cuts[bid]:cuts[bid + 1]])
        summaries = pipe.process_batch(chunk, bid)
        compacted += sum(1 for s in summaries
                         if s.get("operation") == "compact"
                         and not s.get("skipped"))
    assert compacted >= 1
    # last batch (bid=3) triggered the cadence -> no residual delete files
    assert not any(f.get("content") == "eq-del"
                   for f in table.manifest()["files"])

    got = table.read(spark).toPandas()[oracle.columns.tolist()].sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}),
        oracle.astype({"turn_idx": "int64"}).reset_index(drop=True),
        check_dtype=False,
    )


def test_mor_delete_broadcast_threshold_bytes_based(spark, tmp_path):
    """Round 4: the resolve-join strategy is decided from manifest BYTE
    stats via the mor.delete.broadcast-bytes property — a delete set over
    budget falls back to the shuffled join with identical results."""
    cow, mor = _mk_pair(spark, tmp_path)
    for i, rows in enumerate([BATCH1, BATCH2, BATCH3], start=1):
        _merge_both(spark, cow, mor, rows, i)
    want = _state(spark, cow)

    # default budget: delete relation broadcast (hint in the plan)
    plan_b = mor.read(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan_b.lower()

    # 1-byte budget: no broadcast hint, same rows either way
    mor.set_property("mor.delete.broadcast-bytes", 1)
    plan_s = mor.read(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan_s.lower()
    pd.testing.assert_frame_equal(_state(spark, mor), want,
                                  check_dtype=False)
    # manifest entries carry the byte stats the decision reads
    dels = [f for f in mor.manifest()["files"] if f.get("content") == "eq-del"]
    assert dels and all(int(f.get("bytes", 0)) > 0 for f in dels)


def test_compaction_candidates_delete_pressure(spark, tmp_path):
    """compaction_candidates flags buckets by delete pressure (rows or
    ratio thresholds); compacting exactly those buckets clears them."""
    _, mor = _mk_pair(spark, tmp_path)
    mor.merge(spark, spark.createDataFrame(BATCH1, UPD_SCHEMA), batch_id=1)
    assert mor.compaction_candidates() == []  # first batch: no deletes
    # delete 30/40 keys: ratio >> 0.5 in every touched bucket
    dels = [(k, None, None, "D", None) for k in range(30)]
    mor.merge(spark, spark.createDataFrame(dels, UPD_SCHEMA), batch_id=2)
    cands = mor.compaction_candidates()
    assert cands, "heavy delete pressure must flag buckets"
    # a loose ratio + huge row floor flags nothing
    assert mor.compaction_candidates(min_delete_ratio=100.0,
                                     min_delete_rows=10**9) == []
    before = _state(spark, mor)
    mor.compact(spark, buckets=cands)
    assert mor.compaction_candidates() == []
    pd.testing.assert_frame_equal(_state(spark, mor), before,
                                  check_dtype=False)


def test_streaming_delete_pressure_compaction(spark, tmp_path):
    """The pipeline folds delete-heavy MoR buckets between compact_every
    cadence points (trigger='delete-pressure' in a snapshot summary)."""
    import os

    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.feed import generate_change_events
    from openlogreplicator_spark.plans.replay import bootstrap_target
    from openlogreplicator_spark.streaming.pipeline import CDCStreamPipeline

    import glob
    import shutil

    from openlogreplicator_spark.feed import pandas_to_events_df

    cfg = EngineConfig(num_buckets=4, maxFilesPerTrigger=1,
                       merge_mode="mor", compact_every=None)
    events = generate_change_events(spark, n_txs=120, n_convs=12, seed=61)
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    # contiguous scn slices per file — the feed contract the producer keeps
    pdf = events.toPandas().sort_values(["scn", "seq"]).reset_index(drop=True)
    n = len(pdf)
    for i in range(3):
        sdf = pandas_to_events_df(spark, pdf.iloc[(n * i) // 3:
                                                  (n * (i + 1)) // 3])
        tmp = str(tmp_path / f"_stage{i}")
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                    os.path.join(feed_dir, f"seq{i:04d}.parquet"))
        shutil.rmtree(tmp)

    table = bootstrap_target(str(tmp_path / "t"), cfg)
    # tiny thresholds so the pressure trigger fires at sandbox scale
    table.set_property("mor.compact.min-delete-rows", 1)
    table.set_property("mor.compact.min-delete-ratio", 0.0)
    pipe = CDCStreamPipeline(table, cfg, str(tmp_path / "state"))
    q = pipe.run_stream(spark, feed_dir, str(tmp_path / "ckpt"),
                        available_now=True)
    q.awaitTermination(180)
    pipe.detach_metrics()
    triggers = [s for s in table.snapshots()
                if s["summary"].get("trigger") == "delete-pressure"]
    assert triggers, (
        "delete-pressure compaction never fired; snapshots: "
        + repr([(s["version"], s["summary"].get("operation"),
                 s["summary"].get("trigger"),
                 s["summary"].get("batch_id")) for s in table.snapshots()])
    )
    # nothing left above threshold at the end
    assert table.compaction_candidates() == []


def test_mor_null_key_parity_with_cow(spark, tmp_path):
    """Null merge keys resolve with eqNullSafe in BOTH modes: a null-keyed
    row must not dodge its delete under MoR."""
    cow, mor = _mk_pair(spark, tmp_path)
    b1 = [(None, "nullrow", 1, "I", ["a", "b"]), (1, "one", 1, "I", ["a", "b"])]
    b2 = [(None, None, None, "D", None), (1, "one2", None, "U", ["a"])]
    for i, rows in enumerate([b1, b2], start=1):
        _merge_both(spark, cow, mor, rows, i)
    got, want = _state(spark, mor), _state(spark, cow)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) == 1 and got.iloc[0]["a"] == "one2"


def test_mor_rejects_bad_mode():
    with pytest.raises(ValueError):
        LakeTable.create("/tmp/_never", SCHEMA, ["k"], write_mode="bogus")


def test_multi_table_routing_with_mixed_modes(spark, tmp_path):
    """Routed replay where one target is MoR and the other CoW: the merge
    dispatch is a per-table property, so each target gets its own write
    strategy and both match their per-table sequential oracles."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.feed import (
        generate_change_events, sequential_oracle,
    )
    from openlogreplicator_spark.plans.replay import (
        bootstrap_target, replay_batch_multi,
    )

    cfg = EngineConfig(num_buckets=4, table_filter=None)
    cfg_mor = EngineConfig(num_buckets=4, table_filter=None,
                           merge_mode="mor")
    events = generate_change_events(spark, n_txs=200, n_convs=25, seed=47)
    is_dml = F.col("op").isin("I", "U", "D")
    routed = events.withColumn(
        "table",
        F.when(~is_dml, F.lit("transcripts")).otherwise(
            F.when(F.col("scn") % 2 == 0, F.lit("transcripts"))
            .otherwise(F.lit("notes"))
        ),
    )
    tables = {
        "transcripts": bootstrap_target(str(tmp_path / "t1"), cfg),
        "notes": bootstrap_target(str(tmp_path / "t2"), cfg_mor),
    }
    assert tables["notes"].write_mode == "mor"
    # two scn-ordered chunks so the MoR target actually layers deltas
    mid = events.agg(F.expr("percentile(scn, 0.5)")).first()[0]
    replay_batch_multi(spark, routed.where(F.col("scn") <= mid), tables,
                       cfg, batch_id=1)
    replay_batch_multi(spark, routed, tables, cfg, batch_id=2)
    assert any(f.get("content") == "eq-del"
               for f in tables["notes"].manifest()["files"])
    tables["notes"].compact(spark)

    pdf = routed.toPandas()
    for name, table in tables.items():
        mask = (~pdf["op"].isin(["I", "U", "D"])) | (pdf["table"] == name)
        oracle = sequential_oracle(pdf[mask]).drop(columns=["meta"])
        got = (
            table.read(spark).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            .astype({"turn_idx": "int64"})
        )
        pd.testing.assert_frame_equal(
            got[oracle.columns.tolist()],
            oracle.astype({"turn_idx": "int64"}).reset_index(drop=True),
            check_dtype=False,
        )


def test_mor_key_widen_mid_stream(spark, tmp_path):
    """WIDEN a merge-key column between MoR commits: old delete files (int
    keys) still kill prior versions of the same logical key (the bucket
    hash and key equality are both type-stable through the widen)."""
    _, mor = _mk_pair(spark, tmp_path)
    mor.merge(spark, spark.createDataFrame(BATCH1, UPD_SCHEMA), batch_id=1)
    mor.alter_widen("k", LongType())
    upd = spark.createDataFrame(
        [(2, "wide2", None, "U", ["a"]), (3, None, None, "D", None)],
        "k long, a string, b long, op string, cols_set array<string>")
    mor.merge(spark, upd, batch_id=2)
    st = _state(spark, mor)
    assert st[st.k == 2].iloc[0]["a"] == "wide2"      # updated, not duplicated
    assert (st.k == 2).sum() == 1
    assert 3 not in set(st.k)                          # deleted across the widen
    assert len(st) == 39
    mor.compact(spark)
    assert len(_state(spark, mor)) == 39


def test_mor_replay_with_ddl_and_cadence_matches_oracle(spark, tmp_path):
    """Kitchen sink on the MoR path: mid-feed DDL (ADD COLUMN + WIDEN),
    scn-chunked batches, compaction interleaved between batches — final
    state equals the sequential oracle, and delete files written under the
    pre-DDL schema keep applying across the evolution."""
    from openlogreplicator_spark.config import EngineConfig
    from openlogreplicator_spark.feed import (
        generate_change_events, sequential_oracle,
    )
    from openlogreplicator_spark.plans.replay import (
        bootstrap_target, replay_batch,
    )

    cfg = EngineConfig(num_buckets=4, merge_mode="mor")
    events = generate_change_events(spark, n_txs=200, n_convs=30,
                                    with_ddl=True, seed=5)
    oracle = sequential_oracle(events.toPandas())  # keeps `meta`

    table = bootstrap_target(str(tmp_path / "t"), cfg)
    pdf = events.toPandas()
    scns = sorted(pdf["scn"].tolist())
    cuts = [0.0, 0.3, 0.6, 0.85, 1.0]
    for i in range(4):
        hi = scns[int(cuts[i + 1] * (len(scns) - 1))]
        replay_batch(spark, events.where(events.scn <= hi), table, cfg,
                     batch_id=i + 1)
        if i % 2 == 1:
            table.compact(spark)
    table.compact(spark)

    got = (
        table.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        .astype({"turn_idx": "int64"})
    )
    assert "meta" in got.columns and got["meta"].notna().any()
    assert str(table.schema()["turn_idx"].dataType) == "LongType()"
    want = oracle.astype({"turn_idx": "int64"}).reset_index(drop=True)
    got = got[want.columns.tolist()]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _seq_rule_model(table, version):
    """Pure-Python read of one snapshot: a data row survives iff no delete
    file with a STRICTLY HIGHER data sequence number carries its key
    (None keys match None). Rows come back under the snapshot's column
    names, bound through field ids; columns a file predates read None."""
    import os

    import pyarrow.parquet as pq

    m = table.manifest(version)
    key = m["key_cols"][0]
    cur = LakeTable._fids(m, m["schema_id"])
    deleted: dict = {}
    for f in m["files"]:
        if f.get("content") == "eq-del":
            keys = pq.ParquetFile(os.path.join(table.path, f["path"])) \
                .read(columns=[key]).column(key).to_pylist()
            for k in keys:
                deleted[k] = max(deleted.get(k, -1), int(f["seq"]))
    out = []
    for f in m["files"]:
        if f.get("content", "data") != "data":
            continue
        by_fid = {fid: name
                  for name, fid in LakeTable._fids(m, f["schema_id"]).items()}
        for row in pq.ParquetFile(os.path.join(table.path, f["path"])) \
                .read().to_pylist():
            if deleted.get(row[key], -1) > int(f.get("seq", 0)):
                continue
            out.append({c: row.get(by_fid.get(fid)) for c, fid in cur.items()})
    return out


def _rows(pdf):
    """Order-free comparable form of a read (NaN/None -> None)."""
    recs = pdf.astype(object).where(pdf.notna(), None).to_dict("records")
    return sorted((tuple(sorted(r.items())) for r in recs), key=repr)


def test_mor_read_generative_matches_seq_rule(spark, tmp_path):
    """Stacked random MoR merges — upserts, partial updates, replaces,
    deletes, re-inserts of deleted keys, one key deleted in several
    generations, a null key, an ADD and a RENAME between generations.
    Every read shape (full, bucket-pruned, time travel, shuffled resolve)
    equals both a merge-semantics model and a pure-Python read of the
    files under the strictly-higher-seq rule, and compact() changes
    none of them."""
    import copy
    import random

    rng = random.Random(4711)
    mor = LakeTable.create(str(tmp_path / "mor"), SCHEMA, ["k"],
                           num_buckets=4, write_mode="mor")
    cols = {"a": "string", "b": "long"}
    state: dict = {}        # merge-semantics model: key -> {col: value}
    snaps = {}              # version -> model state at that version
    keys = list(range(24)) + [None]
    # key 5 deleted in three generations (re-inserted between two of them,
    # the third a delete of an already-absent key); the null key inserted,
    # updated, deleted, re-inserted
    forced = {1: {5: "I", None: "I"}, 2: {5: "D", None: "U"},
              3: {5: "D"}, 4: {5: "I", None: "D"}, 5: {5: "D", None: "I"}}
    for bid in range(1, 6):
        if bid == 3:
            mor.alter_add_column("c", StringType())
            cols["c"] = "string"
            for r in state.values():
                r["c"] = None
        if bid == 4:
            mor.alter_rename_column("a", "a2")
            cols = {("a2" if c == "a" else c): t for c, t in cols.items()}
            for r in state.values():
                r["a2"] = r.pop("a")
        picks = dict.fromkeys(rng.sample(keys[:-1], 10))
        picks.update(forced[bid])
        batch = []
        for k, op in picks.items():
            if op is None:
                op = rng.choice("UDR" if k in state else "IUD")
            if op == "I":
                cset = list(cols)
            elif op == "D":
                cset = None
            else:
                cset = rng.sample(list(cols), rng.randint(1, len(cols)))
            vals = {c: (f"{c}{bid}_{k}" if t == "string" else bid * 100 + (k or 0))
                    for c, t in cols.items()}
            vals = {c: (v if cset and c in cset else None)
                    for c, v in vals.items()}
            wire_op = {"R": "RP"}.get(op, op)
            batch.append((k, *vals.values(), wire_op, cset))
            if op == "D":
                state.pop(k, None)
            elif op == "R" or k not in state:
                state[k] = dict(vals)
            else:
                state[k].update({c: vals[c] for c in cset})
        schema = ", ".join(["k int", *[f"{c} {t}" for c, t in cols.items()],
                            "op string", "cols_set array<string>"])
        mor.merge(spark, spark.createDataFrame(batch, schema), batch_id=bid)
        snaps[mor.current_version()] = copy.deepcopy(state)
    assert sum(f.get("content") == "eq-del"
               for f in mor.manifest()["files"]) >= 4

    def model(v, buckets=None):
        out = [{"k": k, **r} for k, r in snaps[v].items()]
        if buckets is not None:
            out = [r for r in out if bucket_of[r["k"]] in buckets]
        return _rows(pd.DataFrame(out))

    bucket_of = {
        r["k"]: r["b"] for r in spark.createDataFrame(
            [(k,) for k in keys], "k int"
        ).select("k", mor.bucket_expr().alias("b")).collect()
    }
    last = mor.current_version()
    pruned = [0, 2]

    def reads():
        return {
            "full": _rows(mor.read(spark).toPandas()),
            "pruned": _rows(mor.read(spark, buckets=pruned).toPandas()),
            **{v: _rows(mor.read(spark, version=v).toPandas())
               for v in snaps},
        }

    got = reads()
    assert got["full"] == model(last)
    assert got["pruned"] == model(last, set(pruned))
    for v in snaps:
        assert got[v] == model(v), f"time travel to v{v}"
        assert _rows(pd.DataFrame(_seq_rule_model(mor, v))) == model(v)

    # shuffled resolve (no broadcast) returns the same rows
    mor.set_property("mor.delete.broadcast-bytes", 1)
    assert reads() == got
    mor.set_property("mor.delete.broadcast-bytes", 64 * 1024 * 1024)

    mor.compact(spark)
    assert not any(f.get("content") == "eq-del"
                   for f in mor.manifest()["files"])
    assert reads() == got
