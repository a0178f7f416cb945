"""Engine configuration.

Mirrors the knobs OpenLogReplicator exposes in OpenLogReplicator.json
(reference: /root/reference/src/OpenLogReplicator.cpp:161-352, 661-745) re-expressed
for a Spark pipeline. Only knobs with a Spark meaning are kept; reader-thread /
memory-pool knobs map to Spark-native equivalents (maxFilesPerTrigger, AQE).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    # MERGE key of the target table — OLR primary-key projection / user "key"
    # override (OpenLogReplicator.cpp:593-617, OracleObject::updatePK).
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")

    # payload (non-key) columns of the target; schema evolution may extend this.
    payload_cols: tuple[str, ...] = ("role", "text", "tool", "ts")

    # table-dictionary filter — OLR Schema::checkDict mask selection
    # (Schema.cpp:430-435, OracleAnalyzerOnline.cpp:213-214). None = all tables.
    table_filter: tuple[str, ...] | None = ("transcripts",)

    # schemaless mode (types.h:139, OutputBuffer.cpp:1015-1019): no table
    # dictionary at all — decode drops neither unknown tables nor keyless DML;
    # events pass through to the change-stream serializer as-is. The lake
    # MERGE path still needs keys, so schemaless pairs with the JSON sink.
    schemaless: bool = False

    # require a begin event before commit to flush, like OLR which skips
    # transactions whose begin was never seen (RedoLog.cpp:733-766).
    require_begin: bool = True

    # D3 before-image trim (COLUMN_FORMAT_CHANGED analog): drop columns from
    # an UPDATE's cols_set whose before image equals the after image
    # (OutputBuffer.cpp:1893-1927). Off by default — correct only when the
    # feed's before images reflect true prior state (real redo feeds do).
    trim_unchanged: bool = False

    # number of hash buckets of the target lake table (MERGE co-location unit).
    num_buckets: int = 16

    # target MERGE strategy (Iceberg write.merge.mode): 'cow' rewrites each
    # touched bucket per batch (read-optimized — best when batches touch few
    # buckets or reads dominate); 'mor' appends batch-sized data files plus
    # equality-delete files and resolves at read time (write-optimized —
    # at 100 TB with small frequent batches CoW's per-batch bucket rewrite
    # is the dominant cost). Pair 'mor' with compact_every.
    merge_mode: str = "cow"

    # streaming maintenance cadence: every N committed microbatches, fold
    # merge-on-read deltas back into data files (LakeTable.compact). None =
    # never (batch callers run compact explicitly).
    compact_every: int | None = None

    # streaming retention cadence: every N committed microbatches, expire
    # superseded snapshots + their now-unreferenced data files on the
    # primary AND every configured side-output table
    # (LakeTable.expire_snapshots, retaining expire_keep snapshots each).
    # Without it a long-running CoW stream grows disk and manifest count
    # without bound — 10^10 events at ~1e6-event microbatches is ~1e4
    # superseded snapshots per table, each a full rewrite of its touched
    # buckets. None = never (batch callers expire explicitly, job.py
    # --expire-keep).
    expire_every: int | None = None
    expire_keep: int = 5

    # salt factor for skew handling in the assembly shuffle: transactions are
    # grouped by pmod(xxhash64(xid), assembly_buckets * parallelism) so one hot
    # conversation cannot pin a single task (north-rule skew requirement).
    assembly_buckets_per_core: int = 4

    # assembly implementation: 'pandas' (salted applyInPandas slim-verdict),
    # 'sql' (pure JVM window functions — never pays the extra full-feed
    # shuffle the pandas path's verdict join degrades to once the verdict
    # side outgrows the broadcast threshold), or 'auto' (default): pick per batch
    # from the Catalyst size estimate of the slim verdict relation vs the
    # session's autoBroadcastJoinThreshold — pandas while the verdict join
    # stays a broadcast, sql once it would degrade to a full-feed shuffle.
    # Callers may still override per call. The SQL path was the faster one
    # in every recorded bench round (cdc_assembly_sql vs _pandas, BENCH_r01-
    # r05), and a 3-pair bulk_backfill A/B on 4 CPUs ran 'auto' and 'sql' at
    # parity (batch_s_p50 4.62/4.69/4.64 s vs 4.07/4.91/5.14 s).
    assembly_mode: str = "auto"

    # start-position modes — the reference resolves a start position by scn /
    # sequence / timestamp / NOW before tailing (OpenLogReplicator.cpp:661-704,
    # OracleAnalyzerOnline.cpp:513-626). Here they become pushed-down feed
    # predicates (scn >= start_scn etc.) applied before decode, so the parquet
    # scan prunes everything older. None = start from the feed's beginning.
    # Note: transactions already in flight at the start position have no
    # begin event in view and are skipped (require_begin), exactly like the
    # reference starting mid-stream.
    start_scn: int | None = None
    start_seq: int | None = None
    start_ts: str | None = None  # ISO 'YYYY-MM-DD HH:MM:SS' (feed ts column)

    # 'NOW' / relative-time start modes (OracleAnalyzerOnline.cpp:513-626:
    # the reference resolves NOW -> the database's current scn and
    # start-time-rel -> now minus N seconds, ONCE, before tailing). Here
    # resolve_start_position (operators/decode.py) maps them onto the feed's
    # own max scn / max ts in one bounded driver action before the first
    # batch; the result is an ordinary pushed-down start_scn / start_ts.
    start_now: bool = False
    start_relative_s: int | None = None

    # checkpoint cadence analog (Writer.cpp:325-354) — streaming trigger seconds.
    trigger_seconds: float = 1.0

    # backpressure analog of memory-max-mb (OracleAnalyzer.cpp:959-992):
    maxFilesPerTrigger: int = 8

    shuffle_partitions: int | None = None  # None = leave session default

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.assembly_mode not in ("pandas", "sql", "auto"):
            raise ValueError(
                f"assembly_mode must be 'pandas', 'sql' or 'auto', got "
                f"{self.assembly_mode!r}"
            )
        if self.merge_mode not in ("cow", "mor"):
            raise ValueError(
                f"merge_mode must be 'cow' or 'mor', got {self.merge_mode!r}"
            )

    @property
    def all_cols(self) -> tuple[str, ...]:
        return tuple(self.key_cols) + tuple(self.payload_cols)
