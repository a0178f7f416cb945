"""CDC engine benchmark: one closed-loop driver process per run.

    python3 perfbench/run.py --workload stream_small --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

  bulk_backfill  one ``replay_batch`` of a large feed into a non-empty
                 copy-on-write table, repeated on fresh copies of that table
  stream_small   ``CDCStreamPipeline.process_batch`` over small scn-sliced
                 microbatch files on a non-empty CoW table, with an expiry
                 cadence and a consumer scan after every batch
  stream_full    the same microbatch shape on a merge-on-read table with
                 compaction + expiry cadences, mid-stream DDL, SCD2 history,
                 the conversations rollup, the signature index and the
                 protobuf change stream

The load generator (``feed.generate_change_events``) writes every input to
parquet before the engine's clock starts. ``--seconds`` sets how much work is
timed: the number of timed batches (or reps) is ``--seconds`` divided by the
workload's nominal batch time on a 4-CPU host, so a given seed always gets
the same inputs and the same amount of work.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with the layer tracer (perfbench/layertrace.py) on every timed batch
and prints the per-layer metrics. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; the line before it
carries the run's provenance. A run whose outputs differ from the
sequential oracle prints correct=false and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from urllib.parse import unquote

from layertrace import Tracer, dir_bytes, parquet_rows

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "openlogreplicator_spark"
HEAP = "3g"  # 4 local task threads; leaves most of a 15 GB host free


@dataclass(frozen=True)
class Shape:
    """Input sizes and engine settings of one workload at one scale."""

    txs_per_file: int          # stream: txs per microbatch file
    n_convs: int
    base_txs: int              # txs already in the table before timing
    nominal_s: float           # nominal timed-batch seconds (4 CPUs)
    min_timed: int
    warm_batches: int          # warm-up batches on the separate table
    backfill_txs: int = 0      # bulk: txs in the timed replay
    merge_mode: str = "cow"
    compact_every: int | None = None
    expire_every: int | None = None
    with_ddl: bool = False
    side_outputs: bool = False
    num_buckets: int = 16


SHAPES = {
    "full": {
        # two warm-up reps: the JIT burst after the first one still lands
        # in the next two replays
        "bulk_backfill": Shape(0, 2000, 1500, 5.0, 3, 2, backfill_txs=10000),
        "stream_small": Shape(400, 2000, 1600, 4.0, 4, 1, expire_every=2),
        # one compaction cycle: a compaction + expiry batch, then a plain
        # MoR batch whose delete files the consumer scans resolve
        "stream_full": Shape(400, 2000, 400, 16.0, 2, 0, merge_mode="mor",
                             compact_every=2, expire_every=2, with_ddl=True,
                             side_outputs=True, num_buckets=4),
    },
    # smoke scale: seconds-long runs that still cross every code path
    "smoke": {
        "bulk_backfill": Shape(0, 40, 60, 60.0, 2, 1, backfill_txs=300),
        "stream_small": Shape(40, 30, 80, 60.0, 2, 1, expire_every=2),
        "stream_full": Shape(40, 30, 40, 60.0, 2, 0, merge_mode="mor",
                             compact_every=2, expire_every=2, with_ddl=True,
                             side_outputs=True),
    },
}

PAYLOAD_CHARS = 200
P_MULTIROW = 0.05
MAX_DML = 8  # generate_change_events default; fixes the scn layout below

# consumer scans after each timed batch: scans are short, and the median of
# 5 keeps the first, colder one (it plans a read of a new snapshot) and the
# run-to-run jitter of the rest out of the figure
SCANS_PER_BATCH = 5

E2E_UNITS = {"events_per_s": "1/s", "batch_s_p50": "s", "scan_s_p50": "s",
             "peak_rss_mb": "MB", "disk_mb": "MB", "setup_s": "s"}


# ----------------------------------------------------------------- helpers

def n_timed(shape: Shape, seconds: float) -> int:
    n = max(shape.min_timed, round(seconds / shape.nominal_s))
    cycle = shape.compact_every or 1
    return -(-n // cycle) * cycle  # whole compaction cycles only


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def tail_percentile(values: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    return {"value": sorted(values)[n - 11], "pct": round(pct, 1), "n": n}


class JvmProbe:
    """Cumulative JIT, GC and CPU time of the driver JVM (no Spark job)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def read(self) -> dict:
        gc = sum(max(0, b.getCollectionTime())
                 for b in self.mf.getGarbageCollectorMXBeans())
        return {"jit_ms": float(self.mf.getCompilationMXBean()
                                .getTotalCompilationTime()),
                "gc_ms": float(gc), "cpu_s": proc_cpu_s(self.pid)}

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}


# -------------------------------------------------------------- load gen

def slice_width(n_txs: int, n_files: int) -> int:
    """scn width of one feed file. scn = step * n_txs + tx_id with
    step < (tx_id + 2) * (MAX_DML + 2) * 3, so this covers every event."""
    hi = (n_txs + 2) * (MAX_DML + 2) * 3 * n_txs
    return -(-hi // n_files)


def ddl_file(n_txs: int, n_files: int) -> int:
    """The file holding the generator's mid-feed DDL (``with_ddl``)."""
    mid = (n_txs // 2) * (MAX_DML + 2) * 3 * n_txs
    return mid // slice_width(n_txs, n_files)


def write_feeds(spark, work: str, feeds: dict[str, dict]) -> None:
    """Generate every feed of a run in ONE Spark job and write feed ``name``
    to ``work/name``. A spec with ``n_files`` is cut into that many scn-range
    slices (``f=<i>``): slice i holds every event with scn in its i-th
    equal-width range, so transactions span file boundaries like a live redo
    stream. A spec with ``base_txs`` is split by WHOLE transactions:
    ``part=base`` holds the transactions that end at or before the scn where
    tx ``base_txs`` begins, ``part=backfill`` the rest, so every backfill
    commit is above the base table's high-water mark and the two parts
    replayed in order equal the whole feed replayed at once."""
    from functools import reduce

    from pyspark.sql import Window, functions as F

    from openlogreplicator_spark.feed import generate_change_events

    frames = []
    for name, spec in feeds.items():
        n_txs = spec["n_txs"]
        ev = generate_change_events(
            spark, n_txs=n_txs, n_convs=spec["n_convs"], seed=spec["seed"],
            payload_chars=PAYLOAD_CHARS, p_multirow=P_MULTIROW,
            with_ddl=spec.get("with_ddl", False))
        if "n_files" in spec:
            width = slice_width(n_txs, spec["n_files"])
            key = F.concat(F.lit("f="),
                           (F.col("scn") / F.lit(width)).cast("int"))
        else:
            split = spec["base_txs"] * (MAX_DML + 2) * 3 * n_txs
            end = F.max("scn").over(Window.partitionBy("xid"))
            key = F.when(end <= F.lit(split), "part=base") \
                .otherwise("part=backfill")
        frames.append(ev.withColumn("_dir", F.concat(
            F.lit(f"{name}/"), key)))
    out = os.path.join(work, "_feeds")
    (reduce(lambda x, y: x.unionByName(y), frames)
     .repartition(F.col("_dir"))
     .sortWithinPartitions("_dir", "scn", "seq")
     .write.partitionBy("_dir").parquet(out))
    for d in os.listdir(out):
        if d.startswith("_dir="):
            name, sub = unquote(d[len("_dir="):]).split("/")
            os.makedirs(os.path.join(work, name), exist_ok=True)
            os.rename(os.path.join(out, d), os.path.join(work, name, sub))
    shutil.rmtree(out)


def read_feed(spark, paths: "str | list[str]"):
    from openlogreplicator_spark.feed import CHANGE_EVENT_SCHEMA

    paths = [paths] if isinstance(paths, str) else paths
    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)


# ---------------------------------------------------------------- checks

ORACLE_COLS = ["scn", "seq", "xid", "op", "conv_id", "turn_idx", "after",
               "cols_set", "rows", "ddl"]


def _none(v):
    """pandas' missing markers (NaN, NaT) as None."""
    import pandas as pd

    return None if v is None or pd.isna(v) else v


def _ts_us(v):
    import pandas as pd

    if _none(v) is None:
        return None
    t = pd.Timestamp(v)
    if t.tzinfo is None:
        t = t.tz_localize("UTC")
    return t.value // 1000


def oracle_mismatches(spark, table, feed_paths: list[str]) -> int:
    """Rows in which the table differs from ``feed.sequential_oracle`` over
    every event in ``feed_paths`` (0 = equal)."""
    from collections import Counter

    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from openlogreplicator_spark.feed import sequential_oracle

    rows = []
    for p in feed_paths:
        rows += pq.read_table(p, columns=ORACLE_COLS).to_pylist()
    want = sequential_oracle(pd.DataFrame(rows, columns=ORACLE_COLS))

    got_df = table.read(spark)
    cols = ["role", "text", "tool"]
    has_meta = "meta" in got_df.columns
    got = Counter(
        (r["conv_id"], int(r["turn_idx"]), *[r[c] for c in cols], r["ts_us"],
         r["meta"] if has_meta else None)
        for r in got_df.select(
            "conv_id", "turn_idx", *cols,
            F.unix_micros("ts").alias("ts_us"),
            *(["meta"] if has_meta else [])).collect())
    exp = Counter(
        (r.conv_id, int(r.turn_idx), *[_none(getattr(r, c)) for c in cols],
         _ts_us(r.ts), _none(r.meta))
        for r in want.itertuples(index=False))
    return sum(((got - exp) + (exp - got)).values())


def change_stream_errors(cs_dir: str, batch_ids: list[int]) -> int:
    """Change-stream messages (or whole batch directories) of ``batch_ids``
    that fail to decode with ``sinks.protobuf_stream.decode_response``."""
    import pyarrow.parquet as pq

    from openlogreplicator_spark.sinks.protobuf_stream import decode_response

    bad = 0
    for b in batch_ids:
        d = os.path.join(cs_dir, f"batch_{b}")
        if not os.path.isdir(d):
            bad += 1
            continue
        for v in pq.read_table(d, columns=["value"]).column("value").to_pylist():
            try:
                resp = decode_response(v)
                if not resp["payloads"]:
                    bad += 1
            except (IndexError, KeyError, UnicodeDecodeError, ValueError):
                bad += 1
    return bad


def table_digest(spark, table) -> tuple:
    """Order-independent content digest of a table (one Spark job)."""
    from pyspark.sql import functions as F

    df = table.read(spark)
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    r = df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).first()
    return int(r[0]), str(r[1])


def consumer_scan(spark, table) -> None:
    """What a reader pays: resolve the snapshot and aggregate a payload
    column (``count()`` alone would be answered from parquet footers)."""
    from pyspark.sql import functions as F

    table.read(spark).agg(F.sum(F.length("text")), F.count("role")).first()


# ------------------------------------------------------------------ run

@dataclass
class Run:
    """What one run measured; turned into the printed result at the end."""

    batch_s: list[float] = field(default_factory=list)
    events: list[int] = field(default_factory=list)
    scan_s: list[list[float]] = field(default_factory=list)  # per batch
    jvm: list[dict] = field(default_factory=list)
    layers: list[dict] = field(default_factory=list)
    operators: dict = field(default_factory=dict)
    warm_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    mismatches: int = 0
    setup_s: float = 0.0
    disk_bytes: int = 0
    rss_mb: float = 0.0

    def mark_rss(self, jvm_pid: int) -> None:
        """Peak RSS of the JVM plus this driver process, read when the timed
        work ends: the output checks afterwards are benchmark work."""
        self.rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0


class Bench:
    def __init__(self, spark, shape: Shape, seed: int, timed: int,
                 trace: bool, work: str):
        from openlogreplicator_spark.config import EngineConfig

        self.spark, self.shape = spark, shape
        self.seed, self.timed, self.trace, self.work = seed, timed, trace, work
        self.cfg = EngineConfig(
            num_buckets=shape.num_buckets, merge_mode=shape.merge_mode,
            compact_every=shape.compact_every,
            expire_every=shape.expire_every)
        self.run = Run()
        self.jvm = JvmProbe(spark)
        self.tracer = Tracer(spark) if trace else None
        self.loadgen_s = 0.0
        self.check_s = 0.0
        self.ddl_batch = None  # timed batch holding the mid-feed DDL

    def path(self, *p) -> str:
        return os.path.join(self.work, *p)

    def loadgen(self, feeds: dict) -> None:
        t0 = time.perf_counter()
        write_feeds(self.spark, self.work, feeds)
        self.loadgen_s += time.perf_counter() - t0

    def timed_unit(self, n_events: int, fn, *a) -> None:
        """Time one batch (or rep); count it failed if it raises."""
        if self.trace:
            self.tracer.install()
        j0 = self.jvm.read()
        t0 = time.perf_counter()
        ok = True
        try:
            fn(*a)
        except Exception:  # a failed batch is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        self.run.jvm.append(JvmProbe.delta(j0, self.jvm.read()))
        if self.trace:
            self.tracer.uninstall()
            self.run.layers.append(self.tracer.take())
        self.run.attempted += 1
        self.run.failed += not ok
        if ok:
            self.run.batch_s.append(dt)
            self.run.events.append(n_events)

    def scan(self, table) -> None:
        self.run.scan_s.append([])
        for _ in range(SCANS_PER_BATCH):
            self.run.attempted += 1
            t0 = time.perf_counter()
            try:
                consumer_scan(self.spark, table)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.run.failed += 1
                continue
            self.run.scan_s[-1].append(time.perf_counter() - t0)

    # --------------------------------------------------------- operators

    def isolate_operators(self, events) -> None:
        """Split decode / assembly / net change, which are lazy inside the
        engine's actions: time progressively longer operator prefixes into
        Spark's noop sink (best of 2) and take differences."""
        from pyspark.sql import functions as F

        try:
            from openlogreplicator_spark.operators.decode import (
                decode_events, unnest_multirow)
            from openlogreplicator_spark.operators.lww import net_changes
            from openlogreplicator_spark.plans.replay import assemble
        except ImportError:
            self.tracer.absent.add("operator prefixes")
            return
        cfg = self.cfg
        try:
            proj = ["scn", "seq", "xid", "op", *cfg.key_cols, "after",
                    "cols_set", "rows"]
            dec = decode_events(events, cfg).where(F.col("op") != "DDL")
            dec = dec.select(*proj)
            asm = unnest_multirow(assemble(dec, cfg))
            net = net_changes(asm, list(cfg.key_cols),
                              list(cfg.payload_cols))
            t = {}
            for name, df in (("scan", events), ("decode", dec),
                             ("assembly", asm), ("lww", net)):
                best = None
                for _ in range(2):
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                t[name] = best
            n_dml = dec.where(F.col("op").isin("I", "U", "D", "MI", "MD")) \
                .count()
            n_net = net.count()
        except (AttributeError, TypeError, ValueError) as e:
            print(f"operator isolation skipped: {e!r}", file=sys.stderr)
            self.tracer.absent.add("operator prefixes")
            return
        self.run.operators = {
            "decode.s": t["decode"] - t["scan"],
            "assembly.s": t["assembly"] - t["decode"],
            "lww.s": t["lww"] - t["assembly"],
            "lww.rows_per_event": n_net / max(n_dml, 1),
        }

    # ------------------------------------------------------------ bulk

    def bulk_backfill(self, t_session: float) -> None:
        from openlogreplicator_spark.lake import LakeTable
        from openlogreplicator_spark.plans.replay import (
            bootstrap_target, replay_batch)

        sh = self.shape
        spec = dict(n_txs=sh.base_txs + sh.backfill_txs, n_convs=sh.n_convs,
                    base_txs=sh.base_txs)
        self.loadgen({"feed": dict(spec, seed=self.seed),
                      "warm_feed": dict(spec, seed=self.seed + 100_003)})
        n_events = parquet_rows(self.path("feed", "part=backfill"))

        def fresh_copy(name: str):
            shutil.copytree(self.path("base"), self.path(name))
            return LakeTable(self.path(name))

        base = bootstrap_target(self.path("base"), self.cfg)
        replay_batch(self.spark, read_feed(
            self.spark, self.path("feed", "part=base")), base, self.cfg, 0)
        # warm-up: the timed replay's shape on a copy of the base table, fed
        # by a separate feed (same layout, so its backfill commits all lie
        # above the base table's high-water mark)
        warm_backfill = read_feed(self.spark,
                                  self.path("warm_feed", "part=backfill"))
        for i in range(sh.warm_batches):
            t0 = time.perf_counter()
            replay_batch(self.spark, warm_backfill, fresh_copy(f"warm{i}"),
                         self.cfg, 1)
            self.run.warm_s.append(time.perf_counter() - t0)
        self.run.setup_s = time.perf_counter() - t_session - self.loadgen_s

        backfill = read_feed(self.spark, self.path("feed", "part=backfill"))
        digests = set()
        for i in range(self.timed):
            table = fresh_copy(os.path.join("sut", f"rep{i}"))
            self.timed_unit(n_events, replay_batch, self.spark, backfill,
                            table, self.cfg, 1)
            self.scan(table)
            t0 = time.perf_counter()
            digests.add(table_digest(self.spark, table))
            if i + 1 < self.timed:
                shutil.rmtree(table.path)
            self.check_s += time.perf_counter() - t0
        self.run.mark_rss(self.jvm.pid)
        if self.trace:
            self.isolate_operators(backfill)
        # every rep must have produced the same table; the last one must
        # equal the sequential oracle of the whole feed
        t0 = time.perf_counter()
        self.run.mismatches = (len(digests) - 1) + oracle_mismatches(
            self.spark, table, [self.path("feed", "part=base"),
                                self.path("feed", "part=backfill")])
        self.check_s += time.perf_counter() - t0
        self.run.disk_bytes = dir_bytes(self.path("sut"))

    # ---------------------------------------------------------- stream

    def _pipeline(self, root: str, table=None):
        """A pipeline writing under ``root``: onto ``table`` if given, else
        onto a fresh primary, with this workload's side outputs."""
        from openlogreplicator_spark.plans.replay import bootstrap_target
        from openlogreplicator_spark.streaming.pipeline import (
            CDCStreamPipeline)

        if table is None:
            table = bootstrap_target(os.path.join(root, "t"), self.cfg)
        if not self.shape.side_outputs:
            return CDCStreamPipeline(table, self.cfg,
                                     os.path.join(root, "state"))
        from openlogreplicator_spark.plans.dedup_index import (
            bootstrap_sig_index)
        from openlogreplicator_spark.plans.rollup_apply import (
            bootstrap_conversations_target)
        from openlogreplicator_spark.plans.scd2_apply import (
            bootstrap_scd2_open_target, bootstrap_scd2_target)
        from openlogreplicator_spark.sinks.protobuf_stream import ProtoFormat

        j = lambda n: os.path.join(root, n)  # noqa: E731
        return CDCStreamPipeline(
            table, self.cfg, j("state"),
            change_stream_dir=j("change_stream"),
            change_stream_format="protobuf",
            change_stream_fmt=ProtoFormat(schema_format=1),
            history_table=bootstrap_scd2_target(j("history"), self.cfg),
            history_open_table=bootstrap_scd2_open_target(j("open"), self.cfg),
            conversations_table=bootstrap_conversations_target(
                j("conversations"), self.cfg),
            sig_index_table=bootstrap_sig_index(j("sig_index"), self.cfg))

    def stream(self, t_session: float) -> None:
        from openlogreplicator_spark.lake import LakeTable

        sh = self.shape
        base_files = max(1, sh.base_txs // sh.txs_per_file)
        n_files = base_files + self.timed
        if sh.with_ddl:
            self.ddl_batch = ddl_file(sh.txs_per_file * n_files,
                                      n_files) - base_files
            if self.ddl_batch < 0:
                raise ValueError("the mid-feed DDL would land in the "
                                 "bootstrap batch, not in the timed window: "
                                 "time more batches or bootstrap fewer")
        spec = dict(n_txs=sh.txs_per_file * n_files, n_convs=sh.n_convs,
                    n_files=n_files)
        feeds = {"feed": dict(spec, seed=self.seed, with_ddl=sh.with_ddl)}
        if sh.warm_batches:
            feeds["warm_feed"] = dict(spec, seed=self.seed + 100_003)
        self.loadgen(feeds)
        # the base slices go into the table as ONE bootstrap batch; the
        # open transactions it leaves carry over through the pending store
        base_paths = [self.path("feed", f"f={i}") for i in range(base_files)]
        batches = [(read_feed(self.spark, p), p) for p in
                   (self.path("feed", f"f={i}")
                    for i in range(base_files, n_files))]
        counts = [parquet_rows(p) for _df, p in batches]

        pipe = self._pipeline(self.path("sut"))
        pipe.process_batch(read_feed(self.spark, base_paths), 0)
        # warm-up: timed-shape batches on a copy of the bootstrapped table
        # and its pending state (fresh side outputs), fed by a separate feed
        # whose slices after the base lie above the copy's high-water mark.
        # Its transactions may continue the copied open ones: the output is
        # discarded, only the plans and code paths matter.
        if sh.warm_batches:
            shutil.copytree(pipe.table.path, self.path("warm", "t"))
            shutil.copytree(self.path("sut", "state"),
                            self.path("warm", "state"))
            warm = self._pipeline(self.path("warm"),
                                  LakeTable(self.path("warm", "t")))
        for b in range(sh.warm_batches):
            t0 = time.perf_counter()
            warm.process_batch(read_feed(
                self.spark, self.path("warm_feed", f"f={base_files + b}")),
                b + 1)
            consumer_scan(self.spark, warm.table)
            self.run.warm_s.append(time.perf_counter() - t0)
        self.run.setup_s = time.perf_counter() - t_session - self.loadgen_s

        for i, ((df, _p), n) in enumerate(zip(batches, counts)):
            # looked up at call time, so the tracer's wrapper is the one
            # that runs on traced batches
            self.timed_unit(n, lambda d, b: pipe.process_batch(d, b),
                            df, i + 1)
            self.scan(pipe.table)
            if self.trace:
                self.run.layers[-1]["_live_deletes"] = sum(
                    1 for t in self._tables(pipe)
                    for f in t.manifest()["files"]
                    if f.get("content") == "eq-del")
        self.run.mark_rss(self.jvm.pid)
        t0 = time.perf_counter()
        self.run.mismatches = oracle_mismatches(
            self.spark, pipe.table, base_paths + [p for _df, p in batches])
        if sh.side_outputs:
            self.run.mismatches += change_stream_errors(
                self.path("sut", "change_stream"),
                list(range(1, len(batches) + 1)))
        self.check_s += time.perf_counter() - t0
        self.run.disk_bytes = dir_bytes(self.path("sut"))

    @staticmethod
    def _tables(pipe) -> list:
        return [pipe.table, *pipe.history_tables.values(),
                *pipe.history_open_tables.values(),
                *pipe.conversations_tables.values(),
                *pipe.sig_index_tables.values()]


# ---------------------------------------------------------------- output

def layer_metrics(run: Run) -> dict:
    """Per-layer metrics, per traced batch: job counts as the low median
    (they repeat exactly), everything else as the mean (cadence work such
    as compaction lands in some batches only)."""
    names = {
        # metric: (layer, field, kind)
        "pipeline.jobs": ("pipeline", "incl_jobs", "jobs"),
        "pipeline.self_s": ("pipeline", "self_s", "mean"),
        "pipeline.lineage_s": ("pipeline.lineage", "self_s", "mean"),
        "pipeline.lineage_jobs": ("pipeline.lineage", "jobs", "jobs"),
        "state.pending_write_s": ("state.pending", "self_s", "mean"),
        "state.pending_jobs": ("state.pending", "jobs", "jobs"),
        "state.pending_rows": ("state.pending", "rows", "mean"),
        "decode.ddl_collect_s": ("decode.ddl_collect", "self_s", "mean"),
        "decode.ddl_collect_jobs": ("decode.ddl_collect", "jobs", "jobs"),
        "replay.apply_s": ("replay.apply", "self_s", "mean"),
        "replay.apply_jobs": ("replay.apply", "jobs", "jobs"),
        "replay.slices": ("replay.apply", "slices", "mean"),
        "lake.merge_s": ("lake.merge", "self_s", "mean"),
        "lake.merge_jobs": ("lake.merge", "jobs", "jobs"),
        "lake.buckets_touched": ("lake.merge", "buckets", "mean"),
        "lake.compact_s": ("lake.compact", "self_s", "mean"),
        "lake.expire_s": ("lake.expire", "self_s", "mean"),
        "lake.commit_retries": ("_conflicts", "count", "mean"),
        "lake.delete_files_live": ("_live_deletes", None, "mean"),
        "scd2.apply_s": ("scd2.apply", "self_s", "mean"),
        "scd2.jobs": ("scd2.apply", "jobs", "jobs"),
        "rollup.apply_s": ("rollup.apply", "self_s", "mean"),
        "rollup.jobs": ("rollup.apply", "jobs", "jobs"),
        "sigindex.apply_s": ("sigindex.apply", "self_s", "mean"),
        "sigindex.jobs": ("sigindex.apply", "jobs", "jobs"),
        "sinks.change_stream_s": ("sinks.change_stream", "self_s", "mean"),
        "sinks.change_stream_jobs": ("sinks.change_stream", "jobs", "jobs"),
    }
    per_batch = run.layers or [{}]

    def value(b: dict, layer: str, fld) -> float:
        v = b.get(layer, 0)
        return v if fld is None else (v or {}).get(fld, 0)

    out = {}
    for metric, (layer, fld, kind) in names.items():
        vals = [value(b, layer, fld) for b in per_batch]
        out[metric] = (statistics.median_low(vals) if kind == "jobs"
                       else statistics.fmean(vals))
    written = [value(b, "lake.merge", "files") + value(b, "lake.compact", "files")
               for b in per_batch]
    out["lake.files_written"] = statistics.fmean(written)
    mb = [(value(b, "lake.merge", "bytes") + value(b, "lake.compact", "bytes"))
          / 1e6 for b in per_batch]
    out["lake.mb_written"] = statistics.fmean(mb)
    out["sinks.change_stream_mb"] = statistics.fmean(
        value(b, "sinks.change_stream", "bytes") / 1e6 for b in per_batch)
    for k in ("decode.s", "assembly.s", "lww.s", "lww.rows_per_event"):
        out[k] = run.operators.get(k, 0.0)
    for k in ("cpu_s", "jit_ms", "gc_ms"):
        out[f"jvm.{k}"] = statistics.fmean(j[k] for j in run.jvm) \
            if run.jvm else 0.0
    out["trace.overhead_s"] = statistics.fmean(
        value(b, "_tracer", "overhead_s") for b in per_batch)
    return out


def scan_p50(scan_s: list[list[float]]) -> float:
    """The median scan after a batch, averaged over the timed batches. On
    stream_full the scans after a compaction batch and after a plain MoR
    batch form two clusters; a median over all of them would fall in the
    gap between the two, so each batch's median is taken first."""
    per_batch = [statistics.median(b) for b in scan_s if b]
    return statistics.fmean(per_batch) if per_batch else 0.0


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def jit_slope(jvm: list[dict]) -> dict:
    """Is the timed window still on the JIT warm-up slope? JIT time never
    reaches zero here (every batch compiles fresh generated code), so the
    test is whether it has levelled off: the first half's median JIT ms
    against the second half's."""
    jit = [j["jit_ms"] for j in jvm]
    if len(jit) < 2:
        return {"on_slope": None, "jit_ms": jit}
    h = len(jit) // 2
    first, second = statistics.median(jit[:h]), statistics.median(jit[h:])
    return {"on_slope": first > 1.5 * max(second, 1.0),
            "first_half_ms": first, "second_half_ms": second}


def session(work: str):
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.hadoop.hadoop.tmp.dir", os.path.join(work, "hadoop"))
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -Djava.io.tmpdir={local}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SHAPES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SHAPES), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package next to perfbench/ (run from "
              "a checkout of the repository)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers (pandas / protobuf UDFs) import the engine package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    sys.path.insert(0, ROOT)

    shape = SHAPES[args.scale][args.workload]
    timed = n_timed(shape, args.seconds)
    steal0, total0 = cpu_ticks()
    load0 = os.getloadavg()
    t_session = time.perf_counter()
    spark, cpus = session(work)
    try:
        bench = Bench(spark, shape, args.seed, timed, bool(args.trace),
                      work)
        if args.workload == "bulk_backfill":
            bench.bulk_backfill(t_session)
        else:
            bench.stream(t_session)
        run = bench.run
        jvm = spark._jvm.java.lang.System
        versions = {"jvm": f"{jvm.getProperty('java.vm.name')} "
                           f"{jvm.getProperty('java.version')}",
                    "spark": spark.version}
        absent = sorted(bench.tracer.absent) if bench.tracer else []
    finally:
        stop(spark)
        steal1, total1 = cpu_ticks()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there

    correct = run.mismatches == 0 and run.failed == 0
    if not run.batch_s:
        print("perfbench: every timed batch failed", file=sys.stderr)
        return 1
    if args.trace:
        units = per_layer_units()
        values = layer_metrics(run)
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in units.items()}
    else:
        values = {
            "events_per_s": sum(run.events) / sum(run.batch_s),
            "batch_s_p50": statistics.median(run.batch_s),
            "scan_s_p50": scan_p50(run.scan_s),
            "peak_rss_mb": run.rss_mb,
            "disk_mb": run.disk_bytes / 1e6,
            "setup_s": run.setup_s,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in values.items()}
    provenance = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
        "heap": HEAP, **versions, "python": sys.version.split()[0],
        "wall_s": time.perf_counter() - t_session,
        "loadgen_s": bench.loadgen_s, "check_s": bench.check_s,
        "timed_batches": timed, "batch_s": run.batch_s, "scan_s": run.scan_s,
        "ddl_batch": bench.ddl_batch,
        "warmup_s": run.warm_s,
        "jvm_per_batch": run.jvm, "jit": jit_slope(run.jvm),
        "batch_s_tail": tail_percentile(run.batch_s),
        "failed_frac": run.failed / max(run.attempted, 1),
        "oracle_mismatches": run.mismatches,
        "steal_ticks": steal1 - steal0,
        "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "absent": absent,
    }
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
