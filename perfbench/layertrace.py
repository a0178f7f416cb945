"""Outside-in layer trace for the CDC benchmark.

The tracer wraps public (and a few private) functions of the engine BY NAME
from the benchmark's own files; the engine itself is not modified. Each call
into a wrapped boundary becomes a span with a wall time and the Spark jobs it
launched, counted by giving the span its own job group
(``SparkContext.setJobGroup``) and reading
``statusTracker().getJobIdsForGroup`` when it ends. Spans nest by call stack,
so a layer's self time is its span minus the spans of its wrapped callees,
and its job count is the jobs launched in its own group (callees run in
theirs).

A boundary the engine no longer has (renamed or deleted by a refactor) is
recorded in ``Tracer.absent`` and skipped; it never raises. ``uninstall``
puts every original object back.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

PKG = "openlogreplicator_spark"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
               for n in os.listdir(path) if n.endswith(".parquet"))


def _pending_rows(args, kwargs, result) -> dict:
    """Rows the pending store just wrote."""
    store, batch_id = args[0], args[2] if len(args) > 2 else kwargs["batch_id"]
    return {"rows": parquet_rows(os.path.join(store.path, f"v{batch_id}"))}


def _apply_slices(args, kwargs, result) -> dict:
    """DDL slices of one apply: each DDL splits the merge once more."""
    ddls = args[2] if len(args) > 2 else kwargs["ddls"]
    return {"slices": len(ddls) + 1}


def _lake_written(args, kwargs, result) -> dict:
    """Buckets, files and bytes a lake commit wrote: the manifest entries
    whose data sequence number is the committed snapshot's version."""
    out = {"buckets": 0, "files": 0, "bytes": 0}
    if not isinstance(result, dict) or "snapshot_id" not in result:
        return out
    table, sid = args[0], result["snapshot_id"]
    new = [f for f in table.manifest(sid)["files"] if f.get("seq") == sid]
    out["buckets"] = len(result.get("buckets") or {f["bucket"] for f in new})
    out["files"] = len(new)
    out["bytes"] = sum(int(f.get("bytes", 0)) for f in new)
    return out


def _sink_bytes(args, kwargs, result) -> dict:
    path = args[1] if len(args) > 1 else kwargs["path"]
    return {"bytes": dir_bytes(path)}


@dataclass(frozen=True)
class Boundary:
    """One wrapped call: ``layer`` names the span; ``module`` + ``attr``
    (``Class.method`` or ``function``) name the engine object by path."""

    layer: str
    module: str
    attr: str
    counts: Callable | None = None


BOUNDARIES = (
    Boundary("pipeline", f"{PKG}.streaming.pipeline",
             "CDCStreamPipeline.process_batch"),
    Boundary("pipeline.lineage", f"{PKG}.streaming.pipeline",
             "CDCStreamPipeline._write_lineage"),
    Boundary("state.pending", f"{PKG}.streaming.state", "PendingStore.write",
             _pending_rows),
    Boundary("decode.ddl_collect", f"{PKG}.plans.replay", "collect_ddls"),
    Boundary("replay.apply", f"{PKG}.plans.replay", "apply_committed",
             _apply_slices),
    Boundary("lake.merge", f"{PKG}.lake", "LakeTable.merge", _lake_written),
    Boundary("lake.compact", f"{PKG}.lake", "LakeTable.compact",
             _lake_written),
    Boundary("lake.expire", f"{PKG}.lake", "LakeTable.expire_snapshots"),
    Boundary("scd2.apply", f"{PKG}.plans.scd2_apply",
             "apply_scd2_batch_sliced"),
    Boundary("rollup.apply", f"{PKG}.plans.rollup_apply",
             "apply_conv_rollup_batch"),
    Boundary("sigindex.apply", f"{PKG}.plans.dedup_index",
             "apply_sig_index_batch"),
    Boundary("sinks.change_stream", f"{PKG}.sinks.protobuf_stream",
             "write_protobuf_stream", _sink_bytes),
)

# optimistic-commit conflicts are counted, not timed: the commit itself
# launches no Spark job and runs many times per batch
CONFLICT_BOUNDARY = (f"{PKG}.lake", "LakeTable._commit", "CommitConflict")


@dataclass
class Span:
    layer: str
    group: str
    parent: "Span | None"
    dur: float = 0.0
    jobs: int = 0
    child_dur: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Install with ``install()``, run one unit of work, read ``take()``,
    then ``uninstall()``. Single driver thread only."""

    def __init__(self, spark, boundaries=BOUNDARIES):
        self.sc = spark.sparkContext
        self.boundaries = boundaries
        self.absent: set[str] = set()
        self.spans: list[Span] = []
        self.commit_conflicts = 0
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ patching

    @staticmethod
    def _resolve(module: str, attr: str):
        """(owner, name, original) for ``module:attr``, or None if absent."""
        try:
            owner = importlib.import_module(module)
        except ImportError:
            return None
        *path, name = attr.split(".")
        for p in path:
            owner = getattr(owner, p, None)
            if owner is None:
                return None
        orig = owner.__dict__.get(name) if isinstance(owner, type) else \
            getattr(owner, name, None)
        if orig is None or not callable(orig):
            return None
        return owner, name, orig

    def _patch(self, owner, name: str, orig, new) -> None:
        """Replace ``orig`` on its owner and, for module-level functions, in
        every loaded engine module that imported it by name."""
        self._patches.append((owner, name, orig))
        setattr(owner, name, new)
        if isinstance(owner, type):
            return
        for mname, mod in list(sys.modules.items()):
            if mod is owner or not mname.startswith(PKG):
                continue
            for gname, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, gname, orig))
                    setattr(mod, gname, new)

    def install(self) -> "Tracer":
        for b in self.boundaries:
            hit = self._resolve(b.module, b.attr)
            if hit is None:
                self.absent.add(f"{b.module}.{b.attr}")
                continue
            owner, name, orig = hit
            self._patch(owner, name, orig, self._wrap(b, orig))
        module, attr, exc_name = CONFLICT_BOUNDARY
        hit = self._resolve(module, attr)
        exc = getattr(sys.modules.get(module), exc_name, None)
        if hit is None or exc is None:
            self.absent.add(f"{module}.{attr}")
        else:
            owner, name, orig = hit
            self._patch(owner, name, orig, self._wrap_conflicts(orig, exc))
        return self

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    # -------------------------------------------------------------- spans

    def _set_group(self, span: "Span | None") -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.layer)

    def span(self, layer: str, fn, *args, counts=None, **kwargs):
        """Run ``fn(*args, **kwargs)`` as one span of ``layer``. The
        tracer's own work around the call (job groups, the status tracker,
        ``counts``) is added to ``overhead_s`` and kept out of every span's
        self time."""
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, f"perfbench-{next(self._ids)}", parent)
        self._stack.append(s)
        self._set_group(s)
        ok = False
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            ok = True
        finally:
            t1 = time.perf_counter()
            s.dur = t1 - t0
            self._stack.pop()
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(s.group))
            self._set_group(parent)
            self.spans.append(s)
            if ok and counts is not None:
                # a refactor may change a summary's shape: lose the count,
                # not the batch
                try:
                    s.counts = counts(args, kwargs, result)
                except (AttributeError, IndexError, KeyError, OSError,
                        TypeError, ValueError):
                    self.absent.add(f"{layer} counts")
            t_out = time.perf_counter()
            self.overhead_s += (t0 - t_in) + (t_out - t1)
            if parent is not None:
                parent.child_dur += t_out - t_in
        return result

    def _wrap(self, b: Boundary, orig):
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return tracer.span(b.layer, orig, *args, counts=b.counts, **kwargs)

        return traced

    def _wrap_conflicts(self, orig, exc):
        tracer = self

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            try:
                return orig(*args, **kwargs)
            except exc:
                tracer.commit_conflicts += 1
                raise

        return counted

    def take(self) -> dict:
        """Per-layer totals since the last call, then reset:
        {layer: {"self_s", "jobs", "incl_jobs", <counts>...}}.
        ``jobs`` are the layer's own; ``incl_jobs`` adds its callees'."""
        incl: dict[int, int] = {}
        for s in self.spans:  # children end (and are appended) first
            incl[id(s)] = incl.get(id(s), 0) + s.jobs
            if s.parent is not None:
                incl[id(s.parent)] = incl.get(id(s.parent), 0) + incl[id(s)]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.layer, {"self_s": 0.0, "jobs": 0,
                                         "incl_jobs": 0})
            d["self_s"] += s.dur - s.child_dur
            d["jobs"] += s.jobs
            d["incl_jobs"] += incl[id(s)]
            for k, v in s.counts.items():
                d[k] = d.get(k, 0) + v
        out["_conflicts"] = {"count": self.commit_conflicts}
        out["_tracer"] = {"overhead_s": self.overhead_s}
        self.spans.clear()
        self.commit_conflicts = 0
        self.overhead_s = 0.0
        return out
