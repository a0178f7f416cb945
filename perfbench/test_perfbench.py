"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/ -q

The smoke test runs every workload at a tiny input size, once untraced and
once traced, and checks that each run passes its output checks and prints
every metric BENCHMARK.json names with its unit. The tracer tests need no
Spark session.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import layertrace  # noqa: E402
import run  # noqa: E402

WORKLOADS = sorted(run.SHAPES["smoke"])

# per-layer metrics that a traced run of each workload must see move
_STREAM = ["pipeline.jobs", "pipeline.self_s", "pipeline.lineage_s",
           "pipeline.lineage_jobs", "state.pending_write_s",
           "state.pending_jobs", "replay.apply_s", "replay.apply_jobs",
           "replay.slices", "lake.merge_s", "lake.merge_jobs",
           "lake.buckets_touched", "lake.files_written", "lake.mb_written",
           "jvm.cpu_s", "jvm.jit_ms", "trace.overhead_s"]
ON_PATH = {
    "bulk_backfill": ["decode.ddl_collect_s", "decode.ddl_collect_jobs",
                      "replay.apply_s", "replay.apply_jobs", "replay.slices",
                      "lake.merge_s", "lake.merge_jobs",
                      "lake.buckets_touched", "lake.files_written",
                      "lake.mb_written", "lww.rows_per_event", "jvm.cpu_s",
                      "jvm.jit_ms", "trace.overhead_s"],
    "stream_small": _STREAM + ["lake.expire_s"],
    "stream_full": _STREAM + [
        "lake.compact_s", "lake.expire_s", "lake.delete_files_live",
        "scd2.apply_s", "scd2.jobs", "rollup.apply_s", "sigindex.apply_s",
        "sinks.change_stream_s", "sinks.change_stream_jobs",
        "sinks.change_stream_mb"],
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        # a tracer whose spans never fire, or whose job groups see no jobs,
        # would read 0 on every layer
        zero = [k for k in ON_PATH[workload] if not values[k] > 0]
        assert not zero, zero
    else:
        assert all(v > 0 for v in values.values()), values
    prov = json.loads(lines[-2])["provenance"]
    assert prov["oracle_mismatches"] == 0 and prov["absent"] == []
    for k in ("nproc", "heap", "jvm", "spark", "seed", "steal_ticks",
              "loadavg_start", "loadavg_end", "jvm_per_batch"):
        assert k in prov, k


def test_benchmark_json_matches_runner():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == [
        "bulk_backfill", "stream_full"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert units == run.E2E_UNITS
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


class _Ctx:
    """Stands in for a SparkContext: install/uninstall never touch it."""


class _Spark:
    sparkContext = _Ctx()


def test_missing_boundary_is_absent_not_an_error():
    gone = layertrace.Boundary(
        "gone", f"{layertrace.PKG}.plans.replay", "no_such_function")
    gone_cls = layertrace.Boundary(
        "gone", f"{layertrace.PKG}.lake", "NoSuchClass.merge")
    gone_mod = layertrace.Boundary(
        "gone", f"{layertrace.PKG}.no_such_module", "f")
    t = layertrace.Tracer(_Spark(), (gone, gone_cls, gone_mod))
    t.install()
    t.uninstall()
    assert {f"{b.module}.{b.attr}" for b in (gone, gone_cls, gone_mod)} <= \
        t.absent


def test_install_patches_importers_and_uninstall_restores():
    from openlogreplicator_spark.lake import LakeTable
    from openlogreplicator_spark.plans import replay
    from openlogreplicator_spark.streaming import pipeline

    orig_fn = replay.apply_committed
    orig_merge = LakeTable.__dict__["merge"]
    assert pipeline.apply_committed is orig_fn
    t = layertrace.Tracer(_Spark())
    t.install()
    try:
        # the defining module AND the module that imported it by name
        assert replay.apply_committed is not orig_fn
        assert pipeline.apply_committed is replay.apply_committed
        assert LakeTable.__dict__["merge"] is not orig_merge
    finally:
        t.uninstall()
    assert replay.apply_committed is orig_fn
    assert pipeline.apply_committed is orig_fn
    assert LakeTable.__dict__["merge"] is orig_merge
    assert t.absent == set()
