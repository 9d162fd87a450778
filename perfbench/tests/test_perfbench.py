"""Tests of the benchmark's own parts: the /proc sampler, the seeded
inputs, the tracer, and the repeatability of traced counts.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from perfbench import inputs, procstat, workloads
from perfbench.trace import Tracer, traced_engine

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
#: per-layer metrics made only of counts, which must repeat exactly
COUNT_METRICS = [m["name"] for m in SPEC["per_layer"] if m["unit"] in ("count", "bytes")] + [
    "codecs.block.original_frac", "codecs.selector.fsst_win_frac",
    "sources.orc_file.stripes_kept_frac", "sources.orc_file.groups_decoded_frac",
]


def _poll(cond, timeout_s: float = 10.0) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.05)
    return cond()


# --- procstat ------------------------------------------------------------------


def test_tree_cpu_counts_a_live_child():
    spin = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\nsys.stdin.read()"
    child = subprocess.Popen([sys.executable, "-c", spin], stdin=subprocess.PIPE)
    try:
        before = procstat.tree_cpu_seconds()
        assert child.pid in procstat.descendants(os.getpid())
        assert _poll(lambda: procstat.cpu_seconds(child.pid) >= 0.6)
        assert procstat.tree_cpu_seconds() - before >= 0.4
    finally:
        child.stdin.close()
        child.wait(timeout=10)
    assert child.returncode == 0


def test_tree_cpu_keeps_a_reaped_child():
    before = procstat.tree_cpu_seconds()
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", spin], check=True, timeout=30)
    assert procstat.tree_cpu_seconds() - before >= 0.4


def test_peak_worker_rss_sees_pyspark_workers_only():
    hold = "import sys\nx = bytearray(150_000_000)\nsys.stdin.read()"
    worker = subprocess.Popen([sys.executable, "-c", hold, "pyspark.worker"], stdin=subprocess.PIPE)
    other = subprocess.Popen([sys.executable, "-c", hold], stdin=subprocess.PIPE)
    try:
        assert _poll(lambda: procstat.peak_rss_mb(worker.pid) >= 150)
        assert _poll(lambda: procstat.peak_rss_mb(other.pid) >= 150)
        assert procstat.python_workers() == [worker.pid]
        assert 150 <= procstat.peak_worker_rss_mb() < 400
    finally:
        for p in (worker, other):
            p.stdin.close()
            p.wait(timeout=10)


def test_wait_gone_kills_what_outlives_the_timeout():
    quick = subprocess.Popen([sys.executable, "-c", "pass"])
    stuck = subprocess.Popen(["sleep", "60"])
    snap = procstat.snapshot()
    assert {quick.pid, stuck.pid} <= {p for p, _ in snap}
    quick.wait(timeout=10)
    assert procstat.wait_gone(snap, timeout_s=0.5) == [stuck.pid]
    assert stuck.wait(timeout=10) != 0


# --- seeded inputs -------------------------------------------------------------


@pytest.mark.parametrize("make", [inputs.webtext_table, inputs.lineitem_table])
def test_same_seed_same_hash_other_seed_other_hash(make):
    a, b, c = make(7, 3_000), make(7, 3_000), make(8, 3_000)
    assert inputs.content_hash(a) == inputs.content_hash(b)
    assert inputs.content_hash(a) != inputs.content_hash(c)


@pytest.mark.parametrize("make,key", [(inputs.webtext_table, "url"),
                                      (inputs.lineitem_table, "l_orderkey")])
def test_lookup_keys_are_seeded_three_hits_to_one_miss(make, key):
    table = make(3, 4_000)
    probes = inputs.lookup_keys(5, table, key, 64)
    assert inputs.keys_hash(probes) == inputs.keys_hash(inputs.lookup_keys(5, table, key, 64))
    assert inputs.keys_hash(probes) != inputs.keys_hash(inputs.lookup_keys(6, table, key, 64))
    present = set(table.column(key).to_pylist())
    lo, hi = min(present), max(present)
    assert sum(hit for _, hit in probes) == 48
    for k, hit in probes:
        assert (k in present) == hit
        assert lo <= k <= hi


def test_lineitem_keys_keep_one_bit_width_across_seeds():
    widths = {int(v).bit_length()
              for seed in range(6)
              for v in inputs.lineitem_table(seed, 8_000).column("l_orderkey").to_numpy()}
    assert len(widths) == 1


# --- tracer --------------------------------------------------------------------


def test_self_times_partition_the_root_spans():
    t = Tracer()
    with t.span("outer"):
        time.sleep(0.02)
        with t.span("inner"):
            time.sleep(0.03)
            with t.span("leaf"):
                time.sleep(0.01)
    with t.span("other"):
        pass
    assert t.calls == {"outer": 1, "inner": 1, "leaf": 1, "other": 1}
    assert sum(t.self_s.values()) == pytest.approx(t.root_time(), rel=1e-9)
    assert t.self_s["outer"] == pytest.approx(t.total_s["outer"] - t.total_s["inner"])
    assert t.self_s["inner"] >= 0.025 and t.self_s["leaf"] >= 0.009
    parents = {name: parent for _, parent, name, _, _ in t.spans}
    ids = {name: sid for sid, _, name, _, _ in t.spans}
    assert parents == {"leaf": ids["inner"], "inner": ids["outer"], "outer": None, "other": None}


def test_traced_engine_restores_every_name():
    from orc_rust_spark.codecs import block
    from orc_rust_spark.operators import encode

    before = (block.compress_stream, encode.encode_rlev2, encode.encode_chunk)
    with traced_engine(Tracer()):
        assert encode.encode_chunk is not before[2]
    assert (block.compress_stream, encode.encode_rlev2, encode.encode_chunk) == before


def _replay_counts(table: pa.Table) -> tuple[dict, dict]:
    from pyspark.sql.pandas.types import from_arrow_schema

    from orc_rust_spark.codecs import block
    from orc_rust_spark.codecs.fsst import train_fsst

    plan = {c: {"block_codec": block.default_codec()} for c in table.column_names}
    corpus = "".join(t for t in table.column("url").to_pylist()[:512]).encode()
    plan["url"]["fsst_table"] = train_fsst(corpus).serialize()
    col_kinds = {f.name: f.dataType for f in from_arrow_schema(table.schema).fields}
    parts = [table.slice(0, 1_500), table.slice(1_500)]
    tracer, ops = Tracer(), workloads.Ops()
    with traced_engine(tracer):
        workloads.replay(ops, parts, plan, col_kinds)
    assert ops.failed == 0, ops.notes
    return dict(tracer.counts), dict(tracer.calls)


def test_replay_counts_repeat_for_one_seed():
    first = _replay_counts(inputs.webtext_table(4, 3_000))
    second = _replay_counts(inputs.webtext_table(4, 3_000))
    assert first == second
    counts, calls = first
    assert calls["operators.encode"] == calls["operators.decode"] == 2
    assert counts["codecs.selector.fsst_trials"] > 0
    assert counts["codecs.block.bytes_in"] > counts["codecs.block.bytes_out"] > 0


def test_traced_orc_run_counts_repeat_and_cover_the_wall(tmp_path):
    def traced(run: int) -> dict:
        work = tmp_path / f"run{run}"
        work.mkdir()
        ops, metrics, _ = workloads.run_orc_workload(
            9, 0.0, True, work, work / "spans.jsonl", n_rows=12_000)
        assert ops.failed == 0, ops.notes
        assert (work / "spans.jsonl").stat().st_size > 0
        return metrics

    a, b = traced(1), traced(2)
    assert {k: a[k] for k in COUNT_METRICS} == {k: b[k] for k in COUNT_METRICS}
    assert set(a) == {m["name"] for m in SPEC["per_layer"]}
    assert a["sources.orc_file.read_metadata_calls"] > 0
    assert a["codecs.rle_v2.values_decoded"] > 0
    assert 0 <= a["trace.uncovered_frac"] < 0.05


# --- the command ---------------------------------------------------------------


def test_command_fails_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "orc_lookup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())


def _spin(seconds: float) -> bool:
    t = time.process_time()
    while time.process_time() - t < seconds:
        pass
    return True


def test_op_timings_count_the_operation_not_its_check():
    ops, timings = workloads.Ops(), workloads.Timings()
    ops.run(lambda: _spin(0.2), lambda _: _spin(0.3), timings)
    assert ops.attempted == 1 and ops.failed == 0
    assert 0.19 <= timings.cpu[0] < 0.28
    assert timings.wall[0] >= timings.cpu[0] * 0.9


def test_median_and_p95_need_enough_samples():
    lat = list(np.linspace(1.0, 2.0, 200))
    assert workloads.median(lat) == pytest.approx(1.5)
    assert sum(x > workloads.p95(lat) for x in lat) >= 10
