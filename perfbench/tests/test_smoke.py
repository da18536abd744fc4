"""Tiny-corpus smoke runs of every workload, traced, in one Spark session.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import os
import subprocess
import sys

import pytest

from perfbench import check, hostfit, layers, workloads
from perfbench.run import ROOT, configure_env, stop_spark
from perfbench.workloads import Spec

TINY = {
    "batch_backfill": Spec("batch_backfill", "batch", 60, (500, 700), 0.9, cold_clips=20),
    "stream_ingest": Spec(
        "stream_ingest", "stream", 60, (500, 700), 0.9, n_files=2, compact_every=2
    ),
    "stream_lookup": Spec(
        "stream_lookup", "stream", 80, (500, 700), 0.9,
        n_files=2, per_file=6, compact_every=2,
    ),
}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    saved = dict(os.environ)
    scratch = str(tmp_path_factory.mktemp("scratch"))
    configure_env(scratch)
    spark, _ = hostfit.start_session(scratch)
    yield spark, scratch
    stop_spark(spark)
    os.environ.clear()
    os.environ.update(saved)


def _checked(spark, spec, inputs, out):
    gold = os.path.join(inputs, "gold.parquet")
    ids = [r.clip_id for r in spark.read.parquet(gold).collect()]
    assert check.membership_errors(out.member_lists, ids) == {
        "missing": 0,
        "duplicated": 0,
        "unknown": 0,
    }
    assert check.pairwise_f1(spark, out.member_lists, gold)["f1"] >= spec.f1_floor
    return check.output_hash(out.member_lists)


def test_batch_backfill_smoke(session, tmp_path):
    spark, _ = session
    spec = TINY["batch_backfill"]
    inputs = workloads.build_inputs(spec, 7, str(tmp_path))
    tracer = workloads.Tracer()
    out = workloads.run_batch_pass(spark, inputs, 0.0, tracer, traced=True)
    assert out.units == [1] and out.unit_rows == [60]
    digest = _checked(spark, spec, inputs, out)
    values, _ = layers.layer_metrics(tracer, out.units, out.progress, out.state, {})
    assert values["prepare.rows"] == 60 and values["prepare.fingerprinted"] == 60
    assert values["blocking.pairs_scored"] >= values["blocking.pairs_linked"] > 0
    assert values["prepare.wall_s"] > 0 and values["clustering.merge_wall_s"] > 0
    assert values["graph.cc_local"] == 1.0
    assert values["state.lookup_s"] == 0.0
    # an untraced pass of the same input gives the same clusters
    again = workloads.run_batch_pass(spark, inputs, 0.0, workloads.Tracer(), traced=False)
    assert check.output_hash(again.member_lists) == digest


@pytest.mark.parametrize("name", ["stream_ingest", "stream_lookup"])
def test_stream_smoke(session, tmp_path, name):
    spark, scratch = session
    spec = TINY[name]
    inputs = workloads.build_inputs(spec, 7, str(tmp_path))
    tracer = workloads.Tracer()
    out = workloads.run_stream_pass(
        spark, spec, inputs, os.path.join(scratch, name), tracer, traced=True
    )
    _checked(spark, spec, inputs, out)
    assert len(out.progress) == spec.n_files + 1
    values, breakdown = layers.layer_metrics(
        tracer, out.units, out.progress, out.state, {}
    )
    assert values["state.lookup_s"] > 0 and values["state.delta_write_s"] > 0
    assert values["sss.trigger_s"] >= values["sss.add_batch_s"] > 0
    assert values["state.chain_len_max"] == spec.compact_every - 1
    assert values["state.rows"] == out.state["rows"] > 0
    # the last batch of the cycle compacts; every batch's spans cover its wall
    assert values["state.compact_s"] > 0
    for row in breakdown:
        assert 0 <= row["unattributed_s"] < 0.25 * row["wall_s"]
    if spec.per_file:
        assert out.units == [1, 2] and out.unit_rows == [6, 6]
        assert values["state.lookup_s.chain1"] > 0


def test_cli_rejects_unknown_workload_and_missing_engine(tmp_path):
    run = [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1"]
    p = subprocess.run(run + ["--workload", "nope"], cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 2 and p.stdout == ""
    bench_only = tmp_path / "perfbench"
    bench_only.mkdir()
    (bench_only / "run.py").write_text(open(os.path.join(ROOT, "perfbench", "run.py")).read())
    p = subprocess.run(
        run + ["--workload", "batch_backfill"], cwd=tmp_path, capture_output=True, text=True
    )
    assert p.returncode == 2 and p.stdout == ""
