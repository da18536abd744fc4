import json

import pytest

from perfbench import stats


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(list(range(11)), 90) == pytest.approx(9.0)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(8) is None
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


def test_summary_reports_count_median_and_supported_tail():
    small = stats.summary([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}
    big = stats.summary([float(i) for i in range(100)])
    assert big["n"] == 100
    assert big["p50"] == 49.5
    assert big["p90"] == pytest.approx(89.1)


def test_progress_log_keeps_last_record_per_batch(tmp_path):
    recs = [
        {"event": "started", "id": "q", "runId": "r"},
        {"event": "progress", "id": "q", "batchId": 0, "numInputRows": 10,
         "durationMs": {"triggerExecution": 2000, "addBatch": 1500}},
        {"event": "progress", "id": "q", "batchId": 1, "numInputRows": 5,
         "durationMs": {"triggerExecution": 900, "addBatch": 800}},
        # a replayed batch 1 supersedes the first record
        {"event": "progress", "id": "q", "batchId": 1, "numInputRows": 5,
         "durationMs": {"triggerExecution": 1000, "addBatch": 700}},
        {"event": "terminated", "id": "q"},
    ]
    path = tmp_path / "progress.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in recs))
    times = stats.batch_times(stats.read_progress(str(path)))
    assert times == [
        {"batch": 0, "rows": 10, "trigger_s": 2.0, "add_batch_s": 1.5},
        {"batch": 1, "rows": 5, "trigger_s": 1.0, "add_batch_s": 0.7},
    ]
