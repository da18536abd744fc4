import os

import pyarrow.parquet as pq

from perfbench import gen


def test_corpus_has_exact_size_and_is_seeded():
    a = gen.corpus(37, seed=5, dur_ms=(500, 700))
    b = gen.corpus(37, seed=5, dur_ms=(500, 700))
    assert len(a) == 37
    assert a["clip_id"].tolist() == b["clip_id"].tolist()
    assert a["transcript"].tolist() == b["transcript"].tolist()
    assert gen.corpus(37, seed=6, dur_ms=(500, 700))["transcript"].tolist() != a[
        "transcript"
    ].tolist()


def test_per_source_split_spreads_duplicates_and_orders_event_time():
    pdf = gen.corpus(120, seed=1, dur_ms=(500, 600))
    parts = gen.split_per_source(pdf, 6, seed=1)
    assert sum(len(p) for p in parts) == 120
    where = {cid: i for i, p in enumerate(parts) for cid in p["clip_id"]}
    for _, group in pdf.groupby("gold_cluster"):
        files = [where[c] for c in group["clip_id"]]
        assert len(files) == len(set(files)), "duplicates share a file"
    # event time rises with the file index; late rows lag by less than the
    # 600 s watermark delay, so nothing arrives behind the watermark
    starts = [p["event_time"].min() for p in parts]
    maxes = [p["event_time"].max() for p in parts]
    for i in range(1, len(parts)):
        assert (maxes[i - 1] - starts[i]).total_seconds() < 600
        assert maxes[i] > maxes[i - 1]


def test_seed_holdout_keeps_a_duplicate_of_every_arrival_in_the_seed():
    pdf = gen.corpus(200, seed=2, dur_ms=(500, 600))
    parts = gen.split_seed_holdout(pdf, n_files=3, per_file=4, seed=2)
    assert [len(p) for p in parts[1:]] == [4, 4, 4]
    assert sum(len(p) for p in parts) == 200
    seed_clusters = set(parts[0]["gold_cluster"])
    for p in parts[1:]:
        assert set(p["gold_cluster"]) <= seed_clusters


def test_written_stream_has_engine_types_and_arrival_mtimes(tmp_path):
    pdf = gen.corpus(30, seed=3, dur_ms=(500, 600))
    out = str(tmp_path / "c")
    gen.write_stream(gen.split_per_source(pdf, 3, seed=3), out)
    files = sorted(os.listdir(os.path.join(out, "source")))
    schema = pq.read_schema(os.path.join(out, "source", files[0]))
    assert str(schema.field("sr_hz").type) == "int32"
    assert str(schema.field("dur_ms").type) == "int32"
    assert str(schema.field("event_time").type) == "timestamp[us, tz=UTC]"
    assert "gold_cluster" not in schema.names
    mtimes = [os.path.getmtime(os.path.join(out, "source", f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    assert len(pq.read_table(os.path.join(out, "gold.parquet"))) == 30


def test_cached_builds_once(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "x"), "w").close()

    a = gen.cached(str(tmp_path), {"k": 1}, build)
    b = gen.cached(str(tmp_path), {"k": 1}, build)
    assert a == b and len(calls) == 1
    assert os.path.exists(os.path.join(a, "x"))
