from perfbench import hostfit


def test_memory_is_a_clamped_share_of_mem_available():
    conf = hostfit.session_conf("/w", avail_mb=15_000)
    assert conf["spark.driver.memory"] == "2250m"
    assert conf["spark.memory.offHeap.size"] == "750m"
    small = hostfit.session_conf("/w", avail_mb=2_000)
    assert small["spark.driver.memory"] == "1024m"
    assert small["spark.memory.offHeap.size"] == "256m"
    big = hostfit.session_conf("/w", avail_mb=500_000)
    assert big["spark.driver.memory"] == "4096m"
    assert big["spark.memory.offHeap.size"] == "1024m"


def test_scratch_paths_and_event_log_stay_inside_scratch():
    conf = hostfit.session_conf("/w", avail_mb=8_000, event_log_dir="/w/ev")
    assert conf["spark.local.dir"] == "/w/local"
    assert conf["spark.driver.extraJavaOptions"] == (
        "-Xms1200m -XX:+AlwaysPreTouch -Djava.io.tmpdir=/w/tmp"
    )
    assert conf["spark.eventLog.dir"] == "/w/ev"
    assert "spark.eventLog.enabled" not in hostfit.session_conf("/w", avail_mb=8_000)


def test_mem_available_reads_meminfo(tmp_path):
    f = tmp_path / "meminfo"
    f.write_text("MemTotal: 16000000 kB\nMemAvailable: 15360000 kB\n")
    assert hostfit.mem_available_mb(str(f)) == 15_000
