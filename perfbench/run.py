"""Entity-resolution benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 20 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line holds
the end-to-end metrics, measured with no wrappers installed and no event
log; with ``--trace 1`` it holds the per-layer metrics of a traced pass,
which follows an untraced pass of the same work. The line before it is a
JSON object with the details: effective session config, per-unit samples,
the output hash and the per-batch span breakdown.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; corpora are cached there per (workload, seed).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 1024 * 1024
ENGINE = os.path.join(ROOT, "mapping_analysis_spark")
END_TO_END = {
    "setup_s": "s",
    "clips_per_s": "1/s",
    "batch_p50_s": "s",
    "seed_s": "s",
    "f1": "ratio",
    "peak_rss_mb": "MB",
}


def process_start_time() -> float:
    """Epoch seconds at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and its ``java`` and Python
    descendants (the driver JVM and its Python workers), sampled every
    ``interval`` seconds; the split by process name at the peak is kept for
    the details line. A child the JVM is still spawning carries the name of
    the JVM thread that spawns it and shares the JVM's pages, so counting it
    would count the JVM twice."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_split: dict[str, int] = {}
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        with open("/proc/self/comm") as f:
            self._names = {"java", f.read().strip()}

    def sample(self) -> dict[str, int]:
        split: dict[str, int] = {}
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except (OSError, IndexError, ValueError):
                continue
            if comm in self._names:
                split[comm] = split.get(comm, 0) + rss
        return split

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            split = self.sample()
            total = sum(split.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_split = total, split

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


def engine_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(ENGINE)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every child
    process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def configure_env(scratch: str) -> None:
    """Environment the session, the engine and the Python workers inherit."""
    for sub in ("tmp", "mat", "local"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_GRAFT_TMP"] = os.path.join(scratch, "mat")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import check, eventlog, hostfit, layers, stats, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    configure_env(scratch)
    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t = time.time()
        inputs = workloads.build_inputs(spec, args.seed, os.path.join(work, "cache"))
        gen_s = time.time() - t

        t = time.time()
        spark, effective = hostfit.start_session(scratch, event_dir)
        session_s = time.time() - t
        setup_s = time.time() - t_proc - gen_s

        tracer = workloads.Tracer()
        traced = bool(args.trace)
        if spec.kind == "batch":
            out = workloads.run_batch_pass(spark, inputs, args.seconds, tracer, traced)
        else:
            job_dir = os.path.join(scratch, "job")
            out = workloads.run_stream_pass(spark, spec, inputs, job_dir, tracer, traced)

        t_check = time.time()
        gold = os.path.join(inputs, "gold.parquet")
        input_ids = [r.clip_id for r in spark.read.parquet(gold).select("clip_id").collect()]
        errors = check.membership_errors(out.member_lists, input_ids)
        quality = check.pairwise_f1(spark, out.member_lists, gold)
        digest = check.output_hash(out.member_lists)
        key = f"{spec.name}:{args.seed}:{spec}:{engine_digest()}"
        earlier = check.remember_hash(os.path.join(work, "hashes.json"), key, digest)
        check_s = time.time() - t_check
        stop_spark(spark)
        spark = None
        # the event log is complete only once the session has stopped
        jobs = eventlog.read_dir(event_dir) if event_dir else {}
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    correct = (
        not any(errors.values())
        and quality["f1"] >= spec.f1_floor
        and earlier is None
    )
    details = {
        "workload": spec.name,
        "seed": args.seed,
        "config": effective,
        "spec": spec.__dict__,
        "generate_s": gen_s,
        "session_s": session_s,
        "check_s": check_s,
        "measured_wall_s": out.wall_s,
        "unit_walls": out.unit_walls,
        "unit_wall_summary": stats.summary(out.unit_walls),
        "unit_rows": out.unit_rows,
        "membership_errors": errors,
        "quality": quality,
        "f1_floor": spec.f1_floor,
        "output_hash": digest,
        "hash_mismatch_with": earlier,
        "state": out.state,
        "peak_rss_split_mb": {k: v / MB for k, v in sampler.peak_split.items()},
    }
    if args.trace:
        values, breakdown = layers.layer_metrics(
            tracer, out.units, out.progress, out.state, jobs
        )
        values["session.start_s"] = session_s
        details["breakdown"] = breakdown
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.UNITS.items()}
    else:
        values = {
            "setup_s": setup_s,
            "clips_per_s": sum(out.unit_rows) / sum(out.unit_walls),
            "batch_p50_s": statistics.median(out.unit_walls),
            "seed_s": out.first_s,
            "f1": quality["f1"],
            "peak_rss_mb": sampler.peak_bytes / MB,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    attempted = len(out.unit_walls) + 1
    print(json.dumps({"details": details}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": 0 if correct else 1,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
