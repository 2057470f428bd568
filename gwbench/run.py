"""Gateway benchmark: one workload, one seed, one JSON result line.

    python3 gwbench/run.py --workload serve|ingest \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The engine is imported from that
checkout; the fixture is FIXTURE, copied into a work directory inside
the checkout. With ``--trace 0`` the result carries the end-to-end
metrics; with ``--trace 1`` the per-layer metrics, from a window that
alternates untraced and traced blocks. A context line precedes the
result. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.monotonic()

# the read-only sf0.1 fixture (TPC-H-style tables plus events, documents
# and embeddings) in the home directory
FIXTURE = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
DRIVER_MEM = "4g"
RETAINED = 1_000_000  # status-store entries kept, so no job or stage is evicted
TRACE_BLOCKS = 4  # the traced window alternates untraced / traced blocks
SPAN_TOLERANCE = 0.01  # self times must sum to the op's wall time within 1 %

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_ops": "1/s",
    "cold_p50_s": "s",
    "stored_bytes_per_input_byte": "B/B",
    "ok_frac": "frac",
}

PER_LAYER = {
    "catalog.load_calls": "count", "catalog.load_s": "s", "catalog.load_jobs": "count",
    "registry.build_s": "s", "registry.build_self_s": "s", "registry.build_jobs": "count",
    "templates.run_s": "s",
    "server.route_s": "s", "server.route_self_s": "s", "server.deliver_s": "s",
    "server.transport_s": "s", "server.response_bytes": "B",
    "engine.run_s": "s", "engine.release_s": "s", "engine.released_frames": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.input_bytes": "B",
    "spark.busy_frac": "frac",
    "stream.batches": "count", "stream.add_batch_s": "s", "stream.wal_commit_s": "s",
    "stream.trigger_s": "s",
    "scratch.bytes_written": "B", "scratch.files_written": "count", "scratch.write_amp": "B/B",
    "scratch.ckpt_dirs_left": "count", "scratch.bytes_left": "B",
    "session.rdds_left": "count", "session.tables_left": "count",
    "session.start_s": "s", "session.rss_peak_mb": "MB",
    "trace.overhead_frac": "frac",
}


def pin_environment(work: str, nproc: int) -> None:
    """Same engine settings on every run: no inherited SPARK_GRAFT_*
    knob, local[nproc], a fixed driver heap, status-store retention
    large enough that no job or stage is evicted, and temp and Spark
    local files inside the work directory."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = {
        "spark.ui.retainedJobs": RETAINED,
        "spark.ui.retainedStages": RETAINED,
        "spark.sql.ui.retainedExecutions": RETAINED,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )


def steal_share() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return cpu[7] if len(cpu) > 7 else 0, sum(cpu)


def fixture_stamp(path: str) -> tuple[str, int]:
    h, total = hashlib.sha256(), 0
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            data = fh.read()
        h.update(f.encode() + b"\0" + data)
        total += len(data)
    return h.hexdigest()[:16], total


def p90(xs: list[float]) -> tuple[float, int]:
    """90th percentile, interpolated between order statistics, and the
    number of samples above it."""
    q = statistics.quantiles(xs, n=10, method="inclusive")[8]
    return q, sum(1 for x in xs if x > q)


class Bench:
    def __init__(self, args):
        self.workload_name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".gwbench_work", f"run-{os.getpid()}")
        self.tracer = None
        self.t_window = None

    def trace_on(self, t: float) -> bool:
        """Odd blocks of the window are traced in a traced run."""
        if not self.trace or self.t_window is None:
            return False
        block = int((t - self.t_window) / (self.seconds / TRACE_BLOCKS))
        return block % 2 == 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    b = Bench(ap.parse_args(argv))
    if not os.path.isdir(os.path.join(ROOT, "data_wrangler_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(FIXTURE):
        print(f"fixture {FIXTURE} is missing", file=sys.stderr)
        return 2
    ctx = {
        "workload": b.workload_name, "seed": b.seed, "seconds": b.seconds,
        "trace": int(b.trace), "nproc": b.nproc,
        "loadavg_start": list(os.getloadavg()),
    }
    steal0 = steal_share()
    os.makedirs(b.work)
    try:
        result = run(b, ctx)
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
        parent = os.path.dirname(b.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    ctx["total_s"] = time.monotonic() - T_START
    steal1 = steal_share()
    ctx["loadavg_end"] = list(os.getloadavg())
    ctx["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(b: Bench, ctx: dict) -> dict:
    pin_environment(b.work, b.nproc)
    sys.path.insert(0, ROOT)
    sf = os.path.join(b.work, "fixture", "sf")
    shutil.copytree(FIXTURE, sf)
    for f in os.listdir(sf):
        os.chmod(os.path.join(sf, f), 0o644)
    b.sf_dir = sf
    ctx["fixture"] = FIXTURE
    ctx["fixture_stamp"], b.input_bytes = fixture_stamp(sf)

    import oracles
    from layers import (
        ScratchState, SparkStats, StreamProbe, Tracer, rss_peak_mb, scratch_roots, span_jobs,
    )
    from workloads import WORKLOADS

    import data_wrangler_spark  # noqa: F401  (populates the registry)
    from data_wrangler_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("gwbench")
    session_start_s = time.monotonic() - t0
    sc = spark.sparkContext
    b.spark = spark
    b.duck = oracles.connect(sf)
    b.scratch = ScratchState(scratch_roots())
    ctx["scratch_roots"] = b.scratch.roots
    stats = SparkStats(sc)
    rdds0 = sc._jsc.getPersistentRDDs().size()
    tables0 = {t.name for t in spark.catalog.listTables()}
    stream = StreamProbe(spark) if b.trace else None
    if b.trace:
        b.tracer = Tracer(sc)
        b.tracer.install()
    b.server = None
    if b.workload_name == "serve":
        from data_wrangler_spark.server import GatewayServer

        b.server = GatewayServer(spark, sf).start()
    w = WORKLOADS[b.workload_name](b)
    try:
        mark_setup = stats.mark()
        w.setup()
        ctx["schedule_digest"] = w.schedule_digest()
        mark = stats.mark()
        n_batches0 = len(stream.batches) if stream else 0
        b.t_window = time.monotonic()
        w.start_window()
        w.measure(b.seconds)
        if b.server is not None:
            b.server.stop()
            b.server = None
        mark_end = stats.mark()
        spark_tot = stats.between(mark, mark_end)
        spark_setup = stats.between(mark_setup, mark)
        batches = stream.batches[n_batches0:] if stream else []
        rdds_left = sc._jsc.getPersistentRDDs().size() - rdds0
        new_tables = {t.name for t in spark.catalog.listTables()} - tables0
        rss = rss_peak_mb([os.getpid(), sc._gateway.proc.pid])
        jobs = span_jobs(sc) if b.trace else {}
        t_check = time.monotonic()
        n_checked = w.check(b.duck)
        ctx["check_s"] = time.monotonic() - t_check
    finally:
        w.close()
        if b.server is not None:
            b.server.stop()
        if b.tracer is not None:
            b.tracer.uninstall()
        if stream is not None:
            stream.close()
        for t in spark.catalog.listTables():
            if t.name not in tables0 and t.isTemporary:
                spark.catalog.dropTempView(t.name)
        b.scratch.cleanup()
        stop_spark(spark)

    # ----------------------------------------------------------- metrics
    ops = w.ops
    lat = w.latencies()
    wall = w.window[1] - w.window[0]
    lat90, beyond = p90(lat)
    failed = sum(1 for op in ops if not op[3]) + len(w.check_errors)
    attempted = len(ops) + n_checked
    cycles_all = w.n_all / w.cycle_len
    e2e = {
        "setup_s": b.t_window - T_START,
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": lat90,
        "throughput_ops": w.throughput(),
        "cold_p50_s": statistics.median(w.cold),
        "stored_bytes_per_input_byte": w.cycle_bytes(spark_setup, spark_tot) / b.input_bytes,
        "ok_frac": 1 - failed / attempted,
    }
    ctx.update({
        "ops": len(ops), "ops_in_window": w.n_all, "cycles": w.cycles,
        "latency_samples": len(lat), "samples_beyond_p90": beyond,
        "cold_samples": len(w.cold), "window_s": wall, "checked_pairs": n_checked,
        "session_start_s": session_start_s,
        "kinds": kind_medians(ops),
        "errors": (w.errors + w.check_errors)[:20],
    })
    correct = failed == 0
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if b.trace:
        from layers import check_spans

        problems = check_spans(b.tracer.spans, SPAN_TOLERANCE)
        layer = per_layer(b, w, spark_tot, batches, jobs, cycles_all, wall)
        layer.update({
            "scratch.ckpt_dirs_left": w.ckpt_dirs,
            "scratch.bytes_left": w.left_bytes,
            "session.rdds_left": rdds_left,
            "session.tables_left": len(new_tables),
            "session.start_s": session_start_s,
            "session.rss_peak_mb": rss,
        })
        problems += [f"missing per-layer metric {k}" for k in PER_LAYER if k not in layer]
        ctx["trace_check"] = problems[:20] or "ok"
        correct = correct and not problems
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items() if k in layer}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def per_layer(b, w, spark_tot, batches, jobs, cycles_all, wall) -> dict:
    from layers import self_times

    spans = b.tracer.spans
    roots = [s for s in spans if s.parent is None]
    n = max(1, len(roots))
    selfs = self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def total(name):
        return sum(s.t1 - s.t0 for s in by_name.get(name, ()))

    def self_total(name):
        return sum(selfs[s.sid] for s in by_name.get(name, ()))

    def n_jobs(name):
        return sum(len(jobs.get(s.sid, ())) for s in by_name.get(name, ()))

    n_all = max(1, w.n_all)
    traced_lat = [t1 - t0 for k, t0, t1, ok, tr in w.ops if tr]
    out = {
        "catalog.load_calls": len(by_name.get("catalog.load", ())) / n,
        "catalog.load_s": total("catalog.load") / n,
        "catalog.load_jobs": n_jobs("catalog.load") / n,
        "registry.build_s": total("registry.build") / n,
        "registry.build_self_s": self_total("registry.build") / n,
        "registry.build_jobs": n_jobs("registry.build") / n,
        "templates.run_s": total("templates.run") / n,
        "server.route_s": total("server.route") / n,
        "server.route_self_s": self_total("server.route") / n,
        "server.deliver_s": total("server.deliver") / n,
        "server.transport_s": (
            statistics.fmean(traced_lat) - total("server.route") / n
            if b.workload_name == "serve" and traced_lat else 0.0
        ),
        "server.response_bytes": statistics.fmean(w.bodies) if getattr(w, "bodies", None) else 0.0,
        "engine.run_s": total("engine.run") / n,
        "engine.release_s": total("engine.release") / n,
        "engine.released_frames": b.tracer.released / n,
    }
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        out[f"spark.{k}"] = spark_tot[k] / n_all
    out["spark.busy_frac"] = spark_tot["task_s"] / (wall * b.nproc)
    out["stream.batches"] = len(batches) / n_all
    for key, name in (("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
                      ("triggerExecution", "trigger_s")):
        out[f"stream.{name}"] = sum(d.get(key, 0) for d in batches) / 1000 / n_all
    written = spark_tot["output_bytes"] / cycles_all
    stored = w.stored_bytes / w.stored_cycles
    out["scratch.bytes_written"] = written
    out["scratch.files_written"] = w.files_stored / w.stored_cycles
    out["scratch.write_amp"] = written / stored if stored else 0.0
    out["trace.overhead_frac"] = overhead(w.ops)
    return out


def kind_medians(ops) -> dict[str, list]:
    """Operation kind -> [count, median latency]."""
    per: dict[str, list] = {}
    for kind, t0, t1, *_ in ops:
        per.setdefault(kind, []).append(t1 - t0)
    return {k: [len(v), statistics.median(v)] for k, v in sorted(per.items())}


def overhead(ops) -> float:
    """Median over operation kinds of (traced median latency / untraced
    median latency), minus one."""
    per_kind: dict[str, tuple[list, list]] = {}
    for kind, t0, t1, ok, traced in ops:
        per_kind.setdefault(kind, ([], []))[int(traced)].append(t1 - t0)
    ratios = [
        statistics.median(tr) / statistics.median(un)
        for un, tr in per_kind.values() if un and tr
    ]
    return statistics.median(ratios) - 1 if ratios else 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
