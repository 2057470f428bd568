"""The workloads: serve and ingest.

Each workload object has ``setup()`` (the warm-up, counted in
``setup_s``), ``start_window()``, ``measure(seconds)`` and
``check(con)`` (output checks after the window, returning how many
outputs it compared). The report reads its attributes:

- ``ops``: measured operations as (kind, t0, t1, ok, traced);
- ``cold``: latencies of operations run against a cold state;
- ``n_all`` and ``cycle_len``: operations run in the window, and per cycle;
- ``stored_bytes``, ``files_stored`` over ``stored_cycles``: what the
  cycles left under the scratch roots;
- ``ckpt_dirs``, ``left_bytes``: checkpoint dirs and bytes left, per run.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from urllib.parse import urlencode

from oracles import RUN_SPLICES, compare_rows, compare_table, oracle_rows, template_sql

# A persisted incremental index and a streaming sink whose cold run on a
# fresh fixture copy costs a few seconds, so a window holds two or more
# cycles.
INGEST = ("q_rollup_incremental", "q_stream_sink_parquet")
INGEST_PROBES = 2  # warm rounds per cycle

SERVE_BLOCKS = 2  # distinct bind sets; the schedule cycles through them


class Workload:
    cycle_len = 1

    def __init__(self, bench):
        self.b = bench
        self.ops: list[tuple[str, float, float, bool, bool]] = []
        self.n_all = 0  # operations run in the window, complete cycles or not
        self.cold: list[float] = []
        self.cycles = 0.0  # complete cycles behind ``ops``
        # scratch the cycles left persisted, summed over stored_cycles
        self.stored_bytes = self.files_stored = 0
        self.stored_cycles = 0.0
        self.ckpt_dirs = self.left_bytes = 0  # per run
        self.errors: list[str] = []  # failed measured operations
        self.check_errors: list[str] = []  # wrong outputs
        self.plan: list[str] = []

    def start_window(self):
        pass

    def close(self):
        pass

    def latencies(self) -> list[float]:
        return [t1 - t0 for _, t0, t1, _, _ in self.ops]

    def throughput(self) -> float:
        return len(self.ops) / (self.window[1] - self.window[0])

    def schedule_digest(self) -> str:
        return hashlib.sha256("\n".join(self.plan).encode()).hexdigest()[:16]

    def cycle_bytes(self, setup_totals: dict, window_totals: dict) -> float:
        """Bytes one cycle leaves on disk: scratch persisted at cycle end
        plus shuffle bytes written, from the measured window."""
        shuffle = window_totals["shuffle_write_bytes"] / (self.n_all / self.cycle_len)
        return self.stored_bytes / self.stored_cycles + shuffle

    def count_scratch(self, made: dict[str, int]) -> None:
        """Add what the scratch roots gained (path -> bytes)."""
        n = sum(made.values())
        self.stored_bytes += n
        self.left_bytes += n
        self.files_stored += sum(1 for p in made if not os.path.isdir(p))
        self.ckpt_dirs += sum(1 for p in made if os.path.basename(os.path.dirname(p)) == "ckpt")


class Ingest(Workload):
    """One caller; each cycle copies the fixture (a new scratch tag, so
    empty persisted state), runs INGEST cold, probes it warm, and
    deletes what the cycle created. An operation is one run of every
    INGEST query in the cycle's seeded order: cold on the cycle's
    first round, warm after."""

    CYCLES = 100  # more than any window holds

    def __init__(self, bench):
        super().__init__(bench)
        self.cycle_len = 1 + INGEST_PROBES
        self.results = {}
        self.n_cycle = 0

    def timed(self, kind: str, fn) -> tuple[float, float, bool, bool]:
        """Run one operation, as a root span in a traced block; a
        failure is recorded, not raised."""
        traced = self.b.trace_on(time.monotonic())
        tracer = self.b.tracer
        if tracer is not None:
            tracer.active = traced
        t0 = time.monotonic()
        ok = True
        try:
            if tracer is not None:
                tracer.call("op", fn)
            else:
                fn()
        except Exception as exc:  # a failed operation is a result, not a crash
            ok = False
            self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:200]}")
        t1 = time.monotonic()
        if tracer is not None:
            tracer.active = False
        self.n_all += 1
        return t0, t1, ok, traced

    def run_query(self, name: str, sf_dir: str):
        """Engine.run into a noop sink, then release pinned frames."""
        from data_wrangler_spark.engine import Engine

        eng = Engine(self.b.spark, sf_dir)
        eng.run(name).write.format("noop").mode("overwrite").save()
        eng.release_cache()

    def check_tables(self, con, results: dict) -> int:
        from data_wrangler_spark import REGISTRY

        for name, tbl in results.items():
            why = compare_table(con, tbl, REGISTRY[name].oracle)
            if why:
                self.check_errors.append(f"{name}: {why}")
        return len(results)

    def _fresh_fixture(self) -> str:
        self.n_cycle += 1
        dst = os.path.join(self.b.work, "cycles", f"c{self.n_cycle:04d}", "sf")
        os.makedirs(dst)
        for f in os.listdir(self.b.sf_dir):
            src = os.path.join(self.b.sf_dir, f)
            try:
                os.link(src, os.path.join(dst, f))
            except OSError:
                shutil.copy2(src, os.path.join(dst, f))
        return dst

    def setup(self):
        from data_wrangler_spark.engine import Engine

        rng = random.Random(self.b.seed)
        for _ in range(self.CYCLES):
            order = list(INGEST)
            rng.shuffle(order)
            self.plan += order
        # one whole cycle: the cold round keeps its results for the
        # oracle check, the warm rounds take the measured path
        sf = self._fresh_fixture()
        eng = Engine(self.b.spark, sf)
        for name in INGEST:
            self.results[name] = eng.run(name).toArrow()
            eng.release_cache()
        for _ in range(INGEST_PROBES):
            for name in INGEST:
                self.run_query(name, sf)
        self.b.scratch.cleanup()
        shutil.rmtree(os.path.dirname(sf))

    def measure(self, seconds):
        start = time.monotonic()
        deadline = start + seconds
        done_until = start
        kept = (0, 0, 0, 0)
        for c in range(self.CYCLES):
            if time.monotonic() >= deadline:
                break
            sf = self._fresh_fixture()
            order = self.plan[c * len(INGEST):(c + 1) * len(INGEST)]

            def probe(order=order, sf=sf):
                for name in order:
                    self.run_query(name, sf)

            n0 = len(self.ops)
            for rnd in range(1 + INGEST_PROBES):
                if time.monotonic() >= deadline:
                    break
                t0, t1, ok, tr = self.timed("probe", probe)
                self.ops.append(("probe" if rnd else "cold", t0, t1, ok, tr))
                if not rnd:
                    self.cold.append(t1 - t0)
            self.count_scratch(self.b.scratch.created())
            self.b.scratch.cleanup()
            shutil.rmtree(os.path.dirname(sf))
            if len(self.ops) - n0 == self.cycle_len:
                done_until = time.monotonic()
                kept = (len(self.ops), self.stored_bytes, self.files_stored, c + 1)
        n_ops, self.stored_bytes, self.files_stored, n_cycles = kept
        if not n_ops:
            done_until, n_ops, n_cycles = time.monotonic(), len(self.ops), 1
        # throughput over complete cycles, whose mix of cold and warm
        # rounds is fixed; latencies over every round of the window
        self.window = (start, done_until)
        self.complete_ops = n_ops
        self.cycles = self.stored_cycles = n_cycles

    def throughput(self):
        return self.complete_ops / (self.window[1] - self.window[0])

    def latencies(self):
        return [t1 - t0 for k, t0, t1, _, _ in self.ops if k == "probe"]

    def check(self, con):
        # the cycle copies hold the same bytes as the fixture ``con`` reads
        return self.check_tables(con, self.results)


class Serve(Workload):
    """A closed loop of nproc clients in a separate load-generator
    process against one GatewayServer."""

    def __init__(self, bench):
        super().__init__(bench)
        self.clients = bench.nproc
        self.route_checks: dict[str, dict] = {}

    # ---------------------------------------------------------- schedule
    def _kinds(self, con, rng):
        """Route kind -> list of SERVE_BLOCKS (path, check) pairs."""
        tpl = self.b.server.templates

        def keys(sql):
            return [r[0] for r in con.execute(sql).fetchall()]

        orders = keys("SELECT o_orderkey FROM orders ORDER BY 1")
        custs = keys("SELECT c_custkey FROM customer ORDER BY 1")
        dates = [str(d)[:10] for d in keys("SELECT DISTINCT o_orderdate FROM orders ORDER BY 1")]
        # Keys of point reads are drawn from the data. Binds that set how
        # much data a request scans or shuffles (date bounds, k, pages,
        # regions, tables) come from fixed sets of SERVE_BLOCKS values in
        # a seeded order, so every seed's schedule does the same work.
        def pick(pool):
            return [rng.choice(pool) for _ in range(SERVE_BLOCKS)]

        def perm(values):
            return rng.sample(values, len(values))

        def q(name, positional=(), named=None, limit=None):
            named = dict(named or {})
            t = tpl.get(name)
            path = "/q/" + name.replace(".", "/") + "".join(f"/{p}" for p in positional)
            qs = dict(named, **({"limit": limit} if limit else {}))
            if qs:
                path += "?" + urlencode(qs)
            sql = template_sql(t.sql, list(positional), named)
            return path, {"sql": sql, "ordered": False, "limit": limit}

        def run(name, **bind):
            from data_wrangler_spark import REGISTRY

            sql = RUN_SPLICES[name](REGISTRY[name].oracle, bind)
            ordered = name in ("q_topk", "q_sort_paginate")
            return f"/run/{name}?{urlencode(bind)}", {"sql": sql, "ordered": ordered, "limit": 100}

        out = {
            "q.invoices": [q("billing.invoices", [d]) for d in pick(dates)],
            "q.lineitems": [q("billing.lineitems", [k]) for k in pick(orders)],
            "q.anyById": [
                q("billing.anyById", named={"relation": "customer", "pk": "c_custkey", "id": k})
                for k in pick(custs)
            ],
            "q.getXfromYwhereZisQ": [
                q("billing.getXfromYwhereZisQ",
                  named={"x": "c_name", "y": "customer", "z": "c_custkey", "q": k})
                for k in pick(custs)
            ],
            "q.ticket": [q("support.ticket", [k]) for k in pick(orders)],
            "q.ticketAnswers": [q("support.ticketAnswers", [k]) for k in pick(orders)],
            "q.getStuff": [
                q("support.getStuff", [r], {"relation": "nation", "field": "n_regionkey"})
                for r in pick(range(5))
            ],
            "q.accounts": [q("salesforce.accounts", limit=50)] * SERVE_BLOCKS,
            "q.fromwhat": [
                q("salesforce.fromwhat", named={"pk": pk, "what": what})
                for pk, what in perm([("n_nationkey", "nation"), ("s_suppkey", "supplier")])
            ],
        }
        out["db.list"] = []
        for page in perm([5, 20]):
            sql = f"SELECT * FROM customer ORDER BY c_acctbal, c_custkey LIMIT 20 OFFSET {20 * (page - 1)}"
            out["db.list"].append((
                f"/db/billing/rel/customer?page={page}&perpage=20&sortby=c_acctbal",
                {"sql": sql, "ordered": True, "limit": None},
            ))
        out["db.get"] = [
            (f"/db/billing/rel/orders/{k}",
             {"sql": f"SELECT * FROM orders WHERE o_orderkey = {k}", "ordered": False, "limit": None})
            for k in pick(orders)
        ]
        out["db.sub"] = [
            (f"/db/billing/rel/nation/{k}/supplier",
             {"sql": f"SELECT * FROM supplier WHERE s_nationkey = {k}", "ordered": False, "limit": None})
            for k in pick(range(25))
        ]
        out["run.q_topk"] = [run("q_topk", k=k) for k in perm([10, 50])]
        out["run.q_sort_paginate"] = [run("q_sort_paginate", page=p) for p in perm([3, 7])]
        out["run.q_agg_groupby"] = [
            run("q_agg_groupby", ship_before=f"{d} 00:00:00")
            for d in perm(["1998-09-02", "1996-12-02"])
        ]
        out["run.q_agg_count_distinct"] = [
            run("q_agg_count_distinct", since=f"{d} 00:00:00")
            for d in perm(["1993-06-01", "1995-06-01"])
        ]
        out["run.q_join_multi"] = [run("q_join_multi", region=r) for r in perm(["ASIA", "EUROPE"])]
        out["run.q_point_lookup"] = [run("q_point_lookup", key=k) for k in pick(custs)]
        out["run.q_child_list"] = [run("q_child_list", parent_id=k) for k in pick(range(25))]
        # the serialized share: names outside GatewayServer._CONCURRENT_SAFE
        out["run.q_filter_fk"] = [run("q_filter_fk", orderkey=k) for k in pick(orders)]
        # tables without timestamp columns: the registered oracle maps
        # DuckDB TIMESTAMP to 'timestamp', the engine reports timestamp_ntz
        out["run.q_describe"] = [run("q_describe", table=t) for t in perm(["customer", "supplier"])]
        return out

    def setup(self):
        rng = random.Random(self.b.seed)
        kinds = self._kinds(self.b.duck, rng)
        self.kind_of = {}
        blocks = []
        for i in range(SERVE_BLOCKS):
            block = []
            for kind, variants in sorted(kinds.items()):
                path, check = variants[i]
                self.route_checks[path] = check
                self.kind_of[path] = kind
                block.append(path)
            rng.shuffle(block)
            blocks.append(block)
        self.plan = [p for blk in blocks for p in blk]
        self.cycle_len = len(kinds)
        spec = {
            "base_url": self.b.server.base_url,
            "clients": self.clients,
            # the same warm-up order for every seed, so cold latencies
            # do not depend on which request happens to come first
            "warmup": sorted(self.plan),
            "schedule": self.plan,
            "seconds": self.b.seconds,
        }
        self.spec_path = os.path.join(self.b.work, "loadgen_spec.json")
        self.out_path = os.path.join(self.b.work, "loadgen_out.json")
        with open(self.spec_path, "w") as fh:
            json.dump(spec, fh)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             self.spec_path, self.out_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if self.proc.stdout.readline().strip() != "warm":
            self.proc.wait()
            raise RuntimeError("load generator exited during warm-up")

    def cycle_bytes(self, setup_totals, window_totals):
        """From the warm-up, which runs every block of the schedule
        exactly once; the window ends partway through blocks."""
        return (self.warmup_scratch + setup_totals["shuffle_write_bytes"]) / SERVE_BLOCKS

    def start_window(self):
        self.warmup_scratch = sum(self.b.scratch.created().values())
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()

    def measure(self, seconds):
        b = self.b
        stop = threading.Event()
        if b.tracer is not None:
            def toggle():
                while not stop.is_set():
                    b.tracer.active = b.trace_on(time.monotonic())
                    stop.wait(0.005)
                b.tracer.active = False

            toggler = threading.Thread(target=toggle)
            toggler.start()
        try:
            self.proc.wait(timeout=seconds + 150)
        finally:
            stop.set()
            if b.tracer is not None:
                toggler.join()
        if self.proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {self.proc.returncode}")
        with open(self.out_path) as fh:
            res = json.load(fh)
        self.window = tuple(res["window"])
        self.cold = [t1 - t0 for _, t0, t1, _, _ in res["warmup"]]
        self.responses = res["requests"] + res["warmup"]
        for path, t0, t1, status, body in res["requests"]:
            self.ops.append((self.kind_of[path], t0, t1, True, b.trace_on(t0)))
        self.bodies = [len(r[4].encode()) for r in res["requests"]]
        self.n_all = len(self.ops)
        self.cycles = self.stored_cycles = len(self.ops) / self.cycle_len
        self.count_scratch(b.scratch.created())

    def check(self, con):
        """Every response must be an ok envelope whose rows match the
        oracle of its path. Each distinct (path, body) is compared once;
        each path's oracle runs once."""
        oracle_cache: dict[str, list] = {}
        verdicts: dict[tuple[str, str], str] = {}
        for i, (path, t0, t1, status, body) in enumerate(self.responses):
            why = ""
            try:
                payload = json.loads(body)
                if status != 200 or payload.get("ok") is not True:
                    why = f"status {status}: {body[:200]}"
            except ValueError:
                why = f"status {status}: unparseable body {body[:200]!r}"
            if not why:
                if (path, body) not in verdicts:
                    rows = payload.get("results")
                    if rows is None:
                        rows = [payload["row"]] if payload.get("row") else []
                    chk = self.route_checks[path]
                    if path not in oracle_cache:
                        oracle_cache[path] = oracle_rows(con, chk["sql"])
                    verdicts[path, body] = compare_rows(
                        rows, oracle_cache[path], chk["ordered"], chk["limit"]
                    )
                why = verdicts[path, body]
            if not why:
                continue
            if i < len(self.ops):  # a measured request
                self.errors.append(f"{path}: {why}")
                k, a, z, _, tr = self.ops[i]
                self.ops[i] = (k, a, z, False, tr)
            else:  # a warm-up request
                self.check_errors.append(f"{path}: {why}")
        return len(self.responses) - len(self.ops)

    def close(self):
        proc = getattr(self, "proc", None)
        if proc is not None:
            if proc.poll() is None:
                proc.kill()
            proc.wait()


WORKLOADS = {"serve": Serve, "ingest": Ingest}
