"""One benchmark run of one workload; started by ``perfbench/run.py``.

Phases of a run:

1. Fixture: generate (or reuse) the seeded input tables.  Not timed.
2. Set-up, repeated ``SETUP_ROUNDS`` times: start a Spark session, load the
   query registry, build the prebuilt plans.  ``setup_s`` is the median
   round; round 0 also pays interpreter start and the JVM launch.
3. Warm-up: every key once on the timed op path, untimed; then the
   workload's untimed settle passes.
4. Timed region: whole passes in a seeded order until ``--seconds`` have
   elapsed and the workload's ``min_passes`` passes ran.  With ``--trace 1`` passes alternate untraced / traced; only
   traced passes record spans and feed the event-log accounting.
5. Check: every key's output against its DuckDB oracle.  Not timed.  A
   parquet-sink key is checked on the files its last timed op wrote; a
   noop-sink key's plan is collected to pandas here.

The last stdout line is the JSON result; the line before it is a JSON
detail record (host, inputs, sample counts, tail percentile, layers).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

import eventlog  # noqa: E402
import fixture  # noqa: E402
import oracle  # noqa: E402
from run import mem_available_mb  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_ROUNDS = 3
KEEP_FIXTURES = 6
TINY_SF = 0.001
END_TO_END = {
    "pass_s": "s", "op_p50_s": "s", "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s",
    "sources.load_table_calls": "count", "sources.load_table_s": "s", "sources.cache_hit_frac": "frac",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_job_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.slot_busy_frac": "frac",
    "exec.stage_skew": "ratio", "exec.scan_tasks_min": "count", "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.broadcast_count": "count", "exec.broadcast_bytes": "B",
    "operators.python_nodes": "count", "operators.python_s": "s", "operators.python_init_s": "s",
    "operators.bytes_to_python": "B", "operators.bytes_from_python": "B",
    "sink.write_s": "s", "sink.bytes_written": "B", "sink.files_written": "count",
    "trace.unaccounted_frac": "frac", "trace.overhead_frac": "frac", "failed_frac": "frac",
}
LAYERS = ("build", "catalyst", "execute", "python", "sink")


def _tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with >= 10 samples above it."""
    v = sorted(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(v) * (1 - p / 100) >= 10:
            return p, v[min(len(v) - 1, int(len(v) * p / 100))]
    return 50.0, statistics.median(v)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def _tree_rss_kb(self) -> int:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(pid)] = int(fields[1])
                rss[int(pid)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), ()):
                tree.add(c)
                frontier.append(c)
        return sum(rss.get(p, 0) for p in tree)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


class LoadTableProbe:
    """Counts and times calls to the fixture-table loader, from outside it.

    A call is a cache hit when it returns the very DataFrame object an
    earlier call returned for the same (session, fixture, table).
    """

    def __init__(self, tables_mod):
        self.orig = tables_mod.load_table
        self.returned: dict[tuple, object] = {}
        self.calls = self.hits = 0
        self.seconds = 0.0
        self.active = False

    def __call__(self, spark, sf_dir, name):
        key = (spark.sparkContext.applicationId, sf_dir, name)
        t0 = time.perf_counter()
        df = self.orig(spark, sf_dir, name)
        if self.active:
            self.seconds += time.perf_counter() - t0
            self.calls += 1
            self.hits += self.returned.get(key) is df
        self.returned[key] = df
        return df

    def install(self) -> None:
        """Rebind ``load_table`` in every engine module that imported it."""
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("usw_big_data_analysis_spark") \
                    and getattr(mod, "load_table", None) is self.orig:
                mod.load_table = self


class Run:
    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.data = ""  # fixture directory
        self.run_dir = os.environ["PERFBENCH_RUN_DIR"]
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.plans: dict = {}
        self.build_s: dict[str, float] = {}  # per-key plan build time, last set-up round
        self.rounds: list[dict] = []
        self.ops: list[dict] = []  # one record per timed op
        self.passes: list[dict] = []
        self.failed_keys: dict[str, list[str]] = {}
        self.probe: LoadTableProbe | None = None
        self.app_id = None

    # -- set-up ---------------------------------------------------------
    def _conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # keep the JVM's files inside the checkout; -UsePerfData stops
            # the hsperfdata file the JVM would otherwise write under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.run_dir, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup(self, fixture_s: float) -> None:
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            from usw_big_data_analysis_spark.session import get_spark

            self.spark = get_spark("perfbench", extra_conf=self._conf())
            t1 = time.perf_counter()
            from usw_big_data_analysis_spark import registry

            self.queries = registry.all_queries()
            t2 = time.perf_counter()
            if self.w.prebuilt:
                self.spark.sparkContext.setJobGroup(f"setup{r}|build", "setup")
                self.build_s = {}
                for k in self.w.keys:
                    b0 = time.perf_counter()
                    self.plans[k] = self.queries[k](self.spark, self.data)
                    self.build_s[k] = round(time.perf_counter() - b0, 4)
            t3 = time.perf_counter()
            # round 0 runs from process start (less the untimed fixture step)
            total = time.time() - T_PROCESS - fixture_s if r == 0 else t3 - t0
            self.rounds.append({"session_s": t1 - t0, "registry_s": t2 - t1, "build_s": t3 - t2,
                                "total_s": total})
        self.app_id = self.spark.sparkContext.applicationId

    # -- one op ---------------------------------------------------------
    def _sink(self, key: str, df) -> None:
        if key in self.w.parquet_sink:
            df.write.mode("overwrite").parquet(os.path.join(self.run_dir, "sink", key))
        else:
            df.write.format("noop").mode("overwrite").save()

    def _df(self, key: str):
        return self.plans[key] if self.w.prebuilt else self.queries[key](self.spark, self.data)

    def run_op(self, key: str, op_id: str, traced: bool) -> dict:
        """One op: build (or reuse) the plan, then run it to its sink.

        A traced op tags its jobs per layer and, after the op span has
        closed, re-plans the same logical plan on a fresh QueryExecution to
        read Catalyst's phase times: the work the sink call did internally.
        That re-planning is tracing overhead and shows in the pass time only.
        """
        sc = self.spark.sparkContext
        rec = {"op": op_id, "key": key, "traced": traced, "ok": True}
        t0 = time.time()
        try:
            if traced:
                sc.setJobGroup(f"{op_id}|build", key)
            df = self._df(key)
            t1 = time.time()
            rec["build"] = (t0, t1)
            if traced:
                sc.setJobGroup(f"{op_id}|exec", key)
            self._sink(key, df)
            rec["sink"] = (t1, time.time())
        except Exception:  # an op failure is counted, reported and the loop goes on
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        rec["span"] = (t0, time.time())
        if traced and rec["ok"]:
            if not self.w.prebuilt:
                rec["analysis_s"] = _phase(df._jdf.queryExecution(), "analysis")
            sc.setJobGroup(f"{op_id}|catalyst", key)
            fresh = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                df._jdf.sparkSession(), df._jdf.logicalPlan())
            qe = fresh.queryExecution()
            qe.executedPlan()
            rec["optimization_s"] = _phase(qe, "optimization")
            rec["planning_s"] = _phase(qe, "planning")
        return rec

    # -- warm-up ----------------------------------------------------------
    def warmup(self) -> None:
        """Every key once on the timed op path, untimed."""
        for key in self.w.keys:
            if not self.run_op(key, "warmup", False)["ok"]:
                self.failed_keys[key] = ["raised during warm-up"]

    # -- timed region -----------------------------------------------------
    def timed(self) -> None:
        rng = random.Random(self.args.seed)
        # the first timed passes would otherwise still be warming
        for _ in range(self.w.settle_passes):
            for key in self.w.keys:
                self.run_op(key, "settle", False)
        start = time.perf_counter()
        n = 0
        while True:
            order = list(self.w.keys)
            rng.shuffle(order)
            # traced runs order passes U T T U U T T U ...: a linear drift
            # (JIT, caches) cancels out of the traced/untraced comparison
            traced = bool(self.args.trace) and n % 4 in (1, 2)
            if self.probe is not None:
                self.probe.active = traced
            p0 = time.perf_counter()
            recs = [self.run_op(k, f"{self.w.name}:{n}:{i}", traced) for i, k in enumerate(order)]
            self.passes.append({"pass": n, "traced": traced, "wall_s": time.perf_counter() - p0,
                                "order": order})
            self.ops.extend(recs)
            n += 1
            # passes still speed up within a run (JIT), so a run that stopped
            # on elapsed time alone would take more, faster passes on a quiet
            # host; --seconds is meant to be reached by ``min_passes`` passes,
            # so every run times the same number of passes
            if time.perf_counter() - start >= self.args.seconds and n >= self.w.min_passes:
                break
        if self.probe is not None:
            self.probe.active = False

    # -- correctness --------------------------------------------------------
    def check(self) -> None:
        from usw_big_data_analysis_spark import registry

        oracles = registry.all_oracles()
        self.spark.sparkContext.setJobGroup("check", "check")
        con = oracle.connect(self.data, fixture.TABLES, self.cores)
        for key in self.w.keys:
            if key in self.failed_keys:
                continue
            try:
                if key in self.w.parquet_sink:
                    got = pq.read_table(os.path.join(self.run_dir, "sink", key)).to_pandas()
                else:
                    got = self._df(key).toPandas()
                if key not in oracles:
                    self.failed_keys[key] = ["no DuckDB oracle registered"]
                    continue
                want = oracle.digest(con.execute(oracles[key]).fetchdf())
                if key == self.args.corrupt_oracle:
                    want = oracle.Digest(want.rows, want.schema, "0" * 64)
                bad = oracle.problems(oracle.digest(got), want)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                bad = ["check raised"]
            if bad:
                self.failed_keys[key] = bad
        con.close()

    # -- metrics ---------------------------------------------------------------
    def end_to_end(self, peak_rss_mb: float) -> tuple[dict, dict]:
        untraced = [p["wall_s"] for p in self.passes if not p["traced"]]
        lat = [r["span"][1] - r["span"][0] for r in self.ops if not r["traced"]]
        pct, tail = _tail(lat)
        metrics = {
            "pass_s": statistics.median(untraced),
            "op_p50_s": statistics.median(lat),
            "setup_s": statistics.median(r["total_s"] for r in self.rounds),
        }
        detail = {"passes": len(untraced), "ops": len(lat), "op_tail_s": tail, "op_tail_percentile": pct,
                  "peak_rss_mb": peak_rss_mb, "pass_s_all": [round(x, 4) for x in untraced],
                  "key_p50_s": {k: round(statistics.median(
                      r["span"][1] - r["span"][0] for r in self.ops if r["key"] == k and not r["traced"]), 4)
                      for k in self.w.keys},
                  "setup_rounds_s": [round(r["total_s"], 4) for r in self.rounds],
                  "pass_orders": [p["order"] for p in self.passes], "setup_build_s": self.build_s}
        return metrics, detail

    def per_layer(self, groups: dict) -> tuple[dict, dict, list]:
        traced_ops = [r for r in self.ops if r["traced"]]
        npass = max(1, sum(p["traced"] for p in self.passes))
        tot: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self_time = {k: 0.0 for k in LAYERS}
        op_wall = accounted = 0.0
        skews, scan_tasks, spans = [], [], []
        empty = eventlog.GroupStats()
        for r in traced_ops:
            b = groups.get(f"{r['op']}|build", empty)
            x = groups.get(f"{r['op']}|exec", empty)
            wall = r["span"][1] - r["span"][0]
            op_wall += wall
            spans.append({"name": r["op"], "key": r["key"], "start": r["span"][0], "end": r["span"][1]})
            if not r["ok"]:
                continue
            build_s = r["build"][1] - r["build"][0]
            analysis = r.get("analysis_s", 0.0)
            sink_s = r["sink"][1] - r["sink"][0]
            # inside the sink call: execute (first job start to last job end,
            # so AQE's driver work between jobs counts; with its Python-worker
            # share), Catalyst re-planning the plan, and the rest, which is the
            # sink's own driver work for file sinks and unaccounted for noop
            exec_s = eventlog.extent(x.intervals, *r["sink"])
            python_s = exec_s * min(1.0, x.python_ms / x.task_run_ms) if x.task_run_ms else 0.0
            replan = min(r["optimization_s"] + r["planning_s"], max(0.0, sink_s - exec_s))
            rest = max(0.0, sink_s - exec_s - replan)
            file_sink = r["key"] in self.w.parquet_sink
            parts = {"build": build_s - analysis, "catalyst": analysis + replan,
                     "execute": exec_s - python_s, "python": python_s,
                     "sink": rest if file_sink else 0.0}
            for k, v in parts.items():
                self_time[k] += v
            accounted += sum(parts.values())
            spans += [
                {"name": "build", "parent": r["op"], "start": r["build"][0], "end": r["build"][1],
                 "self_s": parts["build"], "jobs": b.jobs},
                {"name": "catalyst", "parent": r["op"], "self_s": parts["catalyst"]},
                {"name": "sink", "parent": r["op"], "start": r["sink"][0], "end": r["sink"][1],
                 "self_s": parts["sink"]},
                {"name": "execute", "parent": "sink", "op": r["op"], "self_s": parts["execute"],
                 "jobs": x.jobs, "stages": len(x.stages), "tasks": x.tasks},
                {"name": "python", "parent": "execute", "op": r["op"], "self_s": python_s,
                 "worker_s": x.python_ms / 1000.0},
            ]
            tot["queries.build_s"] += build_s
            tot["queries.build_jobs"] += b.jobs
            tot["queries.build_job_s"] += eventlog.coverage(b.intervals, *r["build"])
            tot["catalyst.analysis_s"] += analysis
            tot["catalyst.optimization_s"] += r.get("optimization_s", 0.0)
            tot["catalyst.planning_s"] += r.get("planning_s", 0.0)
            tot["exec.wall_s"] += exec_s
            tot["exec.jobs"] += x.jobs
            tot["exec.stages"] += len(x.stages)
            tot["exec.tasks"] += x.tasks
            tot["exec.task_run_s"] += x.task_run_ms / 1000.0
            tot["exec.task_cpu_s"] += x.task_cpu_ns / 1e9
            tot["exec.gc_s"] += x.gc_ms / 1000.0
            tot["exec.input_bytes"] += x.input_bytes
            tot["exec.shuffle_read_bytes"] += x.shuffle_read_bytes
            tot["exec.shuffle_write_bytes"] += x.shuffle_write_bytes
            tot["exec.spill_bytes"] += x.spill_bytes
            tot["exec.broadcast_count"] += x.broadcast_count
            tot["exec.broadcast_bytes"] += x.broadcast_bytes
            tot["operators.python_nodes"] += x.python_nodes
            tot["operators.python_s"] += x.python_ms / 1000.0
            tot["operators.python_init_s"] += x.python_init_ms / 1000.0
            tot["operators.bytes_to_python"] += x.bytes_to_python
            tot["operators.bytes_from_python"] += x.bytes_from_python
            if file_sink:
                tot["sink.write_s"] += sink_s
            tot["sink.bytes_written"] += x.bytes_written
            tot["sink.files_written"] += x.files_written
            skews += x.stage_skews()
            scan_tasks += x.split_scan_tasks
        m = {k: v / npass for k, v in tot.items()}
        m["session.start_s"] = self.rounds[0]["session_s"]
        m["registry.load_s"] = self.rounds[0]["registry_s"]
        probe = self.probe
        m["sources.load_table_calls"] = probe.calls / npass
        m["sources.load_table_s"] = probe.seconds / npass
        m["sources.cache_hit_frac"] = probe.hits / probe.calls if probe.calls else 0.0
        m["exec.slot_busy_frac"] = tot["exec.task_run_s"] / (tot["exec.wall_s"] * self.cores) if tot["exec.wall_s"] else 0.0
        m["exec.stage_skew"] = statistics.median(skews) if skews else 1.0
        m["exec.scan_tasks_min"] = min(scan_tasks) if scan_tasks else 0
        m["trace.unaccounted_frac"] = 1.0 - accounted / op_wall if op_wall else 0.0
        traced_pass = statistics.median(p["wall_s"] for p in self.passes if p["traced"])
        untraced_pass = statistics.median(p["wall_s"] for p in self.passes if not p["traced"])
        m["trace.overhead_frac"] = traced_pass / untraced_pass - 1.0
        layers = {k: v / npass for k, v in self_time.items()}
        detail = {"layer_self_s": layers, "dominant_layer": max(layers, key=layers.get),
                  "python_s_per_op": {r["key"]: groups.get(f"{r['op']}|exec", empty).python_ms / 1000.0
                                      for r in traced_ops}}
        return m, detail, spans


def _phase(qe, name: str) -> float:
    phases = qe.tracker().phases()
    return phases.apply(name).durationMs() / 1000.0 if phases.contains(name) else 0.0


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _input_rows(data: str) -> dict[str, int]:
    return {t: pq.read_metadata(p).num_rows if os.path.isfile(p) else
            sum(pq.read_metadata(os.path.join(p, f)).num_rows for f in os.listdir(p))
            for t in fixture.TABLES for p in [os.path.join(data, f"{t}.parquet")]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-oracle", default=None)
    args = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = Run(args)
    w = run.w

    f0 = time.perf_counter()
    cache = os.path.join(root, ".perfbench", "data")
    sf = TINY_SF if args.tiny else w.sf
    run.data = fixture.build(cache, sf, args.seed, copies=w.copies, files=w.files)
    fixture.evict(cache, KEEP_FIXTURES)
    fixture_s = time.perf_counter() - f0

    sampler = RssSampler()
    sampler.start()
    run.setup(fixture_s)
    if args.trace:
        from usw_big_data_analysis_spark.sources import tables

        run.probe = LoadTableProbe(tables)
        run.probe.install()
    phase = {}
    t = time.perf_counter()
    run.warmup()
    phase["warmup_s"] = time.perf_counter() - t
    t = time.perf_counter()
    cpu0 = _cpu_times()
    run.timed()
    phase["timed_s"] = time.perf_counter() - t
    cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    peak_rss_mb = sampler.stop()
    t = time.perf_counter()
    run.check()
    phase["check_s"] = time.perf_counter() - t

    import pyspark

    failed = sum(1 for r in run.ops if not r["ok"] or r["key"] in run.failed_keys)
    metrics, detail = run.end_to_end(peak_rss_mb)
    units = END_TO_END
    if args.trace:
        run.spark.stop()  # flushes and closes the event log
        run.spark = None
        groups = eventlog.fold(eventlog.log_files(os.path.join(run.run_dir, "eventlog"), run.app_id))
        metrics, layer_detail, spans = run.per_layer(groups)
        metrics["failed_frac"] = failed / len(run.ops)
        units = PER_LAYER
        detail.update(layer_detail)
        out = os.path.join(root, ".perfbench", "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans-{w.name}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": w.name, "seed": args.seed, "spans": spans, "ops": run.ops}, fh)

    detail.update({
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "cores": run.cores, "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "mem_available_mb": mem_available_mb(), "python": platform.python_version(),
        "spark": pyspark.__version__, "sf": sf, "copies": w.copies, "files_per_fact": w.files,
        "input_rows": _input_rows(run.data), "fixture_s": round(fixture_s, 3),
        "failed_keys": run.failed_keys,
        "phases_s": {k: round(v, 3) for k, v in phase.items()},
        # share of the host's CPU time a hypervisor gave to other guests
        # during the timed region; a high value marks a noisy run
        "cpu_steal_frac": round(cpu[7] / sum(cpu), 4) if sum(cpu) else 0.0,
    })
    # an untraced run leaves the session up: the launcher stops the JVM
    print(json.dumps({"detail": detail}))
    correct = not run.failed_keys and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": len(run.ops), "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # skip interpreter and py4j teardown: the launcher kills the process
    # group (JVM, Python workers) and deletes the run directory
    os._exit(code)
