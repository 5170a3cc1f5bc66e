"""The repository's benchmark: one closed-loop client runs a workload's
operations one at a time on a ``local[4]`` session, checks every output,
and prints end-to-end metrics (``--trace 0``) or per-layer metrics from a
traced run (``--trace 1``).

Run from the repository root:

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 14 --trace 0

The last stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is the full report with
units, sample counts, every derived metric and the run metadata. Why the
workloads and metrics are what they are: ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
MASTER = "local[4]"
SETUP_REPEATS = 2    # cold set-ups per run, each with its own JVM launch
MIN_PASSES = 1       # measured passes per run, at least (3 when traced)
# End-to-end metrics in the result line (the report line adds fail_rate,
# peak_rss_mb and, on warehouse, write_p50_s).
HEADLINE = ("setup_s", "wall_s", "query_p50_s", "query_p90_s")
UNITS = {"s": "s", "mb": "MB", "count": "count", "ratio": "ratio", "rate": "1/s"}


class Bench:
    def __init__(self, args, work: str, ops: list[str]):
        self.args = args
        self.work = work
        self.ops = ops
        self.tmp = os.path.join(work, "tmp")
        self.data_dir = os.path.join(HERE, "data", f"sf{args.sf}")
        self.pinned: dict = {}
        self.spark = None
        self.fns: dict = {}  # operation name -> query builder
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.tmp_left_bytes = 0  # what the operations left in the scratch dir
        self.harness_s = 0.0  # untimed per-pass reset and fixtures
        self.writes = None  # the seeded inputs of the ETL writes, if any

    # ---------------------------------------------------------- session

    def start_session(self, ui: bool):
        from pyspark.sql import SparkSession

        # A fresh import each time, so that work done at import time counts
        for mod in [m for m in sys.modules if m.split(".")[0] == "zoom_etl_spark"]:
            del sys.modules[mod]
        from zoom_etl_spark import plans, registry, session
        jvm_tmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(jvm_tmp, exist_ok=True)
        spark = (
            SparkSession.builder.appName("perfbench").master(MASTER)
            # heap, shuffle partitions, broadcast threshold and UI retention
            # as in session.get_spark; the dirs keep the run in the checkout
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "4g"))
            # keep the JVM's temp files in the checkout; no /tmp/hsperfdata_*
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData")
            .config("spark.driver.host", "127.0.0.1")
            .config("spark.driver.bindAddress", "127.0.0.1")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            .config("spark.ui.enabled", "true" if ui else "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        session.configure(spark)
        self.fns = {n: s.fn for n, s in registry.all_queries().items()}
        self.fns["flagship_topk_revenue"] = plans.flagship
        return spark

    def setup(self, traced: bool) -> list[float]:
        """Set up ``SETUP_REPEATS`` times from cold (once for a traced run,
        which reports no ``setup_s``) and keep the last session. A set-up
        launches the JVM, starts the session, imports the engine, loads
        the registry and the pinned digests and derives the seeded write
        inputs; between set-ups the JVM is stopped."""
        from ops import ETL_OPS, WriteFixtures
        times = []
        for i in range(1 if traced else SETUP_REPEATS):
            if i:
                stop_spark()
            t0 = time.perf_counter()
            self.spark = self.start_session(ui=traced)
            missing = [n for n in self.ops if n not in self.fns and not n.startswith("etl.")]
            if missing:
                raise KeyError(f"operations not in the registry: {missing}")
            with open(self.args.digests) as f:
                self.pinned = json.load(f)[f"sf{self.args.sf}"]
            if any(n in ETL_OPS for n in self.ops):
                self.writes = WriteFixtures(self.data_dir, random.Random(self.args.seed))
            times.append(time.perf_counter() - t0)
        return times

    def fixtures(self, tag: str):
        """Fresh write targets for one pass, or None without writes."""
        if self.writes is None:
            return None
        self.writes.prepare(self.spark, os.path.join(self.work, "fixtures", tag))
        return self.writes

    def reset(self) -> None:
        """Identical starting state for every pass."""
        spark = self.spark
        for q in spark.streams.active:
            q.stop()
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)

    # ----------------------------------------------------------- passes

    def run_pass(self, idx: int, tracer=None) -> dict:
        t0 = time.perf_counter()
        self.reset()
        fx = self.fixtures(f"pass{idx}")
        self.harness_s += time.perf_counter() - t0
        order = list(self.ops)
        random.Random(f"{self.args.seed}/order/{idx}").shuffle(order)
        pass_span = None
        if tracer is not None:
            pass_span = tracer.add(f"pass{idx}", "pass", time.time(), 0.0)
        ops = [self.run_op(name, fx, tracer, pass_span) for name in order]
        if pass_span is not None:
            pass_span.end = time.time()
        if fx is not None:
            shutil.rmtree(fx.root, ignore_errors=True)
        return {"index": idx, "traced": tracer is not None, "ops": ops,
                "wall_s": sum(o["latency_s"] for o in ops), "span": pass_span}

    def run_op(self, name: str, fx, tracer, pass_span) -> dict:
        """Time one operation, then check its output. The timed part is
        the call into the engine and, for a query, the ``collect`` that
        runs the returned DataFrame; with tracing, Catalyst planning is
        forced between the two so that it shows as its own span."""
        from digest import digest
        from ops import CheckFailed
        rec = {"name": name, "ok": False}
        phases = []  # (layer, start, end, attrs) spans under the op
        t_op, t0 = time.time(), time.perf_counter()
        try:
            try:
                if name.startswith("etl."):
                    which = name.split(".", 1)[1]
                    result = getattr(fx, which)(self.spark)
                    phases.append((name, t_op, time.time(), {}))
                else:
                    df = self.fns[name](self.spark, self.data_dir)
                    t = time.time()
                    phases.append(("suite.build", t_op, t, {}))
                    if tracer is not None:
                        from spans import catalyst_phases
                        rec["catalyst"] = catalyst_phases(df)
                        phases.append(("catalyst.plan", t, time.time(), rec["catalyst"]))
                        t = time.time()
                    rows = df.collect()
                    phases.append(("execute", t, time.time(), {}))
            finally:
                rec["latency_s"] = time.perf_counter() - t0
                t_done = time.time()
            if name.startswith("etl."):
                getattr(fx, f"check_{which}")(self.spark, result)
            else:
                got = digest([tuple(r) for r in rows], df.columns)
                if got != self.pinned[name]:
                    raise CheckFailed(f"digest {got} != pinned {self.pinned[name]}")
            rec["ok"] = True
        except Exception as e:  # a failed operation is counted, the run goes on
            kind = "check" if isinstance(e, CheckFailed) else "error"
            self.errors.append(f"{name}: {kind}: {e}"[:2000])
            if kind == "error":
                traceback.print_exc(file=sys.stderr)
        self.attempted += 1
        self.failed += not rec["ok"]
        rec["tmp_left_bytes"] = self.sweep_tmp()
        if tracer is not None:
            rec["span"] = tracer.add(name, "op", t_op, t_done, pass_span)
            for layer, start, end, attrs in phases:
                tracer.add(layer, layer, start, end, rec["span"], **attrs)
        return rec

    def sweep_tmp(self) -> int:
        """Bytes the last operation left in the scratch directory; then
        remove them so repeated runs do not fill the disk."""
        left = 0
        for dirpath, _, files in os.walk(self.tmp):
            for f in files:
                try:
                    left += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
        for entry in os.listdir(self.tmp):
            p = os.path.join(self.tmp, entry)
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        self.tmp_left_bytes += left
        return left

    def warmup(self) -> list[float]:
        """``--warmup`` untimed passes."""
        return [self.run_pass(-1 - i)["wall_s"] for i in range(self.args.warmup)]

    def measure(self, traced_too: bool, tracer=None) -> list[dict]:
        """Passes while another one fits in ``--seconds``, and at least
        ``MIN_PASSES``. With tracing, untraced and traced passes alternate,
        starting and, at the minimum of three, ending untraced, so the
        warming drift cancels out of the tracing overhead."""
        min_passes = 3 if traced_too else MIN_PASSES
        passes: list[dict] = []
        t0 = time.perf_counter()
        while True:
            traced = traced_too and len(passes) % 2 == 1
            passes.append(self.run_pass(len(passes), tracer if traced else None))
            if len(passes) < min_passes:
                continue
            per_pass = statistics.median(p["wall_s"] for p in passes)
            if time.perf_counter() - t0 + per_pass > self.args.seconds:
                break
        return passes


# ----------------------------------------------------------------- metrics

def metric(value, unit: str, samples: int) -> dict:
    return {"value": value, "unit": UNITS[unit], "samples": samples}


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _pids(spark) -> tuple[int, int]:
    return os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Restart the kernel's peak-RSS counters of this process and the
    driver JVM, so the peak covers only the measured passes."""
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    kb = 0
    for pid in _pids(spark):
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def end_to_end(bench: Bench, setup_times, passes) -> dict:
    from ops import WRITES
    untraced = [p for p in passes if not p["traced"]]
    lat = [o["latency_s"] for p in untraced for o in p["ops"]]
    writes = [o["latency_s"] for p in untraced for o in p["ops"] if o["name"] in WRITES]
    m = {
        "setup_s": metric(statistics.median(setup_times), "s", len(setup_times)),
        "wall_s": metric(statistics.median(p["wall_s"] for p in untraced), "s",
                         len(untraced)),
        "query_p50_s": metric(statistics.median(lat), "s", len(lat)),
        "query_p90_s": metric(p90(lat), "s", len(lat)),
        "fail_rate": metric(bench.failed / max(bench.attempted, 1), "ratio",
                            bench.attempted),
        "peak_rss_mb": metric(peak_rss_mb(bench.spark), "mb", 1),
    }
    if writes:
        m["write_p50_s"] = metric(statistics.median(writes), "s", len(writes))
    return m


def union_s(spans) -> float:
    """Seconds covered by the union of the spans' intervals."""
    total, until = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s.start):
        total += max(0.0, s.end - max(s.start, until))
        until = max(until, s.end)
    return total


def descendants(span):
    for c in span.children:
        yield c
        yield from descendants(c)


BUSY_LAYERS = ("spark.job", "streaming.batch")


def per_layer(tracer, passes) -> tuple[dict, int]:
    """Per-pass totals of every layer, as the median over traced passes;
    and the number of operations whose span the self times account for."""
    from spans import subtree_self
    rows, accounted = [], 0
    mb = 1024.0 * 1024.0
    for p in (p for p in passes if p["traced"]):
        op_spans = [o["span"] for o in p["ops"]]
        phases = [s for op in op_spans for s in [op] + op.children]
        batch_spans = [tracer.place(f"{b['query']}#{b['batch']}", "streaming.batch",
                                    b["start"], b["end"], phases,
                                    input_rows=b["input_rows"])
                       for b in p["batches"]]
        # jobs outside every operation are the benchmark's own output checks
        in_ops = {j["jobId"] for j in p["jobs"]
                  if tracer.place(f"job{j['jobId']}", "spark.job", j["start"], j["end"],
                                  phases + [b for b in batch_spans if b is not None],
                                  job_id=j["jobId"]) is not None}
        tracer.settle(p["span"])

        r = dict.fromkeys(("suite.build_s", "suite.build_jobs", "driver.self_s",
                           "execute.exec_s", "execute.jobs", "etl.batch_etl_s",
                           "etl.reconcile_s"), 0.0)
        for o, op in zip(p["ops"], op_spans):
            busy = [d for d in descendants(op) if d.layer in BUSY_LAYERS]
            r["driver.self_s"] += (op.end - op.start) - union_s(busy)
            for c in op.children:
                jobs = sum(1 for d in descendants(c) if d.layer == "spark.job")
                if c.layer == "suite.build":
                    r["suite.build_s"] += c.end - c.start
                    r["suite.build_jobs"] += jobs
                elif c.layer == "execute":
                    r["execute.exec_s"] += c.end - c.start
                    r["execute.jobs"] += jobs
                elif c.layer.startswith("etl."):
                    r[f"{c.layer}_s"] += c.end - c.start
            accounted += abs(subtree_self(op) - (op.end - op.start)) < 1e-6
            for k, v in o.get("catalyst", {}).items():
                r[f"catalyst.{k}_s"] = r.get(f"catalyst.{k}_s", 0.0) + v
        for k in ("analysis", "optimization", "planning"):
            r.setdefault(f"catalyst.{k}_s", 0.0)

        st = [s for s in p["stages"] if s["jobId"] in in_ops]
        run_s = sum(s["executorRunTime"] for s in st) / 1e3
        cpu_s = sum(s["executorCpuTime"] for s in st) / 1e9
        r.update({
            "spark.stages": sum(1 for s in st if s["status"] == "COMPLETE"),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": cpu_s,
            "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "spark.cpu_ratio": cpu_s / run_s if run_s else 0.0,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / mb,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / mb,
            "spark.input_mb": sum(s["inputBytes"] for s in st) / mb,
            "spark.output_mb": sum(s["outputBytes"] for s in st) / mb,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in st) / mb,
        })
        b = p["batches"]
        trigger_s = sum(x["trigger_s"] for x in b)
        rows_in = sum(x["input_rows"] for x in b)
        final = {x["run_id"]: x for x in b}  # state after each query's last batch
        r.update({
            "streaming.batches": len(b),
            "streaming.input_rows": rows_in,
            "streaming.events_per_s": rows_in / trigger_s if trigger_s else 0.0,
            "streaming.trigger_s": trigger_s,
            "streaming.add_batch_s": sum(x["add_batch_s"] for x in b),
            "streaming.state_commit_s": sum(x["state_commit_s"] for x in b),
            "streaming.state_rows": sum(x["state_rows"] for x in final.values()),
            "streaming.state_mb": sum(x["state_bytes"] for x in final.values()) / mb,
            "fs.tmp_left_mb": sum(o["tmp_left_bytes"] for o in p["ops"]) / mb,
        })
        rows.append(r)

    def unit(k):
        if k.endswith(("jobs", "stages", "batches", "rows")):
            return "count"
        if k.endswith("ratio"):
            return "ratio"
        if k.endswith("per_s"):
            return "rate"
        return "mb" if k.endswith("_mb") else "s"

    out = {k: metric(statistics.median(r[k] for r in rows), unit(k), len(rows))
           for k in rows[0]}
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    traced = [p["wall_s"] for p in passes if p["traced"]]
    out["trace.overhead_s"] = metric(
        statistics.median(traced) - statistics.median(untraced), "s", len(traced))
    return out, accounted


# --------------------------------------------------------------------- run

def git_head() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def run(args, work: str) -> tuple[dict, dict]:
    from ops import WORKLOADS
    import pyspark

    load_before = os.getloadavg()
    bench = Bench(args, work, WORKLOADS[args.workload])
    os.makedirs(bench.tmp, exist_ok=True)
    traced = bool(args.trace)
    setup_times = bench.setup(traced)
    warm = bench.warmup()
    tracer = listener = None
    if traced:
        from spans import ProgressListener, SparkRest, Tracer
        tracer, listener = Tracer(), ProgressListener()
        rest = SparkRest(bench.spark.sparkContext)
        bench.spark.streams.addListener(listener)
    try:
        reset_peak_rss(bench.spark)
        passes = bench.measure(traced, tracer)
        if traced:
            # give each traced pass the jobs and micro-batches that started
            # inside it; stages are matched to operations through their jobs
            jobs = rest.new_jobs()
            batches = listener.drain()
            stages = rest.stages({sid for j in jobs for sid in j["stageIds"]})
            job_of = {sid: j["jobId"] for j in jobs for sid in j["stageIds"]}
            for p in (p for p in passes if p["traced"]):
                lo, hi = p["span"].start, p["span"].end
                p["jobs"] = [j for j in jobs if lo <= j["start"] <= hi]
                p["batches"] = [b for b in batches if lo <= b["start"] <= hi]
                p["stages"] = [dict(s, jobId=job_of[s["stageId"]]) for s in stages]
    finally:
        if listener is not None:
            bench.spark.streams.removeListener(listener)

    e2e = end_to_end(bench, setup_times, passes)
    layers, accounted = per_layer(tracer, passes) if traced else ({}, 0)
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "master": MASTER,
        "cpus": os.cpu_count(), "spark": pyspark.__version__,
        "python": platform.python_version(), "git_head": git_head(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "setup_times_s": setup_times, "warmup_pass_s": warm,
        "pass_wall_s": [round(p["wall_s"], 4) for p in passes],
        "harness_s": round(bench.harness_s, 3),
        "tmp_left_mb": bench.tmp_left_bytes / (1024.0 * 1024.0),
        "op_median_s": {n: round(statistics.median(
            o["latency_s"] for p in passes for o in p["ops"] if o["name"] == n), 4)
            for n in bench.ops},
        "attempted": bench.attempted, "failed": bench.failed,
        "errors": bench.errors[:20],
    }
    if traced:
        out = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out, exist_ok=True)
        span_file = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(span_file, {"meta": meta, "metrics": layers})
        meta["span_file"] = os.path.relpath(span_file, ROOT)
        meta["self_time_s"] = tracer.self_table()
        meta["ops_traced"] = sum(len(p["ops"]) for p in passes if p["traced"])
        meta["ops_accounted"] = accounted
    return {"end_to_end": e2e, "per_layer": layers}, meta


def stop_spark() -> None:
    """Stop the session, then the JVM (and with it the Python workers it
    forked), and wait for the JVM to exit. The next session launches a
    new JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", help="scale of perfbench/data/sf<SF>")
    ap.add_argument("--digests", default=os.path.join(HERE, "digests.json"))
    # The first pass in a JVM runs 2.5-3x slower than later ones (class
    # loading, code generation, the JIT, Python worker start); see NOTES.md.
    ap.add_argument("--warmup", type=int, default=1, help="untimed warm-up passes")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "zoom_etl_spark")):
        print("zoom_etl_spark not found: run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from ops import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    # Everything the program writes stays in the checkout: Python tempfile
    # users, Python workers and the JVM inherit this scratch directory.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        report, meta = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report, "meta": meta}))
    shown = report["per_layer"] if args.trace else {
        k: report["end_to_end"][k] for k in HEADLINE}
    result = {
        "correct": meta["failed"] == 0,
        "attempted": meta["attempted"],
        "failed": meta["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in shown.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
