"""Basket-engine benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout of this repository, on ``local[4]``.
Each call starts after the previous one has finished. A run:

1. sets up: process start to a ready session (``session.get_spark`` plus
   one trivial action), measured as ``setup_s``;
2. makes the workload's inputs and expected outputs (untimed);
3. runs one cold pass, then ``WARMUP_PASSES`` warm-up passes and steady
   passes for ``--seconds`` in all (and at least ``MIN_STEADY_PASSES``
   steady passes), checking every call's output after the pass, outside
   its timing;
4. with ``--trace 1``, restarts the SparkContext with the UI on and runs
   the same passes again with spans and per-call job groups read back
   from the status REST API, and reports the per-layer metrics.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics traced). Everything the run writes stays under ``.perfbench/``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from importlib import import_module  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "probability_of_buying_two_products_together_hadoop_project_spark"
CPUS = 4
WARMUP_PASSES = 1  # the JIT is still compiling the engine's paths after the cold pass
MIN_STEADY_PASSES = 3
MIN_TRACED_PASSES = 2
TAIL_BEYOND = 10


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def check_checkout() -> None:
    """Exit non-zero, printing no result, outside a full checkout."""
    needed = [os.path.join(ROOT, PKG, "session.py"), os.path.join(ROOT, "tools", "oracle_check.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        sys.exit(2)


def configure_env(work: str) -> dict[str, str]:
    """Environment and Spark settings shared by every session of a run;
    temporary files go under ``work`` so the run writes only there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # A 1 GB heap, not the engine's 8 GB default: with 8 GB the collector
    # grew the heap by different amounts in runs of the same work, and peak
    # RSS varied by up to 50%. The heap is not pre-touched, so RSS still
    # follows the heap the run really uses.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # no hsperfdata files under /tmp, for the launcher JVM and the gateway JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Python workers (Arrow kernels, UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed young generation: the collector's adaptive young sizing
        # otherwise moved peak heap by up to 40% between runs of the same work
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn256m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
    }


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest order statistic with at least
    ``TAIL_BEYOND`` samples above it, and the percentile it sits at. Below
    ``2 * TAIL_BEYOND + 1`` samples that statistic would sit under the
    median, so the tail is the slowest sample instead."""
    s = sorted(samples)
    if len(s) <= 2 * TAIL_BEYOND:
        return s[-1], 100.0
    k = len(s) - TAIL_BEYOND  # 1-based rank of the tail sample
    return s[k - 1], 100.0 * k / len(s)


class Runner:
    """Closed-loop pass loop for one workload on one session."""

    def __init__(self, wl, ctx, spark, tracer, rng):
        self.wl, self.ctx, self.spark, self.tracer, self.rng = wl, ctx, spark, tracer, rng
        self.calls = wl.calls(ctx)
        self.records: list[dict] = []  # one per query call
        self.passes: list[dict] = []
        self.pin_builders = import_module(f"{PKG}.registry").shared_evidence_builders()
        self.basket = import_module(f"{PKG}.operators.basket")
        self.engine_io = import_module(f"{PKG}.sources.io")
        self.jvm_pid = jvm_pid(spark)

    def _group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid, False)

    def run_pass(self, phase: str, explain: bool = False) -> dict:
        tr, ctx = self.tracer, self.ctx
        tag = f"{phase}{len(self.passes)}"
        order = list(self.calls)
        self.rng.shuffle(order)
        rec = {"tag": tag, "phase": phase, "groups": [], "calls": []}
        done = []  # (call record, call, DataFrame, output), checked after the pass
        cpu0 = cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        with tr.span("pass", tag=tag) as ps:
            if tr.enabled:
                for table in self.wl.tables or ["text"]:
                    with tr.span("open", table=table):
                        self.open(table)
            for pin in self.wl.pins:
                gid = f"{tag}:pin:{pin}"
                rec["groups"].append(gid)
                self._group(gid)
                with tr.span("pin_build", pin=pin):
                    self.pin_builders[pin](self.spark, ctx.tables_dir)
            for call in order:
                done.append(self.run_call(call, tag))
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = cpu_s(self.jvm_pid) - cpu0
        rec["span"] = ps["id"] if ps else None
        self.spark.sparkContext.setJobGroup("", "", False)
        for c, call, df, out in done:
            self.check(c, call, df, out, explain)
            rec["calls"].append(c)
        self.passes.append(rec)
        return rec

    def open(self, table: str):
        if table == "text":
            return self.basket.read_baskets_text(self.spark, self.ctx.text_path)
        return self.engine_io.read_parquet(
            self.spark, os.path.join(self.ctx.tables_dir, f"{table}.parquet")
        )

    def run_call(self, call, tag: str):
        """Time one call: (record, call, DataFrame, output). A call that
        raises leaves its error in the record and None as its output."""
        tr = self.tracer
        gid = f"{tag}:{call.name}"
        rec = {"name": call.name, "kind": call.kind, "group": gid, "pass": tag, "error": None}
        df, out = None, None
        t0 = time.perf_counter()
        try:
            with tr.span("call", query=call.name):
                self._group(f"{gid}/build")
                with tr.span("build"):
                    df = call.build(self.spark)
                if tr.enabled:
                    self._group(f"{gid}/plan")
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                self._group(f"{gid}/{call.kind}")
                with tr.span(call.kind):
                    out = call.action(df)
        except Exception as e:  # noqa: BLE001 (a failed call is counted, not fatal)
            rec["error"] = _reason(e)
            traceback.print_exc()
        rec["wall"] = time.perf_counter() - t0
        return rec, call, df, out

    def check(self, rec: dict, call, df, out, explain: bool) -> None:
        """Check a finished call's output, untimed; with ``explain``, also
        count the exchanges of its physical plan."""
        try:
            if rec["error"] is None:
                rec["error"] = call.check(out)
                if explain:
                    explain_mod = import_module(f"{PKG}.plans.explain")
                    rec["exchanges"] = explain_mod.count_exchanges(df)
                    rec["unbounded_1p"] = len(explain_mod.unbounded_single_partition_exchanges(df))
                if call.kind == "sink":
                    rec["sink_rows"] = sum(sum(1 for _ in open(p)) for p in out)
        except Exception as e:  # noqa: BLE001
            rec["error"] = _reason(e)
            traceback.print_exc()
        if rec["error"]:
            print(f"perfbench: {call.name} failed in {rec['pass']}: {rec['error']}", file=sys.stderr)
        self.records.append(rec)

    def steady(self, phase: str, seconds: float, min_passes: int, warmup: int = 0) -> list[dict]:
        """``warmup`` passes, then steady passes until ``seconds`` have
        passed since the first of them and at least ``min_passes`` ran."""
        t_end = time.perf_counter() + seconds
        for _ in range(warmup):
            self.run_pass("warmup")
        out: list[dict] = []
        while len(out) < min_passes or time.perf_counter() < t_end:
            out.append(self.run_pass(phase))
        return out


def _reason(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]


def start_session(session_mod, conf: dict[str, str]):
    t0 = time.perf_counter()
    spark = session_mod.get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(10).count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the SparkContext and the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def cpu_s(jvm: int) -> float:
    """CPU seconds (user + system) used so far by this process, the driver
    JVM and the JVM's descendants (Python workers). Time the host takes
    from the virtual CPUs (steal) is not in it, unlike in wall time."""
    ticks, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process has ended
        fields = stat[stat.rindex(")") + 2:].split()  # fields 3.. of proc(5)
        ticks[int(d)] = int(fields[11]) + int(fields[12])  # utime + stime
        children.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [jvm]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def peak_rss_mb(spark) -> float:
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def heap_peak_mb(spark) -> float:
    """Peak heap used since JVM start, summed over the heap's memory pools
    (each pool's own peak, so an upper bound of the heap's peak)."""
    jvm = spark._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in pools if p.getType() == heap) / 2**20


def layer_metrics(runner, tracer, stats, steady, warm, setup, extras, untraced_pass_s):
    """Per-layer metrics of the traced phase: per-pass totals, median over
    the traced steady passes, unless named otherwise in the README."""
    def per_pass(fn):
        return statistics.median([fn(p) for p in steady])

    def span_sum(p, name):
        return sum(s["end"] - s["start"] for s in spans_in(tracer, p) if s["name"] == name)

    registry_calls = bool(runner.wl.tables)

    def exec_stats(p):
        """Counters of a pass: summed over its calls and pin builds, with
        the skew of its most skewed call."""
        out = {}
        for groups in [call_groups(c) for c in p["calls"]] + [[g] for g in p["groups"]]:
            for k, v in stats.groups(groups).items():
                out[k] = max(out.get(k, 0), v) if k == "task_skew" else out.get(k, 0) + v
        return out

    ex = [exec_stats(p) for p in steady]
    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warm_s": setup["warm_s"],
        "sources.open_s": per_pass(lambda p: span_sum(p, "open")),
        "sources.input_bytes": extras["input_bytes"],
        "sources.input_rows": extras["input_rows"],
        "registry.build_s": per_pass(lambda p: span_sum(p, "build")) if registry_calls else 0.0,
        "registry.build_jobs": per_pass(
            lambda p: sum(stats.groups([f"{c['group']}/build"])["jobs"] for c in p["calls"])
        ) if registry_calls else 0,
        "registry.pin_build_s": span_sum(warm, "pin_build"),
        "plans.plan_s": per_pass(lambda p: span_sum(p, "plan")),
        "plans.exchanges": sum(c.get("exchanges", 0) for c in warm["calls"]),
        "plans.unbounded_1p": sum(c.get("unbounded_1p", 0) for c in warm["calls"]),
        "basket.pair_occurrences": extras["pair_occurrences"],
        "basket.distinct_pairs": extras["distinct_pairs"],
        "basket.combine_ratio": extras["combine_ratio"],
        "exec.driver_gap_s": per_pass(
            lambda p: sum(c["wall"] - stats.groups(call_groups(c))["job_s"] for c in p["calls"])
        ),
    }
    for k in (
        "jobs", "stages", "tasks", "job_s", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "shuffle_records", "spill_bytes", "failed_tasks", "task_skew",
    ):
        m[f"exec.{k}"] = statistics.median([e.get(k, 0) for e in ex])
    m["sink.write_s"] = per_pass(lambda p: span_sum(p, "sink"))
    m["sink.rows"] = per_pass(lambda p: sum(c.get("sink_rows", 0) for c in p["calls"]))
    m["sink.jobs"] = per_pass(
        lambda p: sum(
            stats.groups([f"{c['group']}/sink"])["jobs"] for c in p["calls"] if c["kind"] == "sink"
        )
    )
    traced_pass_s = per_pass(lambda p: p["wall"])
    m["trace.pass_s"] = traced_pass_s
    m["trace.untraced_pass_s"] = untraced_pass_s
    m["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    for name in ("pass", "open", "pin_build", "call", "build", "plan", "action", "sink"):
        m[f"self.{name}_s"] = per_pass(lambda p, n=name: self_time(tracer, p, n))
    return m


def call_groups(c: dict) -> list[str]:
    """The job groups of one query call: its build, plan and action or sink."""
    return [f"{c['group']}/{ph}" for ph in ("build", "plan", c["kind"])]


def spans_in(tracer, p) -> list[dict]:
    root = tracer.spans[p["span"]]
    return [s for s in tracer.spans if root["start"] <= s["start"] and s["end"] <= root["end"]]


def self_time(tracer, p, name: str) -> float:
    """Self time of the spans called ``name`` inside pass ``p``: their
    duration minus the part their child spans cover."""
    inside = spans_in(tracer, p)
    child: dict[int, float] = {}
    for s in inside:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return sum(
        s["end"] - s["start"] - child.get(s["id"], 0.0) for s in inside if s["name"] == name
    )


def traced_extras(runner, wl, ctx, spark) -> dict:
    """Once-per-run counts: input size and, on text baskets, the pair
    occurrences and distinct pairs (each counted in its own job group)."""
    out = {"pair_occurrences": 0, "distinct_pairs": 0, "combine_ratio": 0.0}
    if wl.tables:
        import pyarrow.parquet as pq

        paths = [os.path.join(ctx.tables_dir, f"{t}.parquet") for t in wl.tables]
        out["input_bytes"] = sum(os.path.getsize(p) for p in paths)
        out["input_rows"] = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        return out
    basket = runner.basket
    out["input_bytes"] = os.path.getsize(ctx.text_path)
    with open(ctx.text_path) as f:
        out["input_rows"] = sum(1 for _ in f)
    sc = spark.sparkContext
    sc.setJobGroup("extras:counts", "extras:counts", False)
    out["distinct_pairs"] = basket.cooccurrence_counts(runner.open("text")).count()
    sc.setJobGroup("extras:pairs", "extras:pairs", False)
    out["pair_occurrences"] = basket.basket_pairs(runner.open("text")).count()
    sc.setJobGroup("", "", False)
    return out


def main() -> None:
    args = parse_args()
    check_checkout()
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench")
    conf = configure_env(work)
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        sys.exit(2)
    wl = WORKLOADS[args.workload]

    # set-up: process start to a ready session
    session_mod = import_module(f"{PKG}.session")
    spark, get_spark_s, warm_s = start_session(session_mod, conf)
    setup = {"setup_s": time.perf_counter() - T0, "get_spark_s": get_spark_s, "warm_s": warm_s}

    ctx = Ctx(work=work, seed=args.seed)
    wl.prepare(ctx)
    t_prepared = time.perf_counter()
    run_id = uuid.uuid4().hex[:12]
    tracing = import_module("tracing")
    tracer = tracing.Tracer(run_id, enabled=False)
    runner = Runner(wl, ctx, spark, tracer, random.Random(args.seed))

    # a traced run splits --seconds between its untraced and traced phases
    seconds = args.seconds / 2 if args.trace else args.seconds
    min_passes = MIN_TRACED_PASSES if args.trace else MIN_STEADY_PASSES
    cold = runner.run_pass("cold")
    steady = runner.steady("steady", seconds, min_passes, WARMUP_PASSES)
    pass_s = statistics.median([p["wall"] for p in steady])
    samples = [c["wall"] for p in steady for c in p["calls"]]
    t_steady_end = time.perf_counter()

    layers = None
    if args.trace:
        spark.stop()
        spark, _, _ = start_session(
            session_mod,
            {
                **conf,
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
            },
        )
        runner.spark = spark
        tracer.enabled = True
        warm = runner.run_pass("traced", explain=True)
        t_steady = runner.steady("traced", seconds, MIN_TRACED_PASSES)
        extras = traced_extras(runner, wl, ctx, spark)
        stats = tracing.JobStats(spark.sparkContext.uiWebUrl)
        if extras["pair_occurrences"]:
            # text baskets need no shuffle to build, so every record the
            # counts job shuffles is a map-side-combined pair record
            combined = stats.groups(["extras:counts"])["shuffle_records"]
            extras["combine_ratio"] = combined / extras["pair_occurrences"]
        layers = layer_metrics(runner, tracer, stats, t_steady, warm, setup, extras, pass_s)
        layers["exec.heap_peak_mb"] = heap_peak_mb(spark)
        for rec in runner.records:
            if rec["pass"].startswith("traced"):
                rec["exec"] = stats.groups(call_groups(rec))
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        trace_path = os.path.join(work, "traces", f"{wl.name}-seed{args.seed}-{run_id}.json")
        tracer.write(trace_path, {"workload": wl.name, "seed": args.seed, "calls": runner.records,
                                  "metrics": layers})
        print(f"# spans written to {os.path.relpath(trace_path, ROOT)}")

    rss = peak_rss_mb(spark)
    stop_session(spark)
    for d in (f"text-seed{args.seed}", f"sink-seed{args.seed}", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if r["error"])
    tail_v, tail_p = tail(samples)
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "cold_pass_s": (cold["wall"], "s"),
        "pass_s": (pass_s, "s"),
        "pass_cpu_s": (statistics.median([p["cpu"] for p in steady]), "s"),
        "query_s_p50": (statistics.median(samples), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    print(f"# workload {wl.name} seed {args.seed}: {len(steady)} steady passes, "
          f"{len(samples)} timed query calls")
    print(f"# phases: set-up {setup['setup_s']:.1f} s, inputs {t_prepared - T0 - setup['setup_s']:.1f} s, "
          f"cold {cold['wall']:.1f} s, steady {t_steady_end - t_prepared - cold['wall']:.1f} s, "
          f"total {time.perf_counter() - T0:.1f} s")
    print("# warm-up, steady pass walls: "
          + " ".join(f"{p['wall']:.3f}" for p in runner.passes if p["phase"] == "warmup") + ", "
          + " ".join(f"{p['wall']:.3f}" for p in steady))
    for k, (v, u) in e2e.items():
        print(f"# {k} = {v:.4f} {u}")
    # printed, not in the result line: a run affords too few calls for a
    # percentile with 10 samples beyond it, and failed_frac is 0 when correct
    print(f"# query_s_tail = {tail_v:.4f} s (p{tail_p:.1f} of {len(samples)} calls)")
    print(f"# failed_frac = {failed / attempted:.4f} ({failed}/{attempted})")
    if layers is not None:
        for k, v in layers.items():
            print(f"# {k} = {v}")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
