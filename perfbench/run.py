"""The repository benchmark: one closed-loop client driving kgw_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload build_fused --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

One driver process starts one local-mode SparkSession at
``local[<cores>]`` (half the host's CPUs) and runs one unit of work after
another (closed loop, one client) for ``--seconds``; each unit is
followed by its correctness gates, and the last one by the workload's
resume. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same loop with the Spark UI REST enabled, spans
around every call into ``kgw_spark``, and layer probes, and prints the
per-layer metrics. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code
is non-zero when any gate failed or the run left files behind.

``--smoke`` runs every workload once per trace mode at tiny sizes and
checks that every metric named in ``BENCHMARK.json`` is printed with
its unit.

Everything the run writes lives under ``.bench_out/`` in the
repository root: a scratch directory that is removed at exit, and the
spans file of traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")

# Per-workload input sizes. "full" is what the timed runs use on the
# reference host (4 cores, 15 GB); "smoke" only has to exercise every
# code path.
SIZES = {
    "full": {
        "build_fused": {"files": 1000, "call_lines": 100, "funcs": 400},
        "graph_analytics": {"sf": 0.001},
    },
    "smoke": {
        "build_fused": {"files": 100, "call_lines": 10, "funcs": 40},
        "graph_analytics": {"sf": 0.0005},
    },
}
# input generation and load is repeated this many times per run;
# setup_s counts the median
SETUP_REPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "triples_per_s": "triples/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit (the traced run's output)."""
    from perfbench.workloads import ANALYTICS_QUERIES, EXPORTS

    u = {
        "session.start_s": "s",
        "session.worker_warm_s": "s",
        "session.jit_warm_s": "s",
        "sources.scan_s": "s",
        "sources.scan_mb": "MB",
        "sources.kg_views_s": "s",
        "extract.s": "s",
        "extract.mentions": "count",
        "extract.py_cpu_s": "s",
        "extract.jvm_cpu_s": "s",
        "link.salted_s": "s",
        "link.shuffle_mb": "MB",
        "canon.compose_s": "s",
        "canon.canonicalize_s": "s",
        "graph.edges_s": "s",
        "graph.nodes_s": "s",
        "graph.shuffle_mb": "MB",
        "store.write_s": "s",
        "store.read_s": "s",
        "store.write_mb": "MB",
        "store.bytes_per_triple": "B/triple",
        "store.commits": "count",
        "pipeline.jobs": "count",
        "pipeline.tasks": "count",
        "pipeline.serial_s": "s",
        "pipeline.resume_s": "s",
    }
    for q in ANALYTICS_QUERIES:
        u[f"analytics.{q[3:]}_s"] = "s"
    for q in ("pagerank", "label_prop", "kcore", "k_hop", "connected_components"):
        u[f"analytics.{q}_jobs"] = "count"
    for e in EXPORTS:
        u[f"export.{e}_s"] = "s"
    u["export.out_mb"] = "MB"
    u.update(
        {
            "spark.executor_cpu_s": "s",
            "spark.gc_s": "s",
            "spark.shuffle_write_mb": "MB",
            "spark.spill_mb": "MB",
            "spark.failed_tasks": "count",
            "trace.run_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return u


def tree_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file in the checkout outside ``.bench_out``
    and ``.git``: a run must leave this unchanged."""
    snap = {}
    for dirpath, dirs, files in os.walk(root):
        if dirpath == root:
            dirs[:] = [d for d in dirs if d not in (".bench_out", ".git")]
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def host_fit_env(work: str) -> None:
    """Everything Spark, the JVM and Python write goes under ``work``;
    the Python workers import kgw_spark from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # one compute thread per Python process: the task slots are the
    # parallelism
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    # the spark-submit launcher JVM: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def task_slots() -> int:
    """Half the host's CPUs: the other half runs what competes with the
    tasks for a CPU in local mode (the driver's planning thread, JIT
    compiler and GC threads, the benchmark's own Python), so a task
    waits less on the scheduler. On a 4-CPU host local[2] was as fast
    as local[4] on both workloads and its units spread less."""
    return max(1, (os.cpu_count() or 2) // 2)


def driver_heap_gb() -> int:
    """A quarter-ish of physical memory, 1-4 GB (3 GB on a 15 GB host)."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return max(1, min(4, round(kb / 1e6 / 5)))


def start_session(cores: int, traced: bool, work: str):
    from kgw_spark.session import get_spark

    heap = driver_heap_gb()
    conf = {
        "spark.driver.memory": f"{heap}g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # a fixed, pre-touched heap: peak RSS moves with the Python
            # workers and off-heap memory, not with when G1 grew the heap
            f"-Xms{heap}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # JIT and GC threads sized to the task slots, not the host
            f"-XX:CICompilerCount=2 -XX:ParallelGCThreads={cores} -XX:ConcGCThreads=1 "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update(
            {
                "spark.port.maxRetries": "100",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
            }
        )
    return get_spark(
        cores=cores, app_name="perfbench", shuffle_partitions=cores, extra_conf=conf
    )


def _identity(batches):
    yield from batches


def warm_workers(spark, cores: int) -> None:
    """Fork one Python worker per task slot."""
    (
        spark.range(cores)
        .repartition(cores)
        .mapInPandas(_identity, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    import signal

    from perfbench.procstat import ProcTree

    sc = spark.sparkContext
    proc = sc._gateway.proc
    pids = ProcTree(proc.pid).descendants()
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = task_slots()
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.units: list[dict] = []
        self.setup_reps: list[float] = []
        self.self_times: dict[str, float] = {}
        self.steal = 0.0

    def count(self, st) -> None:
        """One gated operation attempted; failed if it left errors."""
        self.attempted += 1
        if st.errors:
            self.failed += 1
            self.errors.extend(st.errors)

    def unit(self, W, ctx, k: int, peak):
        """One unit of work, timed and gated."""
        import shutil

        from perfbench.procstat import steal_s
        from perfbench.workloads import State

        shutil.rmtree(ctx.unit_dir(k - 1), ignore_errors=True)
        rec = {"k": k, "traced": ctx.tracing}
        st = State()
        try:
            with ctx.span("unit") as span:
                s0, c0, t0 = steal_s(), ctx.tree.cpu(), time.perf_counter()
                with peak:
                    st = W.run_unit(ctx, k)
                rec["wall"] = time.perf_counter() - t0
                c1 = ctx.tree.cpu()
                rec["steal"] = steal_s() - s0
            rec["span"] = span.get("id")
            rec["cpu"] = (c1["jvm"] - c0["jvm"]) + (c1["py"] - c0["py"])
            rec["triples"] = st.triples
            rec["steps"] = st.steps
            W.check_unit(ctx, st)
        except Exception:
            st.errors.append(f"unit {k} raised:\n{traceback.format_exc()}")
        self.count(st)
        rec["ok"] = not st.errors
        return rec, st

    def resume(self, W, ctx, st, peak) -> float:
        """The workload's resume after the unit ``st``, timed and gated."""
        st.errors, wall = [], 0.0
        try:
            W.before_resume(ctx, st)
            with ctx.span("resume"):
                t0 = time.perf_counter()
                with peak:
                    W.run_resume(ctx, st)
                wall = time.perf_counter() - t0
            W.check_resume(ctx, st)
        except Exception:
            st.errors.append(f"resume raised:\n{traceback.format_exc()}")
        self.count(st)
        return wall

    def run(self) -> dict:
        from perfbench.procstat import PeakRss, ProcTree, steal_s
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, Context, State, median

        args, L = self.args, self.layer
        traced = bool(args.trace)
        W = WORKLOADS[args.workload]()

        t0 = time.perf_counter()
        spark = start_session(self.cores, traced, self.work)
        L["session.start_s"] = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            warm_workers(spark, self.cores)
            L["session.worker_warm_s"] = time.perf_counter() - t0
            run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
            tracer = Tracer(spark, run_id) if traced else None
            ctx = Context(spark, args.seed, self.work, self.cores, SIZES[args.size], tracer)
            if traced:
                import kgw_spark.api

                kgw_spark.api.TableStore = ctx.store_cls
            ctx.tree = ProcTree(spark.sparkContext._gateway.proc.pid)

            reps = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                W.prepare(ctx, rep)
                reps.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            W.build_views(ctx)
            L["sources.kg_views_s"] = time.perf_counter() - t0
            W.expect(ctx)

            # the JIT warm pass: whole units on the real inputs, gated
            # but not timed as units
            warm_peak = PeakRss(ctx.tree)
            L["session.jit_warm_s"] = 0.0
            for k in range(W.warm_units):
                rec, st = self.unit(W, ctx, k, warm_peak)
                L["session.jit_warm_s"] += rec.get("wall", 0.0)
            setup_s = (
                L["session.start_s"] + L["session.worker_warm_s"] + median(reps)
                + L["sources.kg_views_s"] + L["session.jit_warm_s"]
            )

            units, peak = [], PeakRss(ctx.tree)
            steal0 = steal_s()
            t_loop, k, last = time.perf_counter(), W.warm_units, None
            while True:
                # traced runs alternate bare and traced units so the
                # tracing overhead is measured within the run
                ctx.tracing = traced and k % 2 == 0
                rec, st = self.unit(W, ctx, k, peak)
                units.append(rec)
                if rec["ok"]:
                    last = st
                ctx.tracing = False
                # stop where the window ends nearest to --seconds: a
                # graph pass is a third of the window, so stopping before
                # the window could be overrun would waste a third of it
                spent = time.perf_counter() - t_loop
                it_wall = spent / len(units)
                kinds = {u["traced"] for u in units}
                if (not traced or len(kinds) == 2) and spent + it_wall / 2 > args.seconds:
                    break
                k += 1
            self.steal = steal_s() - steal0
            if W.has_resume and last is not None:
                ctx.tracing = traced
                L["pipeline.resume_s"] = self.resume(W, ctx, last, peak)
                ctx.tracing = False

            ok = [u for u in units if u["ok"]]
            if not traced:
                metrics = {"setup_s": setup_s, **W.summarize(ok), "peak_rss_mb": peak.peak_mb}
                units_of = E2E_UNITS
            else:
                gates = State()
                ctx.tracing = True
                try:
                    L.update(W.probes(ctx, last, gates))
                except Exception:
                    gates.errors.append(f"probes raised:\n{traceback.format_exc()}")
                finally:
                    ctx.tracing = False
                self.count(gates)
                self.traced_layers(spark, tracer, units)
                os.makedirs(OUT, exist_ok=True)
                tracer.dump(os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.json"))
                self.self_times = tracer.self_times()
                units_of = per_layer_units()
                metrics = {k: float(L.get(k, 0.0)) for k in units_of}
            self.units, self.setup_reps = units, reps
            return {k: {"value": float(v), "unit": units_of[k]} for k, v in metrics.items()}
        finally:
            stop_session(spark)

    def traced_layers(self, spark, tracer, units) -> None:
        """Per-layer metrics of the traced units from spans and UI REST."""
        from perfbench.sparkrest import UiRest, active_seconds, stage_totals
        from perfbench.workloads import median

        L = self.layer
        spans = tracer.spans
        time.sleep(1.0)  # let the status listener catch up
        jobs, stages = UiRest(spark).snapshot()

        def by_name(root: int) -> dict[str, list[dict]]:
            out: dict[str, list[dict]] = {}
            for sid in sorted(tracer.subtree(root)):
                out.setdefault(spans[sid]["name"], []).append(spans[sid])
            return out

        def dur(s):
            return s["end"] - s["start"]

        per_unit: dict[str, list[float]] = {}

        def add(key, v):
            per_unit.setdefault(key, []).append(v)

        traced = [u for u in units if u["traced"] and u.get("span") is not None]
        for u in traced:
            root = spans[u["span"]]
            named = by_name(u["span"])
            ujobs = tracer.jobs_in(u["span"], jobs)
            add("pipeline.jobs", len(ujobs))
            tot = stage_totals(ujobs, stages)
            add("pipeline.tasks", tot["tasks"])
            add("pipeline.serial_s", dur(root) - active_seconds(ujobs, root["start"], root["end"]))
            add("spark.executor_cpu_s", tot["executor_cpu_ns"] / 1e9)
            add("spark.gc_s", tot["gc_ms"] / 1e3)
            add("spark.shuffle_write_mb", tot["shuffle_write_b"] / 1e6)
            add("spark.spill_mb", tot["spill_b"] / 1e6)
            add("spark.failed_tasks", tot["failed_tasks"])
            writes = [s for n, ss in named.items() if n.startswith("store.write:") for s in ss]
            reads = [s for n, ss in named.items() if n.startswith("store.read:") for s in ss]
            add("store.write_s", sum(dur(s) for s in writes))
            add("store.read_s", sum(dur(s) for s in reads))
            add("store.write_mb", sum(s.get("bytes", 0) for s in writes) / 1e6)
            add("store.commits", len(writes))
            for s in named.get("store.write:edges", []):
                if s.get("rows"):
                    add("store.bytes_per_triple", s["bytes"] / s["rows"])
            for n, ss in named.items():
                if n.startswith("analytics."):
                    q = n[len("analytics.kg_"):]
                    add(f"analytics.{q}_s", sum(dur(s) for s in ss))
                    add(f"analytics.{q}_jobs", sum(len(tracer.jobs_in(s["id"], jobs)) for s in ss))
            add("trace.run_s", u["wall"])
        for key, vs in per_unit.items():
            L.setdefault(key, median(vs))
        bare = [u["wall"] for u in units if not u["traced"] and u["ok"]]
        L["trace.overhead_s"] = L.get("trace.run_s", 0.0) - median(bare)

        # probe spans (outside the units): shuffle bytes of link and graph
        def probe_shuffle(*names):
            ids = [s["id"] for s in spans if s["name"] in names]
            js = [j for sid in ids for j in tracer.jobs_in(sid, jobs)]
            return stage_totals(js, stages)["shuffle_write_b"] / 1e6

        L["link.shuffle_mb"] = probe_shuffle("link.salted_s")
        L["graph.shuffle_mb"] = probe_shuffle("graph.edges_s", "graph.nodes_s")


def run_one(args) -> int:
    import shutil
    import signal

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "kgw_spark")):
        print(f"perfbench: no kgw_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    before = tree_snapshot(ROOT)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    host_fit_env(work)
    runner = Runner(args, work)
    try:
        res = runner.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(OUT)  # only when nothing else (spans files) is in it
        except OSError:
            pass
    after = tree_snapshot(ROOT)
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    if changed:
        runner.errors.append(f"the run changed files of the checkout: {changed[:20]}")
    for e in runner.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": runner.cores,
        "units": runner.units,
        "setup_reps_s": runner.setup_reps,
        "session_s": {k: v for k, v in runner.layer.items() if k.startswith("session.")},
        "failed_frac": {"value": runner.failed / max(1, runner.attempted), "unit": "ratio"},
        "resume_s": {"value": runner.layer.get("pipeline.resume_s", 0.0), "unit": "s"},
        # CPU time the hypervisor gave to other guests while this run's
        # vCPUs wanted to run, over the timed units (/proc/stat steal)
        "host_steal_s": round(runner.steal, 2),
    }
    if args.trace:
        summary["self_time_s"] = runner.self_times
    print("perfbench:", json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": not runner.errors,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": res,
            }
        )
    )
    return 0 if not runner.errors else 1


def smoke() -> int:
    """Every workload once per trace mode at smoke sizes; every metric
    of BENCHMARK.json must be printed with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "smoke",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                ok = p.returncode == 0 and res["correct"] and got == want[trace]
            except (IndexError, ValueError, KeyError):
                ok = False
            print(f"smoke {w['name']} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                bad += 1
                sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true", help="run every workload at smoke size")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
