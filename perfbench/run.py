"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
during set-up; the timed region then repeats the workload's session (a
fixed list of operations, one client, each waiting for the last) for
``--seconds``; every operation's output is checked afterwards. The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` times a traced,
an untraced and a traced session and reports the per-layer metrics of the
first, printing its self-time table first. See NOTES.md for what each
metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from typing import Dict, List

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3


class RssSampler:
    """Resident memory of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every 100 ms."""

    def __init__(self):
        self.samples: List[tuple] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * self._page
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for child, pp in parent.items():
                if pp == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        return sum(rss.get(p, 0) for p in tree)

    def _run(self):
        while not self._stop.wait(0.1):
            self.samples.append((time.perf_counter(), self._sample()))

    def start(self):
        self._thread.start()

    def stop(self):
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()

    def median_between(self, t0: float, t1: float) -> float:
        return median([r for t, r in self.samples if t0 <= t <= t1])


def start_spark(work: str, trace_on: bool):
    from pyspark.sql import SparkSession
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", cpus)
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    if trace_on:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir",
                     "file:" + os.path.join(work, "events")))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def warm_up(spark) -> None:
    """One tiny secure release: starts the Python workers and imports the
    package in them, so the first timed operation does not pay for it."""
    import pipelinedp_spark as pdp
    acc = pdp.NaiveBudgetAccountant(1.0)
    res = pdp.DPEngine(acc).aggregate(
        spark.range(64).selectExpr("id % 8 AS pid", "id % 4 AS pk"),
        pdp.AggregateParams(metrics=[pdp.Metrics.COUNT],
                            max_partitions_contributed=1,
                            max_contributions_per_partition=1),
        pdp.DataFrameExtractors("pid", "pk"), public_partitions=[0, 1, 2, 3])
    acc.compute_budgets()
    res.dataframe().collect()


def median(xs: List[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs: List[float]) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def run(args) -> dict:
    from perfbench import inputs as gen
    from perfbench import trace
    from perfbench import workloads

    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # The launcher JVM that spark-submit starts first writes perf data to
    # /tmp unless told not to.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    trace_on = bool(args.trace)
    rec = trace.Recorder(False)
    rss = RssSampler()
    spark = None
    try:
        rss.start()
        # -- set-up, several times; the median is setup_s ----------
        setup_times = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_spark(work, trace_on)
            inputs = gen.generate(args.workload, args.seed,
                                  os.path.join(work, "inputs"))
            ctx = workloads.Ctx(spark, rec, inputs, work)
            wl.load(ctx)
            for df in ctx.tables.values():
                df.count()
            setup_times.append(time.perf_counter() - t0)
        phases = {"setup": sum(setup_times)}
        t_phase = time.perf_counter()
        sc = spark.sparkContext
        sc.setJobGroup("warmup", "warmup")
        warm_up(spark)

        # -- timed region ------------------------------------------
        results, latencies, sessions = [], [], []
        op_ids: List[str] = []
        gc: Dict[str, float] = {}
        raised: Dict[int, str] = {}
        t_start = time.perf_counter()
        phases["warmup"] = t_start - t_phase
        n = 0
        # A traced run times three sessions: traced (the state the
        # untraced runs measure, and the one the per-layer metrics
        # describe), then untraced and traced again, whose difference is
        # the tracing overhead.
        while (n < (3 if trace_on else 1)
               or time.perf_counter() - t_start < args.seconds):
            traced = trace_on and n != 1
            rec.enabled = traced
            s0 = time.perf_counter()
            ops_in_session = []
            for kind in wl.session:
                op_id = f"op{len(results):04d}"
                ctx.op_id = op_id
                sc.setJobGroup(op_id, op_id)
                if traced:
                    with rec.span("trace.gc", op=op_id):
                        gc0 = trace.jvm_gc_s(sc)
                t0 = time.perf_counter()
                try:
                    with rec.span("op", op=op_id):
                        res = wl.run_op(ctx, kind)
                except Exception as e:  # a failed op counts as failed
                    traceback.print_exc()
                    raised[len(results)] = f"{kind}: raised {e!r}"
                    res = workloads.OpResult(kind, 0)
                latencies.append(time.perf_counter() - t0)
                if traced:
                    with rec.span("trace.gc", op=op_id):
                        gc[op_id] = trace.jvm_gc_s(sc) - gc0
                results.append(res)
                op_ids.append(op_id)
                ops_in_session.append(op_id)
            wall = time.perf_counter() - s0
            sessions.append({"wall": wall, "traced": traced,
                             "ops": ops_in_session,
                             "rows": sum(r.rows_in for r in
                                         results[-len(wl.session):])})
            n += 1
        rec.enabled = False
        t_end = time.perf_counter()
        phases["timed"] = t_end - t_start
        rss.stop()
        t_phase = time.perf_counter()

        # -- correctness, outside the timed region -----------------
        sc.setJobGroup("check", "check")
        try:
            errors = wl.check(ctx, results)
        except Exception:  # a check that cannot run fails every op
            traceback.print_exc()
            errors = {i: "check raised" for i in range(len(results))}
        errors.update(raised)
        for i, e in sorted(errors.items()):
            print(f"FAILED {op_ids[i]} {e}", file=sys.stderr)
        ctx.close()
        wl.reset(ctx)
        phases["check"] = time.perf_counter() - t_phase
        stop_spark(spark)
        spark = None
        print("# phases " + " ".join(f"{k}={v:.1f}s" for k, v in
                                     phases.items()), flush=True)
        by_kind: Dict[str, List[float]] = {}
        for r, lat in zip(results, latencies):
            by_kind.setdefault(r.kind, []).append(lat)
        print("# op latency medians " + " ".join(
            f"{k}={median(v):.2f}s" for k, v in by_kind.items()), flush=True)
        metrics = end_to_end(setup_times, sessions, latencies,
                             rss.median_between(t_start, t_end))
        if trace_on:
            metrics = per_layer(args, wl, ctx, rec, results, op_ids,
                                sessions, gc, work)
        return {"correct": not errors, "attempted": len(results),
                "failed": len(errors), "metrics": metrics}
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass


def end_to_end(setup_times, sessions, latencies, rss) -> dict:
    walls = [s["wall"] for s in sessions if not s["traced"]]
    rows = [s["rows"] / s["wall"] for s in sessions if not s["traced"]]
    print(f"# {len(sessions)} sessions, {len(latencies)} ops; "
          f"set-ups {[round(t, 3) for t in setup_times]}", flush=True)
    return {
        "setup_s": {"value": median(setup_times), "unit": "s"},
        "wall_s": {"value": median(walls), "unit": "s"},
        "op_p50_s": {"value": median(latencies), "unit": "s"},
        "rows_per_s": {"value": median(rows), "unit": "1/s"},
        "rss_mb": {"value": rss / 2**20, "unit": "MB"},
    }


def per_layer(args, wl, ctx, rec, results, op_ids, sessions, gc,
              work) -> dict:
    from perfbench import trace
    traced_ops = set(sessions[0]["ops"])
    wall = sessions[0]["wall"]
    os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
    rec.dump(os.path.join(ROOT, ".bench_traces",
                          f"{args.workload}-seed{args.seed}.jsonl"))
    for line in trace.self_time_report(rec, traced_ops, wall):
        print(line, flush=True)
    st = rec.self_times(traced_ops)
    unattributed = wall - sum(st.values())

    def per_op(name):
        vals = rec.per_op(name)
        return median([v for o, v in vals.items() if o in traced_ops])

    groups = trace.task_metrics_per_group(os.path.join(work, "events"))
    jobs = trace.jobs_per_description(ROOT, os.path.join(work, "events"))
    kind_of = dict(zip(op_ids, (r.kind for r in results)))
    ops = sorted(traced_ops)
    tasks = [groups.get(o, trace.TaskTotals()) for o in ops]

    def task_mean(attr):
        return mean([getattr(t, attr) for t in tasks])

    specs = [len(r.spend[2]) for o, r in zip(op_ids, results)
             if o in traced_ops and r.spend]
    py = [ctx.python[o] for o in ops if o in ctx.python]
    store_ops = [o for o in ops if kind_of[o].startswith(("nd_", "ann_"))]
    analysis_ops = [o for o in ops if kind_of[o] in
                    ("histograms", "tune", "utility")]
    released, candidates = wl.selection_counts(
        [r for o, r in zip(op_ids, results) if o in traced_ops])
    bound = wl.bounder_metrics()
    store_io = [wl.store_io.get(o, (0, 0)) for o in store_ops]
    out = {
        "dp_engine.aggregate_s": (per_op("dp_engine.aggregate"), "s"),
        "dp_engine.finalize_s": (per_op("dp_engine.finalize"), "s"),
        "accounting.compute_budgets_s": (
            per_op("accounting.compute_budgets"), "s"),
        "accounting.mechanisms": (mean(specs), "count"),
        "spark.plan_s": (per_op("spark.plan"), "s"),
        "spark.jobs": (mean([jobs.get(o, {}).get("jobs", 0) for o in ops]),
                       "count"),
        "spark.stages": (task_mean("stages"), "count"),
        "spark.tasks": (task_mean("tasks"), "count"),
        "spark.task_cpu_s": (task_mean("cpu_s"), "s"),
        "spark.task_run_s": (task_mean("run_s"), "s"),
        "spark.gc_s": (mean([gc[o] for o in ops if o in gc]), "s"),
        "spark.shuffle_write_bytes": (task_mean("shuffle_write_bytes"),
                                      "bytes"),
        "spark.shuffle_read_bytes": (task_mean("shuffle_read_bytes"),
                                     "bytes"),
        "spark.spill_bytes": (task_mean("spill_bytes"), "bytes"),
        "contribution_bounders.s": (bound["s"], "s"),
        "contribution_bounders.rows_kept_ratio": (bound["kept"], "ratio"),
        "noise.python_s": (median([p["python_s"] for p in py]), "s"),
        "noise.python_init_s": (median([p["python_init_s"] for p in py]),
                                "s"),
        "noise.rows_to_python": (mean([p["rows_to_python"] for p in py]),
                                 "count"),
        "partition_selection.kept_ratio": (
            released / candidates if candidates else 1.0, "ratio"),
        "analysis.jobs": (mean([jobs.get(o, {}).get("jobs", 0)
                                for o in analysis_ops]), "count"),
        "store.jobs": (mean([jobs.get(o, {}).get("jobs", 0)
                             for o in store_ops]), "count"),
        "store.bytes_written": (sum(b for b, _ in store_io), "bytes"),
        "store.files_written": (sum(f for _, f in store_io), "count"),
        "trace.overhead_s": (sessions[2]["wall"] - sessions[1]["wall"], "s"),
        "trace.unattributed_s": (unattributed, "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pipelinedp_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
