"""The measured process of one benchmark run (started by perfbench/run.py).

Closed loop, one client thread: set up (import, session, one trivial job,
the workload's index builds), run one untimed warm-up pass with every
output checked, then a fixed number of timed passes: as many as fill
``--seconds`` at the workload's reference pass time
(workloads.REFERENCE_PASS_S), and at least MIN_TIMED_PASSES. Prints one
JSON result line on stdout, a summary of the run's report on stderr, and the
full report (per-operation layers and spans of a traced run) to ``--report``.

Usage: python3 perfbench/worker.py --workload W --seed N --seconds S
       --trace 0|1 --data DIR --work DIR --report FILE
"""

import time

T_START = time.time()  # set-up is timed from here, before the engine import

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import workloads  # noqa: E402
from stats import covered, gap, geomean, median, self_time, tail  # noqa: E402
from tracing import Tracer, catalyst_seconds, peak_rss_mb, read_jobs  # noqa: E402

OP_TIMEOUT_S = 60  # watchdog: cancel an operation's jobs after this long
MIN_TIMED_PASSES = 3  # the median of three ignores one disturbed pass


def parse_args():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--report", required=True)
    return ap.parse_args()


def release(spark) -> None:
    """Drop the blocks the previous operation pinned and the catalog cache,
    so each operation starts from the same block-manager state."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def dir_stats(roots, since: float | None = None) -> tuple[int, int]:
    """(files, bytes) under ``roots``, counted with os.walk; with ``since``,
    only files modified at or after that time."""
    files = nbytes = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                st = os.stat(os.path.join(d, n))
                if since is None or st.st_mtime >= since:
                    files += 1
                    nbytes += st.st_size
    return files, nbytes


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """Runs operations one at a time and keeps the failure count."""

    def __init__(self, spark, workload, tracer, write_roots: list[str]) -> None:
        self.spark, self.workload, self.tracer = spark, workload, tracer
        self.write_roots = write_roots
        self.n_ops = 0
        self.failed = 0
        self.problems: list[str] = []

    def run_op(self, op, check: bool, traced: bool) -> dict:
        """One operation under its own job group and a watchdog. Returns its
        wall time and, when traced, its layer record."""
        sc = self.spark.sparkContext
        self.n_ops += 1
        group = f"perfbench-op{self.n_ops}"
        sc.setJobGroup(group, op.name, interruptOnCancel=True)
        watchdog = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        watchdog.daemon = True
        watchdog.start()
        rec = {"op": op.name, "ok": True}
        catalyst = None
        try:
            with self.tracer.op_scope(self.n_ops, op.name) if traced else nullcontext():
                t0 = time.time()
                df = op.build()
                t1 = time.time()
                if traced:  # plans the QueryExecution that toPandas then runs
                    catalyst = catalyst_seconds(df)
                result = df.toPandas()
                t2 = time.time()
            rec.update(wall=t2 - t0, t=(t0, t1, t2))
            if check:
                problem = op.check(result)
                if problem:
                    rec["ok"] = False
                    self.problems.append(f"{op.name}: {problem}")
        except Exception as e:  # noqa: BLE001  (an operation failure is a measured outcome)
            rec["ok"] = False
            self.problems.append(f"{op.name}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        finally:
            watchdog.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if not rec["ok"]:
            self.failed += 1
        elif traced:
            rec.update(self.layers(group, rec["t"], catalyst))
        release(self.spark)
        return rec

    def layers(self, group: str, t, catalyst: float) -> dict:
        """Per-layer record of one traced operation from its job group and
        the spans recorded under it."""
        t0, t1, t2 = t
        jobs = read_jobs(self.spark, group)
        iv = [(j.start, j.end) for j in jobs]
        spans = [s for s in self.tracer.spans if s.op == self.n_ops and s.layer != "op"]
        by_layer = defaultdict(list)
        for s in spans:
            by_layer[s.layer].append(s)
        mat = [(s.start, s.end) for s in by_layer["materialize"]]
        writes = [s for s in by_layer["index_write"] if ".append_" not in s.name]
        appends = [s for s in by_layer["index_write"] if ".append_" in s.name]
        # commit tail: time inside an outermost write_/append_ call after the
        # last job it started has ended
        commit_tail = 0.0
        span_ids = {s.id for s in spans}
        for s in by_layer["index_write"]:
            if s.parent in span_ids or not s.name.split(".")[1].startswith(("write_", "append_")):
                continue
            ends = [j.end for j in jobs if s.start <= j.start <= s.end]
            if ends:
                commit_tail += max(0.0, s.end - max(ends))
        busy = covered(iv, t0, t2)
        files, nbytes = dir_stats(self.write_roots, since=t0)
        return {
            "construct_s": t1 - t0,
            "construct_jobs": sum(t0 <= j.start <= t1 for j in jobs),
            "catalyst_s": catalyst,
            "action_s": t2 - t1,
            "jobs": len(jobs),
            "job_busy_s": busy,
            "gap_s": gap(t0, t2, iv),
            "tasks": sum(j.tasks for j in jobs),
            "task_s": sum(j.task_s for j in jobs),
            "stage_tasks": [n for j in jobs for n in j.stage_tasks],
            "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
            "input_bytes": sum(j.input_bytes for j in jobs),
            "failed_tasks": sum(j.failed_tasks for j in jobs),
            "materialize_calls": len(mat),
            "materialize_s": covered(mat, t0, t2),
            "materialize_jobs": sum(any(a <= j.start <= b for a, b in mat) for j in jobs),
            "index_write_s": covered([(s.start, s.end) for s in writes], t0, t2),
            "index_append_s": covered([(s.start, s.end) for s in appends], t0, t2),
            "commit_tail_s": commit_tail,
            "index_search_s": covered([(s.start, s.end) for s in by_layer["index_read"]], t0, t2),
            "files_written": files,
            "bytes_written": nbytes,
            "stage_tasks_p50": median([n for j in jobs for n in j.stage_tasks] or [0]),
        }

    def run_pass(self, rng, check: bool, traced: bool) -> list[dict]:
        return [self.run_op(op, check, traced) for op in self.workload.pass_ops(rng)]


PASS_SUMS = (
    "construct_s", "construct_jobs", "catalyst_s", "action_s", "jobs", "job_busy_s",
    "gap_s", "tasks", "task_s", "shuffle_write_bytes", "failed_tasks",
    "materialize_calls", "materialize_s", "materialize_jobs", "index_write_s",
    "index_append_s", "commit_tail_s", "index_search_s", "files_written",
    "bytes_written", "input_bytes",
)


def pass_layers(recs: list[dict], cores: int) -> dict:
    """Per-pass layer totals from the operations' records."""
    out = {k: sum(r[k] for r in recs) for k in PASS_SUMS}
    stages = [n for r in recs for n in r["stage_tasks"]]
    out["stage_tasks_p50"] = median(stages) if stages else 0.0
    out["slot_util"] = out["task_s"] / (cores * out["job_busy_s"]) if out["job_busy_s"] else 0.0
    return out


def span_self_times(tracer) -> dict:
    """Total self time per span name over the traced passes: each span's
    duration minus the part its child spans cover."""
    children = defaultdict(list)
    for sp in tracer.spans:
        children[sp.parent].append((sp.start, sp.end))
    out = defaultdict(float)
    for sp in tracer.spans:
        if sp.op is not None:
            out[sp.name] += self_time((sp.start, sp.end), children[sp.id])
    return dict(out)


def latency_summary(values: list[float]) -> dict:
    t = tail(values)
    return {
        "p50_s": median(values) if values else None,
        "tail_pct": t[0] if t else None,
        "tail_s": t[1] if t else None,
        "n": len(values),
    }


def main() -> int:
    args = parse_args()

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()

    # --- set-up: engine import, session, one trivial job, index builds ---
    import sdc_spark.plans.all  # noqa: F401  (fills the registry)
    from sdc_spark.session import get_spark

    t_import = time.time()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
            "spark.local.dir": os.path.join(args.work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(args.work, 'tmp')}",
        },
    )
    t_session = time.time()
    spark.range(1).count()
    t_job = time.time()

    workloads.redirect_index_roots(os.path.join(args.work, "idx"))
    ctx = workloads.Context(spark, args.data)
    workload = workloads.make(args.workload, ctx)
    tracer = Tracer()
    if args.trace:
        tracer.install()
    try:
        workload.setup()
    finally:
        tracer.uninstall()
    t_ready = time.time()
    setup = {
        "setup_s": t_ready - T_START,
        "import_s": t_import - T_START,
        "session_start_s": t_session - t_import,
        "first_job_s": t_job - t_session,
        "index_build_s": t_ready - t_job,
    }

    runner = Runner(spark, workload, tracer,
                    [os.path.join(args.work, "idx"), os.path.join(args.work, "warehouse")])
    rng = np.random.default_rng(args.seed)

    # --- warm-up: one untimed pass with every output checked. It runs two
    # to three times as long as the passes after it (JIT, codegen).
    t_warm = time.time()
    runner.run_pass(rng, check=True, traced=False)
    setup["warm_up_s"] = time.time() - t_warm

    # --- timed passes: a fixed count, not a time limit, so every run of a
    # workload measures the same work and a slow phase of the host does not
    # cut a run down to fewer, earlier (slower) passes. A traced run adds as
    # many traced passes, in the order untraced, traced, traced, untraced,
    # ... so a drift in pass time cancels out of the tracing overhead.
    n_passes = max(MIN_TIMED_PASSES,
                   math.ceil(args.seconds / workloads.REFERENCE_PASS_S[args.workload]))
    # Each untraced pass also records the share of the host's CPU time the
    # hypervisor gave to other guests meanwhile: on a shared host a pass
    # runs up to twice as long when that share reaches 10-20%.
    passes = {False: [], True: []}
    stolen = []
    for i in range(n_passes * (1 + args.trace)):
        traced = bool(args.trace) and i % 4 in (1, 2)
        steal0, t0 = cpu_steal_s(), time.time()
        if traced:
            tracer.install()
        try:
            passes[traced].append(runner.run_pass(rng, check=False, traced=traced))
        finally:
            tracer.uninstall()
        if not traced:
            stolen.append((cpu_steal_s() - steal0) / (cores * (time.time() - t0)))

    ok_passes = {k: [p for p in v if all(r["ok"] for r in p)] for k, v in passes.items()}
    pass_s = [sum(r["wall"] for r in p) for p in ok_passes[False]]
    op_walls = defaultdict(list)
    for p in ok_passes[False]:
        for r in p:
            op_walls[r["op"]].append(r["wall"])
    index_files, index_bytes = dir_stats([os.path.join(args.work, "idx")])
    input_bytes = workload.input_bytes()
    jvm = spark.sparkContext._gateway.proc.pid
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "setup": setup,
        "timed_passes": len(passes[False]),
        "pass_s": pass_s,
        "pass_cpu_stolen_share": stolen,
        "op_wall_s": op_walls,
        "op_median_s": {k: median(v) for k, v in op_walls.items()},
        "latency": {k: latency_summary(v) for k, v in op_walls.items()},
        "index_bytes_per_input_byte": index_bytes / input_bytes if input_bytes else None,
        "index_files": index_files,
        "problems": runner.problems,
    }
    attempted, failed = runner.n_ops, runner.failed
    correct = failed == 0 and bool(pass_s)
    report["fail_ratio"] = failed / attempted

    if args.trace:
        traced_recs = ok_passes[True]
        per_pass = [pass_layers(p, cores) for p in traced_recs]
        layer = {k: median([p[k] for p in per_pass]) for k in per_pass[0]} if per_pass else {}
        traced_s = [sum(r["wall"] for r in p) for p in traced_recs]
        per_op = defaultdict(list)
        for p in traced_recs:
            for r in p:
                per_op[r["op"]].append(r)
        report["per_op_layers"] = {
            name: {k: median([r[k] for r in rs]) for k in PASS_SUMS + ("stage_tasks_p50",)}
            for name, rs in per_op.items()
        }
        report["per_pass_layers"] = layer
        # index_read's operations are one request each
        report["per_request"] = {
            name: {"jobs_per_request": v["jobs"], "input_bytes_per_request": v["input_bytes"]}
            for name, v in report["per_op_layers"].items()
            if name in workloads.INDEX_READ_REQUESTS
        }
        report["self_time_s"] = span_self_times(tracer)
        report["spans"] = tracer.dump()
        layer.update(
            import_s=setup["import_s"],
            session_start_s=setup["session_start_s"],
            driver_peak_rss_mb=peak_rss_mb([os.getpid(), jvm]),
            trace_overhead_s=(median(traced_s) - median(pass_s)) if traced_s and pass_s else None,
        )
        computed = layer
    else:
        computed = {
            "setup_s": setup["setup_s"],
            "pass_s": median(pass_s) if pass_s else None,
            "query_geomean_s": geomean([median(v) for v in op_walls.values()]) if op_walls else None,
        }
    # the metrics BENCHMARK.json declares for this kind of run, with its units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    metrics = {k: computed.get(k) for k in units}
    report["metrics"] = metrics

    with open(args.report, "w") as f:
        json.dump(report, f, indent=1, default=str)
    summary = {k: v for k, v in report.items() if k not in ("spans", "per_op_layers")}
    print(json.dumps(summary, default=str), file=sys.stderr)
    for p in runner.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)

    ctx.close()
    stop_spark(spark)
    if any(v is None for v in metrics.values()):
        correct = False
        metrics = {k: v for k, v in metrics.items() if v is not None}
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
