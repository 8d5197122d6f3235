"""tripleforge benchmark: bulk load, incremental append and SPARQL
serving, each a closed loop with one client.

    python3 kgbench/run.py --workload bulk_nt --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints one report line (every metric by
name with its unit, run metadata, failures), then the result line with
exactly the keys ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See kgbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up time is counted from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
SETUP_REPS = 3

END_TO_END = {  # name → unit; the gated set, reported by every workload
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_triple": "B",
}
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s",
    "spark.task_wait_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.shuffle_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "fingerprint.ms": "ms",
    "parse.kernel_ms": "ms",
    "parse.mixed_ms": "ms",
    "parse.rows_out": "count",
    "parse.error_rows": "count",
    "canon.ms": "ms",
    "link.cc_ms": "ms",
    "link.rewrite_ms": "ms",
    "link.edges": "count",
    "link.members": "count",
    "dedup.ms": "ms",
    "dedup.shuffle_mb": "MB",
    "dedup.keep_ratio": "1",
    "checkpoint.filter_pending_ms": "ms",
    "lineage.ms": "ms",
    "catalog.commit_ms": "ms",
    "catalog.commit_task_s": "s",
    "catalog.files_written": "count",
    "catalog.read_ms": "ms",
    "catalog.live_paths": "count",
    "sparql.compile_ms": "ms",
    "sparql.exec_ms": "ms",
    "sparql.rows_scanned_per_row": "1",
    "update.parse_ms": "ms",
    "update.commit_ms": "ms",
    "update.buckets_touched": "count",
    **{f"ladder.{r}_ms": "ms" for r in (
        "scan", "fingerprint", "parse", "canon", "split_graph", "link", "shape", "build")},
    "trace.untraced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.ladder_coverage": "1",
    "trace.span_coverage": "1",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("bulk_nt", "serve_mix"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="4g",
                    help="JVM heap of the local-mode driver (default 4g)")
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="make one expected answer wrong (smoke test of the checks)")
    ap.add_argument("--pin-digests", action="store_true",
                    help="rewrite kgbench/digests.json from the generators and exit")
    args = ap.parse_args(argv)
    if not args.pin_digests and not args.workload:
        ap.error("--workload is required")
    return args


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------
class Engine:
    """One JVM for the run; SparkContexts come and go inside it."""

    def __init__(self, work: str, driver_memory: str):
        self.work, self.driver_memory = work, driver_memory
        self.spark = None
        self.master = f"local[{nproc()}]"

    def start(self, event_log: str | None = None):
        from tripleforge.session import DEFAULT_CONFS, get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": self.driver_memory,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                DEFAULT_CONFS["spark.driver.extraJavaOptions"] + f" -Djava.io.tmpdir={tmp}",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("kgbench", master=self.master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# --------------------------------------------------------------------------
# measuring
# --------------------------------------------------------------------------
def window(cycles, seconds: float) -> tuple[list, float, dict]:
    """Run whole cycles of ops until ``seconds`` have passed (the cycle
    in flight completes). → (ops, window wall time, /proc stats)."""
    from kgbench import procstats
    from kgbench.workloads import timed

    ops = []
    stats = procstats.Window()
    t0 = time.perf_counter()
    for cycle in cycles:
        ops.extend(timed(op) for op in cycle)
        if time.perf_counter() - t0 >= seconds:
            break
    wall = time.perf_counter() - t0
    return ops, wall, stats.close()


def p50_by_kind(ops) -> dict[str, float]:
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kinds.setdefault(op.kind, []).append(op.latency_s * 1000)
    return {k: statistics.median(v) for k, v in kinds.items()}


def store_size(wl) -> tuple[int, int]:
    """→ (bytes on disk, live triples) of the workload's store."""
    from kgbench.expect import Store

    store = Store(wl.catalog.root)
    try:
        return store.bytes_on_disk(), store.count(wl.catalog.live_paths())
    finally:
        store.close()


def end_to_end(wl, ops, wall, stats, setup_s) -> dict[str, float]:
    p50 = p50_by_kind(ops)
    n = len(ops)
    size, live = store_size(wl)
    m = {
        "setup_s": setup_s,
        # per-kind medians, combined with equal weight: never a median
        # over a pool of op kinds with different latencies
        "op_p50_ms": statistics.geometric_mean(p50[k] for k in wl.op_kinds if k in p50),
        "ops_per_s": n / wall,
        "cpu_s_per_op": stats["cpu_s"] / n,
        "peak_rss_mb": stats["peak_rss_mb"],
        "store_bytes_per_triple": size / max(1, live),
    }
    # per-kind latencies and load throughput: reported, not gated (README)
    builds = [op for op in ops if op.kind == "build"]
    if builds:
        committed = sum(op.result[1].n_statements for op in builds if op.error is None)
        m["load_triples_per_s"] = committed / sum(op.latency_s for op in builds)
    for k, v in p50.items():
        m[f"{k}_p50_ms"] = v
    for op in wl.setup_ops:
        m[f"setup_{op.kind}_ms"] = 1000 * op.latency_s
    return m


UNITS_EXTRA = {"load_triples_per_s": "1/s", "failed_op_ratio": "1", "setup_append_ms": "ms", **{
    f"{k}_p50_ms": "ms" for k in ("build", "point", "agg", "join", "update")}}


def per_layer(wl, tracer, traced_ops, untraced_ops, groups, ladder_ms, counts) -> dict[str, float]:
    """The per-layer metrics of a traced run, 0 where a layer does not
    run in this workload."""
    from kgbench import tracing

    n = max(1, len(traced_ops))
    kinds = {i: op.kind for i, op in enumerate(traced_ops)}
    op_ids = set(map(str, kinds))
    m = {k: 0.0 for k in PER_LAYER}

    for key, metric in (("jobs", "spark.jobs_per_op"), ("tasks", "spark.tasks_per_op"),
                        ("task_s", "spark.task_s_per_op"), ("wait_s", "spark.task_wait_s_per_op"),
                        ("gc_s", "spark.gc_s_per_op"), ("shuffle_mb", "spark.shuffle_mb_per_op"),
                        ("spill_mb", "spark.spill_mb_per_op")):
        m[metric] = sum(g.get(key, 0) for name, g in groups.items()
                        if name.split("|")[0] in op_ids) / n

    spans = [s for s in tracer.spans if s.op in kinds]

    def span_ms(name, of_kinds):
        """Mean ms per op of the given kinds in spans called ``name``,
        not counting one nested in another of the same name."""
        ops_n = sum(1 for k in kinds.values() if k in of_kinds)
        tot = sum(s.ms for s in spans
                  if s.name == name and kinds[s.op] in of_kinds and s.parent != name)
        return tot / ops_n if ops_n else 0.0

    builds = ("build",)
    reads = ("point", "agg", "join")
    m["checkpoint.filter_pending_ms"] = span_ms("checkpoint.filter_pending", builds)
    m["link.cc_ms"] = span_ms("link.cc", builds)
    m["link.rewrite_ms"] = span_ms("link.rewrite", builds)
    m["lineage.ms"] = span_ms("lineage.write", builds)
    m["catalog.commit_ms"] = span_ms("catalog.commit", builds) - m["lineage.ms"]
    m["catalog.read_ms"] = span_ms("catalog.read", reads)
    m["sparql.compile_ms"] = span_ms("sparql.query", reads)
    m["sparql.exec_ms"] = span_ms("sparql.collect", reads)
    m["update.parse_ms"] = span_ms("update.parse", ("update",))
    m["update.commit_ms"] = span_ms("catalog.commit", ("update",))
    load_ops = [i for i, k in kinds.items() if k == "build"]
    if load_ops:
        m["catalog.commit_task_s"] = sum(
            groups.get(f"{i}|catalog.commit", {}).get("task_s", 0) for i in load_ops
        ) / len(load_ops)
        m["catalog.files_written"] = sum(
            f for op, _, f in tracer.commits if op in load_ops) / len(load_ops)
    upd = [b for op, b, _ in tracer.commits if kinds.get(op) == "update"]
    if upd:
        m["update.buckets_touched"] = sum(upd) / len(upd)
    points = [i for i, k in kinds.items() if k == "point"]
    rows = sum(len(traced_ops[i].result or []) for i in points)
    if rows:
        m["sparql.rows_scanned_per_row"] = sum(
            groups.get(f"{i}|sparql.collect", {}).get("records_read", 0) for i in points) / rows
    m["catalog.live_paths"] = len(wl.catalog.live_paths())

    # the untraced op the ladder's full build stands for: the timed
    # build, or the set-up append
    traced_p50, untraced_p50 = p50_by_kind(traced_ops), p50_by_kind(untraced_ops)
    ref_ms = untraced_p50.get("build") or p50_by_kind(wl.setup_ops)["append"]
    for rung, ms in ladder_ms.items():
        m[f"ladder.{rung}_ms"] = ms
    m["fingerprint.ms"] = ladder_ms["fingerprint"] - ladder_ms["scan"]
    parse = ladder_ms["parse"] - ladder_ms["fingerprint"]
    m["parse.kernel_ms" if wl.name == "bulk_nt" else "parse.mixed_ms"] = parse
    m["canon.ms"] = ladder_ms["canon"] - ladder_ms["parse"]
    m["dedup.ms"] = ladder_ms["shape"] - ladder_ms["link"]
    m["dedup.shuffle_mb"] = (groups.get("-1|ladder.shape", {}).get("shuffle_mb", 0)
                             - groups.get("-1|ladder.link", {}).get("shuffle_mb", 0)
                             ) / tracing.PREFIX_REPS
    m["dedup.keep_ratio"] = counts["shaped"] / max(1, counts["linked"])
    for key in ("rows_out", "error_rows"):
        m[f"parse.{key}"] = counts[key]
    for key in ("edges", "members"):
        m[f"link.{key}"] = counts[key]
    m["trace.ladder_coverage"] = ladder_ms["build"] / ref_ms
    # share of traced op time that the spans directly under the op cover
    top = sum(s.ms for s in spans if s.parent == "op")
    m["trace.span_coverage"] = top / sum(1000 * op.latency_s for op in traced_ops)

    both = [k for k in traced_p50 if k in untraced_p50]
    untraced = statistics.geometric_mean(untraced_p50[k] for k in both)
    m["trace.untraced_op_p50_ms"] = untraced
    m["trace.overhead_ms"] = statistics.geometric_mean(traced_p50[k] for k in both) - untraced
    return m


# --------------------------------------------------------------------------
def metadata(args, engine, stats, wall) -> dict:
    """Context for explaining a noisy run; not metrics."""
    return {
        "nproc": nproc(), "master": engine.master, "driver_memory": args.driver_memory,
        "steal_pct": stats["steal_pct"], "load1": stats["load1"],
        "git_commit": git_commit(), "seed": args.seed, "window_s": wall,
    }


def report(wl, ops, failed, metrics, units, meta) -> dict:
    return {
        "workload": wl.name,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "ops": {k: sum(o.kind == k for o in ops) for k in sorted({o.kind for o in ops})},
        "attempted": len(ops),
        "failed": failed,
        "failures": [o.error.strip().splitlines()[-1] for o in ops if o.error][:5],
        "meta": meta,
    }


def run(args, work: str) -> tuple[dict, dict]:
    """→ (report, the result line's metrics)."""
    from kgbench.workloads import WORKLOADS, check_all

    engine = Engine(work, args.driver_memory)
    wl = WORKLOADS[args.workload](args.seed, args.scale, work, args.corrupt)
    log_dir = os.path.join(work, "eventlog")
    try:
        setup = []
        for rep in range(SETUP_REPS):
            t0 = T_PROCESS if rep == 0 else time.time()
            # the traced run's last session, the one measured, logs events
            last = rep == SETUP_REPS - 1
            wl.spark = engine.start(event_log=log_dir if args.trace and last else None)
            wl.stage(rep)
            setup.append(time.time() - t0)
        t0 = time.time()
        wl.prepare()
        setup_s = statistics.median(setup) + time.time() - t0

        if args.trace:
            return traced(args, engine, wl, log_dir)
        ops, wall, stats = window(wl.cycles(), args.seconds)
        wl.after_window()
        failed = check_all(wl.setup_ops + ops)
        metrics = end_to_end(wl, ops, wall, stats, setup_s)
        metrics["failed_op_ratio"] = failed / (len(wl.setup_ops) + len(ops))
        meta = metadata(args, engine, stats, wall)
        meta["setup_reps_s"] = setup
        rep = report(wl, wl.setup_ops + ops, failed, metrics, {**END_TO_END, **UNITS_EXTRA}, meta)
        return rep, {k: metrics[k] for k in END_TO_END}
    finally:
        wl.close()
        engine.shutdown()


def traced(args, engine, wl, log_dir) -> tuple[dict, dict]:
    """The traced run: ``wl.trace_cycles`` whole cycles in which the
    occurrences of each op kind go untraced, traced, traced, untraced,
    so the JVM's warming falls evenly on both and cancels out of
    ``trace.overhead_ms``; then the layer ladder. The event log is on
    throughout, so the overhead is that of the spans and job groups;
    the event log's own cost is the gap between
    ``trace.untraced_op_p50_ms`` and a timed run's ``op_p50_ms``."""
    from kgbench import procstats, tracing
    from kgbench.workloads import check_all, timed

    tracer = tracing.Tracer(engine.spark.sparkContext)
    untraced_ops, ops = [], []
    stats = procstats.Window()
    t0 = time.perf_counter()
    seen: dict[str, int] = {}
    for _, cycle in zip(range(wl.trace_cycles), wl.cycles()):
        for op in cycle:
            seen[op.kind] = seen.get(op.kind, -1) + 1
            if seen[op.kind] % 4 in (0, 3):
                untraced_ops.append(timed(op))
                continue
            tracer.op = len(ops)
            wl.tracer = tracer
            with tracing.instrumented(tracer), tracer.span("op"):
                ops.append(timed(op))
            wl.tracer = None
    wall, stats = time.perf_counter() - t0, stats.close()
    wl.after_window()
    failed = check_all(wl.setup_ops + untraced_ops + ops)
    corpus, catalog = wl.ladder_input()
    ladder_ms, counts = tracing.ladder(engine.spark, corpus, catalog, tracer)
    engine.spark.stop()  # completes the event log
    engine.spark = None
    groups = tracing.event_log_groups(log_dir)
    metrics = per_layer(wl, tracer, ops, untraced_ops, groups, ladder_ms, counts)
    rep = report(wl, wl.setup_ops + untraced_ops + ops, failed, metrics, PER_LAYER,
                 metadata(args, engine, stats, wall))
    rep["ladder_ms"] = ladder_ms
    return rep, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import tripleforge  # noqa: F401
        from tests import oracle_rdf  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    if args.pin_digests:
        from kgbench import inputs

        inputs.pin_all()
        return 0
    work = os.path.join(ROOT, ".kgbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import tripleforge from this checkout; temp files
    # stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        rep, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(rep))
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
