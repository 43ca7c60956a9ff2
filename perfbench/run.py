"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload mr_olap --seed 1 --seconds 10 --trace 0

Workloads: ``mr_olap`` and ``llm_pipeline`` (batch jobs from the query
registry, one closed-loop client) and ``meta_ops`` (HopsFS-style
metadata operations, one closed-loop client thread per two cores). See
``perfbench/README.md`` for what each measures and why.

``--trace 0`` prints the end-to-end metrics listed in ``BENCHMARK.json``;
``--trace 1`` instruments the program from outside and prints the
per-layer metrics instead. Every run checks every output it produced;
the last stdout line is
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Lines before it, prefixed ``#``, name each failure with its cause and
give sample counts. Inputs, caches and Spark scratch space live under
``.perfbench_work/`` in the repository root.

``--tiny`` (small inputs, short windows) and ``--plant-wrong KIND``
(falsify one expected answer) exist for ``perfbench/selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DATA_SEED = 42          # seed of the repository's test fixtures
SETUP_REPS = 3          # input preparation is repeated; the median counts
SCALE = 0.5             # × sf0.1 (600k lineitem)
TINY_SCALE = 0.02
META_INODES = 1_000_000
TINY_INODES = 20_000
META_WARM_S = 3.0      # after one request of each kind per client
TAIL_PCT = 90
# Per-module layer metrics: the ``hops_spark.ops`` modules that
# ``mr_olap``'s timed jobs call, and the catalog functions that
# ``meta_ops``' timed requests call (span name → metric name).
OPS_MODULES = ("agg", "gen", "project", "sort")
CATALOG_SPANS = {f"metastore.{f}": f"catalog.{f}.ms" for f in (
    "file_info", "listing", "glob_status", "batched_lookup",
    "content_summary", "subtree_members", "subtree_delete",
    "subtree_rename", "with_partition_id")}
CATALOG_SPANS.update({"QuotaState.apply_batch": "catalog.cdc.apply_batch_ms",
                      "log_append": "catalog.log_append_ms"})
DRIVER_MEM = "4g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["mr_olap", "llm_pipeline", "meta_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant-wrong", default=None, metavar="KIND")
    return ap.parse_args(argv)


def program_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in (
        "hops_spark/__init__.py", "hops_spark/registry.py",
        "tools/plan_audit.py", "tools/check_oracle.py", "BENCHMARK.json"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(cores: int) -> dict[str, str]:
    """Process environment and Spark settings: the program's own package
    reaches the Python workers, and every scratch path stays under
    ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    sys.path.insert(0, ROOT)
    return {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def instrument(tracer) -> None:
    """Wrap the program's public layer functions (traced run only).
    Runs before the query modules import them."""
    if not tracer.enabled:
        return
    from hops_spark.catalog import cdc, metastore
    from hops_spark.io import readers
    tracer.wrap_package("hops_spark.ops", "ops")
    tracer.wrap(metastore, "catalog")
    tracer.wrap(cdc, "catalog")
    tracer.wrap_method(cdc.QuotaState, "apply_batch", "catalog")
    tracer.wrap(readers, "io")


# --- process bookkeeping ---------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        for c in _children(stack.pop()):
            out.append(c)
            stack.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — hung JVM: kill and reap
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().split()[2] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


# --- statistics ------------------------------------------------------------

def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100.0 * len(v)) - 1)]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in values) / len(values))


def kind_medians(results) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in results:
        by.setdefault(r.kind, []).append(r.latency_s)
    return {k: statistics.median(v) for k, v in by.items()}


def request_classes(results) -> dict[str, list]:
    """``write`` (``meta_ops``' subtree writes) and ``read`` (every other
    request: ``meta_ops``' reads, all jobs of a batch workload)."""
    from perfbench.meta import WRITES
    by: dict[str, list] = {}
    for r in results:
        by.setdefault("write" if r.kind in WRITES else "read", []).append(r)
    return by


def class_typical_s(results) -> float:
    """Geometric mean of the per-kind medians, each kind weighted by its
    share of the requests (the deck's mix; equal for batch jobs)."""
    n = {}
    for r in results:
        n[r.kind] = n.get(r.kind, 0) + 1
    med = kind_medians(results)
    return math.exp(sum(n[k] * math.log(max(med[k], 1e-9)) for k in n)
                    / len(results))


# --- workloads ---------------------------------------------------------------

class Run:
    """What one workload run produced, for the metric step."""

    def __init__(self):
        self.setup_parts: dict[str, float] = {}
        self.results = []          # measured requests
        self.checked = []          # every request whose output was checked
        self.run_problems: list[str] = []
        self.window_s = 0.0
        self.client_spans = []     # meta_ops: (timed results, seconds)
        self.clients = 1
        self.runner = None
        self.plans: dict = {}
        self.info: dict = {}


def run_batch(spark, args, tracer, status, run: Run) -> None:
    from hops_spark.registry import load_all
    from perfbench.batch import BatchRunner
    from perfbench.check import Oracle
    from perfbench.tables import write_tables

    data_dir = os.path.join(WORK, "data", args.workload)
    scale = TINY_SCALE if args.tiny else SCALE
    gen = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        shutil.rmtree(data_dir, ignore_errors=True)
        write_tables(data_dir, scale, DATA_SEED)
        gen.append(time.perf_counter() - t0)
    run.setup_parts["generate"] = statistics.median(gen)

    runner = BatchRunner(spark, load_all(), data_dir, tracer, status)
    run.runner = runner
    t0 = time.perf_counter()
    warm = runner.warm_up(runner.order(args.workload, args.seed, 0), nproc())
    run.setup_parts["warm"] = time.perf_counter() - t0

    runner.traced = tracer.enabled
    results = []
    t0 = time.perf_counter()
    while (len(results) < 2 * len(warm)
           or time.perf_counter() - t0 < args.seconds):
        p = 1 + len(results) // len(warm)
        order = runner.order(args.workload, args.seed, p)
        if tracer.enabled and p == 1:
            res, run.plans = runner.run_pass_audited(
                order, f"p{p}", os.path.join(WORK, "plans.md"), ROOT)
        else:
            res = runner.run_pass(order, f"p{p}")
        results += res
    run.window_s = time.perf_counter() - t0

    oracle = Oracle(ROOT, data_dir, os.path.join(WORK, "oracle"))
    try:
        runner.check(warm + results, oracle, args.plant_wrong)
    finally:
        oracle.close()
    run.results = results
    run.checked = warm + results
    run.info["scale_x_sf0.1"] = scale
    run.info["passes"] = len(results) // len(warm)


def run_meta(spark, args, tracer, status, run: Run) -> None:
    from perfbench.meta import KINDS, MetaWorkload, load_catalog, write_catalog
    from perfbench.tree import Tree

    n = TINY_INODES if args.tiny else META_INODES
    path = os.path.join(WORK, "data", "meta_ops", "inodes.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    gen = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        tree = Tree(n, args.seed)
        write_catalog(tree, path)
        gen.append(time.perf_counter() - t0)
    run.setup_parts["generate"] = statistics.median(gen)
    t0 = time.perf_counter()
    inodes = load_catalog(spark, path)
    run.setup_parts["load"] = time.perf_counter() - t0

    log_dir = os.path.join(WORK, "meta_log")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    # Half the cores: with a client per core the cores are saturated, so
    # any CPU lost to other tenants turned into queueing and the
    # run-to-run spread reached 20-27%.
    clients = max(1, nproc() // 2)
    wl = MetaWorkload(spark, tree, inodes, log_dir, args.seed, tracer, status)
    run.runner = wl
    t0 = time.perf_counter()
    warm = wl.run_clients(clients, META_WARM_S, "warm", warm=True)["timed"]
    run.setup_parts["warm"] = time.perf_counter() - t0
    timed = wl.run_clients(clients, args.seconds, "run")
    results, run.window_s = timed["timed"], timed["wall"]
    run.client_spans = timed["spans"]
    if tracer.enabled:
        from perfbench.trace import plan_features
        reqs = {}
        rng = random.Random(args.seed)
        for kind in KINDS:
            b, e, _x = wl.make_request(kind, rng)
            reqs[kind] = (b, e)
        run.plans = plan_features(ROOT, spark, reqs,
                                  os.path.join(WORK, "plans.md"))
    run.checked = warm + results + timed["padding"]
    run.run_problems = wl.check(run.checked, args.plant_wrong)
    run.results = results
    run.clients = clients
    run.info.update(inodes=tree.n_inodes, dirs=tree.n_dirs,
                    max_depth=int(tree.dir_depth.max()) + 1)


# --- metrics -----------------------------------------------------------------

def end_to_end(run: Run) -> dict[str, float]:
    """``latency_tail_ms`` and ``kind_geomean_ms`` weigh each request
    class equally (geometric mean over classes); ``slowest_class_ms`` is
    the typical latency of the slowest class alone (``meta_ops``' writes),
    which a slower class in a closed loop cannot offset by letting the
    other class run faster."""
    classes = list(request_classes(run.results).values())
    spans = run.client_spans or [(run.results, run.window_s)]
    return {
        "setup_s": sum(run.setup_parts.values()),
        "latency_tail_ms": geomean([pct([r.latency_s for r in rs], TAIL_PCT)
                                    for rs in classes]) * 1e3,
        "throughput_per_s": sum(sum(1 for r in rs if not r.failed) / sec
                                for rs, sec in spans if sec > 0),
        "kind_geomean_ms": geomean([class_typical_s(rs) for rs in classes])
        * 1e3,
        "slowest_class_ms": max(class_typical_s(rs) for rs in classes) * 1e3,
    }


def per_layer(run: Run, tracer, cores: int, rss_mb: float) -> dict[str, float]:
    """Layer metrics over the timed requests; counts and times are per
    request unless the name says otherwise. A layer that a workload does
    not reach reads 0 there (``ops.*`` on ``meta_ops``, ``catalog.*`` on
    ``mr_olap``)."""
    from perfbench.trace import union_length
    rn = run.runner
    res = run.results
    n = max(len(res), 1)
    rids = {r.rid for r in res}
    per_req = {rid: js for rid, js in rn.jobstats.items() if rid in rids}
    jobs = [j for js in per_req.values() for j in js]
    lat_sum = sum(r.latency_s for r in res) or 1e-9
    exec_s = sum(union_length([(j.start_ms / 1e3, j.end_ms / 1e3)
                               for j in js]) for js in per_req.values())
    busy_s = union_length([(r.done_at - r.latency_s, r.done_at) for r in res])
    build = sum(v for k, v in rn.build_s.items() if k in rids)
    eager = sum(v for k, v in rn.eager_jobs.items() if k in rids)
    task_s = sum(j.task_s for j in jobs)
    input_rows = sum(j.input_rows for j in jobs)
    result_rows = sum(r.rows for r in res) or 1
    mb = 1024.0 * 1024.0
    plans = [p for p in run.plans.values() if "error" not in p]
    out = {
        "session.start_s": run.setup_parts["session"],
        "session.warm_s": sum(v for k, v in run.setup_parts.items()
                              if k not in ("session", "generate")),
        "session.peak_rss_mb": rss_mb,
        "setup.generate_s": run.setup_parts["generate"],
        "queries.build_s": build / n,
        "queries.build_share": build / lat_sum,
        "queries.eager_jobs": eager / n,
        "spark.exec_s": exec_s / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(j.stages for j in jobs) / n,
        "spark.tasks": sum(j.tasks for j in jobs) / n,
        "spark.task_s": task_s / n,
        "spark.slot_util": task_s / ((busy_s or 1e-9) * cores),
        "spark.driver_gap_s": max(lat_sum - exec_s, 0.0) / n,
        "spark.shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs)
        / mb / n,
        "spark.shuffle_read_mb": sum(j.shuffle_read_bytes for j in jobs)
        / mb / n,
        "spark.spill_mb": sum(j.spill_bytes for j in jobs) / mb / n,
        "spark.tasks_failed": sum(j.tasks_failed for j in jobs),
        "plan.exchanges": sum(p["exchanges"] for p in plans),
        "plan.broadcast_joins": sum(p["broadcast_joins"] for p in plans),
        "plan.sort_merge_joins": sum(p["sort_merge_joins"] for p in plans),
        "plan.python_nodes": sum(p["python_nodes"] for p in plans),
        "plan.codegen_stages": sum(p["codegen_stages"] for p in plans),
        "io.input_rows": input_rows / n,
        "io.input_mb": sum(j.input_bytes for j in jobs) / mb / n,
        "io.rows_examined_per_result_row": input_rows / result_rows,
        "trace.overhead_share": instrumentation_s(tracer, rn.status, rids)
        / lat_sum,
    }
    for m in OPS_MODULES:
        out[f"ops.{m}.s"] = out[f"ops.{m}.calls"] = 0.0
    for name, (calls, s) in tracer.by_layer("ops", rids).items():
        m = name.split(".")[0]
        if m in OPS_MODULES:
            out[f"ops.{m}.s"] += s / n
            out[f"ops.{m}.calls"] += calls / n
    # Mean duration per call, children included.
    cat = tracer.by_layer("catalog", rids, inclusive=True)
    for span, metric in CATALOG_SPANS.items():
        calls, s = cat.get(span, (0, 0.0))
        out[metric] = s * 1e3 / calls if calls else 0.0
    out["catalog.jobs_per_op"] = len(jobs) / n if cat else 0.0
    out["catalog.rows_examined_per_op"] = input_rows / n if cat else 0.0
    return out


def instrumentation_s(tracer, status, rids: set) -> float:
    """Tracing cost inside timed requests: status-store reads made
    between build and execution, plus span bookkeeping."""
    from perfbench.trace import Tracer
    probe = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(2000):
        with probe.span("x", "x"):
            pass
    per_span = (time.perf_counter() - t0) / 2000
    return (sum(v for k, v in status.inline_s.items() if k in rids)
            + per_span * tracer.count(rids))


# --- main --------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print(f"perfbench: the program is not in {ROOT} "
              "(hops_spark/, tools/ and BENCHMARK.json are required)",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cores = nproc()
    conf = prepare_env(cores)
    from perfbench.trace import SparkStatus, Tracer
    tracer = Tracer(bool(args.trace))
    instrument(tracer)
    import hops_spark.queries  # noqa: F401  (imports after instrumenting)
    from hops_spark.session import get_spark
    spark = get_spark("perfbench", **conf)
    run = Run()
    run.setup_parts["session"] = time.perf_counter() - T_PROCESS
    steal0 = cpu_steal_jiffies()
    status = SparkStatus(spark) if args.trace else None
    try:
        if args.workload == "meta_ops":
            run_meta(spark, args, tracer, status, run)
        else:
            run_batch(spark, args, tracer, status, run)
        from pyspark import SparkContext
        jvm = SparkContext._gateway.proc.pid
        rss = vm_hwm_mb(jvm) + sum(vm_hwm_mb(p) for p in descendants(jvm))
    finally:
        stop_spark(spark)
    steal1 = cpu_steal_jiffies()
    run.info["cpu_steal_pct"] = round(100.0 * (steal1[0] - steal0[0])
                                      / max(steal1[1] - steal0[1], 1), 2)

    if args.trace:
        values = per_layer(run, tracer, cores, rss)
        os.makedirs(WORK, exist_ok=True)
        tracer.dump(os.path.join(
            WORK, f"spans-{args.workload}-{args.seed}.tsv"))
    else:
        values = end_to_end(run)
    failed = sum(1 for r in run.checked if r.failed) + len(run.run_problems)
    attempted = len(run.checked) + (1 if args.workload == "meta_ops" else 0)
    report(args, run, tracer, cores, failed, attempted)
    dump_requests(os.path.join(
        WORK, f"requests-{args.workload}-{args.seed}-{args.trace}.tsv"), run)
    names = {m["name"] for m in wanted}
    if set(values) != names:
        print(f"perfbench: metric set differs from BENCHMARK.json: "
              f"missing {sorted(names - set(values))}, "
              f"extra {sorted(set(values) - names)}", file=sys.stderr)
        return 3
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


def dump_requests(path: str, run: Run) -> None:
    """One line per checked request: id, kind, start and latency (s,
    relative to the first timed request), and whether it failed."""
    t0 = min((r.done_at - r.latency_s for r in run.results), default=0.0)
    with open(path, "w") as f:
        f.write("rid\tkind\tstart_s\tlatency_s\tfailed\n")
        for r in sorted(run.checked, key=lambda r: r.done_at - r.latency_s):
            f.write(f"{r.rid}\t{r.kind}\t{r.done_at - r.latency_s - t0:.4f}"
                    f"\t{r.latency_s:.4f}\t{int(r.failed)}\n")


def report(args, run: Run, tracer, cores: int, failed: int,
           attempted: int) -> None:
    """``#`` lines: sample counts, failures with causes, layer detail."""
    res = run.results
    lat = [r.latency_s for r in res]
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"clients={run.clients} cores={cores} requests={len(res)} "
          f"window_s={run.window_s:.2f} "
          f"p50_ms={statistics.median(lat) * 1e3 if lat else 0:.1f} "
          f"attempted={attempted} "
          f"failed={failed} failed_frac={failed / max(attempted, 1):.4f} "
          + " ".join(f"{k}={v}" for k, v in run.info.items())
          + " setup: " + " ".join(f"{k}={v:.2f}s"
                                  for k, v in run.setup_parts.items()))
    for cls, rs in sorted(request_classes(res).items()):
        v = [r.latency_s for r in rs]
        n_tail = len(v) - math.ceil(TAIL_PCT / 100.0 * len(v))
        print(f"# class {cls}: n={len(v)} "
              f"p50_ms={statistics.median(v) * 1e3:.1f} "
              f"p{TAIL_PCT}_ms={pct(v, TAIL_PCT) * 1e3:.1f} "
              f"(samples beyond it: {n_tail}) "
              f"typical_ms={class_typical_s(rs) * 1e3:.1f}")
    if res:
        t0 = min(r.done_at - r.latency_s for r in res)
        span = max(r.done_at for r in res) - t0
        fifths = [0] * 5
        for r in res:
            fifths[min(int(5 * (r.done_at - t0) / span), 4)] += 1
        print(f"# completions per fifth of the window: {fifths}")
    for k, v in sorted(kind_medians(res).items()):
        n = sum(1 for r in res if r.kind == k)
        print(f"#   {k}: p50={v * 1e3:.1f}ms n={n}")
    for r in run.checked:
        if r.failed:
            print(f"# FAILED {r.kind}: {r.error or '; '.join(r.problems)}")
    for p in run.run_problems:
        print(f"# FAILED run check: {p}")
    if tracer.enabled:
        rids = {r.rid for r in res}
        for layer in ("ops", "catalog", "io"):
            for name, (calls, s) in sorted(
                    tracer.by_layer(layer, rids).items()):
                print(f"#   {layer}.{name}: calls={calls} self_ms={s * 1e3:.1f}")
        for name, p in sorted(run.plans.items()):
            print(f"#   plan {name}: {p}")


if __name__ == "__main__":
    sys.exit(main())
