"""Benchmark of the graph engine as a batch job: one fresh driver per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its inputs from the seed
(``gen.py``), starts one session at ``local[<nproc>]`` (JVM launch
included), then runs timed passes until ``--seconds`` have gone by (at
least one).  A pass builds and materializes both graphs, then calls the six
operators one after another, each measured together with the action that
collects its result.  Outputs are checked outside the measured region:
against DuckDB oracles from ``__spark_entry__.oracle_sql()`` run over the
same parquet, and Louvain's modularity against a recomputation.

The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` a single traced pass and the per-layer
metrics (see ``spans.py``), which are also written to
``perfbench/.out/layers-<workload>-<seed>.json``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
SF = 0.02
PAGERANK_ITERS = 10
# recomputed and engine-reported modularities agree to summation order
Q_TOL = 1e-9
T_START = time.perf_counter()

# workload -> forced.  Why each workload exists is recorded in
# BENCHMARK.json.  Forced passes the engine's public route knobs
# (``local_threshold=0``, ``broadcast_ranks=False``) so PageRank, CC and LPA
# run their distributed superstep routes.
WORKLOADS = {"sf0.02-default": False, "sf0.02-distributed": True}

OPS = (
    "pagerank",
    "connected_components",
    "label_propagation",
    "triangle_count",
    "louvain",
    "louvain_colored",
)
LOUVAINS = ("louvain", "louvain_colored")
SPAN_NAMES = ["graph.build"] + [f"operators.{op}" for op in OPS]
# end-to-end CPU metric -> the calls it sums.  Calls of a second or less
# spread too much from run to run to be gated alone, so the parts-graph
# operators share a metric, and so do the two Louvain calls; the trace
# reports each call on its own.
CPU_METRICS = {
    "build_cpu_s": ("build",),
    "pagerank_cpu_s": ("pagerank",),
    "parts_ops_cpu_s": ("connected_components", "label_propagation", "triangle_count"),
    "louvain_cpu_s": LOUVAINS,
    "job_cpu_s": ("job",),
}


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- one pass -----------------------------------------------------------------


def operator_calls(forced: bool) -> dict:
    """Operator name -> (graph key, call); a pass runs them in OPS order."""
    from grappolo_spark.operators.components import connected_components
    from grappolo_spark.operators.labelprop import label_propagation
    from grappolo_spark.operators.multiphase import louvain
    from grappolo_spark.operators.pagerank import pagerank
    from grappolo_spark.operators.triangles import triangle_count

    dist = {"local_threshold": 0} if forced else {}
    pr_route = {"broadcast_ranks": False} if forced else {}

    def run_louvain(g, **kw):
        res = louvain(g, max_phases=3, **kw)
        return res, res.assignment.toPandas()

    return {
        "pagerank": ("cs", lambda g: pagerank(
            g, max_iters=PAGERANK_ITERS, **pr_route).toPandas()),
        "connected_components": ("parts", lambda g: connected_components(
            g, **dist).toPandas()),
        "label_propagation": ("parts", lambda g: label_propagation(
            g, max_iters=3, stop_on_converge=False, **dist).toPandas()),
        "triangle_count": ("parts", lambda g: int(
            triangle_count(g).collect()[0]["triangles"])),
        # Louvain keeps its default routes in every workload: forced, its
        # distributed coarse phases cost 14-20 s a pass, more than the run's
        # time budget leaves
        "louvain": ("cs", lambda g: run_louvain(g, smart_init=True)),
        "louvain_colored": ("cs", lambda g: run_louvain(
            g, coloring=True, min_graph_size=2000, num_colors_cap=8,
            coloring_algo="multihash")),
    }


def build_graphs(spark, data_dir: str) -> dict:
    import __spark_entry__ as entry

    graphs = {
        "cs": entry.build_cs_graph(spark, data_dir).partition_by_src(),
        "parts": entry.build_parts_graph(spark, data_dir).partition_by_src(),
    }
    for g in graphs.values():
        g.edges.count()
    return graphs


class Meter:
    """Wall seconds, and CPU and JIT-compile seconds of driver plus JVM.

    In local mode the JVM runs every executor thread and the operators
    start no Python workers, so the two processes hold all the work.
    Unlike wall time, CPU time leaves out the time a virtual machine's
    host steals from its CPUs.
    """

    def __init__(self, spark):
        self.proc = f"/proc/{spark._jvm.ProcessHandle.current().pid()}"
        self.hz = os.sysconf("SC_CLK_TCK")
        self.jit_threads: dict[str, float] = {}

    def _cpu(self, stat: str) -> float:
        fields = stat.rsplit(")", 1)[1].split()  # fields 3.. of proc stat
        return (int(fields[11]) + int(fields[12])) / self.hz

    def read(self) -> tuple[float, float, float]:
        wall = time.perf_counter()
        with open(f"{self.proc}/stat") as fh:
            cpu = self._cpu(fh.read())
        # HotSpot compiler threads come and go; keep the last reading of each
        for tid in os.listdir(f"{self.proc}/task"):
            try:
                with open(f"{self.proc}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except FileNotFoundError:
                continue
            if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
                self.jit_threads[tid] = self._cpu(stat)
        t = os.times()
        return wall, cpu + t.user + t.system, sum(self.jit_threads.values())

    @staticmethod
    def spent(start, end) -> dict:
        return dict(zip(("wall", "cpu", "jit"), (b - a for a, b in zip(start, end))))


def run_pass(spark, data_dir: str, forced: bool, tracer=None) -> dict:
    """One measured pass; returns what each call spent, outputs and errors."""
    from grappolo_spark.operators.louvain import modularity

    sc = spark.sparkContext
    meter = Meter(spark)

    def span(name):
        return tracer.span(sc, name) if tracer else nullcontext()

    res = {"spent": {}, "outputs": {}, "errors": {}, "q_check": {}}
    t0 = meter.read()
    with span("graph.build"):
        graphs = build_graphs(spark, data_dir)
    res["spent"]["build"] = meter.spent(t0, meter.read())
    try:
        calls = operator_calls(forced)
        for name in OPS:
            key, call = calls[name]
            t = meter.read()
            try:
                with span(f"operators.{name}"):
                    res["outputs"][name] = call(graphs[key])
            except Exception:
                res["errors"][name] = traceback.format_exc()
                log(f"{name} raised:\n{res['errors'][name]}")
            res["spent"][name] = meter.spent(t, meter.read())
        res["spent"]["job"] = meter.spent(t0, meter.read())
        # unmeasured: recompute each reported Q on the returned assignment
        cs = graphs["cs"]
        with span("bench.check"):
            for name in LOUVAINS:
                if name in res["outputs"]:
                    res["q_check"][name] = modularity(
                        cs.edges, res["outputs"][name][0].assignment, cs.degrees()
                    )
    finally:
        for g in graphs.values():
            g.unpersist()
    return res


# -- checks -------------------------------------------------------------------

ORACLE_TABLES = ("pagerank", "connected_components", "label_propagation")


def oracles(data_dir: str) -> dict:
    """DuckDB oracle results over the generated parquet."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {min(4, nproc())}")
        for t in ("lineitem", "orders"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        out = {name: con.sql(sql[name]).df() for name in ORACLE_TABLES}
        out["triangle_count"] = int(con.sql(sql["triangle_total"]).fetchone()[0])
        out["cs_edge_rows"] = int(
            con.sql(
                "SELECT 2 * count(*) FROM (SELECT DISTINCT o_custkey, l_suppkey "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"
            ).fetchone()[0]
        )
    finally:
        con.close()
    return out


def _same_table(got, want, key: str, col: str, tol: float = 0.0) -> str | None:
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    if len(g) != len(w):
        return f"{len(g)} rows, oracle has {len(w)}"
    if not (g[key].to_numpy() == w[key].to_numpy()).all():
        return "vertex sets differ"
    diff = (g[col].astype(float) - w[col].astype(float)).abs()
    bad = int((diff > tol).sum())
    return f"{bad} of {len(g)} values differ" if bad else None


def louvain_problem(result, q_assignment: float) -> str | None:
    """Check a LouvainResult against Q recomputed on its assignment.

    The engine follows the reference driver (``runMultiPhaseBasic.cpp``):
    the returned assignment folds in every phase it ran, so its Q is the
    last phase's, while the reported modularity is ``prevMod``, the Q of
    the phase before it (-1 before the first).
    """
    hist = result.phase_history
    last = hist[-1]["modularity"]
    prev = hist[-2]["modularity"] if len(hist) > 1 else -1.0
    if abs(q_assignment - last) > Q_TOL:
        return f"assignment scores Q {q_assignment!r}, last phase recorded {last!r}"
    if result.modularity != prev:
        return f"reported Q {result.modularity!r}, previous phase recorded {prev!r}"
    return None


def check_pass(res: dict, oracle: dict) -> dict:
    """Operator name -> problem, for every call that raised or mismatched."""
    problems = {name: "raised" for name in res["errors"]}
    out = res["outputs"]
    checks = {
        # the oracle rounds ranks to 6 places
        "pagerank": lambda: _same_table(out["pagerank"], oracle["pagerank"], "v", "rank", 1e-6),
        "connected_components": lambda: _same_table(
            out["connected_components"], oracle["connected_components"], "v", "component"),
        "label_propagation": lambda: _same_table(
            out["label_propagation"], oracle["label_propagation"], "v", "label"),
        "triangle_count": lambda: None
        if out["triangle_count"] == oracle["triangle_count"]
        else f"{out['triangle_count']} triangles, oracle {oracle['triangle_count']}",
    }
    for name in LOUVAINS:
        checks[name] = lambda name=name: louvain_problem(out[name][0], res["q_check"][name])
    for name, check in checks.items():
        if name in problems:
            continue
        try:
            msg = check()
        except Exception:
            msg = traceback.format_exc()
        if msg:
            problems[name] = msg
    return problems


# -- session ------------------------------------------------------------------


def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def start_session(work: str, tracer=None):
    """Launch the JVM, build a session and run its first job.

    Returns (spark, seconds).
    """
    from grappolo_spark.session import get_spark

    # the engine numbers its scratch files per session from 0: a second
    # session in this process needs a directory of its own
    os.environ["SPARK_GRAFT_SCRATCH"] = tempfile.mkdtemp(prefix="scratch-", dir=work)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        shuffle_partitions=max(8, nproc()),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            **(tracer.spark_conf() if tracer else {}),
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    with tracer.span(sc, "session.get_spark") if tracer else nullcontext():
        spark.range(1 << 16).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM gateway process, waiting until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    # the next session launches a JVM of its own
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- main ---------------------------------------------------------------------


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources."""
    import hashlib

    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("grappolo_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__")))
            paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    h = hashlib.sha1()
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def untraced_job_s(workload: str, seed: int, digest: str) -> float | None:
    """Wall job time that untraced runs of this code recorded, or None.

    Prefers a run of the same seed, else takes the median over all.
    """
    path = os.path.join(OUT, f"untraced-{workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    rows = [r for r in rows if r.get("digest") == digest]
    same = [r["job_s"] for r in rows if r["seed"] == seed]
    return statistics.median(same or [r["job_s"] for r in rows]) if rows else None


def end_to_end(passes, setup_s, oracle, driver_rss) -> dict:
    cpu = {
        name: statistics.median(sum(p["spent"][c]["cpu"] for c in calls) for p in passes)
        for name, calls in CPU_METRICS.items()
    }
    last = passes[-1]["outputs"]
    return {
        "setup_s": (setup_s, "s"),
        **{name: (v, "s") for name, v in cpu.items()},
        "pagerank_edge_steps_per_cpu_s": (
            oracle["cs_edge_rows"] * PAGERANK_ITERS / cpu["pagerank_cpu_s"], "1/s"),
        "louvain_modularity": (last["louvain"][0].modularity, "Q"),
        "louvain_colored_modularity": (last["louvain_colored"][0].modularity, "Q"),
        "driver_peak_rss_mb": (driver_rss, "MB"),
    }


def per_layer(tracer, app_id, untraced_s, p, setup_s, jvm_rss):
    """Per-layer metrics of the traced pass ``p``, and attribution problems."""
    from spans import SPAN_MEASURES

    layers, problems = tracer.layers(app_id)
    metrics = {}
    for span, call in zip(SPAN_NAMES, ("build", *OPS)):
        layers[f"{span}.cpu_s"] = p["spent"][call]["cpu"]
        layers[f"{span}.jit_s"] = p["spent"][call]["jit"]
        for m in SPAN_MEASURES:
            metrics[f"{span}.{m}"] = (layers.get(f"{span}.{m}", 0), _unit(m))
    for op in LOUVAINS:
        hist = p["outputs"][op][0].phase_history if op in p["outputs"] else []
        for k in (1, 2, 3):
            h = hist[k - 1] if len(hist) >= k else {}
            # driver-local tail phases record no time
            metrics[f"operators.{op}.phase{k}.s"] = (h.get("seconds", 0.0), "s")
            metrics[f"operators.{op}.phase{k}.iterations"] = (h.get("iterations", 0), "count")
    for name in ("plans.cut_lineage", "plans.SuperstepRunner.commit"):
        metrics[f"{name}.calls"] = (layers.get(f"{name}.calls", 0), "count")
        metrics[f"{name}.wall_s"] = (layers.get(f"{name}.wall_s", 0.0), "s")
    metrics["session.get_spark.wall_s"] = (setup_s, "s")
    metrics["spark.jvm_peak_rss_mb"] = (jvm_rss, "MB")
    metrics["trace.overhead_s"] = (p["spent"]["job"]["wall"] - untraced_s, "s")
    return metrics, problems


def _unit(measure: str) -> str:
    if measure in ("spark_jobs", "spark_stages", "arrow_rows"):
        return "count"
    return "MB" if measure.endswith("_mb") else "s"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    forced = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import __spark_entry__  # noqa: F401  (fail fast outside a full checkout)

    from gen import generate
    from spans import Tracer

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    os.makedirs(work)
    # keep every scratch file the engine, Python and Spark write in the run dir
    os.environ["TMPDIR"] = work
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    spark = None
    try:
        log(f"inputs {generate(data_dir, args.seed, sf=SF)}")
        reset_peak_rss()
        passes = []
        tracer = None
        if args.trace:
            digest = code_digest()
            untraced_s = untraced_job_s(args.workload, args.seed, digest)
            if untraced_s is None:
                # no untraced run of this code yet: make the untraced twin
                # of the traced pass, in a JVM of its own so both start cold
                spark, _ = start_session(work)
                passes.append(run_pass(spark, data_dir, forced))
                stop_session(spark)
                untraced_s = passes[0]["spent"]["job"]["wall"]
            tracer = Tracer(os.path.join(work, "eventlog"))
            spark, setup_s = start_session(work, tracer)
            tracer.install(spark)
            try:
                passes.append(run_pass(spark, data_dir, forced, tracer))
            finally:
                tracer.uninstall()
        else:
            spark, setup_s = start_session(work)
            t_start = time.perf_counter()
            while not passes or time.perf_counter() - t_start < args.seconds:
                passes.append(run_pass(spark, data_dir, forced))
        log(f"setup {setup_s}")
        for kind in ("wall", "cpu", "jit"):
            log(f"pass {kind} " + json.dumps(
                {k: round(v[kind], 3) for k, v in passes[-1]["spent"].items()}))
        driver_rss = peak_rss_mb()
        jvm_rss = peak_rss_mb(spark._jvm.ProcessHandle.current().pid())
        app_id = spark.sparkContext.applicationId
        stop_session(spark)
        spark = None

        oracle = oracles(data_dir)
        attempted = failed = 0
        for i, p in enumerate(passes):
            problems = check_pass(p, oracle)
            attempted += len(OPS)
            failed += len(problems)
            for name, msg in problems.items():
                log(f"pass {i} {name} FAILED: {msg}")
        if tracer:
            metrics, problems = per_layer(
                tracer, app_id, untraced_s, passes[-1], setup_s, jvm_rss)
            for msg in problems:
                log(f"trace FAILED: {msg}")
            attempted += 1
            failed += bool(problems)
            with open(os.path.join(OUT, f"layers-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({k: v for k, (v, _) in metrics.items()}, fh, indent=1, sort_keys=True)
        else:
            metrics = end_to_end(passes, setup_s, oracle, driver_rss)
            job_s = statistics.median(p["spent"]["job"]["wall"] for p in passes)
            with open(os.path.join(OUT, f"untraced-{args.workload}.jsonl"), "a") as fh:
                fh.write(json.dumps({"digest": code_digest(), "seed": args.seed,
                                     "job_s": job_s}) + "\n")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    log(f"ops_failed_ratio {failed / attempted}")
    for k, (v, unit) in metrics.items():
        log(f"{k} = {v} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
