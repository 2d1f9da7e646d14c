"""The repo benchmark: one process per run, a closed loop with one client.

    python3 pm25bench/run.py --workload month_small --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It builds its inputs from ``--seed``
under a scratch directory in the checkout (removed at exit), starts
Spark on ``local[<cpus>]`` through ``pm25ml_spark.session.get_spark``,
warms up untimed, then runs identical ops until the next one would end
after ``--seconds`` of op time (at least one op). Every output is checked
after its op, outside the timed window. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, where
``--trace 0`` gives the end-to-end metrics and ``--trace 1`` the
per-layer ones. ``--tiny`` shrinks every input for smoke tests.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

import proctree

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent

# name -> (grid side, days) of the timed month
MONTHS = {"month_small": (8, 30), "month_large": (120, 30)}
WARM = MONTHS["month_small"]  # the untimed warm-up month of both
TINY = (6, 2)  # the smallest grid whose cross-validation has two 50 km groups
CATALOG_SF, TINY_SF = 0.01, 0.001
WARM_THREADS = 3
HEAP = "3g"  # the JVM's largest heap (the driver runs the local executors)
START_HEAP = "256m"  # its first heap: above that, the heap and RSS grow with use
YOUNG = "512m"  # its young generation, fixed: see isolate()
STAGES = ("ingest", "combine", "interpolate", "features", "sample", "train_impute", "export")
SPAN_METRICS = ("wall_s", "jobs", "driver_gap_s", "exec_cpu_s", "shuffle_mb")
FAMILIES = ("a", "cp", "d", "dd", "gr", "iv", "k", "m", "mm", "q", "sk", "ss", "st", "t", "w")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "pass_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for stage in STAGES:
        for m, u in zip(SPAN_METRICS, ("s", "count", "s", "s", "MB")):
            units[f"pipeline.{stage}.{m}"] = u
    for layer in ("raster", "interp"):
        first = "granules" if layer == "raster" else "groups"
        units.update({f"{layer}.{first}": "count", f"{layer}.py_total_s": "s",
                      f"{layer}.py_sent_mb": "MB", f"{layer}.py_recv_mb": "MB"})
    units.update({"ml.train_s": "s", "ml.train_jobs": "count", "ml.fits": "count"})
    units.update({"archive.sink_calls": "count", "archive.sink_s": "s", "archive.files": "count",
                  "archive.mb": "MB", "archive.rows": "count"})
    units.update({"results.pivot_s": "s", "results.write_s": "s", "results.mb": "MB"})
    for fam in FAMILIES:
        units.update({f"catalog.{fam}.p50_s": "s", f"catalog.{fam}.jobs": "count"})
    for m, u in (("plan_s", "s"), ("exec_s", "s"), ("driver_gap_s", "s"),
                 ("exec_cpu_s", "s"), ("shuffle_mb", "MB"), ("py_total_s", "s")):
        units[f"catalog.{m}"] = u
    units.update({"artifacts.builds": "count", "artifacts.build_s": "s"})
    return units


def log(*parts) -> None:
    print("[pm25bench]", *parts, file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(scratch: str) -> None:
    """Point every temp, local, warehouse and worker path into ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    # fixed heap sizes: otherwise the JVM sizes them from the host's RAM,
    # and heap growth and the GC work it causes differ from host to host.
    # The young generation is fixed too: G1 otherwise resizes it from GC
    # timings, and each resize moves peak RSS by hundreds of MB, so the
    # resident heap would follow the machine's speed instead of the data
    # the program keeps
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch} -XX:-UsePerfData "
        f"-Xms{START_HEAP} -Xmn{YOUNG}"
    )
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # the spark-submit JVM
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}"),
                "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
                "pyspark-shell",
            ]
        ),
    )


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(len(ordered) * q) - 1)]


class Run:
    """Shared state of one run: Spark, the tracer (or None) and the ops."""

    def __init__(self, spark, tracer, seconds: float, scratch: str, seed: int):
        self.spark, self.tracer, self.seconds = spark, tracer, seconds
        self.scratch, self.seed = scratch, seed
        self.ops: list[float] = []  # wall seconds of each attempted op
        self.ok: list[bool] = []
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, name: str = "op"):
        """Time one op; its CPU is the process tree's CPU across it."""
        cpu0 = proctree.cpu_seconds(proctree.tree())
        t0 = time.perf_counter()
        try:
            with self.span(name):
                yield
        finally:
            self.ops.append(time.perf_counter() - t0)
            pids = proctree.tree()
            self.cpu_s += proctree.cpu_seconds(pids) - cpu0
            self.peak_rss_mb = max(self.peak_rss_mb, proctree.peak_rss_mb(pids))

    def more(self, per_step: list[float]) -> bool:
        """Closed loop: go on while the next step fits in the run."""
        return sum(per_step) + statistics.median(per_step) <= self.seconds

    def end_to_end(self, setup_s: float, passes: list[float]) -> dict:
        n = len(self.ops)
        return {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(self.ops),
            "op_p90_s": quantile(self.ops, 0.9),
            "pass_s": statistics.median(passes),
            "ops_per_s": n / sum(self.ops),
            "cpu_s_per_op": self.cpu_s / n,
            "peak_rss_mb": self.peak_rss_mb,
            "ok_frac": sum(self.ok) / n,
        }


# -- month workloads ----------------------------------------------------------


def trace_layers(tracer):
    """Wrap each layer's public entry points for the traced run; returns
    the undo callables."""
    import pyspark.ml.regression
    from pyspark.sql.classic.dataframe import DataFrame  # the class a classic session returns
    from pyspark.sql.group import GroupedData

    import pm25ml_spark.pipeline as pipeline
    from pm25ml_spark.sources.archive import StageStorage

    def sink(t, args, out, dt):
        t.add("archive.sink_calls")
        t.add("archive.rows", out)

    def fit(t, args, out, dt):
        t.add("ml.fits")

    def raster_mb(t, args, out, dt):
        t.add("results.mb", os.path.getsize(out) / 2.0**20)

    return [
        tracer.tap_udf(DataFrame, "mapInPandas", "pm25ml_spark.sources.raster", "raster.granules"),
        tracer.tap_udf(GroupedData, "applyInPandas", "pm25ml_spark.operators.interpolation", "interp.groups"),
        tracer.wrap(pipeline, "train_imputation_model", "ml.train"),
        tracer.wrap(pyspark.ml.regression.GBTRegressor, "fit", after=fit),
        tracer.wrap(StageStorage, "sink_stage", "archive.sink", after=sink),
        tracer.wrap(pipeline, "pivot_to_raster", "results.pivot"),
        tracer.wrap(pipeline, "write_raster", "results.write", after=raster_mb),
    ]


def month_workload(run: Run, name: str, tiny: bool) -> dict:
    import month

    nx, days = TINY if tiny else MONTHS[name]
    wx, wd = TINY if tiny else WARM
    warm = month.make_inputs(run.scratch, run.seed + 1, wx, wx, wd)
    inputs = month.make_inputs(run.scratch, run.seed, nx, nx, days)
    nospan = lambda _name: contextlib.nullcontext()  # noqa: E731
    bucket = month.fresh_bucket(run.scratch, -1)
    month.run_month(run.spark, warm, bucket, nospan)
    shutil.rmtree(bucket, ignore_errors=True)
    setup_s = process_age_s()
    log(f"{name}: {nx}x{nx} grid, {days} days, setup {setup_s:.1f} s")

    undo = trace_layers(run.tracer) if run.tracer else []
    try:
        while True:
            bucket = month.fresh_bucket(run.scratch, len(run.ops))
            try:
                with run.op():
                    path = month.run_month(run.spark, inputs, bucket, run.span)
                failed = month.check_month(run.spark, inputs, bucket, path)
            except Exception as exc:  # a failed op counts against ok_frac
                failed = [f"{type(exc).__name__}: {exc}"]
            if run.tracer:
                run.tracer.harvest()
            run.ok.append(not failed)
            shutil.rmtree(bucket, ignore_errors=True)
            log(f"op {len(run.ops)}: {run.ops[-1]:.2f} s", "ok" if not failed else failed)
            if not run.more(run.ops):
                break
    finally:
        for u in undo:
            u()
    if run.tracer:
        return month_layers(run, inputs)
    return run.end_to_end(setup_s, run.ops)


def month_layers(run: Run, inputs) -> dict:
    from tracer import PY_RECV, PY_SENT, PY_TOTAL, node_metric

    t, n = run.tracer, len(run.ops)
    by_name: dict[str, list[dict]] = {}
    for i, sp in enumerate(t.spans):
        by_name.setdefault(sp.name, []).append(t.summary(i))

    def total(span_name: str, key: str) -> float:
        return sum(s[key] for s in by_name.get(span_name, []))

    def execs(span_name: str) -> list:
        return [e for s in by_name.get(span_name, []) for e in s["executions"]]

    out = {}
    for stage in STAGES:
        for m in SPAN_METRICS:
            out[f"pipeline.{stage}.{m}"] = total(stage, m) / n
    for layer, span_name, node in (("raster", "ingest", "MapInPandas"),
                                   ("interp", "interpolate", "FlatMapGroupsInPandas")):
        ex = execs(span_name)
        out[f"{layer}.py_total_s"] = node_metric(ex, PY_TOTAL, (node,)) / n
        out[f"{layer}.py_sent_mb"] = node_metric(ex, PY_SENT, (node,)) / 2.0**20 / n
        out[f"{layer}.py_recv_mb"] = node_metric(ex, PY_RECV, (node,)) / 2.0**20 / n
    out["raster.granules"] = t.accumulated("raster.granules") / n
    out["interp.groups"] = t.accumulated("interp.groups") / n
    out["ml.train_s"] = total("ml.train", "wall_s") / n
    out["ml.train_jobs"] = total("ml.train", "jobs") / n
    out["ml.fits"] = t.counts.get("ml.fits", 0.0) / n
    sinks = execs("archive.sink")
    out["archive.sink_calls"] = t.counts.get("archive.sink_calls", 0.0) / n
    out["archive.sink_s"] = total("archive.sink", "wall_s") / n
    out["archive.files"] = node_metric(sinks, "number of written files") / n
    out["archive.mb"] = node_metric(sinks, "written output") / 2.0**20 / n
    out["archive.rows"] = t.counts.get("archive.rows", 0.0) / n
    out["results.pivot_s"] = total("results.pivot", "wall_s") / n
    out["results.write_s"] = total("results.write", "wall_s") / n
    out["results.mb"] = t.counts.get("results.mb", 0.0) / n
    return out


# -- catalog workload ---------------------------------------------------------


def catalog_workload(run: Run, tiny: bool) -> dict:
    import catalog_panel
    import tables
    from pm25ml_spark.plans import artifacts
    from pm25ml_spark.plans.registry import ORACLES, QUERIES, load_all_plans
    from tests.oracle_compare import run_oracle

    load_all_plans()
    panel = catalog_panel.panel(QUERIES)
    data = tables.source(TINY_SF if tiny else CATALOG_SF)

    def one_pass(k: int) -> tuple[list, str]:
        copy = tables.write_copy(data, os.path.join(run.scratch, f"tables_{k}"), run.seed * 1000 + k)
        results = []
        for name in panel:
            try:
                with run.op(f"q:{name}"):
                    with run.span("plan"):
                        df = QUERIES[name](run.spark, copy)
                    with run.span("exec"):
                        result = df.toPandas()
            except Exception as exc:  # a failed op counts against ok_frac
                result = exc
            results.append((name, result))
        took = ", ".join(f"{n.split('_')[0]} {t:.2f}" for n, t in zip(panel, run.ops[-len(panel):]))
        log(f"pass {k + 1}: {took}")
        return results, copy

    def check(results, copy) -> list[str]:
        failed = []
        for name, result in results:
            if isinstance(result, Exception):
                bad = f"{name}: {type(result).__name__}: {str(result)[:200]}"
            else:
                bad = catalog_panel.mismatch(name, result, run_oracle(ORACLES[name], copy))
            if bad:
                failed.append(bad)
        return failed

    # warm-up: one untimed panel pass over smaller tables, its queries
    # spread over WARM_THREADS threads (first executions are mostly
    # single-threaded driver work: planning, code generation, class loading)
    from concurrent.futures import ThreadPoolExecutor

    copy = tables.write_copy(tables.source(TINY_SF), os.path.join(run.scratch, "tables_warm"), run.seed)

    def warm(name):
        try:
            QUERIES[name](run.spark, copy).toPandas()
        except Exception as exc:  # the timed pass checks every query
            log(f"warm-up {name}: {type(exc).__name__}: {exc}")

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        list(pool.map(warm, panel))
    shutil.rmtree(copy, ignore_errors=True)
    setup_s = process_age_s()
    log(f"catalog: panel {panel}, setup {setup_s:.1f} s")

    undo = trace_layers(run.tracer) if run.tracer else []
    passes, builds, build_s = [], [], []
    try:
        while True:
            n0 = len(run.ops)
            b0 = sum(artifacts.BUILD_COUNTS.values())
            s0 = sum(artifacts.BUILD_SECONDS.values())
            results, copy = one_pass(len(passes))
            passes.append(sum(run.ops[n0:]))
            builds.append(sum(artifacts.BUILD_COUNTS.values()) - b0)
            build_s.append(sum(artifacts.BUILD_SECONDS.values()) - s0)
            if run.tracer:
                run.tracer.harvest()
            failed = check(results, copy)
            run.ok += [not any(f.startswith(f"{name}:") for f in failed) for name, _ in results]
            shutil.rmtree(copy, ignore_errors=True)
            log(f"pass {len(passes)}: {passes[-1]:.2f} s, {builds[-1]} artifact builds", failed or "")
            if not run.more(passes):
                break
    finally:
        for u in undo:
            u()
    if run.tracer:
        return catalog_layers(run, panel, builds, build_s)
    return run.end_to_end(setup_s, passes)


def catalog_layers(run: Run, panel: list[str], builds: list, build_s: list) -> dict:
    import catalog_panel
    from tracer import PY_TOTAL, node_metric

    t, n = run.tracer, len(run.ops)
    ops = [(sp.name[2:], i) for i, sp in enumerate(t.spans) if sp.name.startswith("q:")]
    summaries = {i: t.summary(i) for _name, i in ops}
    out = {}
    for fam in FAMILIES:
        mine = [summaries[i] for name, i in ops if catalog_panel.family(name) == fam]
        out[f"catalog.{fam}.p50_s"] = statistics.median(s["wall_s"] for s in mine) if mine else 0.0
        out[f"catalog.{fam}.jobs"] = statistics.mean(s["jobs"] for s in mine) if mine else 0.0
    children = {"plan": [], "exec": []}
    for i, sp in enumerate(t.spans):
        if sp.name in children:
            children[sp.name].append(sp.end_ms / 1000.0 - sp.start_ms / 1000.0)
    out["catalog.plan_s"] = statistics.median(children["plan"])
    out["catalog.exec_s"] = statistics.median(children["exec"])
    for m in ("driver_gap_s", "exec_cpu_s", "shuffle_mb"):
        out[f"catalog.{m}"] = sum(s[m] for s in summaries.values()) / n
    out["catalog.py_total_s"] = sum(node_metric(s["executions"], PY_TOTAL) for s in summaries.values()) / n
    out["artifacts.builds"] = statistics.mean(builds)
    out["artifacts.build_s"] = statistics.mean(build_s)
    return out


# -- entry point ----------------------------------------------------------------


def run_workload(args, scratch: str) -> tuple[dict, Run]:
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from pm25ml_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("pm25bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer(spark)
    run = Run(spark, tracer, args.seconds, scratch, args.seed)
    if args.workload == "catalog":
        return catalog_workload(run, args.tiny), run
    return month_workload(run, args.workload, args.tiny), run


def stop_spark() -> None:
    """Stop Spark and wait until the JVM and every Python worker exited."""
    from pyspark import SparkContext

    children = proctree.descendants(os.getpid())
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    proctree.wait_gone(children)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*MONTHS, "catalog"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smallest inputs (smoke tests)")
    args = p.parse_args(argv)
    if not __debug__:
        log("run without -O: the oracle check compares with assert")
        return 2
    if not (ROOT / "pm25ml_spark" / "__init__.py").is_file():
        log(f"no pm25ml_spark package under {ROOT}; run from a checkout of the repo")
        return 2

    # SIGTERM unwinds like an error, so Spark is stopped and the scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = tempfile.mkdtemp(prefix=".pm25bench-", dir=ROOT)
    real_stdout = sys.stdout
    sys.stdout = sys.stderr  # keep stdout for the result line
    try:
        isolate(scratch)
        metrics, run = run_workload(args, scratch)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            sys.stdout = real_stdout
    units = per_layer_units() if args.trace else END_TO_END
    if args.trace:  # layers a workload does not reach read zero
        metrics = {**dict.fromkeys(units, 0.0), **metrics}
    failed = run.ok.count(False)
    result = {
        "correct": failed == 0,
        "attempted": len(run.ok),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
