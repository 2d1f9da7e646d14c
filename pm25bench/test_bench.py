"""Self-tests of the benchmark: its checks, its tracer and its CLI.

    python3 -m pytest pm25bench/test_bench.py -q

Each test builds tiny inputs; the whole file takes several minutes
because the smoke test starts Spark once per workload and trace mode.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import catalog_panel  # noqa: E402
import month  # noqa: E402
import run as bench  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("month_small", "month_large", "catalog")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    bench.isolate(str(tmp_path_factory.mktemp("spark")))
    from pm25ml_spark.session import get_spark

    session = get_spark("pm25bench-test", master="local[2]")
    yield session
    bench.stop_spark()


@pytest.fixture(scope="module")
def month_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("month"))
    nx, days = bench.TINY
    inputs = month.make_inputs(root, 5, nx, nx, days)
    bucket = os.path.join(root, "bucket")
    path = month.run_month(spark, inputs, bucket, lambda _n: contextlib.nullcontext())
    return inputs, bucket, path


def _perturbed_bucket(spark, bucket: str, stage: str, edit) -> str:
    out = bucket + f"_{stage}_edited"
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(bucket, out)
    df = edit(spark.read.parquet(f"{bucket}/stage={stage}"))
    df.write.partitionBy("month").mode("overwrite").parquet(f"{out}/stage={stage}")
    return out


def test_month_checks_pass_and_catch_each_perturbation(spark, month_run):
    from pyspark.sql import functions as F

    from pm25ml_spark.sources.results import read_raster, write_raster

    inputs, bucket, path = month_run
    assert month.check_month(spark, inputs, bucket, path) == []

    extra_rows = _perturbed_bucket(spark, bucket, "ingested", lambda df: df.union(df.limit(1)))
    assert any("ingested rows" in f for f in month.check_month(spark, inputs, extra_rows, path))

    r = read_raster(path)
    cropped = write_raster(
        os.path.join(os.path.dirname(path), "cropped"), r["value"][:, 1:, :], r["time"], r["y"][1:], r["x"]
    )
    assert any("raster shape" in f for f in month.check_month(spark, inputs, bucket, cropped))

    target = "m2__aot__imputed"
    first = F.col("grid_id") == inputs.aot_holes[0]
    nulled = _perturbed_bucket(
        spark, bucket, "imputed",
        lambda df: df.withColumn(target, F.when(first, None).otherwise(F.col(target))),
    )
    assert any("null" in f for f in month.check_month(spark, inputs, nulled, path))

    flag = f"{target}_flag"
    flipped = _perturbed_bucket(
        spark, bucket, "imputed", lambda df: df.withColumn(flag, F.when(first, 0).otherwise(F.col(flag)))
    )
    assert any("flag share" in f for f in month.check_month(spark, inputs, flipped, path))


def test_tracer_puts_every_job_in_exactly_one_span(spark, month_run, tmp_path):
    from tracer import Tracer

    inputs = month_run[0]
    tracer = Tracer(spark)
    tracer.harvest()  # jobs of earlier tests stay outside every span
    undo = bench.trace_layers(tracer)
    try:
        with tracer.span("op") as op:
            month.run_month(spark, inputs, str(tmp_path / "b"), tracer.span)
    finally:
        for u in undo:
            u()
    stray = tracer.harvest()
    assert not [j for j in stray if op.start_ms <= j["submissionTime"] <= op.end_ms]
    owned = [j["jobId"] for sp in tracer.spans for j in sp.jobs]
    assert len(owned) == len(set(owned)) > 0
    root = tracer.spans.index(op)
    assert op.jobs == []  # every job of the op ran inside a stage span
    stage_jobs = sum(
        tracer.summary(i)["jobs"] for i, sp in enumerate(tracer.spans) if sp.parent == root
    )
    assert stage_jobs == tracer.summary(root)["jobs"] == len(owned)
    assert [sp.name for sp in tracer.spans if sp.parent == root] == list(month.STAGES)
    # the Python workers counted what the raster and interpolation kernels received
    assert tracer.accumulated("raster.granules") == len(inputs.granules)
    assert tracer.accumulated("interp.groups") == inputs.days


def test_catalog_check_catches_each_perturbation(tmp_path):
    from pm25ml_spark.plans.registry import ORACLES, load_all_plans
    from tests.oracle_compare import run_oracle

    load_all_plans()
    copy = tables.write_copy(tables.source(0.001), str(tmp_path / "t"), 1)
    name = "q01_pricing_summary"
    want = run_oracle(ORACLES[name], copy)
    assert len(want) > 1
    assert catalog_panel.mismatch(name, want.sample(frac=1.0, random_state=1), want) is None
    num = next(c for c in want.columns if want[c].dtype.kind == "f")
    changed = want.copy()
    changed.loc[0, num] = changed.loc[0, num] + 1.0
    for bad in (
        want.iloc[1:],  # a row lost
        changed,  # a value off
        want.rename(columns={num: num + "_x"}),  # a column renamed
        want.astype({num: "int64"}) if want[num].notna().all() else changed,  # a type changed
    ):
        assert catalog_panel.mismatch(name, bad, want).startswith(f"{name}:")
    empty = want.iloc[:0]
    assert "empty result" in catalog_panel.mismatch(name, empty, empty)  # agreeing on nothing fails


def test_panel_is_derived_and_covers_the_required_kinds():
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans

    load_all_plans()
    panel = catalog_panel.panel(QUERIES)
    assert [catalog_panel.family(n) for n in panel] == list(bench.FAMILIES)
    assert any(n.startswith("st") for n in panel)
    assert any(n.startswith("d1") and "txlog" in n for n in panel)


@pytest.mark.parametrize("sf", (bench.TINY_SF, bench.CATALOG_SF))
def test_every_panel_query_has_rows(sf):
    """The bundled tables give every panel query a non-empty result, so
    every oracle comparison checks values."""
    from pm25ml_spark.plans.registry import ORACLES, QUERIES, load_all_plans
    from tests.oracle_compare import run_oracle

    load_all_plans()
    empty = [n for n in catalog_panel.panel(QUERIES) if run_oracle(ORACLES[n], str(tables.source(sf))).empty]
    assert empty == []


def test_inputs_follow_the_seed(tmp_path):
    a = month.make_inputs(str(tmp_path / "a"), 3, 6, 6, 2)
    b = month.make_inputs(str(tmp_path / "b"), 3, 6, 6, 2)
    c = month.make_inputs(str(tmp_path / "c"), 4, 6, 6, 2)
    assert a.aot_holes == b.aot_holes != c.aot_holes
    read = lambda g: open(g.path, "rb").read()  # noqa: E731
    assert read(a.granules[0]) == read(b.granules[0]) != read(c.granules[0])
    src = tables.source(0.001)
    ta, tb, tc = (
        pq.read_table(os.path.join(tables.write_copy(src, str(tmp_path / f"t{k}"), s), "lineitem.parquet"))
        for k, s in (("a", 3), ("b", 3), ("c", 4))
    )
    assert ta.equals(tb) and not ta.equals(tc)
    by_all = [(c, "ascending") for c in ta.column_names]
    assert ta.sort_by(by_all).equals(tc.sort_by(by_all))  # the same rows, in another order


def _cli(workload: str, trace: int, cwd: Path = ROOT, tiny: bool = True):
    cmd = [sys.executable, "pm25bench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace)] + (["--tiny"] if tiny else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_every_workload(workload, trace):
    proc = _cli(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = bench.per_layer_units() if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert result["metrics"]["ok_frac"]["value"] == 1.0
    assert not list(ROOT.glob(".pm25bench-*"))  # the scratch dir is gone


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "pm25bench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = _cli("month_small", 0, cwd=tmp_path, tiny=False)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
