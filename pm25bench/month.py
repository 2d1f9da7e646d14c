"""The month workloads: one op is one 30-day month of ``Pm25Pipeline``.

Inputs are made from the seed at set-up:

- classic NetCDF granules in MERRA layout (time x lat x lon over the
  India bounding box), one file per day and variable, written with
  ``sources.netcdf3.write_netcdf3``;
- the cells with no data: a seeded set of cells loses ``aot`` (the
  imputation target) on every day, another set loses ``t2m`` (the
  interpolated column).

Every op writes to a fresh bucket. The checks run after the op, outside
the timed window.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

MONTH = "2023-01"
# India bounding box (W, S, E, N) and the MERRA-2 lon/lat steps
BBOX = (68.0, 6.0, 98.0, 38.0)
LON_STEP, LAT_STEP = 0.625, 0.5
HOURS = 8  # time steps per granule (3-hourly)
FILL = np.float32(1.0e15)  # MERRA-2 _FillValue
AOT_HOLE_SHARE = 1 / 7
T2M_HOLE_SHARE = 1 / 11

# the stages of Pm25Pipeline, in order; tracer spans use these names
STAGES = (
    "ingest",
    "combine",
    "interpolate",
    "features",
    "sample",
    "train_impute",
    "export",
)


@dataclass
class MonthInputs:
    nx: int
    ny: int
    days: int
    granules: list  # list[RasterGranule]
    aot_holes: list[int]
    t2m_holes: list[int]

    @property
    def cells(self) -> int:
        return self.nx * self.ny

    @property
    def cell_days(self) -> int:
        return self.cells * self.days


def _field(rng: np.random.Generator, lons, lats, base, amp, noise):
    """Smooth seeded field over the bbox plus hourly noise, (time, lat, lon)."""
    kx, ky, phase = rng.uniform(0.05, 0.3), rng.uniform(0.05, 0.3), rng.uniform(0, 6.3)
    plane = base + amp * np.sin(kx * lons[None, :] + phase) * np.cos(ky * lats[:, None])
    hourly = plane[None] + rng.normal(0.0, noise, (HOURS, len(lats), len(lons)))
    return hourly.astype(np.float32)


def write_granules(root: str, seed: int, days: int) -> list:
    """One MERRA-layout NetCDF file per (day, variable) under ``root``."""
    from pm25ml_spark.sources.netcdf3 import write_netcdf3
    from pm25ml_spark.sources.raster import RasterGranule

    rng = np.random.default_rng([seed, 1])
    lons = np.arange(BBOX[0], BBOX[2] + 1e-9, LON_STEP)
    lats = np.arange(BBOX[1], BBOX[3] + 1e-9, LAT_STEP)
    os.makedirs(root, exist_ok=True)
    granules = []
    for d in range(1, days + 1):
        date = f"{MONTH}-{d:02d}"
        for var, base, amp, noise in (("aot", 0.4, 0.2, 0.02), ("t2m", 295.0, 8.0, 0.5)):
            vals = _field(rng, lons, lats, base, amp, noise)
            # a few fill values per file, never a whole column: the time
            # mean stays defined at every lon/lat point
            vals[0, rng.integers(0, len(lats), 4), rng.integers(0, len(lons), 4)] = FILL
            path = os.path.join(root, f"MERRA2_400.tavg1_2d.{var}.{date}.nc4")
            write_netcdf3(
                path,
                dims={"time": HOURS, "lat": len(lats), "lon": len(lons)},
                variables={
                    "time": (("time",), np.arange(HOURS, dtype=np.int32) * 180, {"units": f"minutes since {date} 01:30:00"}),
                    "lat": (("lat",), lats, {"units": "degrees_north"}),
                    "lon": (("lon",), lons, {"units": "degrees_east"}),
                    var: (("time", "lat", "lon"), vals, {"_FillValue": FILL, "missing_value": FILL}),
                },
            )
            granules.append(RasterGranule(path, date, var, bbox=BBOX))
    return granules


def make_inputs(root: str, seed: int, nx: int, ny: int, days: int) -> MonthInputs:
    rng = np.random.default_rng([seed, 2])
    cells = nx * ny
    aot = np.sort(rng.choice(cells, max(1, round(cells * AOT_HOLE_SHARE)), replace=False))
    t2m = np.sort(rng.choice(cells, max(1, round(cells * T2M_HOLE_SHARE)), replace=False))
    granules = write_granules(os.path.join(root, f"granules_{seed}_{nx}x{ny}_{days}d"), seed, days)
    return MonthInputs(nx, ny, days, granules, aot.tolist(), t2m.tolist())


def settings(bucket: str):
    """The ``PipelineSettings`` of ``pipeline.bench_pipeline``."""
    from pm25ml_spark.pipeline import PipelineSettings

    return PipelineSettings(
        bucket=bucket,
        target="m2__aot",
        feature_cols=("m2__t2m", "grid__lon", "grid__lat"),
        sample_fraction=0.5,
        n_folds=2,
        max_iter=5,
        interpolate_cols=("m2__t2m",),
    )


def run_month(spark, inputs: MonthInputs, bucket: str, span) -> str:
    """One op: the whole month through every pipeline stage. ``span(name)``
    is a context manager wrapped around each stage. Returns the raster path."""
    from pyspark.sql import functions as F

    from pm25ml_spark.pipeline import Pm25Pipeline
    from pm25ml_spark.sources.grid import synthetic_grid

    grid = synthetic_grid(spark, nx=inputs.nx, ny=inputs.ny)
    pipe = Pm25Pipeline(spark, grid, settings(bucket))
    with span("ingest"):
        pipe.ingest(inputs.granules)
    with span("combine"):
        ds = (
            pipe.store.scan_stage("ingested")
            .drop("month")
            .withColumn("aot", F.when(F.col("grid_id").isin(inputs.aot_holes), None).otherwise(F.col("aot")))
            .withColumn("t2m", F.when(F.col("grid_id").isin(inputs.t2m_holes), None).otherwise(F.col("t2m")))
        )
        pipe.combine({"m2": ds})
    with span("interpolate"):
        pipe.interpolate()
    with span("features"):
        pipe.features(["m2__aot", "m2__t2m"])
    with span("sample"):
        pipe.sample()
    with span("train_impute"):
        pipe.train_and_impute()
    with span("export"):
        return pipe.export(f"{bucket}/final")


def check_month(spark, inputs: MonthInputs, bucket: str, raster_path: str) -> list[str]:
    """The month invariants; returns the failed ones (empty when all hold)."""
    from pyspark.sql import functions as F

    from pm25ml_spark.sources.results import read_raster

    failed = []
    ingested = spark.read.parquet(f"{bucket}/stage=ingested").count()
    if ingested != inputs.cell_days:
        failed.append(f"ingested rows {ingested} != {inputs.cell_days}")
    cube = read_raster(raster_path)["value"]
    if cube.shape != (inputs.days, inputs.ny, inputs.nx):
        failed.append(f"raster shape {cube.shape} != {(inputs.days, inputs.ny, inputs.nx)}")
    elif np.isnan(cube).any():
        failed.append("raster has NaN cells")
    row = (
        spark.read.parquet(f"{bucket}/stage=imputed")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("m2__aot__imputed").isNull().cast("long")).alias("nulls"),
            F.sum("m2__aot__imputed_flag").alias("flags"),
        )
        .first()
    )
    if row["nulls"]:
        failed.append(f"{row['nulls']} null m2__aot__imputed")
    want = len(inputs.aot_holes) * inputs.days
    if row["n"] != inputs.cell_days or row["flags"] != want:
        failed.append(
            f"imputed flag share {row['flags']}/{row['n']} != seeded hole share {want}/{inputs.cell_days}"
        )
    return failed


def fresh_bucket(root: str, i: int) -> str:
    path = os.path.join(root, f"bucket_{i}")
    shutil.rmtree(path, ignore_errors=True)
    return path
