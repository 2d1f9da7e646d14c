"""Raster reader plumbing (S12/S13/K2) and multimodal column operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.sources.multimodal import (
    extract_features,
    metadata_only_profile,
    resize_payloads,
    synthesize_media_table,
)
from pm25ml_spark.sources.raster import (
    RasterGranule,
    bilinear_regrid,
    decode_granule,
    read_granules_to_grid,
)


def test_bilinear_regrid_exact_on_plane():
    lons = np.arange(0.0, 10.0, 1.0)
    lats = np.arange(0.0, 8.0, 1.0)
    grid = 2.0 * lons[None, :] + 3.0 * lats[:, None] + 1.0
    q_lon = np.array([2.5, 7.25, 0.0])
    q_lat = np.array([3.5, 1.75, 0.0])
    got = bilinear_regrid(lons, lats, grid, q_lon, q_lat)
    assert got == pytest.approx(2.0 * q_lon + 3.0 * q_lat + 1.0)


def test_bilinear_regrid_clamps_outside():
    lons = np.arange(0.0, 3.0, 1.0)
    lats = np.arange(0.0, 3.0, 1.0)
    grid = np.arange(9.0).reshape(3, 3)
    got = bilinear_regrid(lons, lats, grid, np.array([-5.0]), np.array([-5.0]))
    assert got[0] == 0.0  # clamped to corner


def test_read_granules_distributed(spark):
    grid_pdf = pd.DataFrame(
        {
            "grid_id": np.arange(20, dtype=np.int64),
            "lon": np.linspace(65.0, 95.0, 20),
            "lat": np.linspace(8.0, 35.0, 20),
        }
    )
    granules = [
        RasterGranule(f"fake://m2/{d}.nc", f"2023-01-{d:02d}", "aot")
        for d in range(1, 6)
    ]
    out = read_granules_to_grid(spark, granules, grid_pdf)
    pdf = out.toPandas()
    assert len(pdf) == 5 * 20  # one row per granule-day × grid cell
    assert set(pdf.date.unique()) == {f"2023-01-{d:02d}" for d in range(1, 6)}
    assert pdf.value.notna().all()
    # determinism: same manifest → identical values
    pdf2 = read_granules_to_grid(spark, granules, grid_pdf).toPandas()
    a = pdf.sort_values(["date", "grid_id"]).value.to_numpy()
    b = pdf2.sort_values(["date", "grid_id"]).value.to_numpy()
    assert np.array_equal(a, b)


def test_read_granules_one_task_per_core(spark):
    """Each Python task pays a fixed worker cost far above one granule's
    decode, so the reader runs one task per core that loops over its
    granules: no exchange spreads the manifest one granule per task, no
    more tasks start than there are granules, and every granule is still
    decoded exactly as on its own."""
    cores = spark.sparkContext.defaultParallelism
    grid_pdf = pd.DataFrame(
        {
            "grid_id": np.arange(12, dtype=np.int64),
            "lon": np.linspace(62.0, 97.0, 12),
            "lat": np.linspace(6.0, 38.0, 12),
        }
    )
    many = [
        RasterGranule(
            f"fake://merra/{i}.nc", f"2023-{1 + i // 28:02d}-{1 + i % 28:02d}", "t2m"
        )
        for i in range(3 * cores + 1)
    ]
    out = read_granules_to_grid(spark, many, grid_pdf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("MapInPandas", 1)[1], plan
    assert out.rdd.getNumPartitions() <= cores
    pdf = out.toPandas()
    assert len(pdf) == len(many) * len(grid_pdf)
    for g in many:
        got = pdf[pdf.date == g.date].sort_values("grid_id")["value"].to_numpy()
        want = bilinear_regrid(
            *decode_granule(g.path, g.variable),
            grid_pdf["lon"].to_numpy(),
            grid_pdf["lat"].to_numpy(),
        )
        assert np.array_equal(got, want), g
    # fewer granules than cores: no task beyond one per granule
    few = many[: max(1, cores // 2)]
    assert read_granules_to_grid(spark, few, grid_pdf).rdd.getNumPartitions() == len(few)


def test_media_features(spark):
    media = synthesize_media_table(spark, n=12)
    feats = extract_features(media).toPandas()
    assert len(feats) == 12
    assert (feats.mean_intensity.between(0, 255)).all()
    assert (feats.p_low.between(0, 1)).all()


def test_media_resize_roundtrip(spark):
    media = synthesize_media_table(spark, n=6)
    small = resize_payloads(media, 4, 4)
    pdf = small.toPandas()
    assert (pdf.width == 4).all() and (pdf.height == 4).all()
    assert (pdf.n_bytes == 16).all()
    # resized payloads decode to 4x4 arrays
    assert all(len(bytes(p)) == 16 for p in pdf.payload)


def test_metadata_profile_prunes_payload(spark):
    media = synthesize_media_table(spark, n=12)
    prof = metadata_only_profile(media)
    rows = {r.kind: r for r in prof.collect()}
    assert set(rows) == {"image", "audio", "video"}
    assert all(r.total_bytes > 0 for r in rows.values())
    # column pruning: payload must not appear in the aggregate's input
    plan = prof._jdf.queryExecution().optimizedPlan().toString()
    first_project_has_payload = "payload" in plan.split("Aggregate")[0]
    assert not first_project_has_payload


def test_media_frame_sampling(spark):
    from pm25ml_spark.sources.multimodal import sample_frames, synthesize_media_table

    media = synthesize_media_table(spark, n=12)
    n_videos = media.filter("kind = 'video'").count()
    frames = sample_frames(media, n_frames=3)
    got = frames.collect()
    # only video rows explode; ≤ 3 frames each, deterministic indices
    assert {r.media_id for r in got} == {
        r.media_id for r in media.filter("kind = 'video'").collect()
    }
    assert len(got) <= 3 * n_videos and len(got) >= n_videos
    per = {}
    for r in got:
        per.setdefault(r.media_id, []).append(r.frame_idx)
        assert r.height == 1 and len(bytes(r.frame)) == r.width
    for idxs in per.values():
        assert idxs == sorted(idxs)
    # systematic variant: every 2nd frame
    sys_frames = sample_frames(media, every_n=2).collect()
    assert all(r.frame_idx % 2 == 0 for r in sys_frames)
