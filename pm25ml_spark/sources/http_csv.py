"""CSV-over-HTTP measurement sources (SURVEY S9/S10).

Reference shape (`collectors/pm25/data_source.py:43-142`): build one
measurements URL per month, `pl.scan_csv(urls)` them on the driver,
aggregate station stats; plus a stations CSV whose ``coordinates`` column
is a stringified ``{'longitude': .., 'latitude': ..}`` dict.

Spark-first shape: the URL list is a *manifest DataFrame* and each URL is
fetched and parsed inside a ``mapInPandas`` task — the fetch fans out
across executors (one task per core, each looping over its month-files),
rows land partitioned, and nothing funnels through the driver. At 1000
executors the fetch is bandwidth-bound, not driver-bound.

Fetching uses stdlib ``urllib`` only, with bounded retries; ``file://``
URLs work identically (tests exercise a real local HTTP server AND file
URLs). The coordinate struct parse is JVM-side ``from_json`` after a
quote normalization — no Python UDF in the row path.
"""

from __future__ import annotations

import io
import time
import urllib.request
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def month_urls(
    base_uri: str,
    months: list[str],
    *,
    source: str = "cpcb",
    pollutant: str = "pm25",
    process_id: str = "station_day_mad",
) -> list[str]:
    """One measurements URL per month, date_to inclusive
    (data_source.py:40-59)."""
    out = []
    for m in months:
        start = pd.Timestamp(m + "-01")
        end = start + pd.offsets.MonthEnd(1)
        out.append(
            f"{base_uri}/v1/measurements?format=csv"
            f"&process_id={process_id}"
            f"&date_from={start:%Y-%m-%d}"
            f"&date_to={end:%Y-%m-%d}"
            f"&source={source}&pollutant={pollutant}"
        )
    return out


def _fetch_bytes(url: str, timeout_s: float, retries: int) -> bytes:
    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            with urllib.request.urlopen(url, timeout=timeout_s) as resp:
                return resp.read()
        except Exception as exc:  # noqa: BLE001 - re-raised after retries
            last = exc
            if attempt < retries:
                time.sleep(min(2.0**attempt * 0.1, 2.0))
    raise IOError(f"failed to fetch {url!r} after {retries + 1} attempts: {last}")


def read_csv_urls(
    spark: SparkSession,
    urls: list[str],
    schema: StructType | str,
    *,
    timeout_s: float = 60.0,
    retries: int = 2,
) -> DataFrame:
    """Distributed CSV-over-HTTP reader: one task per core (at most one
    per URL), each looping over its URLs; declared schema (header row is
    matched by name, surplus columns dropped, missing ones null) so the
    result is stable regardless of server column order."""
    target = (
        schema
        if isinstance(schema, StructType)
        else spark.createDataFrame([], schema).schema
    )
    names = [f.name for f in target.fields]
    manifest = spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
        max(1, min(len(urls), spark.sparkContext.defaultParallelism))
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for url in pdf["url"]:
                raw = _fetch_bytes(url, timeout_s, retries)
                try:
                    got = pd.read_csv(io.BytesIO(raw))
                except Exception as exc:  # noqa: BLE001 - name the URL
                    raise IOError(
                        f"unparseable CSV from {url!r}: {exc}"
                    ) from exc
                if not any(n in got.columns for n in names):
                    # a schema change or an error page served with 200
                    # must fail loudly with the URL, not as an opaque
                    # pandas constructor error inside the executor
                    raise IOError(
                        f"{url!r}: none of the declared columns {names} "
                        f"present (got {list(got.columns)[:10]})"
                    )
                yield pd.DataFrame(
                    {
                        n: (got[n] if n in got.columns else None)
                        for n in names
                    },
                    index=got.index,
                )

    return manifest.mapInPandas(fn, schema=target)


MEASUREMENT_SCHEMA = (
    "location_id string, date string, value double"
)

STATION_SCHEMA = "id string, coordinates string"


def station_stats(measurements: DataFrame) -> DataFrame:
    """Per-station q1/q3/IQR over the fetched measurements
    (data_source.py:62-76) — exact percentiles, one hash aggregate."""
    return measurements.groupBy("location_id").agg(
        F.expr("percentile(value, 0.25)").alias("station_q1"),
        F.expr("percentile(value, 0.75)").alias("station_q3"),
        F.expr(
            "percentile(value, 0.75) - percentile(value, 0.25)"
        ).alias("station_iqr"),
    )


def parse_station_coordinates(stations: DataFrame) -> DataFrame:
    """Extract longitude/latitude from the stringified coordinates dict
    (data_source.py:99-116). The reference uses ast.literal_eval per row;
    here the python-dict spelling is normalized to JSON and parsed with
    JVM-side from_json — no Python in the row path."""
    as_json = F.regexp_replace(F.col("coordinates"), "'", '"')
    parsed = F.from_json(as_json, "longitude double, latitude double")
    return stations.select(
        "id",
        parsed.getField("longitude").alias("longitude"),
        parsed.getField("latitude").alias("latitude"),
    )
