"""Oracle-checked STREAMING, STORAGE, and MULTIMODAL queries.

Until round 7 the Structured-Streaming operators, the transaction-log
storage layer, and the multimodal binary-column kernels were verified
only by pytest (streaming-vs-batch duals, race fuzzes, codec round-
trips) — no tabular oracle shape reached the external correctness
driver. These entries close that gap: each one RUNS the real streaming /
storage machinery end-to-end and returns the materialized result as a
batch DataFrame, with a DuckDB oracle computing the same answer
relationally. The streaming drains use ``Trigger.AvailableNow`` into a
memory sink (complete mode — watermark-independent, so the emitted set
is exactly the full-data answer); the storage query commits real
versioned upsert batches to a fresh ``TxTable`` and reads the final
snapshot back.

Determinism: session windows and hourly windows are pure functions of
event time; float totals go through the DECIMAL exact-sum helpers; the
upsert result is latest-batch-wins over deterministic key-range batches.

Scale notes: the session/hourly aggregations carry watermarks, so on an
unbounded stream state is O(open windows), not O(stream); the upsert's
cost is O(touched buckets), never a full-table rewrite (SCALING.md,
``sources/txlog.py``).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.catalog import load_table
from pm25ml_spark.functions.exact import dsum
from pm25ml_spark.plans.registry import query

_GAP_US = 1_800_000_000  # 30 minutes
_HOUR_US = 3_600_000_000


def _tmpdir(prefix: str) -> str:
    """mkdtemp + atexit cleanup: lifecycle queries (txlog stores,
    stream checkpoints, staged stream sources) create fresh dirs per
    invocation — a bench run invokes each entry four times (two timing
    passes at the benched sf + two for the fixed-cost split), so
    uncleaned dirs accrete multiple copies of the events table per
    run. Cleanup at process exit keeps the footprint bounded while the
    dirs stay alive for any deferred job the returned plan still runs."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


# State-store partition count for the catalog's streaming drains: every
# stateful streaming operator creates/commits/snapshots one state store
# PER state partition PER micro-batch (a stream-stream join: 4 per side),
# so per-store fixed cost — not data — dominated the measured st-family
# bench time at 32 shuffle partitions. The drains' state is bounded
# (sessions/windows/users at test sf), so 8 partitions keep full
# parallelism headroom; a production topology sizes this to state
# volume via the same parameter.
_STATE_PARTITIONS = 8


def _isolated(spark: SparkSession) -> SparkSession:
    """Child session for a streaming drain. ``run_available_now`` sizes
    the stateful shuffle via ``spark.sql.shuffle.partitions``, which is
    SESSION-scoped — building the stream (and its memory sink) in a
    fresh ``newSession()`` means the caller's session conf is never
    mutated, and batch queries planned concurrently on the caller's
    session can never pick up the drain's state-partition count (the
    r9 documented caveat, now closed structurally). The child shares
    the SparkContext; only SQL conf/temp-view state is fresh."""
    from pm25ml_spark.session import ensure_runtime_confs

    child = spark.newSession()
    ensure_runtime_confs(child)  # timezone/nanos/Arrow on the fresh state
    # match the parent's batch shuffle sizing for the non-stateful stages
    child.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    # AvailableNow drains don't need the trailing NO-DATA micro-batch the
    # engine runs after the watermark advances: our sinks are complete
    # mode (the empty batch re-emits the identical full table), update
    # mode (no key changed -> emits nothing), or append-mode
    # dedup/inner-join (rows emit on arrival; the empty batch only
    # evicts state that is about to be discarded with the drain).
    # Skipping it removes one full state-store commit round per stateful
    # drain — a per-query pass-count cut, not a local[32] tuning (the
    # same trailing batch is dead weight at any scale). Measured paired
    # at sf0.1: st06 3.96 -> 2.93 s, st02 1.47 -> 1.14 s, rows
    # bit-identical across the st-family (see OPTIMIZATION_r14.md).
    child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return child


def _drain(
    sess_df: DataFrame, tag: str, output_mode: str = "complete"
) -> DataFrame:
    """AvailableNow-drain a streaming frame into a uniquely-named memory
    sink and return the materialized table. The uuid suffix keeps
    repeated invocations in one session (bench + parity + driver) from
    colliding on the sink name or checkpoint dir."""
    from pm25ml_spark.streaming.events import run_available_now

    name = f"{tag}_{uuid.uuid4().hex[:8]}"
    run_available_now(
        sess_df,
        name,
        _tmpdir(prefix=f"{tag}_chk_"),
        output_mode=output_mode,
        state_partitions=_STATE_PARTITIONS,
    )
    return sess_df.sparkSession.table(name)


# --------------------------------------------------------------------------
# st01 — native session windows on the live streaming path. Same session
# semantics as the batch w09 plan (gap-merge when the next event starts
# within <gap> of the running session end), but computed by Spark's
# streaming SessionWindow state operator over a file-source stream. The
# oracle is the relational gaps-and-islands formulation; session_end is
# last-event-time + gap (the session_window contract).
@query(
    "st01_stream_sessions",
    f"""
    WITH flagged AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        > {_GAP_US}
                     OR lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts_us,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + {_GAP_US} AS session_end_us,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def st01_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    from pm25ml_spark.streaming.events import (
        read_events_stream,
        session_windows,
    )

    stream = read_events_stream(spark, sf_dir)
    sess = session_windows(stream, gap="30 minutes", watermark="2 hours")
    out = sess.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )
    return _drain(out, "st01")


# --------------------------------------------------------------------------
# st02 — watermarked tumbling-window aggregation on the live streaming
# path (the 2.11 windowed_counts operator, oracle-checked): hourly event
# count + exact-decimal value total per event_type. complete-mode drain,
# so the memory table holds every window regardless of watermark cutoffs.
@query(
    "st02_stream_hourly_volume",
    f"""
    SELECT CAST(epoch_us(ts) // {_HOUR_US} AS BIGINT) * {_HOUR_US} AS hour_start_us,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st02_stream_hourly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    from pm25ml_spark.streaming.events import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("hour_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _drain(agg, "st02")


# --------------------------------------------------------------------------
# d12 — keyed MERGE through the transaction-log table (the lakehouse
# upsert core, oracle-checked): seed a bucketed TxTable with a base
# snapshot of orders, commit two upsert batches (each updates some live
# keys and inserts new ones), read the final snapshot back. Batches are
# deterministic key-range slices, so the latest-batch-wins state is a
# pure CASE expression in SQL. The +10000/+20000 price deltas are exact
# in IEEE-754 double, so values survive the parquet round-trips bit-for-
# bit. Each invocation builds its own table in a fresh temp dir (the
# returned frame lazily reads those files — they must outlive the call).
@query(
    "d12_txlog_upsert_merge",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 8 IN (2, 3) THEN o_totalprice + 20000.0
                WHEN o_orderkey % 4 IN (1, 3) THEN o_totalprice + 10000.0
                ELSE o_totalprice END AS price,
           CASE WHEN o_orderkey % 8 IN (2, 3) THEN 'b2'
                WHEN o_orderkey % 4 IN (1, 3) THEN 'b1'
                ELSE 'base' END AS src
    FROM orders
    """,
)
def d12_txlog_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.txlog import TxTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    base = orders.filter(k % 4 != 3).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("base").alias("src"),
    )
    b1 = orders.filter((k % 4 == 1) | (k % 4 == 3)).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10000.0).alias("price"),
        F.lit("b1").alias("src"),
    )
    b2 = orders.filter((k % 8 == 2) | (k % 8 == 3)).select(
        "o_orderkey",
        (F.col("o_totalprice") + 20000.0).alias("price"),
        F.lit("b2").alias("src"),
    )
    table = TxTable(spark, _tmpdir(prefix="d12_tx_"))
    table.overwrite(base)
    table.upsert(b1, "o_orderkey", n_buckets=16)
    table.upsert(b2, "o_orderkey", n_buckets=16)
    return table.read().select("o_orderkey", "price", "src")


# --------------------------------------------------------------------------
# st03 — streaming exact dedup ACROSS micro-batches: the events file is
# staged twice into a fresh stream directory (two micro-batches with
# maxFilesPerTrigger=1), so every event_id arrives again one batch
# later; dropDuplicatesWithinWatermark must eliminate the entire second
# batch through the state store (first-arrival rows are identical to
# their duplicates, so which one wins cannot change values). The drained
# rows then aggregate batch-side to per-type counts + exact-decimal
# totals, and the oracle is simply the same aggregate over the ORIGINAL
# table — equality proves the dedup state removed exactly the duplicate
# batch, no more, no less. State is bounded by the 10-day watermark
# (O(keys per watermark horizon), the only viable shape on an unbounded
# ingest).
@query(
    "st03_stream_dedup_totals",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def st03_stream_dedup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    import shutil

    from pm25ml_spark.streaming.events import (
        dedup_stream,
        read_events_stream,
        run_available_now,
    )

    stage = _tmpdir(prefix="st03_src_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events2.parquet")
    stream = read_events_stream(
        spark, stage, max_files_per_trigger=1, glob="events*.parquet"
    )
    deduped = dedup_stream(stream, watermark="10 days", keys=("event_id",))
    name = f"st03_{uuid.uuid4().hex[:8]}"
    run_available_now(
        deduped, name, _tmpdir(prefix="st03_chk_"),
        output_mode="append",
        state_partitions=_STATE_PARTITIONS,
    )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
    )


# --------------------------------------------------------------------------
# mm01 — the multimodal column pipeline, oracle-checked end-to-end:
# render a REAL binary PGM payload per document (deterministic pixel
# formula of doc_id), thumbnail it with the nearest-neighbour resize
# kernel (which exercises the from-spec P5 decoder on every payload),
# then run the feature-extraction kernel over the resized frames. All
# three stages are Arrow-batched mapInPandas over a binary column — the
# exact plumbing shape of a 100 TB image corpus (payloads never leave
# the executors; only 6 small feature doubles come back). The oracle
# re-derives every statistic relationally from the pixel formula at the
# resized sample positions (16→8 nearest-neighbour keeps even indices:
# yi = floor(i*16/8) = 2i). Every arithmetic step lands on dyadic
# rationals (integer pixel sums over 64 cells, /64 divisions, squares
# within 53 bits), so mean/std/p_low are bit-identical across numpy,
# Spark, and DuckDB — the 6-dp round is belt-and-braces, not a fudge.
_MM_W = 16  # rendered size; resized to _MM_W//2
def _mm01_oracle() -> str:
    w = _MM_W
    return f"""
    WITH px AS (
        SELECT d.doc_id,
               (d.doc_id * 31 + (2 * r.r) * 7 + (2 * c.c) * 3) % 251 AS v
        FROM documents d,
             UNNEST(range({w // 2})) AS r(r),
             UNNEST(range({w // 2})) AS c(c)
    )
    SELECT doc_id AS media_id,
           ROUND(AVG(v), 6) AS mean_intensity,
           ROUND(SQRT(AVG(CAST(v AS DOUBLE) * v) - AVG(v) * AVG(v)), 6)
               AS std_intensity,
           ROUND(CAST(COUNT(*) FILTER (WHERE v < 64) AS DOUBLE) / COUNT(*), 6)
               AS p_low,
           1.0 AS aspect_ratio
    FROM px GROUP BY doc_id
    """


@query("mm01_image_decode_stats", _mm01_oracle())
def mm01_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterable, Iterator

    import pandas as pd

    from pm25ml_spark.sources.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        resize_payloads,
    )

    w = _MM_W

    def render(batches: "Iterable[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        header = f"P5\n{w} {w}\n255\n".encode()
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                r = np.arange(w, dtype=np.int64).reshape(-1, 1)
                c = np.arange(w, dtype=np.int64).reshape(1, -1)
                img = ((int(did) * 31 + r * 7 + c * 3) % 251).astype(np.uint8)
                payload = header + img.tobytes()
                rows.append(
                    (int(did), "image", "pgm", w, w, len(payload),
                     bytearray(payload))
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(render, schema=MEDIA_SCHEMA)
    small = resize_payloads(media, w // 2, w // 2)
    feats = extract_features(small)
    return feats.select(
        "media_id",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.round("std_intensity", 6).alias("std_intensity"),
        F.round("p_low", 6).alias("p_low"),
        F.round("aspect_ratio", 6).alias("aspect_ratio"),
    )


# --------------------------------------------------------------------------
# mm02 — the VIDEO face of the multimodal pipeline, oracle-checked:
# render a REAL single-track MP4 per document (sources/mp4.build_mp4 —
# ftyp + mdat + moov with genuine stts/stss/stsc/stsz/stco tables;
# frame count, frame sizes, and display dimensions are deterministic
# functions of doc_id), then SAMPLE KEYFRAMES by walking the sample
# tables (sources/mp4.parse_mp4 + extract_frames) WITHOUT decoding a
# single coded frame — the cheap seek-point sampling a 100 TB video
# corpus runs before any expensive decode. Both stages are Arrow-batched
# mapInPandas over a binary column, chained narrowly (payloads never
# leave the executor; only a dozen small stats come back per video).
# The oracle re-derives every statistic from the generator's closed
# forms. k0_checksum additionally pins the BYTE SLICES extract_frames
# returns (sum of the first keyframe's payload bytes), so chunk-offset
# arithmetic — not just table metadata — is oracle-checked. last_key_ts
# is one IEEE division of exact integers in both engines (i·100 / 1000).
_MM2_FPS = 10  # build_mp4 timescale = fps*100, per-frame delta = 100


def _mm02_frame_count(doc_id: int) -> int:
    return 10 + doc_id % 13


def _mm02_frame_size(doc_id: int, i: int) -> int:
    return 40 + (doc_id * 7 + i * 13) % 100


@query(
    "mm02_video_keyframe_sample",
    """
    WITH d AS (
        SELECT doc_id, 10 + doc_id % 13 AS n FROM documents
    ),
    f AS (
        SELECT doc_id, n, u.i AS i,
               40 + (doc_id * 7 + u.i * 13) % 100 AS sz
        FROM d, UNNEST(range(n)) AS u(i)
    )
    SELECT doc_id AS media_id,
           CAST(MAX(n) AS BIGINT) AS n_frames,
           CAST(16 * (2 + doc_id % 3) AS BIGINT) AS width,
           CAST(16 * (1 + doc_id % 2) AS BIGINT) AS height,
           CAST(COUNT(*) FILTER (WHERE i % 5 = 0) AS BIGINT) AS n_keyframes,
           CAST(SUM(sz) AS BIGINT) AS total_bytes,
           CAST(SUM(sz) FILTER (WHERE i % 5 = 0) AS BIGINT) AS key_bytes,
           ROUND(CAST(MAX(CASE WHEN i % 5 = 0 THEN i END) * 100 AS DOUBLE)
                 / 1000, 6) AS last_key_ts,
           CAST((40 + (doc_id * 7) % 100) * (doc_id % 256) AS BIGINT)
               AS k0_checksum
    FROM f
    GROUP BY doc_id
    """,
)
def mm02_video_keyframe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterable, Iterator

    import pandas as pd

    def render(batches: "Iterable[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from pm25ml_spark.sources.mp4 import build_mp4

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                n = _mm02_frame_count(d)
                frames = [
                    bytes([(d + i) % 256]) * _mm02_frame_size(d, i)
                    for i in range(n)
                ]
                payload = build_mp4(
                    frames,
                    fps=_MM2_FPS,
                    width=16 * (2 + d % 3),
                    height=16 * (1 + d % 2),
                    keyframe_every=5,
                )
                rows.append((d, bytearray(payload)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    def sample(batches: "Iterable[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from pm25ml_spark.sources.mp4 import extract_frames, parse_mp4

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                track = [
                    t for t in parse_mp4(payload) if t.handler == "vide"
                ][0]
                keys = extract_frames(payload, keyframes_only=True)
                rows.append(
                    (
                        int(mid),
                        len(track.samples),
                        int(track.width),
                        int(track.height),
                        len(keys),
                        sum(s.size for s in track.samples),
                        sum(len(b) for _, _, b in keys),
                        round(keys[-1][1], 6),
                        sum(keys[0][2]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_frames", "width", "height",
                    "n_keyframes", "total_bytes", "key_bytes",
                    "last_key_ts", "k0_checksum",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(
        render, schema="media_id bigint, payload binary"
    )
    return media.mapInPandas(
        sample,
        schema=(
            "media_id bigint, n_frames bigint, width bigint, "
            "height bigint, n_keyframes bigint, total_bytes bigint, "
            "key_bytes bigint, last_key_ts double, k0_checksum bigint"
        ),
    )


# --------------------------------------------------------------------------
# mm03 — the AUDIO face of the multimodal pipeline, oracle-checked
# (completing the image/video/audio triad with mm01/mm02): render a
# REAL 16-bit PCM WAV per document (stdlib-backed encode_wav; mono or
# stereo, frame count / channel count / sample rate all deterministic
# functions of doc_id, samples a pseudo-noise integer formula), decode
# it distributed (sources/imaging.decode_wav — exercises RIFF framing +
# int16 interleaving on every payload), and emit integer-exact loudness
# stats. Every aggregate is an integer sum (|v| ≤ 1000, ≤ 2k samples →
# sums well under 2^63); rms is one division + sqrt on exact integers,
# identical IEEE ops in both engines; the 6-dp round is belt-and-braces.
@query(
    "mm03_audio_loudness",
    """
    WITH d AS (
        SELECT doc_id,
               400 + (doc_id % 37) * 16 AS n,
               1 + doc_id % 2 AS ch,
               8000 + (doc_id % 3) * 4000 AS rate
        FROM documents
    ),
    s AS (
        SELECT doc_id, n, ch, rate,
               ((doc_id * 13 + u.j * 7) % 2001) - 1000 AS v
        FROM d, UNNEST(range(n * ch)) AS u(j)
    )
    SELECT doc_id AS media_id,
           CAST(MAX(n) AS BIGINT) AS n_frames,
           CAST(MAX(ch) AS BIGINT) AS n_channels,
           CAST(MAX(rate) AS BIGINT) AS sample_rate,
           CAST(MAX(v) AS BIGINT) AS peak,
           CAST(MIN(v) AS BIGINT) AS trough,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           ROUND(SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)), 6) AS rms
    FROM s
    GROUP BY doc_id
    """,
)
def mm03_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterable, Iterator

    import pandas as pd

    def render(batches: "Iterable[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        from pm25ml_spark.sources.imaging import encode_wav

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                n = 400 + (d % 37) * 16
                ch = 1 + d % 2
                rate = 8000 + (d % 3) * 4000
                j = np.arange(n * ch, dtype=np.int64)
                v = (((d * 13 + j * 7) % 2001) - 1000).astype(np.int16)
                samples = v.reshape(n, ch)
                rows.append((d, bytearray(encode_wav(samples, rate))))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    def loudness(batches: "Iterable[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import math

        import numpy as np

        from pm25ml_spark.sources.imaging import decode_wav

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr, rate = decode_wav(bytes(payload))
                flat = arr.reshape(-1).astype(np.int64)
                sq = int((flat * flat).sum())
                rows.append(
                    (
                        int(mid),
                        int(arr.shape[0]),
                        int(arr.shape[1]),
                        int(rate),
                        int(flat.max()),
                        int(flat.min()),
                        int(np.abs(flat).sum()),
                        round(math.sqrt(sq / len(flat)), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_frames", "n_channels", "sample_rate",
                    "peak", "trough", "sum_abs", "rms",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(
        render, schema="media_id bigint, payload binary"
    )
    return media.mapInPandas(
        loudness,
        schema=(
            "media_id bigint, n_frames bigint, n_channels bigint, "
            "sample_rate bigint, peak bigint, trough bigint, "
            "sum_abs bigint, rms double"
        ),
    )


# --------------------------------------------------------------------------
# st04 — stateful per-user totals as a built-in update-mode streaming
# aggregation, oracle-checked across real micro-batch boundaries: the
# events table is staged as two chronological halves (two micro-batches),
# so roughly every user's state is built up across batches. The state
# store holds integer-exact accumulators (count + event_id checksum) and
# re-emits a user's running totals each batch it appears in (update
# mode); totals are strictly increasing, so the FINAL value per user is
# the max — selected batch-side with a max-struct aggregate. The oracle
# is the plain per-user aggregate: equality proves the state store
# accumulated every batch exactly once.
def _stage_chronological_halves(
    spark, sf_dir: str, prefix: str, event_types: tuple | None = None
) -> str:
    """Write the events table as two chronological parquet halves with
    pinned increasing mtimes (the file source orders batches by mtime),
    so a maxFilesPerTrigger=1 stream replays it as two real micro-
    batches in time order. ``event_types`` pre-filters the staged rows —
    the ingest-side projection a real topology would do before the
    expensive stateful operator. Returns the staging directory.

    Staging is pyarrow on the driver, not a Spark write: the input is
    one test-fixture file (tens of MB), and a ``coalesce(1)`` Spark
    write funnels it through a single task plus a full job per half —
    measured ~3-5 s of pure harness overhead per streaming entry at
    sf0.1. This is TEST-HARNESS plumbing (producing a replayable two-
    batch stream); the operators under test still run on the real
    distributed streaming path. The split point is any ts midpoint —
    the drained results are split-invariant; only batch MEMBERSHIP
    moves with it."""
    import os as _os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stage = _tmpdir(prefix=f"{prefix}_src_")
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    if event_types:
        tbl = tbl.filter(
            pc.is_in(tbl["event_type"], value_set=pa.array(list(event_types)))
        )
    ts = tbl["ts"]
    mid = pc.quantile(ts.cast("int64"), q=0.5).to_pylist()[0]
    mask = pc.less_equal(ts.cast("int64"), int(mid))
    halves = (tbl.filter(mask), tbl.filter(pc.invert(mask)))
    for i, half in enumerate(halves):
        dst = f"{stage}/events_{i}.parquet"
        pq.write_table(half, dst)
        # file-source batch order follows mtime: pin it explicitly
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return stage


@query(
    "st04_stateful_user_checksums",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events
    GROUP BY user_id
    """,
)
def st04_stateful_user_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    from pm25ml_spark.streaming.events import (
        read_events_stream,
        run_available_now,
    )

    stage = _stage_chronological_halves(spark, sf_dir, "st04")
    stream = read_events_stream(
        spark, stage, max_files_per_trigger=1, glob="events_*.parquet"
    )
    # The running per-user (count, event_id-checksum) state is expressible
    # as a BUILT-IN update-mode streaming aggregation: it emits exactly
    # the rows the applyInPandasWithState kernel emitted (one running-
    # total row per user per batch the user appears in — a user's group
    # state changes iff the batch carries its rows), with the same
    # integer-exact accumulators, but the state lives in the JVM hash
    # aggregate instead of round-tripping Arrow batches through a Python
    # worker per state partition per micro-batch (guide §4.1: built-ins
    # over applyInPandas — paired A/B at sf0.1: drain 7.6 s → 1.7 s,
    # emitted rows identical). The custom-stateful ESCAPE HATCH itself
    # (`streaming/events.stateful_user_checksums`, `stateful_user_totals`,
    # `kmv_sketch_stream`) stays exercised by the streaming unit tests —
    # this plan needed its semantics, not its machinery.
    totals = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
    )
    name = f"st04_{uuid.uuid4().hex[:8]}"
    run_available_now(
        totals, name, _tmpdir(prefix="st04_chk_"),
        output_mode="update",
        state_partitions=_STATE_PARTITIONS,
    )
    emitted = spark.table(name)
    # update mode emits one running-total row per (user, batch-appeared);
    # totals increase monotonically, so the final state is the max struct
    final = (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_event_id")).alias("s"))
        .select("user_id", "s.n_events", "s.sum_event_id")
    )
    return final


# --------------------------------------------------------------------------
# d13 — snapshot-isolated TIME TRAVEL, oracle-checked: build the same
# three-commit table as d12, but read back the MIDDLE version — after
# the first upsert batch, before the second. The oracle is the d12 CASE
# without the b2 arm: equality proves a historical read reconstructs
# exactly the files live at that commit, untouched by the later batch's
# bucket rewrites (the rewritten files belong to version 3; version 2's
# log entry still pins the pre-rewrite files).
@query(
    "d13_txlog_time_travel",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 4 IN (1, 3) THEN o_totalprice + 10000.0
                ELSE o_totalprice END AS price,
           CASE WHEN o_orderkey % 4 IN (1, 3) THEN 'b1'
                ELSE 'base' END AS src
    FROM orders
    """,
)
def d13_txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.txlog import TxTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    base = orders.filter(k % 4 != 3).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("base").alias("src"),
    )
    b1 = orders.filter((k % 4 == 1) | (k % 4 == 3)).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10000.0).alias("price"),
        F.lit("b1").alias("src"),
    )
    b2 = orders.filter((k % 8 == 2) | (k % 8 == 3)).select(
        "o_orderkey",
        (F.col("o_totalprice") + 20000.0).alias("price"),
        F.lit("b2").alias("src"),
    )
    table = TxTable(spark, _tmpdir(prefix="d13_tx_"))
    table.overwrite(base)
    v_mid = table.upsert(b1, "o_orderkey", n_buckets=16)
    table.upsert(b2, "o_orderkey", n_buckets=16)
    return table.read(version=v_mid).select("o_orderkey", "price", "src")


# --------------------------------------------------------------------------
# st05 — exactly-once streaming CDC-apply into a transaction-log table
# (the storage × streaming composition): the events stream replays as
# two chronological micro-batches, and each batch MERGEs its rows into a
# bucketed TxTable keyed by user_id (latest row per key by event_id
# wins within a batch; batch rows replace table rows; every commit
# carries a (query, epoch) stamp so a replayed epoch can never
# double-apply). The final table is each user's LATEST event — and
# because event_ids are assigned in time order, that equals the plain
# arg_max oracle. Equality proves the whole chain: per-batch in-batch
# dedup, cross-batch replacement, and exactly-once commit stamping.
@query(
    "st05_stream_cdc_latest_state",
    """
    SELECT user_id,
           MAX(event_id) AS last_event_id,
           arg_max(event_type, event_id) AS last_event_type
    FROM events
    GROUP BY user_id
    """,
)
def st05_stream_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    from pm25ml_spark.sources.txlog import TxTable, sink_stream_upsert
    from pm25ml_spark.streaming.events import read_events_stream

    stage = _stage_chronological_halves(spark, sf_dir, "st05")
    stream = read_events_stream(
        spark, stage, max_files_per_trigger=1, glob="events_*.parquet"
    ).select("user_id", "event_id", "event_type")
    table = TxTable(spark, _tmpdir(prefix="st05_tx_"))
    q = sink_stream_upsert(
        stream,
        table,
        key_col="user_id",
        order_col="event_id",
        query_name=f"st05_{uuid.uuid4().hex[:8]}",
        checkpoint_dir=_tmpdir(prefix="st05_chk_"),
        n_buckets=16,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("st05 CDC stream did not drain in 300s")
    return table.read().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


# --------------------------------------------------------------------------
# st06 — STREAM-STREAM watermarked interval join, oracle-checked across
# real micro-batch boundaries: two filtered branches of the same
# two-batch chronological replay join on (user, purchase within 1 h of
# view). Cross-batch matches — a view buffered in batch 1 joining a
# purchase arriving in batch 2 — exercise the bounded join state for
# real; the 2 h watermark with a 1 h horizon guarantees no buffered view
# is evicted while a qualifying purchase can still arrive (eviction
# needs watermark > view_ts + horizon, and every batch-2 purchase is
# newer than any such view's match window). The oracle is the plain
# interval self-join.
@query(
    "st06_stream_attribution",
    """
    SELECT v.user_id,
           v.event_id AS view_event,
           p.event_id AS purchase_event,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def st06_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    from pm25ml_spark.streaming.events import (
        read_events_stream,
        view_purchase_attribution,
    )

    stage = _stage_chronological_halves(
        spark, sf_dir, "st06", event_types=("view", "purchase")
    )

    def branch(kind: str) -> DataFrame:
        return read_events_stream(
            spark, stage, max_files_per_trigger=1, glob="events_*.parquet"
        ).filter(F.col("event_type") == kind)

    joined = view_purchase_attribution(
        branch("view"), branch("purchase"), horizon="1 hour", watermark="2 hours"
    )
    return _drain(joined, "st06", output_mode="append")


# --------------------------------------------------------------------------
# d14 — small-file COMPACTION invariance, oracle-checked: three append
# commits accrete small files (the streaming-sink accretion shape), then
# compact() rewrites them into balanced files as one atomic commit. The
# read-back must equal the plain union of the appended slices — proving
# the maintenance operation moves BYTES, never rows. Disjoint key-range
# slices keep the oracle a single filter.
@query(
    "d14_txlog_compaction",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    """,
)
def d14_txlog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.txlog import TxTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    table = TxTable(spark, _tmpdir(prefix="d14_tx_"))
    table.append(orders.filter(k % 3 == 0))
    table.append(orders.filter(k % 6 == 1))
    table.append(orders.filter(k % 6 == 4))
    v = table.compact(target_file_bytes=64 * 1024 * 1024)
    # compact returns None when nothing qualified; either way the read
    # below must see exactly the appended rows
    return table.read(version=v).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


# --------------------------------------------------------------------------
# st07 — stream-STATIC enrichment join, oracle-checked: the standard
# streaming-ETL topology the st-family lacked — a micro-batched event
# stream joined against a broadcast static dimension (customer →
# nation), then aggregated per nation in complete mode. The static side
# is planned ONCE and broadcast to every micro-batch (stateless join —
# no watermark, no join state store; the plan's only state is the
# complete-mode aggregate, |nations| rows). Staged as two chronological
# halves so the join provably applies per micro-batch, not once over a
# pre-unioned input. At 100 TB the identical topology holds: dimension
# broadcast, stream side never shuffles before the keyed aggregate.
@query(
    "st07_stream_static_enrichment",
    """
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE)
               AS total_value,
           MAX(epoch_us(e.ts)) AS last_ts_us
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def st07_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    from pm25ml_spark.streaming.events import read_events_stream

    stage = _stage_chronological_halves(spark, sf_dir, "st07")
    stream = read_events_stream(
        spark, stage, max_files_per_trigger=1, glob="events_*.parquet"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").alias("nationkey"),
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        F.max(F.unix_micros("ts")).alias("last_ts_us"),
    )
    return _drain(agg, "st07")


# --------------------------------------------------------------------------
# d15 — keyed DELETE through the transaction log (GDPR-style hard
# delete, oracle-checked): seed a bucketed TxTable with orders via
# upsert, delete a deterministic key slice (every 5th key, plus a batch
# of keys that don't exist — DELETE must be a per-key no-op for those),
# read the final snapshot back. The rewrite touches ONLY the hash
# buckets containing deleted keys (upsert's layout reused); time travel
# still resolves the pre-delete snapshot (pinned by d13's machinery,
# asserted in pytest). The oracle is the plain anti-filter.
@query(
    "d15_txlog_delete",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey % 5 <> 0
    """,
)
def d15_txlog_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.txlog import TxTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    table = TxTable(spark, _tmpdir(prefix="d15_tx_"))
    table.upsert(orders, "o_orderkey")
    doomed = orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey")
    # absent keys (orderkeys are non-negative) — must be silent no-ops
    ghosts = spark.range(3).select(
        (-1 - F.col("id")).cast("long").alias("o_orderkey")
    )
    table.delete_keys(doomed.unionByName(ghosts), "o_orderkey")
    return table.read().select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


# --------------------------------------------------------------------------
# st08 — watermarked SLIDING-window aggregation on the live streaming
# path (every event lands in window/slide = 2 overlapping windows): the
# one window shape of §2.11's streaming family (tumbling st02, session
# st01, sliding) that had no oracle-checked face. Spark aligns window
# origins to the epoch, so the oracle enumerates each event's two
# covering starts arithmetically (floor(t/S)·S − k·S, k ∈ {0,1});
# totals are exact-decimal. complete-mode drain — watermark-independent
# emitted set; state is O(open windows × |event types|) on an unbounded
# stream.
_SLIDE_US = 3_600_000_000  # 1 hour; window = 2 slides


@query(
    "st08_stream_sliding_volume",
    f"""
    WITH e AS (
        SELECT event_type, epoch_us(ts) AS t, value FROM events
    )
    SELECT ((t // {_SLIDE_US}) - u.k) * {_SLIDE_US} AS window_start_us,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM e, UNNEST(range(2)) AS u(k)
    GROUP BY 1, 2
    """,
)
def st08_stream_sliding_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    from pm25ml_spark.streaming.events import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _drain(agg, "st08")


# --------------------------------------------------------------------------
# d16 — additive schema evolution through the transaction log, oracle-
# checked: a table appends half of orders with the original columns,
# later commits the other half carrying a NEW column (priority), and a
# merge-schema read returns the union schema with NULLs where the
# column predates its introduction — the Delta/Iceberg add-column
# contract. The oracle is the plain CASE projection. Cost note: the
# merged read pays one parquet-footer union at planning time; pre-
# evolution snapshots read through time travel keep their own schema
# (pinned in pytest).
@query(
    "d16_txlog_schema_evolution",
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
               AS priority
    FROM orders
    """,
)
def d16_txlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.txlog import TxTable

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    table = TxTable(spark, _tmpdir(prefix="d16_tx_"))
    table.append(
        orders.filter(k % 2 == 0).select("o_orderkey", "o_totalprice")
    )
    table.append(
        orders.filter(k % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderpriority").alias("priority"),
        )
    )
    return table.read(merge_schema=True).select(
        "o_orderkey", "o_totalprice", "priority"
    )


# --------------------------------------------------------------------------
# d17 — RESTORE (version rollback as a new commit), oracle-checked: seed
# orders, apply a "bad" upsert batch (price corruption), then restore
# the pre-corruption version — the operational undo every lakehouse
# needs. The final read must equal the ORIGINAL snapshot (the oracle is
# the plain projection), history keeps both the mistake and the fix,
# and no data file is copied: restore re-references the old files
# (O(log entry), pinned in pytest).
@query(
    "d17_txlog_restore",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    """,
)
def d17_txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.txlog import TxTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table = TxTable(spark, _tmpdir(prefix="d17_tx_"))
    good = table.upsert(orders, "o_orderkey")
    corrupted = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * -1.0).alias("o_totalprice"),
    )
    table.upsert(corrupted, "o_orderkey")
    table.restore(good)
    return table.read().select("o_orderkey", "o_totalprice")


# --------------------------------------------------------------------------
# st09 — STREAMING maintenance of the duplicate-pair edge artifact: the
# foreachBatch composition of the engine's streaming, dedup, and
# storage layers, oracle-checked end-to-end. The documents table is
# staged as two parquet halves and replayed as two real micro-batches;
# each batch appends its shingles to the transaction-log shingle store
# (one commit per batch, text shingled exactly once), probes the
# store's PRE-batch snapshot with the asymmetric prefix-filtered join,
# and appends its delta edges as one commit. The invariant the oracle
# hash-checks: ANY split of the corpus drained through this sink yields
# exactly the from-scratch full-corpus pair list — ingest order cannot
# change an exact pair set. This is the ingest pipeline that keeps the
# gr-family's staged artifact fresh at 100 TB (streaming/
# dedup_maintain.py).
def _st09_oracle() -> str:
    from pm25ml_spark.plans.dedup import _JACCARD_PAIRS, _SHINGLES_CTE

    return f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_PAIRS}
    SELECT doc_a, doc_b, shared,
           CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
    FROM pairs
    WHERE shared * 5 >= 3 * (na + nb - shared)
    """


@query("st09_stream_dedup_graph", _st09_oracle())
def st09_stream_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pm25ml_spark.sources.txlog import TxTable
    from pm25ml_spark.streaming.dedup_maintain import (
        maintain_dup_edges_stream,
        read_documents_stream,
    )

    spark = _isolated(spark)
    # stage two halves by doc_id parity with pinned mtimes (same
    # driver-side pyarrow harness rationale as _stage_chronological_halves;
    # the drained edge set is split-invariant)
    stage = _tmpdir(prefix="st09_src_")
    tbl = pq.read_table(f"{sf_dir}/documents.parquet")
    parity = pc.bit_wise_and(tbl["doc_id"], 1)
    for i in (0, 1):
        dst = f"{stage}/documents_{i}.parquet"
        pq.write_table(tbl.filter(pc.equal(parity, i)), dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = read_documents_stream(
        spark, stage, max_files_per_trigger=1, glob="documents_*.parquet"
    )
    shingle_t = TxTable(spark, _tmpdir(prefix="st09_sh_"))
    edges_t = TxTable(spark, _tmpdir(prefix="st09_ed_"))
    maintain_dup_edges_stream(
        stream,
        shingle_t,
        edges_t,
        query_name=f"st09_{uuid.uuid4().hex[:8]}",
        checkpoint_dir=_tmpdir(prefix="st09_chk_"),
    )
    return edges_t.read().select("doc_a", "doc_b", "shared", "jaccard")


# --------------------------------------------------------------------------
# d18 — Z-ORDERED multi-column data skipping: events laid out on the
# Morton interleave of (user_id, day) and box-queried through
# TxTable.read_pruned_multi. A RANGE layout keeps tight per-file
# min/max for ONE column only — its second predicate dimension spans
# the full range in every file, so a (user, day-window) investigation
# still opens the whole table. The z-key makes each file a compact
# rectangle of the (user_id, day) plane, so the SAME stats machinery
# skips files for box predicates on either or both dimensions (Delta's
# OPTIMIZE ZORDER BY; `operators/zorder.py`). Layout is value-
# invariant: the oracle filters the raw table and the hash compare
# proves pruning moved bytes, never rows. tests/test_zorder.py pins the
# skip itself (files opened < files total for user-only, day-only, and
# box lookups) — the part a result hash cannot see.
_D18_BITS = 10
_D18_U = (3, 9)           # fixed literals valid at every sf
_D18_DAYS = (19730, 19736)  # 2024-01-08 .. 2024-01-14 as epoch days


def zorder_events_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once z-ordered projection of events: (user_id, day_int,
    value) range-partitioned on the interleaved z-key with per-file
    min/max on BOTH predicate columns. At 100 TB this is the clustered
    analytics copy the ingest pipeline maintains next to the raw log."""
    from pm25ml_spark.operators.zorder import zorder_key
    from pm25ml_spark.plans.artifacts import staged_table

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id",
            F.unix_date(F.to_date("ts")).alias("day_int"),
            "value",
        )
        return zorder_key(ev, ["user_id", "day_int"], bits=_D18_BITS)

    return staged_table(
        spark,
        sf_dir,
        "events_zorder",
        (_D18_BITS,),
        build,
        range_col="__z",
        stats_cols=["user_id", "day_int"],
        inputs=("events",),
    )


@query(
    "d18_zorder_box_profile",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MIN(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS first_day,
           MAX(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS last_day
    FROM events
    WHERE user_id BETWEEN {_D18_U[0]} AND {_D18_U[1]}
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY user_id
    """,
)
def d18_zorder_box_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.plans.artifacts import staged_table_handle

    zorder_events_staged(spark, sf_dir)  # ensure the artifact is staged
    t = staged_table_handle(spark, sf_dir, "events_zorder", (_D18_BITS,))
    box = t.read_pruned_multi(
        {"user_id": _D18_U, "day_int": _D18_DAYS}
    )
    return box.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        F.min("day_int").alias("first_day"),
        F.max("day_int").alias("last_day"),
    )


# --------------------------------------------------------------------------
# st10 — STREAMING maintenance of the z-ordered clustered copy: the
# ingest lifecycle that keeps d18's layout fresh. Two chronological
# micro-batches drain through foreachBatch (streaming/zorder_maintain):
# each batch z-keys its rows against the table's FIXED bounds (the
# frozen-quantizer analogue — moving bounds would re-map every existing
# key), range-partitions on the key, and appends one stats-tracked
# commit; a post-drain compact(cluster_col="__z") merges the per-batch
# small files WITHOUT losing the stats prune (the round-10 compaction
# guarantee). The oracle aggregates the RAW events table over the same
# box, so batching, layout, and maintenance must move bytes, never
# rows — and the final read goes through read_pruned_multi, so a
# maintenance pass that broke the stats would surface as a wrong (or
# unprunable) result in tests/test_zorder.py's lifecycle pin.
_ST10_U = (2, 11)
_ST10_DAYS = (19732, 19742)  # 2024-01-10 .. 2024-01-20


def st10_maintained_table(spark: SparkSession, sf_dir: str):
    """Drain the two-batch events stream into a fresh z-maintained
    TxTable and compact it; returns the table handle (shared by the
    catalog query and the lifecycle test)."""
    from pm25ml_spark.sources.txlog import TxTable
    from pm25ml_spark.streaming.events import read_events_stream
    from pm25ml_spark.streaming.zorder_maintain import maintain_zorder_stream

    stage = _stage_chronological_halves(spark, sf_dir, "st10")
    stream = read_events_stream(
        spark, stage, max_files_per_trigger=1, glob="events_*.parquet"
    )
    proj = stream.select(
        "user_id", F.unix_date(F.to_date("ts")).alias("day_int"), "value"
    )
    from pm25ml_spark.operators.zorder import column_bounds

    base = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_date(F.to_date("ts")).alias("day_int")
    )
    bounds = column_bounds(base, ["user_id", "day_int"])
    t = TxTable(spark, _tmpdir("st10_z_"))
    maintain_zorder_stream(
        proj,
        t,
        bounds,
        bits=_D18_BITS,
        query_name=f"st10_{uuid.uuid4().hex[:8]}",
        checkpoint_dir=_tmpdir(prefix="st10_chk_"),
    )
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(t.path, f)) for f in t.snapshot()[1]
    )
    # merge the per-batch accretion into ~4 clustered files
    t.compact(target_file_bytes=max(total // 4, 1 << 20), cluster_col="__z")
    return t


@query(
    "st10_stream_zorder_maintain",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id BETWEEN {_ST10_U[0]} AND {_ST10_U[1]}
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
    GROUP BY user_id
    """,
)
def st10_stream_zorder_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _isolated(spark)  # drain confs never touch the caller's session
    t = st10_maintained_table(spark, sf_dir)
    box = t.read_pruned_multi({"user_id": _ST10_U, "day_int": _ST10_DAYS})
    return box.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


# --------------------------------------------------------------------------
# d19 — TYPED z-dimensions: the clustered copy keyed directly on a
# DATE and a STRING column, the predicate types a production deployment
# actually clusters on (the reference's long-term predicate dimensions
# are month/date/grid_id hive keys — combiners/combined_storage.py:
# 130-144 — not pre-converted ints). The date dim ranks by epoch day,
# the string dim by a frozen dictionary rank; both are pure JVM
# expressions inside whole-stage codegen (operators/zorder.py
# typed_zorder_key), file stats record the TYPED columns (ISO-encoded
# date min/max, plain string min/max), and read_pruned_multi takes the
# typed bounds directly. tests/test_zorder.py pins the skip (files
# opened < files total on date-only, string-only, and box predicates);
# the oracle filters the raw table — layout moves bytes, never rows.
_D19_BITS = 10
_D19_TYPES = ("error", "purchase")   # lexicographic range over the dict
_D19_DATES = ("2024-01-08", "2024-01-14")


def zorder_events_typed_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once typed-z-ordered projection of events: (day DATE,
    event_type STRING, value) range-partitioned on the typed Morton
    key with per-file min/max on BOTH typed predicate columns."""
    from pm25ml_spark.operators.zorder import typed_zorder_key
    from pm25ml_spark.plans.artifacts import staged_table

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            F.to_date("ts").alias("day"), "event_type", "value"
        )
        keyed, _spec = typed_zorder_key(
            ev, ["day", "event_type"], bits=_D19_BITS
        )
        return keyed

    return staged_table(
        spark,
        sf_dir,
        "events_zorder_typed",
        (_D19_BITS,),
        build,
        range_col="__z",
        stats_cols=["day", "event_type"],
        inputs=("events",),
    )


@query(
    "d19_typed_zorder_box_profile",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MIN(CAST(ts AS DATE)) AS first_day,
           MAX(CAST(ts AS DATE)) AS last_day
    FROM events
    WHERE event_type BETWEEN '{_D19_TYPES[0]}' AND '{_D19_TYPES[1]}'
      AND CAST(ts AS DATE) BETWEEN DATE '{_D19_DATES[0]}'
                               AND DATE '{_D19_DATES[1]}'
    GROUP BY event_type
    """,
)
def d19_typed_zorder_box_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from pm25ml_spark.plans.artifacts import staged_table_handle

    zorder_events_typed_staged(spark, sf_dir)  # ensure staged
    t = staged_table_handle(spark, sf_dir, "events_zorder_typed", (_D19_BITS,))
    d0 = dt.date.fromisoformat(_D19_DATES[0])
    d1 = dt.date.fromisoformat(_D19_DATES[1])
    box = t.read_pruned_multi(
        {"day": (d0, d1), "event_type": _D19_TYPES}
    )
    return box.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


# --------------------------------------------------------------------------
# d20 — VACUUM/RETENTION lifecycle, end-to-end: ingest accretes three
# appends, compact rewrites the small files (old versions keep
# resolving to the originals — time travel), vacuum retires the files
# no live snapshot references and RECORDS the retirement as a log
# entry, and the query aggregates the post-vacuum CURRENT snapshot. If
# vacuum deleted a live file the read breaks; if compaction lost or
# duplicated rows the hash mismatches — the oracle is the raw events
# table, so the whole retention lifecycle must be row-invariant.
# tests/test_txlog.py pins the boundary semantics a result hash cannot
# see: time travel to a vacuumed version raises VacuumedSnapshotError
# (a documented error, never a silent partial read), the current
# snapshot stays readable, and the vacuum entry lists the retired
# files.
@query(
    "d20_vacuum_lifecycle",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def d20_vacuum_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.txlog import TxTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 3).alias("__part")
    )
    t = TxTable(spark, _tmpdir("d20_vac_"))
    for i in range(3):  # ingest accretion: three small commits
        t.append(ev.filter(F.col("__part") == i).drop("__part"))
    pre_compact = t.latest_version()
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(t.path, f)) for f in t.snapshot()[1]
    )
    # crash residue: a writer dies between its parallel file write and
    # its atomic commit — parquet on disk that no log entry references
    orphan_files, _, _ = t._write_files(ev.limit(5).drop("__part"))
    t.compact(target_file_bytes=max(total, 1 << 20))
    dead = t.vacuum(orphans=True, orphan_grace_sec=0.0)
    # lifecycle sanity (cheap metadata checks, not data reads): vacuum
    # retired the pre-compact files, reclaimed the never-committed
    # orphans, and logged both — real guards, not asserts, so -O runs
    # keep them
    if not dead:
        raise RuntimeError("compact left nothing for vacuum to retire")
    last = t.history()[-1]
    if last["op"] != "vacuum":
        raise RuntimeError("vacuum did not record its retirement entry")
    if sorted(last.get("orphans_swept", [])) != sorted(orphan_files):
        raise RuntimeError("orphan sweep missed the uncommitted residue")
    if any(
        _os.path.exists(_os.path.join(t.path, f)) for f in orphan_files
    ):
        raise RuntimeError("swept orphan files still on disk")
    _ = pre_compact  # boundary semantics pinned in tests/test_txlog.py
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


# --------------------------------------------------------------------------
# st11 — STREAMING maintenance of the TYPED clustered copy: d19's
# (day DATE, event_type STRING) layout kept fresh from a real
# Structured Streaming source with the exactly-once stamp protocol.
# Each micro-batch ranks its rows against the FROZEN typed spec (epoch-
# day rank for the date dim, dictionary rank for the string dim — both
# pure JVM), range-partitions on the Morton key, and lands one stamped,
# stats-tracked commit carrying typed drift counters; a post-drain
# clustered compact merges the per-batch files without losing the ISO-
# encoded date stats. The oracle aggregates the RAW events table over
# the same typed box — batching, typed ranking, layout, exactly-once
# stamping, and compaction must all be row-invariant.
_ST11_TYPES = ("purchase", "view")
_ST11_DATES = ("2024-01-05", "2024-01-25")


def st11_maintained_table(spark: SparkSession, sf_dir: str):
    """Drain the two-batch events stream into a typed z-maintained
    TxTable and compact it; returns the table handle (shared by the
    catalog query and any lifecycle test)."""
    from pm25ml_spark.operators.zorder import typed_bounds
    from pm25ml_spark.sources.txlog import TxTable
    from pm25ml_spark.streaming.events import read_events_stream
    from pm25ml_spark.streaming.zorder_maintain import maintain_zorder_stream

    stage = _stage_chronological_halves(spark, sf_dir, "st11")
    stream = read_events_stream(
        spark, stage, max_files_per_trigger=1, glob="events_*.parquet"
    )
    proj = stream.select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    # spec frozen from the raw corpus — the production posture: bounds/
    # dictionaries derive from the established table, never from the
    # incoming batch (a batch-derived spec would re-map existing keys)
    base = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    spec = typed_bounds(base, ["day", "event_type"])
    t = TxTable(spark, _tmpdir("st11_z_"))
    maintain_zorder_stream(
        proj,
        t,
        spec=spec,
        bits=_D19_BITS,
        query_name=f"st11_{uuid.uuid4().hex[:8]}",
        checkpoint_dir=_tmpdir(prefix="st11_chk_"),
    )
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(t.path, f)) for f in t.snapshot()[1]
    )
    t.compact(target_file_bytes=max(total // 4, 1 << 20), cluster_col="__z")
    return t


@query(
    "st11_stream_typed_zorder",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MIN(CAST(ts AS DATE)) AS first_day,
           MAX(CAST(ts AS DATE)) AS last_day
    FROM events
    WHERE event_type BETWEEN '{_ST11_TYPES[0]}' AND '{_ST11_TYPES[1]}'
      AND CAST(ts AS DATE) BETWEEN DATE '{_ST11_DATES[0]}'
                               AND DATE '{_ST11_DATES[1]}'
    GROUP BY event_type
    """,
)
def st11_stream_typed_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    spark = _isolated(spark)  # drain confs never touch the caller's session
    t = st11_maintained_table(spark, sf_dir)
    d0 = dt.date.fromisoformat(_ST11_DATES[0])
    d1 = dt.date.fromisoformat(_ST11_DATES[1])
    box = t.read_pruned_multi(
        {"day": (d0, d1), "event_type": _ST11_TYPES}
    )
    return box.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )
