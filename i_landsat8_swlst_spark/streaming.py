"""Structured Streaming ingest of scene tiles.

The reference is strictly batch (SURVEY.md §2.2 documents the negative) and
BASELINE.json:14 frames production as checkpoint-resumable batch jobs — this
module is the graft's *ingest* path for continuously arriving scene drops:

  file-source stream of scene parquet  ->  event-time watermark (acquisition
  date parsed from the caption)  ->  dropDuplicatesWithinWatermark(image_id)
  (re-delivered tiles are dropped exactly like the batch resume anti-join)
  ->  the same Arrow decode kernel  ->  checkpointed append sink partitioned
  by scene_id.

Everything runs under ``trigger(availableNow=True)``: each invocation drains
whatever files have landed and stops, so the same code is a cron-style
incremental batch OR a long-running stream — and tests need no daemon.

Scale notes: the file source lists only NEW files per micro-batch (the
checkpoint's file log is the lineage); dedup state is keyed by image_id and
bounded by the watermark horizon; the sink's exactly-once story is the
standard streaming-commit-log + idempotent file names.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import codecs
from .pipeline import _nan_none, _tile_rows, parse_scenes

SCENES_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("fmt", StringType()),
    StructField("caption", StringType()),
    StructField("phash", LongType()),
])

TILE_STATS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("band", IntegerType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("acq_date", StringType()),
    StructField("n_px", LongType()),
    StructField("dn_min", DoubleType()),
    StructField("dn_max", DoubleType()),
    StructField("dn_mean", DoubleType()),
])


def _with_event_time(scenes: DataFrame) -> DataFrame:
    """Event time = acquisition date parsed from the caption (deterministic,
    round-trips with synth.caption_for)."""
    return scenes.withColumn(
        "acq_ts",
        F.to_timestamp(F.regexp_extract("caption", r"acquired=(\d{4}-\d{2}-\d{2})", 1)),
    )


def _decode_stats(df: DataFrame) -> DataFrame:
    """Same Arrow-batched decode discipline as the batch kernel (C2 input
    side), per single band — streaming pairs arrive independently, so the
    per-band stats table is the streaming analog of lst_tiles' input audit."""

    def fn(row, w, h):
        img = codecs.decode_tile(row.bytes, w, h, row.fmt)
        yield (img.size, _nan_none(float(img.min())), _nan_none(float(img.max())),
               _nan_none(round(float(img.mean()), 6)))

    return _tile_rows(df, TILE_STATS_SCHEMA, fn, (
        "image_id", "scene_id", "band", "tile_x", "tile_y", "acq_date"))


def stream_tile_stats(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dedup_horizon: str = "365 days",
) -> None:
    """Drain all pending scene-parquet drops into the tile-stats sink.

    Exactly-once per image_id: the file log skips already-processed FILES,
    and dropDuplicatesWithinWatermark skips re-delivered ROWS (same tile in
    a later drop) while their event time is within `dedup_horizon`."""
    raw = spark.readStream.schema(SCENES_SCHEMA).parquet(in_dir)
    deduped = (
        _with_event_time(raw)
        .withWatermark("acq_ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["image_id"])
    )
    parsed = parse_scenes(deduped).withColumn(
        "acq_date", F.date_format("acq_ts", "yyyy-MM-dd"))
    stats = _decode_stats(parsed.select(
        "image_id", "scene_id", "band", "tile_x", "tile_y", "acq_date",
        "bytes", "w", "h", "fmt"))
    q = (
        stats.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("scene_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_windowed_counts(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
) -> None:
    """Event-time tumbling-window aggregation with late-data handling: tiles
    per (scene, 1-day acquisition window). Append mode — a window row is
    emitted only once its window is below the watermark (finalized), the
    standard Structured Streaming contract."""
    raw = spark.readStream.schema(SCENES_SCHEMA).parquet(in_dir)
    counts = (
        _with_event_time(raw)
        .withColumn("scene_id", F.regexp_extract("image_id", r"^([^/]+)/", 1))
        .withWatermark("acq_ts", watermark)
        .groupBy(F.window("acq_ts", "1 day").alias("win"), "scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"))
        .select(
            F.col("win.start").alias("win_start"),
            "scene_id", "n_tiles",
        )
    )
    q = (
        counts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_pair_lst(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    meta_pdf: pd.DataFrame,
    emis_pdf: pd.DataFrame,
    window: int = 5,
    horizon: str = "30 days",
) -> None:
    """Stream-stream band-pair join -> fused LST kernel -> append sink.

    The ingest-time analog of pipeline.pair_bands: band-10 and band-11 tiles
    arrive in ANY order across file drops; each side is watermarked on
    acquisition time and the inner self-join keeps unmatched tiles in the
    state store until the partner lands (or the watermark passes) — so a
    band-10 tile from drop 1 pairs with its band-11 partner from drop 2
    without any batch-side bookkeeping. The join condition includes event-
    time equality (tiles of one scene share acquisition time), which is what
    bounds join state eviction. MTL constants and emissivities are STATIC
    broadcast joins against the stream — the standard stream-static enrich.
    The paired stream then runs the SAME pipeline.lst_tiles fused Arrow
    kernel as batch (one code path for both).
    """
    from . import pipeline

    raw = spark.readStream.schema(SCENES_SCHEMA).parquet(in_dir)
    parsed = pipeline.parse_scenes(
        _with_event_time(raw).withWatermark("acq_ts", horizon))
    key = ["scene_id", "tile_x", "tile_y"]
    b10 = parsed.filter(F.col("band") == 10).select(
        *key,
        F.col("acq_ts").alias("ts10"),
        F.col("image_id").alias("image_id_b10"),
        F.col("bytes").alias("bytes_b10"),
        F.col("fmt").alias("fmt_b10"),
        "w", "h",
        F.col("caption").alias("caption_b10"),
        "landcover",
    )
    b11 = parsed.filter(F.col("band") == 11).select(
        F.col("scene_id").alias("scene_id_11"),
        F.col("tile_x").alias("tile_x_11"),
        F.col("tile_y").alias("tile_y_11"),
        F.col("acq_ts").alias("ts11"),
        F.col("image_id").alias("image_id_b11"),
        F.col("bytes").alias("bytes_b11"),
        F.col("fmt").alias("fmt_b11"),
        F.col("caption").alias("caption_b11"),
    )
    paired = (
        b10.join(
            b11,
            (F.col("scene_id") == F.col("scene_id_11"))
            & (F.col("tile_x") == F.col("tile_x_11"))
            & (F.col("tile_y") == F.col("tile_y_11"))
            & (F.col("ts10") == F.col("ts11")),  # event-time bound for state eviction
            "inner",
        )
        .drop("scene_id_11", "tile_x_11", "tile_y_11", "ts10", "ts11")
    )
    meta = spark.createDataFrame(meta_pdf)
    emis = spark.createDataFrame(emis_pdf)
    enriched = pipeline.with_emissivity(pipeline.with_meta(paired, meta), emis)
    tiles = pipeline.lst_tiles(enriched, window=window, emit_arrays=False).select(
        "image_id", "scene_id", "tile_x", "tile_y",
        "n_valid", "lst_min", "lst_max", "lst_mean", "cwv_mean")
    q = (
        tiles.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("scene_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


PROGRESS_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("band", IntegerType()),
    StructField("tiles_seen", LongType()),
    StructField("px_seen", LongType()),
    StructField("expected_tiles", LongType()),
    StructField("complete", StringType()),  # 'yes'/'no' (stable value hash)
])

_PROGRESS_STATE = StructType([
    StructField("tiles_seen", LongType()),
    StructField("px_seen", LongType()),
])


def stream_scene_progress(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    expected_tiles: int,
) -> None:
    """Custom stateful operator: per-(scene, band) ingest progress via
    ``applyInPandasWithState`` — arbitrary keyed state the built-in
    aggregations can't express (the running count must survive ACROSS
    micro-batches AND across separate availableNow drains, restored from
    the state store in the checkpoint).

    Emits one updated progress row per key per micro-batch; ``foreachBatch``
    appends snapshots to parquet with the batch id (update-mode output is
    not parquet-compatible by design — the snapshot log is the idempotent
    equivalent, keyed by (batch_id, scene_id, band))."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        scene_id, band = key
        tiles, px = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            tiles += len(pdf)
            px += int((pdf["w"].astype("int64") * pdf["h"].astype("int64")).sum())
        state.update((tiles, px))
        yield pd.DataFrame([{
            "scene_id": scene_id, "band": int(band),
            "tiles_seen": tiles, "px_seen": px,
            "expected_tiles": expected_tiles,
            "complete": "yes" if tiles >= expected_tiles else "no",
        }])

    raw = spark.readStream.schema(SCENES_SCHEMA).parquet(in_dir)
    parsed = parse_scenes(raw).select("scene_id", "band", "w", "h")
    progress = parsed.groupBy("scene_id", "band").applyInPandasWithState(
        fn, PROGRESS_SCHEMA, _PROGRESS_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    q = (
        progress.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)


POINTS_SCHEMA = StructType([
    StructField("pid", LongType()),
    StructField("lon", DoubleType()),
    StructField("lat", DoubleType()),
    StructField("lst_k", DoubleType()),
])


def stream_enrich_pixels(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    aoi_pdf: pd.DataFrame,
    stations_pdf: pd.DataFrame,
    k: int = 3,
    points_schema: StructType | None = None,
) -> None:
    """Continuous spatial enrichment of arriving pixel drops (round 4).

    File-source stream of point/pixel parquet -> the SAME fused
    cells + R-tree PIP + kNN Arrow hop as batch (spatial.enrich_pixels —
    stateless stream-static enrichment: the vector sides are broadcast
    variables, so no streaming state at all) -> checkpointed append sink.
    ``trigger(availableNow=True)``: each invocation drains new drops and
    stops, like every other ingest entry here. Batch parity tile-for-tile
    in tests/test_streaming.py (union of incremental drains == one batch
    enrich over the union of inputs). When the vector sides outgrow a
    broadcast, the batch composition ``spatial.enrich_pixels_cells`` is the
    scale path — its PIP/kNN equi joins are stream-compatible per micro
    batch via foreachBatch.
    """
    from . import spatial

    raw = spark.readStream.schema(points_schema or POINTS_SCHEMA).parquet(in_dir)
    out = spatial.enrich_pixels(raw, aoi_pdf, stations_pdf, k=k, how="left")
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
