"""Checkpoint/resume: per-partition manifests with lineage + metrics.

North rule (BASELINE.json:14): jobs are "resumable from checkpoint with
per-partition lineage + metrics". Spark gives task-level retry for free; this
layer adds *job-level* idempotent resume:

- the tile keyspace is split into deterministic slices
  (pmod(xxhash64(scene_id, tile_y), n_slices) — tile-row granularity so one
  giant scene doesn't pin a whole slice);
- each slice is one Spark write job into ``out/data/slice=K/`` (overwrite =
  idempotent), followed by a manifest record ``out/_manifest/slice-K.json``
  carrying lineage (input fingerprint = XOR-sum of xxhash64(image_id), code
  version) and metrics (rows, valid pixels, wall ms, attempt);
- resume = anti-join of pending slices against completed manifest keys: a
  re-run recomputes only missing/failed slices, and a fingerprint mismatch
  (input changed under the checkpoint) forces that slice to re-run.

The same structure scales to a real cluster: slices are just partition
batches; manifests live next to the data (object store in production).
"""

from __future__ import annotations

import json
import warnings
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import __version__, constants as C, pipeline


class InjectedFailure(RuntimeError):
    """Test hook: simulated crash between slices."""


def _manifest_dir(out_dir: str) -> Path:
    return Path(out_dir) / "_manifest"


def read_manifest(out_dir: str) -> dict[int, dict]:
    md = _manifest_dir(out_dir)
    out: dict[int, dict] = {}
    if md.is_dir():
        for f in sorted(md.glob("slice-*.json")):
            rec = json.loads(f.read_text())
            if rec.get("status") == "done":
                out[rec["slice"]] = rec
    return out


def slice_fingerprints(enriched: DataFrame, n_slices: int) -> dict[int, tuple]:
    """Lineage fingerprint per slice: (bit-XOR of xxhash64(image_id), rows,
    pixels) — order-independent, metadata-only (array bytes never read
    thanks to column pruning; w/h are scalar columns)."""
    rows = (
        enriched.groupBy(_slice_col(n_slices).alias("slice"))
        .agg(F.expr("bit_xor(xxhash64(image_id_b10))").alias("fp"),
             F.count(F.lit(1)).alias("n"),
             F.sum(F.col("w").cast("long") * F.col("h")).alias("px"))
        .collect()
    )
    return {r["slice"]: (int(r["fp"]), int(r["n"]), int(r["px"])) for r in rows}


# Auto slice-batch target (VERDICT r3 item 8): the right group size is
# pixels-per-core, not a slice count. The r3 and r4 sweeps (322 Mpx / 16
# slices / local[32], BENCH/DURABLE.md) both put the under-batching cliff
# below ~4 Mpx/core (cores idle between small write jobs) and show a FLAT
# knee from ~5 to ~10 Mpx/core (r3's best sat at ~5, r4's at ~10, within
# steal noise of each other); 6M targets the middle of that plateau while
# keeping the crash-loss bound (one group) modest.
TARGET_PX_PER_CORE = 6_000_000


def auto_slice_batch(pending_px: int, n_pending: int, cores: int) -> int:
    """Pixels-per-core batch sizing: group ~TARGET_PX_PER_CORE * cores
    pixels per write job, clamped to [1, n_pending]."""
    if n_pending <= 0:
        return 1
    per_slice = max(1.0, pending_px / n_pending)
    target = TARGET_PX_PER_CORE * max(1, cores)
    return max(1, min(n_pending, round(target / per_slice)))


def _slice_col(n_slices: int):
    return F.pmod(F.xxhash64("scene_id", "tile_y"), F.lit(n_slices)).cast("int")


def run_lst_job(
    spark: SparkSession,
    scenes: DataFrame,
    scene_meta: DataFrame,
    emissivities: DataFrame,
    out_dir: str,
    n_slices: int = 8,
    window: int = C.DEFAULT_CWV_WINDOW,
    resume: bool = True,
    fail_after: int | None = None,
    with_qa: bool = False,
    emissivity_class: str | None = None,
    celsius: bool = False,
    slice_batch: int | str = "auto",
    parquet_codec: str = "uncompressed",
    page_checksum: bool = False,
) -> dict:
    """Run (or resume) the tile LST job; returns summary dict.

    Reference-option parity ([U] i.landsat8.swlst.py options):
    ``with_qa`` joins the band-0 QA tiles and cloud-masks (C4);
    ``emissivity_class`` fixes one emissivity class for every pixel instead
    of the landcover-map lookup (reference ``emissivity_class=`` vs
    ``landcover=``); ``celsius`` emits deg C (reference ``-c``). Option
    values are recorded in each slice manifest and participate in the
    resume-validity check: a rerun with different options re-executes.
    """
    if n_slices < 1:
        raise ValueError(f"n_slices must be >= 1, got {n_slices}")
    out = Path(out_dir)
    (out / "data").mkdir(parents=True, exist_ok=True)
    _manifest_dir(out_dir).mkdir(parents=True, exist_ok=True)

    opts = {"window": int(window), "with_qa": bool(with_qa),
            "emissivity_class": emissivity_class, "celsius": bool(celsius)}
    enriched = pipeline.build_enriched(
        scenes, scene_meta, emissivities, with_qa=with_qa)
    if emissivity_class is not None:
        by_class = {e.landcover_class: e for e in C.load_emissivities()}
        if emissivity_class not in by_class:
            raise ValueError(
                f"unknown emissivity_class {emissivity_class!r}; "
                f"known: {sorted(by_class)}")
        e = by_class[emissivity_class]
        enriched = enriched.withColumn(
            "emissivity_b10", F.lit(float(e.emissivity_b10))
        ).withColumn("emissivity_b11", F.lit(float(e.emissivity_b11)))
    enriched = enriched.withColumn("slice", _slice_col(n_slices))
    done = read_manifest(out_dir) if resume else {}
    # Lazy fingerprints: the upfront metadata scan exists to VALIDATE prior
    # manifests (and to size auto batches) — a fresh run has nothing to
    # validate, and at 100 TB a full pre-pass over the input before any
    # work is real money. Fresh runs instead record fingerprints OBSERVED
    # inside the write job (lst_tiles emits one row per input tile carrying
    # image_id = image_id_b10, so bit_xor(xxhash64(image_id)) per slice over
    # the OUTPUT equals the input fingerprint when nothing was dropped; a
    # dropped row makes the recorded fp differ from the true input fp, so
    # the NEXT resume's validation scan re-executes that slice —
    # self-healing instead of fail-fast).
    fps = None
    if done or slice_batch == "auto":
        fps = slice_fingerprints(enriched, n_slices)

    # resume set as a real anti-join against completed manifest keys whose
    # fingerprint still matches (lineage check) — and whose recorded options
    # match this invocation. Manifests written before the options record
    # existed mean "ran with the defaults": treat a missing key as the
    # defaults dict so old checkpoints aren't silently re-executed wholesale.
    default_opts = {"window": int(C.DEFAULT_CWV_WINDOW), "with_qa": False,
                    "emissivity_class": None, "celsius": False}
    valid_done = {
        s: rec for s, rec in done.items()
        if fps is not None and s in fps
        and rec.get("input_fingerprint") == fps[s][0]
        and rec.get("code_version") == __version__
        and rec.get("options", default_opts) == opts
    }
    all_slices = sorted(fps) if fps is not None else list(range(n_slices))
    if valid_done:
        done_df = spark.createDataFrame([(s,) for s in valid_done], "slice int")
        pending_rows = (
            spark.createDataFrame([(s,) for s in all_slices], "slice int")
            .join(done_df, "slice", "left_anti")
            .collect()
        )
        pending = sorted(r["slice"] for r in pending_rows)
    else:
        pending = all_slices

    executed = []
    unverified = []  # zero-row lazy-fp slices (see _run_slice_groups)
    # One slice = one idempotent Spark write job, so a naive loop would
    # re-run the scan + band pair of the WHOLE input once per slice
    # (measured 16x wall at 16 slices). Persist the joined-but-undecoded
    # frame once: each slice job then reads the cache and runs the kernel
    # on only its rows — scan/join 1x, kernel 1x total. MEMORY_AND_DISK
    # spills tile bytes on real clusters.
    if slice_batch == "auto":
        pend_px = sum(fps[s][2] for s in pending)
        batch = auto_slice_batch(pend_px, len(pending),
                                 spark.sparkContext.defaultParallelism)
    else:
        batch = max(1, int(slice_batch))
    # persist pays off only when MORE THAN ONE group re-reads the joined
    # frame; a single-group job would materialize the cache for zero reuse
    do_persist = len(pending) > batch
    if do_persist:
        from pyspark import StorageLevel

        enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    # f32 raster planes are near-incompressible: snappy saved only 4% bytes
    # for ~12% wall and zstd 20% bytes for the same wall (interleaved probe,
    # BENCH/DURABLE.md) — default to throughput, let deployments pick zstd
    # when storage dominates
    old_codec = spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    spark.conf.set("spark.sql.parquet.compression.codec", parquet_codec)
    try:
        _run_slice_groups(spark, enriched, pending, fps, done, out, out_dir,
                          executed, window, n_slices, fail_after, opts, celsius,
                          batch, page_checksum=page_checksum,
                          unverified=unverified)
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", old_codec)
        if do_persist:
            enriched.unpersist()

    return {
        "slices": len(all_slices),
        "skipped": sorted(valid_done),
        "executed": executed,
        "unverified": sorted(unverified),
        "slice_batch": batch,
        "out": str(out / "data"),
    }


def _run_slice_groups(spark, enriched, pending, fps, done, out, out_dir,
                      executed, window, n_slices, fail_after, opts, celsius,
                      slice_batch, page_checksum=False,
                      unverified=None) -> None:
    """Execute pending slices in groups of ``slice_batch`` — ONE dynamic-
    partition-overwrite write job per group.

    Round-2 profiling: one-write-job-per-slice ran the kernel over 1/n_slices
    of the rows per job, leaving most cores idle between tiny tasks — the
    durable job sat ~4-10x below the in-memory pipeline. Batching restores
    full-width kernel passes while keeping bounded re-execution: a crash
    mid-group loses at most ``slice_batch`` slices of work (manifests are
    still per-slice, written only after the group's write commits; dynamic
    partition overwrite keeps per-slice output dirs idempotent).

    Per-slice metrics come from ``Observation`` accumulators evaluated
    INSIDE the write job (one conditional sum triple per slice in the
    group) — zero extra jobs, zero re-read. Round 3 used a column-pruned
    re-read of the written parquet instead; jobs/bench_durable.py measures
    the delta (the re-read was footer-cheap but still a full extra job per
    group, and it raced dynamic-partition-overwrite visibility on slow
    stores — observed metrics cannot).
    """
    todo = pending if fail_after is None else pending[: max(0, fail_after)]
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        from pyspark.sql import Observation

        for g0 in range(0, len(todo), slice_batch):
            group = [int(s) for s in todo[g0 : g0 + slice_batch]]
            t0 = time.perf_counter()
            gdf = pipeline.lst_tiles(
                enriched.filter(F.col("slice").isin(group)),
                window=window, celsius=celsius,
            ).withColumn("slice", _slice_col(n_slices))
            obs = Observation(f"slice-group-{group[0]}")
            aggs = []
            for s in group:
                hit = F.col("slice") == s
                aggs += [
                    F.sum(hit.cast("long")).alias(f"rows_{s}"),
                    F.sum(F.when(hit, F.col("n_valid").cast("long"))
                           .otherwise(F.lit(0))).alias(f"valid_{s}"),
                    F.sum(F.when(hit, F.col("w").cast("long") * F.col("h"))
                           .otherwise(F.lit(0))).alias(f"px_{s}"),
                ]
                if fps is None:
                    # observed input fingerprint (lazy-fp fresh run): one
                    # output row per input tile, image_id == image_id_b10
                    aggs.append(F.expr(
                        f"bit_xor(if(slice = {s}, xxhash64(image_id), "
                        "cast(null as bigint)))").alias(f"fp_{s}"))
            gdf = gdf.observe(obs, *aggs)
            # Writer tuning for f32 raster planes (measured on the 322 Mpx
            # durable sweep, BENCH/DURABLE.md): dictionary encoding can
            # never help unique ~65 KB binary values — parquet still hashes
            # every page before falling back, ~5% of the write wall; page
            # CRCs cost another ~6% and this product has its own end-to-end
            # integrity story (per-slice row/pixel/valid observed stats in
            # the manifests + resume bit-identity tests), so both default
            # off. Deployments on stores without transport checksums can
            # re-enable via page_checksum=True.
            (gdf.write.mode("overwrite")
                .option("parquet.enable.dictionary", "false")
                .option("parquet.page.write-checksum.enabled",
                        "true" if page_checksum else "false")
                .partitionBy("slice").parquet(str(out / "data")))
            wall_ms = int((time.perf_counter() - t0) * 1000)
            got = obs.get  # metrics accumulated by the write job itself
            for s in group:
                rows_out = int(got.get(f"rows_{s}") or 0)
                if fps is not None and rows_out == 0 and fps[s][1] > 0:
                    # A slice with input rows MUST appear in the write job's
                    # observed stats (lst_tiles emits one row per input
                    # tile). Missing means the write dropped it (e.g. a
                    # slice-column recomputation bug) — recording
                    # rows_out=0/done would mask the loss and resume would
                    # skip it forever.
                    raise RuntimeError(
                        f"slice {s} ({fps[s][1]} input rows) missing from "
                        f"post-write stats of group {group}; refusing to "
                        "record an empty 'done' manifest")
                if fps is None and rows_out == 0:
                    # lazy-fp fresh run: a hash-gap slice genuinely owns no
                    # tiles — nothing durable to record; a DROPPED slice is
                    # indistinguishable here, but its absent/stale manifest
                    # makes the next resume's validation scan re-execute it.
                    # Surface it distinctly (ADVICE r6): a one-shot run has
                    # no later resume to catch a silent drop, so callers /
                    # benches can gate on `unverified` instead of treating
                    # the slice as verified-done.
                    warnings.warn(
                        f"slice {s}: 0 rows observed on a lazy-fingerprint "
                        "fresh run — empty slice or silently dropped "
                        "output; reported in 'unverified' (a resume run "
                        "would re-validate it)", RuntimeWarning)
                    unverified.append(s)
                    executed.append(s)
                    continue
                rec = {
                    "slice": s,
                    "status": "done",
                    "input_fingerprint": (fps[s][0] if fps is not None
                                          else int(got.get(f"fp_{s}") or 0)),
                    "input_rows": fps[s][1] if fps is not None else rows_out,
                    "rows_out": rows_out,
                    "pixels": int(got.get(f"px_{s}") or 0),
                    "valid_px": int(got.get(f"valid_{s}") or 0),
                    "wall_ms": wall_ms,       # the group's write wall
                    "group": group,           # slices sharing that write job
                    "attempt": done.get(s, {}).get("attempt", 0) + 1,
                    "code_version": __version__,
                    "options": opts,
                }
                (_manifest_dir(out_dir) / f"slice-{s}.json").write_text(json.dumps(rec))
                executed.append(s)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    if fail_after is not None and fail_after < len(pending):
        raise InjectedFailure(
            f"injected failure before slice {pending[fail_after]}")


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(str(Path(out_dir) / "data"))
