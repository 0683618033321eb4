"""SparkSession factory with the scale-minded defaults this engine assumes.

Tested on local[N] (sandbox), designed for multi-executor clusters: every
config here is cluster-valid, nothing is local-mode-specific. Jobs launch as
``spark-submit --py-files engine.zip jobs/job_lst.py ...`` (BASELINE.json:14).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch ~ 64 tiles of 256^2 uint16 (~8 MB decoded) — keeps the
# JVM<->Python Arrow hop amortized without ballooning Python worker memory.
ARROW_BATCH_ROWS = 64


def _sweep_stale_local_dirs() -> None:
    """Remove orphaned shuffle/blockmgr dirs under the tmpfs local dir.

    SIGKILLed or OOM-killed sessions leave their spark-*/blockmgr-* trees
    behind; on a tmpfs those pages ARE resident memory, so a few killed
    runs can quietly eat the whole box (observed: 106 GB of orphans
    starving later JVMs into the OOM killer). Spark never reuses another
    session's dirs, so anything present while NO java process is alive is
    garbage by construction. Swept at session bootstrap; best-effort."""
    import shutil
    import subprocess

    base = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    if not os.path.isdir(base):
        return
    if os.environ.get("SPARK_GRAFT_NO_SWEEP"):
        return
    try:
        import time

        has_jvm = subprocess.run(
            ["pgrep", "-x", "java"], capture_output=True).returncode == 0
        if has_jvm:
            return
        # pgrep sees only THIS pid namespace: a sibling container sharing
        # the /dev/shm mount (or a renamed JVM binary) is invisible, so
        # additionally require the dir to be quiescent for 10+ minutes —
        # a live session touches its shuffle tree far more often than that
        # (ADVICE r6). SPARK_GRAFT_NO_SWEEP=1 opts out entirely.
        now = time.time()
        for name in os.listdir(base):
            if not name.startswith(("spark-", "blockmgr-")):
                continue
            path = os.path.join(base, name)
            try:
                if now - os.path.getmtime(path) < 600:
                    continue
            except OSError:
                continue
            shutil.rmtree(path, ignore_errors=True)
    except Exception:
        pass


def get_spark(
    app: str = "i_landsat8_swlst_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    # make the engine importable in executor-side Python workers regardless of
    # cwd (the local-mode analog of shipping engine.zip via --py-files)
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    if repo not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get("PYTHONPATH", "")
    # local mode: python workers fork from this process env, so pin BLAS here
    # too (executorEnv covers real clusters)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    _sweep_stale_local_dirs()
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan, skew-join mitigation, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # binary tile rows are ~256 KB: the 64 MB default advisory size
        # coalesces below core count and caps parallelism; 16 MB keeps
        # every core busy while batches stay amortized
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # Arrow transfer for all pandas/Arrow UDF paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # Scan split size, env-parameterised. Local default 32 MB: the
        # relational testdata tables are single files whose parquet row
        # groups are ~32 MB, so 128 MB splits read a 170 MB table with 2
        # tasks on 32 idle cores (guide §6: splits should track the row-
        # group granularity of the catalog). Production clusters scanning
        # large multi-row-group files should raise this back to 128 MB-1 GB
        # via SPARK_GRAFT_MAX_PARTITION_BYTES for lower scheduling overhead.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               str(32 * 1024 * 1024)))
        # broadcast up to 64 MB — scene_meta/coefficients/AOI trees are tiny
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 16g: measured when the band pair was a sort-merge join, 8g forced
        # it into sort spills + GC churn (117s vs 13s per pass at 8 bench
        # scenes); the pair no longer joins, but binary tile rows still
        # pass through the window sort of pipeline.pair_bands. Modest for a
        # 125 GB box and a normal driver size on clusters
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # binary tile rows sort terribly (130 KB payloads through sort
        # buffers): a tile-bytes equi join (e.g. per-pixel emissivity planes
        # onto the band pairs) plans as a shuffled hash join, with no sort,
        # and AQE still splits skewed partitions before the build. The band
        # pair itself is no join (pipeline.pair_bands)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # shuffle/spill dir: this sandbox's /tmp sits on a throttled virtual
        # disk (10x pass-to-pass variance measured); prefer the tmpfs when
        # present. Cluster managers override this via SPARK_LOCAL_DIRS /
        # yarn.nodemanager.local-dirs, so the setting stays cluster-valid.
        .config("spark.local.dir", os.environ.get(
            "SPARK_LOCAL_DIRS",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # Python workers fork from the engine's daemon (importable through
        # the PYTHONPATH above). Every task's importlib.invalidate_caches()
        # re-reads each zipimporter's archive directory under Python 3.11:
        # with pyspark.zip and the spark-core jar on the path that is
        # 0.14-0.3 s a task (`bench_extra.py pytasks`, 32 empty mapInArrow
        # tasks on 4 cores: ~2.3 s, ~0.85 s without them). The daemon drops
        # the zip and the jars when an installed pyspark of the same version
        # is importable, and changes nothing otherwise
        # (worker_daemon.drop_spark_archives).
        .config("spark.python.daemon.module", "i_landsat8_swlst_spark.worker_daemon")
        # one BLAS/OpenMP thread per Python worker: N workers x M BLAS threads
        # oversubscribes the box and destroys kernel-stage scaling
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
