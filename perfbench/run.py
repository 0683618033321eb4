#!/usr/bin/env python3
"""Run one benchmark workload for one seed.

    python3 perfbench/run.py --workload raster_lst --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed
under ``.perfbench_work/`` in the checkout, sets up a local Spark session
(``setup_s``), runs timed passes back to back for ``--seconds`` on
``local[nproc]`` and checks every pass's output. With
``--trace 1`` it then runs one traced pass, reads the Spark event log and
prints the per-layer metrics instead. The second to last stdout line is a
full report; the last line is the result object. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_BASE = ROOT / ".perfbench_work"
MIN_PASSES = 2
DEADLINE_S = 170      # the run aborts itself after this many seconds
EXIT_PREFLIGHT = 3
ENGINE_MODULES = ("pipeline.", "checkpoint.", "spatial.", "terrain.", "vectorize.")

E2E_UNITS = {"throughput_mps": "M/s", "setup_s": "s", "peak_rss_gb": "GB"}
LAYER_UNITS = {
    "session.start_s": "s", "session.warm_pass_s": "s",
    "pipeline.scan_s": "s", "pipeline.pair_s": "s",
    "pipeline.shuffle_write_mb": "MB", "pipeline.shuffle_read_mb": "MB",
    "pipeline.pair_task_skew": "ratio",
    "codecs.decode_raw_ms": "ms", "codecs.decode_dct_ms": "ms",
    "kernels.bt_ms": "ms", "kernels.cwv_ms": "ms", "kernels.lst_ms": "ms",
    "kernels.fused_ms": "ms", "kernels.fused_mpx_per_s_core": "Mpx/s",
    "lst_tiles.stats_only_s": "s", "lst_tiles.emit_s": "s",
    "lst_tiles.py_in_mb": "MB", "lst_tiles.py_out_mb": "MB",
    "lst_tiles.py_run_s": "s", "lst_tiles.outside_kernel_frac": "ratio",
    "checkpoint.fingerprint_s": "s", "checkpoint.group_wall_s_sum": "s",
    "checkpoint.groups": "count", "checkpoint.write_mb": "MB",
    "checkpoint.spill_mb": "MB", "checkpoint.resume_jobs": "count",
    "checkpoint.job_mpx_per_s": "Mpx/s", "checkpoint.resume_noop_s": "s",
    "geo.hexcell_ms": "ms", "geo.s2_ms": "ms", "spatial.pip_ms": "ms",
    "spatial.haversine_ms": "ms", "spatial.enrich_s": "s",
    "spatial.pip_hit_ratio": "ratio", "spatial.rows_per_point": "ratio",
    "spatial.py_in_mb": "MB", "spatial.py_out_mb": "MB",
    "terrain.sun_s": "s", "terrain.sun_mpx_per_s": "Mpx/s", "terrain.sun_shuffle_mb": "MB",
    "terrain.sun_task_skew": "ratio",
    "vectorize.to_vect_s": "s", "vectorize.to_vect_mpx_per_s": "Mpx/s",
    "regions.label_tile_ms": "ms",
    "regions.cc_task_skew": "ratio", "vectorize.rings": "count",
    "spark.jobs_per_pass": "count", "spark.tasks_per_pass": "count",
    "spark.gc_s": "s", "spark.spill_mb": "MB", "spark.jobs_before_action": "count",
    "trace.overhead_frac": "ratio",
}


class Abort(Exception):
    pass


def _on_signal(signum, _frame):
    raise Abort(f"signal {signum}")


def sweep_stale(base: Path) -> None:
    """Remove work dirs of earlier runs whose process is gone."""
    if not base.is_dir():
        return
    for d in base.iterdir():
        try:
            pid = int(d.name.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            continue
        if not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Sessions:
    """The local Spark session of one run and the JVM behind it."""

    def __init__(self, work: Path, cores: int, heap_gb: int):
        self.work = work
        self.cores = cores
        self.heap_gb = heap_gb
        self.spark = None

    def start(self, event_dir: Path | None = None):
        from i_landsat8_swlst_spark.session import get_spark

        extra = {"spark.sql.warehouse.dir": str(self.work / "warehouse"),
                 # a pinned heap with a fixed young generation, touched at
                 # launch: the JVM's RSS then does not depend on when G1
                 # resizes or which regions it happens to touch first
                 "spark.driver.extraJavaOptions":
                     f"-Xms{self.heap_gb}g -Xmn{self.heap_gb * 256}m -XX:+AlwaysPreTouch "
                     f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
                 "spark.eventLog.enabled": "false"}
        if event_dir is not None:
            event_dir.mkdir(parents=True, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": event_dir.as_uri(),
                          "spark.eventLog.compress": "false"})
        self.spark = get_spark(app="perfbench", cores=self.cores, extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def per_layer(wl, tr, log_for, passes_wall, micro, setup, cores) -> dict:
    from stats import median

    out = {k: 0.0 for k in LAYER_UNITS}
    out["session.start_s"] = setup["start_s"]
    out["session.warm_pass_s"] = setup["warm_s"]
    got = wl.traced(tr, log_for)
    check = got.pop("check")
    pass_wall = got.pop("pass_wall")
    out.update(got)
    out.update(micro)
    log = log_for()
    s = log.summary("pass")
    out["spark.jobs_per_pass"] = s["jobs"]
    out["spark.tasks_per_pass"] = s["tasks"]
    out["spark.gc_s"] = s["gc_s"]
    out["spark.spill_mb"] = s["spill_mb"]
    # jobs fired inside engine calls, before the workload's own action
    # (eager pre-passes, collects and local checkpoints)
    built = {j for sp in tr.spans
             if sp["name"].startswith(ENGINE_MODULES)
             and tr.path(sp["id"]).startswith("pass/")
             for j in log.job_ids(tr.path(sp["id"]))}
    out["spark.jobs_before_action"] = len(built)
    if "kernels.fused_ms" in micro and hasattr(wl, "kernel_core_s"):
        kern = wl.kernel_core_s(micro["kernels.fused_ms"]) / cores
        out["lst_tiles.outside_kernel_frac"] = max(0.0, 1.0 - kern / pass_wall)
    out["trace.overhead_frac"] = pass_wall / median(passes_wall) - 1.0
    return {k: float(v) for k, v in out.items()}, check


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _on_signal)
    signal.alarm(DEADLINE_S)
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _on_signal)

    t_begin = time.perf_counter()
    work = WORK_BASE / f"{args.workload}-{args.seed}-{os.getpid()}"
    sessions = sampler = None
    try:
        try:
            sys.path[:0] = [str(HERE), str(ROOT)]
            import host
            import workloads
            from eventlog import AppLog, read_events
            from stats import median, timing_summary
            from spans import Tracer
        except ImportError as e:
            print(f"perfbench: cannot import the engine or its dependencies "
                  f"from {ROOT}: {e}", file=sys.stderr)
            return 2
        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2

        sweep_stale(WORK_BASE)
        (work / "tmp").mkdir(parents=True)
        cores = host.cpu_count()
        mem = host.meminfo_kb()
        heap = host.DRIVER_HEAP_GB
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": f"{heap}g",
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
        })

        noise = host.noise_state(ROOT)
        wl = workloads.WORKLOADS[args.workload](args.seed, work, cores)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        need = wl.need_bytes()
        free = shutil.disk_usage(work).free
        if free < need or mem["MemAvailable"] * 1024 < (heap + 2) * host.GB:
            print(f"perfbench: refusing to start {args.workload}: needs {need / host.GB:.2f} GB "
                  f"free under {work} (has {free / host.GB:.2f}) and {heap + 2} GB of "
                  f"available memory (has {mem['MemAvailable'] / 1024 / 1024:.2f})",
                  file=sys.stderr)
            return EXIT_PREFLIGHT

        sessions = Sessions(work, cores, heap)
        sampler = host.RssSampler()
        log_dir = work / "eventlog"
        t0 = time.perf_counter()
        spark = sessions.start(event_dir=log_dir if args.trace else None)
        t1 = time.perf_counter()
        wl.register(spark)
        wl.warm()
        setup = {"start_s": t1 - t0, "warm_s": time.perf_counter() - t1}
        setup["total_s"] = setup["start_s"] + setup["warm_s"]

        passes, problems, attempted, failed = [], [], 0, 0
        sampler.arm()
        t_run = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_run
            if len(passes) >= MIN_PASSES and (
                    elapsed + median([p["wall"] for p in passes]) > args.seconds):
                break
            if attempted >= 2 * MIN_PASSES and elapsed > args.seconds:
                break
            attempted += 1
            try:
                p = wl.run_pass()
                bad = wl.check(p)
            except Abort:
                raise
            except Exception as e:
                traceback.print_exc()
                bad = [f"pass raised {type(e).__name__}: {e}"]
            if bad:
                failed += 1
                problems.extend(bad)
            else:
                passes.append(p)
        run_s = time.perf_counter() - t_run
        peak_gb = sampler.disarm()
        if not passes:
            raise RuntimeError("no pass succeeded: " + "; ".join(problems[:5]))

        walls = [p["wall"] for p in passes]
        e2e = {
            "throughput_mps": passes[0]["units"] / 1e6 / median(walls),
            "setup_s": setup["total_s"],
            "peak_rss_gb": peak_gb,
        }
        layers = None
        if args.trace:
            tr = Tracer(spark.sparkContext)
            cache = {}

            def log_for():
                # the event log is complete once the session stops
                if "log" not in cache:
                    sessions.stop()
                    cache["log"] = AppLog(read_events(log_dir))
                return cache["log"]

            # single-core timings first, on a quiet driver
            micro = wl.micro()
            layers, check = per_layer(wl, tr, log_for, walls, micro, setup, cores)
            attempted += 1
            if check:
                failed += 1
                problems.extend(check)
        sessions.close()
        sessions = None

        report = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "driver_heap_gb": heap, "host": noise,
            "input_gen_s": gen_s, "setup": setup,
            "passes": timing_summary(walls), "pass_walls_s": walls,
            "timed_run_s": run_s, "attempted": attempted, "failed": failed,
            "peak_rss_gb_by_command": {k: v / host.GB for k, v in sampler.at_peak.items()},
            "failed_ops": f"{failed}/{attempted}",
            "problems": problems[:20],
            "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "named": wl.report(passes),
            "wall_s": time.perf_counter() - t_begin,
        }
        if layers is not None:
            report["per_layer"] = layers
            report["spans"] = tr.dump()
        print(json.dumps(report))
        metrics = ({k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
                   if args.trace else
                   {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()})
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    except Abort as e:
        print(f"perfbench: aborted ({e})", file=sys.stderr)
        return 4
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if sampler is not None:
            sampler.close()
        if sessions is not None:
            try:
                sessions.close()
            except Exception:
                pass
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_BASE.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
