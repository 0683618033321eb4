"""Session plumbing: the engine's Python worker daemon (``worker_daemon``).

The path rule is tested without Spark over fake installs; the live test
checks what a real worker imported against the same rule evaluated on the
driver; the retry test kills a worker mid-job and expects identical output
from the task's retry, which needs a fresh fork from the daemon.
"""

import json
import os
import subprocess
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder
from pathlib import Path

import pytest

from i_landsat8_swlst_spark import worker_daemon

REPO = Path(__file__).resolve().parent.parent


def _version_py(v: str) -> str:
    return f"__version__: str = '{v}'\n"


def _fake_path(tmp_path: Path, zip_version: str | None, installed: str | None) -> list:
    """[pyspark.zip?, py4j zip, spark-core jar, engine dir, site dir]."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    path = []
    if zip_version is not None:
        with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
            z.writestr("pyspark/__init__.py", "")
            z.writestr("pyspark/version.py", _version_py(zip_version))
        path.append(str(lib / "pyspark.zip"))
    with zipfile.ZipFile(lib / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    with zipfile.ZipFile(jars / "spark-core.jar", "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    site = tmp_path / "site"
    (tmp_path / "engine").mkdir()
    site.mkdir()
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(_version_py(installed))
    return path + [str(lib / "py4j-src.zip"), str(jars / "spark-core.jar"),
                   str(tmp_path / "engine"), str(site)]


def _patch_sys(monkeypatch, path: list) -> dict:
    # the zipimporters `python -m` left behind while it searched the path
    cache = {p: zipimport.zipimporter(p) for p in path if os.path.isfile(p)}
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    return cache


def test_same_version_drops_zip_and_jars(tmp_path, monkeypatch):
    path = _fake_path(tmp_path, "4.1.2", "4.1.2")
    _patch_sys(monkeypatch, path)
    dropped = worker_daemon.drop_spark_archives()
    zip_, py4j, jar, engine, site = path
    assert dropped == [zip_, jar]
    assert sys.path == [py4j, engine, site]
    assert zip_ not in sys.path_importer_cache
    assert jar not in sys.path_importer_cache
    assert py4j in sys.path_importer_cache


@pytest.mark.parametrize("zip_version,installed", [
    ("4.1.2", "4.0.1"),   # versions differ
    ("4.1.2", None),      # no installed pyspark
    (None, "4.1.2"),      # no pyspark.zip
])
def test_path_unchanged_otherwise(tmp_path, monkeypatch, zip_version, installed):
    path = _fake_path(tmp_path, zip_version, installed)
    cache = _patch_sys(monkeypatch, path)
    assert worker_daemon.drop_spark_archives() == []
    assert sys.path == path
    assert all(sys.path_importer_cache[p] is cache[p] for p in cache)


def test_worker_imports_what_the_rule_says(spark):
    import pyarrow as pa

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyspark

        archives = sorted({v.archive for v in sys.path_importer_cache.values()
                           if isinstance(v, zipimport.zipimporter)})
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{
                "file": pyspark.__file__, "archives": archives,
                "pythonpath": os.environ.get("PYTHONPATH", "")}])

    row = spark.range(1, numPartitions=1).mapInArrow(
        probe, "file string, archives array<string>, pythonpath string").first()
    # the worker's path: its PYTHONPATH, then this interpreter's own entries
    path = [p for p in row.pythonpath.split(os.pathsep) if p] + sys.path
    dropped = worker_daemon.drop_spark_archives(list(path), {})
    rest = [p for p in path if p not in dropped]
    assert row.file == PathFinder.find_spec("pyspark", rest).origin
    on_path = {a for a in row.archives if a in path}
    assert on_path == {p for p in rest if os.path.isfile(p)}


def _retry_main(out: str) -> None:
    """Run lst_tiles on local[2,2] over the two-scene tiny fixture, once
    clean and once behind a mapInArrow that kills its worker on the first
    attempt of partition 0; print both row sets as JSON."""
    import hashlib

    import pandas as pd
    from pyspark import TaskContext

    from i_landsat8_swlst_spark import constants as C, pipeline, synth
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="retry", cores=2, shuffle_partitions=4,
                      extra={"spark.master": "local[2,2]",
                             "spark.driver.memory": "1g"})
    scenes = spark.createDataFrame(synth.scenes_pdf("tiny")).repartition(2)
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame(
        [e._asdict() for e in C.load_emissivities()]))
    marker = os.path.join(out, "killed")

    def rows(kill: bool) -> list:
        def gate(batches):
            ctx = TaskContext.get()
            if kill and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                open(marker, "w").close()
                os._exit(1)
            yield from batches

        src = scenes.mapInArrow(gate, scenes.schema)
        tiles = pipeline.lst_tiles(pipeline.build_enriched(src, meta, emis), window=5)
        return sorted(repr([hashlib.sha256(v).hexdigest()
                            if isinstance(v, (bytes, bytearray)) else v for v in r])
                      for r in tiles.collect())

    clean = rows(False)
    retried = rows(True)
    spark.stop()
    print(json.dumps({"clean": clean, "retried": retried,
                      "killed": os.path.exists(marker)}))


def test_lst_tiles_identical_after_worker_kill(tmp_path):
    env = {**os.environ, "SPARK_LOCAL_DIRS": str(tmp_path / "local"),
           "PYTHONPATH": os.pathsep.join([str(REPO), os.environ.get("PYTHONPATH", "")])}
    proc = subprocess.run(
        [sys.executable, __file__, str(tmp_path)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["killed"], "the injected failure never fired"
    assert got["clean"], "fixture produced no tiles"
    assert got["retried"] == got["clean"]


if __name__ == "__main__":
    _retry_main(sys.argv[1])
