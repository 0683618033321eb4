"""Python worker daemon for the engine's sessions: ``pyspark.daemon`` run on
the installed pyspark instead of SPARK_HOME's ``pyspark.zip``.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar at the head of
every Python worker's path. PySpark calls ``importlib.invalidate_caches()`` at
the start of every task, and under Python 3.11 each zipimporter then re-reads
its archive's whole directory: 16 importers, ~26,700 entries, 0.14-0.3 s a
task before any data moves. When a directory-installed pyspark of the same
version is importable from the rest of the path, the zip and the jars (which
hold no ``.py`` files) leave ``sys.path`` and the importer cache before
anything imports pyspark; otherwise nothing changes. The py4j zip stays.

Nothing here imports pyspark or an engine module before the rewrite.
"""

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def drop_spark_archives(path: list | None = None, cache: dict | None = None) -> list:
    """Remove every ``pyspark.zip`` and ``.jar`` entry from ``path`` and from
    ``cache`` when an installed pyspark directory of the zip's version is
    importable from the remaining entries; return the removed entries."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return []
    drop = zips + [p for p in path if p.endswith(".jar")]
    rest = [p for p in path if p not in drop]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return []
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            installed = _version(f.read())
        zipped = set()
        for z in zips:
            with zipfile.ZipFile(z) as zf:
                zipped.add(_version(zf.read("pyspark/version.py").decode()))
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    if installed is None or zipped != {installed}:
        return []
    path[:] = rest
    for p in drop:
        cache.pop(p, None)
    return drop


if __name__ == "__main__":
    drop_spark_archives()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
