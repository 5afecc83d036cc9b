"""Python worker daemon: Spark's ``pyspark.daemon``, importing pyspark from
its unpacked install instead of ``pyspark.zip``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source zip at
the front of every worker's ``sys.path``.  Each task then runs
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 every cached zip importer re-reads its archive's central
directory, a fixed cost per Python task.  When an unpacked pyspark of the
same version as the zip is on the path, this daemon moves the zips behind
it before ``pyspark.daemon`` loads, so workers import the identical code
from a directory; otherwise it runs Spark's daemon on an untouched path.
``sys.argv`` passes through, so the daemon's worker-module argument works.
``session.get_spark`` selects this module as the session's daemon.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _is_spark_zip(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith("-src.zip"))


def prefer_unpacked_pyspark(path: list[str]) -> None:
    """Move the pyspark/py4j zips of ``path``, in their order, to just after
    the first other entry holding a pyspark package, when that package's
    ``pyspark/version.py`` is the one in ``pyspark.zip``.  Otherwise, or
    without ``pyspark.zip``, ``path`` is left unchanged."""
    zips = [p for p in path if _is_spark_zip(p)]
    rest = [p for p in path if p not in zips]
    archive = next((p for p in zips if os.path.basename(p) == "pyspark.zip"), None)
    home = next(
        (p for p in rest if os.path.isfile(os.path.join(p or os.curdir, "pyspark", "version.py"))),
        None,
    )
    if archive is None or home is None:
        return
    try:
        with zipfile.ZipFile(archive) as z:
            zipped = z.read("pyspark/version.py")
        with open(os.path.join(home or os.curdir, "pyspark", "version.py"), "rb") as f:
            unpacked = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return
    if zipped != unpacked:
        return
    i = rest.index(home) + 1
    path[:] = rest[:i] + zips + rest[i:]


if __name__ == "__main__":
    prefer_unpacked_pyspark(sys.path)
    from pyspark.daemon import manager

    manager()
