"""Python worker daemon that imports pyspark from the installed package.

With ``SPARK_HOME`` set, the JVM puts Spark's own archives (``pyspark.zip``,
the py4j source zip and the Spark core jar) at the front of every Python
worker's ``sys.path``, so workers import pyspark through ``zipimporter``.
pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and on CPython 3.11 each zipimporter then re-reads its whole
archive directory (``pyspark.zip`` has ~1.3k entries, the jar ~5.4k):
0.13–0.28 s per task, measured, whatever the task's size.

``get_spark`` starts workers with ``python -m libpostal_spark.daemon``
(``spark.python.daemon.module``). This module drops Spark's archives from
``sys.path`` when the rest of the path holds an unpacked pyspark of the
same version plus an unpacked py4j, then runs ``pyspark.daemon`` unchanged.
In any other case, or on any error, the stock daemon runs as is. It imports
only the standard library, so nothing is loaded from the archives before
they go.
"""

from __future__ import annotations

import fnmatch
import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""^__version__[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def _unpacked_package(name: str, path: list[str]) -> str | None:
    """Directory of package ``name`` as an import over ``path`` would find
    it, or None when it is missing or not a plain directory on disk."""
    spec = PathFinder.find_spec(name, path)
    origin = spec.origin if spec is not None else None
    if not origin or not os.path.isfile(origin):
        return None
    return os.path.dirname(origin)


def spark_archives(path: list[str]) -> list[str]:
    """The entries of ``path`` that are Spark's own archives, when the rest
    of ``path`` can stand in for them; otherwise an empty list.

    Spark's archives are the entries named ``pyspark.zip``,
    ``py4j-*-src.zip`` or ``spark-core_*.jar``. The rest stands in when it
    holds an unpacked pyspark whose ``version.py`` declares the same
    ``__version__`` as the zip's, and an unpacked py4j. Every other entry,
    a user's ``--py-files`` archive among them, is never dropped.
    """
    archives = [
        p for p in path
        if any(fnmatch.fnmatch(os.path.basename(p), pat) for pat in _ARCHIVES)
    ]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return []
    rest = [p for p in path if p not in archives]
    pyspark_dir = _unpacked_package("pyspark", rest)
    if pyspark_dir is None or _unpacked_package("py4j", rest) is None:
        return []
    with open(os.path.join(pyspark_dir, "version.py"), encoding="utf-8") as fh:
        have = _VERSION.search(fh.read())
    for z in zips:
        with zipfile.ZipFile(z) as zf:
            want = _VERSION.search(zf.read("pyspark/version.py").decode())
        if not (have and want and have.group(1) == want.group(1)):
            return []
    return archives


def main() -> None:
    try:
        drop = spark_archives(sys.path)
        stale = [
            k for k in sys.path_importer_cache
            if any(k == d or k.startswith(d + os.sep) for d in drop)
        ]
        sys.path[:] = [p for p in sys.path if p not in drop]
        for k in stale:
            del sys.path_importer_cache[k]
    except Exception as exc:  # noqa: BLE001 - any doubt runs the stock daemon
        # stderr, never stdout: pyspark.daemon reports its port on stdout
        print(f"libpostal_spark.daemon: keeping Spark's archives on "
              f"sys.path: {exc!r}", file=sys.stderr)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
