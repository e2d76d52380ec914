"""The Python-worker daemon Spark starts on each executor: pyspark's own
daemon, with Spark's zip archives taken off the worker path first.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and (in local mode) a jar at the front of the workers' ``PYTHONPATH``.
Every task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which on CPython 3.11
re-reads the directory of every zipimporter on the path: about 0.2 s of
CPU per task before user code runs (``bench/BASELINE.md``, "The fixed
cost of a Python-worker task"). When the same pyspark is installed as
plain files, this daemon drops the archives from ``sys.path`` and from
``sys.path_importer_cache`` before it hands over to
``pyspark.daemon.manager``; the workers it forks import pyspark from the
installed files and a cache invalidation costs microseconds.

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
The archives are dropped only when the pyspark found outside them has
the ``__version__`` of the ``pyspark/version.py`` shipped in them and
py4j is importable outside them; otherwise ``sys.path`` stays as Spark
set it, so a version mismatch never swaps the worker's pyspark.
Executors must be able to import ``etl_spark``, as they must anyway: the
merge kernel pickles ``etl_spark`` functions by reference. Archives a
job ships with ``--py-files`` are added by each task after the fork, so
they are not affected.
"""

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")
_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _version_in(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _shipped_version(archive: str) -> str | None:
    """``pyspark.__version__`` as ``archive``'s ``pyspark/version.py``
    declares it, or None when the archive holds no pyspark."""
    try:
        with zipfile.ZipFile(archive) as zf:
            return _version_in(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> str | None:
    """``__version__`` of the pyspark package ``path`` resolves to, read
    from its ``version.py`` without importing it."""
    spec = PathFinder.find_spec("pyspark", path)
    for loc in (spec.submodule_search_locations or []) if spec else []:
        try:
            with open(os.path.join(loc, "version.py")) as fh:
                return _version_in(fh.read())
        except OSError:
            continue
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without its zip and jar archives when that leaves the
    worker the same pyspark and a py4j; otherwise ``path`` itself."""
    archives = [p for p in path if p.endswith(_ARCHIVES)]
    shipped = next(filter(None, map(_shipped_version, archives)), None)
    rest = [p for p in path if not p.endswith(_ARCHIVES)]
    if (
        shipped is None
        or _installed_version(rest) != shipped
        or PathFinder.find_spec("py4j", rest) is None
    ):
        return path
    return rest


def main() -> None:
    kept = worker_path(sys.path)
    if kept is not sys.path:
        for p in set(sys.path) - set(kept):
            sys.path_importer_cache.pop(p, None)
        sys.path[:] = kept
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
