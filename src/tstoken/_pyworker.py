"""Python-worker daemon (`spark.python.daemon.module`, set by
`session.get_spark`, which says why): `pyspark.daemon` without Spark's
archives on `sys.path`. When an installed pyspark of the archived
version and an installed py4j can replace them, pyspark.zip, the py4j
zip and the spark-core jar are dropped before pyspark is imported, so
the forked workers hold no zipimporter; otherwise the path is unchanged.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

_SPARK_ARCHIVE = re.compile(r"^(pyspark\.zip|py4j-.*\.zip|spark-core_.*\.jar)$")
_VERSION = re.compile(r"""__version__[^=\n]*=\s*['"]([^'"]+)['"]""")


def without_archives(path: list[str], installed: str | None,
                     shipped: str | None, has_py4j: bool) -> list[str]:
    """`path` without Spark's archives when the installed pyspark
    (version `installed`) matches the archived one (`shipped`) and py4j
    is installed too; otherwise `path` unchanged."""
    if installed is None or installed != shipped or not has_py4j:
        return list(path)
    return [p for p in path if not _is_spark_archive(p)]


def _is_spark_archive(entry: str) -> bool:
    return _SPARK_ARCHIVE.match(os.path.basename(entry)) is not None


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def probe(path: list[str]) -> tuple[str | None, str | None, bool]:
    """(installed pyspark version, archived pyspark version, py4j
    installed), read from the files without importing either package."""
    outside = [p for p in path if not _is_spark_archive(p)]
    finder = importlib.machinery.PathFinder
    installed = shipped = None
    spec = finder.find_spec("pyspark", outside)
    if spec is not None and spec.origin:
        try:
            with open(os.path.join(os.path.dirname(spec.origin),
                                   "version.py")) as f:
                installed = _version(f.read())
        except OSError:
            pass
    for p in path:
        if os.path.basename(p) == "pyspark.zip":
            try:
                with zipfile.ZipFile(p) as z:
                    shipped = _version(z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                pass
            break
    return installed, shipped, finder.find_spec("py4j", outside) is not None


def main() -> None:
    keep = without_archives(sys.path, *probe(sys.path))
    dropped = tuple(p for p in sys.path if p not in keep)
    if dropped:
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(dropped)]:
            del sys.path_importer_cache[key]
        sys.path[:] = keep
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
