"""Python-worker daemon with a lean import path (``spark.python.daemon.module``).

Spark puts ``pyspark.zip``, the py4j zip and the ``spark-core`` jar in
front of every Python worker's ``sys.path``. pyspark's worker calls
``importlib.invalidate_caches()`` once per task, and on Python 3.11 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory: about 40 importers under ``pyspark.zip`` and 2 under the
5359-entry jar, 0.12–0.14 s of every task. This module drops from
``sys.path`` each archive that :func:`prune_path` finds redundant, then
runs pyspark's own daemon; forked workers inherit the edited path.

It imports nothing from pyspark (or from this package) before the path
is edited, so pyspark then comes from the directory copy.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _redundant(archive: str, dirs: list[str]) -> bool:
    """True when ``archive`` holds no ``.py`` file, or when each of its
    top-level packages is importable from the first entry of ``dirs``
    that has it, with a byte-identical ``version.py``."""
    try:
        with zipfile.ZipFile(archive) as z:
            names = z.namelist()
            if not any(n.endswith(".py") for n in names):
                return True
            pkgs = {n.split("/", 1)[0] for n in names if n.count("/") == 1 and n.endswith("/__init__.py")}
            if not pkgs:
                return False
            for pkg in pkgs:
                home = next((d for d in dirs if os.path.isfile(os.path.join(d, pkg, "__init__.py"))), None)
                if home is None or f"{pkg}/version.py" not in names:
                    return False
                with open(os.path.join(home, pkg, "version.py"), "rb") as fh:
                    if fh.read() != z.read(f"{pkg}/version.py"):
                        return False
            return True
    except (OSError, zipfile.BadZipFile):
        return False


def prune_path(path: list[str]) -> list[str]:
    """``path`` without its redundant archives (see :func:`_redundant`);
    directories and every other entry keep their order."""
    dirs = [p for p in path if os.path.isdir(p)]
    return [p for p in path if not (os.path.isfile(p) and _redundant(p, dirs))]


def main() -> None:
    kept = prune_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
