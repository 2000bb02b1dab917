"""Python daemon entry point for the engine's sessions.

``conf.get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts its worker daemon as ``python -m geopandas_spark._pydaemon``.
Before handing over to ``pyspark.daemon`` it makes
``zipimporter.invalidate_caches`` re-read an archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since that importer last
read it. Every task calls ``importlib.invalidate_caches()``; with pyspark
imported from ``pyspark.zip`` that re-read the zip's central directory
once per zipimporter (one per package directory imported, 14-16) on every
task: 65-130 ms of CPU a task on Python 3.11 with 4 concurrent tasks. The
forked workers inherit the patch; the driver never installs it and
importing this module changes nothing.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_original = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    The first call on an importer and a missing archive go to the
    original."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_gs_stamp", None)
        return _original(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_gs_stamp") != stamp:
        _original(self)
        self._gs_stamp = stamp


if __name__ == "__main__":
    # import by name so the installed method's module is this package's,
    # not ``__main__``
    from geopandas_spark._pydaemon import invalidate_caches as _guarded

    zipimport.zipimporter.invalidate_caches = _guarded
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
