"""The daemon Python workers fork from, with the worker stack loaded once.

PySpark forks every Python worker of an executor from one daemon process
(``pyspark/daemon.py``). ``get_spark`` names this module as
``spark.python.daemon.module``, so Spark starts the daemon as
``python -m metadata_enhanced_pretrain_datapipeline_spark.worker_daemon``.
Before it runs PySpark's ``daemon.manager()`` it:

- imports numpy, pyarrow, pandas, ``pyspark.worker`` and the package's
  worker-side modules, which each worker otherwise imports into private
  memory of its own;
- calls ``importlib.invalidate_caches()`` once: the package import
  installed ``zipcache``, so each zip importer records its archive's stat
  here and no worker re-reads Spark's archives before its first task;
- collects and then freezes the garbage collector (``gc.freeze()``). The
  daemon runs ``gc.collect()`` in each reused worker after every task;
  frozen objects are not walked, so the walk neither costs ~20 ms per
  task nor writes their GC headers, which would un-share their pages.

Arrow's jemalloc would start a background thread on import; the daemon
switches it off (unless the caller's environment sets
``JE_ARROW_MALLOC_CONF``) so it forks with its main thread only.
"""

from __future__ import annotations

import contextlib
import gc
import importlib
import os

#: imported in the daemon; forked workers share them copy-on-write
PRELOAD = ("numpy", "pyarrow", "pyarrow.compute", "pandas", "pyspark.worker",
           *(f"{__package__}.{m}" for m in (
               "sources.readers", "operators.html_extract", "operators.dedup",
               "operators.tokens")))


def main() -> None:
    os.environ.setdefault("JE_ARROW_MALLOC_CONF", "background_thread:false")
    for name in PRELOAD:
        with contextlib.suppress(ImportError):  # a worker imports it if ever
            importlib.import_module(name)
    from pyspark import daemon

    importlib.invalidate_caches()
    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
