"""PySpark's Python worker daemon, started warm.

Every Python task runs in a worker that PySpark's daemon forks. The stock
daemon (`pyspark.daemon`) has imported `pyspark.worker`, and through it
numpy, when it forks; each worker then imported pandas, pyarrow and this
package on its own, a private copy per worker (SCALE.md, "Known
trade-offs", has the MB per worker).

This module imports them once, in the daemon, before the first fork:
numpy, pandas, pyarrow, `pyspark.worker`, the Arrow serializers and this
package's root, which installs `_zipcache`. It then runs one
`importlib.invalidate_caches()`, so the zip archives on the import path
are read and their signatures recorded before the fork: a worker's first
task finds them unchanged, like every later one. `gc.freeze()` moves the
imported objects out of the collector's generations, so a worker's
collections do not write to (and un-share) their pages. Then
`pyspark.daemon.manager()` runs as usual.

The stock daemon already forks with numpy's BLAS threads started; the
preload adds pyarrow's allocator thread. Both
libraries reset their threads in a forked child (pthread_atfork);
tests/test_zip_import_cache.py runs a BLAS matmul and an Arrow kernel in
freshly forked workers.

The query modules are not imported here: they are many and a job uses
few, and importing them all made the first cold job slower.

`session.get_spark` selects this module through the static conf
`spark.python.daemon.module`; PySpark starts it as
``python -m dataflowjavasdk_spark._daemon pyspark.worker``.
"""

from __future__ import annotations

import gc
import importlib

PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.worker",
    "pyspark.sql.pandas.serializers",
    "dataflowjavasdk_spark",
)


def preload() -> None:
    """Import `PRELOAD` and read the import path's archives once. A
    module the worker's interpreter lacks is left to fail where a task
    needs it, as with the stock daemon."""
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:
            pass
    importlib.invalidate_caches()
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    preload()
    from pyspark import daemon

    daemon.manager()
