"""``pyspark.daemon`` that drops cached zip finders before every task.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of each
task (``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory; a warm worker holds 16 of them (pyspark.zip
subpackages, py4j, the spark-core jar), about 0.2 s of CPU per task before any
UDF code runs. Deleting finder-cache entries is the documented way to force a
re-search; a later import rebuilds the finder from
``zipimport._zip_directory_cache`` without reading the archive again, and
Spark never rewrites a file that is already on a worker's path.

``session.get_spark`` selects this module via ``spark.python.daemon.module``.
"""

import sys
import zipimport

from pyspark import daemon

_run_task = daemon.worker_main


def worker_main(infile, outfile):
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
    return _run_task(infile, outfile)


if __name__ == "__main__":
    daemon.worker_main = worker_main
    daemon.manager()
