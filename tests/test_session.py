"""Session defaults: the engine's Python worker daemon and the driver heap."""

import os

from geotiff_scalable_analysis_pipeline_spark import session


def test_session_names_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        "geotiff_scalable_analysis_pipeline_spark.worker_daemon"
    )


def test_warm_worker_holds_no_zip_finders(spark):
    """Spark's worker resets the import caches before every task, which on
    Python 3.11 re-reads the archive behind every cached zip finder (16 in a
    warm worker under the stock daemon). The engine daemon drops them first,
    so a warm worker's UDF starts with none."""

    def zip_finders(batches):
        import sys
        import zipimport

        import pandas as pd

        n = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [n]})

    df = spark.range(0, 64, numPartitions=2)
    for _ in range(2):  # warm-up: every worker the stage uses has run a task
        df.mapInPandas(zip_finders, "n long").collect()
    got = df.mapInPandas(zip_finders, "n long").collect()
    assert [r.n for r in got] == [0, 0]


def test_workers_can_import_package_rule(monkeypatch, tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.realpath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", "")
    assert not session.workers_can_import_package("local[2]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session.workers_can_import_package("local[2]")
    assert not session.workers_can_import_package("spark://host:7077")
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(root)
    assert session.workers_can_import_package("local[*]")


def test_default_driver_memory_rule(monkeypatch):
    gib = 2**30
    host = session.default_driver_memory()
    real = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")

    def at(mem_total_bytes):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": mem_total_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session.default_driver_memory()

    assert at(15 * gib) == "7680m"
    assert at(6 * gib) == "4096m"
    assert at(48 * gib) == "24576m"
    assert at(128 * gib) == "24576m"
    assert host == at(real)
