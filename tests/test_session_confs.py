"""Pin the r13 ensure_engine_confs memoization: first call pins the
required runtime confs, later calls are free no-ops, and a child session
(spark.newSession(), used by q_recursive_cte) is pinned independently.

Also pin the local worker daemon (``_worker_daemon``): tasks see the no-op
``zipimporter.invalidate_caches``, modules shipped after the first Python
task still import, and only a local master gets the daemon confs.

And pin the generated-class cache: a cycle of plans larger than Spark's
default cache compiles once, and a session with a smaller cache warns."""

from __future__ import annotations

import logging
import os
import types
import uuid
import zipfile

import pytest
from pyspark.sql import functions as F

from project_market_pulse_etl_pipeline_with_llm_integration_spark import session
from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (
    _CODEGEN_CACHE_CONF,
    _CODEGEN_CACHE_ENTRIES,
    _DAEMON_MODULE,
    _PINNED,
    _default_driver_memory,
    _worker_daemon_conf,
    ensure_engine_confs,
)
from tests.conftest import codegen_compiles

PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))


def test_ensure_engine_confs_pins_and_memoizes(spark):
    ensure_engine_confs(spark)
    assert spark in _PINNED
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    # memoized: the second call must not re-enter the slow path — it
    # returns the same session without touching conf (observable as: it
    # does not clobber a conf a caller changed in between; the memo is
    # per-object so correctness of the three required confs is the
    # caller's responsibility after deliberate mutation)
    assert ensure_engine_confs(spark) is spark


def test_child_session_pinned_independently(spark):
    ensure_engine_confs(spark)
    child = spark.newSession()
    assert child not in _PINNED  # new object, not yet pinned
    ensure_engine_confs(child)
    assert child in _PINNED
    assert child.conf.get("spark.sql.session.timeZone") == "UTC"


def test_package_zip_shipped_once_per_context(spark):
    """Child sessions share their parent's SparkContext, which already
    holds the zip: pinning three of them ships nothing more."""
    ensure_engine_confs(spark)
    for _ in range(3):
        ensure_engine_confs(spark.newSession())
    includes = spark.sparkContext._python_includes
    assert includes.count(os.path.basename(session._PKG_ZIP)) == 1


def test_package_zip_private_to_each_process(monkeypatch):
    """Each process zips the package into its own file: a second process
    (simulated by clearing the per-process memo) gets a new path and
    leaves the first zip, still registered elsewhere, untouched."""
    shipped: list[str] = []
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=shipped.append))
    monkeypatch.setattr(session, "_PKG_ZIP", None)
    monkeypatch.setattr(session, "_SHIPPED", None)
    session._ship_package(fake)
    first = shipped[0]
    stamp = os.stat(first).st_mtime_ns
    monkeypatch.setattr(session, "_PKG_ZIP", None)
    session._ship_package(fake)
    assert len(shipped) == 2 and shipped[1] != first
    assert os.stat(first).st_mtime_ns == stamp
    for path in shipped:
        with zipfile.ZipFile(path) as zf:
            assert zf.testzip() is None
            assert f"{session.__package__}/session.py" in zf.namelist()


def test_default_driver_memory_half_of_ram_capped_at_48g(monkeypatch):
    def fake_sysconf(pages: int):
        return lambda name: {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}[name]

    monkeypatch.setattr(os, "sysconf", fake_sysconf(16 * 2**30 // 4096))
    assert _default_driver_memory() == "8192m"
    monkeypatch.setattr(os, "sysconf", fake_sysconf(512 * 2**30 // 4096))
    assert _default_driver_memory() == "49152m"


def _on_workers(spark, probe) -> set[str]:
    """``str(probe())`` in a mapInPandas task on each of 4 partitions; the
    distinct results."""

    def run(batches):
        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"v": [str(probe())]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(run, "v string").collect()
    return {r.v for r in rows}


def test_tasks_see_the_no_op_zip_invalidation(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == _DAEMON_MODULE
    where = _on_workers(
        spark, lambda: __import__("zipimport").zipimporter.invalidate_caches.__code__.co_filename
    )
    assert where == {os.path.join(PKG_PARENT, *_DAEMON_MODULE.split(".")) + ".py"}


def test_zip_shipped_after_first_task_imports_on_workers(spark, tmp_path):
    _on_workers(spark, lambda: 1)  # workers up, their zipimporters built
    name = f"late_zip_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 'from-zip'\n")
    spark.sparkContext.addPyFile(str(path))
    assert _on_workers(spark, lambda: __import__(name).VALUE) == {"from-zip"}


def test_py_shipped_after_first_task_imports_on_workers(spark, tmp_path):
    """A plain .py lands in the SparkFiles directory, already on the worker
    path under a FileFinder.  That finder also refreshes when the
    directory's mtime moves, so the import alone cannot tell whether its
    per-task invalidation still runs: check that the method is importlib's
    own as well."""

    def refresh_module():
        import importlib.machinery

        return importlib.machinery.FileFinder.invalidate_caches.__module__

    assert _on_workers(spark, refresh_module) == {refresh_module()}
    name = f"late_py_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 'from-py'\n")
    spark.sparkContext.addPyFile(str(path))
    assert _on_workers(spark, lambda: __import__(name).VALUE) == {"from-py"}


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_daemon_conf_on_local_masters(master):
    assert _worker_daemon_conf(master, {}) == {
        "spark.python.daemon.module": _DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": PKG_PARENT,
    }


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_daemon_conf_skipped_with_a_warning_on_other_masters(master, caplog):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert _worker_daemon_conf(master, {}) == {}
    warned = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1 and _DAEMON_MODULE in warned[0] and master in warned[0]


def test_daemon_conf_merges_a_caller_pythonpath():
    conf = _worker_daemon_conf("local[2]", {"spark.executorEnv.PYTHONPATH": "/a:/b"})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([PKG_PARENT, "/a:/b"])


def test_package_zip_build_failure_raises(monkeypatch):
    def broken(*_args, **_kwargs):
        raise OSError("disk full")

    shipped: list[str] = []
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=shipped.append))
    monkeypatch.setattr(session, "_PKG_ZIP", None)
    monkeypatch.setattr(zipfile, "ZipFile", broken)
    with pytest.raises(OSError, match="disk full"):
        session._ship_package(fake)
    assert session._PKG_ZIP is None and shipped == []


def test_package_zip_refused_by_add_py_file_warns(monkeypatch, caplog):
    def refuse(_path):
        raise RuntimeError("addPyFile not supported")

    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=refuse))
    monkeypatch.setattr(session, "_PKG_ZIP", None)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._ship_package(fake)
    assert session._PKG_ZIP is not None
    assert any("addPyFile not supported" in r.getMessage() for r in caplog.records)


def test_codegen_cache_sized_for_the_engine(spark):
    assert spark.conf.get(_CODEGEN_CACHE_CONF) == str(_CODEGEN_CACHE_ENTRIES)


def test_a_cycle_of_plans_compiles_its_code_once(spark):
    """Each plan inlines its literal into its generated code, so the 150
    plans need more classes than Spark's default cache of 100 holds: a
    cache that small recompiles every one of them on the second pass."""

    def compiles_in_one_pass() -> int:
        before = codegen_compiles(spark)
        for i in range(150):
            spark.range(3).select(F.col("id") + F.lit(i)).collect()
        return codegen_compiles(spark) - before

    assert compiles_in_one_pass() >= 150
    assert compiles_in_one_pass() == 0


def test_small_codegen_cache_warns_once_when_pinned(spark, monkeypatch, caplog):
    """A child session shares its parent's static confs, so it stands in
    for a session built without get_spark once the engine's size is above
    the live one."""

    def warnings_when_pinned(child) -> list[str]:
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            ensure_engine_confs(child)
            ensure_engine_confs(child)
        return [r.getMessage() for r in caplog.records if _CODEGEN_CACHE_CONF in r.getMessage()]

    assert warnings_when_pinned(spark.newSession()) == []
    live = int(spark.conf.get(_CODEGEN_CACHE_CONF))
    monkeypatch.setattr(session, "_CODEGEN_CACHE_ENTRIES", live + 1)
    warned = warnings_when_pinned(spark.newSession())
    assert len(warned) == 1 and str(live) in warned[0]
