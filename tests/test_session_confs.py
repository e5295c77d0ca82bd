"""Pin the r13 ensure_engine_confs memoization: first call pins the
required runtime confs, later calls are free no-ops, and a child session
(spark.newSession(), used by q_recursive_cte) is pinned independently."""

from __future__ import annotations

import os

from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (
    _PINNED,
    _default_driver_memory,
    ensure_engine_confs,
)


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


def test_package_zip_private_to_each_process(monkeypatch):
    """Each process zips the package into its own file: a second process
    (simulated by clearing the per-process memo) gets a new path and
    leaves the first zip, still registered elsewhere, untouched."""
    import types
    import zipfile

    from project_market_pulse_etl_pipeline_with_llm_integration_spark import session

    shipped: list[str] = []
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=shipped.append))
    monkeypatch.setattr(session, "_PKG_ZIP", None)
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
