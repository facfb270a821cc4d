"""Session defaults that depend on the host: driver heap sizing and the
event-log directory.  Neither helper starts a Spark session."""

from __future__ import annotations

import os

from zcurve_spark.session import default_driver_memory, event_log_settings

GIB = 2**30


def test_driver_memory_is_a_quarter_of_ram_at_least_1g():
    assert default_driver_memory(16 * GIB) == "4096m"
    assert default_driver_memory(15 * GIB) == "3840m"
    assert default_driver_memory(2 * GIB) == "1024m"
    assert default_driver_memory(0) == "1024m"


def test_driver_memory_reads_host_ram():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(ram)


def test_event_log_dir_created_when_enabled(tmp_path, monkeypatch):
    d = tmp_path / "events" / "nested"
    monkeypatch.setenv("SPARK_GRAFT_EVENTLOG", "True")
    monkeypatch.setenv("SPARK_GRAFT_EVENTLOG_DIR", str(d))
    assert event_log_settings() == ("true", str(d))
    assert d.is_dir()


def test_event_log_off_creates_nothing(tmp_path, monkeypatch):
    d = tmp_path / "events"
    monkeypatch.setenv("SPARK_GRAFT_EVENTLOG", "false")
    monkeypatch.setenv("SPARK_GRAFT_EVENTLOG_DIR", str(d))
    assert event_log_settings() == ("false", str(d))
    assert not d.exists()
    monkeypatch.delenv("SPARK_GRAFT_EVENTLOG")
    monkeypatch.delenv("SPARK_GRAFT_EVENTLOG_DIR")
    assert event_log_settings() == ("false", "/tmp/spark-events")
