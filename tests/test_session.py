"""`session.CONFS` is the engine's one session-conf table: a session
built by `get_spark` carries every entry, and `configure_session`
applies it to an externally-created session, keeping the local-only
bench knobs off a cluster and never setting a launch-time conf."""

from types import SimpleNamespace

from codex_africanus_spark import session


class _StubConf:
    def __init__(self, master):
        self.values = {"spark.master": master}

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value


def _configured(master):
    stub = SimpleNamespace(conf=_StubConf(master))
    session.configure_session(stub)
    return {k: v for k, v in stub.conf.values.items() if k != "spark.master"}


def test_spark_fixture_carries_the_conf_table(spark):
    # the shuffle width is get_spark's `cpus`, and every later get_spark
    # call in the process resets it on the running session
    width = "spark.sql.shuffle.partitions"
    want = {k: v for k, v in session.CONFS if k != width}
    assert {k: spark.conf.get(k) for k in want} == want
    assert int(spark.conf.get(width)) > 0


def test_configure_session_keeps_local_knobs_off_a_cluster():
    keys = {k for k, _ in session.CONFS}
    assert session.LOCAL_ONLY < keys and session.LAUNCH_ONLY < keys
    runtime = {k: v for k, v in session.CONFS if k not in session.LAUNCH_ONLY}
    assert _configured("yarn") == {
        k: v for k, v in runtime.items() if k not in session.LOCAL_ONLY
    }
    # a running session refuses launch-time confs, so none is attempted
    assert _configured("local[4]") == runtime


def _sysconf(pages, page_size=4096):
    values = {"SC_PAGE_SIZE": page_size, "SC_PHYS_PAGES": pages}
    return lambda name: values[name]


def test_driver_memory_fits_the_host(monkeypatch):
    # half the physical memory when that is below 16g, else 16g
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session.os, "sysconf", _sysconf(15 * 2**30 // 4096))
    assert session.driver_memory() == "7680m"
    monkeypatch.setattr(session.os, "sysconf", _sysconf(64 * 2**30 // 4096))
    assert session.driver_memory() == "16g"
    # SPARK_DRIVER_MEMORY still wins, whatever the host
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "24g")
    assert session.driver_memory() == "24g"


def test_conf_table_driver_memory_is_the_default():
    assert dict(session.CONFS)["spark.driver.memory"] == session.driver_memory()
