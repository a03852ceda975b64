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
