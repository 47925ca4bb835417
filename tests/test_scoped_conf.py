"""r14 optimization round: the generic scoped-conf helper used by the
q_small_sources lake legs (shuffle partitions scoped to the gate
table's bucket count) must restore the previous session value — set
OR unset — on both clean exit and exception."""

import pytest

from dask_awkward_sandbox_spark.plans.common import scoped_conf

KEY = "spark.sql.shuffle.partitions"


def test_scoped_conf_restores_previous_value(spark):
    prev = spark.conf.get(KEY)
    with scoped_conf(spark, KEY, "7"):
        assert spark.conf.get(KEY) == "7"
    assert spark.conf.get(KEY) == prev


def test_scoped_conf_restores_on_exception(spark):
    prev = spark.conf.get(KEY)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, KEY, "7"):
            raise RuntimeError("boom")
    assert spark.conf.get(KEY) == prev


def test_scoped_conf_unsets_when_previously_unset(spark):
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    # ensure unset going in
    try:
        spark.conf.unset(key)
    except Exception:
        pass
    with scoped_conf(spark, key, "true"):
        assert spark.conf.get(key) == "true"
    # restored to the session default (the conf's default value)
    assert spark.conf.get(key) == "false"


def test_scope_helpers_restore_like_scoped_conf(spark):
    """The stream shuffle scope restores an explicit value; the
    bucketed-scan scope leaves an unset conf unset, not pinned."""
    from dask_awkward_sandbox_spark.plans.common import bucketed_sort_scan
    from dask_awkward_sandbox_spark.plans.events import _scoped_stream_shuffle
    from dask_awkward_sandbox_spark.session import _raw_conf_get

    prev = spark.conf.get(KEY)
    with _scoped_stream_shuffle(spark):
        assert spark.conf.get(KEY) == _scoped_stream_shuffle.N
    assert spark.conf.get(KEY) == prev
    spark.conf.unset(bucketed_sort_scan.KEY)
    with bucketed_sort_scan(spark):
        assert spark.conf.get(bucketed_sort_scan.KEY) == "true"
    assert _raw_conf_get(spark, bucketed_sort_scan.KEY) is None


def test_raw_conf_get_fallback_warns_once(monkeypatch):
    import warnings

    from dask_awkward_sandbox_spark import session

    class _Conf:
        def get(self, key, default=None):
            return "v"

    class _NoJvmSession:
        conf = _Conf()

        @property
        def _jsparkSession(self):
            raise AttributeError("no JVM session")

    monkeypatch.setattr(session, "_warned_conf_fallback", False)
    with pytest.warns(RuntimeWarning, match="falling back"):
        assert session._raw_conf_get(_NoJvmSession(), "k") == "v"
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert session._raw_conf_get(_NoJvmSession(), "k") == "v"
