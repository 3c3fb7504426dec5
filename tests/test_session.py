"""Session construction, checked on the builder's options without
starting Spark: ``SPARK_GRAFT_CPUS`` is read once, validated, and sizes
both the local master and the batch shuffle width."""

import os

import pytest

from realtimechurnpredictiondataengineering_spark import session


def _options(monkeypatch, cpus):
    if cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    # a live SparkContext in this process would count as a configured master
    monkeypatch.setattr(session, "_master_configured", lambda: False)
    opts = session.session_builder()._options
    return opts["spark.master"], int(opts["spark.sql.shuffle.partitions"])


@pytest.mark.parametrize("cpus", [None, ""])
def test_unset_or_empty_cpus_use_the_machine(monkeypatch, cpus):
    n = os.cpu_count() or 4
    assert _options(monkeypatch, cpus) == (f"local[{n}]", max(3 * n, 4))


@pytest.mark.parametrize("cpus, width", [("1", 4), ("3", 9), ("16", 48)])
def test_cpus_sets_master_and_width(monkeypatch, cpus, width):
    assert _options(monkeypatch, cpus) == (f"local[{cpus}]", width)


@pytest.mark.parametrize("cpus", ["abc", "0", "-2", "2.5", "*"])
def test_invalid_cpus_raise_naming_the_variable(monkeypatch, cpus):
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _options(monkeypatch, cpus)
