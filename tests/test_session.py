"""``$SPARK_GRAFT_CPUS`` parsing shared by the session factory and the
bench (no Spark)."""

from __future__ import annotations

import pytest

from hadoop_invertedindexer_spark.session import env_cpus


@pytest.mark.parametrize(
    "value, cpus", [(None, 32), ("", 32), (" ", 32), ("4", 4)]
)
def test_env_cpus_defaults_when_unset_or_blank(monkeypatch, value, cpus):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert env_cpus() == cpus
