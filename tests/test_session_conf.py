"""SPARK_GRAFT_CONF parsing in ``session.get_spark``."""

from __future__ import annotations

import pytest

from taxi_data_datapipeline_spark.session import get_spark


def test_conf_entry_without_equals_is_rejected(monkeypatch):
    # Rejected while parsing, before any session is built.
    monkeypatch.setenv("SPARK_GRAFT_CONF", "spark.sql.shuffle.partitions=8;spark.foo")
    with pytest.raises(ValueError, match="spark.foo"):
        get_spark("conf_probe")
