"""``get_spark`` rejects a bad env knob before it builds a session, so a
live shared session never receives the bad value."""

from __future__ import annotations

import pytest

from etl_city_directories_spark.session import get_spark


@pytest.mark.parametrize(
    "knob,value",
    [
        ("SPARK_GRAFT_DF_DEBUGGING", "1"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "abc"),
        ("SPARK_GRAFT_DRIVER_MEM", "8 GB"),
    ],
)
def test_bad_env_knob_fails_early(spark, monkeypatch, knob, value):
    before = dict(spark.conf.getAll)
    monkeypatch.setenv(knob, value)
    with pytest.raises(ValueError, match=knob):
        get_spark()
    assert dict(spark.conf.getAll) == before

