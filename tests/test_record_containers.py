"""The streaming and union-schema protocol cases every record container
must pass, run once per format against the one record-container
DataSource (bodies in ``tests/record_cases.py``)."""

from __future__ import annotations

import pytest

from tests import record_cases

FORMATS = ["netcdf3", "netcdf4"]


@pytest.mark.parametrize("fmt", FORMATS)
def test_dir_tail_stream_protocol(fmt, tmp_path):
    record_cases.dir_tail_freeze_and_replay(fmt, tmp_path)


@pytest.mark.parametrize("fmt", FORMATS)
def test_arrow_tail_protocol(spark, fmt, tmp_path):
    record_cases.arrow_tail_protocol(spark, fmt, tmp_path)


@pytest.mark.parametrize("fmt", FORMATS)
def test_arrow_dir_tail_protocol(spark, fmt, tmp_path):
    record_cases.arrow_dir_tail_protocol(spark, fmt, tmp_path)


@pytest.mark.parametrize("fmt", FORMATS)
def test_union_schema_strict_refuses_and_union_reads(spark, fmt):
    from netcdf4_variable_streamer_spark.sources import queries as srcq

    # (evolving directory, record key, records per member, cells per
    # record, the variable added mid-archive, a variable present
    # throughout)
    args = {
        "netcdf3": (
            srcq.ensure_nc3_evolving, "time_idx", 32,
            srcq.GRID_Y * srcq.GRID_X, "humidity", "temperature",
        ),
        "netcdf4": (
            srcq.ensure_nc4_evolving, "t_idx", 24, 4, "name", "v",
        ),
    }[fmt]
    record_cases.union_strict_then_null_fill(
        spark, fmt, args[0](), *args[1:]
    )
