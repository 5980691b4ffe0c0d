"""NetCDF-3 classic codec tests (VERDICT r2 "Next round" #4).

Three layers: (1) a GOLDEN-BYTES check against a hand-assembled minimal
file straight from the public classic-format spec (so the codec is
validated against the format, not against itself); (2) write→read
round-trips covering fixed+record variables, multi-record-var padding,
attributes, and record-range reads; (3) the Spark DataSource: long-form
scan equality with the source arrays, record-range partition planning,
and pushdown pruning.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from netcdf4_variable_streamer_spark.sources.netcdf3 import (
    NetCDF3File,
    write_netcdf3,
)
from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
    NetCDF3DataSource,
)
from tests import record_cases


def _golden_minimal() -> bytes:
    """Hand-assembled per the spec: dims time(record), x=2; one int16
    record var v(time, x); numrecs=2; data [[1,2],[3,4]].

    Layout: magic(4) numrecs(4) dim_list(8 + 12 + 12) gatt ABSENT(8)
    var_list(8 + [name 8, ndims 4, dimids 8, vatt 8, type 4, vsize 4,
    begin 4]) = 96 bytes of header; begin = 96."""
    h = b"CDF\x01"
    h += struct.pack(">i", 2)  # numrecs
    h += struct.pack(">ii", 0x0A, 2)  # NC_DIMENSION, 2 dims
    h += struct.pack(">i", 4) + b"time"  # name 'time' (4 bytes, no pad)
    h += struct.pack(">i", 0)  # record dim: length 0
    h += struct.pack(">i", 1) + b"x\x00\x00\x00"  # name 'x' padded
    h += struct.pack(">i", 2)  # x = 2
    h += struct.pack(">ii", 0, 0)  # gatt ABSENT
    h += struct.pack(">ii", 0x0B, 1)  # NC_VARIABLE, 1 var
    h += struct.pack(">i", 1) + b"v\x00\x00\x00"  # name 'v'
    h += struct.pack(">i", 2)  # ndims
    h += struct.pack(">ii", 0, 1)  # dimids: time, x
    h += struct.pack(">ii", 0, 0)  # vatt ABSENT
    h += struct.pack(">ii", 3, 4)  # NC_SHORT, vsize = 4 (one record)
    h += struct.pack(">i", 96)  # begin
    data = struct.pack(">4h", 1, 2, 3, 4)  # rec0: 1,2 ; rec1: 3,4
    return h + data


def test_writer_matches_golden_bytes(tmp_path):
    path = os.path.join(tmp_path, "g.nc")
    write_netcdf3(
        path,
        dims={"time": None, "x": 2},
        variables={"v": ("int16", ("time", "x"))},
        data={"v": np.array([[1, 2], [3, 4]], dtype=np.int16)},
    )
    assert open(path, "rb").read() == _golden_minimal()


def test_reader_parses_golden_bytes(tmp_path):
    path = os.path.join(tmp_path, "g.nc")
    with open(path, "wb") as f:
        f.write(_golden_minimal())
    nc = NetCDF3File(path)
    assert nc.version == 1
    assert nc.numrecs == 2
    assert nc.dims == {"time": None, "x": 2}
    assert nc.record_dim == "time"
    v = nc.variables["v"]
    assert v.is_record and v.shape == (2,) and v.nc_type == 3
    np.testing.assert_array_equal(
        nc.read_records("v"), np.array([[1, 2], [3, 4]], dtype=np.int16)
    )


def test_roundtrip_fixed_and_record_vars(tmp_path):
    path = os.path.join(tmp_path, "rt.nc")
    rng = np.random.RandomState(7)
    lat = np.linspace(-90, 90, 5)
    temp = rng.randn(6, 5, 3).astype(np.float32)
    hum = (rng.rand(6, 5, 3) * 100).astype(np.float64)
    flag = rng.randint(-100, 100, size=(6, 5, 3), dtype=np.int8)
    write_netcdf3(
        path,
        dims={"time": None, "lat": 5, "lon": 3},
        variables={
            "lat": ("float64", ("lat",)),
            "temperature": ("float32", ("time", "lat", "lon")),
            "humidity": ("float64", ("time", "lat", "lon")),
            "flag": ("int8", ("time", "lat", "lon")),
        },
        data={
            "lat": lat,
            "temperature": temp,
            "humidity": hum,
            "flag": flag,
        },
        attrs={"title": "roundtrip", "level": 3},
        var_attrs={"temperature": {"units": "K", "scale": 1.5}},
    )
    nc = NetCDF3File(path)
    assert nc.numrecs == 6
    assert nc.attrs["title"] == "roundtrip"
    assert int(nc.attrs["level"]) == 3
    assert nc.variables["temperature"].attrs["units"] == "K"
    assert float(nc.variables["temperature"].attrs["scale"]) == 1.5
    np.testing.assert_array_equal(nc.read_fixed("lat"), lat)
    np.testing.assert_array_equal(nc.read_records("temperature"), temp)
    np.testing.assert_array_equal(nc.read_records("humidity"), hum)
    # flag's 15-byte record slab forces the multi-record-var 4-byte
    # padding rule; any padding error skews every later record
    np.testing.assert_array_equal(nc.read_records("flag"), flag)


def test_record_range_read_is_a_slice(tmp_path):
    path = os.path.join(tmp_path, "slice.nc")
    data = np.arange(40, dtype=np.int32).reshape(10, 4)
    write_netcdf3(
        path,
        dims={"t": None, "x": 4},
        variables={"v": ("int32", ("t", "x"))},
        data={"v": data},
    )
    nc = NetCDF3File(path)
    np.testing.assert_array_equal(nc.read_records("v", 3, 7), data[3:7])
    np.testing.assert_array_equal(nc.read_records("v", 8, 99), data[8:])
    assert nc.read_records("v", 7, 3).shape == (0, 4)


def test_single_record_var_is_unpadded(tmp_path):
    # spec special case: exactly one record variable -> slabs unpadded;
    # an int8 x3 slab (3 bytes) exposes any wrongly-applied padding
    path = os.path.join(tmp_path, "pad.nc")
    data = np.arange(12, dtype=np.int8).reshape(4, 3)
    write_netcdf3(
        path,
        dims={"t": None, "x": 3},
        variables={"v": ("int8", ("t", "x"))},
        data={"v": data},
    )
    nc = NetCDF3File(path)
    assert nc.recsize == 3  # not 4
    np.testing.assert_array_equal(nc.read_records("v"), data)
    # file size = header + numrecs * recsize exactly
    begin = nc.variables["v"].begin
    assert os.path.getsize(path) == begin + 4 * 3


def _golden_cdf5() -> bytes:
    """Hand-assembled CDF-5 ("64-bit data", PnetCDF spec) minimal file:
    dims time(record), x=2; one NC_INT64 record var v(time, x);
    numrecs=2; data [[1,2],[3,4]]. Every NON_NEG field is int64 (numrecs,
    nelems, name lengths, dim lengths, ndims, dimids, vsize); tags and
    nc_type stay int32; ABSENT = int32 0 + int64 0; begin is int64.
    Header = 156 bytes; begin = 156."""
    h = b"CDF\x05"
    h += struct.pack(">q", 2)  # numrecs (int64)
    h += struct.pack(">iq", 0x0A, 2)  # NC_DIMENSION, 2 dims
    h += struct.pack(">q", 4) + b"time"  # name 'time'
    h += struct.pack(">q", 0)  # record dim: length 0
    h += struct.pack(">q", 1) + b"x\x00\x00\x00"  # name 'x'
    h += struct.pack(">q", 2)  # x = 2
    h += struct.pack(">iq", 0, 0)  # gatt ABSENT
    h += struct.pack(">iq", 0x0B, 1)  # NC_VARIABLE, 1 var
    h += struct.pack(">q", 1) + b"v\x00\x00\x00"  # name 'v'
    h += struct.pack(">q", 2)  # ndims (int64)
    h += struct.pack(">qq", 0, 1)  # dimids (int64 each)
    h += struct.pack(">iq", 0, 0)  # vatt ABSENT
    h += struct.pack(">i", 10)  # NC_INT64
    h += struct.pack(">q", 16)  # vsize (int64, exact)
    h += struct.pack(">q", 156)  # begin (int64)
    data = struct.pack(">4q", 1, 2, 3, 4)
    return h + data


def test_cdf5_writer_matches_golden_bytes(tmp_path):
    path = os.path.join(tmp_path, "g5.nc")
    write_netcdf3(
        path,
        dims={"time": None, "x": 2},
        variables={"v": ("int64", ("time", "x"))},
        data={"v": np.array([[1, 2], [3, 4]], dtype=np.int64)},
    )
    assert open(path, "rb").read() == _golden_cdf5()


def test_cdf5_reader_parses_golden_bytes(tmp_path):
    path = os.path.join(tmp_path, "g5.nc")
    with open(path, "wb") as f:
        f.write(_golden_cdf5())
    nc = NetCDF3File(path)
    assert nc.version == 5
    assert nc.numrecs == 2
    assert nc.dims == {"time": None, "x": 2}
    v = nc.variables["v"]
    assert v.is_record and v.shape == (2,) and v.nc_type == 10
    np.testing.assert_array_equal(
        nc.read_records("v"), np.array([[1, 2], [3, 4]], dtype=np.int64)
    )


def test_cdf5_version_selection(tmp_path):
    # any CDF-5-only dtype auto-bumps; classic dtypes stay CDF-1;
    # forcing version 1/2 with a CDF-5 dtype is a loud error
    p1 = os.path.join(tmp_path, "v1.nc")
    write_netcdf3(
        p1,
        dims={"t": None},
        variables={"v": ("int32", ("t",))},
        data={"v": np.arange(3, dtype=np.int32)},
    )
    assert NetCDF3File(p1).version == 1
    for dt in ("uint8", "uint16", "uint32", "int64", "uint64"):
        p5 = os.path.join(tmp_path, f"v5_{dt}.nc")
        write_netcdf3(
            p5,
            dims={"t": None},
            variables={"v": (dt, ("t",))},
            data={"v": np.arange(3).astype(dt)},
        )
        assert NetCDF3File(p5).version == 5, dt
    with pytest.raises(ValueError, match="CDF-5"):
        write_netcdf3(
            os.path.join(tmp_path, "bad.nc"),
            dims={"t": None},
            variables={"v": ("int64", ("t",))},
            data={"v": np.arange(3, dtype=np.int64)},
            version=1,
        )


def test_cdf5_roundtrip_attrs_and_append(tmp_path):
    """CDF-5 round trip with 64-bit attribute promotion (an integer
    attribute >= 2^31 becomes NC_INT64 instead of the classic loud
    error), fixed+record mix of unsigned types, and append (numrecs
    patch is the 8-byte NON_NEG field)."""
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        append_records,
    )

    path = os.path.join(tmp_path, "rt5.nc")
    rec = np.array([[1, 2**40], [3, 4]], dtype=np.int64)
    cnt = np.array([[250, 251], [252, 253]], dtype=np.uint8)
    big = np.array([2**63 - 1, 7], dtype=np.uint64)
    write_netcdf3(
        path,
        dims={"t": None, "x": 2},
        variables={
            "v": ("int64", ("t", "x")),
            "c": ("uint8", ("t", "x")),
            "big": ("uint64", ("x",)),
        },
        data={"v": rec, "c": cnt, "big": big},
        attrs={"huge": 2**40, "small": 3},
    )
    nc = NetCDF3File(path)
    assert nc.version == 5
    assert int(nc.attrs["huge"]) == 2**40
    assert int(nc.attrs["small"]) == 3
    np.testing.assert_array_equal(nc.read_records("v"), rec)
    np.testing.assert_array_equal(nc.read_records("c"), cnt)
    np.testing.assert_array_equal(nc.read_fixed("big"), big)
    assert append_records(
        path,
        {
            "v": np.array([[5, 6]], dtype=np.int64),
            "c": np.array([[9, 9]], dtype=np.uint8),
        },
    ) == 3
    nc2 = NetCDF3File(path)
    assert nc2.numrecs == 3
    np.testing.assert_array_equal(
        nc2.read_records("v", 2, 3), np.array([[5, 6]], dtype=np.int64)
    )


def test_cdf5_spark_scan_widens_unsigned(spark, tmp_path):
    """The DataSource scans a CDF-5 file: int64 -> long, uint16 -> int
    (next signed container), values exact; NC_UINT64 record vars map to
    the exact DECIMAL(20,0) container (SURVEY §1.2)."""
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    path = os.path.join(tmp_path, "scan5.nc")
    v = (np.arange(12, dtype=np.int64) * 2**40).reshape(6, 2)
    u = (np.arange(12) * 5000).astype(np.uint16).reshape(6, 2)
    write_netcdf3(
        path,
        dims={"t": None, "x": 2},
        variables={
            "v": ("int64", ("t", "x")),
            "u": ("uint16", ("t", "x")),
        },
        data={"v": v, "u": u},
    )
    spark.dataSource.register(NetCDF3DataSource)
    df = spark.read.format(FORMAT3_NAME).option("path", path).load()
    dt = dict(df.dtypes)
    assert dt["v"] == "bigint" and dt["u"] == "int"
    pdf = df.orderBy("t_idx", "x_idx").toPandas()
    np.testing.assert_array_equal(pdf["v"].to_numpy(), v.reshape(-1))
    np.testing.assert_array_equal(pdf["u"].to_numpy(), u.reshape(-1))

    u8 = os.path.join(tmp_path, "u64.nc")
    vals = np.array([2**64 - 1, 2**63 + 5, 7], dtype=np.uint64)
    write_netcdf3(
        u8,
        dims={"t": None},
        variables={"w": ("uint64", ("t",))},
        data={"w": vals},
    )
    dfu = spark.read.format(FORMAT3_NAME).option("path", u8).load()
    assert dict(dfu.dtypes)["w"] == "decimal(20,0)"
    got = [int(r["w"]) for r in dfu.orderBy("t_idx").collect()]
    assert got == [2**64 - 1, 2**63 + 5, 7]


def test_mixed_version_multifile_scan(spark, tmp_path):
    """A directory may mix CDF-1 and CDF-5 members (an archive that
    upgraded formats mid-stream): version is per-file, the dataset
    signature (schema + fixed extents) is what must agree."""
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    d = os.path.join(tmp_path, "mixed")
    os.makedirs(d)
    for i, ver in enumerate([None, 5]):  # auto->CDF-1, forced CDF-5
        write_netcdf3(
            os.path.join(d, f"part-{i}.nc"),
            dims={"t": None, "x": 2},
            variables={"v": ("float32", ("t", "x"))},
            data={
                "v": (np.arange(8, dtype=np.float32) + 100 * i).reshape(
                    4, 2
                )
            },
            version=ver,
        )
    assert NetCDF3File(os.path.join(d, "part-0.nc")).version == 1
    assert NetCDF3File(os.path.join(d, "part-1.nc")).version == 5
    spark.dataSource.register(NetCDF3DataSource)
    df = spark.read.format(FORMAT3_NAME).option("path", d).load()
    pdf = df.orderBy("t_idx", "x_idx").toPandas()
    assert len(pdf) == 16
    # global record index spans the version boundary contiguously
    assert pdf["t_idx"].tolist() == sorted([i for i in range(8)] * 2)
    np.testing.assert_array_equal(
        pdf["v"].to_numpy()[:4], [0.0, 1.0, 2.0, 3.0]
    )
    np.testing.assert_array_equal(
        pdf["v"].to_numpy()[-4:], [104.0, 105.0, 106.0, 107.0]
    )


@pytest.fixture(scope="module")
def nc3_grid(tmp_path_factory):
    """A 48-record grid .nc written by the codec, plus its arrays."""
    path = os.path.join(tmp_path_factory.mktemp("nc3"), "grid.nc")
    from netcdf4_variable_streamer_spark.sources.queries import grid_values

    vals = grid_values(0, 48)
    write_netcdf3(
        path,
        dims={"time": None, "y": 32, "x": 32},
        variables={
            "temperature": ("float32", ("time", "y", "x")),
            "humidity": ("float32", ("time", "y", "x")),
        },
        data=vals,
        attrs={"source": "closed-form grid"},
    )
    return path, vals


def test_spark_scan_matches_source_arrays(spark, nc3_grid):
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    path, vals = nc3_grid
    spark.dataSource.register(NetCDF3DataSource)
    df = spark.read.format(FORMAT3_NAME).option("path", path).load()
    assert df.count() == 48 * 32 * 32
    got = (
        df.filter(F.col("time_idx") == 17)
        .orderBy("y_idx", "x_idx")
        .select("temperature")
        .toPandas()["temperature"]
        .to_numpy()
        .astype(np.float32)
    )
    np.testing.assert_array_equal(
        got, vals["temperature"][17].reshape(-1)
    )


def test_spark_scan_pushdown_prunes_records(spark, nc3_grid):
    path, _ = nc3_grid
    record_cases.pushdown_prunes_records(spark, "netcdf3", path, "time_idx")


def test_src_netcdf3_scan_oracle(check):
    from netcdf4_variable_streamer_spark.sources import queries as srcq

    pdf = check("src_netcdf3_scan")
    assert pdf.loc[0, "n_cells"] == 96 * srcq.GRID_Y * srcq.GRID_X
    assert pdf.loc[0, "n_lines"] == 96


def test_snk_netcdf3_write_oracle(check):
    from netcdf4_variable_streamer_spark.sources import queries as srcq

    pdf = check("snk_netcdf3_write")
    assert pdf.loc[0, "n_cells"] == 32 * srcq.GRID_Y * srcq.GRID_X
    assert pdf.loc[0, "n_lines"] == 32


def test_nc3_append_and_tail(spark, tmp_path):
    """A14 on a real file: append_records grows the record region and
    patches numrecs last; a second microbatch sees ONLY the appended
    records, and offset replay is exactly-once."""
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        append_records,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
    )

    path = os.path.join(tmp_path, "tail.nc")
    write_netcdf3(
        path,
        dims={"t": None, "x": 2},
        variables={"v": ("float32", ("t", "x"))},
        data={"v": np.arange(6, dtype=np.float32).reshape(3, 2)},
    )
    spark.dataSource.register(NetCDF3DataSource)
    schema = spark.read.format(FORMAT3_NAME).option("path", path).load().schema
    tail = record_cases.tail(FORMAT3_NAME, path, schema)
    off0 = tail.initialOffset()
    off1 = tail.latestOffset()
    assert off1 == {"rec": 3}
    assert len(record_cases.tail_rows(tail, off0, off1)) == 6
    new_total = append_records(
        path, {"v": np.full((2, 2), 9, dtype=np.float32)}
    )
    assert new_total == 5
    assert NetCDF3File(path).numrecs == 5
    off2 = tail.latestOffset()
    rows2 = record_cases.tail_rows(tail, off1, off2)
    assert off2 == {"rec": 5} and len(rows2) == 4
    assert all(r[-1] == 9.0 for r in rows2)
    replay = record_cases.tail_rows(tail, off1, off2)
    assert sorted(replay) == sorted(rows2)
    # batch rescan sees the grown extent too
    assert (
        spark.read.format(FORMAT3_NAME).option("path", path).load().count()
        == 10
    )


def test_multifile_prunes_whole_files(spark):
    """A global streamed-dim range that misses a member file must prune
    that file's partitions entirely (it is never opened for data)."""
    from netcdf4_variable_streamer_spark.sources import queries as srcq
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    path = srcq.ensure_nc3_multifile()
    spark.dataSource.register(NetCDF3DataSource)
    base = spark.read.format(FORMAT3_NAME).option("path", path).load()
    assert base.count() == 128 * 32 * 32
    full = base.rdd.getNumPartitions()
    pruned = base.filter(
        (base.time_idx >= 90) & (base.time_idx < 100)
    ).rdd.getNumPartitions()
    assert pruned < full, (full, pruned)
    # cross-boundary global indexing: records 30..40 span files 1 and 2
    span = base.filter((base.time_idx >= 30) & (base.time_idx < 40))
    assert span.select("time_idx").distinct().count() == 10


def test_fill_value_maps_to_null(spark, tmp_path):
    """netCDF masked-array semantics (the reference inherits them from
    netCDF4.Dataset): cells equal to the variable's _FillValue come
    back as NULL through both the batch scan and the streaming tail;
    variables without the attribute are untouched."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
    )

    path = os.path.join(tmp_path, "fill.nc")
    v = np.array(
        [[1.5, -999.0], [-999.0, 4.5], [5.5, 6.5]], dtype=np.float32
    )
    w = np.array([[1, 2], [3, -7], [5, 6]], dtype=np.int32)
    write_netcdf3(
        path,
        dims={"t": None, "x": 2},
        variables={
            "v": ("float32", ("t", "x")),
            "w": ("int32", ("t", "x")),
        },
        data={"v": v, "w": w},
        var_attrs={"v": {"_FillValue": -999.0}},  # w: no fill attr
    )
    spark.dataSource.register(NetCDF3DataSource)
    df = spark.read.format(FORMAT3_NAME).option("path", path).load()
    pdf = df.orderBy("t_idx", "x_idx").toPandas()
    assert pdf["v"].isna().sum() == 2
    assert pdf["w"].isna().sum() == 0  # -7 is data, not fill
    # aggregate semantics: nulls are skipped, exactly like masked cells
    agg = df.agg(
        F.count("v").alias("n"), F.min("v").alias("mn")
    ).collect()[0]
    assert agg["n"] == 4 and agg["mn"] == 1.5

    # streaming tail honors the mask too
    tail = record_cases.tail(FORMAT3_NAME, path, df.schema)
    off = tail.latestOffset()
    assert off == {"rec": 3}
    rows = record_cases.tail_rows(tail, tail.initialOffset(), off)
    vcol = [r[2] for r in rows]  # (t_idx, x_idx, v, w)
    assert vcol.count(None) == 2


def test_cf_time_decode_option(spark, tmp_path):
    """decode_cf_time=true turns a CF 'units = "<unit> since <date>"'
    variable into timestamp_ntz; default leaves raw numbers (matching
    the reference's netCDF4 base class, which returns numbers and
    leaves num2date to the caller); exotic calendars stay raw."""
    from datetime import datetime

    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    path = os.path.join(tmp_path, "cf.nc")
    t = np.array([0.0, 1.5, 48.25], dtype=np.float64)  # hours
    v = np.array([10, 20, 30], dtype=np.int32)
    write_netcdf3(
        path,
        dims={"time": None},
        variables={
            "t": ("float64", ("time",)),
            "v": ("int32", ("time",)),
        },
        data={"t": t, "v": v},
        var_attrs={"t": {"units": "hours since 2000-01-01 06:00:00"}},
    )
    spark.dataSource.register(NetCDF3DataSource)
    raw = spark.read.format(FORMAT3_NAME).option("path", path).load()
    assert dict(raw.dtypes)["t"] == "double"
    df = (
        spark.read.format(FORMAT3_NAME)
        .option("path", path)
        .option("decode_cf_time", "true")
        .load()
    )
    assert dict(df.dtypes)["t"] == "timestamp_ntz"
    got = [r["t"] for r in df.orderBy("time_idx").collect()]
    assert got == [
        datetime(2000, 1, 1, 6, 0, 0),
        datetime(2000, 1, 1, 7, 30, 0),
        datetime(2000, 1, 3, 6, 15, 0),
    ]
    # v (no units attr) is untouched
    assert dict(df.dtypes)["v"] == "int"

    # unknown calendar: left raw even with the option on (fixed-length
    # calendars like noleap/360_day DO decode — see
    # test_cf_exotic_calendar_scan)
    path2 = os.path.join(tmp_path, "julian.nc")
    write_netcdf3(
        path2,
        dims={"time": None},
        variables={"t": ("float64", ("time",))},
        data={"t": t},
        var_attrs={
            "t": {"units": "days since 2000-01-01", "calendar": "julian"}
        },
    )
    df2 = (
        spark.read.format(FORMAT3_NAME)
        .option("path", path2)
        .option("decode_cf_time", "true")
        .load()
    )
    assert dict(df2.dtypes)["t"] == "double"


def test_src_netcdf3_cdf5_scan_oracle(check):
    pdf = check("src_netcdf3_cdf5_scan")
    assert pdf.loc[0, "n_lines"] == 48


def test_src_netcdf3_cf_scan_oracle(check):
    pdf = check("src_netcdf3_cf_scan")
    # 96 x 3-hourly records = 12 full days, 8 records each
    assert len(pdf) == 12
    assert (pdf["n_recs"] == 8).all()
    assert pdf.sort_values("day").iloc[0]["first_ts"] == "2024-01-01 00:00:00"


def test_cdf5_uint64_attr_above_int63_not_wrapped(tmp_path):
    """An unsigned attribute value >= 2^63 must round-trip via NC_UINT64,
    not wrap negative through a silent astype('>i8') (ADVICE r4)."""
    path = os.path.join(tmp_path, "u8attr.nc")
    write_netcdf3(
        path,
        dims={"x": 2},
        variables={"v": ("int32", ("x",))},
        data={"v": np.array([1, 2], dtype=np.int32)},
        attrs={"counter": 2**63 + 5, "arr": np.array(
            [2**64 - 1, 3], dtype=np.uint64
        )},
        version=5,
    )
    nc = NetCDF3File(path)
    assert int(nc.attrs["counter"]) == 2**63 + 5
    np.testing.assert_array_equal(
        nc.attrs["arr"], np.array([2**64 - 1, 3], dtype=np.uint64)
    )
    assert nc.attrs["arr"].dtype == np.dtype(">u8")


def test_cf_exotic_calendar_scan(spark, tmp_path):
    """decode_cf_time handles fixed-length CF calendars: noleap day 59
    of a Gregorian leap year lands on Mar 1, and a 360_day Feb 30 (no
    proleptic-Gregorian rendering) becomes NULL."""
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    spark.dataSource.register(NetCDF3DataSource)
    p = os.path.join(tmp_path, "noleap.nc")
    write_netcdf3(
        p,
        dims={"time": None},
        variables={"t": ("float64", ("time",))},
        data={"t": np.array([0.0, 58.0, 59.0, 365.0])},
        var_attrs={
            "t": {"units": "days since 2004-01-01", "calendar": "noleap"}
        },
    )
    df = (
        spark.read.format(FORMAT3_NAME)
        .option("path", p)
        .option("decode_cf_time", "true")
        .load()
    )
    got = [
        str(r["t"])
        for r in df.orderBy("time_idx").collect()
    ]
    assert got == [
        "2004-01-01 00:00:00",
        "2004-02-28 00:00:00",
        "2004-03-01 00:00:00",  # noleap: no Feb 29 even in 2004
        "2005-01-01 00:00:00",
    ]

    p2 = os.path.join(tmp_path, "360day.nc")
    write_netcdf3(
        p2,
        dims={"time": None},
        variables={"t": ("float64", ("time",))},
        data={"t": np.array([58.0, 59.0, 60.0])},
        var_attrs={
            "t": {"units": "days since 2000-01-01", "calendar": "360_day"}
        },
    )
    df2 = (
        spark.read.format(FORMAT3_NAME)
        .option("path", p2)
        .option("decode_cf_time", "true")
        .load()
    )
    rows = df2.orderBy("time_idx").collect()
    assert str(rows[0]["t"]) == "2000-02-29 00:00:00"  # valid: leap year
    assert rows[1]["t"] is None  # Feb 30: unrepresentable -> NULL
    assert str(rows[2]["t"]) == "2000-03-01 00:00:00"


def test_src_netcdf3_cf_cal_scan_oracle(check):
    pdf = check("src_netcdf3_cf_cal_scan")
    assert len(pdf) == 4  # Jan..Apr 2004 (120 noleap days)
    row = pdf.set_index("month").loc["2004-03"]
    assert row["first_ts"] == "2004-03-01 06:00:00"


def _scan_rows(path: str, columns: list, lo: int, hi: int) -> list:
    """Rows of records [lo, hi) as the batch scan's executors build them."""
    return [
        tuple(r[c] for c in columns)
        for b in NetCDF3DataSource.arrow_batches(path, columns, lo, hi)
        for r in b.to_pylist()
    ]


def test_char_variable_roundtrip(tmp_path):
    """NC_CHAR record variable (SURVEY §1.2 row S1): the trailing char
    dim collapses into a StringType value, trailing-NUL padding
    stripped; the numeric sibling is unaffected."""
    p = os.path.join(tmp_path, "chars.nc")
    lab = np.zeros((4, 2, 6), dtype="S1")
    texts = {}
    for t in range(4):
        for y in range(2):
            s = f"r{t}c{y}" + "z" * (t % 3)  # lengths 4..6
            texts[(t, y)] = s
            lab[t, y, : len(s)] = np.frombuffer(s.encode(), dtype="S1")
    v = np.arange(8, dtype=np.float32).reshape(4, 2)
    write_netcdf3(
        p,
        dims={"t": None, "y": 2, "s": 6},
        variables={
            "v": ("float32", ("t", "y")),
            "label": ("S1", ("t", "y", "s")),
        },
        data={"v": v, "label": lab},
    )
    nc = NetCDF3File(p)
    assert nc.variables["label"].nc_type == 2
    # schema: the char dim does NOT surface as an s_idx column
    assert NetCDF3DataSource.file_schema(nc) == (
        "t_idx long, y_idx int, `v` float, `label` string"
    )
    rows = _scan_rows(p, ["t_idx", "y_idx", "v", "label"], 0, 4)
    assert len(rows) == 8
    for t_idx, y_idx, vv, label in rows:
        assert label == texts[(t_idx, y_idx)]
        assert vv == v[t_idx, y_idx]


def test_char_only_record_variable(tmp_path):
    """A char-only record variable msg(t, s): effective per-record
    shape is scalar — one string per record, no index columns beyond
    t_idx."""
    p = os.path.join(tmp_path, "msgs.nc")
    msgs = ["alpha", "b", "ccc"]
    lab = np.zeros((3, 8), dtype="S1")
    for i, s in enumerate(msgs):
        lab[i, : len(s)] = np.frombuffer(s.encode(), dtype="S1")
    write_netcdf3(
        p,
        dims={"t": None, "s": 8},
        variables={"msg": ("S1", ("t", "s"))},
        data={"msg": lab},
    )
    nc = NetCDF3File(p)
    assert NetCDF3DataSource.file_schema(nc) == "t_idx long, `msg` string"
    rows = _scan_rows(p, ["t_idx", "msg"], 0, 3)
    assert rows == [(0, "alpha"), (1, "b"), (2, "ccc")]


def test_src_netcdf_char_scan_oracle(check):
    pdf = check("src_netcdf_char_scan")
    # both containers agree group-for-group
    assert len(pdf) % 2 == 0
    half = len(pdf) // 2
    classic = pdf[pdf.container == "classic"].drop(columns="container")
    nc4 = pdf[pdf.container == "nc4"].drop(columns="container")
    assert len(classic) == len(nc4) == half


def test_src_netcdf3_arrow_tail_oracle(check):
    """The Arrow tail through a real availableNow streaming query
    matches the DuckDB oracle."""
    pdf = check("src_netcdf3_arrow_tail")
    assert len(pdf) == 64
    assert int(pdf["n_cells"].sum()) == 64 * 32 * 32


def test_src_netcdf3_arrow_dir_tail_oracle(check):
    pdf = check("src_netcdf3_arrow_dir_tail")
    assert len(pdf) == 128  # all three members drained


def test_dir_tail_header_reads_flat(tmp_path):
    """O(1) header reads per trigger (VERDICT r8 #2): frozen members'
    record counts carry forward across triggers through the
    stat-guarded cache, so driver header reads per trigger stay
    CONSTANT (exactly 1: the growing newest member) as the archive
    grows 3 -> 30 members — while the freeze invariant stays enforced
    (a mutated frozen member is re-read and rejected)."""
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        append_records,
    )

    d = os.path.join(tmp_path, "arch")
    os.makedirs(d)

    def mk(i, n):
        write_netcdf3(
            os.path.join(d, f"part-{i:02d}.nc"),
            dims={"t": None, "x": 2},
            variables={"v": ("int32", ("t", "x"))},
            data={"v": np.arange(n * 2, dtype=np.int32).reshape(n, 2)},
        )

    mk(0, 2)
    mk(1, 2)
    mk(2, 2)
    sr = record_cases.tail("netcdf3", d)
    reads = []
    inner = sr._pinned._read_count
    sr._pinned._read_count = lambda p: (
        reads.append(p),
        inner(p),
    )[1]

    def trigger(start):
        end = sr.latestOffset()
        sr.partitions(start, end)
        return end

    off = trigger(sr.initialOffset())
    first_reads = len(reads)
    assert first_reads == 3  # cold cache: one read per member
    per_trigger = []
    for i in range(3, 30):
        mk(i, 2)
        n0 = len(reads)
        off = trigger(off)
        per_trigger.append(len(reads) - n0)
    assert off["counts"] == [2] * 30
    # each trigger reads the NEW member (freezing the previous
    # newest, one read) plus the current newest: constant 2, never
    # growing with member count
    assert per_trigger == [2] * 27, per_trigger
    assert sr._pinned.header_reads(d, off["files"]) == 1
    # quiet trigger (no growth at all): exactly ONE header read
    n0 = len(reads)
    trigger(off)
    assert len(reads) - n0 == 1
    # the invariant is still enforced, not assumed: mutate a
    # frozen member and the stat guard forces a re-read + reject
    append_records(
        os.path.join(d, "part-00.nc"),
        {"v": np.array([[9, 9]], dtype=np.int32)},
    )
    # header_reads must PREDICT that re-read (ADVICE r9 #2): the
    # member is cached but its stat signature flipped, so the
    # observability number counts it as a read, not a hit
    assert sr._pinned.header_reads(d, off["files"]) == 2
    with pytest.raises(ValueError, match="frozen member grew"):
        trigger(off)


def test_frozen_cache_invalidates_on_inode_flip(tmp_path):
    """ADVICE r9 #1: a frozen member replaced by atomic rename at
    IDENTICAL size and IDENTICAL mtime_ns (coarse-mtime filesystems
    report whole seconds — simulated here with os.utime) must still
    invalidate the cache entry: the replacement file is a new inode,
    and st_ino is part of the signature."""
    from netcdf4_variable_streamer_spark.sources.tailcache import (
        FrozenMemberCounts,
    )

    d = str(tmp_path)
    p = os.path.join(d, "m0")
    with open(p, "wb") as f:
        f.write(b"A" * 64)
    os.utime(p, ns=(1_000_000_000, 1_000_000_000))

    reads = []

    def rc(path):
        reads.append(path)
        return 7

    cache = FrozenMemberCounts(rc)
    assert cache.counts(d, ["m0", "tail"]) == [7, 7]
    assert len(reads) == 2
    # warm: frozen member served from cache
    assert cache.counts(d, ["m0", "tail"]) == [7, 7]
    assert len(reads) == 3  # only the tail
    # atomic-rename replacement: same size, same (coarse) mtime,
    # NEW inode
    tmp = os.path.join(d, ".m0.tmp")
    with open(tmp, "wb") as f:
        f.write(b"B" * 64)
    os.replace(tmp, p)
    os.utime(p, ns=(1_000_000_000, 1_000_000_000))
    assert cache.header_reads(d, ["m0", "tail"]) == 2
    cache.counts(d, ["m0", "tail"])
    assert reads[-2] == p  # the frozen member was re-read


def test_union_schema_scan_oracle(check):
    from netcdf4_variable_streamer_spark.sources import queries as srcq

    pdf = check("src_netcdf3_union_schema_scan")
    assert (
        pdf.loc[0, "n_cells"] == 96 * srcq.GRID_Y * srcq.GRID_X
    )
    # exactly the pre-evolution records carry NULL humidity
    assert (
        pdf.loc[0, "n_hum_null"] == 16 * srcq.GRID_Y * srcq.GRID_X
    )


def test_union_schema_conflicting_signature_refuses(tmp_path, spark):
    """A variable whose TYPE changed across members must refuse —
    union aligns by name, it does not cast."""
    import numpy as np
    import pytest as _pytest

    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        write_netcdf3 as _w,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    d = os.path.join(tmp_path, "conflict")
    os.makedirs(d)
    for i, dt in enumerate(["float32", "int32"]):
        _w(
            os.path.join(d, f"p{i}.nc"),
            dims={"t": None, "x": 2},
            variables={"v": (dt, ("t", "x"))},
            data={"v": np.zeros((2, 2), dtype=dt)},
        )
    apply_runtime_confs(spark)
    spark.dataSource.register(NetCDF3DataSource)
    with _pytest.raises(Exception, match="conflicts with"):
        (
            spark.read.format(FORMAT3_NAME)
            .option("path", d)
            .option("schema_evolution", "union")
            .load()
            .count()
        )


def test_union_dir_tail_follows_evolution_live(tmp_path, spark):
    """The union dir tail must follow an archive EVOLVING between
    triggers: batch 1 drains a v-only member; a new member carrying
    (v, w) then appears, and batch 2 drains it — with w NULL for
    batch-1 rows and real for batch-2 rows, across one streaming
    query's offsets."""
    import numpy as np

    from netcdf4_variable_streamer_spark.session import (
        apply_runtime_confs,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        write_netcdf3 as _w,
    )
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    d = os.path.join(tmp_path, "arch")
    os.makedirs(d)
    _w(
        os.path.join(d, "p0.nc"),
        dims={"t": None, "x": 1},
        variables={"v": ("int32", ("t", "x"))},
        data={"v": np.array([[1], [2]], dtype=np.int32)},
    )
    schema = StructType(
        [
            StructField("t_idx", LongType()),
            StructField("x_idx", IntegerType()),
            StructField("v", IntegerType()),
            StructField("w", IntegerType()),
        ]
    )
    sr = record_cases.tail("netcdf3", d, schema, schema_evolution="union")
    start = sr.initialOffset()
    end1 = sr.latestOffset()
    rows1 = [
        r
        for p in sr.partitions(start, end1)
        for b in sr.read(p)
        for r in b.to_pylist()
    ]
    assert [(r["t_idx"], r["v"], r["w"]) for r in rows1] == [
        (0, 1, None),
        (1, 2, None),
    ]
    # evolution: the NEW member carries w
    _w(
        os.path.join(d, "p1.nc"),
        dims={"t": None, "x": 1},
        variables={"v": ("int32", ("t", "x")), "w": ("int32", ("t", "x"))},
        data={
            "v": np.array([[3]], dtype=np.int32),
            "w": np.array([[30]], dtype=np.int32),
        },
    )
    end2 = sr.latestOffset()
    rows2 = [
        r
        for p in sr.partitions(end1, end2)
        for b in sr.read(p)
        for r in b.to_pylist()
    ]
    assert [(r["t_idx"], r["v"], r["w"]) for r in rows2] == [(2, 3, 30)]


# ---------------------------------------------------------------------------
# CF mask-and-scale (round 12): netCDF4-python's default
# set_auto_maskandscale surface behind option mask_and_scale=true.
# ---------------------------------------------------------------------------


def test_mask_scale_helpers():
    """_mask_scale / _invalid_mask unit semantics: defaults for a
    missing attr, scalar-or-list missing_value, valid_range vs the
    separate valid_min/valid_max spellings (which override the
    range's endpoints per the NUG)."""
    from types import SimpleNamespace

    from netcdf4_variable_streamer_spark.sources.records_source import (
        _invalid_mask,
        _mask_scale,
    )

    v = SimpleNamespace(attrs={})
    assert _mask_scale(v) is None
    assert _invalid_mask(v, np.arange(4, dtype="<i2")) is None

    v = SimpleNamespace(attrs={"scale_factor": 0.5})
    assert _mask_scale(v) == (0.5, 0.0)
    v = SimpleNamespace(attrs={"add_offset": 7.0})
    assert _mask_scale(v) == (1.0, 7.0)

    flat = np.array([-5, 0, 3, 9, 11], dtype="<i2")
    v = SimpleNamespace(attrs={"missing_value": np.int16(9)})
    np.testing.assert_array_equal(
        _invalid_mask(v, flat), [False, False, False, True, False]
    )
    # list-valued missing_value (the NUG allows several)
    v = SimpleNamespace(
        attrs={"missing_value": np.array([9, -5], dtype="<i2")}
    )
    np.testing.assert_array_equal(
        _invalid_mask(v, flat), [True, False, False, True, False]
    )
    v = SimpleNamespace(attrs={"valid_range": np.array([0, 10], "<i2")})
    np.testing.assert_array_equal(
        _invalid_mask(v, flat), [True, False, False, False, True]
    )
    # valid_min/valid_max spellings override the range endpoints
    v = SimpleNamespace(
        attrs={
            "valid_range": np.array([0, 10], "<i2"),
            "valid_min": np.int16(1),
        }
    )
    np.testing.assert_array_equal(
        _invalid_mask(v, flat), [True, True, False, False, True]
    )
    v = SimpleNamespace(attrs={"valid_max": np.int16(3)})
    np.testing.assert_array_equal(
        _invalid_mask(v, flat), [False, False, False, True, True]
    )


def test_mask_scale_cf_time_precedence(tmp_path):
    """A variable carrying BOTH a CF units attribute and
    scale_factor decodes as time when both options are on — CF time
    wins (packed time axes unpack with num2date in the wild, not
    mask-and-scale)."""
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        NetCDF3File,
        write_netcdf3,
    )
    p = os.path.join(tmp_path, "both.nc")
    write_netcdf3(
        p,
        dims={"t": None},
        variables={"when": ("float64", ("t",))},
        data={"when": np.arange(4, dtype="f8")},
        var_attrs={
            "when": {
                "units": "hours since 2024-01-01",
                "scale_factor": 2.0,
            }
        },
    )
    nc = NetCDF3File(p)
    ddl = NetCDF3DataSource.file_schema(
        nc, decode_cf_time=True, mask_and_scale=True
    )
    assert "`when` timestamp_ntz" in ddl
    # without CF decode, the packing applies
    ddl2 = NetCDF3DataSource.file_schema(
        nc, decode_cf_time=False, mask_and_scale=True
    )
    assert "`when` double" in ddl2


def test_mask_scale_tail_refusal(spark, tmp_path):
    """mask_and_scale is a batch option: both containers' streaming
    tails refuse loudly naming the fix."""
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        write_netcdf3,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    p = os.path.join(tmp_path, "pk.nc")
    write_netcdf3(
        p,
        dims={"t": None},
        variables={"x": ("int16", ("t",))},
        data={"x": np.arange(4, dtype="<i2")},
        var_attrs={"x": {"scale_factor": 0.5}},
    )
    spark.dataSource.register(NetCDF3DataSource)
    st = (
        spark.readStream.format(FORMAT3_NAME)
        .option("path", p)
        .option("mask_and_scale", "true")
        .load()
    )
    q = None
    with pytest.raises(Exception, match="mask_and_scale is a batch-scan"):
        try:
            q = (
                st.writeStream.format("memory")
                .queryName("ms_refusal")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(30)
            raise AssertionError("tail did not refuse")
        finally:
            if q is not None:
                q.stop()


@pytest.mark.parametrize("option", ["decode_cf_time", "mask_and_scale"])
@pytest.mark.parametrize("fmt", ["netcdf3", "netcdf4"])
def test_tail_refuses_batch_only_option(tmp_path, fmt, option):
    """decode_cf_time and mask_and_scale change the declared schema but
    the tail emits raw numbers, so both containers' tails refuse them
    when the stream starts, naming the option."""
    _source, ext, write, _append = record_cases.ADAPTERS[fmt]
    path = os.path.join(tmp_path, "raw" + ext)
    write(path, record_cases.records(2))
    with pytest.raises(ValueError, match=f"{option} is a batch-scan"):
        record_cases.tail(fmt, path, **{option: "true"})


def test_mask_scale_unpacked_values(spark, tmp_path):
    """End-to-end Spark scan: packed i2 with scale/offset surfaces
    unpacked doubles with NULLs at missing_value cells; the raw scan
    (option off) still returns the packed shorts."""
    from netcdf4_variable_streamer_spark.sources.netcdf3 import (
        write_netcdf3,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    p = os.path.join(tmp_path, "pk2.nc")
    packed = np.array([4, -9999, 12, -8], dtype="<i2")
    write_netcdf3(
        p,
        dims={"t": None},
        variables={"x": ("int16", ("t",))},
        data={"x": packed},
        var_attrs={
            "x": {
                "scale_factor": 0.25,
                "add_offset": 10.0,
                "missing_value": np.int16(-9999),
            }
        },
    )
    spark.dataSource.register(NetCDF3DataSource)
    got = (
        spark.read.format(FORMAT3_NAME)
        .option("path", p)
        .option("mask_and_scale", "true")
        .load()
        .orderBy("t_idx")
        .select("x")
        .collect()
    )
    assert [r.x for r in got] == [11.0, None, 13.0, 8.0]
    raw = (
        spark.read.format(FORMAT3_NAME)
        .option("path", p)
        .load()
        .orderBy("t_idx")
        .select("x")
        .collect()
    )
    assert [r.x for r in raw] == [4, -9999, 12, -8]
