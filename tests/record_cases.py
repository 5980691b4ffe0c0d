"""Test bodies shared by the NetCDF-3 and NetCDF-4 sources.

Both containers run through one record-container DataSource, so each
case here takes the format name and runs against that container's
adapter. ``tests/test_record_containers.py`` runs the protocol cases
once per format; ``tests/test_netcdf3.py`` and ``tests/test_hdf5lite.py``
call the pushdown case inside their own scan tests.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from netcdf4_variable_streamer_spark.sources.hdf5lite import (
    append_records_nc4,
    create_netcdf4_tail,
)
from netcdf4_variable_streamer_spark.sources.netcdf3 import (
    append_records,
    write_netcdf3,
)
from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
    NetCDF3DataSource,
)
from netcdf4_variable_streamer_spark.sources.netcdf4_source import (
    NetCDF4DataSource,
)

# t_idx, x_idx, v: the layout every fixture below writes
SCHEMA = StructType(
    [
        StructField("t_idx", LongType()),
        StructField("x_idx", IntegerType()),
        StructField("v", FloatType()),
    ]
)


def _write3(path: str, v: np.ndarray, var_attrs=None) -> None:
    write_netcdf3(
        path,
        dims={"t": None, "x": 2},
        variables={"v": ("float32", ("t", "x"))},
        data={"v": v},
        var_attrs=var_attrs,
    )


def _write4(path: str, v: np.ndarray, var_attrs=None) -> None:
    create_netcdf4_tail(
        path,
        dims={"t": None, "x": 2},
        variables={"v": ("float32", ("t", "x"))},
        capacity=16,
        var_attrs=var_attrs,
    )
    append_records_nc4(path, {"v": v})


# format -> (DataSource, file extension, write(path, v[, var_attrs]),
# append(path, v))
ADAPTERS = {
    "netcdf3": (
        NetCDF3DataSource, ".nc", _write3,
        lambda p, v: append_records(p, {"v": v}),
    ),
    "netcdf4": (
        NetCDF4DataSource, ".nc4", _write4,
        lambda p, v: append_records_nc4(p, {"v": v}),
    ),
}


def records(n: int, start: float = 0.0) -> np.ndarray:
    return (np.arange(n * 2, dtype=np.float32) + start).reshape(n, 2)


def tail(fmt: str, path: str, schema=SCHEMA, **options):
    """The format's streaming tail of ``path`` (a file or a directory)."""
    opts = {"path": path, **{k: str(v) for k, v in options.items()}}
    return ADAPTERS[fmt][0](opts).streamReader(schema)


def tail_rows(reader, start: dict, end: dict) -> list[tuple]:
    """Rows of one planned microbatch, in the reader's column order."""
    return [
        tuple(r[c] for c in reader.columns)
        for p in reader.partitions(start, end)
        for b in reader.read(p)
        for r in b.to_pylist()
    ]


def batch_rows(spark, fmt: str, path: str) -> list[tuple]:
    spark.dataSource.register(ADAPTERS[fmt][0])
    return [
        tuple(r) for r in spark.read.format(fmt).option("path", path).load()
        .collect()
    ]


def arrow_tail_protocol(spark, fmt: str, tmp_path) -> None:
    """File tail: the offset is the published record count, a microbatch
    splits into contiguous record runs, its rows equal the batch scan's
    (a ``_FillValue`` cell reads as NULL), and appended records arrive
    as the next microbatch."""
    _source, ext, write, append = ADAPTERS[fmt]
    path = os.path.join(tmp_path, "atail" + ext)
    v = records(6)
    v[2, 1] = -999.0
    write(path, v, {"v": {"_FillValue": np.float32(-999.0)}})
    ft = tail(fmt, path, tail_partitions=3)
    assert ft.initialOffset() == {"rec": 0}
    off1 = ft.latestOffset()
    assert off1 == {"rec": 6}
    parts = ft.partitions(ft.initialOffset(), off1)
    assert [(p.lo, p.hi) for p in parts] == [(0, 2), (2, 4), (4, 6)]
    assert ft.partitions(off1, off1) == []
    got = tail_rows(ft, ft.initialOffset(), off1)
    want = batch_rows(spark, fmt, path)
    assert sorted(got, key=str) == sorted(want, key=str)
    assert [r[:2] for r in got if r[-1] is None] == [(2, 1)]

    append(path, np.full((2, 2), 9, dtype=np.float32))
    off2 = ft.latestOffset()
    assert off2 == {"rec": 8}
    got2 = tail_rows(ft, off1, off2)
    assert len(got2) == 4 and all(r[-1] == 9.0 for r in got2)
    assert {r[0] for r in got2} == {6, 7}


def arrow_dir_tail_protocol(spark, fmt: str, tmp_path) -> None:
    """Directory tail: pinned per-member counts, microbatch deltas split
    across member boundaries with GLOBAL record indexes, rows equal to
    the batch scan of the directory."""
    _source, ext, write, append = ADAPTERS[fmt]
    d = os.path.join(tmp_path, "arch")
    os.makedirs(d)
    write(os.path.join(d, f"part-0{ext}"), records(3))
    write(os.path.join(d, f"part-1{ext}"), records(2))
    dt = tail(fmt, d, tail_partitions=3)
    off1 = dt.latestOffset()
    assert off1 == {
        "files": [f"part-0{ext}", f"part-1{ext}"],
        "counts": [3, 2],
    }
    got = tail_rows(dt, dt.initialOffset(), off1)
    assert sorted(got) == sorted(batch_rows(spark, fmt, d))
    assert {r[0] for r in got} == set(range(5))  # global indexes

    # newest member grows + a new member appears: delta only
    append(os.path.join(d, f"part-1{ext}"), records(1, 7))
    write(os.path.join(d, f"part-2{ext}"), records(2))
    off2 = dt.latestOffset()
    assert off2["counts"] == [3, 3, 2]
    assert {r[0] for r in tail_rows(dt, off1, off2)} == {5, 6, 7}
    assert dt.partitions(off2, off2) == []


def dir_tail_freeze_and_replay(fmt: str, tmp_path) -> None:
    """Directory-tail offsets replay exactly after further growth, and
    the freeze invariant is enforced, not assumed: a member that had a
    pinned successor may neither grow nor shrink, and the newest pinned
    member may not shrink."""
    _source, ext, write, append = ADAPTERS[fmt]
    d = os.path.join(tmp_path, "arch")
    os.makedirs(d)
    p0, p1 = (os.path.join(d, f"part-{i}{ext}") for i in (0, 1))
    write(p0, records(3))
    dt = tail(fmt, d)
    off0 = dt.initialOffset()
    off1 = dt.latestOffset()
    assert off1 == {"files": [f"part-0{ext}"], "counts": [3]}
    rows1 = tail_rows(dt, off0, off1)
    append(p0, records(1, 7))
    write(p1, records(2))
    off2 = dt.latestOffset()
    assert off2 == {
        "files": [f"part-0{ext}", f"part-1{ext}"],
        "counts": [4, 2],
    }
    rows2 = tail_rows(dt, off1, off2)
    assert sorted({r[0] for r in rows2}) == [3, 4, 5]
    # the newest member grows again; replaying pinned offsets is exact
    append(p1, records(1, 20))
    assert sorted(tail_rows(dt, off1, off2)) == sorted(rows2)
    assert sorted(tail_rows(dt, off0, off1)) == sorted(rows1)

    def plan_from(off):
        return dt.partitions(off, dt.latestOffset())

    append(p0, records(1, 9))
    with pytest.raises(ValueError, match="frozen member grew"):
        plan_from(off2)
    write(p0, records(2))
    with pytest.raises(ValueError, match="frozen member shrank"):
        plan_from(off2)
    write(p0, records(4))
    write(p1, records(1))
    with pytest.raises(ValueError, match="pinned member shrank"):
        plan_from(off2)


def union_strict_then_null_fill(
    spark, fmt: str, path: str, idx_col: str, n_old: int, cells: int,
    var: str, kept: str,
) -> None:
    """An evolving directory (later members add ``var``): the default
    strict mode refuses naming the union option, and union mode reads
    all ``n_old`` x ``cells`` cells of the records that predate ``var``,
    with ``var`` NULL and ``kept`` (in every member) never NULL."""
    from pyspark.sql import functions as F

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    spark.dataSource.register(ADAPTERS[fmt][0])
    with pytest.raises(Exception, match="schema_evolution=union"):
        spark.read.format(fmt).option("path", path).load().count()
    df = (
        spark.read.format(fmt)
        .option("path", path)
        .option("schema_evolution", "union")
        .load()
    )
    row = (
        df.filter(F.col(idx_col) < n_old)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(var).alias("n_var"),
            F.count(kept).alias("n_kept"),
        )
        .collect()[0]
    )
    assert row.n == n_old * cells
    assert row.n_var == 0 and row.n_kept == row.n


def pushdown_prunes_records(
    spark, fmt: str, path: str, idx_col: str, **options
) -> None:
    """A record-index range pushed into the scan narrows the planned
    record ranges to exactly the slab [40, 44), and with it the task
    count. The partition target is pinned so that the count comparison
    does not depend on the box's core count."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    source = ADAPTERS[fmt][0]
    spark.dataSource.register(source)
    options = {"path": path, "target_partitions": "16", **options}

    def load():  # fresh load() per query: see records_source
        return spark.read.format(fmt).options(**options).load()

    full = load().rdd.getNumPartitions()
    df = load()
    col = df[idx_col]
    pruned = df.filter((col >= 40) & (col < 44)).rdd.getNumPartitions()
    assert pruned < full, (full, pruned)
    reader = source(options).reader(df.schema)
    list(
        reader.pushFilters(
            [GreaterThanOrEqual((idx_col,), 40), LessThan((idx_col,), 44)]
        )
    )
    parts = reader.partitions()
    assert min(p.lo + p.offset for p in parts) == 40
    assert sum(p.hi - p.lo for p in parts) == 4
