"""M3 tests: reference-parity round trips (SURVEY §5.2 layer 2, the
reference's own test strategy upgraded with hypothesis) + DataSource
scan/pushdown/write/stream behavior."""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from netcdf4_variable_streamer_spark.sources.chunkstore import (
    _DTYPES,
    ChunkStore,
    StreamedDataset,
)
from netcdf4_variable_streamer_spark.sources.netcdf_source import (
    FORMAT_NAME,
    NetCDFChunkDataSource,
    NetCDFChunkReader,
    NetCDFChunkWriter,
)
from netcdf4_variable_streamer_spark.sources import queries as srcq
from tests import record_cases

SCRATCH = srcq.SCRATCH


def _tmp():
    p = os.path.join(SCRATCH, f"t_{uuid.uuid4().hex[:8]}")
    os.makedirs(p, exist_ok=True)
    return p


# ---------------------------------------------------------------------------
# Layer 2: property-based round trips through the pure-Python store
# (write line-by-line and block-wise → read back → exact equality;
# non-dividing buffer sizes, both axis orders, append-reopen).
# ---------------------------------------------------------------------------

@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    t=st.integers(0, 17),
    ny=st.integers(1, 5),
    nx=st.integers(1, 4),
    chunk_lines=st.integers(1, 7),
    dtype=st.sampled_from(["float32", "float64", "int32", "int64"]),
    streamed_first=st.booleans(),
    by_line=st.booleans(),
)
def test_roundtrip_property(t, ny, nx, chunk_lines, dtype, streamed_first,
                            by_line):
    path = _tmp()
    try:
        store = ChunkStore.create(
            path, {"time": None, "y": ny, "x": nx}, "time", chunk_lines,
            {"v": dtype},
        )
        dims = ("time", "y", "x") if streamed_first else ("y", "x", "time")
        from netcdf4_variable_streamer_spark.sources.chunkstore import (
            StreamedVariable,
        )

        var = StreamedVariable(store, dims)
        rng = np.random.RandomState(42)
        logical_shape = (
            (t, ny, nx) if streamed_first else (ny, nx, t)
        )
        data = (rng.rand(*logical_shape) * 100).astype(dtype)
        if by_line:
            for i in range(t):
                line = np.take(data, i, axis=dims.index("time"))
                var.streamline({"v": line})
        else:
            var.stream_block({"v": data})
        var.flush()

        # read back (new handle = A14 append-reopen semantics for reads)
        store2 = ChunkStore.open(path)
        var2 = StreamedVariable(store2, dims)
        if t == 0:
            assert store2.extent == 0
            return
        got = np.concatenate(
            [b["v"] for _, b in var2.yield_blocks()],
            axis=dims.index("time"),
        )
        np.testing.assert_array_equal(got, data)

        # line generator agrees too
        lines = list(var2.yield_lines())
        assert len(lines) == t
        np.testing.assert_array_equal(
            lines[3][1]["v"] if t > 3 else lines[0][1]["v"],
            np.take(data, 3 if t > 3 else 0, axis=dims.index("time")),
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_append_reopen_continues_extent():
    path = _tmp()
    try:
        ds = StreamedDataset(path, "w")
        ds.create_dimension("time", None)
        ds.create_dimension("y", 3)
        var = ds.create_streamed_variables(
            {"v": "float64"}, ("time", "y"), chunk_size_mb=0.0001
        )
        var.stream_block({"v": np.arange(12.0).reshape(4, 3)})
        ds.close()

        ds2 = StreamedDataset(path, "a")
        assert ds2.store.extent == 4  # cursor = UNLIMITED extent (A14)
        var2 = ds2.variable(("time", "y"))
        var2.stream_block({"v": np.arange(12.0, 18.0).reshape(2, 3)})
        ds2.close()

        store = ChunkStore.open(path)
        assert store.extent == 6
        got = np.concatenate(
            [b["v"] for _, b in
             __import__("netcdf4_variable_streamer_spark.sources.chunkstore",
                        fromlist=["StreamedVariable"])
             .StreamedVariable(store, ("time", "y")).yield_blocks()]
        )
        np.testing.assert_array_equal(got, np.arange(18.0).reshape(6, 3))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_attrs_roundtrip():
    path = _tmp()
    try:
        ds = StreamedDataset(path, "w")
        ds.create_dimension("time", None)
        ds.create_dimension("y", 2)
        ds.create_streamed_variables(
            {"v": "float32"}, ("time", "y"),
            attrs={"v:units": "K"},
        )
        ds.set_attr("title", "test grid")
        ds.close()
        ds2 = StreamedDataset(path, "r")
        assert ds2.get_attr("title") == "test grid"
        assert ds2.get_attr("v:units") == "K"
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# DataSource: scan equality, pushdown pruning, write path, stream tail.
# ---------------------------------------------------------------------------

def test_scan_matches_store(spark):
    path = srcq.ensure_grid()
    spark.dataSource.register(NetCDFChunkDataSource)
    df = spark.read.format(FORMAT_NAME).option("path", path).load()
    assert df.count() == srcq.GRID_T * srcq.GRID_Y * srcq.GRID_X
    # exact cell check against the closed-form generator
    row = df.filter(
        (df.time_idx == 57) & (df.y_idx == 3) & (df.x_idx == 21)
    ).collect()[0]
    expect = srcq.grid_values(57, 1)
    assert row.temperature == pytest.approx(
        float(expect["temperature"][0, 3, 21]), abs=0
    )


def test_pushdown_prunes_chunks(spark):
    path = srcq.ensure_grid()
    store = ChunkStore.open(path)
    n_chunks = len(store.list_chunks())
    from pyspark.sql.types import StructType

    schema = spark.read.format(FORMAT_NAME).option("path", path).load().schema
    r = NetCDFChunkReader(path, schema)
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    unhandled = list(
        r.pushFilters(
            [GreaterThanOrEqual(("time_idx",), 17), LessThan(("time_idx",), 33),
             LessThan(("y_idx",), 8)]
        )
    )
    # all filters come back (pruning is chunk-granular, rows re-checked)
    assert len(unhandled) == 3
    parts = r.partitions()
    assert 0 < len(parts) < n_chunks  # pruning actually happened
    assert all(p.start + p.n_lines > 17 and p.start < 33 for p in parts)

    # and the full plan returns correct data under pushdown
    df = spark.read.format(FORMAT_NAME).option("path", path).load()
    got = df.filter((df.time_idx >= 17) & (df.time_idx < 33)).count()
    assert got == 16 * srcq.GRID_Y * srcq.GRID_X


def test_native_read_matches_datasource(spark):
    """The native JVM parquet batch path must be row-identical to the
    Python DataSource scan, and must honor commit visibility: a chunk
    file on disk but absent from the meta sidecar (aborted job debris)
    is invisible to both paths."""
    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        read_native,
    )

    src = srcq.ensure_grid()
    # copy the store so the orphan we plant can't pollute other tests
    path = _tmp()
    shutil.rmtree(path)
    shutil.copytree(src, path)
    spark.dataSource.register(NetCDFChunkDataSource)

    ds = spark.read.format(FORMAT_NAME).option("path", path).load()
    nat = read_native(spark, path)
    assert nat.schema == ds.schema
    cols = ["time_idx", "y_idx", "x_idx", "temperature", "humidity"]
    a = ds.orderBy(*cols[:3]).collect()
    b = nat.orderBy(*cols[:3]).collect()
    assert a == b

    # plant an orphan chunk file NOT referenced by meta.json
    store = ChunkStore.open(path)
    donor = store.list_chunks()[0].file
    shutil.copy(
        os.path.join(path, donor), os.path.join(path, "chunk-99999-orphan.parquet")
    )
    n_expected = srcq.GRID_T * srcq.GRID_Y * srcq.GRID_X
    assert read_native(spark, path).count() == n_expected
    assert (
        spark.read.format(FORMAT_NAME).option("path", path).load().count()
        == n_expected
    )
    shutil.rmtree(path, ignore_errors=True)


def test_sink_roundtrip(check):
    pdf = check("snk_chunked_write")
    assert pdf.loc[0, "n_cells"] == 32 * srcq.GRID_Y * srcq.GRID_X
    assert pdf.loc[0, "n_lines"] == 32


def test_scan_queries(check):
    pdf = check("src_netcdf_chunked_scan")
    assert pdf.loc[0, "n_cells"] == srcq.GRID_T * srcq.GRID_Y * srcq.GRID_X
    box = check("q_filter_hyperslab")
    assert len(box) == 8  # y_idx 0..7
    assert (box["n_cells"] == (93 - 17) * 8).all()  # x 4..11 → 8 cols
    assert (box["t_min"] == 17).all() and (box["t_max"] == 92).all()


def test_stream_tail_picks_up_appends(spark):
    """True tail-follow: a second microbatch sees only appended lines."""
    path = _tmp()
    try:
        ChunkStore.create(
            path, {"time": None, "y": 2, "x": 2}, "time", 4,
            {"temperature": "float32", "humidity": "float32"},
        )
        store = ChunkStore.open(path)
        store.append_block(
            {"temperature": np.ones((3, 2, 2), np.float32),
             "humidity": np.zeros((3, 2, 2), np.float32)}
        )
        from pyspark.sql.types import StructType
        spark.dataSource.register(NetCDFChunkDataSource)
        schema = (
            spark.read.format(FORMAT_NAME).option("path", path).load().schema
        )
        sr = NetCDFChunkDataSource({"path": path}).streamReader(schema)
        off0 = sr.initialOffset()
        off1 = sr.latestOffset()
        assert off1 == {"line": 3}
        assert len(record_cases.tail_rows(sr, off0, off1)) == 12
        store2 = ChunkStore.open(path)
        store2.append_block(
            {"temperature": np.full((2, 2, 2), 2, np.float32),
             "humidity": np.ones((2, 2, 2), np.float32)}
        )
        off2 = sr.latestOffset()
        rows2 = record_cases.tail_rows(sr, off1, off2)
        assert off2 == {"line": 5} and len(rows2) == 8
        # replay between offsets returns the same rows (exactly-once)
        replay = record_cases.tail_rows(sr, off1, off2)
        assert sorted(replay) == sorted(rows2)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_partitioned_parquet_sink(check):
    """Partitioned write round-trip: per-partition counts oracle-match the
    source table (nothing lost/duplicated by the layout rewrite)."""
    pdf = check("snk_parquet_partitioned")
    assert len(pdf) == 3  # l_returnflag in {A, N, R}


def test_partition_overwrite_dynamic(check):
    """Dynamic partition overwrite: only the partition present in the
    incoming frame is replaced; siblings survive byte-for-byte."""
    pdf = check("snk_partition_overwrite").set_index("l_returnflag")
    assert pdf.loc["A", "n_rows"] < pdf.loc["N", "n_rows"]  # A was shrunk
    assert pdf.loc["N", "n_rows"] > 10000  # N untouched (full count)


def test_sink_overwrite_mode(spark):
    """mode('overwrite') must REPLACE the store's chunks, not silently
    append duplicates; the reset happens at job commit so a failed job
    leaves the old data intact."""
    src = srcq.ensure_grid()
    dst = _tmp()
    ChunkStore.create(
        dst,
        {"time": None, "y": srcq.GRID_Y, "x": srcq.GRID_X},
        "time",
        16,
        {"temperature": "float32", "humidity": "float32"},
    )
    spark.dataSource.register(NetCDFChunkDataSource)
    sl = (
        spark.read.format(FORMAT_NAME).option("path", src).load()
        .filter("time_idx < 32")
        .orderBy("time_idx", "y_idx", "x_idx")
        .coalesce(1)
    )
    for mode in ("append", "append"):  # 2 appends -> 64 lines
        sl.write.format(FORMAT_NAME).option("path", dst).mode(mode).save()
    assert ChunkStore.open(dst).extent == 64
    # overwrite drops both prior appends and leaves exactly one copy
    sl.write.format(FORMAT_NAME).option("path", dst).mode("overwrite").save()
    store = ChunkStore.open(dst)
    assert store.extent == 32
    back = spark.read.format(FORMAT_NAME).option("path", dst).load()
    assert back.count() == 32 * srcq.GRID_Y * srcq.GRID_X
    # every chunk file the meta references exists; no orphan chunk files
    files = {c.file for c in store.list_chunks()}
    on_disk = {f for f in os.listdir(dst) if f.startswith("chunk-")}
    assert files == on_disk
    shutil.rmtree(dst, ignore_errors=True)


def test_stream_write_foreachbatch_roundtrip(spark):
    """The reference's primary use case in streaming form: lines arriving
    as an unbounded stream are appended into the chunked store through
    the engine's own sink (readStream tail -> foreachBatch -> DataSource
    writer), and the result equals the source exactly."""
    import tempfile

    src = srcq.ensure_grid()
    dst = _tmp()
    ChunkStore.create(
        dst,
        {"time": None, "y": srcq.GRID_Y, "x": srcq.GRID_X},
        "time",
        16,
        {"temperature": "float32", "humidity": "float32"},
    )
    spark.dataSource.register(NetCDFChunkDataSource)

    def append_batch(batch_df, batch_id):
        (
            batch_df.orderBy("time_idx", "y_idx", "x_idx")
            .coalesce(1)
            .write.format(FORMAT_NAME)
            .option("path", dst)
            .mode("append")
            .save()
        )

    stream = spark.readStream.format(FORMAT_NAME).option("path", src).load()
    ckpt = tempfile.mkdtemp(prefix="ckpt_sw_", dir=SCRATCH)
    q = (
        stream.writeStream.foreachBatch(append_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()

    src_df = (
        spark.read.format(FORMAT_NAME).option("path", src).load().toPandas()
        .sort_values(["time_idx", "y_idx", "x_idx"]).reset_index(drop=True)
    )
    dst_df = (
        spark.read.format(FORMAT_NAME).option("path", dst).load().toPandas()
        .sort_values(["time_idx", "y_idx", "x_idx"]).reset_index(drop=True)
    )
    assert len(dst_df) == len(src_df) == srcq.GRID_T * srcq.GRID_Y * srcq.GRID_X
    assert np.array_equal(
        src_df["temperature"].to_numpy(), dst_df["temperature"].to_numpy()
    )
    assert np.array_equal(
        src_df["humidity"].to_numpy(), dst_df["humidity"].to_numpy()
    )
    shutil.rmtree(dst, ignore_errors=True)


def test_compression_passthrough():
    """Reference A15: codec settings forwarded to storage and recorded in
    the meta sidecar; round-trip is byte-identical across codecs."""
    for codec, level in (("zstd", 7), ("gzip", 6), ("snappy", None)):
        path = _tmp()
        try:
            store = ChunkStore.create(
                path, {"time": None, "y": 3, "x": 4}, "time", 4,
                {"v": "float64"}, compression=codec, compression_level=level,
            )
            block = np.arange(2 * 3 * 4, dtype=np.float64).reshape(2, 3, 4)
            store.append_block({"v": block})
            re = ChunkStore.open(path)
            assert re.compression == codec
            got = re.read_chunk(re.list_chunks()[0]).column("v").to_numpy()
            assert np.array_equal(got, block.reshape(-1))
            meta = pq.ParquetFile(
                os.path.join(path, re.list_chunks()[0].file)
            ).metadata
            assert meta.row_group(0).column(0).compression.lower() == (
                "uncompressed" if codec == "none" else codec
            )
        finally:
            shutil.rmtree(path, ignore_errors=True)


def test_compact_small_files(check):
    """Compaction: 64 fragments -> <=4 files, rows and exact value sums
    preserved (oracle-matched against the source table)."""
    pdf = check("snk_compact_small_files")
    assert bool(pdf["compacted_ok"].iloc[0]) is True


def test_a10_transposed_axis_roundtrip(tmp_path):
    """Reference A10: the streamed dim sits at LOGICAL axis 1 of the
    variable ((y, time, x)); writes arrive in logical order, storage is
    streamed-first, and reads come back transposed to logical order.
    Never previously covered by a test — any transpose slip shears the
    grid and this round-trip catches it."""
    import numpy as np

    from netcdf4_variable_streamer_spark.sources.chunkstore import (
        StreamedDataset,
    )

    path = str(tmp_path / "transposed")
    T, Y, X = 24, 4, 5
    ds = StreamedDataset(path, "w")
    ds.create_dimension("time", None)
    ds.create_dimension("y", Y)
    ds.create_dimension("x", X)
    var = ds.create_streamed_variables(
        {"v": "float32"}, ("y", "time", "x"), chunk_size_mb=0.0005
    )
    rng = np.random.RandomState(11)
    logical = rng.rand(Y, T, X).astype(np.float32)  # (y, time, x)
    # stream a block with the streamed dim at its logical axis (1),
    # deliberately split at a non-chunk-aligned boundary
    var.stream_block({"v": logical[:, :17, :]})
    var.stream_block({"v": logical[:, 17:, :]})
    ds.close()

    back = StreamedDataset(path, "r")
    rv = back.variable(("y", "time", "x"))
    got_blocks = []
    for _start, block in rv.yield_blocks():
        assert block["v"].shape[0] == Y and block["v"].shape[2] == X
        got_blocks.append(block["v"])
    got = np.concatenate(got_blocks, axis=1)  # re-join along time
    np.testing.assert_array_equal(got, logical)

    # single-line path: streamline takes a logical (y, x) line
    ds2 = StreamedDataset(path, "a")
    var2 = ds2.variable(("y", "time", "x"))
    extra = rng.rand(Y, X).astype(np.float32)
    var2.streamline({"v": extra})
    ds2.close()
    back2 = StreamedDataset(path, "r")
    rv2 = back2.variable(("y", "time", "x"))
    total = np.concatenate(
        [b["v"] for _s, b in rv2.yield_blocks()], axis=1
    )
    assert total.shape == (Y, T + 1, X)
    np.testing.assert_array_equal(total[:, -1, :], extra)

    # the fixed dims in the other logical order: reads come back
    # transposed, and a logical (x, y) line lands at (y, x) in storage
    ds3 = StreamedDataset(path, "a")
    var3 = ds3.variable(("x", "time", "y"))
    swapped = np.concatenate(
        [b["v"] for _s, b in var3.yield_blocks()], axis=1
    )
    assert swapped.shape == (X, T + 1, Y)
    np.testing.assert_array_equal(swapped, total.transpose(2, 1, 0))
    line_xy = rng.rand(X, Y).astype(np.float32)
    var3.streamline({"v": line_xy})
    ds3.close()
    back3 = StreamedDataset(path, "r").variable(("y", "time", "x"))
    last = np.concatenate([b["v"] for _s, b in back3.yield_blocks()], axis=1)
    np.testing.assert_array_equal(last[:, -1, :], line_xy.T)
    with pytest.raises(ValueError, match="line must have 2 dims"):
        var3.streamline({"v": line_xy[0]})


def test_arrow_stream_tail_protocol(spark):
    """Chunk-store Arrow tail: extent offsets, chunk-bundled
    partitions, Arrow rows masked to the offset window — value-identical
    to the batch scan, including a microbatch whose window splits a
    chunk."""
    path = _tmp()
    try:
        ChunkStore.create(
            path, {"time": None, "y": 2, "x": 2}, "time", 4,
            {"temperature": "float32", "humidity": "float32"},
        )
        store = ChunkStore.open(path)
        store.append_block(
            {"temperature": np.ones((6, 2, 2), np.float32),
             "humidity": np.zeros((6, 2, 2), np.float32)}
        )
        spark.dataSource.register(NetCDFChunkDataSource)
        schema = (
            spark.read.format(FORMAT_NAME).option("path", path).load().schema
        )
        from netcdf4_variable_streamer_spark.sources.netcdf_source import (
            NetCDFChunkArrowStreamReader,
        )

        ar = NetCDFChunkArrowStreamReader(path, schema, target_partitions=2)
        assert ar.initialOffset() == {"line": 0}
        off1 = ar.latestOffset()
        assert off1 == {"line": 6}

        def rows(start, end):
            out = []
            for p in ar.partitions(start, end):
                for rb in ar.read(p):
                    out.extend(
                        tuple(r[c] for c in ar.columns)
                        for r in rb.to_pylist()
                    )
            return out

        got = rows(ar.initialOffset(), off1)
        want = spark.read.format(FORMAT_NAME).option("path", path).load()
        assert sorted(got) == sorted(tuple(r) for r in want.collect())
        assert ar.partitions(off1, off1) == []

        # append 3 more lines: the delta window [6, 9) splits the
        # chunk holding lines 4..7 — masking must trim it exactly
        ChunkStore.open(path).append_block(
            {"temperature": np.full((3, 2, 2), 2, np.float32),
             "humidity": np.ones((3, 2, 2), np.float32)}
        )
        off2 = ar.latestOffset()
        assert off2 == {"line": 9}
        got2 = rows(off1, off2)
        assert len(got2) == 12  # 3 lines x 4 cells
        assert {r[0] for r in got2} == {6, 7, 8}
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_src_netcdf_arrow_tail_oracle(check):
    pdf = check("src_netcdf_arrow_tail")
    assert len(pdf) == srcq.GRID_T
    assert (pdf["n_cells"] == srcq.GRID_Y * srcq.GRID_X).all()


def test_in_filter_prunes_record_range(spark):
    """time_idx.isin(...) pushes an In filter whose value is a LIST —
    the readers must prune the record range to the value envelope
    instead of crashing on int(list) (round 12, found by the
    points-v2 scan key), and the full plan stays row-correct."""
    from pyspark.sql.datasource import In

    from netcdf4_variable_streamer_spark.sources.netcdf4_source import (
        FORMAT4_NAME,
        NetCDF4DataSource,
    )

    from netcdf4_variable_streamer_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    spark.dataSource.register(NetCDF4DataSource)
    p4 = srcq.ensure_nc4()
    schema4 = (
        spark.read.format(FORMAT4_NAME).option("path", p4).load().schema
    )
    r = NetCDF4DataSource({"path": p4}).reader(schema4)
    out = list(r.pushFilters([In(("time_idx",), (9, 4, 30))]))
    assert len(out) == 1  # returned for row-level re-check
    assert (r.lo, r.hi) == (4, 31)

    p3 = srcq.ensure_nc3()
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )

    apply_runtime_confs(spark)
    spark.dataSource.register(NetCDF3DataSource)
    schema3 = (
        spark.read.format(FORMAT3_NAME).option("path", p3).load().schema
    )
    r3 = NetCDF3DataSource({"path": p3}).reader(schema3)
    assert len(list(r3.pushFilters([In(("time_idx",), (12, 7))]))) == 1
    assert (r3.lo, r3.hi) == (7, 13)

    pc = srcq.ensure_grid()
    spark.dataSource.register(NetCDFChunkDataSource)
    schemac = spark.read.format(FORMAT_NAME).option("path", pc).load().schema
    rc = NetCDFChunkReader(pc, schemac)
    assert len(list(rc.pushFilters([In(("time_idx",), (9, 4, 30))]))) == 1
    assert (rc.lo, rc.hi) == (4, 31)

    df = spark.read.format(FORMAT4_NAME).option("path", p4).load()
    got = df.filter(df.time_idx.isin([4, 9, 30])).count()
    assert got == 3 * srcq.GRID_Y * srcq.GRID_X


# ---------------------------------------------------------------------------
# One chunk-run scan: the batch reader and the Arrow tail share the run
# planner and the run reader; the pushdown is the record readers' one.
# No Spark session: readers are driven in process.
# ---------------------------------------------------------------------------

_CELLS = 6  # y=2 x x=3


def _ragged_store(path, n_lines=38, chunk_lines=4) -> list[str]:
    """A store of `chunk_lines`-line chunks whose last chunk is partial;
    v counts cells in storage order. Returns the chunk files in order."""
    store = ChunkStore.create(
        path, {"time": None, "y": 2, "x": 3}, "time", chunk_lines,
        {"v": "float32"},
    )
    for a in range(0, n_lines, chunk_lines):
        b = min(a + chunk_lines, n_lines)
        store.append_block({"v": np.arange(
            a * _CELLS, b * _CELLS, dtype=np.float32
        ).reshape(b - a, 2, 3)})
    return [c.file for c in store.list_chunks()]


def _schema():
    from pyspark.sql.types import (
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    return StructType([
        StructField("time_idx", LongType()),
        StructField("y_idx", IntegerType()),
        StructField("x_idx", IntegerType()),
        StructField("v", FloatType()),
    ])


def _read_all(reader, parts) -> list[int]:
    return [int(t) for p in parts for b in reader.read(p)
            for t in b.column("time_idx").to_numpy()]


def test_chunk_reader_pickle_size_is_chunk_count_free(tmp_path):
    """Spark pickles the reader into every task: its size must not grow
    with the store's chunk index. Only the meta sidecar is read, so the
    chunk entries need no files behind them."""
    import pickle

    from netcdf4_variable_streamer_spark.sources.chunkstore import ChunkInfo

    sizes = []
    for n in (16, 2048):
        path = str(tmp_path / f"s{n}")
        store = ChunkStore.create(
            path, {"time": None, "y": 2, "x": 3}, "time", 4,
            {"v": "float32"},
        )
        store.chunks = [
            ChunkInfo(i, 4 * i, 4, f"chunk_{i:06d}.parquet")
            for i in range(n)
        ]
        store._save_meta()
        sizes.append(len(pickle.dumps(NetCDFChunkReader(path, _schema()))))
    assert abs(sizes[1] - sizes[0]) <= 64, sizes


def test_pushdown_is_filter_order_free(tmp_path):
    """An upper bound of 0 is a bound: either order of [< 0, < 10]
    plans the one empty partition."""
    from pyspark.sql.datasource import LessThan

    path = str(tmp_path / "s")
    _ragged_store(path, n_lines=16)
    for order in ([0, 10], [10, 0]):
        r = NetCDFChunkReader(path, _schema())
        list(r.pushFilters([LessThan(("time_idx",), v) for v in order]))
        parts = r.partitions()
        assert len(parts) == 1 and parts[0].files == []
        assert _read_all(r, parts) == []


@pytest.mark.parametrize("lo,hi", [(6, 23), (1, 37), (37, 38), (0, 38),
                                   (9, 10)])
def test_chunk_scan_and_tail_cut_edge_chunks(tmp_path, lo, hi):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        NetCDFChunkArrowStreamReader,
    )

    path = str(tmp_path / "s")
    _ragged_store(path)
    want = [t for t in range(lo, hi) for _ in range(_CELLS)]
    for tp in (1, 3, 32):
        r = NetCDFChunkReader(path, _schema(), tp)
        list(r.pushFilters([GreaterThanOrEqual(("time_idx",), lo),
                            LessThan(("time_idx",), hi)]))
        assert _read_all(r, r.partitions()) == want
        tail = NetCDFChunkArrowStreamReader(path, _schema(), tp)
        got = _read_all(
            tail, tail.partitions({"line": lo}, {"line": hi})
        )
        assert got == want
    # values travel with their indexes through the slice
    tail = NetCDFChunkArrowStreamReader(path, _schema(), 2)
    v = [x for p in tail.partitions({"line": lo}, {"line": hi})
         for b in tail.read(p) for x in b.column("v").to_numpy()]
    assert v == list(range(lo * _CELLS, hi * _CELLS))


@pytest.mark.parametrize("tp,full,slab", [
    (4, [[0, 1, 2], [3, 4, 5], [6, 7, 8], [9]], [[1, 2], [3, 4], [5]]),
    (32, [[i] for i in range(10)], [[1], [2], [3], [4], [5]]),
])
def test_chunk_run_plans_pinned(tmp_path, tp, full, slab):
    """Runs (chunk numbers per partition) of a full scan and of the
    pushed slab [6, 23) on 9 four-line chunks plus a two-line one."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    path = str(tmp_path / "s")
    files = _ragged_store(path)

    def runs(parts):
        return [[files.index(f) for f in p.files] for p in parts]

    r = NetCDFChunkReader(path, _schema(), tp)
    assert runs(r.partitions()) == full
    assert sum(p.n_lines for p in r.partitions()) == 38
    r = NetCDFChunkReader(path, _schema(), tp)
    list(r.pushFilters([GreaterThanOrEqual(("time_idx",), 6),
                        LessThan(("time_idx",), 23)]))
    assert runs(r.partitions()) == slab


def _line_table(n_lines: int, v0: int = 0) -> pa.Table:
    """Writer input of `n_lines` lines of the y=2 x x=3 store, sorted by
    (time, y, x); v counts cells from `v0`."""
    return pa.table({
        "time_idx": np.repeat(np.arange(n_lines, dtype=np.int64), _CELLS),
        "y_idx": np.tile(np.repeat(np.arange(2, dtype=np.int32), 3), n_lines),
        "x_idx": np.tile(np.arange(3, dtype=np.int32), 2 * n_lines),
        "v": np.arange(v0, v0 + n_lines * _CELLS, dtype=np.float32),
    })


def _store_values(path: str) -> np.ndarray:
    store = ChunkStore.open(path)
    return np.concatenate([store.read_chunk(ch).column("v").to_numpy()
                           for ch in store.list_chunks()])


def test_writer_cuts_whole_chunks_from_one_batch(tmp_path):
    """One Arrow batch of 3.5 chunks of lines plus half a line, then a
    batch that completes that line: pending files hold [c, c, c, rest]
    lines and commit appends one store chunk per pending file."""
    c = 4
    path = str(tmp_path / "s")
    ChunkStore.create(
        path, {"time": None, "y": 2, "x": 3}, "time", c, {"v": "float32"}
    )
    n_lines = 3 * c + c // 2 + 1
    table = _line_table(n_lines)
    cut = n_lines * _CELLS - 3  # the first batch ends mid-line
    batches = [table.slice(0, cut).to_batches()[0],
               table.slice(cut).to_batches()[0]]
    w = NetCDFChunkWriter(path, _schema(), overwrite=False)
    msg = w.write(iter(batches))
    assert [k for _f, k in msg.files] == [c, c, c, c // 2 + 1]
    w.commit([msg])
    store = ChunkStore.open(path)
    assert [ch.n_lines for ch in store.list_chunks()] == [c, c, c, c // 2 + 1]
    np.testing.assert_array_equal(
        _store_values(path), table.column("v").to_numpy()
    )
    assert not [f for f in os.listdir(path) if f.startswith("pending-")]


@pytest.mark.parametrize("overwrite", [False, True])
def test_commit_publishes_once_after_every_chunk_file(
    tmp_path, monkeypatch, overwrite
):
    """Job commit of 8 task messages saves the meta sidecar once, when
    every chunk file it lists and every chunk file it replaces are on
    disk, so a concurrent reader sees the old store or the new one."""
    c = 4
    path = str(tmp_path / "s")
    old = _ragged_store(path, n_lines=2 * c, chunk_lines=c)
    w = NetCDFChunkWriter(path, _schema(), overwrite=overwrite)
    v0 = 2 * c * _CELLS
    msgs = [w.write(iter(_line_table(c, v0 + k * c * _CELLS).to_batches()))
            for k in range(8)]
    assert all(f.startswith("pending-") for m in msgs for f, _n in m.files)

    saves = []
    save_meta = ChunkStore._save_meta

    def spy(store):
        listed = [ch.file for ch in store.chunks]
        saves.append(all(os.path.exists(os.path.join(path, f))
                         for f in listed + old))
        save_meta(store)

    monkeypatch.setattr(ChunkStore, "_save_meta", spy)
    w.commit(msgs)
    assert saves == [True]

    store = ChunkStore.open(path)
    assert store.extent == (8 if overwrite else 10) * c
    want = np.arange(v0 if overwrite else 0, v0 + 8 * c * _CELLS,
                     dtype=np.float32)
    np.testing.assert_array_equal(_store_values(path), want)
    t = np.concatenate([store.read_chunk(ch).column("time_idx").to_numpy()
                        for ch in store.list_chunks()])
    np.testing.assert_array_equal(
        t, np.repeat(np.arange(store.extent), _CELLS)
    )
    # replaced chunk files and staging files are gone after the publish
    assert sorted(os.listdir(path)) == sorted(
        [ch.file for ch in store.list_chunks()] + ["meta.json"]
    )


# ---------------------------------------------------------------------------
# Chunk encoding: float variables PLAIN without a dictionary, index columns
# and integer variables dictionary-encoded, nothing Spark's vectorized
# parquet reader rejects; old dictionary-encoded chunks still read.
# ---------------------------------------------------------------------------

_SPARK_ENCODINGS = {"PLAIN", "RLE", "RLE_DICTIONARY", "PLAIN_DICTIONARY"}
_DICT_ENCODINGS = {"RLE_DICTIONARY", "PLAIN_DICTIONARY"}


def _encodings(file: str) -> dict[str, set[str]]:
    """Column name -> the encodings of its column chunks in `file`."""
    md = pq.ParquetFile(file).metadata
    out: dict[str, set[str]] = {}
    for rg in range(md.num_row_groups):
        for i in range(md.num_columns):
            col = md.row_group(rg).column(i)
            out.setdefault(col.path_in_schema, set()).update(col.encodings)
    return out


def _dtype_store(path: str, n_chunks: int) -> dict[str, np.ndarray]:
    """A store with one variable per supported dtype and `n_chunks`
    three-line chunks; returns each variable's values in storage order."""
    rng = np.random.default_rng(7)
    store = ChunkStore.create(
        path, {"time": None, "y": 2, "x": 3}, "time", 3,
        {f"v_{dt}": dt for dt in _DTYPES},
    )
    blocks = []
    for _ in range(n_chunks):
        block = {}
        for dt in _DTYPES:
            if dt.startswith("float"):
                a = rng.normal(0, 1e3, (3, 2, 3))
            else:
                info = np.iinfo(dt)
                a = rng.integers(info.min, info.max, (3, 2, 3),
                                 endpoint=True)
            block[f"v_{dt}"] = a.astype(dt)
        store.append_block(block)
        blocks.append(block)
    return {v: np.concatenate([b[v] for b in blocks]).reshape(-1)
            for v in blocks[0]}


def test_chunk_encoding_floats_plain_index_dictionary(tmp_path):
    path = str(tmp_path / "s")
    _dtype_store(path, 1)
    store = ChunkStore.open(path)
    enc = _encodings(os.path.join(path, store.list_chunks()[0].file))
    for col, used in enc.items():
        assert used <= _SPARK_ENCODINGS, (col, used)
        if col.startswith("v_float"):
            assert not used & _DICT_ENCODINGS, (col, used)
        else:  # index columns and integer variables
            assert "RLE_DICTIONARY" in used, (col, used)
    assert set(enc) == set(store.index_columns()) | set(store.variables)


def test_noisy_float_chunk_stores_near_raw(tmp_path):
    """64 records of a 32x32 float32 grid of Gaussian noise, default
    codec: the chunk file (index columns and footer included) stays
    within 5% of the variable's raw bytes."""
    path = str(tmp_path / "s")
    store = ChunkStore.create(
        path, {"time": None, "y": 32, "x": 32}, "time", 64,
        {"v": "float32"},
    )
    block = np.random.default_rng(101).normal(size=(64, 32, 32))
    block = block.astype(np.float32)
    info = store.append_block({"v": block})
    on_disk = os.path.getsize(os.path.join(path, info.file))
    assert on_disk <= 1.05 * block.nbytes, on_disk / block.nbytes


def test_mixed_encoding_store_reads_exactly(spark, tmp_path):
    """Every supported dtype round-trips exactly through read_chunk, the
    Python DataSource and read_native, on a store whose first chunks were
    written with pyarrow's default (dictionary) encoding and whose later
    chunks come from append_block."""
    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        read_native,
    )

    path = str(tmp_path / "s")
    want = _dtype_store(path, 4)
    store = ChunkStore.open(path)
    for ch in store.list_chunks()[:2]:
        f = os.path.join(path, ch.file)
        pq.write_table(pq.read_table(f), f)
        assert _encodings(f)["v_float32"] & _DICT_ENCODINGS
    for v, a in want.items():
        got = np.concatenate([store.read_chunk(ch).column(v).to_numpy()
                              for ch in store.list_chunks()])
        assert got.dtype == a.dtype, v
        np.testing.assert_array_equal(got, a, err_msg=v)

    spark.dataSource.register(NetCDFChunkDataSource)
    order = store.index_columns()
    for df in (spark.read.format(FORMAT_NAME).option("path", path).load(),
               read_native(spark, path)):
        pdf = df.orderBy(*order).toPandas()
        for v, a in want.items():
            got = pdf[v].to_numpy()
            assert got.dtype == a.dtype, v
            np.testing.assert_array_equal(got, a, err_msg=v)


# ---------------------------------------------------------------------------
# Python workers read every container without importing pandas, and the
# streamed writer publishes the meta sidecar once per stream_block call.
# ---------------------------------------------------------------------------

_WORKER_READ = """
import pickle, sys
import pyspark.worker  # noqa: F401  (what a Spark Python worker has loaded)
with open(sys.argv[1], "rb") as f:
    jobs = pickle.load(f)
read = [list(reader.read(part)) for reader, part in jobs]
pandas_loaded = "pandas" in sys.modules
# as raw bytes: converting Arrow columns to NumPy may import pandas
out = [{n: [(b.column(n).type.to_pandas_dtype().__name__,
             b.column(n).buffers()[1].to_pybytes()) for b in batches]
        for n in batches[0].schema.names} for batches in read]
with open(sys.argv[2], "wb") as f:
    pickle.dump((out, pandas_loaded), f)
"""


def test_worker_reads_containers_without_pandas(spark, tmp_path):
    """A fresh process with ``pyspark.worker`` imported unpickles the
    chunk-store, NetCDF-3 and NetCDF-4 readers, reads one partition of
    each, gets the closed-form grid exactly, and never imports pandas
    (about 0.13 s on a worker's first read)."""
    import pickle
    import subprocess
    import sys

    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        FORMAT3_NAME,
        NetCDF3DataSource,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf4_source import (
        FORMAT4_NAME,
        NetCDF4DataSource,
    )

    jobs = []
    for ds, name, path in (
        (NetCDFChunkDataSource, FORMAT_NAME, srcq.ensure_grid()),
        (NetCDF3DataSource, FORMAT3_NAME, srcq.ensure_nc3()),
        (NetCDF4DataSource, FORMAT4_NAME, srcq.ensure_nc4()),
    ):
        spark.dataSource.register(ds)
        schema = spark.read.format(name).option("path", path).load().schema
        reader = ds({"path": path}).reader(schema)
        jobs.append((reader, reader.partitions()[0]))
    src, dst = tmp_path / "jobs.pkl", tmp_path / "out.pkl"
    src.write_bytes(pickle.dumps(jobs))
    subprocess.run([sys.executable, "-c", _WORKER_READ, str(src), str(dst)],
                   check=True, cwd=os.path.dirname(os.path.dirname(
                       os.path.abspath(__file__))))
    out, pandas_loaded = pickle.loads(dst.read_bytes())
    cells = srcq.GRID_Y * srcq.GRID_X
    for raw in out:
        cols = {n: [np.frombuffer(b, dtype=dt) for dt, b in parts]
                for n, parts in raw.items()}
        t = np.concatenate(cols["time_idx"])
        t0, n = int(t[0]), len(t) // cells
        assert n > 0
        np.testing.assert_array_equal(
            t, np.repeat(np.arange(t0, t0 + n), cells))
        want = srcq.grid_values(t0, n)
        for v in ("temperature", "humidity"):
            np.testing.assert_array_equal(
                np.concatenate(cols[v]), want[v].reshape(-1), err_msg=v)
    assert not pandas_loaded


def test_to_arrow_matches_pa_array():
    """The buffer-built Arrow column equals ``pa.array(values, mask)``
    for integer and float kinds, with and without NULLs, and takes
    big-endian input by value; other kinds fall back to ``pa.array``."""
    from netcdf4_variable_streamer_spark.sources.records_source import (
        _to_arrow,
    )

    mask = np.arange(13) % 3 == 0
    for dt in ("<i2", ">i4", "<i8", "<u4", ">f4", "<f8"):
        a = np.arange(13).astype(dt)
        for m in (None, mask, np.zeros(13, bool)):
            got = _to_arrow(a, m)
            want = pa.array(a.astype(a.dtype.newbyteorder("=")), mask=m)
            assert got.equals(want), (dt, m)
    t = np.arange(3).astype("datetime64[us]")
    assert _to_arrow(t, None).equals(pa.array(t))


def test_stream_block_saves_meta_once(tmp_path, monkeypatch):
    """One multi-chunk ``stream_block`` call writes its chunk files and
    then saves the meta sidecar once, listing only files already on
    disk; ``close`` saves once more for the remainder, and the data
    reads back exactly."""
    from netcdf4_variable_streamer_spark.sources.chunkstore import (
        StreamedDataset,
    )

    path = str(tmp_path / "s")
    saves = []
    save_meta = ChunkStore._save_meta

    def spy(store):
        saves.append(all(os.path.exists(os.path.join(path, ch.file))
                         for ch in store.chunks))
        save_meta(store)

    ds = StreamedDataset(path, "w")
    ds.create_dimension("time", None)
    ds.create_dimension("y", 2)
    ds.create_dimension("x", 3)
    var = ds.create_streamed_variables(
        {"v": "float32"}, ("time", "y", "x"), chunk_size_mb=4 * 24 / 2**20)
    assert var.lines_per_buffer == 4
    monkeypatch.setattr(ChunkStore, "_save_meta", spy)
    data = np.arange(38 * 6, dtype=np.float32).reshape(38, 2, 3)
    var.stream_block({"v": data[:30]})  # 7 chunks + 2 buffered lines
    assert saves == [True]
    var.stream_block({"v": data[30:31]})  # fills no chunk: no save
    assert saves == [True]
    var.stream_block({"v": data[31:]})
    ds.close()
    assert saves == [True, True, True]
    store = ChunkStore.open(path)
    assert [c.n_lines for c in store.list_chunks()] == [4] * 9 + [2]
    got = np.concatenate(
        [b["v"] for _, b in StreamedDataset(path, "r").variable(
            ("time", "y", "x")).yield_blocks()])
    np.testing.assert_array_equal(got, data)
