"""array_io: chunked variable I/O, the reference library's core job.

One cycle appends a fixed slice of the generated grid through each
container's streamed writer, scans each container in full through its
Python DataSource (plus the native parquet read of the chunk store as a
control in the traced run), and runs one hyperslab-box query per
container.  Operators and streaming state are bypassed.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from harness import FMTS, Ctx, Work, median, run_passes, timed, tree_bytes

from netcdf4_variable_streamer_spark.sources import hdf5lite, netcdf3
from netcdf4_variable_streamer_spark.sources.chunkstore import (
    ChunkStore,
    StreamedDataset,
)
from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
    FORMAT3_NAME,
    NetCDF3DataSource,
)
from netcdf4_variable_streamer_spark.sources.netcdf4_source import (
    FORMAT4_NAME,
    NetCDF4DataSource,
)
from netcdf4_variable_streamer_spark.sources.netcdf_source import (
    FORMAT_NAME,
    NetCDFChunkDataSource,
    read_native,
)

SOURCES = {
    "chunk": (FORMAT_NAME, NetCDFChunkDataSource),
    "nc3": (FORMAT3_NAME, NetCDF3DataSource),
    "nc4": (FORMAT4_NAME, NetCDF4DataSource),
}
DIMS = {"time": None, "y": gen.GRID_Y, "x": gen.GRID_X}
VARIABLES = {v: ("float32", ("time", "y", "x")) for v in gen.GRID_VARS}
SLAB_LINES = 128  # streamed-dim extent of one hyperslab box
CELLS = gen.GRID_T * gen.GRID_Y * gen.GRID_X
USER_BYTES = gen.WRITE_LINES * gen.GRID_Y * gen.GRID_X * 4 * len(gen.GRID_VARS)


# -- writers (codec layer, no Spark) -----------------------------------------

def write_chunk(path: str, data: dict, block: int) -> None:
    ds = StreamedDataset(path, "w")
    for d, n in DIMS.items():
        ds.create_dimension(d, n)
    line_mb = gen.GRID_Y * gen.GRID_X * 4 * len(gen.GRID_VARS) / 2**20
    var = ds.create_streamed_variables(
        {v: "float32" for v in gen.GRID_VARS}, ("time", "y", "x"),
        chunk_size_mb=gen.CHUNK_LINES * line_mb,
    )
    n = len(data[gen.GRID_VARS[0]])
    for t0 in range(0, n, block):
        var.stream_block({v: a[t0:t0 + block] for v, a in data.items()})
    ds.close()


def write_nc3(path: str, data: dict, block: int) -> None:
    empty = {v: a[:0] for v, a in data.items()}
    netcdf3.write_netcdf3(path, DIMS, VARIABLES, empty)
    n = len(data[gen.GRID_VARS[0]])
    for t0 in range(0, n, block):
        netcdf3.append_records(
            path, {v: a[t0:t0 + block] for v, a in data.items()})


def write_nc4(path: str, data: dict, block: int) -> None:
    """The two-phase compressed writer: exact per-record chunk sizes,
    then the metadata, then positional writes of each block."""
    kw = {"compress": gen.NC4_DEFLATE, "shuffle": True}
    sizes = {v: hdf5lite.compressed_chunk_sizes_nc4(a, **kw)
             for v, a in data.items()}
    hdf5lite.create_netcdf4_compressed(path, DIMS, VARIABLES, sizes, **kw)
    n = len(data[gen.GRID_VARS[0]])
    for t0 in range(0, n, block):
        hdf5lite.pwrite_compressed_records_nc4(
            path, {v: a[t0:t0 + block] for v, a in data.items()}, t0, **kw)


WRITERS = {"chunk": write_chunk, "nc3": write_nc3, "nc4": write_nc4}


def decode(fmt: str, path: str) -> dict[str, np.ndarray]:
    """Full in-process decode of one container into (time, y, x) arrays."""
    if fmt == "chunk":
        store = ChunkStore.open(path)
        return {
            v: np.concatenate([
                store.read_chunk(c, [v]).column(v).to_numpy()
                for c in store.list_chunks()
            ]).reshape(-1, gen.GRID_Y, gen.GRID_X)
            for v in gen.GRID_VARS
        }
    f = netcdf3.NetCDF3File(path) if fmt == "nc3" else hdf5lite.NetCDF4View(path)
    return {v: f.read_records(v) for v in gen.GRID_VARS}


def prime(spark, work: str) -> None:
    """The first read through a Python DataSource pays one-time costs
    (planner worker start, package import); pay them on a tiny store."""
    path = os.path.join(work, "prime")
    store = ChunkStore.create(path, {"t": None, "x": 4}, "t", 4,
                              {"v": "float32"})
    store.append_block({"v": np.zeros((4, 4), dtype=np.float32)})
    _load(spark, "chunk", path).count()


def prepare(out_dir: str, seed: int) -> dict:
    """Generate the grid and store it in all three containers."""
    data = gen.grid(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "chunk": os.path.join(out_dir, "grid_chunks"),
        "nc3": os.path.join(out_dir, "grid.nc"),
        "nc4": os.path.join(out_dir, "grid.nc4"),
    }
    write_chunk(paths["chunk"], data, gen.CHUNK_LINES)
    netcdf3.write_netcdf3(paths["nc3"], DIMS, VARIABLES, data)
    hdf5lite.write_netcdf4(
        paths["nc4"], DIMS, VARIABLES, data, compress=gen.NC4_DEFLATE,
        shuffle=True, chunk0=gen.CHUNK_LINES,
    )
    return {"data": data, "paths": paths, "dir": out_dir}


# -- Spark queries -------------------------------------------------------------

def _agg(df):
    t = F.col("temperature")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(t).alias("t_min"),
        F.max(t).alias("t_max"),
        F.sum(t.cast("double")).alias("t_sum"),
        F.sum(F.col("humidity").cast("double")).alias("h_sum"),
    )


def _load(spark, fmt: str, path: str):
    # a fresh load() per query: a reused Python-source DataFrame keeps the
    # partitions a previous query's pushdown narrowed
    return spark.read.format(SOURCES[fmt][0]).option("path", path).load()


def _slab_filter(df, t0: int):
    return df.filter(
        (F.col("time_idx") >= t0) & (F.col("time_idx") < t0 + SLAB_LINES)
        & (F.col("y_idx") < 8) & F.col("x_idx").between(4, 11)
    )


def _expect(data: dict, t0: int | None) -> tuple:
    tt, hh = data["temperature"], data["humidity"]
    if t0 is not None:
        box = (slice(t0, t0 + SLAB_LINES), slice(0, 8), slice(4, 12))
        tt, hh = tt[box], hh[box]
    return (tt.size, float(tt.min()), float(tt.max()),
            float(tt.sum(dtype=np.float64)), float(hh.sum(dtype=np.float64)))


def _agrees(row, want) -> bool:
    n, lo, hi, ts, hs = want
    return (row["n"] == n and row["t_min"] == lo and row["t_max"] == hi
            and abs(row["t_sum"] - ts) <= 1e-9 * abs(ts)
            and abs(row["h_sum"] - hs) <= 1e-9 * abs(hs))


# -- per-layer probes (traced run only) --------------------------------------

def _reader(fmt: str, path: str, schema):
    return SOURCES[fmt][1]({"path": path}).reader(schema)


def _records(fmt: str, part) -> int:
    if fmt == "chunk":
        return part.n_lines
    return part.hi - part.lo


def _probe_layers(ctx: Ctx, inputs: dict, t0: int) -> None:
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    tr, spark = ctx.tracer, ctx.spark
    for fmt, path in inputs["paths"].items():
        with tr.span(f"codec.{fmt}.decode"):
            _, s = timed(decode, fmt, path)
        ctx.add(f"codec.{fmt}.decode_s", s)
        schema = _load(spark, fmt, path).schema
        with tr.span(f"ds.{fmt}.read"):
            t = time.perf_counter()
            reader = _reader(fmt, path, schema)
            parts = reader.partitions()
            batches = sum(1 for p in parts for _ in reader.read(p))
            ctx.add(f"ds.{fmt}.read_s", time.perf_counter() - t)
        ctx.layer[f"ds.{fmt}.partitions"] = len(parts)
        ctx.layer[f"ds.{fmt}.batches"] = batches
        pruned = _reader(fmt, path, schema)
        list(pruned.pushFilters([
            GreaterThanOrEqual(("time_idx",), t0),
            LessThan(("time_idx",), t0 + SLAB_LINES),
        ]))
        kept = sum(_records(fmt, p) for p in pruned.partitions())
        ctx.layer[f"ds.{fmt}.slab_kept_frac"] = (
            kept / sum(_records(fmt, p) for p in parts))
        with tr.span(f"spark.{fmt}.noop", spark_calls=True):
            _, s = timed(_load(spark, fmt, path).write.format("noop")
                         .mode("overwrite").save)
        ctx.add(f"spark.{fmt}.noop_s", s)
    with tr.span("spark.parquet.noop", spark_calls=True):
        _, s = timed(read_native(spark, inputs["paths"]["chunk"])
                     .write.format("noop").mode("overwrite").save)
    ctx.add("spark.parquet.noop_s", s)


# -- the workload ------------------------------------------------------------

def _cycle(ctx: Ctx, inputs: dict, rng) -> None:
    """One pass over every operation."""
    spark, tr, data = ctx.spark, ctx.tracer, inputs["data"]
    part = {v: a[:gen.WRITE_LINES] for v, a in data.items()}
    for fmt, writer in WRITERS.items():
        dst = os.path.join(inputs["dir"], f"append_{fmt}")
        with tr.span(f"codec.{fmt}.encode"):
            (ok, _), s = timed(ctx.attempt, f"write {fmt}", writer, dst,
                               part, gen.WRITE_BLOCK)
        ctx.add(f"write.{fmt}", s)
        got, back = ctx.attempt(f"read back {fmt}", decode, fmt, dst)
        ctx.check(f"append {fmt} round trip", ok and got and all(
            np.array_equal(back[v], part[v]) for v in gen.GRID_VARS))
        if ok:
            ctx.add(f"written.{fmt}", tree_bytes(dst))
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        elif os.path.exists(dst):
            os.remove(dst)

    t0 = int(rng.integers(0, gen.GRID_T - SLAB_LINES))
    queries = [(f"spark.{f}.agg", f, None) for f in FMTS]
    queries += [(f"slab.{f}", f, t0) for f in FMTS]
    for name, fmt, box in queries:
        path = inputs["paths"][fmt]

        def query():
            df = _load(spark, fmt, path)
            if box is not None:
                df = _slab_filter(df, box)
            return _agg(df).collect()[0]

        with tr.span(name, spark_calls=True):
            (ok, row), s = timed(ctx.attempt, name, query)
        ctx.add(name, s)
        ctx.check(f"{name} vs numpy", ok and _agrees(row, _expect(data, box)),
                  str(row))
    if ctx.traced:
        _probe_layers(ctx, inputs, t0)


def run(ctx: Ctx, inputs: dict) -> float:
    """Runs cycles until the measuring time is used; returns the first
    cycle's wall time."""
    rng = np.random.default_rng([ctx.seed, 4])
    return run_passes(ctx, "array_io.cycle", lambda n: _cycle(ctx, inputs, rng))


def metrics(ctx: Ctx, inputs: dict) -> tuple[Work, dict]:
    S = ctx.samples
    write_s = sum(sum(S[f"write.{f}"]) for f in FMTS)
    n_writes = sum(len(S[f"write.{f}"]) for f in FMTS)
    scan_s = sum(sum(S[f"spark.{f}.agg"]) for f in FMTS)
    n_scans = sum(len(S[f"spark.{f}.agg"]) for f in FMTS)
    slabs = [x for f in FMTS for x in S[f"slab.{f}"]]
    wl = {
        "write_mb_per_s": (n_writes * USER_BYTES / 2**20 / write_s, n_writes),
        "slab_p50_s": (median(slabs), len(slabs)),
    }
    for f in FMTS:
        n = len(S[f"spark.{f}.agg"])
        wl[f"{f}_cells_per_s"] = (CELLS / median(S[f"spark.{f}.agg"]), n)
    if ctx.traced:
        for f in FMTS:
            ctx.layer[f"codec.{f}.encode_s"] = median(S[f"write.{f}"])
            ctx.layer[f"codec.{f}.bytes_on_disk"] = tree_bytes(inputs["paths"][f])
            ctx.layer[f"spark.{f}.agg_s"] = median(S[f"spark.{f}.agg"])
            for k in ("codec.{}.decode_s", "ds.{}.read_s", "spark.{}.noop_s"):
                ctx.layer[k.format(f)] = median(S[k.format(f)])
        ctx.layer["spark.parquet.noop_s"] = median(S["spark.parquet.noop_s"])
    # cells moved by the writers and the full scans; slab queries are the
    # latency-bound operation
    work = Work(n_writes * USER_BYTES / 4 + n_scans * CELLS,
                write_s + scan_s, n_writes + n_scans, slabs,
                sum(sum(S.get(f"written.{f}", [])) for f in FMTS),
                n_writes * USER_BYTES)
    return work, wl
