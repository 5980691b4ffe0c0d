"""Custom Python DataSource: the reference's chunked I/O as a Spark source.

Maps the reference surface (SURVEY.md §2 Table A) onto the PySpark 4.x
DataSource API:

- A1/A8/A9 chunked scan → ``reader``: contiguous chunk runs of about
  equal line counts, one wave of tasks (chunk boundaries stay partition
  boundaries), Arrow RecordBatch reads, column pruning via the
  pushed-down read schema.
- A11 hyperslab slice  → ``pushFilters``: range predicates on the
  streamed-dim index column prune whole chunks before they are opened
  (the automatic version of the reference's user-driven `var[a:b]`;
  the pushdown is ``records_source.IndexRangeReader``, shared with the
  NetCDF-3/NetCDF-4 record readers).
- A4-A7 buffered write → ``writer``: each task buffers rows into NumPy
  blocks of `chunk_lines` and emits chunk files; `commit` assigns global
  line offsets and publishes them into the meta sidecar atomically
  (task files are invisible until job commit).
- A14 append/tail      → ``streamReader``: offset = current extent of
  the UNLIMITED dim; each microbatch's window ``[start, extent)`` is
  planned and read by the batch scan's run planner and run reader.

100 TB posture: partitions() is O(#chunks) metadata work on the driver;
data reads are Arrow batches of whole chunk runs on executors; pruned
chunks are never opened; the writer commits offsets only at job commit
so failed tasks leave no visible data.
"""

from __future__ import annotations

import contextlib
import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from netcdf4_variable_streamer_spark.sources.chunkstore import (
    ChunkInfo,
    ChunkStore,
)
from netcdf4_variable_streamer_spark.sources.records_source import (
    IndexRangeReader,
    _target,
)

FORMAT_NAME = "netcdf_chunks"


@dataclass
class ChunkRunPartition(InputPartition):
    """A contiguous run of storage chunks read by one task: the run
    covers lines ``[start, start + n_lines)`` and the task yields only
    its lines inside the scan window ``[lo, hi)``.

    Bundling chunks into runs (instead of one partition per chunk) keeps
    the per-partition cost — task scheduling + one JVM<->Python worker
    round trip — amortized over many chunks: a 100 TB store has millions
    of chunks but the scan still plans O(cluster-parallelism) tasks."""

    path: str
    files: list  # chunk filenames in streamed-dim order
    start: int
    n_lines: int
    lo: int
    hi: int


def _plan_runs(path: str, chunks, lo: int, hi: int, target: int) -> list:
    """Bundle the chunks that meet ``[lo, hi)`` into contiguous runs of
    about equal line counts, at most ``target`` of them (one wave)."""
    survivors = [c for c in chunks if c.start + c.n_lines > lo and c.start < hi]
    if hi <= lo or not survivors:
        return []
    total = sum(c.n_lines for c in survivors)
    per_run = -(-total // max(1, min(len(survivors), target)))  # ceil
    out: list[ChunkRunPartition] = []
    run: list[ChunkInfo] = []
    n = 0
    for c in survivors:
        run.append(c)
        n += c.n_lines
        if n >= per_run or c is survivors[-1]:
            files = [r.file for r in run]
            out.append(ChunkRunPartition(path, files, run[0].start, n, lo, hi))
            run, n = [], 0
    return out


def _read_run(part: ChunkRunPartition, columns: list, cells: int):
    """Concatenate the run's chunk files into large Arrow batches before
    crossing to the JVM (per-batch ingestion overhead is fixed, so
    fewer, bigger batches win). Rows are stored line-major, so a run
    that crosses the window is cut to it with one zero-copy slice; a run
    inside the window is not touched."""
    if not part.files:
        return
    table = pa.concat_tables(
        pq.ParquetFile(os.path.join(part.path, f)).read(columns=columns)
        for f in part.files
    ).combine_chunks()
    first = max(part.lo - part.start, 0)
    stop = min(part.hi - part.start, part.n_lines)
    if first > 0 or stop < part.n_lines:
        table = table.slice(first * cells, (stop - first) * cells)
    yield from table.to_batches(max_chunksize=1 << 20)


@dataclass
class ChunkCommitMessage(WriterCommitMessage):
    files: list  # [(filename, n_lines)]


def _spark_schema(store: ChunkStore) -> str:
    parts = [f"{store.streamed_dim}_idx long"]
    parts += [f"{d}_idx int" for d in store.fixed_dims]
    type_map = {
        "int8": "byte", "int16": "short", "int32": "int", "int64": "long",
        "float32": "float", "float64": "double",
    }
    parts += [f"{v} {type_map[dt]}" for v, dt in store.variables.items()]
    return ", ".join(parts)


class NetCDFChunkReader(IndexRangeReader):
    def __init__(
        self, path: str, schema: StructType, target_partitions: int | None = None
    ):
        # Spark pickles the reader into every task, so it keeps what
        # reading needs, not the store's chunk index (O(chunks) bytes)
        self.path = path
        self.columns = [f.name for f in schema.fields]
        store = ChunkStore.open(path)
        self._idx_col = f"{store.streamed_dim}_idx"
        self._cells = store.cells_per_line
        self.lo, self.hi = 0, store.extent
        self.target_partitions = _target(target_partitions)

    def partitions(self):
        # Spark requires >= 1 partition; an empty run reads nothing
        return _plan_runs(
            self.path, ChunkStore.open(self.path).list_chunks(), self.lo,
            self.hi, self.target_partitions,
        ) or [ChunkRunPartition(self.path, [], 0, 0, self.lo, self.hi)]

    def read(self, partition: ChunkRunPartition):
        yield from _read_run(partition, self.columns, self._cells)


class NetCDFChunkWriter(DataSourceArrowWriter):
    def __init__(self, path: str, schema: StructType, overwrite: bool):
        self.path = path
        self.schema = schema
        self.overwrite = overwrite
        store = ChunkStore.open(path)
        self.chunk_lines = store.chunk_lines
        self.var_names = list(store.variables)
        self.var_dtypes = dict(store.variables)
        self.line_shape = store.line_shape
        self.cells = store.cells_per_line
        self.streamed_dim = store.streamed_dim

    def write(self, iterator):
        """Task-level buffered append (reference A4-A6), Arrow path: each
        incoming RecordBatch's columns become NumPy arrays wholesale (no
        per-row Python), complete lines are buffered and emitted as one
        pending chunk file per `chunk_lines` lines; a partial-line tail
        is carried into the next batch. Incoming rows must be sorted by
        (streamed idx, fixed dims in C order) within the task."""
        pending: list[tuple[str, int]] = []
        idx_name = f"{self.streamed_dim}_idx"
        cells = self.cells

        carry_idx = np.empty(0, dtype=np.int64)
        carry: dict[str, np.ndarray] = {
            v: np.empty(0, dtype=self.var_dtypes[v]) for v in self.var_names
        }
        line_buf: dict[str, list[np.ndarray]] = {v: [] for v in self.var_names}
        n_buffered = 0

        def emit(final: bool):
            """Cut the buffered lines into pending chunk files of
            `chunk_lines` (plus, on the final call, the short rest) with
            one concatenation; keep what is left for the next batch."""
            nonlocal n_buffered
            flat = {v: np.concatenate(line_buf[v]) for v in self.var_names}
            n_out = n_buffered
            if not final:
                n_out -= n_buffered % self.chunk_lines
            for a in range(0, n_out, self.chunk_lines):
                b = min(a + self.chunk_lines, n_out)
                fname = f"pending-{uuid.uuid4().hex}.npz"
                np.savez(os.path.join(self.path, fname), **{
                    v: flat[v][a * cells: b * cells].reshape(
                        (b - a, *self.line_shape)
                    )
                    for v in self.var_names
                })
                pending.append((fname, b - a))
            for v in self.var_names:
                line_buf[v] = [flat[v][n_out * cells:]]
            n_buffered -= n_out

        def consume(idx: np.ndarray, cols: dict[str, np.ndarray]):
            """Buffer all complete lines in (idx, cols); return the tail."""
            nonlocal n_buffered
            n_lines = len(idx) // cells
            if n_lines:
                head = idx[: n_lines * cells].reshape(n_lines, cells)
                if not (head == head[:, :1]).all():
                    raise ValueError(
                        "rows of one line are not contiguous: writer input "
                        "must be sorted by (streamed idx, fixed dims)"
                    )
                for v in self.var_names:
                    line_buf[v].append(
                        np.ascontiguousarray(
                            cols[v][: n_lines * cells], dtype=self.var_dtypes[v]
                        )
                    )
                n_buffered += n_lines
                if n_buffered >= self.chunk_lines:
                    emit(final=False)
            tail = len(idx) - n_lines * cells
            return idx[len(idx) - tail:], {
                v: cols[v][len(idx) - tail:] for v in self.var_names
            }

        for batch in iterator:
            d = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            idx = np.concatenate([carry_idx, d[idx_name].to_numpy()])
            cols = {
                v: np.concatenate(
                    [carry[v], d[v].to_numpy(zero_copy_only=False)]
                )
                for v in self.var_names
            }
            carry_idx, carry = consume(idx, cols)
        if len(carry_idx):
            raise ValueError(
                f"task input ended mid-line: {len(carry_idx)} of {cells} "
                "cells for the final line"
            )
        if n_buffered:
            emit(final=True)
        return ChunkCommitMessage(files=pending)

    def commit(self, messages):
        """Job commit: deterministically order task outputs, assign global
        line offsets, convert pending blocks into chunk files, publish
        meta atomically (reference A6/A7 flush+close). In overwrite mode
        the existing chunks are dropped HERE, not in write(): tasks may
        retry/speculate, and the store must stay intact if the job fails
        before commit. Every new chunk file is written before the one
        meta save that lists it; replaced chunk files are removed only
        after it, so a reader sees the old store or the new one."""
        store = ChunkStore.open(self.path)
        replaced: list[ChunkInfo] = []
        if self.overwrite:
            replaced, store.chunks = store.chunks, []
        pending = [fname for msg in messages for fname, _n in msg.files]
        for fname in pending:
            with np.load(os.path.join(self.path, fname)) as z:
                block = {v: z[v] for v in self.var_names}
            store.chunks.append(
                store._write_chunk(block, len(store.chunks), store.extent)
            )
        store._save_meta()
        for fname in [c.file for c in replaced] + pending:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.path, fname))

    def abort(self, messages):
        for msg in messages:
            if msg is None:
                continue
            for fname, _n in msg.files:
                try:
                    os.remove(os.path.join(self.path, fname))
                except OSError:
                    pass


class NetCDFChunkArrowStreamReader(DataSourceStreamReader):
    """Partition-planned Arrow tail of a growing chunk store. Offset =
    UNLIMITED-dim extent; each microbatch's window is planned and read
    by the batch scan's run planner and run reader. Planning a trigger
    lists chunk metadata and reads no data."""

    def __init__(
        self, path: str, schema: StructType, target_partitions=None
    ):
        self.path = path
        self.columns = [f.name for f in schema.fields]
        self._cells = ChunkStore.open(path).cells_per_line
        self.target_partitions = _target(target_partitions)

    def initialOffset(self) -> dict:
        return {"line": 0}

    def latestOffset(self) -> dict:
        return {"line": ChunkStore.open(self.path).extent}

    def partitions(self, start: dict, end: dict):
        return _plan_runs(
            self.path, ChunkStore.open(self.path).list_chunks(),
            start["line"], end["line"], self.target_partitions,
        )

    def read(self, partition: ChunkRunPartition):
        yield from _read_run(partition, self.columns, self._cells)


class NetCDFChunkDataSource(DataSource):
    """spark.read.format("netcdf_chunks").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return _spark_schema(ChunkStore.open(self.options["path"]))

    def reader(self, schema: StructType) -> DataSourceReader:
        tp = self.options.get("target_partitions")
        return NetCDFChunkReader(
            self.options["path"], schema, int(tp) if tp else None
        )

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return NetCDFChunkWriter(self.options["path"], schema, overwrite)

    def streamReader(self, schema: StructType):
        tp = self.options.get("tail_partitions")
        return NetCDFChunkArrowStreamReader(
            self.options["path"], schema, int(tp) if tp else None
        )


def register(spark) -> None:
    spark.dataSource.register(NetCDFChunkDataSource)


def read_native(spark, path: str):
    """Batch-scan a chunk store through Spark's NATIVE parquet reader.

    The store's chunks are parquet files with every column (index columns
    included) materialized, so a batch read does not need the Python
    DataSource at all: handing the committed chunk-file list to
    ``spark.read.parquet`` keeps the whole scan JVM-side — vectorized
    parquet decode, whole-stage codegen, row-group min/max pruning on the
    streamed-dim index — with zero JVM<->Python crossings. Measured at the
    c1 bench shape (4.2M cells x 2 vars) this runs at the single-process
    pyarrow floor (~0.35 s) vs ~0.65 s for the tuned Python-DataSource
    path; at 100 TB it is the only sane batch path.

    The file list comes from the meta sidecar, NOT a glob: orphan chunk
    files from an aborted job are invisible until commit publishes them,
    and the native path must honor the same visibility rule (A7).

    The Python DataSource remains the protocol surface — buffered chunked
    writes (A4-A7), streaming tail (A14), and partition-granular pushdown
    pruning for chunk-aligned task placement — and the round-trip tests
    assert this path returns row-identical results to it.
    """
    store = ChunkStore.open(path)
    committed = {c.file for c in store.list_chunks()}
    if not committed:
        return spark.createDataFrame([], _spark_schema(store))
    on_disk = {
        f for f in os.listdir(path)
        if f.startswith("chunk-") and f.endswith(".parquet")
    }
    reader = spark.read.schema(_spark_schema(store))
    if on_disk == committed:
        # fast path: one root directory, one driver-side listing; Spark
        # also bins the many small chunk files into maxPartitionBytes-sized
        # tasks. Passing N explicit roots instead costs O(N) driver-side
        # path qualification (~0.65 s at 256 chunks — measured).
        return reader.option("pathGlobFilter", "chunk-*.parquet").parquet(path)
    # orphans present (aborted-job debris): pin the committed list
    return reader.parquet(*(os.path.join(path, f) for f in sorted(committed)))
