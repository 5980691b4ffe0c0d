"""Storage-agnostic chunk store + the reference's streaming surface.

This is the engine's re-expression of the reference library's data model
(SURVEY.md §1/§2 Table A — david-salac/NetCDF4-variable-streamer, a
~300-LoC wrapper that buffers line-wise writes to a NetCDF variable in a
MB-sized RAM block and flushes whole hyperslabs, plus generator-based
line/block reads; reconstructed behavior cited as [ref-pub]
netCDF4_streamer.py:~20-200, SURVEY §0 citation policy — the reference
checkout is empty this environment).

Because no NetCDF/HDF5 library exists here (SURVEY §7.1), the *model* is
preserved behind a storage protocol:

- ``ChunkStore``       — list/read/append chunks + dims/attrs metadata.
  Backend: a directory of long-form parquet chunk files + a JSON sidecar
  (semantically a NetCDF dataset: dims, UNLIMITED streamed dim, typed
  variables, attributes). A netCDF4 backend can implement the same
  protocol behind ``try: import netCDF4`` when the library exists.
- ``StreamedDataset``  — reference A1/A2/A14: open/create/append, DDL.
- ``StreamedVariable`` — reference A3-A10: chunk_size_mb-derived buffer,
  line/block streamed writes, flush-on-full + flush-on-close, lazy
  line/block read generators, axis transposition when the streamed dim
  is not axis 0.

The Spark DataSource (netcdf_source.py) rides the same ChunkStore: its
partitions are contiguous runs of whole storage chunks, one wave of
tasks — the reference's chunk-alignment optimization (A3/A6: storage
chunks == stream blocks) keeps chunk boundaries partition boundaries.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

META_NAME = "meta.json"

_DTYPES = {
    "int8": pa.int8(), "int16": pa.int16(), "int32": pa.int32(),
    "int64": pa.int64(), "float32": pa.float32(), "float64": pa.float64(),
}


@dataclass
class ChunkInfo:
    chunk_id: int
    start: int  # first line index along the streamed dim
    n_lines: int
    file: str


@dataclass
class ChunkStore:
    """Directory-of-parquet-chunks backend (long form, C order).

    Reference A15, storage encoding: the codec (``compression``, level)
    comes from the meta sidecar. Float variables are written PLAIN,
    without a dictionary: a chunk of measured floats holds about as many
    distinct values as cells, so a dictionary page plus its indices
    stores ~1.5x the raw bytes, and pyarrow drops a dictionary only past
    1 MiB, which a chunk column never reaches. Index columns and integer
    variables keep the dictionary, which RLE shrinks to a few hundred
    bytes per chunk. BYTE_STREAM_SPLIT would store floats smaller still
    but is not used: Spark's vectorized parquet reader rejects it, and
    ``netcdf_source.read_native`` scans chunks with that reader.
    """

    path: str
    dims: dict[str, int | None]  # name -> extent; None = UNLIMITED/streamed
    streamed_dim: str
    chunk_lines: int
    variables: dict[str, str]  # name -> numpy dtype string
    attrs: dict[str, str] = field(default_factory=dict)
    chunks: list[ChunkInfo] = field(default_factory=list)
    # reference A15: compression settings forwarded to the storage codec
    # (zlib level -> parquet codec/level); recorded in the meta sidecar so
    # readers need no configuration.
    compression: str = "snappy"
    compression_level: int | None = None

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        path: str,
        dims: dict[str, int | None],
        streamed_dim: str,
        chunk_lines: int,
        variables: dict[str, str],
        attrs: dict[str, str] | None = None,
        compression: str = "snappy",
        compression_level: int | None = None,
    ) -> "ChunkStore":
        streamed = [d for d, n in dims.items() if n is None]
        if streamed != [streamed_dim]:
            raise ValueError(
                f"exactly the streamed dim must be UNLIMITED; got {streamed}"
            )
        for v, dt in variables.items():
            if dt not in _DTYPES:
                raise ValueError(f"unsupported dtype {dt} for {v}")
        os.makedirs(path, exist_ok=True)
        store = cls(path, dict(dims), streamed_dim, chunk_lines,
                    dict(variables), dict(attrs or {}),
                    compression=compression,
                    compression_level=compression_level)
        store._save_meta()
        return store

    @classmethod
    def open(cls, path: str) -> "ChunkStore":
        with open(os.path.join(path, META_NAME)) as f:
            m = json.load(f)
        store = cls(
            path,
            {k: v for k, v in m["dims"].items()},
            m["streamed_dim"],
            m["chunk_lines"],
            m["variables"],
            m.get("attrs", {}),
            [ChunkInfo(**c) for c in m["chunks"]],
            compression=m.get("compression", "snappy"),
            compression_level=m.get("compression_level"),
        )
        return store

    def _save_meta(self) -> None:
        tmp = os.path.join(self.path, f".{META_NAME}.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "dims": self.dims,
                    "streamed_dim": self.streamed_dim,
                    "chunk_lines": self.chunk_lines,
                    "variables": self.variables,
                    "attrs": self.attrs,
                    "compression": self.compression,
                    "compression_level": self.compression_level,
                    "chunks": [vars(c) for c in self.chunks],
                },
                f,
            )
        os.replace(tmp, self.path + "/" + META_NAME)

    # -- geometry ----------------------------------------------------------
    @property
    def fixed_dims(self) -> dict[str, int]:
        return {d: n for d, n in self.dims.items() if n is not None}

    @property
    def line_shape(self) -> tuple[int, ...]:
        return tuple(self.fixed_dims.values())

    @property
    def cells_per_line(self) -> int:
        return int(np.prod(self.line_shape)) if self.line_shape else 1

    @property
    def extent(self) -> int:
        """Current length of the UNLIMITED dim (reference A14 cursor)."""
        return max((c.start + c.n_lines for c in self.chunks), default=0)

    def index_columns(self) -> list[str]:
        return [f"{self.streamed_dim}_idx"] + [
            f"{d}_idx" for d in self.fixed_dims
        ]

    def arrow_schema(self) -> pa.Schema:
        fields = [pa.field(f"{self.streamed_dim}_idx", pa.int64())] + [
            pa.field(f"{d}_idx", pa.int32()) for d in self.fixed_dims
        ]
        fields += [pa.field(v, _DTYPES[dt]) for v, dt in self.variables.items()]
        return pa.schema(fields)

    # -- chunk I/O ---------------------------------------------------------
    def list_chunks(self) -> list[ChunkInfo]:
        return list(self.chunks)

    def read_chunk(self, chunk: ChunkInfo, columns: list[str] | None = None
                   ) -> pa.Table:
        # ParquetFile, not pq.read_table: read_table goes through
        # pyarrow.dataset, which imports pandas (~0.13 s on the first
        # read in a fresh Python worker)
        return pq.ParquetFile(
            os.path.join(self.path, chunk.file)
        ).read(columns=columns)

    def append_block(self, block_by_var: dict[str, np.ndarray]) -> ChunkInfo:
        """Append a (n_lines, *line_shape) block per variable as ONE chunk
        file — one hyperslab write per buffer fill (reference A6) — and
        publish it in the meta sidecar."""
        info = self._append_chunk(block_by_var)
        self._save_meta()
        return info

    def _append_chunk(self, block_by_var: dict[str, np.ndarray]) -> ChunkInfo:
        """Write the next chunk file and add it to the in-memory index;
        readers see it once the caller saves the meta sidecar."""
        info = self._write_chunk(block_by_var, len(self.chunks), self.extent)
        self.chunks.append(info)
        return info

    def _write_chunk(self, block_by_var: dict[str, np.ndarray],
                     chunk_id: int, start: int) -> ChunkInfo:
        """Write one block as chunk file `chunk_id` holding lines from
        `start` on. The file stays invisible until the caller lists it
        in the meta sidecar."""
        n_lines = next(iter(block_by_var.values())).shape[0]
        idx_grids = np.meshgrid(
            np.arange(start, start + n_lines, dtype=np.int64),
            *[np.arange(n, dtype=np.int32) for n in self.line_shape],
            indexing="ij",
        )
        cols: dict[str, np.ndarray] = {}
        names = self.index_columns()
        for name, grid in zip(names, idx_grids):
            cols[name] = grid.reshape(-1)
        for v, dt in self.variables.items():
            arr = np.asarray(block_by_var[v], dtype=dt)
            if arr.shape != (n_lines, *self.line_shape):
                raise ValueError(
                    f"{v}: block shape {arr.shape} != {(n_lines, *self.line_shape)}"
                )
            cols[v] = arr.reshape(-1)
        fname = f"chunk-{chunk_id:05d}-{uuid.uuid4().hex[:8]}.parquet"
        table = pa.Table.from_pydict(cols, schema=self.arrow_schema())
        pq.write_table(
            table,
            os.path.join(self.path, fname),
            compression=self.compression,
            compression_level=self.compression_level,
            # not BYTE_STREAM_SPLIT for floats: Spark 4.1's vectorized
            # reader fails on it ("Unsupported encoding:
            # BYTE_STREAM_SPLIT"), which would break read_native
            use_dictionary=names + [
                v for v, dt in self.variables.items()
                if not dt.startswith("float")
            ],
        )
        return ChunkInfo(chunk_id, start, n_lines, fname)


class StreamedVariable:
    """Reference A3-A10: buffered streamed writes + generator reads.

    ``dimensions`` is the variable's logical axis order; the streamed dim
    may be any axis (A10: data is transposed to streamed-first for
    storage and transposed back on read).
    """

    def __init__(self, store: ChunkStore, dimensions: tuple[str, ...],
                 chunk_size_mb: float | None = None):
        self.store = store
        self.dimensions = tuple(dimensions)
        if store.streamed_dim not in self.dimensions:
            raise ValueError("variable must include the streamed dim")
        self.streamed_axis = self.dimensions.index(store.streamed_dim)
        # logical axes in storage order (streamed dim, then fixed dims in
        # store order), and the inverse permutation for reads
        self._to_storage = tuple(
            self.dimensions.index(d)
            for d in (store.streamed_dim, *store.fixed_dims)
        )
        self._from_storage = tuple(np.argsort(self._to_storage))
        if chunk_size_mb is not None:
            # reference A3: lines_per_buffer = chunk_size_mb·2^20 // line bytes
            line_bytes = sum(
                np.dtype(dt).itemsize * store.cells_per_line
                for dt in store.variables.values()
            )
            self.lines_per_buffer = max(
                1, int(chunk_size_mb * 2**20) // max(line_bytes, 1)
            )
        else:
            self.lines_per_buffer = store.chunk_lines
        self._buffer: dict[str, np.ndarray] = {
            v: np.empty((self.lines_per_buffer, *store.line_shape), dtype=dt)
            for v, dt in store.variables.items()
        }
        self._cursor = 0  # lines buffered, not yet flushed

    # -- write path (A4/A5/A6/A7) -----------------------------------------
    def streamline(self, values_by_var: dict[str, np.ndarray]) -> None:
        """Append ONE line along the streamed dim (reference A4)."""
        self.stream_block({v: self._as_block(values_by_var[v])
                           for v in self.store.variables})

    def _as_block(self, line) -> np.ndarray:
        """A logical (N-1)-d line as a one-line logical block."""
        line = np.asarray(line)
        if line.ndim != len(self.dimensions) - 1:
            raise ValueError(
                f"line must have {len(self.dimensions) - 1} dims, got {line.ndim}"
            )
        return np.expand_dims(line, self.streamed_axis)

    def stream_block(self, block_by_var: dict[str, np.ndarray]) -> None:
        """Append k lines at once (reference A5): input shaped with the
        variable's logical axis order, streamed dim at its logical axis.
        The buffer fills by slice copies and is written as a chunk file
        each time it is full; the meta sidecar that lists the new chunks
        is saved once, after the last of them is on disk."""
        blocks = {
            v: np.transpose(np.asarray(block_by_var[v]), self._to_storage)
            for v in self.store.variables
        }
        n = next(iter(blocks.values())).shape[0]
        n_chunks = len(self.store.chunks)
        i = 0
        while i < n:
            k = min(n - i, self.lines_per_buffer - self._cursor)
            for v, b in blocks.items():
                self._buffer[v][self._cursor: self._cursor + k] = b[i: i + k]
            self._cursor += k
            i += k
            if self._cursor == self.lines_per_buffer:
                self._write_buffer()
        if len(self.store.chunks) > n_chunks:
            self.store._save_meta()

    def flush(self) -> None:
        """One hyperslab write of buffer[0:cursor] (reference A6),
        published in the meta sidecar."""
        if self._cursor == 0:
            return
        self._write_buffer()
        self.store._save_meta()

    def _write_buffer(self) -> None:
        # the chunk file is written before this returns, so the buffer
        # is free for reuse without a copy
        self.store._append_chunk(
            {v: self._buffer[v][: self._cursor] for v in self.store.variables}
        )
        self._cursor = 0

    # -- read path (A8/A9/A10) --------------------------------------------
    def yield_blocks(self):
        """Lazily yield (start_line, {var: block}), one block per storage
        chunk, with blocks in the variable's LOGICAL axis order
        (reference A9; A10 transpose-back)."""
        for chunk in self.store.list_chunks():
            tbl = self.store.read_chunk(chunk)
            yield chunk.start, {
                v: np.transpose(
                    tbl.column(v).to_numpy(zero_copy_only=False).reshape(
                        (chunk.n_lines, *self.store.line_shape)
                    ).astype(dt),
                    self._from_storage,
                )
                for v, dt in self.store.variables.items()
            }

    def yield_lines(self):
        """Lazily yield (line_idx, {var: (N-1)-d line}) (reference A8)."""
        for start, blocks in self.yield_blocks():
            n = next(iter(blocks.values())).shape[self.streamed_axis]
            for i in range(n):
                yield start + i, {
                    v: np.take(b, i, axis=self.streamed_axis)
                    for v, b in blocks.items()
                }


class StreamedDataset:
    """Reference A1/A2/A3/A14: open/create a chunked dataset, declare
    dimensions, create streamed variables, reopen for append."""

    def __init__(self, path: str, mode: str = "r"):
        self.path = path
        self.mode = mode
        if mode == "r" or mode == "a":
            self.store: ChunkStore | None = ChunkStore.open(path)
        elif mode == "w":
            self.store = None  # defined by create_streamed_variables
            self._pending_dims: dict[str, int | None] = {}
        else:
            raise ValueError(f"mode must be r/w/a, got {mode}")
        self._variables: list[StreamedVariable] = []

    # A2 — DDL
    def create_dimension(self, name: str, size: int | None) -> None:
        if self.mode != "w":
            raise ValueError("dimensions can only be declared in 'w' mode")
        self._pending_dims[name] = size

    # A3 — create typed streamed variables sharing one buffer geometry
    def create_streamed_variables(
        self,
        variables: dict[str, str],
        dimensions: tuple[str, ...],
        chunk_size_mb: float = 1.0,
        attrs: dict[str, str] | None = None,
    ) -> StreamedVariable:
        if self.mode == "w" and self.store is None:
            streamed = [d for d, n in self._pending_dims.items() if n is None]
            if len(streamed) != 1:
                raise ValueError("exactly one UNLIMITED dimension required")
            ordered = {
                d: self._pending_dims[d]
                for d in [streamed[0]]
                + [x for x in dimensions if self._pending_dims.get(x) is not None]
            }
            # chunk_lines recorded in meta = lines per buffer (A3 alignment)
            probe_line_bytes = sum(
                np.dtype(dt).itemsize
                * int(np.prod([n for n in ordered.values() if n]) or 1)
                for dt in variables.values()
            )
            chunk_lines = max(
                1, int(chunk_size_mb * 2**20) // max(probe_line_bytes, 1)
            )
            self.store = ChunkStore.create(
                self.path, ordered, streamed[0], chunk_lines, variables,
                attrs,
            )
        assert self.store is not None
        var = StreamedVariable(self.store, dimensions, chunk_size_mb)
        self._variables.append(var)
        return var

    def variable(self, dimensions: tuple[str, ...]) -> StreamedVariable:
        """Reference A14: reopen and continue (cursor = current extent)."""
        assert self.store is not None
        var = StreamedVariable(self.store, dimensions)
        self._variables.append(var)
        return var

    # A12 — attributes
    def set_attr(self, key: str, value: str) -> None:
        assert self.store is not None
        self.store.attrs[key] = value
        self.store._save_meta()

    def get_attr(self, key: str) -> str:
        assert self.store is not None
        return self.store.attrs[key]

    # A7 — close flushes every open streamer buffer
    def close(self) -> None:
        for v in self._variables:
            v.flush()
