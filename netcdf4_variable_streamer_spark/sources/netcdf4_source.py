"""Spark DataSource over real NetCDF-4 (= HDF5) files (hdf5lite codec).

The codec adapter for :mod:`records_source`: the planning, pushdown,
Arrow assembly and streaming tail are shared with the NetCDF-3 source.
This module adds the HDF5 opener and the netCDF-4 types the classic
format lacks — NC_VLEN (array columns), NC_COMPOUND (struct columns),
NC_OPAQUE (binary) and variable-length strings. A record variable is
read with a chunk-pruned slab read (``NetCDF4View.read_records`` touches
only the chunks that intersect the range, inflating shuffle/deflate per
covering chunk).

Streaming tail: tail-mode files (``create_netcdf4_tail``) grow within a
preallocated one-record-per-chunk capacity — append pwrites the record
chunks and publishes an 8-byte dataspace-extent patch LAST, so the
tail's offset (the current extent) never exposes half-published
records. Growth past the preallocation rewrites the chunk B-trees
append-only with amortized doubling (up to 65000 records per file on a
single v1 node); beyond that, archives chunk into capacity-sized files
and use the directory dataset.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from netcdf4_variable_streamer_spark.sources.hdf5lite import NetCDF4View
from netcdf4_variable_streamer_spark.sources.records_source import (
    _NP_SPARK,
    RecordDataSource,
    _ddl_name,
    _np_key,
)

FORMAT4_NAME = "netcdf4"


def _compound_spark(var_name: str, dtype: np.dtype) -> str:
    """Structured (NC_COMPOUND) dtype -> Spark struct<...> DDL. Member
    mapping mirrors the scalar columns: numerics widen unsigned the
    same way, fixed strings (S<n>) decode to string, 1-D array members
    become array<...>; anything else refuses loudly."""
    parts = []
    for m in dtype.names:
        fdt = dtype.fields[m][0]
        if fdt.subdtype is not None:
            base, shape = fdt.subdtype
            bkey = _np_key(base)
            if len(shape) != 1 or bkey not in _NP_SPARK:
                raise ValueError(
                    f"compound member {var_name}.{m}: array member "
                    f"{base}{shape} has no Spark mapping"
                )
            parts.append(f"{_ddl_name(m)}:array<{_NP_SPARK[bkey][0]}>")
        elif fdt.kind == "O":
            seqs = dict(
                (dtype.metadata or {}).get("vlen_seq_members", ())
            )
            if m in seqs:
                # NC_VLEN-of-numeric member -> array<T>
                bkey = _np_key(np.dtype(seqs[m]))
                parts.append(
                    f"{_ddl_name(m)}:array<{_NP_SPARK[bkey][0]}>"
                )
            else:
                # NC_STRING member (resolved through the global
                # heap), object-reference member (referenced path) or
                # region-reference member (RegionRef string form) —
                # all surface as string
                parts.append(f"{_ddl_name(m)}:string")
        elif fdt.kind == "S":
            parts.append(f"{_ddl_name(m)}:string")
        else:
            key = _np_key(fdt)
            if key not in _NP_SPARK:
                raise ValueError(
                    f"compound member {var_name}.{m}: dtype {fdt} has "
                    "no Spark mapping"
                )
            parts.append(f"{_ddl_name(m)}:{_NP_SPARK[key][0]}")
    return f"struct<{','.join(parts)}>"


def _compound_arrow(flat: np.ndarray) -> "pa.StructArray":
    """A flat structured-record array -> Arrow StructArray with the
    same member conversions as scalar columns (unsigned widening,
    uint64 -> decimal128(20,0), S<n> -> str, subarray -> list)."""
    children, names = [], []
    for m in flat.dtype.names:
        fdt = flat.dtype.fields[m][0]
        col = flat[m]
        if fdt.subdtype is not None:
            base = fdt.subdtype[0]
            wdt = np.dtype(_NP_SPARK[_np_key(base)][1])
            child = pa.array(list(col.astype(wdt, copy=False)))
            if wdt == np.dtype("u8"):
                # match the declared array<decimal(20,0)> (scalar u8
                # members widen the same way below)
                child = child.cast(pa.list_(pa.decimal128(20, 0)))
        elif fdt.kind == "S":
            child = pa.array(
                [b.decode("utf-8", "replace") for b in col.tolist()]
            )
        elif fdt.kind == "O":
            seqs = dict(
                (flat.dtype.metadata or {}).get("vlen_seq_members", ())
            )
            if m in seqs:
                # NC_VLEN-of-numeric member: object cells of
                # variable-length arrays -> one list<...> build
                base = np.dtype(seqs[m])
                wdt = np.dtype(_NP_SPARK[_np_key(base)][1])
                lens = np.fromiter(
                    (len(c) for c in col), dtype=np.int64,
                    count=col.shape[0],
                )
                flatv = (
                    np.concatenate(
                        [np.asarray(c, dtype=base) for c in col]
                    )
                    if int(lens.sum())
                    else np.empty(0, dtype=base)
                )
                offsets = np.zeros(col.shape[0] + 1, dtype=np.int32)
                np.cumsum(lens, out=offsets[1:])
                child = pa.ListArray.from_arrays(
                    pa.array(offsets, pa.int32()),
                    pa.array(flatv.astype(wdt, copy=False)),
                )
                if child.type == pa.list_(pa.uint64()):
                    child = child.cast(pa.list_(pa.decimal128(20, 0)))
            elif m in dict.fromkeys(
                (flat.dtype.metadata or {}).get("regref_members", ())
            ):
                # region-reference member: RegionRef cells
                # -> their deterministic string form, None stays null
                child = pa.array(
                    [None if c is None else str(c) for c in col],
                    pa.string(),
                )
            else:
                # NC_STRING member: already python str from the heap;
                # object-reference members are already path str/None
                child = pa.array(col.tolist(), pa.string())
        else:
            child = pa.array(
                np.ascontiguousarray(col).astype(
                    np.dtype(_NP_SPARK[_np_key(fdt)][1]), copy=False
                )
            )
            if child.type == pa.uint64():
                child = child.cast(pa.decimal128(20, 0))
        children.append(child)
        names.append(m)
    return pa.StructArray.from_arrays(children, names=names)


def _vlen_compound_arrow(
    cells: np.ndarray, base: np.dtype
) -> "pa.ListArray":
    """NC_VLEN-of-compound cells (object array of structured arrays)
    -> Arrow list<struct<...>>: one concatenation + one StructArray
    build for the whole batch, no per-cell Arrow calls."""
    lens = np.fromiter(
        (len(c) for c in cells), dtype=np.int64, count=cells.shape[0]
    )
    total = int(lens.sum())
    flat = (
        np.concatenate([np.asarray(c, dtype=base) for c in cells])
        if total
        else np.empty(0, dtype=base)
    )
    offsets = np.zeros(cells.shape[0] + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), _compound_arrow(flat)
    )


class NetCDF4DataSource(RecordDataSource):
    """spark.read.format("netcdf4").option("path", file).load() — a
    NetCDF-4 file or a directory of them (options: see
    :mod:`records_source`)."""

    EXTS = (".nc", ".nc4", ".h5", ".hdf5")
    open_file = NetCDF4View

    @classmethod
    def name(cls) -> str:
        return FORMAT4_NAME

    @staticmethod
    def var_dims(f, x) -> tuple:
        return x.dims

    @classmethod
    def column_type(cls, path, x, decode_cf_time, mask_and_scale):
        if x.vlen_base is not None:
            if x.vlen_base.names:
                # NC_VLEN of NC_COMPOUND -> array<struct<...>>: cells
                # are variable-length record sequences
                return f"array<{_compound_spark(x.name, x.vlen_base)}>"
            # NC_VLEN of a numeric base -> array column; unsigned bases
            # widen like their scalar columns, except u8 (no exact
            # array-of-decimal path) which refuses loudly
            bkey = _np_key(x.vlen_base)
            if bkey not in _NP_SPARK or bkey == "u8":
                raise ValueError(
                    f"{path}: vlen variable {x.name} base "
                    f"{x.vlen_base} has no Spark array mapping"
                )
            return f"array<{_NP_SPARK[bkey][0]}>"
        if x.dtype.names:
            return _compound_spark(x.name, x.dtype)  # NC_COMPOUND
        if x.dtype.kind == "V":
            return "binary"  # NC_OPAQUE: fixed-size raw bytes per cell
        return super().column_type(path, x, decode_cf_time, mask_and_scale)

    @classmethod
    def column(cls, f, x, lo, hi, decode_cf_time, mask_and_scale):
        # compound, vlen and opaque cells carry no scalar _FillValue
        # semantics, so they have no NULL mask
        if x.vlen_base is not None:
            cells = f.read_records(x.name, lo, hi).reshape(-1)
            if x.vlen_base.names:
                return _vlen_compound_arrow(cells, x.vlen_base), None
            # variable-length vectors -> Arrow list column, each cell
            # widened like the scalar mapping
            wdt = np.dtype(_NP_SPARK[_np_key(x.vlen_base)][1])
            return [c.astype(wdt, copy=False) for c in cells], None
        if x.dtype.names:
            return _compound_arrow(
                f.read_records(x.name, lo, hi).reshape(-1)
            ), None
        if x.dtype.kind == "V":
            # one zero-copy fixed-size-binary build over the raw cell
            # bytes, cast to the schema's variable binary
            flat = np.ascontiguousarray(
                f.read_records(x.name, lo, hi).reshape(-1)
            )
            fsb = pa.Array.from_buffers(
                pa.binary(x.dtype.itemsize),
                flat.shape[0],
                [None, pa.py_buffer(flat.tobytes())],
            )
            return fsb.cast(pa.binary()), None
        return super().column(
            f, x, lo, hi, decode_cf_time, mask_and_scale
        )
