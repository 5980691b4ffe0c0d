"""Record-container Spark DataSource shared by the NetCDF-3 and NetCDF-4
sources.

Both containers stream one dataset along its record (UNLIMITED)
dimension, so planning, pushdown, Arrow assembly and the streaming tail
live here once. A container is a subclass of :class:`RecordDataSource`
that supplies the file opener, the member-file extensions, a variable's
dimension names and, where the container has types beyond text and
numbers, the per-variable Spark type and column builder
(``netcdf3_source``, ``netcdf4_source``).

- Record-range partitions. The driver reads only file headers (the
  KB-sized NetCDF-3 header, the HDF5 metadata) and splits the record
  range of one file, or of a directory of files concatenated along the
  record dimension in filename order, into one wave of contiguous
  :class:`RecordRangePartition` runs.
- Pushdown. ``pushFilters`` narrows the record range on comparisons
  and IN lists over the ``<recdim>_idx`` column before partitioning.
  Every filter is handed back, so Spark still evaluates it row by row.
  The chunk-store reader (``netcdf_source``) shares it
  (:class:`IndexRangeReader`).
- Arrow batches. Executors read each selected variable with one
  record-range read and explode it with NumPy to long form: record
  index, fixed-dimension indexes, variables. Pruned variables are never
  read; ``_FillValue`` cells become NULL.
- Streaming tail. The offset of a file is its published record count
  (``{"rec": n}``); the offset of a directory pins every member's count
  (``{"files": [...], "counts": [...]}``). Writers publish the count
  last, after the record bytes are on disk, so a planned range covers
  only complete records. In a directory only the newest member may
  grow, and the tail checks that at plan time.

Options: ``path`` (a file or a directory), ``target_partitions``
(batch partition count), ``tail_partitions`` (partitions per
microbatch), ``decode_cf_time`` and ``mask_and_scale`` (batch scans
only) and ``schema_evolution=union`` (directories whose later members
add variables; a member without a variable reads NULL for it).

Spark caches a Python source's read plan per loaded DataFrame and
re-plans only when a query pushes filters, so reusing one DataFrame for
a filtered and then an unfiltered query reuses the narrowed partitions.
Call ``load()`` once per query.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from netcdf4_variable_streamer_spark.sources.tailcache import (
    FrozenMemberCounts,
)

# ---------------------------------------------------------------------------
# CF conventions (container-neutral: they read only ``attrs``)
# ---------------------------------------------------------------------------


def _mask_scale(v):
    """CF packing spec -> ``(scale, offset)`` floats, or None if the
    variable carries neither ``scale_factor`` nor ``add_offset``.
    Unpacking is ``packed * scale + offset`` (the NUG convention;
    netCDF4-python's ``set_auto_maskandscale`` applies it by default,
    so the reference's users see UNPACKED values unless they opt
    out)."""
    sf = v.attrs.get("scale_factor")
    ao = v.attrs.get("add_offset")
    if sf is None and ao is None:
        return None
    scale = float(np.asarray(sf).reshape(())) if sf is not None else 1.0
    off = float(np.asarray(ao).reshape(())) if ao is not None else 0.0
    return scale, off


def _invalid_mask(v, flat) -> "np.ndarray | None":
    """netCDF auto-mask semantics beyond ``_FillValue``: cells equal
    to ``missing_value`` (scalar or list) or outside
    ``valid_range`` / ``valid_min`` / ``valid_max`` are missing data.
    All comparisons happen on the PACKED values cast to the
    variable's dtype (the NUG rule: validity is judged before
    unpacking)."""
    m = None
    mv = v.attrs.get("missing_value")
    if mv is not None:
        for x in np.atleast_1d(np.asarray(mv)).astype(
            flat.dtype.newbyteorder("=")
        ):
            m = _or(m, flat == x)
    vmin = vmax = None
    vr = v.attrs.get("valid_range")
    if vr is not None:
        a = np.asarray(vr).reshape(-1)
        vmin, vmax = a[0], a[-1]
    if v.attrs.get("valid_min") is not None:
        vmin = np.asarray(v.attrs["valid_min"]).reshape(())
    if v.attrs.get("valid_max") is not None:
        vmax = np.asarray(v.attrs["valid_max"]).reshape(())
    dt = flat.dtype.newbyteorder("=")
    if vmin is not None:
        m = _or(m, flat < np.asarray(vmin).astype(dt))
    if vmax is not None:
        m = _or(m, flat > np.asarray(vmax).astype(dt))
    return m


def _or(a, b):
    """Union of two optional boolean masks."""
    if a is None:
        return b
    return a if b is None else a | b


_CF_UNIT_US = {
    "microseconds": 1,
    "milliseconds": 1_000,
    "seconds": 1_000_000,
    "minutes": 60_000_000,
    "hours": 3_600_000_000,
    "days": 86_400_000_000,
}
_CF_UNITS_RE = re.compile(
    r"^(microseconds|milliseconds|seconds|minutes|hours|days)\s+since\s+"
    r"(\d{4}-\d{2}-\d{2})(?:[ T](\d{2}:\d{2}:\d{2}))?$"
)


# Fixed-length CF calendars: every year has the same month lengths.
_CAL_MONTH_DAYS = {
    "noleap": [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
    "365_day": [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
    "all_leap": [31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
    "366_day": [31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
    "360_day": [30] * 12,
}

_US_DAY = 86_400_000_000


def _cf_time(v):
    """CF time decode spec if the variable carries a CF ``units``
    attribute ("<unit> since <date>"), else None:

    - ``("std", base_us, unit_us)`` — standard / gregorian /
      proleptic_gregorian calendars (epoch-microsecond arithmetic);
    - ``("cal", name, (y, m, d, second_of_day_us), unit_us)`` — the
      fixed-length calendars (noleap/365_day, all_leap/366_day,
      360_day): day counts advance in the SOURCE calendar, then each
      (y, m, d) renders field-wise as a timestamp_ntz; dates with no
      proleptic-Gregorian rendering (Feb 30, Feb 29 of a non-leap
      year) become NULL, the missing-data convention.

    NetCDF has no native timestamp type — time is numbers + this
    convention (SURVEY §1.2). Decoding is OPT-IN (option
    ``decode_cf_time``) because the reference's netCDF4 base class also
    returns raw numbers and leaves num2date to the caller. Calendars
    outside this set are left raw.
    """
    units = v.attrs.get("units")
    if not isinstance(units, str):
        return None
    m = _CF_UNITS_RE.match(units.strip())
    if not m:
        return None
    unit_us = _CF_UNIT_US[m.group(1)]
    cal = v.attrs.get("calendar")
    cal = cal if isinstance(cal, str) else "standard"
    if cal in ("standard", "gregorian", "proleptic_gregorian"):
        base = datetime.fromisoformat(
            m.group(2) + (" " + m.group(3) if m.group(3) else "")
        )
        base_us = int(
            (base - datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
        return "std", base_us, unit_us
    if cal in _CAL_MONTH_DAYS:
        y, mo, d = (int(x) for x in m.group(2).split("-"))
        sod = 0
        if m.group(3):
            hh, mm, ss = (int(x) for x in m.group(3).split(":"))
            sod = (hh * 3600 + mm * 60 + ss) * 1_000_000
        return "cal", cal, (y, mo, d, sod), unit_us
    return None  # unknown calendar: leave raw, caller decodes


def _days_from_civil(y, m, d):
    """Proleptic-Gregorian days since 1970-01-01 from field vectors
    (Howard Hinnant's public `days_from_civil` algorithm, floor-division
    form, vectorized)."""
    y = y.astype(np.int64) - (m <= 2)
    era = y // 400
    yoe = y - era * 400
    doy = (153 * ((m + 9) % 12) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _greg_days_in_month(y, m):
    dim = np.array([31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])[m - 1]
    leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    return np.where((m == 2) & leap, 29, dim)


def _decode_cf_values(cf, flat: np.ndarray):
    """(datetime64[us] values, null mask or None) for raw CF numbers."""
    if cf[0] == "std":
        _, base_us, unit_us = cf
        us = base_us + np.rint(
            flat.astype(np.float64) * unit_us
        ).astype(np.int64)
        return us.astype("datetime64[us]"), None
    _, cal, (y0, m0, d0, sod_us), unit_us = cf
    month_days = np.asarray(_CAL_MONTH_DAYS[cal], dtype=np.int64)
    cum = np.concatenate(([0], np.cumsum(month_days)))
    ylen = int(month_days.sum())
    total_us = (
        np.rint(flat.astype(np.float64) * unit_us).astype(np.int64) + sod_us
    )
    base_day = y0 * ylen + cum[m0 - 1] + (d0 - 1)
    abs_day = base_day + total_us // _US_DAY  # floor: negatives correct
    us_in_day = total_us % _US_DAY
    y = abs_day // ylen
    doy = abs_day % ylen
    m = np.searchsorted(cum, doy, side="right").astype(np.int64)
    d = doy - cum[m - 1] + 1
    us = _days_from_civil(y, m, d) * _US_DAY + us_in_day
    invalid = d > _greg_days_in_month(y, m)
    return us.astype("datetime64[us]"), (
        invalid if bool(invalid.any()) else None
    )


# ---------------------------------------------------------------------------
# Type mapping and column builders
# ---------------------------------------------------------------------------

# numpy dtype kind+size -> (Spark type, emitted numpy dtype). Spark has
# no unsigned integers, so unsigned types widen to the next signed type;
# uint64 has no signed integer container and maps to the exact
# DECIMAL(20,0) (SURVEY §1.2).
_NP_SPARK = {
    "i1": ("byte", "i1"),
    "i2": ("short", "i2"),
    "i4": ("int", "i4"),
    "i8": ("long", "i8"),
    "u1": ("short", "i2"),
    "u2": ("int", "i4"),
    "u4": ("long", "i8"),
    "u8": ("decimal(20,0)", "u8"),
    "f4": ("float", "f4"),
    "f8": ("double", "f8"),
}


def _np_key(dtype: np.dtype) -> str:
    return f"{dtype.kind}{dtype.itemsize}"


def _ddl_name(name: str) -> str:
    """Backtick-quote a field name for Spark DDL. Variable names may
    legally contain characters Spark's schema parser treats as syntax
    (spaces, ':', ',', '<'); unquoted they fail with a bare
    ParseException naming neither the variable nor the member."""
    return "`" + name.replace("`", "``") + "`"


def _is_char(x) -> bool:
    """netCDF text layout: one-byte chars with the string length as the
    variable's trailing dimension."""
    return x.dtype.kind == "S" and x.dtype.itemsize == 1


def _eff_shape(x) -> tuple:
    """Per-record cell shape with a char variable's trailing string
    length dimension folded into the string value (SURVEY §1.2 row
    S1)."""
    if _is_char(x) and x.shape:
        return x.shape[:-1]
    return x.shape


def _char_strings(block: np.ndarray, strlen: int) -> list:
    """An S1 block whose last axis is the char dim -> python strings.
    Trailing NULs are the classic format's text padding; the S-dtype
    tolist conversion strips them (netCDF4-python's chartostring
    semantics)."""
    n_cells = (
        int(block.size // strlen)
        if strlen
        else int(np.prod(block.shape[:-1], dtype=np.int64))
    )
    if strlen == 0:
        return [""] * n_cells
    flat = np.ascontiguousarray(block).reshape(n_cells, strlen)
    return [
        b.decode("utf-8", "replace")
        for b in flat.view(f"S{strlen}").ravel().tolist()
    ]


def _strings(block: np.ndarray, x) -> list:
    """A string block -> python strings, for all three encodings: S1
    with an explicit char dim, an S<n> element dtype, or variable-length
    strings the codec already decoded to str."""
    if x.dtype.kind == "O":
        return list(block.reshape(-1))
    if x.dtype.itemsize == 1:
        return _char_strings(block, x.shape[-1] if x.shape else 1)
    return [
        b.decode("utf-8", "replace") for b in block.reshape(-1).tolist()
    ]


def _numeric(x, flat: np.ndarray, decode_cf_time: bool, mask_and_scale: bool):
    """(values, NULL mask or None) for one numeric variable's cells.

    ``_FillValue`` cells are missing data (the masked-array semantics of
    the reference's netCDF4 base class). With ``mask_and_scale``,
    ``missing_value`` / valid-range cells are missing too and packed
    values unpack to float64; a CF time variable under
    ``decode_cf_time`` decodes to datetime64[us] and wins over
    unpacking. Otherwise values keep their width in native byte order
    (unsigned types widen to the declared signed type)."""
    mask = None
    fv = x.attrs.get("_FillValue")
    if fv is not None:
        mask = flat == np.asarray(fv).astype(x.dtype.newbyteorder("="))
    if mask_and_scale:
        mask = _or(mask, _invalid_mask(x, flat))
    cf = _cf_time(x) if decode_cf_time else None
    if cf is not None:
        vals, invalid = _decode_cf_values(cf, flat)
        return vals, _or(mask, invalid)
    ms = _mask_scale(x) if mask_and_scale else None
    if ms is not None:
        return flat.astype(np.float64) * ms[0] + ms[1], mask
    wdt = np.dtype(_NP_SPARK[_np_key(x.dtype)][1])
    return flat.astype(wdt, copy=False), mask


def _to_arrow(values, mask) -> pa.Array:
    """``pa.array(values, mask=mask)``, built straight from the buffers
    of an integer or float ndarray (``mask`` True = NULL, packed into a
    little-endian validity bitmap). ``pa.array`` on an ndarray goes
    through pyarrow's pandas shim, which imports pandas: about 0.13 s
    on the first read in a fresh Python worker. Other kinds (strings,
    times, lists) take ``pa.array``."""
    if not (isinstance(values, np.ndarray) and values.ndim == 1
            and values.dtype.kind in "iuf"):
        return pa.array(values, mask=mask)
    values = np.ascontiguousarray(
        values, dtype=values.dtype.newbyteorder("=")
    )
    validity = None
    if mask is not None and mask.any():
        validity = pa.py_buffer(np.packbits(~mask, bitorder="little"))
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(values.dtype), len(values),
        [validity, pa.py_buffer(values)],
    )


def _arrow_types(schema: StructType) -> dict:
    """Arrow type per column, computed on the driver: executors cannot
    parse Spark types without a session, and the union scan needs them
    to build typed all-NULL columns."""
    from pyspark.sql.pandas.types import to_arrow_type

    return {f.name: to_arrow_type(f.dataType) for f in schema.fields}


# ---------------------------------------------------------------------------
# Planning
# ---------------------------------------------------------------------------


@dataclass
class RecordRangePartition(InputPartition):
    path: str
    lo: int  # first record within THIS file (inclusive)
    hi: int  # last record within this file (exclusive)
    offset: int = 0  # global index of this file's record 0 (multi-file)


def _target(target_partitions) -> int:
    # one wave of tasks: each Python-source task pays a fixed
    # JVM<->Python setup cost, so more waves only add overhead
    return target_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _split(ranges, target: int) -> list:
    """Cut per-file record ranges ``[(path, lo, hi, offset)]`` into runs
    of one common length, so that their total splits into about
    ``target`` partitions."""
    total = sum(max(0, hi - lo) for _p, lo, hi, _o in ranges)
    if total == 0:
        return []
    per = -(-total // max(1, min(total, target)))  # ceil
    return [
        RecordRangePartition(p, r, min(r + per, hi), off)
        for p, lo, hi, off in ranges
        for r in range(lo, hi, per)
    ]


class IndexRangeReader(DataSourceReader):
    """Index-range pushdown shared by the record and chunk-store readers.

    A subclass sets ``_idx_col`` (the streamed-dim index column) and the
    window ``[lo, hi)`` to the whole extent; ``pushFilters`` narrows the
    window on comparisons and IN lists over that column, so planning can
    skip what lies outside it. Every filter is handed back: pruning is
    partition-granular, and Spark re-evaluates the predicates row by
    row."""

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            if getattr(f, "attribute", None) == (self._idx_col,) and hasattr(
                f, "value"
            ):
                v = f.value
                if isinstance(v, (list, tuple, set)):
                    # In filter (time_idx.isin(...)): prune to the
                    # value envelope; Spark re-checks membership
                    vals = [int(x) for x in v if x is not None]
                    if vals:
                        self.lo = max(self.lo, min(vals))
                        self.hi = min(self.hi, max(vals) + 1)
                    yield f
                    continue
                v = int(v)
                if isinstance(f, EqualTo):
                    self.lo, self.hi = max(self.lo, v), min(self.hi, v + 1)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, v)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, v)
                elif isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, v + 1)
            yield f  # Spark re-evaluates row-level


class RecordReader(IndexRangeReader):
    """Batch scan of one file or one directory dataset."""

    def __init__(
        self,
        source: type,
        path: str,
        schema: StructType,
        target_partitions=None,
        decode_cf_time: bool = False,
        union_schema: bool = False,
        mask_and_scale: bool = False,
    ):
        self.source = source
        self.columns = [f.name for f in schema.fields]
        self.decode_cf_time = decode_cf_time
        self.mask_and_scale = mask_and_scale
        # union mode: a variable a member predates reads as typed NULLs
        self.col_pa = _arrow_types(schema) if union_schema else None
        self.members = source.members(path)
        first = source.open_file(self.members[0][0])
        if union_schema:
            # raises on fixed-dim or per-variable signature conflicts
            source.union_schema(self.members, decode_cf_time, mask_and_scale)
        else:
            ref = source.signature(first, decode_cf_time, mask_and_scale)
            for p, _n, _off in self.members[1:]:
                got = source.signature(
                    source.open_file(p), decode_cf_time, mask_and_scale
                )
                if got != ref:
                    raise ValueError(
                        f"{p}: member signature {got!r} != first member "
                        f"{ref!r} (schema AND fixed-dim extents must "
                        "match across a multi-file dataset; pass "
                        "schema_evolution=union to align evolving "
                        "variable sets by name)"
                    )
        self._idx_col = f"{first.record_dim}_idx"
        self.lo = 0
        self.hi = sum(n for _p, n, _off in self.members)
        self.target_partitions = _target(target_partitions)

    def partitions(self):
        ranges = [
            (p, max(self.lo, off) - off, min(self.hi, off + n) - off, off)
            for p, n, off in self.members
        ]
        # Spark needs at least one partition; an empty run reads nothing
        return _split(ranges, self.target_partitions) or [
            RecordRangePartition(self.members[0][0], 0, 0, 0)
        ]

    def read(self, partition: RecordRangePartition):
        yield from self.source.arrow_batches(
            partition.path,
            self.columns,
            partition.lo,
            partition.hi,
            partition.offset,
            self.decode_cf_time,
            self.col_pa,
            self.mask_and_scale,
        )


class _RecordTail(DataSourceStreamReader):
    """Arrow tail: each microbatch's new records split into record-range
    partitions that executors read through the batch scan's column
    builder. Driver work per trigger is header reads only."""

    def __init__(
        self,
        source: type,
        path: str,
        schema: StructType,
        target_partitions=None,
        col_pa: dict | None = None,
    ):
        self.source = source
        self.path = path
        self.columns = [f.name for f in schema.fields]
        self.col_pa = col_pa
        self.target_partitions = _target(target_partitions)

    def read(self, partition: RecordRangePartition):
        yield from self.source.arrow_batches(
            partition.path,
            self.columns,
            partition.lo,
            partition.hi,
            partition.offset,
            col_pa=self.col_pa,
        )


class RecordFileTail(_RecordTail):
    """Tail of one growing file; the offset is its record count."""

    def initialOffset(self) -> dict:
        return {"rec": 0}

    def latestOffset(self) -> dict:
        return {"rec": self.source.open_file(self.path).numrecs}

    def partitions(self, start: dict, end: dict):
        return _split(
            [(self.path, start["rec"], end["rec"], 0)],
            self.target_partitions,
        )


class RecordDirTail(_RecordTail):
    """Tail of a growing directory archive. Writers freeze a member once
    a later one exists; only the newest (sort-last) member grows. The
    offset pins every member's record count, so a microbatch replays
    exactly; frozen members' counts come from a stat-guarded cache
    (``tailcache``), so a trigger reads O(1) headers."""

    def __init__(
        self, source, path, schema, target_partitions=None, col_pa=None
    ):
        super().__init__(source, path, schema, target_partitions, col_pa)
        self._pinned = FrozenMemberCounts(
            lambda p: source.open_file(p).numrecs
        )

    def initialOffset(self) -> dict:
        return {"files": [], "counts": []}

    def latestOffset(self) -> dict:
        files = self.source.member_files(self.path)
        return {
            "files": files,
            "counts": self._pinned.counts(self.path, files),
        }

    def _check_invariants(self, start: dict, end: dict) -> None:
        if end["files"][: len(start["files"])] != start["files"]:
            raise ValueError(
                f"{self.path}: archive members renamed or removed — "
                f"offset had {start['files']}, directory has "
                f"{end['files']}"
            )
        for i, f in enumerate(start["files"]):
            lo, hi = start["counts"][i], end["counts"][i]
            if i < len(start["files"]) - 1 and hi != lo:
                # a member that had a successor at pin time is frozen:
                # growth would re-issue global indexes of later members
                verb = "grew" if hi > lo else "shrank"
                raise ValueError(
                    f"{self.path}/{f}: frozen member {verb} "
                    f"({lo} -> {hi} records) — the freeze invariant "
                    "is violated; only the newest archive member may "
                    "grow"
                )
            if hi < lo:
                raise ValueError(
                    f"{self.path}/{f}: pinned member shrank "
                    f"({lo} -> {hi} records) — records already issued "
                    "to the stream were truncated or replaced"
                )

    def partitions(self, start: dict, end: dict):
        self._check_invariants(start, end)
        ranges, base = [], 0
        for i, f in enumerate(end["files"]):
            lo = start["counts"][i] if i < len(start["counts"]) else 0
            hi = end["counts"][i]
            ranges.append((os.path.join(self.path, f), lo, hi, base))
            base += hi
        return _split(ranges, self.target_partitions)


# ---------------------------------------------------------------------------
# DataSource base
# ---------------------------------------------------------------------------

_BATCH_ONLY = {
    "decode_cf_time": "the streaming tail emits raw CF numbers — decode "
    "with timestamp_micros() downstream",
    "mask_and_scale": "the streaming tail emits raw packed numbers — "
    "unpack with value * scale + offset downstream",
}


class RecordDataSource(DataSource):
    """A record container as a Spark DataSource. Subclasses set
    ``EXTS`` (directory member extensions), ``open_file`` (path -> file
    with ``path``, ``numrecs``, ``record_dim``, ``dims``, ``variables``
    and ``read_records``) and ``var_dims``; they extend ``column_type``
    and ``column`` for types beyond text and numbers."""

    EXTS: tuple

    # -- codec hooks ------------------------------------------------------

    @staticmethod
    def open_file(path: str):
        raise NotImplementedError

    @staticmethod
    def var_dims(f, x) -> tuple:
        """Dimension names of variable ``x`` of file ``f``."""
        raise NotImplementedError

    @classmethod
    def column_type(cls, path: str, x, decode_cf_time, mask_and_scale):
        """Spark type DDL of record variable ``x``."""
        if x.dtype.kind in ("S", "O"):
            return "string"
        key = _np_key(x.dtype)
        if key not in _NP_SPARK:
            raise ValueError(
                f"{path}: variable {x.name} dtype {x.dtype} has no "
                "Spark mapping"
            )
        if decode_cf_time and _cf_time(x) is not None:
            # timestamp_ntz: CF times are calendar-naive UTC — no
            # session-timezone reinterpretation on foreign sessions
            return "timestamp_ntz"
        if mask_and_scale and _mask_scale(x) is not None:
            return "double"  # CF-packed: unpacks at scan time
        return _NP_SPARK[key][0]

    @classmethod
    def column(cls, f, x, lo, hi, decode_cf_time, mask_and_scale):
        """(values, NULL mask or None) of ``x`` over records [lo, hi)."""
        block = f.read_records(x.name, lo, hi)
        if x.dtype.kind in ("S", "O"):
            return _strings(block, x), None
        return _numeric(x, block.reshape(-1), decode_cf_time, mask_and_scale)

    # -- metadata (driver) ------------------------------------------------

    @classmethod
    def member_files(cls, path: str) -> list[str]:
        return sorted(f for f in os.listdir(path) if f.endswith(cls.EXTS))

    @classmethod
    def members(cls, path: str) -> list[tuple[str, int, int]]:
        """[(file, numrecs, global_offset)] — a single file, or a
        directory of files treated as ONE dataset concatenated along the
        record dim in filename order (the file-per-day layout netCDF4's
        MFDataset serves). Only headers are read."""
        if not os.path.isdir(path):
            return [(path, cls.open_file(path).numrecs, 0)]
        files = cls.member_files(path)
        if not files:
            raise ValueError(
                f"{path}: no {'/'.join(cls.EXTS)} files in directory"
            )
        out, off = [], 0
        for name in files:
            p = os.path.join(path, name)
            n = cls.open_file(p).numrecs
            out.append((p, n, off))
            off += n
        return out

    @classmethod
    def record_vars(cls, f) -> list:
        rvs = [x for x in f.variables.values() if x.is_record]
        if not rvs:
            raise ValueError(f"{f.path}: no record variables to stream")
        # only EFFECTIVE per-record shapes must agree — a char variable's
        # trailing string-length dim collapses into the string value
        shapes = {_eff_shape(x) for x in rvs}
        if len(shapes) > 1:
            raise ValueError(
                f"record variables disagree on per-record shape: {shapes}"
            )
        return rvs

    @classmethod
    def fixed_dims(cls, f, x) -> tuple:
        """Index dimensions of record variable ``x`` after the record
        dimension (a char variable's string length is not one)."""
        dims = tuple(cls.var_dims(f, x))[1:]
        return dims[:-1] if _is_char(x) and dims else dims

    @classmethod
    def file_schema(
        cls, f, decode_cf_time: bool = False, mask_and_scale: bool = False
    ) -> str:
        rvs = cls.record_vars(f)
        parts = [f"{f.record_dim}_idx long"]
        parts += [f"{d}_idx int" for d in cls.fixed_dims(f, rvs[0])]
        parts += [
            f"{_ddl_name(x.name)} "
            f"{cls.column_type(f.path, x, decode_cf_time, mask_and_scale)}"
            for x in rvs
        ]
        return ", ".join(parts)

    @classmethod
    def signature(cls, f, decode_cf_time, mask_and_scale) -> tuple:
        # the schema alone names dims but not their extents — a directory
        # mixing y=32 and y=16 files must not concatenate silently
        shapes = tuple(
            (x.name, x.shape) for x in f.variables.values() if x.is_record
        )
        return cls.file_schema(f, decode_cf_time, mask_and_scale), shapes

    @classmethod
    def union_schema(
        cls,
        members: list[tuple[str, int, int]],
        decode_cf_time: bool = False,
        mask_and_scale: bool = False,
    ) -> str:
        """UNION schema across a directory's members
        (``schema_evolution=union``): archives evolve and later files
        gain variables. Variables align by NAME in first-appearance
        order; a variable present in several members must agree on type
        and per-record shape; fixed dims must agree everywhere."""
        seen: dict[str, tuple] = {}
        head = ref_fixed = None
        for path, _n, _off in members:
            f = cls.open_file(path)
            rvs = cls.record_vars(f)
            fixed = tuple((d, f.dims[d]) for d in cls.fixed_dims(f, rvs[0]))
            if head is None:
                ref_fixed = fixed
                head = [f"{f.record_dim}_idx long"]
                head += [f"{d}_idx int" for d, _e in fixed]
            elif fixed != ref_fixed:
                raise ValueError(
                    f"{path}: fixed dims {fixed!r} != first member "
                    f"{ref_fixed!r} (schema_evolution=union aligns "
                    "VARIABLES; dims and extents must still match)"
                )
            for x in rvs:
                sig = (
                    cls.column_type(path, x, decode_cf_time, mask_and_scale),
                    _eff_shape(x),
                )
                if seen.setdefault(x.name, sig) != sig:
                    raise ValueError(
                        f"{path}: variable {x.name} signature {sig!r} "
                        f"conflicts with {seen[x.name]!r} from an earlier "
                        "member (union aligns by name; types and shapes "
                        "must agree)"
                    )
        return ", ".join(
            head + [f"{_ddl_name(n)} {t}" for n, (t, _s) in seen.items()]
        )

    # -- data (executors) -------------------------------------------------

    @classmethod
    def arrow_batches(
        cls,
        path: str,
        columns: list[str],
        lo: int,
        hi: int,
        offset: int = 0,
        decode_cf_time: bool = False,
        col_pa: dict | None = None,
        mask_and_scale: bool = False,
    ):
        """Arrow RecordBatches for records ``[lo, hi)`` of one file,
        restricted to ``columns``; ``offset`` globalizes the record
        index, ``col_pa`` (union mode) NULL-fills missing variables."""
        if hi <= lo:
            return
        f = cls.open_file(path)
        rvs = cls.record_vars(f)
        shape = _eff_shape(rvs[0])
        cells = int(np.prod(shape, dtype=np.int64)) if shape else 1
        n = hi - lo
        wanted = set(columns)  # column pruning: build only the read schema
        arrays: dict = {}
        masks: dict = {}
        if f"{f.record_dim}_idx" in wanted:
            arrays[f"{f.record_dim}_idx"] = np.repeat(
                np.arange(lo, hi, dtype=np.int64) + offset, cells
            )
        if shape:
            grids = np.indices(shape).reshape(len(shape), cells)
            for i, d in enumerate(cls.fixed_dims(f, rvs[0])):
                if f"{d}_idx" in wanted:
                    arrays[f"{d}_idx"] = np.tile(grids[i].astype(np.int32), n)
        for x in rvs:
            if x.name in wanted:  # a pruned variable is never read
                arrays[x.name], masks[x.name] = cls.column(
                    f, x, lo, hi, decode_cf_time, mask_and_scale
                )
        if col_pa is not None:
            for c in columns:
                if c not in arrays:
                    arrays[c] = pa.nulls(n * cells, type=col_pa[c])
        cols = [
            a if isinstance(a := arrays[c], pa.Array)
            else _to_arrow(a, masks.get(c))
            for c in columns
        ]
        # uint64 values are delivered as Arrow decimal128(20,0) — the
        # exact container their DECIMAL(20,0) schema declares
        cols = [
            c.cast(pa.decimal128(20, 0)) if c.type == pa.uint64() else c
            for c in cols
        ]
        yield from pa.table(cols, names=columns).to_batches(
            max_chunksize=1 << 20
        )

    # -- DataSource API ---------------------------------------------------

    def _flag(self, key: str, on=("true", "1")) -> bool:
        return str(self.options.get(key, "")).lower() in on

    def _union(self) -> bool:
        return self._flag("schema_evolution", ("union", "true", "1"))

    def schema(self) -> str:
        members = self.members(self.options["path"])
        cf = self._flag("decode_cf_time")
        ms = self._flag("mask_and_scale")
        if self._union():
            return self.union_schema(members, cf, ms)
        # the first member carries the schema; the reader checks that
        # every other member agrees
        return self.file_schema(self.open_file(members[0][0]), cf, ms)

    def reader(self, schema: StructType) -> DataSourceReader:
        tp = self.options.get("target_partitions")
        return RecordReader(
            type(self),
            self.options["path"],
            schema,
            int(tp) if tp else None,
            decode_cf_time=self._flag("decode_cf_time"),
            union_schema=self._union(),
            mask_and_scale=self._flag("mask_and_scale"),
        )

    def streamReader(self, schema: StructType):
        for opt, why in _BATCH_ONLY.items():
            if self._flag(opt):
                raise ValueError(f"{opt} is a batch-scan option; {why}")
        tp = self.options.get("tail_partitions")
        tp = int(tp) if tp else None
        path = self.options["path"]
        if os.path.isdir(path):
            col_pa = _arrow_types(schema) if self._union() else None
            return RecordDirTail(type(self), path, schema, tp, col_pa)
        if self._union():
            raise ValueError(
                "schema_evolution=union applies to directory "
                "datasets; a single file has one schema"
            )
        return RecordFileTail(type(self), path, schema, tp)
