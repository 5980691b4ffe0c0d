"""Spark DataSource over real NetCDF-3 classic files (netcdf3.py codec).

The codec adapter for :mod:`records_source`: the planning, pushdown,
Arrow assembly and streaming tail are shared with the NetCDF-4 source.
The classic format has only text (NC_CHAR, whose trailing dimension is
the string length) and numbers (CDF-5's unsigned types widen to the next
signed Spark type), which the shared column builder covers; a record
variable is read with one strided-memmap byte-range read (codec
``read_records``).

Write path: :func:`write_netcdf3` exports small/aggregated frames from
the driver; a distributed sink would need record-offset coordination
(the classic format interleaves records), which the chunk store already
provides — at scale you write the chunk store and export .nc at the
edge, which is also what the reference's single-process writer implies.
"""

from __future__ import annotations

from netcdf4_variable_streamer_spark.sources.netcdf3 import NetCDF3File
from netcdf4_variable_streamer_spark.sources.records_source import (
    RecordDataSource,
)

FORMAT3_NAME = "netcdf3"


class NetCDF3DataSource(RecordDataSource):
    """spark.read.format("netcdf3").option("path", file).load() — a
    ``.nc`` file or a directory of them (options: see
    :mod:`records_source`)."""

    EXTS = (".nc",)
    open_file = NetCDF3File

    @classmethod
    def name(cls) -> str:
        return FORMAT3_NAME

    @staticmethod
    def var_dims(f, x) -> tuple:
        names = list(f.dims)
        return tuple(names[d] for d in x.dimids)
