"""Strict-mirror check of registry keys against their DuckDB oracles in one
Spark session: python tools/check_one.py [KEY ...] [SF]

With no key, every registry key is checked, in ``ordered_registry()``
order. SF, the last argument when it is a directory, defaults to the
test suite's fixture directory (``tests/conftest.py`` SF_DIR). A key
without an oracle gets the driver's rows-only check: its first 50 rows
must canonicalize (no array cells). Prints MATCH (or ROWS-OK) per key;
exits 1 if any key fails."""

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import netcdf4_variable_streamer_spark.operators  # noqa: F401
import netcdf4_variable_streamer_spark.sources  # noqa: F401
import netcdf4_variable_streamer_spark.streaming  # noqa: F401
from netcdf4_variable_streamer_spark import oracle as om
from netcdf4_variable_streamer_spark.registry import REGISTRY, ordered_registry
from netcdf4_variable_streamer_spark.session import get_spark
from tests.conftest import SF_DIR

keys = sys.argv[1:]
sf = keys.pop() if keys and os.path.isdir(keys[-1]) else SF_DIR
keys = keys or list(ordered_registry())
spark = get_spark("check-one")
con = None
failed = []
for key in keys:
    try:
        spec = REGISTRY[key]
        spdf = spec.builder(spark, sf).toPandas()
        print(f"spark rows={len(spdf)} dtypes:\n{spdf.dtypes}")
        if not spec.oracle:
            om.canon_rows(spdf.head(50))
            print(f"ROWS-OK {key}")
            continue
        con = con or om.connect(sf)
        opdf = con.execute(spec.oracle).fetchdf()
        print(f"oracle rows={len(opdf)} dtypes:\n{opdf.dtypes}")
        om.compare_frames(spdf, opdf, key)
        print(f"MATCH {key}")
    except Exception:
        traceback.print_exc()
        print(f"FAIL {key}")
        failed.append(key)
if failed:
    print(f"{len(failed)} of {len(keys)} keys failed: {' '.join(failed)}")
    sys.exit(1)
