"""Quick single-key strict-mirror check: python tools/check_one.py KEY [SF]"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import netcdf4_variable_streamer_spark.operators  # noqa: F401
import netcdf4_variable_streamer_spark.sources  # noqa: F401
import netcdf4_variable_streamer_spark.streaming  # noqa: F401
from netcdf4_variable_streamer_spark import oracle as om
from netcdf4_variable_streamer_spark.registry import REGISTRY
from netcdf4_variable_streamer_spark.session import get_spark

key = sys.argv[1]
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
spark = get_spark("check-one")
spec = REGISTRY[key]
spdf = spec.builder(spark, sf).toPandas()
print(f"spark rows={len(spdf)} dtypes:\n{spdf.dtypes}")
if spec.oracle:
    con = om.connect(sf)
    opdf = con.execute(spec.oracle).fetchdf()
    print(f"oracle rows={len(opdf)} dtypes:\n{opdf.dtypes}")
    om.compare_frames(spdf, opdf, key)
    print(f"MATCH {key}")
else:
    print("rows-only key")
