"""Exhaustive external-driver drive: EVERY contract key on a PLAIN
SparkSession at sf0.001 with oracle compare (verify skill, pre-round-end
variant). Exits nonzero on any failure."""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("drive-all")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e
from netcdf4_variable_streamer_spark import oracle

SF = "/root/testdata/sf0.001"
q = e.queries()
o = e.oracle_sql()
con = oracle.connect(SF)

fails = []
for i, key in enumerate(q):
    try:
        got = q[key](spark, SF).toPandas()
        if key in o:
            exp = con.execute(o[key]).fetchdf()
            oracle.compare_frames(got, exp, key)
            status = f"MATCH {len(got)} rows"
        else:
            assert len(got) >= 0
            status = f"rows-only {len(got)} rows"
        print(f"[{i + 1}/{len(q)}] OK {key}: {status}", flush=True)
    except Exception:
        fails.append(key)
        print(f"[{i + 1}/{len(q)}] FAIL {key}", flush=True)
        traceback.print_exc()

print(f"== {len(fails)} failing / {len(q)}: {fails}")
sys.exit(len(fails))
