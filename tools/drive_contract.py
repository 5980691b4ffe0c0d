"""Drive the external-driver contract surface on a PLAIN SparkSession
(no engine confs) — per .claude/skills/verify/SKILL.md."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("drive-contract")
    .getOrCreate()
)

import __spark_entry__ as e
from netcdf4_variable_streamer_spark import oracle

rows = e.entry(spark).collect()
cols = e.entry(spark).columns
assert len(rows) >= 1, "entry returned 0 rows"
assert cols == ["n_name", "revenue"], cols
print(f"OK entry: {len(rows)} rows, schema {cols}")

q = e.queries()
o = e.oracle_sql()
missing = [k for k in o if k not in q]
assert not missing, f"oracle keys missing from queries(): {missing}"
print(f"OK contract: {len(q)} queries, {len(o)} oracles")

SF = "/root/testdata/sf0.01"
sample = [
    "q_agg_groupby_sum",
    "q_join_asof",  # events ns-timestamp shim path
    "src_netcdf3_scan",
    "src_netcdf3_multifile_scan",
    "q_text_langid",
    "q_agg_histogram",
    "q_emb_int8_quantize",
    "q_text_bigram_logprob",
    "q_dedup_lines",
    "q_curriculum_order",
    "q_multimodal_audio_vad",
    "src_netcdf4_scan",
    "snk_netcdf4_write",
    # round 16: one codec key (JPEG path) + one ANN accounting key
    "q_multimodal_jpeg_decode",
    "q_sim_ivfpq_recall",
    # round 17: the trained IVF-PQ chain + one codec key per family
    "q_sim_ivf_train_coarse",
    "q_sim_ivfpq_trained_recall",
    "q_multimodal_tiff_g4",
    "q_multimodal_audio_adpcm",
]
con = oracle.connect(SF)
for key in sample:
    got = q[key](spark, SF).toPandas()
    exp = con.execute(o[key]).fetchdf()
    oracle.compare_frames(got, exp, key)
    print(f"OK MATCH {key}: {len(got)} rows")

try:
    q["q_agg_groupby_sum"](spark, "/root/testdata/NOPE").collect()
    print("FAIL: bogus sf_dir did not raise")
    sys.exit(1)
except Exception as ex:
    print(f"OK probe: bogus sf_dir raised {type(ex).__name__}")

print("DRIVE OK")
