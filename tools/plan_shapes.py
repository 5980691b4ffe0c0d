"""Regenerate plans/shape.json: the Exchange, join and Window counts of
every batch registry key's pre-execution plan, one key per line, so a plan
change shows up as a one-line diff: python tools/plan_shapes.py"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from netcdf4_variable_streamer_spark.plans import SHAPE_NODES, shape_table  # noqa: E402
from netcdf4_variable_streamer_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402  (fills REGISTRY)

rows = shape_table(get_spark("plan-shapes"), SF_DIR)
with open(os.path.join(ROOT, "plans", "shape.json"), "w") as f:
    f.write(f'{{"sf": {json.dumps(os.path.basename(SF_DIR))}, '
            f'"nodes": {json.dumps(SHAPE_NODES)}, "keys": {{\n')
    f.write(",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in rows.items()))
    f.write("\n}}\n")
