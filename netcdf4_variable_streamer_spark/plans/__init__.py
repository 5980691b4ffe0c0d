"""Physical-plan inspection & posture assertions (SURVEY.md §4).

The reference's whole "optimizer" is physical-layout discipline (SURVEY.md
§4.1); the engine's equivalent discipline is *plan posture*: filters reach
the scan, scans are column-pruned, small sides broadcast, shuffles are
counted, hot paths stay inside whole-stage codegen. This package makes that
posture testable, so a perf regression shows up as a failing assertion and
not only as a slower BENCH number.
"""

from netcdf4_variable_streamer_spark.plans.inspect import (  # noqa: F401
    SHAPE_NODES,
    analyzed_plan_string,
    assert_broadcast_joins,
    assert_max_shuffles,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_excludes,
    assert_wholestage_codegen,
    count_nodes,
    executed_plan_string,
    plan_string,
    shape_table,
)
