"""Every streaming contract query has an analysis twin, and every twin
belongs to a registered query: a missing twin would make
tools/audit_plans.py and tools/sweep_dtypes.py run the real streaming
job. No Spark session is needed."""

from __future__ import annotations


def test_every_streaming_query_has_a_plan_twin():
    import __spark_entry__ as E
    from cs422pp_mapreduce_spark.plans.analysis import analysis_plan_builders

    twins = analysis_plan_builders()
    streaming = {name for name in E._QUERIES if name.startswith("stream_")}
    assert streaming
    assert sorted(streaming - set(twins)) == []
    assert sorted(set(twins) - set(E._QUERIES)) == []
