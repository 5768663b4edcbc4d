"""Policy test for the wave-61 (round 8) streaming Welch monitor: the
streaming path (per-user sums as streaming state + display-side
readout) must equal the batch events_welch_ttest row-for-row at
sf0.001 — same columns, same values, including the round-2/round-6
quantized floats.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_streaming_welch_equals_batch(spark):
    from etl_neotel_sql_automation_spark.workload.experiments import (
        events_welch_ttest,
        streaming_welch_monitor,
    )

    batch = events_welch_ttest(spark, SF).collect()
    stream = streaming_welch_monitor(spark, SF).collect()
    assert [r.asDict() for r in stream] == [r.asDict() for r in batch]
    assert len(batch) == 2
