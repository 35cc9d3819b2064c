"""Pins the engine-free hypervisor-steal helpers in ``bench_constants``
(``read_cpu_steal`` / ``steal_record``) that perfbench stamps its runs
with. The file is named for the A/B timer that once shared these
helpers; the timer is gone, the helpers stay. No SparkSession needed."""


def test_steal_helpers_shared_and_engine_free():
    """Pin the record math, the degenerate windows and the live
    ``/proc/stat`` read."""
    import bench_constants as bc

    # 200 denied / (200 + 800 granted) = 20% of demand,
    # 200 / 10000 total = 2% of capacity
    rec = bc.steal_record((100, 1000, 50000), (300, 1800, 60000))
    assert rec["steal_jiffies"] == 200 and rec["busy_jiffies"] == 800
    assert rec["steal_pct_of_capacity"] == 2.0
    assert rec["steal_pct_of_demand"] == 20.0
    # degenerate windows stay None, never a ZeroDivisionError
    z = bc.steal_record((1, 1, 1), (1, 1, 1))
    assert z["steal_pct_of_capacity"] is None
    assert z["steal_pct_of_demand"] is None
    assert bc.steal_record(None, (1, 1, 1)) is None
    # the live read returns a monotone triple on Linux
    live = bc.read_cpu_steal()
    assert live is not None and len(live) == 3
    assert all(v >= 0 for v in live) and live[2] >= live[1] >= 0

