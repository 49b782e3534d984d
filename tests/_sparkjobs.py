"""Count the Spark jobs a piece of driver code starts (shared by the
suites that pin "builds without a Spark job" contracts)."""

from __future__ import annotations

import time
import uuid


def jobs_run_by(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted through a job group. Job
    events reach the status tracker asynchronously, so a marker job in a
    second group is awaited first: once it shows, every earlier job has
    shown too (the listener bus delivers in order)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, marker = f"jobs-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
        sc.setJobGroup(marker, "marker")
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never reported"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(tracker.getJobIdsForGroup(group))
