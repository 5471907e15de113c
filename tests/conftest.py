from __future__ import annotations

import pytest

from indigent_defense_stats_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ids-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


class SparkJobCounter:
    """Spark jobs, and the stages of them that ran tasks, submitted
    since the previous :meth:`step` (or since construction), read from
    the status tracker.

    Job-start events reach the tracker through the async listener bus,
    so each step drains it first.  A stage a job lists but skips (its
    shuffle output already exists) completes no task and is not
    counted; the status store, once over ``spark.ui.retainedStages``,
    drops skipped stages first (they have no completion time), so a
    missing one is skipped too.  A stage shared by several jobs counts
    once, in the step that first ran it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.last = self._jobs_so_far()
        self.counted: set[int] = set()

    def _jobs_so_far(self) -> int:
        """Highest job id the status tracker has seen (-1 before any)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(self.sc.statusTracker().getJobIdsForGroup(), default=-1)

    def step(self) -> tuple[int, int]:
        """(jobs, stages that ran) since the previous step."""
        now = self._jobs_so_far()
        st = self.sc.statusTracker()
        ran = set()
        for j in range(self.last + 1, now + 1):
            for sid in st.getJobInfo(j).stageIds:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    ran.add(sid)
        ran -= self.counted
        self.counted |= ran
        jobs, self.last = now - self.last, now
        return jobs, len(ran)


@pytest.fixture(scope="session")
def spark_job_counter(spark):
    """Makes a :class:`SparkJobCounter` that starts counting now."""
    return lambda: SparkJobCounter(spark.sparkContext)
