"""Spark status-store readers: per-job-group job/stage/task totals and
block-storage use.

Everything goes through the SparkContext's ``AppStatusStore`` (the store behind
the status tracker and the UI), which the session keeps even with the UI off.
Job groups are thread-local, so the benchmark tags work by setting a group on
the calling thread before it calls the engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0  # stages that ran (skipped stages are not counted)
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0  # executor run time summed over tasks
    gc_ms: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    input_b: int = 0
    stage_ids: set = field(default_factory=set)


def _iterate(seq):
    """Python iterator over a Scala collection proxied by py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the jobs that have finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def by_group(self, prefix: str) -> dict[str, GroupStats]:
        """Totals for every job group starting with ``prefix``.  Stage totals
        count each stage once per group, even when several jobs of the group
        list it."""
        store = self._jsc.statusStore()
        out: dict[str, GroupStats] = {}
        for job in _iterate(store.jobsList(None)):
            g = job.jobGroup()
            group = g.get() if g.isDefined() else None
            if group is None or not group.startswith(prefix):
                continue
            st = out.setdefault(group, GroupStats())
            st.jobs += 1
            for sid in _iterate(job.stageIds()):
                if sid in st.stage_ids:
                    continue
                st.stage_ids.add(sid)
                self._add_stage(store, sid, st)
        return out

    @staticmethod
    def _add_stage(store, sid: int, st: GroupStats) -> None:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the store never saw (e.g. never submitted)
            return
        if s.status().toString() == "SKIPPED":
            return
        st.stages += 1
        st.tasks += s.numTasks()
        st.failed_tasks += s.numFailedTasks()
        st.run_ms += s.executorRunTime()
        st.gc_ms += s.jvmGcTime()
        st.shuffle_write_b += s.shuffleWriteBytes()
        st.shuffle_read_b += s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()
        st.input_b += s.inputBytes()

    def storage_mb(self) -> float:
        """Block storage in use on all executors (memory plus disk), MB, once
        every block event so far has reached the store."""
        self.drain()
        store = self._jsc.statusStore()
        total = 0
        for e in _iterate(store.executorList(True)):
            total += e.memoryUsed() + e.diskUsed()
        return total / 1e6
