"""Counters read from Spark's own status APIs, from outside the engine.

Everything here works with ``spark.ui.enabled=false``: the DAG
scheduler's id counters, the status tracker's job groups, the app
status store's stage records, the block manager's storage report and the
JVM's management beans.
"""

from __future__ import annotations

import os

STAGE_KEYS = ("stages", "tasks", "shuffle_write_bytes", "spill_bytes")


class SparkStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ctx = self.sc._jsc.sc()
        self._jvm = spark._jvm
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        """Jobs submitted so far by any thread, streaming ones included."""
        return int(self._ctx.dagScheduler().nextJobId())

    def next_stage_id(self) -> int:
        return int(self._ctx.dagScheduler().nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the stages of jobs that just ended."""
        self._ctx.listenerBus().waitUntilEmpty(30_000)

    def group_jobs(self, group: str, first: int) -> int:
        """Jobs of ``group`` with ids from ``first`` on."""
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        return sum(1 for i in ids if i >= first)

    def stage_totals(self, first: int, end: int) -> dict[str, int]:
        """Executed stages, completed tasks, shuffle bytes written and
        bytes spilled over stage ids ``[first, end)``."""
        out = dict.fromkeys(STAGE_KEYS, 0)
        store = self._ctx.statusStore()
        for sid in range(first, end):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never recorded
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numCompleteTasks())
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled()
            )
        return out

    def storage_bytes(self) -> int:
        """Bytes held by cached or checkpointed RDD blocks."""
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self._ctx.getRDDStorageInfo()
        )

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory
        return sum(
            max(0, int(b.getCollectionTime()))
            for b in beans.getGarbageCollectorMXBeans()
        ) / 1000.0

    def cpu_seconds(self) -> float:
        """CPU time used so far by the JVM and this Python process."""
        with open(f"/proc/{self.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        own = os.times()
        return jvm + own.user + own.system

    def peak_rss_mb(self) -> float:
        """The JVM's high-water resident set (VmHWM) in MiB."""
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")
