"""Per-operation Spark figures from the status tracker and status store.

Both work with ``spark.ui.enabled=false``. Each operation runs under a
job group of its own; reusing a group name would make the group's job
list grow across operations.
"""

from __future__ import annotations

import time

_DONE = {"SUCCEEDED", "FAILED"}
_STAGE_DONE = {"COMPLETE", "SKIPPED", "FAILED"}

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "single_task_stage_s",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_jobs(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _settled(spark, job_ids, timeout_s: float = 10.0) -> None:
    """The listener bus updates the stores asynchronously: wait until
    every job of the group has ended and its stages are final."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        pending = False
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None or info.status not in _DONE:
                pending = True
                break
            for sid in info.stageIds:
                try:
                    status = store.lastStageAttempt(sid).status().toString()
                except Exception:  # noqa: BLE001 — never submitted: skipped
                    continue
                if status not in _STAGE_DONE:
                    pending = True
                    break
            if pending:
                break
        if not pending:
            return
        time.sleep(0.01)


def op_record(spark, group: str) -> dict:
    """Counters for every job of ``group``, plus job and stage spans."""
    job_ids = group_jobs(spark, group)
    _settled(spark, job_ids)
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    rec = {k: 0.0 for k in COUNTERS}
    rec["jobs"] = len(job_ids)
    spans = []
    seen = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        job = store.job(jid)
        spans.append(
            {"kind": "job", "id": jid, "start": _opt_ms(job.submissionTime()),
             "end": _opt_ms(job.completionTime()), "stages": list(info.stageIds)}
        )
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage, never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            start, end = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
            n = sd.numCompleteTasks()
            rec["stages"] += 1
            rec["tasks"] += n
            rec["executor_run_s"] += sd.executorRunTime() / 1e3
            rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["gc_s"] += sd.jvmGcTime() / 1e3
            rec["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            rec["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            rec["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if n == 1 and start is not None and end is not None:
                rec["single_task_stage_s"] += end - start
            spans.append(
                {"kind": "stage", "id": sid, "job": jid, "start": start, "end": end,
                 "tasks": n}
            )
    rec["spans"] = spans
    return rec
