"""Spark figures per job group, read from the in-process status store.

``setJobGroup`` tags every job a thread starts; ``statusTracker`` lists a
group's jobs and the status store's ``lastStageAttempt`` gives each stage's
tasks, executor run time and shuffle bytes. This works with the UI off.
Job groups are thread-local, so writes running concurrently in the crawl
loop's thread pool are attributed to the right group.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JError, Py4JJavaError

FIELDS = ("jobs", "stages", "tasks", "run_ms", "shuffle_read_b", "shuffle_write_b")
DONE = ("SUCCEEDED", "FAILED")


def empty() -> dict:
    return dict.fromkeys(FIELDS, 0)


def add(total: dict, part: dict) -> dict:
    for k in FIELDS:
        total[k] += part[k]
    return total


def set_group(sc, group: str | None) -> None:
    """Tag the calling thread's next jobs with ``group`` (None clears it)."""
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def current_group(sc) -> str | None:
    return sc.getLocalProperty("spark.jobGroup.id")


def job_ids(sc, group: str | None) -> list[int]:
    """Jobs of ``group``; ``None`` lists the jobs started outside any group."""
    return list(sc.statusTracker().getJobIdsForGroup(group))


def drain(sc, timeout_ms: int = 10_000) -> None:
    """Job and stage events reach the status store through the listener
    bus after the action has returned; wait until the bus is empty."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
    except Py4JError:  # not reachable from Python in this Spark build
        time.sleep(0.5)


def wait_done(sc, ids, timeout_s: float = 10.0) -> None:
    """Wait until every job in ``ids`` has ended in the status store."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    for j in ids:
        while time.monotonic() < deadline:
            info = tracker.getJobInfo(j)
            if info is None or str(info.status) in DONE:
                break
            time.sleep(0.02)


def job_stats(sc, ids) -> dict:
    """Totals over the executed (not skipped) stages of the given jobs."""
    out = empty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for j in ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        out["jobs"] += 1
        for s in info.stageIds:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["shuffle_read_b"] += sd.shuffleReadBytes()
            out["shuffle_write_b"] += sd.shuffleWriteBytes()
    return out


def group_stats(sc, group: str) -> dict:
    ids = job_ids(sc, group)
    wait_done(sc, ids)
    return job_stats(sc, ids)


def coverage(jobs: dict[int, tuple[str | None, float]]) -> tuple[float, float, float]:
    """Share of executor time that ran inside a named job group.

    ``jobs`` maps job id → (group or None, executor ms). Returns (named ms,
    total ms, share); the share is 1.0 when no executor time was spent."""
    named = total = 0.0
    for group, run_ms in jobs.values():
        total += run_ms
        if group:
            named += run_ms
    return named, total, (named / total if total else 1.0)


def in_window(ids, after_job: int, last_job: int) -> list[int]:
    """Job ids in (after_job, last_job]. Ids are handed out in submission
    order, so the window is one stretch of the run: the jobs started
    between two ``max_job_id`` readings."""
    return [j for j in ids if after_job < j <= last_job]


def max_job_id(sc, groups) -> int:
    """Highest job id started so far, ungrouped or in one of ``groups``."""
    drain(sc)
    ids = job_ids(sc, None)
    for g in groups:
        ids += job_ids(sc, g)
    return max(ids, default=-1)


def jobs_in_window(sc, groups, after_job: int, last_job: int) -> dict[int, tuple[str | None, dict]]:
    """job id → (group, stats) for the jobs in (after_job, last_job], in
    one of ``groups`` or outside any group."""
    out: dict[int, tuple[str | None, dict]] = {}
    for g in [None, *groups]:
        ids = in_window(job_ids(sc, g), after_job, last_job)
        wait_done(sc, ids)
        for j in ids:
            out[j] = (g, job_stats(sc, [j]))
    return out
