"""Job-group harvest: what Spark executed for one job group.

The reference times its stages in-process (``metrics.py:26-37``); on
Spark a stage call only builds a plan, and the rows move later, in the
jobs an action submits. Those jobs' records live in the driver's
status store (the listener-fed store behind the web UI, kept also when
the UI is off). :func:`harvest_job_group` reads the jobs submitted
under one ``setJobGroup`` name and sums their stages' task, time and
shuffle figures. It reads only the group's own stage ids, launches no
Spark job and takes no option. The store keeps every job ever run under
a group name, so the harvest is scoped like a submission: it keeps the
group's jobs that carry every job tag set on the calling thread
(``sc.addJobTag``), and all of them when none is set.

Run a measured action under a group, then harvest it::

    sc.setJobGroup("etl:day1", "day 1 load", False)
    df.write.parquet(out)
    harvest_job_group(spark, "etl:day1")
    # {'jobs': 1, 'stages': 1, 'tasks': 8, 'failed_tasks': 0, ...}

:class:`~mission_data_pipeline_spark.core.pipeline.Pipeline` runs each
batch under ``mdps:<name>:batch<N>`` and each run under a job tag of its
own, and harvests those groups once, after the last batch, with the tag
still set, so a pipeline name reused in one session counts each run
alone; ``bench.py`` harvests each query's final run.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError

#: Keys of one harvest, all summed over the group's jobs.
HARVEST_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "retried_stages",
    "job_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)

#: Stage attempts that ran tasks; skipped (exchange reuse) and pending
#: attempts ran none.
_RAN = ("COMPLETE", "FAILED")


def harvest_job_group(spark, group: str) -> dict:
    """Jobs, stages, tasks, failures, times and shuffle bytes of the
    jobs submitted under job group ``group``.

    - ``jobs``: job ids the group holds in the status store, among
      those carrying the calling thread's job tags;
    - ``stages``: distinct stage ids that ran at least one attempt;
    - ``tasks`` / ``failed_tasks``: summed over every attempt that ran;
    - ``retried_stages``: attempts after a stage's first;
    - ``job_s``: each job's submission-to-completion time, summed;
    - ``executor_run_s`` / ``executor_cpu_s`` / ``gc_s``: task time;
    - ``shuffle_read_bytes`` / ``shuffle_write_bytes``: per stage, the
      largest completed attempt (:func:`max_attempt_shuffle_bytes`).

    Waits until the status store has seen each job end, for at most
    ``core.observe.HARVEST_TIMEOUT_S``: the listener bus delivers that
    record after the action returns, normally within milliseconds. A
    group with no jobs reads all zeros. Jobs or stages the store has
    already evicted (``spark.ui.retained*``) are left out.
    """
    from mission_data_pipeline_spark.core.observe import HARVEST_TIMEOUT_S

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    tracker = sc.statusTracker()
    tags = list(sc.getJobTags())
    deadline = time.monotonic() + HARVEST_TIMEOUT_S
    while True:
        jobs = [
            j
            for j in (_read(store.job, jid) for jid in tracker.getJobIdsForGroup(group))
            if j is not None and all(j.jobTags().contains(t) for t in tags)
        ]
        running = any(str(j.status()) == "RUNNING" for j in jobs)
        if not running or time.monotonic() >= deadline:
            break
        time.sleep(0.02)

    out = dict.fromkeys(HARVEST_FIELDS, 0)
    out["jobs"] = len(jobs)
    stage_ids: set[int] = set()
    for j in jobs:
        if not j.submissionTime().isEmpty() and not j.completionTime().isEmpty():
            out["job_s"] += (
                j.completionTime().get().getTime() - j.submissionTime().get().getTime()
            ) / 1e3
        it = j.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))

    jvm = sc._jvm  # noqa: SLF001
    no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
    shuffle: dict[tuple[int, int], tuple[int, int]] = {}
    ran: set[int] = set()
    for sid in sorted(stage_ids):
        attempts = _read(
            store.stageData, sid, False, jvm.java.util.ArrayList(), False, no_quantiles
        )
        if attempts is None:
            continue
        for k in range(attempts.size()):
            st = attempts.apply(k)
            status = str(st.status())
            if status not in _RAN:
                continue
            ran.add(sid)
            attempt = int(st.attemptId())
            out["tasks"] += int(st.numTasks())
            out["failed_tasks"] += int(st.numFailedTasks())
            out["retried_stages"] += attempt > 0
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            if status == "COMPLETE":
                shuffle[(sid, attempt)] = (
                    int(st.shuffleReadBytes()),
                    int(st.shuffleWriteBytes()),
                )
    out["stages"] = len(ran)
    b = max_attempt_shuffle_bytes(shuffle, stage_ids)
    out["shuffle_read_bytes"], out["shuffle_write_bytes"] = b["read"], b["write"]
    return out


def _read(lookup, *args):
    """``lookup(*args)`` from the status store; None once it evicted
    the entry (the store raises ``NoSuchElementException``)."""
    try:
        return lookup(*args)
    except Py4JJavaError:
        return None


def max_attempt_shuffle_bytes(stages: dict, stage_ids: set) -> dict:
    """Sum (read, write) bytes of ``stages`` — ``(stageId, attemptId) ->
    (read, write)`` of completed attempts — over ``stage_ids``, with ONE
    contribution per stage id: the elementwise max across its attempts.

    Summing every attempt counts a retried stage once per attempt; the
    latest attempt alone under-counts, since a retry re-runs only the
    lost tasks. The first, full attempt dominates unless the retry did
    more work. If both attempts were partial the max still
    under-counts; re-measure when a retry shows in ``retried_stages``.
    """
    best: dict = {}
    for (sid, _att), (r, w) in stages.items():
        if sid in stage_ids:
            pr, pw = best.get(sid, (0, 0))
            best[sid] = (max(pr, r), max(pw, w))
    return {
        "read": sum(r for r, _w in best.values()),
        "write": sum(w for _r, w in best.values()),
    }
