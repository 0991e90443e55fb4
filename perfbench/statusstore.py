"""Stage and job counters read from Spark's status store over py4j.

``collect()`` returns the stages and jobs that finished since the last
call. Each stage carries its job group (from the job that ran it), its
description (the Spark job description that was set when it was
submitted) and its submission time, so a caller can attribute it by
group, by description or by time window. Time-window attribution is the
one that also catches jobs submitted from other threads, such as a
streaming query's micro-batches.
"""

from __future__ import annotations

from dataclasses import dataclass

_FINAL = ("COMPLETE", "FAILED", "SKIPPED")


@dataclass(frozen=True)
class Stage:
    stage_id: int
    status: str
    group: str | None
    description: str | None
    submitted_ms: int | None
    tasks: int
    run_s: float
    cpu_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass(frozen=True)
class Job:
    job_id: int
    submitted_ms: int | None


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._stage_mark = -1  # every stage id <= mark has been reported
        self._job_mark = -1

    def _list(self, seq):
        return self._conv.asJava(seq)

    def collect(self) -> tuple[list[Stage], list[Job]]:
        """Stages and jobs that reached a final state since the last call."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs: list[Job] = []
        group_of_stage: dict[int, str | None] = {}
        job_mark = self._job_mark
        pending_job = None
        for j in self._list(self._store.jobsList(None)):  # newest first
            jid = j.jobId()
            if jid <= self._job_mark:
                break
            group = _opt(j.jobGroup())
            for sid in self._list(j.stageIds()):
                group_of_stage[sid] = group
            if j.status().toString() == "RUNNING":
                pending_job = jid if pending_job is None else min(pending_job, jid)
                continue
            sub = _opt(j.submissionTime())
            jobs.append(Job(jid, sub.getTime() if sub is not None else None))
            job_mark = max(job_mark, jid)
        if pending_job is not None:
            job_mark = min(job_mark, pending_job - 1)
            jobs = [j for j in jobs if j.job_id <= job_mark]
        self._job_mark = max(self._job_mark, job_mark)

        stages: list[Stage] = []
        stage_mark = self._stage_mark
        pending = None
        raw = self._store.stageList(None, False, False, self._no_quantiles, None)
        for s in self._list(raw):  # newest first
            sid = s.stageId()
            if sid <= self._stage_mark:
                break
            status = s.status().toString()
            if status not in _FINAL:
                pending = sid if pending is None else min(pending, sid)
                continue
            sub = _opt(s.submissionTime())
            stages.append(
                Stage(
                    sid,
                    status,
                    group_of_stage.get(sid),
                    _opt(s.description()),
                    sub.getTime() if sub is not None else None,
                    s.numTasks() if status != "SKIPPED" else 0,
                    s.executorRunTime() / 1e3,
                    s.executorCpuTime() / 1e9,
                    s.inputBytes(),
                    s.shuffleReadBytes(),
                    s.shuffleWriteBytes(),
                    s.diskBytesSpilled(),
                )
            )
            stage_mark = max(stage_mark, sid)
        if pending is not None:
            stage_mark = min(stage_mark, pending - 1)
            stages = [s for s in stages if s.stage_id <= stage_mark]
        self._stage_mark = max(self._stage_mark, stage_mark)
        return stages, jobs
