"""Pipeline metrics accumulator.

Parity: reference ``src/mdp/observability/metrics.py:15-120`` — running
batch/packet counters (A1, ``:40-58``), per-stage sums (A2, ``:60-77``),
a derived rate with zero-division → 0.0 (A3, ``:26-37``), nested
rounded snapshot dict (A5, ``:101-120``). Thread-safe via a lock, as in
the reference (``:45-47``): the run's thread is the only writer, but a
hook or a monitoring thread may read :meth:`PipelineMetrics.snapshot`
while a batch records, and a snapshot must not see half an update.

On Spark a transformer call only builds a plan: its time is recorded
as ``build_s``, never divided into rows. A loader call runs the batch's
action, recorded as ``load_s``. What Spark executed comes from the
batches' job groups (``observability.jobs.harvest_job_group``, recorded
with :meth:`PipelineMetrics.record_jobs`), and the run's ``rows_per_s``
divides the extracted packets by that executed job time.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from mission_data_pipeline_spark.observability.jobs import HARVEST_FIELDS


@dataclass
class StageMetric:
    invocations: int = 0
    records_in: int = 0
    records_out: int = 0
    errors: int = 0
    build_s: float = 0.0
    load_s: float = 0.0


@dataclass
class PipelineMetrics:
    batches_processed: int = 0
    total_packets: int = 0
    _stages: dict[str, StageMetric] = field(default_factory=dict)
    _jobs: dict[str, dict] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record_batch(self, n_packets: int) -> None:
        with self._lock:
            self.batches_processed += 1
            self.total_packets += n_packets

    def record_stage(
        self,
        stage_name: str,
        *,
        build_s: float = 0.0,
        load_s: float = 0.0,
        records_in: int = 0,
        records_out: int = 0,
        error: bool = False,
    ) -> None:
        """``build_s``: a transformer call (plan build); ``load_s``: a
        loader call (the batch's action)."""
        with self._lock:
            m = self._stages.setdefault(stage_name, StageMetric())
            m.invocations += 1
            m.records_in += max(records_in, 0)
            m.records_out += max(records_out, 0)
            m.errors += 1 if error else 0
            m.build_s += build_s
            m.load_s += load_s

    def record_jobs(self, group: str, harvest: dict) -> None:
        """One job group's :func:`harvest_job_group` result."""
        with self._lock:
            self._jobs[group] = dict(harvest)

    def stage(self, name: str) -> StageMetric:
        return self._stages.setdefault(name, StageMetric())

    def snapshot(self) -> dict:
        """Serializable nested dict, rounded (reference ``:101-120``).

        ``executed`` sums the recorded job groups (``job_groups``, one
        per batch); ``rows_per_s`` is ``total_packets`` over their
        ``job_s``, 0.0 when no job time was recorded."""
        with self._lock:
            executed = dict.fromkeys(HARVEST_FIELDS, 0)
            for h in self._jobs.values():
                for k in HARVEST_FIELDS:
                    executed[k] += h[k]
            job_s = executed["job_s"]
            return {
                "batches_processed": self.batches_processed,
                "total_packets": self.total_packets,
                "rows_per_s": round(self.total_packets / job_s, 3) if job_s else 0.0,
                "executed": _rounded(executed),
                "job_groups": {g: _rounded(h) for g, h in self._jobs.items()},
                "stages": {
                    name: {
                        "invocations": m.invocations,
                        "records_in": m.records_in,
                        "records_out": m.records_out,
                        "errors": m.errors,
                        "build_s": round(m.build_s, 6),
                        "load_s": round(m.load_s, 6),
                    }
                    for name, m in self._stages.items()
                },
            }


def _rounded(harvest: dict) -> dict:
    return {k: round(v, 6) if isinstance(v, float) else v for k, v in harvest.items()}
