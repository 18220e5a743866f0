"""Pipeline orchestration.

Parity: reference ``src/mdp/core/pipeline.py:69-195`` — semantics P1–P8
(SURVEY §2.8):

- P1 setup/teardown around every stage invocation (``base.py:75-79``);
- P2 transformer failure → batch continues **unchanged**, FAILED
  StageResult recorded; ``stop_on_error=True`` (default) stops the run,
  else the remaining transformers of THIS batch are skipped and the
  partially-transformed batch is still loaded (``pipeline.py:177-195``);
- P3 loader failure → FAILED result, stop if stop_on_error;
- P4 extractor failure → caught by the outer loop, run marked FAILED;
- P5 ``dry_run`` executes transformers but skips the loader (the plan
  is still forced so transform errors surface);
- P6 ``max_batches``; P7 result objects; P8 SUCCESS iff zero errors.

Unlike the reference, hooks actually fire (R2) and per-stage metrics are
actually recorded (R3). Every stage output gets a ``df.observe(count(*))``
node and the counts are harvested as a side effect of the batch's
**single** action (the loader's write). The shipped loaders count the
rows they write with an observation too, so a batch through them runs
one Spark job and reads its input once, with exact counts. A side a
transformer passes through unchanged (``out.packets is batch.packets``)
shares the observation of the stage that first observed it. Only a side
that no action reads (e.g. a packets side the loader ignores and no
params were derived from) is backfilled, with one ``count()`` job per
dead side. Batches aborted before any action ran read ``-1``. Because
counts only exist after the action, ``batch.extracted`` /
``batch.transformed`` hooks fire with ``records=-1``; StageResult and
metrics are backfilled post-action.

A transformer call only builds a plan, so metrics record its time as
``build_s``; the loader call that runs the action is ``load_s``. The
loader's ``records_in`` is the params side it writes.

A run decides once which write replaces the loader's target: the batch
it hands the loader carries ``metadata["first_write"]``, True for the
run's first batch only, so a loader configured to overwrite truncates
once per run and appends after (every run of one ``Pipeline`` object
starts over).

Batch ``N`` runs under the job group ``mdps:<name>:batch<N>``, and the
whole run under one job tag of its own. After the last batch the run
reads what Spark executed for each group (:func:`harvest_job_group`,
which keeps only the jobs carrying the calling thread's tags, i.e. this
run's) into the metrics, and logs the metrics snapshot in its
"pipeline complete" record.
"""

from __future__ import annotations

import logging
import time
import uuid
from collections.abc import Callable

from pydantic import BaseModel
from pyspark.sql import SparkSession

from mission_data_pipeline_spark.core.base import (
    Extractor,
    Loader,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.observe import (
    ObservationGroup,
    harvest_groups,
)
from mission_data_pipeline_spark.core.results import (
    PipelineResult,
    StageResult,
    StageStatus,
)
from mission_data_pipeline_spark.observability.hooks import HookManager
from mission_data_pipeline_spark.observability.jobs import harvest_job_group
from mission_data_pipeline_spark.observability.metrics import PipelineMetrics

log = logging.getLogger("mission_data_pipeline_spark.pipeline")

#: A StageResult whose counts are read after the batch's action:
#: (result, rows in, rows out or None, metrics time key).
Deferred = tuple[StageResult, Callable[[], int], Callable[[], int] | None, str]


class PipelineConfig(BaseModel):
    model_config = {"frozen": True, "extra": "forbid"}

    name: str = "pipeline"
    stop_on_error: bool = True
    dry_run: bool = False
    max_batches: int | None = None


class Pipeline:
    """Feeds every batch the extractor yields through the transformers
    and the loader, with hooks, metrics and observed record counts.
    ``metrics`` holds the latest run's: each run starts a fresh
    :class:`PipelineMetrics`, so its counts, stage sums and job
    harvests describe the same run."""

    def __init__(
        self,
        config: PipelineConfig | dict | None = None,
        *,
        extractor: Extractor,
        transformers: list[Transformer] | None = None,
        loader: Loader | None = None,
    ) -> None:
        if config is None:
            config = PipelineConfig()
        elif isinstance(config, dict):
            config = PipelineConfig(**config)
        self.config = config
        self.extractor = extractor
        self.transformers = list(transformers or [])
        self.loader = loader
        self.hooks = HookManager()
        self.metrics = PipelineMetrics()

    def run(self, spark: SparkSession) -> PipelineResult:
        cfg = self.config
        result = PipelineResult(pipeline_name=cfg.name, status=StageStatus.SUCCESS)
        self.metrics = PipelineMetrics()
        t_start = time.perf_counter()
        self.hooks.fire("pipeline.start", pipeline=cfg.name, config=cfg)
        log.info("pipeline start", extra={"ctx_pipeline": cfg.name})

        sc = spark.sparkContext
        tag = f"mdps-run-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            self._run_batches(spark, result)
            for n in range(1, result.batches_processed + 1):
                group = self._group(n)
                self.metrics.record_jobs(group, harvest_job_group(spark, group))
        finally:
            sc.removeJobTag(tag)
        result.elapsed_s = time.perf_counter() - t_start
        result.status = (
            StageStatus.SUCCESS if not result.errors else StageStatus.FAILED
        )  # P8
        self.hooks.fire("pipeline.complete", result=result)
        log.info(
            "pipeline complete",
            extra={
                "ctx_status": result.status.value,
                "ctx_elapsed": result.elapsed_s,
                "ctx_metrics": self.metrics.snapshot(),
            },
        )
        return result

    def _run_batches(self, spark: SparkSession, result: PipelineResult) -> None:
        cfg = self.config
        sc = spark.sparkContext
        try:
            for batch in self.extractor.extract(spark):
                result.batches_processed += 1
                n = result.batches_processed
                sc.setJobGroup(
                    self._group(n), f"pipeline {cfg.name} batch {n}", False
                )
                try:
                    stop = self._run_batch(batch, n, result)
                finally:
                    sc.setJobGroup(None, None)  # type: ignore[arg-type]
                if stop or (cfg.max_batches is not None and n >= cfg.max_batches):
                    break
        except Exception as exc:  # noqa: BLE001 - P4 extractor failure
            name = type(self.extractor).__name__
            result.errors.append(f"{name}: {exc}")
            result.stage_results.append(
                StageResult(stage_name=name, status=StageStatus.FAILED, error=str(exc))
            )
            self.hooks.fire("stage.error", stage=name, error=exc)

    def _group(self, n: int) -> str:
        """Job group of batch ``n``."""
        return f"mdps:{self.config.name}:batch{n}"

    # -- timed stage wrappers (P1: setup/teardown even on error) --------

    def _timed(self, stage, fn):
        t0 = time.perf_counter()
        stage.setup()
        try:
            out = fn()
            elapsed = time.perf_counter() - t0
            return out, elapsed, None
        except Exception as exc:  # noqa: BLE001 - stage errors are data
            elapsed = time.perf_counter() - t0
            return None, elapsed, exc
        finally:
            stage.teardown()

    def _failed(
        self, result: PipelineResult, sr: StageResult, exc: Exception, time_key: str
    ) -> None:
        """Records a FAILED stage (P2, P3); ``time_key`` is ``build_s``
        or ``load_s``."""
        result.stage_results.append(sr)
        result.errors.append(f"{sr.stage_name}: {exc}")
        self.metrics.record_stage(sr.stage_name, error=True, **{time_key: sr.elapsed_s})
        self.hooks.fire("stage.error", stage=sr.stage_name, error=exc)

    # -- one batch -------------------------------------------------------

    def _run_batch(
        self, batch: TelemetryBatch, number: int, result: PipelineResult
    ) -> bool:
        """Runs batch ``number`` through transformers + loader, appending
        its StageResults and errors to ``result``.

        Returns True if the run must stop (stop_on_error hit).
        """
        cfg = self.config
        n_errors = len(result.errors)

        # groups[i] = observation over the output of stage boundary i
        # (0 = extractor output); rows_out None in a Deferred keeps the
        # rows-written count the loader returned.
        groups = [ObservationGroup(f"b{number}:extract")]
        current = groups[0].attach(batch)
        deferred: list[Deferred] = []
        self.hooks.fire("batch.extracted", batch=number, records=-1)

        for tr in self.transformers:
            tname = type(tr).__name__
            out, elapsed, exc = self._timed(tr, lambda t=tr, b=current: t.transform(b))
            if exc is not None:
                # P2: the batch continues unchanged (in == out == upstream
                # count); the remaining transformers of this batch are
                # skipped either way.
                sr = StageResult(tname, StageStatus.FAILED, elapsed, -1, -1, str(exc))
                self._failed(result, sr, exc, "build_s")
                deferred.append((sr, groups[-1].rows, groups[-1].rows, "build_s"))
                break
            g = ObservationGroup(f"b{number}:{tname}")
            current = g.attach(out, upstream=groups[-1])
            groups.append(g)
            sr = StageResult(tname, StageStatus.SUCCESS, elapsed, -1, -1)
            result.stage_results.append(sr)
            deferred.append((sr, groups[-2].rows, g.rows, "build_s"))
        self.hooks.fire("batch.transformed", batch=number, records=-1)

        stopping = cfg.stop_on_error and len(result.errors) > n_errors
        if not stopping and self._load(current, number, groups[-1], deferred, result):
            harvest_groups(groups)

        # backfill from whatever resolved (-1 where no action ran)
        extracted = max(groups[0].rows(), 0)
        result.total_packets += extracted
        self.metrics.record_batch(extracted)
        for sr, rows_in, rows_out, time_key in deferred:
            sr.records_in = rows_in()
            if rows_out is not None:
                sr.records_out = rows_out()
            if sr.status is StageStatus.SUCCESS:
                self.metrics.record_stage(
                    sr.stage_name,
                    **{time_key: sr.elapsed_s},
                    records_in=sr.records_in,
                    records_out=sr.records_out,
                )
        # a transformer or the loader failed
        return cfg.stop_on_error and len(result.errors) > n_errors

    def _load(
        self,
        current: TelemetryBatch,
        number: int,
        last: ObservationGroup,
        deferred: list[Deferred],
        result: PipelineResult,
    ) -> bool:
        """Runs the loader (P3, P5); returns True if an action ran."""
        if self.loader is None:
            return False  # nothing forces the plan; counts stay -1
        lname = type(self.loader).__name__
        if self.config.dry_run:
            # force the plan so transform-time errors still surface and
            # the observations resolve
            current.row_count()
            result.stage_results.append(StageResult(lname, StageStatus.SKIPPED))
            return True

        batch = current.with_metadata(first_write=number == 1)
        out, elapsed, exc = self._timed(self.loader, lambda: self.loader.load(batch))
        if exc is not None:
            self._failed(
                result,
                StageResult(lname, StageStatus.FAILED, elapsed, -1, 0, str(exc)),
                exc,
                "load_s",
            )
            return False
        # records_in is the params side the loader writes; the loader's
        # integer return stays authoritative for out.
        counted = isinstance(out, int)
        written = out if counted else -1
        sr = StageResult(lname, StageStatus.SUCCESS, elapsed, -1, written)
        result.stage_results.append(sr)
        rows_out = None if counted else last.params_rows
        deferred.append((sr, last.params_rows, rows_out, "load_s"))
        self.hooks.fire("batch.loaded", batch=number, records=written)
        return True
