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
``build_s``; the loader call that runs the action is ``load_s``.
:class:`Pipeline` runs batch ``N`` under the job group
``mdps:<name>:batch<N>``; after the last batch it reads what Spark
executed for each group (:func:`harvest_job_group`) into the metrics,
and logs the metrics snapshot in its "pipeline complete" record.

:class:`BatchRunner` holds that per-batch body; :class:`Pipeline` feeds
it the extractor's batches and ``StreamingPipeline`` each micro-batch.
"""

from __future__ import annotations

import logging
import time

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


class PipelineConfig(BaseModel):
    model_config = {"frozen": True, "extra": "forbid"}

    name: str = "pipeline"
    stop_on_error: bool = True
    dry_run: bool = False
    max_batches: int | None = None


class BatchRunner:
    """Runs one batch at a time through the transformers and the loader,
    with hooks, metrics and observed record counts."""

    def __init__(
        self,
        config: PipelineConfig | dict | None = None,
        *,
        transformers: list[Transformer] | None = None,
        loader: Loader | None = None,
        hooks: HookManager | None = None,
        metrics: PipelineMetrics | None = None,
    ) -> None:
        if config is None:
            config = PipelineConfig()
        elif isinstance(config, dict):
            config = PipelineConfig(**config)
        self.config = config
        self.transformers = list(transformers or [])
        self.loader = loader
        self.hooks = hooks or HookManager()
        self.metrics = metrics or PipelineMetrics()

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

    def run_batch(
        self, batch: TelemetryBatch, number: int, result: PipelineResult
    ) -> bool:
        """Runs batch ``number`` through transformers + loader, appending
        its StageResults and errors to ``result``.

        Returns True if the run must stop (stop_on_error hit).
        """
        cfg = self.config
        n_errors = len(result.errors)

        # groups[i] = observation over the output of stage boundary i
        # (0 = extractor output); deferred[(sr, in_idx, out_idx, time_key)]
        # is backfilled from harvested counts after the batch's action.
        # out_idx None keeps the rows-written count the loader returned;
        # time_key names the stage's time in the metrics.
        groups = [ObservationGroup(f"b{number}:extract")]
        current = groups[0].attach(batch)
        deferred: list[tuple[StageResult, int, int | None, str]] = []
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
                deferred.append((sr, len(groups) - 1, len(groups) - 1, "build_s"))
                break
            g = ObservationGroup(f"b{number}:{tname}")
            current = g.attach(out, upstream=groups[-1])
            groups.append(g)
            sr = StageResult(tname, StageStatus.SUCCESS, elapsed, -1, -1)
            result.stage_results.append(sr)
            deferred.append((sr, len(groups) - 2, len(groups) - 1, "build_s"))
        self.hooks.fire("batch.transformed", batch=number, records=-1)

        stopping = cfg.stop_on_error and len(result.errors) > n_errors
        if not stopping and self._load(
            current, number, deferred, len(groups) - 1, result
        ):
            harvest_groups(groups)

        # backfill from whatever resolved (-1 where no action ran)
        counts = [g.rows for g in groups]
        result.total_packets += max(counts[0], 0)
        self.metrics.record_batch(max(counts[0], 0))
        for sr, i_in, i_out, time_key in deferred:
            sr.records_in = counts[i_in]
            if i_out is not None:
                sr.records_out = counts[i_out]
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
        deferred: list[tuple[StageResult, int, int | None, str]],
        last_group: int,
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

        out, elapsed, exc = self._timed(
            self.loader, lambda: self.loader.load(current)
        )
        if exc is not None:
            self._failed(
                result,
                StageResult(lname, StageStatus.FAILED, elapsed, -1, 0, str(exc)),
                exc,
                "load_s",
            )
            return False
        # records_in backfills from the last observation; the loader's
        # integer return stays authoritative for out.
        counted = isinstance(out, int)
        written = out if counted else -1
        sr = StageResult(lname, StageStatus.SUCCESS, elapsed, -1, written)
        result.stage_results.append(sr)
        deferred.append((sr, last_group, None if counted else last_group, "load_s"))
        self.hooks.fire("batch.loaded", batch=number, records=written)
        return True


class Pipeline(BatchRunner):
    """Feeds every batch the extractor yields through :meth:`run_batch`."""

    def __init__(
        self,
        config: PipelineConfig | dict | None = None,
        *,
        extractor: Extractor,
        transformers: list[Transformer] | None = None,
        loader: Loader | None = None,
        hooks: HookManager | None = None,
        metrics: PipelineMetrics | None = None,
    ) -> None:
        super().__init__(
            config,
            transformers=transformers,
            loader=loader,
            hooks=hooks,
            metrics=metrics,
        )
        self.extractor = extractor

    def run(self, spark: SparkSession) -> PipelineResult:
        cfg = self.config
        result = PipelineResult(pipeline_name=cfg.name, status=StageStatus.SUCCESS)
        t_start = time.perf_counter()
        self.hooks.fire("pipeline.start", pipeline=cfg.name, config=cfg)
        log.info("pipeline start", extra={"ctx_pipeline": cfg.name})

        sc = spark.sparkContext
        try:
            for batch in self.extractor.extract(spark):
                result.batches_processed += 1
                n = result.batches_processed
                sc.setJobGroup(
                    self._group(n), f"pipeline {cfg.name} batch {n}", False
                )
                try:
                    stop = self.run_batch(batch, n, result)
                finally:
                    sc.setJobGroup(None, None)  # type: ignore[arg-type]
                if stop or (cfg.max_batches is not None and n >= cfg.max_batches):
                    break
        except Exception as exc:  # noqa: BLE001 - P4 extractor failure
            msg = f"{type(self.extractor).__name__}: {exc}"
            result.errors.append(msg)
            result.stage_results.append(
                StageResult(
                    stage_name=type(self.extractor).__name__,
                    status=StageStatus.FAILED,
                    error=str(exc),
                )
            )
            self.hooks.fire(
                "stage.error", stage=type(self.extractor).__name__, error=exc
            )

        for n in range(1, result.batches_processed + 1):
            group = self._group(n)
            self.metrics.record_jobs(group, harvest_job_group(spark, group))
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

    def _group(self, n: int) -> str:
        """Job group of batch ``n``. The status store keeps every job
        run under a group, so two runs of one pipeline name in one
        session add up in its harvest: give runs distinct names."""
        return f"mdps:{self.config.name}:batch{n}"
