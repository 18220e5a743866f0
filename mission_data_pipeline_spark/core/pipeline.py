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
actually recorded (R3). Record accounting (``count_records=True``, the
default) has two methods:

- ``count_method="observe"`` (default): every stage output gets a
  ``df.observe(count(*))`` node and the counts are harvested as a side
  effect of the batch's **single** action (the loader's write). The
  shipped loaders count the rows they write with an observation too,
  so a batch through them runs one Spark job and reads its input once,
  with exact counts. A side a transformer passes through unchanged
  (``out.packets is batch.packets``) shares the observation of the
  stage that first observed it. Only a side that no action reads (e.g.
  a packets side the loader ignores and no params were derived from)
  is backfilled, with one bounded ``count()`` job per dead side by
  default (``observe_dead_branch="count"``); set it to ``"unknown"`` to
  keep ``-1`` with zero extra jobs (logged once per run). Batches
  aborted before any action ran always read ``-1``.
  Because counts only exist after the action, ``batch.extracted`` /
  ``batch.transformed`` hooks fire with ``records=-1`` in this mode;
  StageResult / metrics are backfilled post-action.
- ``count_method="count"``: the legacy eager path — a ``count()``
  action per stage per batch. Exact and available at hook-fire time,
  but re-executes the plan built so far once per stage (a 3-transformer
  batch runs the scan ~7x). Use only for debugging small batches.

``count_records=False`` disables accounting entirely (all counts -1).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Iterator
from typing import Literal

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
from mission_data_pipeline_spark.observability.metrics import PipelineMetrics

log = logging.getLogger("mission_data_pipeline_spark.pipeline")


class PipelineConfig(BaseModel):
    model_config = {"frozen": True, "extra": "forbid"}

    name: str = "pipeline"
    stop_on_error: bool = True
    dry_run: bool = False
    max_batches: int | None = None
    count_records: bool = True
    count_method: Literal["observe", "count"] = "observe"
    observe_timeout_s: float = 1.0
    # Dead-branch policy for observe mode: a DataFrame side the batch's
    # action never executed has no observed count. "count" (default)
    # backfills it with one bounded count() job per dead side, so
    # default-mode accounting never silently reports -1 after an action
    # ran; "unknown" keeps -1 (zero extra jobs) and logs once per run.
    observe_dead_branch: Literal["count", "unknown"] = "count"


class Pipeline:
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
        if config is None:
            config = PipelineConfig()
        elif isinstance(config, dict):
            config = PipelineConfig(**config)
        self.config = config
        self.extractor = extractor
        self.transformers = list(transformers or [])
        self.loader = loader
        self.hooks = hooks or HookManager()
        self.metrics = metrics or PipelineMetrics()
        self._warned_dead_branch = False

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

    @property
    def _observing(self) -> bool:
        return self.config.count_records and self.config.count_method == "observe"

    def _count(self, batch: TelemetryBatch) -> int:
        """Eager per-stage count — legacy ``count_method='count'`` only."""
        if self.config.count_records and self.config.count_method == "count":
            return batch.row_count()
        return -1

    # -- run -------------------------------------------------------------

    def run(self, spark: SparkSession) -> PipelineResult:
        cfg = self.config
        result = PipelineResult(pipeline_name=cfg.name, status=StageStatus.SUCCESS)
        t_start = time.perf_counter()
        self.hooks.fire("pipeline.start", pipeline=cfg.name, config=cfg)
        log.info("pipeline start", extra={"ctx_pipeline": cfg.name})

        sc = spark.sparkContext
        try:
            batches: Iterator[TelemetryBatch] = self.extractor.extract(spark)
            for batch in batches:
                result.batches_processed += 1
                sc.setJobGroup(
                    f"mdps:{cfg.name}:batch{result.batches_processed}",
                    f"pipeline {cfg.name} batch {result.batches_processed}",
                    False,
                )
                try:
                    stop = self._run_batch(spark, batch, result)
                finally:
                    sc.setJobGroup(None, None)  # type: ignore[arg-type]
                if stop:
                    break
                if (
                    cfg.max_batches is not None
                    and result.batches_processed >= cfg.max_batches
                ):
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

        result.elapsed_s = time.perf_counter() - t_start
        result.status = (
            StageStatus.SUCCESS if not result.errors else StageStatus.FAILED
        )  # P8
        self.hooks.fire("pipeline.complete", result=result)
        log.info(
            "pipeline complete",
            extra={"ctx_status": result.status.value, "ctx_elapsed": result.elapsed_s},
        )
        return result

    def _run_batch(
        self,
        spark: SparkSession,
        batch: TelemetryBatch,
        result: PipelineResult,
    ) -> bool:
        """Runs one batch through transformers + loader.

        Returns True if the run must stop (stop_on_error hit).
        """
        cfg = self.config
        observing = self._observing

        # groups[i] = observation over the output of stage boundary i
        # (0 = extractor output); deferred[(sr, in_idx, out_idx, fixed_out)]
        # is backfilled from harvested counts after the batch's action.
        # fixed_out (loader rows-written) overrides the observed out count.
        groups: list[ObservationGroup] = []
        deferred: list[tuple[StageResult, int, int, int | None]] = []

        if observing:
            g = ObservationGroup(f"b{result.batches_processed}:extract")
            batch = g.attach(batch)
            groups.append(g)
            n_in = -1
        else:
            n_in = self._count(batch)
            result.total_packets += max(n_in, 0)
            self.metrics.record_batch(max(n_in, 0))
        self.hooks.fire(
            "batch.extracted", batch=result.batches_processed, records=n_in
        )

        current = batch
        stopping = False
        for tr in self.transformers:
            tname = type(tr).__name__
            out, elapsed, exc = self._timed(tr, lambda t=tr, b=current: t.transform(b))
            if exc is None:
                if observing:
                    g = ObservationGroup(f"b{result.batches_processed}:{tname}")
                    out = g.attach(out, upstream=groups[-1])
                    groups.append(g)
                    sr = StageResult(tname, StageStatus.SUCCESS, elapsed, -1, -1)
                    result.stage_results.append(sr)
                    deferred.append((sr, len(groups) - 2, len(groups) - 1, None))
                    n_out = -1
                else:
                    n_out = self._count(out)
                    result.stage_results.append(
                        StageResult(tname, StageStatus.SUCCESS, elapsed, n_in, n_out)
                    )
                    self.metrics.record_stage(
                        tname, elapsed_s=elapsed, records_in=n_in, records_out=n_out
                    )
                current = out
                n_in = n_out
            else:
                # P2: batch continues unchanged; remaining transformers of
                # this batch are skipped either way.
                sr = StageResult(
                    tname, StageStatus.FAILED, elapsed, n_in, n_in, str(exc)
                )
                result.stage_results.append(sr)
                if observing:
                    # in == out == upstream count (batch passes unchanged)
                    deferred.append((sr, len(groups) - 1, len(groups) - 1, None))
                result.errors.append(f"{tname}: {exc}")
                self.metrics.record_stage(tname, elapsed_s=elapsed, error=True)
                self.hooks.fire("stage.error", stage=tname, error=exc)
                if cfg.stop_on_error:
                    stopping = True
                break
        self.hooks.fire(
            "batch.transformed", batch=result.batches_processed, records=n_in
        )

        action_ran = False
        if not stopping:
            action_ran = self._load(spark, current, n_in, len(groups) - 1,
                                    groups, deferred, result)
            if action_ran is None:  # loader failed with stop_on_error
                stopping = True
                action_ran = False

        if observing:
            if action_ran:
                harvest_groups(groups, cfg.observe_timeout_s)
                dead = [g for g in groups if g.unresolved_sides]
                if dead:
                    if cfg.observe_dead_branch == "count":
                        for g in dead:
                            g.resolve_by_counting()
                    elif not self._warned_dead_branch:
                        self._warned_dead_branch = True
                        log.warning(
                            "observe-mode: %d stage boundary(ies) had a "
                            "DataFrame side the action never executed; "
                            "their counts read -1 (unknown). Set "
                            "observe_dead_branch='count' for a bounded "
                            "fallback count.",
                            len(dead),
                        )
            # backfill from whatever resolved (-1 where no action ran)
            counts = [g.rows for g in groups]
            result.total_packets += max(counts[0], 0)
            self.metrics.record_batch(max(counts[0], 0))
            for sr, i_in, i_out, fixed_out in deferred:
                sr.records_in = counts[i_in]
                sr.records_out = fixed_out if fixed_out is not None else counts[i_out]
                if sr.status is StageStatus.SUCCESS:
                    self.metrics.record_stage(
                        sr.stage_name,
                        elapsed_s=sr.elapsed_s,
                        records_in=max(counts[i_in], 0),
                        records_out=max(sr.records_out, 0),
                    )
        return stopping

    def _load(
        self,
        spark: SparkSession,
        current: TelemetryBatch,
        n_in: int,
        last_group: int,
        groups: list[ObservationGroup],
        deferred: list[tuple[StageResult, int, int, int | None]],
        result: PipelineResult,
    ) -> bool | None:
        """Returns True if an action ran, False if skipped, None on
        loader failure with stop_on_error."""
        cfg = self.config
        if self.loader is None or cfg.dry_run:
            if cfg.dry_run and self.loader is not None:
                # force the plan so transform-time errors still surface
                # (and, in observe mode, so the observations resolve)
                current.row_count()
                result.stage_results.append(
                    StageResult(type(self.loader).__name__, StageStatus.SKIPPED)
                )
                return True
            if self.loader is None and self._observing and groups:
                # no loader at all: nothing forces the plan; counts stay -1
                return False
            return False

        lname = type(self.loader).__name__
        out, elapsed, exc = self._timed(
            self.loader, lambda: self.loader.load(current)
        )
        if exc is None:
            n_loaded = out if isinstance(out, int) else n_in
            sr = StageResult(lname, StageStatus.SUCCESS, elapsed, n_in, n_loaded)
            result.stage_results.append(sr)
            if self._observing:
                # records_in backfills from the last observation; the
                # loader's integer return stays authoritative for out.
                fixed = out if isinstance(out, int) else None
                deferred.append((sr, last_group, last_group, fixed))
            else:
                self.metrics.record_stage(
                    lname, elapsed_s=elapsed,
                    records_in=max(n_in, 0), records_out=max(n_loaded, 0),
                )
            self.hooks.fire(
                "batch.loaded", batch=result.batches_processed, records=n_loaded
            )
            return True
        # P3
        result.stage_results.append(
            StageResult(lname, StageStatus.FAILED, elapsed, n_in, 0, str(exc))
        )
        result.errors.append(f"{lname}: {exc}")
        self.metrics.record_stage(lname, elapsed_s=elapsed, error=True)
        self.hooks.fire("stage.error", stage=lname, error=exc)
        if cfg.stop_on_error:
            return None
        return False
