"""``df.observe``-based row accounting (R3, SURVEY §2.8).

Parity: reference ``src/mdp/observability/metrics.py:60-77`` feeds
``record_stage`` with per-stage record counts. The reference is eager
(pandas frames — ``len(df)`` is free); a naive Spark translation forces
``count()`` per stage, which re-executes every batch's plan once per
stage (a 3-transformer batch runs the scan ~7x). The Spark-first
mechanism is `CollectMetrics`: attach ``df.observe(name, count(*))`` to
each stage's output DataFrames and harvest the counts as a *side effect
of the batch's single action* (the loader's write / collect). The
shipped loaders count the rows they write the same way
(:func:`observe_rows`), so a batch through them runs one Spark job and
one scan; counts are exact, not sampled.

A side a transformer passes through unchanged keeps the observation of
the stage that first observed it: a fresh wrapper around it would sit
on a plan branch no action executes. Only a side that no action reads
at all (e.g. a packets side the loader never touches, with no params
derived from it) is backfilled, with one ``count()`` job.

Harvest is **non-blocking**: :meth:`pyspark.sql.Observation.get` blocks
forever on a DataFrame branch the action never executed, so we go
through the JVM ``Observation.getRowOrEmpty`` (an ``Option[Row]``)
instead and report ``-1`` (unknown) for branches that saw no action.
A bounded poll loop absorbs the listener-bus notification delay, which
is normally sub-millisecond after the action returns.
"""

from __future__ import annotations

import logging
import time
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mission_data_pipeline_spark.core.base import TelemetryBatch

log = logging.getLogger("mission_data_pipeline_spark.observe")

_warned_private_api = False


def observe_rows(df: DataFrame, tag: str) -> tuple[DataFrame, Observation]:
    """``df`` with a ``count(*)`` observation attached, and the
    observation, which holds the row count of the first action run on
    the returned DataFrame (:func:`observed_rows`)."""
    obs = Observation(f"mdps:{tag}:{uuid.uuid4().hex[:8]}")
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def observed_rows(df: DataFrame, obs: Observation) -> int:
    """Rows the first action on ``df`` (from :func:`observe_rows`) saw;
    a ``count()`` of ``df`` when Spark delivered no count for it."""
    row = _row_or_none(obs)
    return int(row["rows"]) if row is not None else df.count()


def _row_or_none(obs: Observation) -> dict | None:
    """Non-blocking harvest of one Observation; None if no action yet.

    Uses the JVM ``getRowOrEmpty`` bridge (same decode path as PySpark's
    own blocking ``Observation.get``). If a future PySpark reshuffles the
    private surface we degrade to "unknown" rather than blocking a
    pipeline on a dead branch.
    """
    global _warned_private_api
    try:
        jopt = obs._jo.getRowOrEmpty()  # noqa: SLF001
        if not jopt.isDefined():
            return None
        jrow = jopt.get()
        if jrow.length() == 0:
            # The action ran but its optimized plan kept no node for this
            # observation (Spark folds some plans over a provably empty
            # input, e.g. a pivot's distinct-values query): no count came.
            return None
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"  # noqa: SLF001
        )
        return CPickleSerializer().loads(utils.toPyRow(jrow)).asDict()
    except Exception:  # noqa: BLE001 - private-API drift → unknown, not a crash
        if not _warned_private_api:
            _warned_private_api = True
            log.warning(
                "Observation.getRowOrEmpty bridge unavailable; "
                "observe-mode record counts will read as -1 (unknown). "
                "Set count_method='count' for exact legacy accounting."
            )
        return None


class _Side:
    """One observed DataFrame and its row count, once known."""

    def __init__(self, df: DataFrame, tag: str) -> None:
        self.df, self.obs = observe_rows(df, tag)
        self.rows: int | None = None

    def poll(self) -> None:
        if self.rows is None:
            row = _row_or_none(self.obs)
            if row is not None:
                self.rows = int(row["rows"])


class ObservationGroup:
    """Row-count observations over both sides of one TelemetryBatch.

    Each side (packets / params) resolves independently, so a batch
    whose action only touched one side still reports that side's exact
    count; the dead side can be backfilled with a bounded ``count()``
    via :meth:`resolve_by_counting` (one extra batch-sized job) instead
    of silently reading -1.
    """

    def __init__(self, tag: str) -> None:
        self.tag = tag
        self._sides: list[_Side] = []

    def attach(
        self, batch: TelemetryBatch, upstream: ObservationGroup | None = None
    ) -> TelemetryBatch:
        """Observe both sides of ``batch``. A side that is the very
        DataFrame ``upstream`` returned (passed through unchanged)
        shares ``upstream``'s observation and count."""
        shared = upstream._sides if upstream else []

        def observed(df: DataFrame | None, side: str) -> DataFrame | None:
            if df is None:
                return None
            s = next((u for u in shared if u.df is df), None)
            if s is None:
                s = _Side(df, f"{self.tag}:{side}")
            self._sides.append(s)
            return s.df

        return TelemetryBatch(
            packets=observed(batch.packets, "packets"),
            params=observed(batch.params, "params"),
            metadata=batch.metadata,
        )

    def try_resolve(self) -> bool:
        """One non-blocking poll; caches per-side counts as they land."""
        for s in self._sides:
            s.poll()
        return not self.unresolved_sides

    def resolve_by_counting(self) -> int:
        """Backfill any still-unresolved side with a direct bounded
        ``count()`` (one batch-sized job per dead side) and return the
        total. The fallback for dead branches the action never ran."""
        for s in self._sides:
            if s.rows is None:
                s.rows = s.df.count()
        return self.rows

    @property
    def unresolved_sides(self) -> int:
        return sum(s.rows is None for s in self._sides)

    @property
    def rows(self) -> int:
        """Harvested count, or -1 if (part of) the batch saw no action."""
        if self._sides and not self.unresolved_sides:
            return sum(s.rows for s in self._sides)
        return -1


def harvest_groups(groups: list[ObservationGroup], timeout_s: float) -> None:
    """Resolve as many groups as possible within ``timeout_s``.

    The listener bus normally delivers metrics before the action call
    returns, so the fast path is a single zero-sleep sweep. Every sweep
    polls every group, so one group with a dead side (never executed,
    stays unresolved and reads -1) does not hide the live counts of the
    groups after it.
    """
    deadline = time.monotonic() + timeout_s
    while True:
        if all([g.try_resolve() for g in groups]):
            return
        if time.monotonic() >= deadline:
            return
        time.sleep(0.02)
