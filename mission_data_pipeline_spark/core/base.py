"""Stage ABCs and the batch contract.

Parity: reference ``src/mdp/core/base.py:55-212`` — ``Extractor /
Transformer / Loader`` ABCs, Pydantic configs validated at construction
(``base.py:62-66``), ``setup()/teardown()`` lifecycle (``:75-79``).

The Spark restatement: a stage body manipulates *lazy DataFrames*.
``Transformer.transform`` maps batch→batch by extending the logical
plan; nothing executes until a Loader (or an explicit count) forces an
action, so the chain compiles to one Catalyst plan per batch. The
reference's custom-plugin story ("any class implementing the ABC",
``README.md`` §Extending MDP) carries over unchanged — a custom
Transformer is just a DataFrame→DataFrame function with a config.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Any, ClassVar

from pydantic import BaseModel
from pyspark.sql import DataFrame, SparkSession


class StageConfig(BaseModel):
    """Base config: Pydantic v2, validated at construction, frozen."""

    model_config = {"frozen": True, "extra": "forbid"}


@dataclass
class TelemetryBatch:
    """The dataset contract between stages (two DataFrames + metadata).

    ``packets`` and/or ``params`` may be None when a stage has not
    produced that side yet (e.g. a binary extractor yields packets only;
    decom fills params).

    ``metadata["first_write"]`` is set by the Pipeline on the batch it
    hands the loader: True for a run's first batch only. A loader
    configured to overwrite its target truncates only then (a batch
    loaded outside a Pipeline counts as a first write).
    """

    packets: DataFrame | None = None
    params: DataFrame | None = None
    metadata: dict[str, Any] = field(default_factory=dict)

    def row_count(self) -> int:
        """Rows across both sides — forces an action; used only by a
        ``dry_run`` pipeline, which runs no loader but still forces the
        plan so transform errors surface."""
        n = 0
        if self.packets is not None:
            n += self.packets.count()
        if self.params is not None:
            n += self.params.count()
        return n

    def with_metadata(self, **kv: Any) -> TelemetryBatch:
        return TelemetryBatch(
            packets=self.packets,
            params=self.params,
            metadata={**self.metadata, **kv},
        )


class Stage(ABC):
    """Common lifecycle: construct(config) → setup → invoke* → teardown."""

    name: ClassVar[str] = "stage"
    config_model: ClassVar[type[StageConfig]] = StageConfig

    def __init__(self, config: StageConfig | dict | None = None) -> None:
        if config is None:
            config = self.config_model()
        elif isinstance(config, dict):
            config = self.config_model(**config)
        self.config = config

    def setup(self) -> None:  # pragma: no cover - default no-op
        pass

    def teardown(self) -> None:  # pragma: no cover - default no-op
        pass


class Extractor(Stage):
    """Yields TelemetryBatch micro-batches from a source."""

    @abstractmethod
    def extract(self, spark: SparkSession) -> Iterator[TelemetryBatch]: ...


class Transformer(Stage):
    """Maps batch → batch (lazily — extends the plan)."""

    @abstractmethod
    def transform(self, batch: TelemetryBatch) -> TelemetryBatch: ...


class Loader(Stage):
    """Forces the plan: writes the batch to a sink, returns rows written."""

    @abstractmethod
    def load(self, batch: TelemetryBatch) -> int: ...
