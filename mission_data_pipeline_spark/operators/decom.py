"""Decommutation: packets_df → tidy params_df.

Parity: reference ``src/mdp/plugins/transformers/decom.py:55-124`` —
per-APID parameter definitions slice typed fields out of ``user_data``;
out-of-range slices are silently skipped; unknown APIDs are skipped (or
rejected when ``skip_unknown_apids=False``); ``eng_value`` initializes
to the raw value (hex string for BINARY).

Spark-first shape: **one scan, no shuffle**. ``apid``, ``seq_count``,
``source_time_tai`` and ``user_data`` go through one ``mapInArrow``
whose body is the numpy decode kernel (``functions/decode.py``): per
definition it masks the rows of that APID whose payload holds the field,
gathers the field's bytes straight out of the Arrow buffers and emits
one row per (packet, matching definition). The constant columns are a
Catalyst ``select`` after it. Contrast with the naive per-definition
``filter → select → union`` shape, which rescans the source N times.

At 100 TB: the decom output inherits the scan's partitioning; no
repartition happens until an aggregation asks for one. The definition
"join" (reference's ``_apid_map`` dict lookup, ``decom.py:61-64``) is
plan metadata shipped with the kernel — the MIB is config, not data,
which is what a broadcast hash join would do but with zero build side.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from functools import partial
from math import ceil

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from mission_data_pipeline_spark.functions.decode import Payloads, tai_time


class ParameterType(str, Enum):
    UINT = "uint"
    INT = "int"
    FLOAT = "float"
    DOUBLE = "double"
    BOOLEAN = "boolean"
    ENUMERATED = "enumerated"
    BINARY = "binary"
    STRING = "string"


_INTEGER_TYPES = (ParameterType.UINT, ParameterType.INT, ParameterType.ENUMERATED)


@dataclass(frozen=True)
class ParameterDefinition:
    """MIB-style physical layout of one parameter within an APID's
    user data (reference ``decom.py:35-47``)."""

    name: str
    apid: int
    byte_offset: int
    bit_length: int
    param_type: ParameterType = ParameterType.UINT
    unit: str | None = None
    little_endian: bool = False
    description: str | None = None

    def __post_init__(self) -> None:
        try:
            object.__setattr__(self, "param_type", ParameterType(self.param_type))
        except ValueError:
            raise ValueError(
                f"parameter {self.name!r}: unknown param_type {self.param_type!r}"
            ) from None
        # the kernel gathers by absolute buffer index: a negative offset
        # would read the previous packet's bytes
        if self.byte_offset < 0:
            raise ValueError(
                f"parameter {self.name!r}: byte_offset must be >= 0, "
                f"got {self.byte_offset}"
            )
        if self.bit_length < 1:
            raise ValueError(
                f"parameter {self.name!r}: bit_length must be >= 1, "
                f"got {self.bit_length}"
            )
        if self.param_type in _INTEGER_TYPES and self.bit_length > 64:
            raise ValueError(
                f"parameter {self.name!r}: {self.param_type.value} fields are "
                f"at most 64 bits, got {self.bit_length}"
            )

    @property
    def n_bytes(self) -> int:
        return ceil(self.bit_length / 8)

    def kernel_field(self) -> tuple[str, int]:
        """(decode kind, bytes read): floats read 4 or 8 bytes whatever
        their bit length, so a float whose payload ends early is null."""
        kind, width = _KERNEL_FIELD[self.param_type]
        return kind, width or self.n_bytes


#: decode kind per type, and the bytes it reads when the type fixes them
_KERNEL_FIELD = {
    ParameterType.UINT: ("uint", None),
    ParameterType.ENUMERATED: ("uint", None),
    ParameterType.INT: ("int", None),
    ParameterType.FLOAT: ("float", 4),
    ParameterType.DOUBLE: ("float", 8),
    ParameterType.BOOLEAN: ("bool", None),
    ParameterType.STRING: ("string", None),
    ParameterType.BINARY: ("hex", None),
}

_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("apid", T.IntegerType()),
        T.StructField("seq_count", T.IntegerType()),
        T.StructField("source_time_tai", T.DoubleType()),
        T.StructField("raw_value", T.DoubleType()),
        T.StructField("raw_value_str", T.StringType()),
        T.StructField("unit", T.StringType()),
    ]
)
_KERNEL_ARROW_SCHEMA = to_arrow_schema(_KERNEL_SCHEMA)


def decom_batch(
    batch: pa.RecordBatch,
    definitions: list[ParameterDefinition],
    known_apids: np.ndarray | None = None,
) -> pa.RecordBatch:
    """One Arrow batch of packets (``apid``, ``seq_count``,
    ``source_time_tai``, ``user_data``) → its parameter rows, grouped by
    definition and in packet order within one.

    ``known_apids`` set: a packet of any other APID raises
    ``ValueError("unknown APID: <n>")``. A null APID matches nothing.
    """
    apid = batch.column("apid").fill_null(-1).to_numpy()
    if known_apids is not None:
        unknown = (apid >= 0) & ~np.isin(apid, known_apids)
        if unknown.any():
            raise ValueError(f"unknown APID: {int(apid[unknown][0])}")
    payloads = Payloads(batch.column("user_data"))
    rows, defs, raw, raw_str = [], [], [], []
    for i, d in enumerate(definitions):
        sel = np.flatnonzero((apid == d.apid) & payloads.fits(d.byte_offset, d.n_bytes))
        if not len(sel):
            continue
        kind, width = d.kernel_field()
        value = payloads.decode(kind, d.byte_offset, width, d.little_endian, sel)
        rows.append(sel)
        defs.append(np.full(len(sel), i))
        if pa.types.is_string(value.type):
            raw.append(pa.nulls(len(sel), pa.float64()))
            raw_str.append(value)
        else:
            raw.append(value.cast(pa.float64(), safe=False))
            raw_str.append(pa.nulls(len(sel), pa.string()))
    if not rows:
        return pa.RecordBatch.from_pylist([], schema=_KERNEL_ARROW_SCHEMA)
    take = pa.array(np.concatenate(rows))
    which = pa.array(np.concatenate(defs))
    return pa.RecordBatch.from_arrays(
        [
            pa.array([d.name for d in definitions], pa.string()).take(which),
            batch.column("apid").take(take),
            batch.column("seq_count").take(take),
            batch.column("source_time_tai").take(take),
            pa.concat_arrays(raw),
            pa.concat_arrays(raw_str),
            pa.array([d.unit for d in definitions], pa.string()).take(which),
        ],
        schema=_KERNEL_ARROW_SCHEMA,
    )


def _decom_batches(batches, definitions, known_apids):
    """mapInArrow body: packet batches in, parameter batches out."""
    for b in batches:
        yield decom_batch(b, definitions, known_apids)


def decommutate(
    packets: DataFrame,
    definitions: list[ParameterDefinition],
    *,
    skip_unknown_apids: bool = True,
) -> DataFrame:
    """Extract one tidy parameter row per (packet, matching definition)."""
    known = None
    if not skip_unknown_apids:
        # The reference raises KeyError per packet; here the kernel raises
        # when the batch holding the first unknown packet is decoded.
        known = np.array(sorted({d.apid for d in definitions}), dtype=np.int64)
    decoded = packets.select(
        F.col("apid").cast("int"),
        F.col("seq_count").cast("int"),
        F.col("source_time_tai").cast("double"),
        F.col("user_data"),
    ).mapInArrow(
        partial(_decom_batches, definitions=list(definitions), known_apids=known),
        schema=_KERNEL_SCHEMA,
    )
    return decoded.select(
        F.col("name"),
        F.col("apid"),
        F.col("seq_count"),
        tai_time(F.col("source_time_tai"), F.col("seq_count")).alias("time_tai"),
        F.col("raw_value"),
        F.col("raw_value_str"),
        # eng value initialises to raw; hex string for BINARY (decom.py:100)
        F.col("raw_value").alias("eng_value"),
        F.col("raw_value_str").alias("eng_value_str"),
        F.col("unit"),
        F.lit(True).alias("validity"),
        F.lit(None).cast("string").alias("calibration_id"),
        F.lit(False).alias("out_of_limit"),
        F.lit(0).alias("alarm_level"),
    )
