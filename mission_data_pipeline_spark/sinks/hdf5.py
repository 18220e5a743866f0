"""HDF5 sink (driver-side export utility).

Parity: reference ``src/mdp/plugins/loaders/hdf5.py:50-134`` — group
layout ``/telemetry/<param>/{time_tai, apid, seq_count, validity,
eng_value}``, gzip level 4, resizable datasets appended across calls
(``maxshape=(None,)``), numeric-coercion fallback to an
``eng_value_str`` string dataset, per-parameter ``unit`` group attr.

HDF5 has no distributed writer, so this is explicitly a **driver-side
boundary** (SURVEY §4.2): samples stream to the driver via
``toLocalIterator`` one Spark partition at a time — the driver holds at
most one partition, never the dataset. For 100 TB stay in Parquet; this
exists for tool compatibility at export scale.

``h5py`` is preferred when importable; without it the sink falls back
to :mod:`~mission_data_pipeline_spark.sinks.hdf5_pure` — a pure-Python
writer/reader for the classic-format subset this layout needs (v0
superblock, symbol-table groups, gzip-chunked 1-D datasets, attrs),
built from the public HDF5 File Format Specification the same way the
PNG/JPEG/ADPCM codecs were. Files written either way follow the same
public spec; the pure path is read-back-verified in tests.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mission_data_pipeline_spark.sinks import hdf5_pure

try:  # optional dependency, preferred when present
    import h5py  # type: ignore
except ImportError:  # pragma: no cover - exercised only without h5py
    h5py = None  # type: ignore[assignment]

_NUMERIC_COLS = ["time_tai", "apid", "seq_count", "validity", "eng_value"]
_DTYPES = {
    "time_tai": "f8",
    "apid": "i4",
    "seq_count": "i4",
    "validity": "i1",
    "eng_value": "f8",
}


def _append(group: Any, dset_name: str, values: Any, dtype: str) -> None:
    arr = np.asarray(values, dtype=dtype)
    if dset_name in group:
        d = group[dset_name]
        n = d.shape[0]
        d.resize(n + arr.shape[0], axis=0)
        d[n:] = arr
    else:
        group.create_dataset(
            dset_name,
            data=arr,
            maxshape=(None,),
            compression="gzip",
            compression_opts=4,
        )


def write_hdf5(
    params: DataFrame,
    out_path: str,
    *,
    mode: str = "a",
    chunk_rows: int = 500_000,
    _h5: Any = None,
) -> int:
    """Export tidy samples to one HDF5 file on the driver; returns the
    number of rows written.

    ``mode="a"`` appends into existing resizable datasets (the
    reference's cross-batch append, ``hdf5.py:111-126``); ``mode="w"``
    truncates. Non-numeric ``eng_value`` samples (where the engine
    carried the value in ``eng_value_str``) land in a parallel
    ``eng_value_str`` string dataset (``hdf5.py:94-99,128-134``).

    PRACTICAL CEILING (measured, r14 ``hdf5_ceiling_probe``): this is
    a DRIVER-SIDE export by design — one POSIX file, no parallel
    writer without MPI-enabled h5py — streaming rows through
    ``toLocalIterator`` at ~6.1k rows/s (1M rows = 164 s; driver RSS
    +230 MB at the default 500k-row chunk; sf0.01 fixture scale runs
    at ~1.4k rows/s because session fixed costs dominate). Rule of
    thumb: HDF5 is the analyst-extract sink — fine to ~1M rows
    (minutes), use the parquet sink beyond ~10M rows (half an hour of
    single-threaded driver time and climbing linearly). Lower
    ``chunk_rows`` to trade wall for a smaller driver RSS envelope.

    ``_h5`` injects an alternate h5py-compatible backend (tests);
    production resolution is h5py when importable, else the pure-Python
    spec-subset writer (``sinks/hdf5_pure.py``).
    """
    h5 = _h5 if _h5 is not None else (h5py if h5py is not None else hdf5_pure)
    cols = ["name", "unit", "eng_value_str", *_NUMERIC_COLS]
    have = [c for c in cols if c in params.columns]
    it = params.select(
        *[
            F.col(c) if c in have else F.lit(None).alias(c)
            for c in cols
        ]
    ).toLocalIterator(prefetchPartitions=True)

    with h5.File(out_path, mode) as f:
        tele = f.require_group("telemetry")
        buf: dict[str, list] = defaultdict(list)

        def flush() -> None:
            for pname, rows in buf.items():
                g = tele.require_group(pname)
                numeric = [r for r in rows if r["eng_value"] is not None]
                stringy = [r for r in rows if r["eng_value"] is None]
                if numeric:
                    for c in _NUMERIC_COLS:
                        _append(
                            g,
                            c,
                            [
                                (r[c] if r[c] is not None else 0)
                                if c != "validity"
                                else (1 if r[c] else 0)
                                for r in numeric
                            ],
                            _DTYPES[c],
                        )
                if stringy:
                    vals = np.asarray(
                        [r["eng_value_str"] or "" for r in stringy],
                        dtype=h5.string_dtype(),
                    )
                    _append(g, "eng_value_str", vals, vals.dtype)
                unit = next((r["unit"] for r in rows if r["unit"]), None)
                if unit and "unit" not in g.attrs:
                    g.attrs["unit"] = unit
            buf.clear()

        n = 0
        for row in it:
            buf[row["name"]].append(row)
            n += 1
            if n % chunk_rows == 0:
                flush()
        flush()
    return n
