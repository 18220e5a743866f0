"""Binary field decoding: one numpy kernel over Arrow payload buffers.

Behavioral parity with the reference decode table
(``src/mdp/plugins/transformers/decom.py:21-32,104-124``), which decodes
packet by packet with ``struct.unpack``: unsigned and two's-complement
integers at any byte width up to 8 (3-byte fields included), IEEE-754
float32/64, boolean (first-byte truthiness), ASCII string with
trailing-NUL strip, raw binary as uppercase hex, both endiannesses.

:class:`Payloads` reads a binary Arrow column's offsets and data buffers
as numpy arrays. A field decode gathers the field's bytes for every
selected row with one fancy index (``offsets[row] + byte_offset``) and
assembles the values with shifts and dtype views: no Python object per
numeric value and no string round trip. Callers run it inside
``mapInArrow`` (``operators/decom.py``), so the payload column crosses
the Python boundary once per batch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Field kinds and the Arrow type each decodes to.
KINDS = {
    "uint": pa.uint64(),
    "int": pa.int64(),
    "float": pa.float64(),
    "bool": pa.bool_(),
    "string": pa.string(),
    "hex": pa.string(),
}

_HEX_DIGITS = np.frombuffer(b"0123456789ABCDEF", dtype=np.uint8)
_EIGHT = np.uint64(8)


class Payloads:
    """numpy view of a ``binary`` or ``large_binary`` Arrow array.

    ``starts[i]`` is row ``i``'s first byte in ``values``; ``lengths[i]``
    is its byte count, or -1 for a null row, so no field ever fits it.
    Sliced arrays (``offset != 0``) are read through their own offsets.
    """

    def __init__(self, data: pa.Array):
        if pa.types.is_large_binary(data.type):
            off_type = np.dtype(np.int64)
        elif pa.types.is_binary(data.type):
            off_type = np.dtype(np.int32)
        else:
            raise TypeError(f"expected a binary Arrow array, got {data.type}")
        n = len(data)
        _, offsets_buf, values_buf = data.buffers()
        if n:
            offsets = np.frombuffer(
                offsets_buf,
                dtype=off_type,
                count=n + 1,
                offset=data.offset * off_type.itemsize,
            ).astype(np.int64)
        else:
            offsets = np.zeros(1, dtype=np.int64)
        self.values = (
            np.frombuffer(values_buf, dtype=np.uint8)
            if values_buf is not None
            else np.empty(0, dtype=np.uint8)
        )
        self.starts = offsets[:-1]
        self.lengths = np.diff(offsets)
        if data.null_count:
            self.lengths[data.is_null().to_numpy(zero_copy_only=False)] = -1

    def fits(self, byte_offset: int, n_bytes: int) -> np.ndarray:
        """Rows whose payload holds ``n_bytes`` at ``byte_offset``."""
        return self.lengths >= byte_offset + n_bytes

    def decode(
        self,
        kind: str,
        byte_offset: int,
        n_bytes: int,
        little_endian: bool = False,
        rows: np.ndarray | None = None,
    ) -> pa.Array:
        """Decode one field from ``rows`` (every row by default).

        Returns an Arrow array of ``KINDS[kind]``, one value per selected
        row, null where the payload is null or shorter than
        ``byte_offset + n_bytes``. ``uint`` and ``int`` take 1-8 bytes,
        ``float`` 4 or 8, ``bool`` reads the field's first byte.
        """
        _check_field(kind, byte_offset, n_bytes)
        if rows is None:
            rows = np.arange(len(self.lengths))
        ok = self.lengths[rows] >= byte_offset + n_bytes
        if ok.all():
            return self._decode_fitting(kind, byte_offset, n_bytes, little_endian, rows)
        got = self._decode_fitting(kind, byte_offset, n_bytes, little_endian, rows[ok])
        # scatter back: a null take index gives a null value
        at = np.cumsum(ok) - 1
        return got.take(pa.array(np.maximum(at, 0), mask=~ok))

    def _bytes(
        self, rows: np.ndarray, byte_offset: int, n_bytes: int, little_endian: bool
    ) -> np.ndarray:
        """``(len(rows), n_bytes)`` uint8 field bytes, most significant
        first; every row must fit."""
        cols = np.arange(n_bytes)
        if little_endian:
            cols = cols[::-1]
        return self.values[(self.starts[rows] + byte_offset)[:, None] + cols]

    def _decode_fitting(
        self,
        kind: str,
        byte_offset: int,
        n_bytes: int,
        little_endian: bool,
        rows: np.ndarray,
    ) -> pa.Array:
        if kind == "bool":
            return pa.array(self._bytes(rows, byte_offset, 1, False)[:, 0] != 0)
        m = self._bytes(rows, byte_offset, n_bytes, little_endian)
        if kind == "string":
            flat, k = m.tobytes(), len(rows)
            return pa.array(
                [
                    flat[i * n_bytes : (i + 1) * n_bytes]
                    .decode("ascii", errors="replace")
                    .rstrip("\x00")
                    for i in range(k)
                ],
                pa.string(),
            )
        if kind == "hex":
            return _hex_strings(m)
        u = np.zeros(len(rows), dtype=np.uint64)
        for j in range(n_bytes):
            u = (u << _EIGHT) | m[:, j]
        if kind == "uint":
            return pa.array(u, pa.uint64())
        if kind == "int":
            if n_bytes == 8:
                return pa.array(u.view(np.int64))
            v = u.astype(np.int64)
            bits = 8 * n_bytes
            v[v >= 1 << (bits - 1)] -= 1 << bits
            return pa.array(v)
        # float: reinterpret the bit pattern
        if n_bytes == 4:
            # a signalling-NaN pattern widens to a quiet NaN; not an error
            with np.errstate(invalid="ignore"):
                return pa.array(u.astype(np.uint32).view(np.float32).astype(np.float64))
        return pa.array(u.view(np.float64))


def _check_field(kind: str, byte_offset: int, n_bytes: int) -> None:
    if kind not in KINDS:
        raise ValueError(f"unknown field kind {kind!r}; expected one of {sorted(KINDS)}")
    if byte_offset < 0:
        raise ValueError(f"byte_offset must be >= 0, got {byte_offset}")
    if n_bytes < 1:
        raise ValueError(f"n_bytes must be >= 1, got {n_bytes}")
    if kind in ("uint", "int") and n_bytes > 8:
        raise ValueError(f"{kind} fields are at most 8 bytes, got {n_bytes}")
    if kind == "float" and n_bytes not in (4, 8):
        raise ValueError(f"float width must be 4 or 8 bytes, got {n_bytes}")


def _hex_strings(m: np.ndarray) -> pa.Array:
    """Uppercase hex string per row of a ``(k, n)`` uint8 matrix, built
    straight into an Arrow string array's buffers."""
    k, n = m.shape
    digits = np.empty((k, 2 * n), dtype=np.uint8)
    digits[:, 0::2] = _HEX_DIGITS[m >> 4]
    digits[:, 1::2] = _HEX_DIGITS[m & 0xF]
    offsets = np.arange(0, 2 * n * (k + 1), 2 * n, dtype=np.int64)
    return pa.Array.from_buffers(
        pa.large_string(),
        k,
        [None, pa.py_buffer(offsets), pa.py_buffer(digits)],
    ).cast(pa.string())


def tai_time(source_time_tai: Column, seq_count: Column) -> Column:
    """Sample-time fallback: source TAI else float(seq_count)
    (reference ``decom.py:127-131``)."""
    return F.coalesce(source_time_tai, seq_count.cast("double"))
