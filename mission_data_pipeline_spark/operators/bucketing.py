"""Bucketed co-located joins and salted skew joins (SURVEY §2.4, §7.3).

Two shuffle-elimination strategies for the 100 TB path:

- **Bucketing**: write both sides of a recurring equi-join bucketed by
  the join key (`DataFrameWriter.bucketBy` + `saveAsTable`). Spark then
  plans the join with NO Exchange on either side — each bucket pair
  joins in place. This is the right shape for the packets ⋈ params and
  fact ⋈ fact joins that repeat every pipeline run; the one-time
  bucketed write amortizes across every later join, and bucket pruning
  applies to equality predicates on the bucket key.
- **Salted join**: when one side's key distribution is heavily skewed
  (one hot APID, one hot parameter name) and AQE's runtime skew-join
  splitting isn't available or the plan must be deterministic,
  replicate the small side ``n_salts`` times and scatter the big side's
  hot rows across ``(key, salt)`` — the hot key's rows spread over
  ``n_salts`` tasks instead of one straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["write_bucketed", "salted_join"]


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    keys: list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join keys.

    Sorting within buckets additionally removes the per-task Sort from
    later sort-merge joins — the scan feeds the join directly.
    ``path`` makes the table external (data at ``path`` instead of the
    session warehouse — callers who stage bucketed copies in a temp
    directory use this so nothing lands in the working directory).
    """
    writer = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *keys)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to a skewed key distribution on ``big``.

    ``small`` is exploded ``n_salts``× with a salt column; ``big`` rows
    get a deterministic salt from a hash of the whole row
    (``xxhash64(*columns)``), so a hot key's rows land on
    ``n_salts`` different reducers. Join keys become ``(on, salt)``.
    The ``n_salts``× replication of the small side is the price; use
    only when the small side is genuinely small and the big side's skew
    is the bottleneck (otherwise prefer AQE skew-join or a broadcast).

    Only big-side-preserving join types are accepted: under right/full
    outer joins every *unmatched* small-side row would surface once per
    salt replica (n_salts duplicate null-padded rows).
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "leftsemi",
               "left_semi", "semi", "leftanti", "left_anti", "anti"}
    if how.lower().replace("_", "") not in {a.replace("_", "") for a in allowed}:
        raise ValueError(
            f"salted_join supports {sorted(allowed)} only, not {how!r}: "
            "the small side is replicated per salt, so right/full outer "
            "joins would emit each unmatched small-side row n_salts times"
        )
    spread = F.xxhash64(*[F.col(c) for c in big.columns])
    salted_big = big.withColumn("__salt", F.pmod(spread, F.lit(n_salts)))
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    out = salted_big.join(salted_small, [on, "__salt"], how)
    return out.drop("__salt")
