"""Streaming near-dedup ingest gate — the nightly crawl loop as a
Structured Streaming job (VERDICT r08 item 7; composes the stored LSH
band index of ``operators/dedup.py write_near_dedup_index`` with
``foreachBatch``).

Every micro-batch of incoming documents is first near-deduped WITHIN
itself (``near_dedup_minhash`` — duplicate clusters keep their smallest
id; required because a micro-batch may span several source files, e.g.
after a restart coalesces pending files, and the index only knows docs
from EARLIER epochs), then gated against the corpus's MATERIALIZED
band index: only the batch featurizes
(``incremental_near_dedup(corpus_bands=..., corpus_grams=...)``),
survivors land in the output table, and the survivors' own band
signatures and gram sets are appended as index DELTAS so a
near-duplicate of a doc accepted three batches ago is caught too,
without ever re-featurizing the corpus.

Exactly-once across crashes WITHOUT a transactional table format:
``foreachBatch`` may replay an epoch whose sink writes half-landed
before a crash, so every write is an idempotent per-epoch OVERWRITE —
``{out}/epoch=N/`` for survivors, ``{index}/delta/epoch=N/{bands,grams}``
for the index deltas — and the set of COMMITTED deltas is named by the
index's atomic ``manifest.json`` (``operators/dedup.py
read_index_manifest``), not a directory listing. The gate reads the
manifest's delta epochs minus the epoch being processed (the current
epoch's delta derives from the very batch being gated — including it
would let a batch near-dup itself; a half-written current-epoch delta
from an aborted attempt is likewise excluded, then overwritten), writes
its delta, and only then registers the epoch in the manifest with an
atomic swap.

Compaction (:func:`compact_near_dedup_index`) is the transactional
piece: it folds only delta epochs the STREAM'S CHECKPOINT has actually
committed (the ``commits/`` log — folding an uncommitted epoch would,
after a crash-and-replay, gate the replayed batch against its own
signatures and silently drop every document as a self-duplicate),
writes the folded base as a NEW immutable version directory, publishes
the new manifest atomically, and garbage-collects the old version
last — so a concurrent probe resolves either the old or the new
version in full, never a half-folded mix. At real scale this whole
layer is a transactional table format (Delta/Iceberg MERGE +
OPTIMIZE); the manifest protocol is the minimal local-filesystem
equivalent, and the gating joins are already the scale shape — shuffle
∝ batch + collisions, never batch × corpus.

The reference pipeline (northflowlabs/mission-data-pipeline) has no
streaming ingest or dedup; this extends the W1/X2 surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from mission_data_pipeline_spark.operators.dedup import (
    band_signatures,
    incremental_near_dedup,
    _build_manifest,
    jaccard_verify,
    lsh_pairs_from_bands,
    manifest_base_dirs,
    minhash_signatures,
    read_index_manifest,
    read_near_dedup_index,
    shingles,
    write_index_manifest,
)

__all__ = [
    "compact_near_dedup_index",
    "gc_near_dedup_index",
    "last_committed_epoch",
    "near_dedup_ingest_stream",
]


def last_committed_epoch(checkpoint: str) -> int:
    """Highest batch id in a Structured Streaming checkpoint's
    ``commits/`` log (-1 if none). An epoch's delta may exist on disk
    while the epoch itself never committed (crash between the delta
    write and the checkpoint commit); only the commit log can tell the
    two apart, and compaction must not fold the uncommitted one."""
    commits = os.path.join(checkpoint, "commits")
    last = -1
    if os.path.isdir(commits):
        for name in os.listdir(commits):
            if name.isdigit():
                last = max(last, int(name))
    return last


def gc_near_dedup_index(index_path: str) -> dict:
    """Remove index artifacts the current manifest does not reference:
    superseded base version directories (``bands-v*``/``grams-v*``),
    folded or orphaned delta epoch directories, and leftover temp
    files. Safe to run any time — the manifest is read first, so only
    unreachable state is touched; a crash between a compaction's
    manifest publish and its GC simply leaves garbage this call
    removes. Returns ``{"removed": [relative paths]}``."""
    import shutil

    m = read_index_manifest(index_path)
    keep = set(manifest_base_dirs(m))
    removed = []
    for name in sorted(os.listdir(index_path)):
        if (
            (name.startswith("bands-v") or name.startswith("grams-v"))
            and name not in keep
        ):
            shutil.rmtree(os.path.join(index_path, name), ignore_errors=True)
            removed.append(name)
    delta_root = os.path.join(index_path, "delta")
    live = {f"epoch={e}" for e in m.get("delta_epochs", [])}
    if os.path.isdir(delta_root):
        for name in sorted(os.listdir(delta_root)):
            if name not in live:
                shutil.rmtree(
                    os.path.join(delta_root, name), ignore_errors=True
                )
                removed.append(os.path.join("delta", name))
        if not os.listdir(delta_root):
            os.rmdir(delta_root)
    return {"removed": removed}


def compact_near_dedup_index(
    spark, index_path: str, *, checkpoint: str | None = None
) -> dict:
    """Fold committed streaming delta epochs into the base index — the
    nightly OPTIMIZE for the ingest gate. Transactional against
    concurrent probes via the manifest protocol:

    1. resolve the current manifest (base version V, delta epochs);
    2. keep only delta epochs the stream's checkpoint has COMMITTED
       (``checkpoint`` is required whenever deltas exist: folding an
       epoch whose commit never landed would — after the stream
       replays it — gate the batch against its own signatures and
       silently drop every doc as a self-duplicate);
    3. write base ∪ folded-deltas as NEW immutable ``bands-v{V+1}`` /
       ``grams-v{V+1}`` directories (a crash here leaves the manifest
       pointing at V — rerun overwrites);
    4. atomically publish the new manifest (version V+1, unfolded
       epochs carried over) — the commit point;
    5. garbage-collect the old version and folded deltas LAST (after a
       crash between publish and GC the index stays fully readable, and
       :func:`gc_near_dedup_index` cleans up later).

    Returns ``{"epochs_folded": n, "epochs_skipped_uncommitted": [...],
    "version": v}``.
    """
    m = read_index_manifest(index_path)
    epochs = sorted(m.get("delta_epochs", []))
    if not epochs:
        gc_near_dedup_index(index_path)
        return {
            "epochs_folded": 0,
            "epochs_skipped_uncommitted": [],
            "version": m["version"],
        }
    if checkpoint is None:
        raise ValueError(
            "compact_near_dedup_index: delta epochs exist but no "
            "checkpoint= was passed — the stream's commits/ log is the "
            "only way to tell a committed delta from one whose epoch "
            "crashed before committing; folding the latter would make "
            "the replayed batch drop itself as a self-duplicate"
        )
    committed = last_committed_epoch(checkpoint)
    fold = [e for e in epochs if e <= committed]
    skipped = [e for e in epochs if e > committed]
    if not fold:
        gc_near_dedup_index(index_path)
        return {
            "epochs_folded": 0,
            "epochs_skipped_uncommitted": skipped,
            "version": m["version"],
        }
    base_bands_dir, base_grams_dir = manifest_base_dirs(m)
    base_bands = spark.read.parquet(
        os.path.join(index_path, base_bands_dir)
    )
    base_grams = spark.read.parquet(
        os.path.join(index_path, base_grams_dir)
    )
    dbp = [
        os.path.join(index_path, "delta", f"epoch={e}", "bands")
        for e in fold
    ]
    dgp = [
        os.path.join(index_path, "delta", f"epoch={e}", "grams")
        for e in fold
    ]
    all_bands = base_bands.select("doc_id", "band", "band_hash").unionByName(
        spark.read.parquet(*dbp).select("doc_id", "band", "band_hash")
    )
    all_grams = base_grams.select("doc_id", "gram").unionByName(
        spark.read.parquet(*dgp).select("doc_id", "gram")
    )
    v = m["version"] + 1
    bands_new = f"bands-v{v}"
    grams_new = f"grams-v{v}"
    all_bands.write.mode("overwrite").partitionBy("band").parquet(
        os.path.join(index_path, bands_new)
    )
    all_grams.write.mode("overwrite").parquet(
        os.path.join(index_path, grams_new)
    )
    # preserve the index's manifest format across the base rewrite: a
    # hashed-gram (format-2) index stays format 2 so pre-r13 readers
    # keep rejecting it loudly after compaction too
    write_index_manifest(
        index_path,
        _build_manifest(
            m.get("format_version", 1), v, bands_new, grams_new, skipped
        ),
    )
    gc_near_dedup_index(index_path)
    return {
        "epochs_folded": len(fold),
        "epochs_skipped_uncommitted": skipped,
        "version": v,
    }


def near_dedup_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    *,
    checkpoint: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: "int | None" = None,
) -> StreamingQuery:
    """Start the ingest gate on a streaming DataFrame of documents.

    ``max_bucket`` caps BOTH per-epoch candidate-generation passes
    (ADVICE r11): intra-batch LSH bucket pairing switches to star
    topology above the cap (:func:`~mission_data_pipeline_spark.
    operators.dedup.lsh_pairs_from_bands`), and the stored-index probe
    join keeps only the cap's smallest corpus doc_ids per over-cap
    index bucket (:func:`~mission_data_pipeline_spark.operators.dedup.
    incremental_near_dedup`) — so neither a restart-coalesced batch
    containing one viral page many times NOR a giant bucket already in
    the persisted index can quadratic the epoch. See the linked
    docstrings for the (bounded, measured) recall trade-off near the
    threshold.

    ``index_path`` must hold a :func:`write_near_dedup_index` layout
    built with 8-byte hashed grams (``hash_grams=True``, the default);
    the probe parameters and that featurization mode (ADVICE r12) are
    validated against its ``params.json`` at stream START (mismatched
    shingle width, or hashed grams probed against a string-gram index,
    would silently wave every near-dup through). Every per-epoch
    featurization (gate probe AND the landed-survivor delta) uses
    hashed grams. The stream runs with an availableNow trigger: it
    drains what has arrived and stops. Survivor rows (original schema)
    land under ``{out_path}/epoch=N/``, and each epoch's survivors are
    appended to the index as a delta; read the result with
    ``spark.read.parquet(out_path)`` (``epoch`` becomes a partition
    column). Returns the started :class:`StreamingQuery`.
    """
    spark = stream.sparkSession
    # fail at start(), not mid-stream: a bad max_bucket would otherwise
    # only raise inside the first epoch's foreachBatch
    # (lsh_pairs_from_bands requires >= 2), killing the stream mid-run
    # (ADVICE r12)
    if max_bucket is not None and max_bucket < 2:
        raise ValueError(
            f"max_bucket must be None or >= 2, got {max_bucket} "
            "(the intra-batch star-cap pairing needs at least a "
            "representative plus one member per bucket)"
        )
    # fail at start(), not mid-stream, on a mismatched index — including
    # the featurization mode: probing a hashed-gram index with string
    # grams would silently match nothing (ADVICE r12)
    read_near_dedup_index(
        spark, index_path, n=n, num_hashes=num_hashes, bands=bands,
        hash_grams=True,
    )

    def gate(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        # The batch is featurized ONCE (shingles → minhash → bands,
        # persisted for the duration of the epoch) and the features are
        # shared by BOTH passes below — featurizing per-pass would
        # roughly double the dominant per-batch cost for identical
        # results (ADVICE r10).
        g = shingles(
            batch, n=n, text_col=text_col, id_col=id_col, hash_grams=True
        )
        bnd = band_signatures(
            minhash_signatures(g, num_hashes=num_hashes), bands=bands
        )
        g = g.persist()
        bnd = bnd.persist()
        try:
            # Intra-batch near-dedup FIRST: a micro-batch may span
            # several source files (rate limits like maxFilesPerTrigger
            # are best-effort, and a restart can merge all pending files
            # into one epoch), so a near-dup pair can arrive INSIDE one
            # batch, where the index gate cannot see it — the index only
            # knows docs from EARLIER epochs. Clusters keep their
            # smallest id (near_dedup_minhash semantics), then the
            # representative faces the index. Without this, a
            # kill-restart that coalesced two files let a near-copy of a
            # same-batch survivor through.
            intra_dups = (
                jaccard_verify(
                    lsh_pairs_from_bands(bnd, max_bucket=max_bucket),
                    g,
                    threshold=threshold,
                )
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            batch = batch.join(
                intra_dups.withColumnRenamed("doc_id", id_col),
                on=id_col,
                how="left_anti",
            )
            g_kept = g.join(intra_dups, on="doc_id", how="left_anti")
            bnd_kept = bnd.join(intra_dups, on="doc_id", how="left_anti")
            corpus_bands, corpus_grams = read_near_dedup_index(
                spark, index_path, exclude_epoch=epoch_id
            )
            survivors = incremental_near_dedup(
                batch,
                n=n,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
                text_col=text_col,
                id_col=id_col,
                corpus_bands=corpus_bands,
                corpus_grams=corpus_grams,
                batch_grams=g_kept,
                batch_bands=bnd_kept,
                max_bucket=max_bucket,
            )
            _land(survivors, epoch_id)
        finally:
            g.unpersist()
            bnd.unpersist()

    def _land(survivors: DataFrame, epoch_id: int) -> None:
        epoch_dir = os.path.join(out_path, f"epoch={epoch_id}")
        survivors.write.mode("overwrite").parquet(epoch_dir)
        # derive the delta from the WRITTEN files, so the index update
        # is consistent with what the sink actually committed
        landed = spark.read.parquet(epoch_dir)
        g = shingles(
            landed, n=n, text_col=text_col, id_col=id_col, hash_grams=True
        )
        sig = minhash_signatures(g, num_hashes=num_hashes)
        ddir = os.path.join(index_path, "delta", f"epoch={epoch_id}")
        band_signatures(sig, bands=bands).write.mode("overwrite").parquet(
            os.path.join(ddir, "bands")
        )
        g.write.mode("overwrite").parquet(os.path.join(ddir, "grams"))
        # register the epoch's delta in the manifest LAST — until this
        # atomic swap the delta is invisible to readers, so a crash
        # anywhere above leaves the index exactly as it was (the
        # replayed epoch overwrites its directories and re-registers;
        # registration is idempotent across replays)
        m = read_index_manifest(index_path)
        if epoch_id not in m["delta_epochs"]:
            m["delta_epochs"] = sorted(m["delta_epochs"] + [epoch_id])
            write_index_manifest(index_path, m)

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
