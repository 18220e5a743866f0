"""Lineage truncation for iterative and reused-subtree operators: the
one place that decides how lineage is cut.

Iterative DataFrame algorithms (connected components, PageRank) must
flatten lineage every round — an unflattened k-iteration plan re-executes
the whole chain at every action. Two mechanisms:

- ``localCheckpoint`` (default): materializes blocks on the *executors'*
  local storage. Cheap and right for local mode / short jobs, but on a
  real cluster the blocks die with their executor — one lost executor
  mid-fixpoint kills the job, because truncated lineage cannot recompute.
- reliable ``checkpoint``: materializes to a directory via Spark's RDD
  checkpoint mechanism — any Hadoop-compatible filesystem (HDFS, S3A,
  local path). Executor loss recovers by re-reading the checkpoint
  files. This is the 100 TB hardening: a 20-round fixpoint over a
  1000-executor cluster WILL see executor churn.

Every truncation in the package — operator internals and declared
queries alike — goes through :func:`query_truncator`, which picks the
mechanism from ``$SPARK_GRAFT_CHECKPOINT_DIR`` (unset or empty →
``localCheckpoint``). The truncator is a ``df -> df`` function, so
operator loops stay mechanism-agnostic.

``setCheckpointDir`` is SparkContext-global, and every call creates a
fresh ``<dir>/<uuid>/`` subdirectory. The reliable truncator therefore
calls it only when the context's checkpoint dir is not already under
the requested root: one subdirectory per root per session, however many
truncations run, and switching the env var to another root moves later
files there. Checkpoint files are cleaned by Spark when
``spark.cleaner.referenceTracking.cleanCheckpoints`` is enabled;
otherwise the deployment owns the directory's lifecycle.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame

__all__ = ["make_truncator", "query_truncator", "CHECKPOINT_DIR_ENV"]

#: Deployment setting: a reliable checkpoint root (HDFS/S3A/local path).
#: Cluster runs set it once and every lineage truncation in the package
#: becomes executor-loss-safe; unset or empty means ``localCheckpoint``.
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def _checkpoint_dir_under(sc: SparkContext, root: str) -> bool:
    """True iff the context's current checkpoint dir is a subdirectory
    Spark created directly under ``root`` (compared fully qualified)."""
    current = sc.getCheckpointDir()
    if current is None:
        return False
    Path = sc._jvm.org.apache.hadoop.fs.Path
    root_path = Path(root)
    fs = root_path.getFileSystem(sc._jsc.hadoopConfiguration())
    return Path(current).getParent().equals(fs.makeQualified(root_path))


def make_truncator(
    checkpoint_dir: str | None,
) -> Callable[[DataFrame], DataFrame]:
    """Returns an eager lineage-truncation function.

    ``checkpoint_dir=None`` → ``localCheckpoint`` (executor-local, fast,
    not fault-tolerant). Otherwise → reliable ``checkpoint`` into
    ``checkpoint_dir`` (survives executor loss).
    """
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint(eager=True)

    def reliable(df: DataFrame) -> DataFrame:
        sc = df.sparkSession.sparkContext
        if not _checkpoint_dir_under(sc, checkpoint_dir):
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)

    return reliable


def query_truncator() -> Callable[[DataFrame], DataFrame]:
    """The package's truncator: reads the reliable checkpoint directory
    from ``$SPARK_GRAFT_CHECKPOINT_DIR`` at call time (unset or empty →
    ``localCheckpoint``, the right local-mode default). Cluster
    deployments set the env var once and every truncation becomes
    executor-loss-safe without editing operator or query code."""
    return make_truncator(os.environ.get(CHECKPOINT_DIR_ENV) or None)
