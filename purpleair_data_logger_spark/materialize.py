"""The one lineage-truncation seam: every ``localCheckpoint`` /
``checkpoint`` in the package goes through `materialize_once`, and it
is the only code that sets a checkpoint directory.

Its callers are of four kinds:

* within-query reuse points — an intermediate consumed by MORE THAN
  ONE downstream subtree of the same query (the LSH band index, both
  self-join sides; candidate-pair sets; per-doc element-set tables;
  phash signature tables). Spark compiles a shared subplan into every
  consumer, so without an explicit materialization the producing
  pipeline EXECUTES once per consumer (r13 measured 2-6 scans per
  query);
* per-round truncation in the fixpoint loops (`clusters`, `graph`,
  `aggregations.frequent_items`), so plans do not grow with the round
  count;
* stream state carried across triggers (`streaming/neardup.py`,
  `streaming/phash.py`, `streaming/curation.py`: base artifacts, folded
  indexes, recent windows, the per-batch frame that feeds several
  sinks). These pass ``eager=True``: the state must be stored before
  the trigger commits, not at some later trigger's first use;
* a commit that must read its source once
  (`SensorTableStore.append_wide`): the deduplicated batch and its
  nine-table layout are stored before the nine concurrent table
  stagings start. It passes ``eager=True`` because concurrent first
  uses of a lazy handle can each re-run the source, and a live
  ``format("purpleair")`` source re-run is another HTTPS request whose
  response can differ.

One setting decides the posture for all of them:

* default: ``localCheckpoint`` — single-node / bench / tests, where
  executor loss == driver loss anyway (zero extra I/O, blocks live in
  executor storage). Local-checkpoint blocks have NO lineage fallback:
  on a real cluster an executor loss mid-query — or mid-stream, for
  fold state — is unrecoverable (VERDICT r13 #2);
* ``SPARK_GRAFT_CHECKPOINT_DIR=<cluster-visible path>``: reliable
  ``df.checkpoint`` into that directory — a lost executor recomputes
  its partitions from the checkpoint files, the posture a 100 TB
  deployment runs with (SCALE.md "Materialize-once sites"). The
  context's checkpoint dir is re-pointed whenever it is not under the
  configured path, so a restarted context or a foreign
  ``setCheckpointDir`` cannot divert the files.

The other callers stay lazy: the stored plan is truncated at first
use, so plan-census tooling that only compiles still runs no jobs, and
the materialization happens inside the first consuming job rather than
as an extra eager job.

Lifecycle: checkpointed blocks and files are freed by the
ContextCleaner once the RDD handle is garbage-collected. Sessions built
by `session.get_spark` bound the wait with
``spark.cleaner.periodicGC.interval`` (1min there, overridable via
``SPARK_GRAFT_PERIODIC_GC``) and set
``spark.cleaner.referenceTracking.cleanCheckpoints=true``, without
which reliable checkpoint files are kept forever and per-trigger
stream state grows without bound. Library callers embedding these
operators in a foreign SparkSession inherit Spark's defaults (30-min
GC interval, checkpoint files kept) and should set both themselves.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Cluster deployments set this to an HDFS/S3/cluster-visible path to
#: swap every materialize-once site from executor-memory localCheckpoint
#: to reliable checkpoint files.
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def checkpoint_dir() -> str | None:
    """The reliable-checkpoint directory currently configured, or None
    for the local default. Read from the environment per call so tests
    can monkeypatch it."""
    return os.environ.get(CHECKPOINT_DIR_ENV) or None


def _point_context_at(sc, reliable: str) -> None:
    """Make ``sc`` checkpoint under ``reliable``. `setCheckpointDir`
    creates a fresh ``<dir>/<uuid>`` child, so it runs only when the
    context's current dir is not already such a child (compared as
    qualified Hadoop paths, the form Spark reports it in)."""
    current = sc.getCheckpointDir()
    Path = sc._jvm.org.apache.hadoop.fs.Path
    want = Path(reliable)
    want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
    if current is None or Path(current).getParent().toString() != want.toString():
        sc.setCheckpointDir(reliable)


def materialize_once(
    df: DataFrame, *, serialized: bool = False, eager: bool = False
) -> DataFrame:
    """Truncate ``df``'s lineage and store its rows, so every
    downstream consumer scans the stored rows instead of re-executing
    the producing pipeline.

    ``eager=True`` stores the rows now (one job) instead of at first
    use — for stream state carried across triggers, and for a commit
    whose concurrent writers must not each re-run its source.

    ``serialized=True`` stores compact serialized blocks
    (StorageLevel.MEMORY_AND_DISK — PySpark's name for the serialized
    level) instead of the deserialized default: right for wide
    object-heavy rows (token/element arrays) whose live objects would
    otherwise inflate every GC for the session's lifetime (r13). Only
    honored on the local path; reliable checkpoints are files and have
    no in-memory object form to begin with.
    """
    reliable = checkpoint_dir()
    if reliable:
        _point_context_at(df.sparkSession.sparkContext, reliable)
        return df.checkpoint(eager=eager)
    if serialized:
        return df.localCheckpoint(
            eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    return df.localCheckpoint(eager=eager)
