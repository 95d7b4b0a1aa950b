"""Lineage truncation — the engine's ONE place for the checkpoint
contract (r13, VERDICT r12 item 10).

Why lineage is cut at all: iterative operators (connected components,
BFS, PageRank, k-means, BPE/unigram training, k-center, coverage,
transitive closure) grow their plan by one join+aggregate per round —
without truncation round N re-executes rounds 1..N-1 and Catalyst
re-optimizes an O(N)-deep tree per round. Funnel operators (the
partition-offset rank kernel's stamped sort, source_overlap's reduced
layer) cut lineage so a multiply-consumed subtree executes once.

The default mechanism is ``localCheckpoint``: RDD blocks stored on
EXECUTORS (memory, spilling to executor disk), no distributed
filesystem round-trip. Two caveats that hold at 100 TB and are accepted
deliberately:

- **Executor loss.** localCheckpoint TRUNCATES lineage, so a lost
  executor makes its blocks unrecoverable — the QUERY fails and must be
  rerun (Spark cannot recompute a truncated branch). On local mode
  (bench, tests) executor == driver, so this cannot happen; on a real
  cluster it trades one-query retry risk for never paying HDFS writes
  per round. Long multi-hour jobs on preemptible nodes should set
  ``SPARK_GRAFT_CHECKPOINT_DIR`` (below) instead.
- **Storage.** A cut stores a full copy of the checkpointed frame
  (per-round label tables are small; the rank kernel behind dense ids
  above AQE's coalescing floor stores one sorted copy of its input, which
  both its counts and its ranks read).

Escape hatch: set ``SPARK_GRAFT_CHECKPOINT_DIR=<fault-tolerant path>``
and every ``cut_lineage`` call becomes a RELIABLE ``checkpoint()`` into
that directory — recomputable after executor loss, at the cost of a
write+read per cut. The knob is read per call, so a long-running
session can switch modes (or directories) between queries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage (see module docstring for the contract).

    ``eager=False`` defers only the FINAL stage to the first downstream
    action: under AQE, building the checkpoint RDD runs every upstream
    shuffle and broadcast stage at call time (a ``groupBy`` plus a
    broadcast join measured 2 jobs at the call). The first action — a
    convergence probe or a winner ``take(1)`` — then runs the last stage
    and stores the blocks. BOTH checkpoint flavors also pay optimizer +
    physical planning at call time — keep cuts off per-row paths and out
    of per-round inner loops where a cheaper mechanism (broadcast of the
    small side) works.
    """
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        sc = df.sparkSession.sparkContext
        if not _checkpoint_dir_is(sc, ckdir):
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _checkpoint_dir_is(sc, ckdir: str) -> bool:
    """Whether the context checkpoints into ``ckdir`` already.
    ``setCheckpointDir(ckdir)`` records a fully qualified random
    subdirectory of ``ckdir``, so compare that record's parent with the
    qualified ``ckdir``."""
    current = sc.getCheckpointDir()
    if not current:
        return False
    Path = sc._jvm.org.apache.hadoop.fs.Path
    want = Path(ckdir)
    fs = want.getFileSystem(sc._jsc.hadoopConfiguration())
    return (
        Path(current).getParent().toString()
        == fs.makeQualified(want).toString()
    )
