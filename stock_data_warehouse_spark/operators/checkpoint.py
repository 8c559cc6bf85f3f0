"""Lineage-truncation checkpoint with a reliability switch.

Every distributed iterative operator in the engine (connected
components, large-star/small-star contraction, BPE merge rounds,
iterative join splits) re-derives a DataFrame from the previous round's
result. Without truncation the lineage — and therefore the recovery
re-computation and the plan-compile time — grows linearly with the
round count. (Lloyd's k-means needs none: its round state is a
driver-held codebook re-emitted as a literal, so its lineage does not
grow; only its final assignment is checkpointed.)

Two truncation modes, selected per session by configuration:

- ``local`` (default): ``DataFrame.localCheckpoint`` — blocks are
  stored on the executors that computed them. Zero external storage,
  right for ``local[N]`` where executor loss means process death
  anyway.
- ``reliable``: ``DataFrame.checkpoint`` against the session's
  checkpoint directory (HDFS/object store on a real cluster). At 1000
  executors a *local* checkpoint is a liability: losing ANY executor
  discards blocks whose lineage was just truncated, killing a
  long-running trainer at, say, round 29,000 with no way to recompute
  (VERDICT r4 item 3). Reliable checkpoints survive executor loss —
  the iteration restarts from the last materialized round.

Configuration (documented in session.py alongside the other knobs):

- ``spark.stock_warehouse.checkpoint.mode`` = ``local`` | ``reliable``
- ``spark.stock_warehouse.checkpoint.dir`` = directory for reliable
  checkpoints (applied via ``SparkContext.setCheckpointDir`` on first
  use; ignored under ``local``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CKPT_MODE_CONF = "spark.stock_warehouse.checkpoint.mode"
CKPT_DIR_CONF = "spark.stock_warehouse.checkpoint.dir"


def ckpt(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage, honoring the session's checkpoint
    mode. Eager in both modes (the operators rely on the returned
    frame being materialized once and re-read per round)."""
    spark = df.sparkSession
    mode = spark.conf.get(CKPT_MODE_CONF, "local")
    if mode == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            ckpt_dir = spark.conf.get(CKPT_DIR_CONF, None)
            if not ckpt_dir:
                raise ValueError(
                    f"{CKPT_MODE_CONF}=reliable requires "
                    f"{CKPT_DIR_CONF} (or a pre-set "
                    "SparkContext.setCheckpointDir)")
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    if mode != "local":
        raise ValueError(
            f"unknown {CKPT_MODE_CONF}={mode!r} "
            "(expected 'local' or 'reliable')")
    return df.localCheckpoint()


def ckpt_fused(df: DataFrame) -> DataFrame:
    """Lineage truncation whose materialization FUSES into the
    caller's own next action (r16, guide §2.4): iterative rounds that
    checkpoint and then immediately run a control-flow aggregate over
    the SAME rows (connected-components' changed-count, star
    contraction's edge-set signature) paid two jobs per round —
    an eager materialization plus the aggregate. A LAZY
    ``localCheckpoint`` truncates lineage identically, but the first
    action over it (the caller's aggregate) both computes the blocks
    and answers the control query — one job per round. The caller
    MUST run an action over the full relation before branching on it
    (every current caller's convergence check is exactly that).

    Under ``reliable`` mode this stays EAGER: a non-eager reliable
    checkpoint recomputes the relation a second time for the
    checkpoint file (Spark's documented behavior), which is the
    opposite of the point — and the mode exists for multi-thousand-
    round cluster trainers where the extra job per round is the
    lesser cost."""
    spark = df.sparkSession
    if spark.conf.get(CKPT_MODE_CONF, "local") == "local":
        return df.localCheckpoint(eager=False)
    return ckpt(df)


def count_rows(df: DataFrame) -> int:
    """Row count of ``df`` in ONE Spark job: a count over the plan's
    RDD. A DataFrame ``count()`` is a partial and a final aggregate,
    which adaptive execution runs as two jobs. Over a lazy
    ``ckpt_fused`` frame this is the materialising action."""
    return df._jdf.queryExecution().toRdd().count()
