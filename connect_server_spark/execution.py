"""Stage-boundary materialization policy for the multi-stage composites.

Every composite pipeline in this repo (curation_full, training_release,
the dedup component pipelines, the iterative connected-components loop)
breaks its plan at multi-consumer stage boundaries so each stage
computes ONCE and the corpus scans once. HOW the boundary materializes
is an execution-strategy choice with a real fault-tolerance trade-off
at cluster scale, so it is a session-level knob rather than a
hard-coded ``localCheckpoint``:

``local`` (default)
    ``DataFrame.localCheckpoint`` — partitions are pinned in executor
    block-manager storage. Fastest, and exactly right for local[N] and
    for short jobs, but the pinned partitions are NOT recomputable: on
    a 1000-executor cluster, losing ONE executor mid-run kills the job
    because its blocks of every boundary are gone and the lineage was
    truncated.

``reliable``
    ``DataFrame.checkpoint`` — partitions are written to the
    SparkContext checkpoint directory (HDFS / object store on a
    cluster, any shared path locally). Executor loss re-reads the
    checkpointed partitions from storage and the job survives. Costs
    one write+read of each boundary; measured overhead at sf0.1 is
    recorded in SCALE.md §"Reliable stage boundaries".

``none``
    Pass-through — full lineage, no materialization. Catalyst sees the
    whole plan (useful for plan-equivalence tests), but every
    multi-consumer subtree duplicates per consumer. Boundaries marked
    ``pin=True`` (see below) still materialize locally because their
    correctness depends on severing lineage, not just their speed.

Checkpoint-file lifetime: reliable checkpoints are PERMANENT files —
Spark deletes one only when its RDD is garbage-collected AND
``spark.cleaner.referenceTracking.cleanCheckpoints`` is on (it is, in
:func:`~connect_server_spark.session.get_spark`; stock Spark defaults
it off — it is a context-start conf, so a session built elsewhere
must set it at launch or budget the checkpoint dir for the job's full
boundary count). Scope the mode accordingly: it exists for the long
BATCH
composites (curation_full, training_release, the dedup pipelines),
where boundaries are few and the job end releases them. Inside a
streaming ``foreachBatch`` body, keep the default ``local`` — a batch
is short-lived and the stream's own checkpoint/replay already covers
executor loss (the kill-mid-batch convergence pins), so reliable
boundaries there would only accrete per-batch file-sets between GC
cycles.

The mode is read from the session conf at each boundary, so a caller
flips the whole execution strategy of every composite with one
``spark.conf.set`` — no API threading through fifteen call sites — and
the choice composes across operators the same way
``spark.sql.shuffle.partitions`` does.

``pin=True`` marks boundaries that are REQUIRED for correctness, not
just for plan economy: read-then-overwrite sinks must sever lineage
from the path they are about to rewrite, and iterative loops
(connected components) must iterate over materialized edges or the
plan grows exponentially per round. Those sites materialize under
every mode; ``none`` only downgrades them from the configured
strategy to ``local``.

Equivalence across all three modes is pinned in
``tests/test_checkpoint_mode.py`` (row-identical output for
curation_full, the minhash dedup pipeline, and training_release's
curation stage) — the knob is an execution strategy, never a
semantics change.

Independent job chains: :func:`run_concurrently` submits thunks that
share no store from one thread each and joins them all, so one chain's
jobs fill the cores another chain leaves idle while its own thread
builds and plans its next job. Each thread carries the caller's local properties
(job group, scheduler pool, streaming query/batch ids) via
``pyspark.util.inheritable_thread_target``. Results come back in
submission order; a failure re-raises only after EVERY thunk has
finished (the first failure in submission order, with a note for each
later one), so a caller never returns, or moves on to a dependent
step, while a sibling chain is still writing. The width is the number of thunks: callers pass one
thunk per independent chain, and the scheduler interleaves their tasks.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

__all__ = [
    "CHECKPOINT_MODE_KEY",
    "checkpoint_mode",
    "run_concurrently",
    "set_checkpoint_mode",
    "stage_boundary",
]

CHECKPOINT_MODE_KEY = "spark.connect_server.checkpointMode"
_MODES = ("local", "reliable", "none")


def checkpoint_mode(spark: SparkSession) -> str:
    """The session's current stage-boundary mode (default ``local``)."""
    mode = spark.conf.get(CHECKPOINT_MODE_KEY, "local")
    if mode not in _MODES:
        raise ValueError(
            f"{CHECKPOINT_MODE_KEY}={mode!r}: expected one of {_MODES}"
        )
    return mode


def set_checkpoint_mode(
    spark: SparkSession, mode: str, checkpoint_dir: str | None = None
) -> None:
    """Set the stage-boundary mode; ``reliable`` needs a checkpoint
    directory (shared storage on a cluster) and sets it here when given.
    A long-running reliable job also needs
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at
    SESSION LAUNCH (``get_spark`` sets it; it is a context-start conf
    that cannot be set here) — without it every boundary's file-set
    persists until context stop (module docstring)."""
    if mode not in _MODES:
        raise ValueError(f"checkpoint mode {mode!r}: expected one of {_MODES}")
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    if mode == "reliable" and spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "checkpoint mode 'reliable' requires a checkpoint directory: "
            "pass checkpoint_dir= (a shared path every executor can reach) "
            "or call spark.sparkContext.setCheckpointDir first"
        )
    spark.conf.set(CHECKPOINT_MODE_KEY, mode)


def stage_boundary(df: DataFrame, eager: bool = False, pin: bool = False) -> DataFrame:
    """Materialize ``df`` at a stage boundary per the session's mode.

    ``eager`` forces materialization now (sinks that must read before
    they overwrite); lazy boundaries materialize with the first action.
    ``pin`` marks correctness-required boundaries that must sever
    lineage under every mode (see module docstring).
    """
    mode = checkpoint_mode(df.sparkSession)
    if mode == "reliable":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                f"{CHECKPOINT_MODE_KEY}=reliable but no checkpoint directory "
                "is set — call set_checkpoint_mode(spark, 'reliable', "
                "checkpoint_dir=...) with a shared path"
            )
        return df.checkpoint(eager=eager)
    if mode == "none" and not pin:
        return df
    return df.localCheckpoint(eager=eager)


def run_concurrently(*thunks: Callable[[], object]) -> list:
    """Run each thunk on its own thread and return their results in
    submission order (module docstring). Every thunk runs to completion
    before this returns or raises; if any raised, the first failure in
    submission order is re-raised, carrying a note for each later one —
    no failure is swallowed."""
    if not thunks:
        return []
    session = SparkSession.getActiveSession()
    # one wrap per thunk: each wrap clones the caller's properties, and
    # a clone shared between threads would let one chain's execution id
    # or job description leak into its siblings
    targets = [
        inheritable_thread_target(session)(t)
        if session is not None
        else inheritable_thread_target(t)
        for t in thunks
    ]
    # leaving the block joins every thread, failed or not
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
    failed = [f.exception() for f in futures if f.exception() is not None]
    if failed:
        for later in failed[1:]:
            failed[0].add_note(f"a concurrent chain also failed: {later!r}")
        raise failed[0]
    return [f.result() for f in futures]
