"""Lineage pinning with a survivable-on-a-real-cluster option.

Multi-referenced DataFrames (iterative loops, branch-then-reuse pipelines)
must truncate lineage or every reference re-executes the whole upstream
plan (measured 4x on the LSH→CC path) and iterative plans double per round.
The repo-wide primitive for that is :func:`pin`.

Recovery contract
-----------------
``localCheckpoint`` stores blocks in executor block managers: fast (no
FS write), but **unrecoverable** — on a real cluster a lost executor makes
the pinned frame's blocks unavailable and the JOB fails (Spark cannot
recompute a localCheckpoint'ed lineage: it was truncated). On local[n]
(one JVM) there is no executor loss short of process death, so local mode
is always safe.

At 100 TB on 1000 executors, executor loss is routine. For that
environment set ``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable path
(``hdfs://...``, ``s3a://...``) — every :func:`pin` then upgrades itself
to a RELIABLE checkpoint (``df.checkpoint()``): partitions are written to
the directory once and re-read on loss, so executor death costs a re-read
instead of the job. The trade is one FS round-trip per pin; for the
iterative operators here (edge lists, range-partitioned rank frames) the
pinned data is orders of magnitude smaller than the input, so the write
is cheap relative to the recompute it insures.

Checkpoint files accumulate per app; enable
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (or clean the
directory per run) in long-lived drivers.

Streaming ``foreachBatch`` bodies intentionally keep plain
``localCheckpoint``: a failed micro-batch is retried whole by the
streaming engine from the source+state checkpoint, so batch-scoped pins
never need to survive an executor.
"""

from __future__ import annotations

import contextlib
import contextvars
import io
import os

from pyspark.sql import DataFrame

ENV_DIR = "SPARK_GRAFT_CHECKPOINT_DIR"

# Audit-mode registry (round 9). checkpoint()/localCheckpoint() TRUNCATE
# lineage, so by the time the plan audit explains a registered query, any
# stage hidden behind a pin() — the per-round plans of every iterative
# operator — is invisible: a BatchEvalPython / cartesian / unpartitioned
# window INSIDE a pinned loop could never fail the audit (that is exactly
# how the r8 kcenter global-window argmax shipped). Under
# :func:`audit_pins`, every pin() records its input DataFrame's formatted
# PRE-checkpoint plan here so tests/test_plan_audit.py can assert the
# same gates over them. Zero cost outside the context manager. A
# ContextVar (not a module global) so concurrent plan builds on different
# threads each collect only their own pins (ADVICE r9).
_AUDIT: contextvars.ContextVar[list[str] | None] = contextvars.ContextVar(
    "spark_graft_pin_audit", default=None
)


@contextlib.contextmanager
def audit_pins():
    """Collect the formatted pre-checkpoint plan of every :func:`pin`
    executed inside the block. Yields the list (appended in call order);
    nesting restores the outer collector on exit."""
    collected: list[str] = []
    token = _AUDIT.set(collected)
    try:
        yield collected
    finally:
        _AUDIT.reset(token)


def _formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_plan(df: DataFrame) -> DataFrame:
    """Record ``df``'s formatted plan with the :func:`audit_pins`
    collector (when active) WITHOUT checkpointing, and return ``df``
    unchanged.

    For frames a terminal ``collect()`` materializes exactly once —
    e.g. the per-round distance actions of the persisted-index beam
    search, whose loop state lives on the driver: a :func:`pin` there
    buys no lineage reuse (nothing references the frame twice) but
    costs one extra eager job per call. The plan must still be visible
    to the plan-audit gates (the round-9 lesson: stages hidden from the
    audit are stages that can rot), so this keeps the recording half of
    :func:`pin` and drops the checkpoint half."""
    collector = _AUDIT.get()
    if collector is not None:
        collector.append(_formatted_plan(df))
    return df


def pin(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Materialize ``df`` now (an eager checkpoint) and truncate its
    lineage, pinning partition placement for multi-reference use.

    ``reliable=None`` (default) auto-selects: a RELIABLE checkpoint when
    ``SPARK_GRAFT_CHECKPOINT_DIR`` is set (the cluster posture), else
    ``localCheckpoint`` (the local[n] posture — see module docstring for
    the recovery contract). Pass ``reliable=True/False`` to force a mode;
    forcing ``True`` uses the SparkContext's already-set checkpoint dir
    or the env var, and raises if neither exists.
    """
    collector = _AUDIT.get()
    if collector is not None:
        collector.append(_formatted_plan(df))
    env_dir = os.environ.get(ENV_DIR)
    if reliable is None:
        reliable = bool(env_dir)
    if not reliable:
        return df.localCheckpoint(eager=True)

    sc = df.sparkSession.sparkContext
    current = None
    try:
        current = sc.getCheckpointDir()
    except AttributeError:  # pragma: no cover - very old PySpark
        opt = sc._jsc.sc().getCheckpointDir()
        current = opt.get() if opt.isDefined() else None
    if env_dir:
        # The env var is authoritative on EVERY reliable pin, not only
        # the first: the context-level dir sticks for the SparkContext's
        # lifetime, so a long-lived session that changes the env target
        # (or a test session whose earlier test claimed the dir) would
        # otherwise silently keep checkpointing into the old location.
        # But setCheckpointDir mints a fresh UUID SUBdirectory per call
        # (ADVICE r7), so re-invoking it per pin would leak one empty
        # dir per pin in long-lived drivers — only re-apply when the env
        # target actually changed since this context last applied one.
        if getattr(sc, "_spark_graft_ckpt_env", None) != env_dir:
            sc.setCheckpointDir(env_dir)
            sc._spark_graft_ckpt_env = env_dir
    elif current is None:
        raise ValueError(
            "reliable pin needs a checkpoint dir: set "
            f"{ENV_DIR} or call sc.setCheckpointDir()"
        )
    return df.checkpoint(eager=True)
