"""SparkSession construction and tuning defaults.

Scale posture: these defaults are written for a real cluster (AQE on,
skew-join handling on, partition sizes tuned for 128 MB splits); local[N]
testing just shrinks shuffle partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session we are handed (the driver
# owns the session during verification; these are safe, documented knobs).
_RUNTIME_CONFS = {
    # the driver's events.parquet stores TIMESTAMP(NANOS); Spark's vectorized
    # reader rejects it unless read as long (we convert in sources.io)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp comparison with the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # route catalyst filters into python data sources' pushFilters()
    # (the snapshot source turns them into stats-based file skipping)
    "spark.sql.python.filterPushdown.enabled": "true",
    # id-mapped delta tables annotate their scan schemas with parquet
    # field ids; resolution is opt-in per session and only affects
    # schemas carrying the annotation — part of the baseline so SESSION
    # CLONES (loop_session / small_plan_*) read id-mapped files exactly
    # like the base session (the read path also sets it defensively)
    "spark.sql.parquet.fieldId.read.enabled": "true",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Called by every operator entry point so the engine behaves the same
    whether it builds the session or is handed one.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # conf not settable at runtime in this deployment: keep going,
            # readers have per-read fallbacks
            pass
    try:
        # make the engine's Python data sources (format "snapshot" /
        # "snapshot_changes") available on any session we touch
        from .sources.pydatasource import register_datasources

        register_datasources(spark)
    except Exception:
        pass  # pre-4.0 deployments without the Python DataSource API
    return spark


def get_spark(
    app_name: str = "readmission-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    On a cluster, leave ``master`` unset and size ``shuffle_partitions``
    to ~2-3x total executor cores (or leave AQE to coalesce from a high
    initial number). Locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    return tune_session(spark)


# ----------------------------------------------------------------------
# loop-scoped session tuning for fixed-shape iterative operators
# ----------------------------------------------------------------------
from contextlib import contextmanager  # noqa: E402


def _clone_session(
    base: SparkSession, shuffle_partitions: int | None,
    skew_join: bool = False,
) -> SparkSession:
    """The one spelling of "clone the session" that :func:`loop_session`,
    :func:`small_plan_spark` and the BPE trainer share: ``newSession()``
    brought to the engine baseline by :func:`tune_session`, the base's
    time zone re-applied, AQE off (or, with ``skew_join``, kept on for
    skew splitting with coalescing off), and the shuffle partitions
    pinned when ``shuffle_partitions`` is given."""
    sess = tune_session(base.newSession())
    sess.conf.set(
        "spark.sql.session.timeZone",
        base.conf.get("spark.sql.session.timeZone"),
    )
    if skew_join:
        # keep AQE (skew-join splitting needs it) but pin partitions
        # exactly: coalescing would undo the input-derived pin
        sess.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        # split skewed partitions even when that adds an extra shuffle
        sess.conf.set(
            "spark.sql.adaptive.forceOptimizeSkewedJoin", "true"
        )
    else:
        sess.conf.set("spark.sql.adaptive.enabled", "false")
    if shuffle_partitions:
        sess.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(1, int(shuffle_partitions))),
        )
    return sess


@contextmanager
def loop_session(
    *frames,
    shuffle_partitions: int | None = None,
    skew_join: bool = False,
):
    """Clone the session for a FIXED-SHAPE iteration loop and hand
    ``frames`` across (the ml/bpe.py idiom, shared): ``newSession()``
    keeps the SparkContext, block manager, and cache manager — so
    cached/checkpointed inputs stay served — but owns its SQLConf, so
    the loop-scoped overrides below are invisible to the caller.

    The clone is first brought to the engine's baseline with
    :func:`tune_session` (``newSession()`` starts from builder-time
    confs only, so runtime confs like nanos-as-long parquet reading,
    python-source filter pushdown, and the Python data-source
    registration would otherwise be LOST — a loop frame whose first
    action scans a nanos-timestamp parquet under the clone would
    throw). The caller's current time zone is then re-applied, and on
    top of that the loop overrides:

    * ``skew_join=False`` (default): ``spark.sql.adaptive.enabled=
      false`` — each iteration is a fixed-shape micro-job (one
      partial-aggregated shuffle, joins co-partitioned); AQE's
      per-exchange stage materialization adds a driver job per shuffle
      with nothing left to re-plan. Measured ~2x per-iteration latency
      on the BPE trainer and the PageRank / connected-components
      loops. ONLY safe when the caller has established the loop's
      join keys are not skewed (AQE's runtime skew splitting is off
      with AQE off).
    * ``skew_join=True``: AQE stays ON for its runtime skew-join
      splitting (the caller probed the loop key and found a hot key —
      one straggler task per iteration otherwise), but partition
      COALESCING is disabled so the ``shuffle_partitions`` pin is
      still exact. The per-exchange driver latency returns; that is
      the deliberate price of the skew guard, paid only on skewed
      inputs.
    * ``spark.sql.shuffle.partitions`` pinned to ``shuffle_partitions``
      when given — derive it from the loop frame's OWN partitioning
      (input-sized, never a constant), so the loop's shuffles match
      the data instead of the session default.

    Yields ``(sess, clones)`` where ``clones[i]`` is ``frames[i]``
    seen from the cloned session (global-temp-view plan handoff, no
    data movement). Views are dropped on exit; hand results back with
    :func:`adopt_frame` before leaving the block.
    """
    import uuid

    base = frames[0].sparkSession
    sess = _clone_session(base, shuffle_partitions, skew_join=skew_join)
    tag = f"loop_{uuid.uuid4().hex}"
    names: list[str] = []
    try:
        clones = []
        for i, f in enumerate(frames):
            nm = f"{tag}_{i}"
            f.createOrReplaceGlobalTempView(nm)
            names.append(nm)
            clones.append(sess.table(f"global_temp.{nm}"))
        yield sess, clones
    finally:
        for nm in names:
            base.catalog.dropGlobalTempView(nm)


def warm_streaming(spark: SparkSession, timeout_s: int = 60) -> None:
    """Pay Structured Streaming's one-time per-session init (microbatch
    engine, checkpoint WAL, foreachBatch callback path — measured
    ~4.5 s) outside any timed region: a 1-row rate-source availableNow
    drain into a no-op sink. Shared by bench.py's warmup phase and
    tools/profile_entry.py so the first streaming entry measured never
    absorbs it. A drain that outlives ``timeout_s`` is stopped before
    its checkpoint dir is removed."""
    import shutil
    import tempfile

    ck = tempfile.mkdtemp(prefix="warm_stream_ck_")
    try:
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "1")
            .option("numPartitions", "1")
            .load()
            .writeStream.foreachBatch(lambda df, _bid: df.count())
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
    finally:
        shutil.rmtree(ck, ignore_errors=True)


# ----------------------------------------------------------------------
# byte-gated session for provably-small fixed-shape DML/publish plans
# ----------------------------------------------------------------------
#: plans whose estimated input+output bytes fit under this run WITHOUT
#: AQE (its per-exchange stage materialization is one driver job per
#: shuffle — pure latency when the whole plan is a few MB and its shape
#: is fixed) and with shuffle partitions pinned from the BYTE estimate
#: (guide §2.2's 100 MB-1 GB band), not the session default. Bigger
#: plans — the at-scale regime — keep the caller's session untouched:
#: runtime coalescing and skew splitting earn their latency there. The
#: gate is BYTES (scale-adaptive), never the core count.
_SMALL_PLAN_BYTES = 256 * 1024 * 1024
_PLAN_PARTITION_BYTES = 128 * 1024 * 1024


def _plan_pin(est_bytes: int) -> int:
    """Shuffle-partition pin for a plan of ``est_bytes``: one partition
    per 128 MB, floor 1 — derived from the input, never a constant."""
    return max(
        1, (int(est_bytes) + _PLAN_PARTITION_BYTES - 1) // _PLAN_PARTITION_BYTES
    )


@contextmanager
def small_plan_session(*frames, est_bytes: int | None):
    """Like :func:`loop_session`, but BYTE-GATED: when the caller's
    driver-side estimate proves the plan small (file sizes from a
    table's own log/listing plus row-count × schema width — both known
    without running a job), yield an AQE-off clone with an
    input-derived partition pin and ``frames`` re-bound to it; when the
    estimate is missing or exceeds ``_SMALL_PLAN_BYTES`` (256 MB),
    yield the frames' own session unchanged so big plans keep AQE's
    runtime re-planning. Yields ``(sess, clones)`` either way."""
    if est_bytes is None or est_bytes > _SMALL_PLAN_BYTES:
        yield frames[0].sparkSession, list(frames)
        return
    with loop_session(
        *frames, shuffle_partitions=_plan_pin(est_bytes)
    ) as (sess, clones):
        yield sess, clones


def small_plan_spark(
    spark: SparkSession, est_bytes: int | None
) -> SparkSession:
    """Frame-less :func:`small_plan_session` for ops that build every
    frame internally from ``spark`` and only return driver-side data
    (collected summaries, written files): returns a tuned AQE-off
    pinned clone under the byte gate, else ``spark`` unchanged. The
    clone shares the SparkContext and cache manager, so persists made
    and dropped inside the op behave exactly as before; no cleanup is
    needed (the clone is garbage once the op returns)."""
    if est_bytes is None or est_bytes > _SMALL_PLAN_BYTES:
        return spark
    return _clone_session(spark, _plan_pin(est_bytes))


def adopt_frame(base: SparkSession, df):
    """Hand a loop result back to the CALLER's session: publish the
    clone-side frame through a throwaway global temp view and eagerly
    ``localCheckpoint`` base-side, so the returned frame references
    neither the view (dropped here) nor the cloned session."""
    import uuid

    nm = f"loop_out_{uuid.uuid4().hex}"
    df.createOrReplaceGlobalTempView(nm)
    try:
        return base.table(f"global_temp.{nm}").localCheckpoint(eager=True)
    finally:
        base.catalog.dropGlobalTempView(nm)
