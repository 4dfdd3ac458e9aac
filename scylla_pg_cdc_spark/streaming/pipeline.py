"""Structured Streaming CDC consumer.

The streaming face of ``operators/cdc.py`` — same builder expressions,
executed under ``readStream`` with an ``availableNow`` trigger so runs
are finite and deterministic (SURVEY.md §7 phase 5).

Reference parity:
- micro-batch poll cadence (T1, `scylla-source.json:29-31`) ->
  trigger(availableNow) for tests / processingTime in production
- exactly-once (T9, idempotent producer + read_committed,
  `scylla-source.json:47-50`, `postgres-sink.json:105`) ->
  checkpointLocation WAL + idempotent overwrite-by-epoch sink
- upsert + delete materialization (S7/S8, `postgres-sink.json:22-24`)
  -> foreachBatch latest-state merge
- partial-update NULL-preserving merge
  (`docker/postgres/handle-partial-updates.sql:6-54`) ->
  last(col, ignorenulls=True) over the per-key commit order — NOT
  plain last-row-wins
- DLQ routing with retry context (S9/T8, `postgres-sink.json:32-33,
  98-103`) -> poison-predicate branch written to dlq/
- watermarked windowed rates (T4/T5, `alerts.py:79,92`)

One epoch (the foreachBatch body, the unit of idempotent commit):

1. ``dlq``: poison rows split off and appended to dlq/;
2. ``delta``: ``epoch_delta`` unions the batch (tagged new) with the
   committed rows of the state buckets it touches (tagged old, read
   with the known schema) and runs ONE keyed aggregation per
   (bucket, key) — winner, committed row, touched flag — persisted
   for the epoch;
3. ``mv fold`` / ``digest fold``: the delta's (removed, added) images
   fold into the bucketed MV and the anti-entropy digests, one
   shuffle each, marker-gated;
4. ``state commit``: the delta's winners of the touched buckets are
   written (a narrow projection: already partitioned by bucket),
   untouched buckets hardlinked, the layout swapped in — under the
   retry wrapper; when retries run out the batch goes to dlq/ and the
   folds that landed are compensated with the inverse delta.

Each step's Spark jobs carry the description ``cdc epoch <id>: <step>``.

Scale: state lives in bucket-partitioned parquet keyed by the CDC key;
each micro-batch shuffles its rows and the touched state once by
bucket. At 100 TB the merge would target a transactional table format;
the compaction expression is unchanged.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # int64 epoch ticks, ns or us (see read_event_stream)
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

from scylla_pg_cdc_spark.operators.cdc import (  # noqa: E402  (one
    TOMBSTONE_TYPE,  # definition of the envelope/tombstone contract —
    as_change_stream,  # the batch face the oracles verify)
)

__all__ = ["TOMBSTONE_TYPE", "as_change_stream"]


def poison_predicate():
    """Deterministic DLQ poison predicate (built lazily — Column
    construction needs an active session). Null-safe: a NULL value or
    missing JSON key must evaluate to NOT-poison, so the main/DLQ split
    is a true partition — with a raw three-valued predicate, rows where
    it evaluates NULL would fail BOTH filter(p) and filter(~p) and
    vanish from the pipeline."""
    raw = (F.get_json_object("props", "$.k").cast("long") > 90) | (
        F.col("value") < 1.0
    )
    return F.coalesce(raw, F.lit(False))


def read_event_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source change stream over the events table (S2 analog —
    the CDC log poll becomes a file/Kafka readStream).
    ``max_files_per_trigger`` is the micro-batch size knob (the
    `max.batch.size` analog, `scylla-source.json:30`): with a
    multi-file source it forces multiple epochs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    # The declared LongType schema reads the parquet INT64 physical
    # values raw, whatever the logical annotation: ns-precision files
    # yield epoch-nanos, us-precision (TIMESTAMP_NTZ) files yield
    # epoch-micros. Disambiguate by magnitude — epoch-nanos pass 5e17
    # from 1985 on, epoch-micros would not until year ~17000 — so one
    # stream reader handles both generations of the testdata encoder.
    return raw.withColumn(
        "ts",
        F.expr(
            "IF(ts > 500000000000000000,"
            " timestamp_micros(ts div 1000), timestamp_micros(ts))"
        ),
    )


def to_change_events(stream: DataFrame) -> DataFrame:
    """Envelope-unwrap transform chain (P1-P6 analogs): normalize to
    (key, op, after-image, commit_ms). Delegates to the batch face's
    ``as_change_stream`` — ONE definition of the envelope, so the
    batch oracles verify exactly what the stream executes."""
    return as_change_stream(stream)


STATE_BUCKETS = 32  # default keyed-state partition count (see merge)
STATE_COLS = ["event_id", "key", "op", "event_type", "value", "props", "commit_ms"]


def _state_bucket(key: str, n_buckets: int):
    """Stable hash bucket of the CDC key — the state partition unit."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast(
        "int"
    )


def _bucket_dirs(state_dir: str) -> dict[int, str]:
    """``{bucket: dirname}`` of the hive-style bucket partitions."""
    out: dict[int, str] = {}
    for entry in os.listdir(state_dir):
        if entry.startswith("__bucket="):
            try:
                out[int(entry.split("=", 1)[1])] = entry
            except ValueError:
                pass
    return out


def _carry_buckets(
    prev_dir: str, next_dir: str, entries: dict[int, str]
) -> None:
    """Hardlink untouched bucket dirs from the committed layout into
    the staged next layout — zero bytes rewritten; inodes survive the
    parked dir's later removal."""
    for entry in entries.values():
        src = os.path.join(prev_dir, entry)
        dst = os.path.join(next_dir, entry)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            if not f.startswith("."):
                os.link(os.path.join(src, f), os.path.join(dst, f))


def fold_mv_bucketed(
    mv_dir: str,
    removed: DataFrame,
    added: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    marker: str,
    n_buckets: int = STATE_BUCKETS,
) -> None:
    """Fold one epoch's (removed, added) delta into a hash-bucketed
    materialized view: only buckets containing touched GROUPS are read
    and rewritten; the rest carry forward as hardlinks — the same
    O(delta)-not-O(table) discipline as ``merge_batch_into_state``,
    closing the incremental-MV analog of the reference's O(table)
    REFRESH (S12). The epoch ``marker`` is staged INSIDE the new
    layout and committed by the same atomic rename, so data and marker
    can never disagree (idempotent under epoch replay).

    One shuffle: the signed delta rows (``mv.signed_rows``) and the
    touched MV buckets — read with the fold's own schema, so no footer
    inference job runs — are repartitioned together by MV bucket and
    summed per (bucket, group) (``mv.fold_rows``); the written layout
    is the shuffle's partitioning, one file per bucket."""
    import shutil

    from scylla_pg_cdc_spark.streaming.mv import fold_rows, signed_rows

    spark = removed.sparkSession
    bcol = F.pmod(
        F.xxhash64(*[F.col(c).cast("string") for c in group_cols]),
        F.lit(n_buckets),
    ).cast("int")
    rows = signed_rows(removed, added, group_cols, sum_cols)
    mv_schema = fold_rows(rows, group_cols, sum_cols).schema
    rows = rows.withColumn("__bucket", bcol)
    touched = sorted(
        r["__bucket"] for r in rows.select("__bucket").distinct().collect()
    )
    prev_exists = os.path.exists(mv_dir)
    if not touched and prev_exists:
        # marker-only update: data is unchanged
        tmp = os.path.join(mv_dir, "_EPOCH.tmp")
        with open(tmp, "w") as f:
            f.write(marker)
        os.replace(tmp, os.path.join(mv_dir, "_EPOCH"))
        return
    next_dir = mv_dir + "_next"
    shutil.rmtree(next_dir, ignore_errors=True)
    if not touched:
        # first epoch, empty delta: flat empty MV with schema (a later
        # non-empty fold migrates it to the bucketed layout)
        spark.createDataFrame([], mv_schema).write.parquet(next_dir)
        with open(os.path.join(next_dir, "_EPOCH"), "w") as f:
            f.write(marker)
        os.rename(next_dir, mv_dir)
        return
    prev_buckets = _bucket_dirs(mv_dir) if prev_exists else {}
    carry: dict[int, str] = {}
    if prev_buckets:
        rows = rows.unionByName(
            spark.read.schema(
                StructType([*mv_schema, StructField("__bucket", IntegerType())])
            )
            .parquet(mv_dir)
            .filter(F.col("__bucket").isin(touched))
        )
        carry = {b: d for b, d in prev_buckets.items() if b not in touched}
    elif prev_exists:
        # migration from a flat MV layout: one full rewrite
        rows = rows.unionByName(
            spark.read.schema(mv_schema).parquet(mv_dir).withColumn(
                "__bucket", bcol
            )
        )

    fold_rows(
        rows.repartition(len(touched), "__bucket"),
        ["__bucket", *group_cols],
        sum_cols,
    ).write.partitionBy("__bucket").parquet(next_dir)
    if carry:
        _carry_buckets(mv_dir, next_dir, carry)
    with open(os.path.join(next_dir, "_EPOCH"), "w") as f:
        f.write(marker)
    shutil.rmtree(mv_dir, ignore_errors=True)
    os.rename(next_dir, mv_dir)


DIGEST_SCHEMA = "bucket long, n long, dig long"


def fold_digests(
    digest_dir: str,
    removed: DataFrame,
    added: DataFrame,
    marker: str,
    n_buckets: int,
) -> None:
    """Fold one epoch's (removed, added) state delta into the
    anti-entropy digest state (``operators/reconcile.py``:
    ``merge_digest_deltas`` — one aggregation over the signed row
    hashes plus the prior digest rows, read with their known schema).
    The digest frame is only ``n_buckets`` rows, so a full rewrite per
    epoch (``coalesce(1)``: one file, no extra shuffle) is already
    O(delta)-dominated; the epoch marker is staged inside the new
    directory and committed by the same atomic rename (idempotent
    under epoch replay). This keeps replica-comparison state
    (``q_merkle_diff`` shape) HOT as changes stream in —
    reconciliation never rescans the target."""
    import shutil

    from scylla_pg_cdc_spark.operators.reconcile import merge_digest_deltas

    spark = removed.sparkSession
    if os.path.exists(digest_dir):
        state = spark.read.schema(DIGEST_SCHEMA).parquet(digest_dir)
    else:
        state = spark.createDataFrame([], DIGEST_SCHEMA)
    new = merge_digest_deltas(state, removed, added, ["key"], n_buckets)
    next_dir = digest_dir + "_next"
    shutil.rmtree(next_dir, ignore_errors=True)
    new.coalesce(1).write.mode("overwrite").parquet(next_dir)
    with open(os.path.join(next_dir, "_EPOCH"), "w") as f:
        f.write(marker)
    back = digest_dir + "_prev"
    shutil.rmtree(back, ignore_errors=True)
    if os.path.exists(digest_dir):
        os.rename(digest_dir, back)
    os.rename(next_dir, digest_dir)
    shutil.rmtree(back, ignore_errors=True)


def keyed_delta(
    new: DataFrame, old: DataFrame | None, key: str, n_parts: int
) -> DataFrame:
    """The epoch's ONE keyed aggregation. ``new`` (batch rows) and
    ``old`` (committed rows of the touched buckets) carry the same
    columns plus ``__bucket``; their union is repartitioned by
    ``__bucket`` into ``n_parts`` partitions and grouped by
    (``__bucket``, key) — the repartition already satisfies the
    grouping, so this is the only shuffle. Per key it returns:

    - ``__win``: ``max_by(row, (commit_ms, event_id))`` over old and
      new rows — the post-merge row (the upsert merge keeps the newest
      regardless of arrival epoch, so a stale batch row loses);
    - ``__old``: the newest committed row (NULL for a new key) — the
      merge-on-read of an LSM layout's several rows per key comes free;
    - ``__touched``: whether the batch carried the key.

    Every column except the key sits in the two structs."""
    value_cols = [c for c in new.columns if c not in (key, "__bucket")]
    order_cols = [c for c in ("commit_ms", "event_id") if c in value_cols]
    if not order_cols:
        raise ValueError("the keyed delta needs commit_ms to pick the winner")
    rows = new.withColumn("__new", F.lit(True))
    if old is not None:
        rows = rows.unionByName(
            old.select(*new.columns).withColumn("__new", F.lit(False))
        )
    row = F.struct(*value_cols)
    order = F.struct(*order_cols)
    return (
        rows.repartition(n_parts, "__bucket")
        .groupBy("__bucket", key)
        .agg(
            F.max_by(row, order).alias("__win"),
            # max_by skips NULL orderings: only committed rows compete
            F.max_by(row, F.when(~F.col("__new"), order)).alias("__old"),
            F.bool_or("__new").alias("__touched"),
        )
    )


def delta_images(
    delta: DataFrame, cols: list[str], key: str
) -> tuple[DataFrame, DataFrame]:
    """(removed, added) of a ``keyed_delta`` frame, with
    ``state_transition``'s semantics: for every key the batch touched,
    its committed row is removed and its post-merge row added, each
    unless it is a tombstone (tombstones stay in the state but never
    enter the MV or digests — subtracting one would corrupt the fold;
    it still competes in ``__win``, so a stale upsert cannot outrank a
    newer delete). Both carry exactly ``cols``, no layout column."""

    def image(struct: str) -> DataFrame:
        return delta.filter(
            F.col("__touched") & (F.col(f"{struct}.op") != "DELETE")
        ).select(
            *[F.col(c) if c == key else F.col(f"{struct}.{c}") for c in cols]
        )

    return image("__old"), image("__win")


class EpochDelta:
    """One epoch's persisted keyed delta (``epoch_delta``): state,
    MV and digests all fold from it."""

    def __init__(self, new: DataFrame, rows: DataFrame | None,
                 touched: list[int], key: str):
        self.new = new  # the batch with __bucket (schema of a state row)
        self.rows = rows  # persisted keyed_delta frame, None if no rows
        self.touched = touched
        self.key = key
        self.cols = new.columns[:-1]
        if rows is None:
            empty = new.select(*self.cols).filter(F.lit(False))
            self.removed, self.added = empty, empty
        else:
            self.removed, self.added = delta_images(rows, self.cols, key)

    def state_rows(self) -> DataFrame:
        """Post-merge rows of the touched buckets: a narrow projection
        of the delta, already partitioned by bucket."""
        return self.rows.select(
            *[
                F.col(c) if c == self.key else F.col(f"__win.{c}").alias(c)
                for c in self.cols
            ],
            "__bucket",
        )

    def release(self) -> None:
        if self.rows is not None:
            self.rows.unpersist()


def epoch_delta(
    batch: DataFrame,
    state_dir: str,
    key: str = "key",
    n_buckets: int = STATE_BUCKETS,
) -> EpochDelta:
    """Derive one epoch's delta against the committed state at
    ``state_dir`` (eager-merge or LSM layout): the batch, tagged new,
    unioned with the committed rows of the buckets it touches, tagged
    old — read with the batch's known schema, so no footer-inference
    job runs, and pruned to the touched bucket partitions — folded by
    ``keyed_delta`` into ``min(#touched buckets, defaultParallelism)``
    partitions and persisted. The persisted frame pins the pre-merge
    state image: the commit is about to replace the dir it reads."""
    spark = batch.sparkSession
    cols = [key if c == "key" else c for c in STATE_COLS]
    new = batch.select(*cols).withColumn(
        "__bucket", _state_bucket(key, n_buckets)
    )
    # tiny driver-side list: at most n_buckets ints, never row data
    touched = sorted(
        r["__bucket"] for r in new.select("__bucket").distinct().collect()
    )
    if not touched:
        return EpochDelta(new, None, touched, key)
    prev_dir = _existing_state_dir(state_dir)
    old = None
    if prev_dir is not None and _bucket_dirs(prev_dir):
        # partition pruning: only touched bucket dirs are scanned
        old = (
            spark.read.schema(new.schema)
            .parquet(prev_dir)
            .filter(F.col("__bucket").isin(touched))
        )
    elif prev_dir is not None:
        # migration from the pre-bucketed flat layout: one full rewrite
        old = (
            spark.read.schema(new.select(*cols).schema)
            .parquet(prev_dir)
            .withColumn("__bucket", _state_bucket(key, n_buckets))
        )
    n_parts = min(len(touched), spark.sparkContext.defaultParallelism)
    rows = keyed_delta(new, old, key, n_parts).persist()
    return EpochDelta(new, rows, touched, key)


def commit_state(delta: EpochDelta, state_dir: str) -> None:
    """Commit an ``EpochDelta`` to the eager-merge state: the touched
    buckets are written fresh from the delta's post-merge rows (one
    file per bucket), every untouched bucket is hardlinked, and the
    staged layout is swapped in. Re-running it (the retry wrapper)
    re-derives the carry set from whatever is committed, so a retry
    after a partial swap converges."""
    import shutil

    prev_dir = _existing_state_dir(state_dir)
    if not delta.touched:
        if prev_dir is not None:
            return  # empty batch, state already committed: no-op epoch
        # first epoch, empty batch: flat empty write (partitionBy on an
        # empty frame emits no schema-bearing files); the next non-empty
        # epoch migrates to the bucketed layout
        delta.new.write.mode("overwrite").parquet(state_dir)
        return
    prev_buckets = _bucket_dirs(prev_dir) if prev_dir is not None else {}
    carry = {b: d for b, d in prev_buckets.items() if b not in delta.touched}

    next_dir = state_dir + "_next"
    shutil.rmtree(next_dir, ignore_errors=True)
    delta.state_rows().write.mode("overwrite").partitionBy("__bucket").parquet(
        next_dir
    )
    _carry_buckets(prev_dir, next_dir, carry)
    # swap: park current, promote next, drop parked (renames are atomic
    # on a local/posix fs; hardlinked inodes survive the parked dir's
    # removal)
    back_dir = state_dir + "_prev"
    shutil.rmtree(back_dir, ignore_errors=True)
    if os.path.exists(state_dir):
        os.rename(state_dir, back_dir)
    os.rename(next_dir, state_dir)
    shutil.rmtree(back_dir, ignore_errors=True)


def merge_batch_into_state(
    batch: DataFrame,
    state_dir: str,
    key: str = "key",
    n_buckets: int = STATE_BUCKETS,
) -> None:
    """foreachBatch upsert merge (T7): keep latest per key (tombstones
    retained as ``DELETE`` rows so later upserts can resurrect the
    key). Overwrite-by-epoch => idempotent under replays (T9). It is
    ``epoch_delta`` + ``commit_state`` — the one merge implementation
    the streaming pipeline also runs, there with the MV and digest
    folds reading the same persisted delta.

    Scale: state is hive-partitioned by ``__bucket =
    pmod(xxhash64(key), n_buckets)``. An epoch reads and rewrites ONLY
    the buckets its batch touches (partition pruning on the read,
    hardlinks carry every untouched bucket's files into the next
    epoch unscanned and unrewritten) — per-epoch cost is
    O(batch + touched-state), not O(state), in one shuffle (the keyed
    delta's repartition by bucket). The reference gets the same
    incrementality from per-row Postgres UPSERTs
    (`postgres-sink.json:22-24`).

    Crash safety: the new state is fully assembled at ``<dir>_next``
    (fresh files for touched buckets + hardlinks for the rest), then
    swapped in with atomic directory renames (old state parked at
    ``<dir>_prev`` until the swap completes); a reader/retry that
    finds no ``state`` dir falls back to ``_prev``. "State dir
    missing" is detected explicitly — any *other* read error is
    re-raised rather than silently treated as first-epoch (which would
    rebuild state from one batch and lose every compacted key). On an
    object store the rename dance becomes a manifest/table-format
    commit (Delta/Iceberg MERGE); the bucket layout and touched-set
    pruning carry over unchanged."""
    delta = epoch_delta(batch, state_dir, key, n_buckets)
    try:
        commit_state(delta, state_dir)
    finally:
        delta.release()


@contextmanager
def _job(spark: SparkSession, epoch_id: int, step: str):
    """Label the Spark jobs fired inside the block ``cdc epoch <id>:
    <step>`` (profile rows then name the epoch's sub-step), restoring
    the caller's label."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"cdc epoch {epoch_id}: {step}")
    try:
        yield
    finally:
        sc.setJobDescription(outer)


def _existing_state_dir(state_dir: str) -> str | None:
    """Current committed state: the live dir, or the parked ``_prev``
    if a crash hit between the two swap renames."""
    if os.path.exists(state_dir):
        return state_dir
    if os.path.exists(state_dir + "_prev"):
        return state_dir + "_prev"
    return None


def run_upsert_pipeline(
    spark: SparkSession, sf_dir: str, work_dir: str,
    max_retries: int = 10, backoff_ms: int = 3000,
    glob: str = "events.parquet", max_files_per_trigger: int | None = None,
    mv_spec: tuple[list[str], list[str]] | None = None,
    state_buckets: int = STATE_BUCKETS,
    state_mode: str = "merge",
    digest_buckets: int | None = None,
    drift_monitor: bool = False,
) -> dict[str, str]:
    """End-to-end streaming CDC pipeline with DLQ split:
    readStream -> transform -> foreachBatch(main: upsert merge with
    retry/backoff; poison: append to dlq/). Returns output paths.

    The state merge is wrapped in the reference's retry policy
    (`max.retries=10, retry.backoff.ms=3000`,
    `postgres-sink.json:32-33`); if retries exhaust, the whole batch
    escalates to the DLQ with the error context
    (`data-model.md:477-489`).

    ``mv_spec=(group_cols, sum_cols)`` additionally maintains an
    incremental materialized view at ``work_dir/mv`` — each epoch folds
    only the state delta into the MV (O(batch), see streaming/mv.py)
    and rewrites only the MV buckets holding touched groups
    (``fold_mv_bucketed``), the upgrade over the reference's O(table)
    REFRESH (S12).

    ``digest_buckets=N`` additionally maintains anti-entropy bucket
    digests at ``work_dir/digests`` from the same per-epoch state
    delta (``fold_digests``) — the live replica-comparison state the
    reconciliation layer diffs against a target without rescans.

    ``drift_monitor=True`` additionally KS-tests each epoch's value
    distribution against the persisted history at ``work_dir/drift``
    BEFORE folding it in (``streaming/drift_state.py``), appending a
    per-epoch report — the upstream-semantic-change tripwire.

    ``state_mode``: ``merge`` (eager per-epoch compaction — cheap
    reads) or ``lsm`` (O(batch) appends + amortized compaction via
    ``streaming/lsm_state.py`` — write-heavy CDC firehose; read the
    state through ``latest_state``, which compacts on read for this
    mode)."""
    if state_mode not in ("merge", "lsm"):
        raise ValueError(f"unknown state_mode: {state_mode!r}")
    state_dir = os.path.join(work_dir, "state")
    dlq_dir = os.path.join(work_dir, "dlq")
    mv_dir = os.path.join(work_dir, "mv")
    digest_dir = os.path.join(work_dir, "digests")
    drift_dir = os.path.join(work_dir, "drift")
    checkpoint = os.path.join(work_dir, "checkpoint")

    stream = to_change_events(
        read_event_stream(spark, sf_dir, glob, max_files_per_trigger)
    )

    def _marker(path: str) -> str | None:
        try:
            with open(os.path.join(path, "_EPOCH")) as f:
                return f.read().strip()
        except OSError:
            return None

    # (job label, store dir, fold(removed, added, marker)) per store
    # maintained from the epoch delta
    folds = []
    if mv_spec is not None:
        folds.append(("mv fold", mv_dir, lambda r, a, m: fold_mv_bucketed(
            mv_dir, r, a, *mv_spec, m, n_buckets=state_buckets
        )))
    if digest_buckets is not None:
        folds.append(("digest fold", digest_dir, lambda r, a, m: fold_digests(
            digest_dir, r, a, m, digest_buckets
        )))

    def process(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        delta = None
        try:
            poison = poison_predicate()
            with _job(spark, epoch_id, "dlq"):
                poison_rows = batch.filter(poison).withColumn(
                    "error_context", F.lit("poison predicate matched")
                ).withColumn("epoch_id", F.lit(epoch_id))
                if poison_rows.limit(1).count() > 0:
                    poison_rows.write.mode("append").parquet(dlq_dir)
            clean = batch.filter(~poison)
            marker = f"epoch-{epoch_id}"
            if drift_monitor:
                from scylla_pg_cdc_spark.streaming.drift_state import (
                    monitor_epoch,
                )

                # monitor_epoch is marker-gated internally (in-dir
                # marker, atomic swap) and returns the PERSISTED
                # report on replay; the user-facing report is one
                # hive partition per epoch, overwrite mode — both
                # halves idempotent under any crash point
                with _job(spark, epoch_id, "drift"):
                    report = monitor_epoch(spark, drift_dir, clean, marker)
                    report.write.mode("overwrite").parquet(
                        os.path.join(
                            drift_dir, "report", f"epoch_id={epoch_id}"
                        )
                    )
            # the delta is derived ONCE per epoch from the pre-merge
            # state; the MV and digest folds and the state commit all
            # read it (LSM mode appends the batch itself, so it needs
            # the delta only for a fold). The in-dir marker makes each
            # fold idempotent under epoch replay: a crash after a swap
            # but before the checkpoint commit re-enters with the same
            # epoch_id and skips the folds that already landed.
            pending = [f for f in folds if _marker(f[1]) != marker]
            if state_mode == "merge" or pending:
                with _job(spark, epoch_id, "delta"):
                    delta = epoch_delta(clean, state_dir, n_buckets=state_buckets)
            for step, _, fold in pending:
                with _job(spark, epoch_id, step):
                    fold(delta.removed, delta.added, marker)
            if state_mode == "lsm":
                from scylla_pg_cdc_spark.streaming.lsm_state import maintain

                sink = partial(maintain, clean, state_dir, n_buckets=state_buckets)
            else:
                sink = partial(commit_state, delta, state_dir)
            merge = with_retries(
                sink, max_retries=max_retries, backoff_ms=backoff_ms
            )
            try:
                with _job(spark, epoch_id, "state commit"):
                    merge()
            except Exception as e:  # noqa: BLE001 — retries exhausted
                with _job(spark, epoch_id, "dlq"):
                    clean.withColumn(
                        "error_context", F.lit(f"merge failed: {e}")
                    ).withColumn("epoch_id", F.lit(epoch_id)).write.mode(
                        "append"
                    ).parquet(dlq_dir)
                # compensate: the state never received this batch, so
                # fold the inverse delta (swap removed/added) into the
                # stores whose committed marker proves the forward fold
                # of THIS epoch landed — including one committed by a
                # PREVIOUS attempt of this epoch (a fold that threw
                # before its atomic rename never happened). LSM mode may
                # have no delta yet: the merge failed, so the state is
                # still the pre-merge image the delta is defined against.
                landed = [f for f in folds if _marker(f[1]) == marker]
                if landed and delta is None:
                    with _job(spark, epoch_id, "delta"):
                        delta = epoch_delta(
                            clean, state_dir, n_buckets=state_buckets
                        )
                for step, _, fold in landed:
                    with _job(spark, epoch_id, step):
                        fold(delta.added, delta.removed, marker + "-compensated")
        finally:
            if delta is not None:
                delta.release()
            batch.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        "state": state_dir,
        "dlq": dlq_dir,
        "mv": mv_dir,
        "digests": digest_dir,
        "drift": drift_dir,
        "checkpoint": checkpoint,
    }


def latest_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Materialized target-table view: live rows only (tombstones
    filtered — the `delete.enabled=true` view). Applies the
    latest-per-key reduction unconditionally: a no-op on eagerly-merged
    state (already one row per key) and the required merge-on-read for
    ``state_mode='lsm'`` dirs — the reducer's idempotence makes one
    reader serve both layouts. The ``__bucket`` partition column is an
    internal layout detail and is hidden."""
    from scylla_pg_cdc_spark.operators.cdc import compact_latest_agg

    df = spark.read.parquet(state_dir)
    if "__bucket" in df.columns:
        df = df.drop("__bucket")
    latest = (
        compact_latest_agg(df, keep_deleted=True).drop("__deleted")
        if "key" in df.columns
        else df
    )
    return latest.filter(F.col("op") != "DELETE")


def run_windowed_rates(
    spark: SparkSession, sf_dir: str, work_dir: str, window: str = "1 day"
) -> DataFrame:
    """Watermarked tumbling-window counts (T4/T5/T6): the streaming
    twin of q_stream_tumbling; late data beyond 1 hour dropped."""
    stream = read_event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
        )
    )
    # Append mode + watermark would withhold the final (still-open)
    # window on a finite stream; complete mode emits every window at
    # termination. A production deployment appends closed windows to
    # parquet instead; the aggregation expression is identical.
    name = "rates_" + os.path.basename(work_dir).replace("-", "_")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def compact_partial_updates(
    change: DataFrame,
    key: str,
    value_cols: list[str],
    order_cols: tuple[str, ...] = ("commit_ms", "event_id"),
) -> DataFrame:
    """NULL-preserving partial-update merge — the reference's
    BEFORE-UPDATE trigger semantics (`handle-partial-updates.sql:12-42`:
    IF NEW.x IS NULL THEN keep OLD.x).

    Plain last-row-wins would clobber columns a partial update left
    NULL; instead each column independently takes its last NON-NULL
    value in commit order: last(col, ignorenulls=True) over the per-key
    running frame (SURVEY.md §7 phase 5 hard part (a))."""
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = change
    for c in value_cols:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    pick = Window.partitionBy(key).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        filled.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def with_retries(
    fn,
    max_retries: int = 10,
    backoff_ms: int = 3000,
    backoff_factor: float = 1.0,
    sleep=None,
):
    """Retry wrapper for sink operations (T8): the reference sink
    retries transient failures up to `max.retries=10` with
    `retry.backoff.ms=3000` (`postgres-sink.json:32-33`) before
    escalating to the DLQ (`data-model.md:477-489`).

    Returns the wrapped callable's result; raises the LAST error after
    exhausting retries (caller then routes the batch to the DLQ).
    ``sleep`` is injectable for tests."""
    import time as _time

    sleep = sleep or _time.sleep

    def run(*args, **kwargs):
        delay = backoff_ms / 1000.0
        last = None
        for attempt in range(max_retries + 1):
            try:
                return fn(*args, **kwargs)
            except Exception as e:  # noqa: BLE001
                last = e
                if attempt < max_retries:
                    sleep(delay)
                    delay *= backoff_factor
        raise last

    return run


def heartbeat_stream(spark: SparkSession, interval_sec: int = 1) -> DataFrame:
    """Synthetic liveness stream (T3, `heartbeat.interval.ms=1000`
    `scylla-source.json:43-44`): one row per ``interval_sec``, used to
    advance watermarks on quiet change streams. The rate source can't
    emit fractional rows/sec, so it runs at 1 row/sec and keeps every
    interval_sec-th tick."""
    ticks = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    return ticks.filter(
        F.col("value") % F.lit(max(1, int(interval_sec))) == 0
    ).select(
        F.col("timestamp").alias("ts"),
        F.lit("heartbeat").alias("topic"),
        F.col("value").alias("seq"),
    )
