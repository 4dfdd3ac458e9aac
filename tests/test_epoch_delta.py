"""The streaming epoch's single keyed delta: the merge-failure path
(DLQ + inverse-fold compensation) and a guard on the Spark jobs one
incremental epoch fires."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from scylla_pg_cdc_spark.operators.reconcile import bucket_digests
from scylla_pg_cdc_spark.streaming import pipeline
from scylla_pg_cdc_spark.streaming.mv import compute_mv

N_FILES = 4
EVENTS_PER_FILE = 60
N_KEYS = 40
TS0_US = 1_700_000_000_000_000


def _write_arrivals(src_dir: str) -> None:
    """``N_FILES`` arrival files in the raw events layout, one epoch
    each (``max_files_per_trigger=1``, oldest mtime first): upserts,
    tombstones (``event_type='error'``) and out-of-order commit times
    over a small key space, so later epochs update and delete keys
    earlier ones committed; the first row of every file is poison."""
    os.makedirs(src_dir)
    types = ["click", "view", "buy"]
    for i in range(N_FILES):
        rows = range(EVENTS_PER_FILE)
        table = pa.table(
            {
                "event_id": pa.array([i * 1000 + j for j in rows], pa.int64()),
                "ts": pa.array(
                    [TS0_US + ((i * EVENTS_PER_FILE + j) * 7919 % 1000) * 1000
                     for j in rows],
                    pa.int64(),
                ),
                "user_id": pa.array(
                    [(j * 7 + i * 3) % N_KEYS for j in rows], pa.int64()
                ),
                "event_type": pa.array(
                    ["error" if j % 9 == 4 else types[j % 3] for j in rows]
                ),
                "value": pa.array(
                    [0.5 if j == 0 else 1.0 + j % 13 for j in rows], pa.float64()
                ),
                "props": pa.array(['{"k": 5}'] * EVENTS_PER_FILE),
            }
        )
        path = os.path.join(src_dir, f"arrival-{i}.parquet")
        pq.write_table(table, path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _run(spark, tmp_path, **kw):
    src = str(tmp_path / "src")
    _write_arrivals(src)
    return pipeline.run_upsert_pipeline(
        spark, src, str(tmp_path / "wd"), glob="*.parquet",
        max_files_per_trigger=1, mv_spec=(["event_type"], ["value"]),
        digest_buckets=16, state_buckets=8, **kw,
    )


def _folds_match_state(spark, out) -> None:
    live = pipeline.latest_state(spark, out["state"])
    want_mv = {
        tuple(r) for r in compute_mv(live, ["event_type"], ["value"]).collect()
    }
    got_mv = {
        tuple(r)
        for r in spark.read.parquet(out["mv"])
        .select("event_type", "n_rows", "sum_value")
        .collect()
    }
    assert got_mv == want_mv and got_mv
    want_dig = {tuple(r) for r in bucket_digests(live, ["key"], 16).collect()}
    got_dig = {
        tuple(r)
        for r in spark.read.parquet(out["digests"])
        .select("bucket", "n", "dig")
        .collect()
    }
    assert got_dig == want_dig and got_dig


def test_merge_failure_goes_to_dlq_and_compensates_folds(
    spark, tmp_path, monkeypatch
):
    """The state commit of epoch 2 fails with no retries left: its
    clean rows land in dlq/ with ``merge failed`` context, the MV and
    digest folds that already landed are undone by the inverse delta,
    and later epochs carry on from the state that never saw the batch."""
    from pyspark.sql import functions as F

    real_commit = pipeline.commit_state
    calls = []

    def commit_failing_epoch_2(delta, state_dir):
        calls.append(state_dir)
        if len(calls) == 3:
            raise OSError("injected commit failure")
        real_commit(delta, state_dir)

    monkeypatch.setattr(pipeline, "commit_state", commit_failing_epoch_2)
    out = _run(spark, tmp_path, max_retries=0, backoff_ms=0)
    assert len(calls) == N_FILES

    failed = spark.read.parquet(out["dlq"]).filter(
        F.col("error_context").startswith("merge failed")
    )
    assert failed.count() == EVENTS_PER_FILE - 1  # all but the poison row
    assert {r["epoch_id"] for r in failed.select("epoch_id").collect()} == {2}
    assert "injected commit failure" in failed.first()["error_context"]

    live = pipeline.latest_state(spark, out["state"])
    assert live.filter(F.col("event_id").between(2000, 2999)).count() == 0
    _folds_match_state(spark, out)


def _jobs_since(spark, after: int) -> list[tuple[str, int]]:
    """(description, stages run) of every job with id > ``after``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > after:
            d = j.description()
            out.append(
                (d.get() if d.isDefined() else "",
                 j.stageIds().size() - j.numSkippedStages())
            )
    return out


def _last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


# Per incremental epoch of the fixed input above, as measured when the
# epoch's state, MV and digests were first folded from one keyed delta.
# A change that re-adds a pass over the state or a per-store aggregation
# raises these.
MAX_JOBS_PER_EPOCH = 16
MAX_STAGES_PER_EPOCH = 17


def test_incremental_epoch_job_budget(spark, tmp_path):
    """Every job of the foreachBatch body carries its ``cdc epoch <id>:
    <step>`` description, and an incremental epoch stays within its
    job and stage budget."""
    before = _last_job_id(spark)
    _run(spark, tmp_path)
    jobs = _jobs_since(spark, before)
    per_epoch: dict[int, list[int]] = {}
    for desc, n_stages in jobs:
        epoch, step = desc[len("cdc epoch "):].split(": ")
        assert step in {"dlq", "delta", "mv fold", "digest fold", "state commit"}
        per_epoch.setdefault(int(epoch), []).append(n_stages)
    assert sorted(per_epoch) == list(range(N_FILES))
    for epoch in range(1, N_FILES):
        n_jobs, n_stages = len(per_epoch[epoch]), sum(per_epoch[epoch])
        assert n_jobs <= MAX_JOBS_PER_EPOCH, f"epoch {epoch}: {n_jobs} jobs"
        assert n_stages <= MAX_STAGES_PER_EPOCH, f"epoch {epoch}: {n_stages} stages"
