"""Incremental MV maintenance == full recompute across a multi-epoch
upsert/delete sequence (S12 upgrade: O(batch) refresh instead of the
reference's O(table) REFRESH MATERIALIZED VIEW)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.streaming.mv import (
    apply_delta,
    compute_mv,
    state_transition,
)

SCHEMA = "key long, op string, grp string, v long, commit_ms long"


def _compact(state_rows):
    """Driver-side mini-compactor for building expected state."""
    latest = {}
    for r in state_rows:
        k = r[0]
        if k not in latest or r[4] >= latest[k][4]:
            latest[k] = r
    return [r for r in latest.values() if r[1] != "DELETE"]


def test_incremental_equals_recompute_over_epochs(spark):
    epochs = [
        # epoch 1: inserts
        [(1, "UPSERT", "a", 10, 1), (2, "UPSERT", "a", 20, 1),
         (3, "UPSERT", "b", 30, 1)],
        # epoch 2: update key 2 (group move a->b), delete key 3
        [(2, "UPSERT", "b", 25, 2), (3, "DELETE", "b", 0, 2)],
        # epoch 3: re-insert key 3 into a, new key 4
        [(3, "UPSERT", "a", 35, 3), (4, "UPSERT", "b", 40, 3)],
    ]
    all_rows: list = []
    mv = None
    prev_state_rows: list = []
    for batch_rows in epochs:
        all_rows += batch_rows
        batch = spark.createDataFrame(batch_rows, SCHEMA)
        prev_state = (
            spark.createDataFrame(prev_state_rows, SCHEMA)
            if prev_state_rows
            else None
        )
        removed, added = state_transition(prev_state, batch, "key")
        mv = apply_delta(mv, removed, added, ["grp"], ["v"])
        # materialize to avoid deep recursive plans across epochs
        mv = spark.createDataFrame(mv.collect(), mv.schema)
        prev_state_rows = _compact(all_rows)

        expect_state = spark.createDataFrame(prev_state_rows, SCHEMA)
        want = {
            r["grp"]: (r["n_rows"], r["sum_v"])
            for r in compute_mv(expect_state, ["grp"], ["v"]).collect()
        }
        got = {r["grp"]: (r["n_rows"], r["sum_v"]) for r in mv.collect()}
        assert got == want, f"MV drift at epoch ending {batch_rows}"
    # final sanity: group 'a' = keys 1,3; group 'b' = keys 2,4
    got = {r["grp"]: (r["n_rows"], r["sum_v"]) for r in mv.collect()}
    assert got == {"a": (2, 45), "b": (2, 65)}


def test_empty_group_disappears(spark):
    e1 = spark.createDataFrame([(1, "UPSERT", "only", 5, 1)], SCHEMA)
    removed, added = state_transition(None, e1, "key")
    mv = apply_delta(None, removed, added, ["grp"], ["v"])
    assert {r["grp"] for r in mv.collect()} == {"only"}
    e2 = spark.createDataFrame([(1, "DELETE", "only", 0, 2)], SCHEMA)
    prev_state = e1
    removed, added = state_transition(prev_state, e2, "key")
    mv2 = apply_delta(mv, removed, added, ["grp"], ["v"])
    assert mv2.count() == 0


def test_pipeline_incremental_mv_multi_epoch(spark, tmp_path):
    """The pipeline-maintained incremental MV after 4 micro-batch
    epochs must equal a full recompute over the final state."""
    from pyspark.sql import functions as F

    from scylla_pg_cdc_spark.streaming.mv import compute_mv
    from scylla_pg_cdc_spark.streaming.pipeline import (
        run_upsert_pipeline,
    )
    from tests.conftest import SF_SMALL

    src_dir = str(tmp_path / "src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(SF_SMALL + "/events.parquet").repartition(4).write.parquet(
        src_dir
    )
    out = run_upsert_pipeline(
        spark,
        src_dir,
        str(tmp_path / "run"),
        glob="*.parquet",
        max_files_per_trigger=1,
        mv_spec=(["event_type"], ["value"]),
    )
    mv = {
        r["event_type"]: (r["n_rows"], round(r["sum_value"], 2))
        for r in spark.read.parquet(out["mv"]).collect()
    }
    state = spark.read.parquet(out["state"])  # includes tombstone rows
    want = {
        r["event_type"]: (r["n_rows"], round(r["sum_value"], 2))
        for r in compute_mv(
            state.filter(F.col("op") != "DELETE"), ["event_type"], ["value"]
        ).collect()
    }
    assert mv == want and len(mv) > 0


def test_out_of_order_batch_does_not_regress_mv(spark):
    """A later epoch delivering an OLDER event for a key must leave the
    MV unchanged (the merge keeps the newer state; the delta must
    agree)."""
    e1 = spark.createDataFrame(
        [(1, "UPSERT", "a", 10, 100)], SCHEMA
    )
    removed, added = state_transition(None, e1, "key")
    mv = apply_delta(None, removed, added, ["grp"], ["v"])
    # epoch 2: stale event (commit 50 < 100) moving the row to grp 'b'
    stale = spark.createDataFrame([(1, "UPSERT", "b", 99, 50)], SCHEMA)
    removed, added = state_transition(e1, stale, "key")
    mv2 = apply_delta(mv, removed, added, ["grp"], ["v"])
    got = {r["grp"]: (r["n_rows"], r["sum_v"]) for r in mv2.collect()}
    assert got == {"a": (1, 10)}  # newer state wins; stale ignored


def test_delete_then_reinsert_cycle(spark):
    """Tombstones persist in state but were never added to the MV —
    re-touching a deleted key must NOT subtract the tombstone (the
    delete/re-insert cycle that corrupted the naive fold)."""
    e1 = spark.createDataFrame([(1, "UPSERT", "g", 10, 10)], SCHEMA)
    removed, added = state_transition(None, e1, "key")
    mv = apply_delta(None, removed, added, ["grp"], ["v"])
    # epoch2: delete key 1 -> tombstone retained in state
    e2 = spark.createDataFrame([(1, "DELETE", "g", 0, 20)], SCHEMA)
    removed, added = state_transition(e1, e2, "key")
    mv = apply_delta(mv, removed, added, ["grp"], ["v"])
    assert mv.count() == 0
    # post-epoch2 state (delete-rewrite mode keeps the tombstone row)
    state2 = e2
    # epoch3: re-insert key 1
    e3 = spark.createDataFrame([(1, "UPSERT", "g", 5, 30)], SCHEMA)
    removed, added = state_transition(state2, e3, "key")
    mv = apply_delta(mv, removed, added, ["grp"], ["v"])
    got = {r["grp"]: (r["n_rows"], r["sum_v"]) for r in mv.collect()}
    assert got == {"g": (1, 5)}  # not empty, not double-counted


def test_stale_upsert_after_delete_stays_deleted(spark):
    """A stale upsert (older than the tombstone) arriving after the
    delete must not resurrect the row in the MV."""
    state = spark.createDataFrame([(1, "DELETE", "g", 0, 20)], SCHEMA)
    stale = spark.createDataFrame([(1, "UPSERT", "g", 10, 10)], SCHEMA)
    removed, added = state_transition(state, stale, "key")
    mv = apply_delta(None, removed, added, ["grp"], ["v"])
    assert mv.count() == 0  # tombstone outranks the stale upsert


# (prev_state rows, batch rows) per epoch of the three ordering cases
# above, run through the pipeline's single keyed delta as well
DELTA_CASES = {
    "out_of_order": [
        ([], [(1, "UPSERT", "a", 10, 100)]),
        ([(1, "UPSERT", "a", 10, 100)], [(1, "UPSERT", "b", 99, 50)]),
    ],
    "delete_then_reinsert": [
        ([], [(1, "UPSERT", "g", 10, 10)]),
        ([(1, "UPSERT", "g", 10, 10)], [(1, "DELETE", "g", 0, 20)]),
        ([(1, "DELETE", "g", 0, 20)], [(1, "UPSERT", "g", 5, 30)]),
    ],
    "stale_upsert_after_delete": [
        ([(1, "DELETE", "g", 0, 20)], [(1, "UPSERT", "g", 10, 10)]),
    ],
}


@pytest.mark.parametrize("case", sorted(DELTA_CASES))
def test_keyed_delta_matches_state_transition(spark, case):
    """The streaming epoch's keyed delta (``keyed_delta`` +
    ``delta_images``) yields exactly ``state_transition``'s
    (removed, added) — the reference stays the spec."""
    from scylla_pg_cdc_spark.streaming.pipeline import (
        delta_images,
        keyed_delta,
    )

    def bucketed(df):
        return df.withColumn("__bucket", F.lit(0))

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    for prev_rows, batch_rows in DELTA_CASES[case]:
        batch = spark.createDataFrame(batch_rows, SCHEMA)
        prev = spark.createDataFrame(prev_rows, SCHEMA) if prev_rows else None
        want = state_transition(prev, batch, "key")
        delta = keyed_delta(
            bucketed(batch), None if prev is None else bucketed(prev), "key", 1
        )
        got = delta_images(delta, batch.columns, "key")
        for w, g in zip(want, got):
            assert g.columns == batch.columns
            assert rows(g, batch.columns) == rows(w, batch.columns), (
                f"{case}: prev={prev_rows} batch={batch_rows}"
            )


def test_join_view_incremental_equals_recompute(spark):
    """Join-view maintenance under multi-epoch keyed churn == full
    recompute, including key deletion (empty slice), fanout growth,
    and a no-op epoch."""
    from scylla_pg_cdc_spark.streaming.mv import (
        compute_join_view,
        maintain_join_view,
    )

    a_schema = "user_id long, a_val string"
    b_schema = "user_id long, b_val long"
    a_rows = {1: [(1, "x")], 2: [(2, "y")]}
    b_rows = {1: [(1, 100)], 2: [(2, 200)], 3: [(3, 300)]}
    view = None

    def flat(d):
        return [r for rows in d.values() for r in rows]

    epochs = [
        # epoch 1: everything is "touched" (initial build)
        ({1: [(1, "x")], 2: [(2, "y")]}, {}, [1, 2, 3]),
        # epoch 2: replace user 1's A rows with two rows (fanout 2),
        # drop user 2's B rows entirely
        ({1: [(1, "x1"), (1, "x2")]}, {2: []}, [1, 2]),
        # epoch 3: no-op epoch (empty touched set)
        ({}, {}, []),
        # epoch 4: new user 4 on both sides
        ({4: [(4, "z")]}, {4: [(4, 400), (4, 401)]}, [4]),
    ]
    for a_up, b_up, touched in epochs:
        a_rows.update(a_up)
        b_rows.update(b_up)
        a_df = spark.createDataFrame(flat(a_rows), a_schema)
        b_df = spark.createDataFrame(flat(b_rows), b_schema)
        tk = spark.createDataFrame(
            [(k,) for k in touched], "user_id long"
        )
        view = maintain_join_view(view, a_df, b_df, tk, "user_id")
        view = spark.createDataFrame(view.collect(), view.schema)
        want = sorted(
            tuple(r) for r in compute_join_view(a_df, b_df, "user_id").collect()
        )
        got = sorted(tuple(r) for r in view.collect())
        assert got == want, f"drift after touched={touched}"


def test_join_view_rerun_epoch_is_idempotent(spark):
    from scylla_pg_cdc_spark.streaming.mv import maintain_join_view

    a_df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, a string")
    b_df = spark.createDataFrame([(1, 10), (2, 20)], "k long, b long")
    tk = spark.createDataFrame([(1,)], "k long")
    v1 = maintain_join_view(None, a_df, b_df, tk, "k")
    v2 = maintain_join_view(v1, a_df, b_df, tk, "k")
    assert sorted(map(tuple, v1.collect())) == sorted(
        map(tuple, v2.collect())
    )
