"""Incremental materialized-view maintenance.

The reference refreshes its analytic views by full recompute
(`REFRESH MATERIALIZED VIEW CONCURRENTLY`, `docker/postgres/
init.sql:233-239`) — O(table) per refresh. For decomposable aggregates
(count/sum, and avg = sum/count) the Spark-native upgrade is delta
maintenance: each micro-batch contributes

    mv_new = combine(mv_old, +agg(rows added to state),
                             -agg(rows removed from state))

which is O(batch), not O(table). Min/max are NOT incrementally
maintainable under deletes (a removed row may have held the extremum)
— for those, fall back to recompute (the reference's behavior).

``state_transition`` derives the (removed, added) row sets of one
upsert-compaction epoch — the reference semantics the streaming
pipeline's single keyed delta (``pipeline.epoch_delta``) is tested
against; ``apply_delta`` folds them into the MV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compute_mv(
    state: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Full recompute face (the reference's REFRESH): per-group count +
    sums over the current state."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
        F.sum(c).alias(f"sum_{c}") for c in sum_cols
    ]
    return state.groupBy(*group_cols).agg(*aggs)


def state_transition(
    prev_state: DataFrame | None,
    batch_latest: DataFrame,
    key: str,
) -> tuple[DataFrame, DataFrame]:
    """(removed, added) rows of one compaction epoch: for every key the
    batch touches, its previous state row (if any) is removed and the
    POST-MERGE winner (if not a delete) is added.

    The winner is compact(prev_row ∪ batch_row), not the batch row —
    micro-batches are not guaranteed time-ordered (a later file can
    hold earlier events), and the upsert merge keeps the newest by
    (commit_ms, event_id) regardless of arrival epoch; the MV delta
    must agree with the merge or it drifts."""
    touched = batch_latest.select(key).distinct()
    if prev_state is None:
        prev_touched = batch_latest.filter(F.lit(False))
        combined = batch_latest
    else:
        prev_touched = prev_state.join(touched, on=key, how="left_semi")
        combined = prev_touched.select(*batch_latest.columns).unionByName(
            batch_latest
        )
    order_cols = [c for c in ("commit_ms", "event_id") if c in combined.columns]
    if not order_cols:
        raise ValueError(
            "state_transition needs commit_ms (and ideally event_id) to "
            "pick the merge winner — same ordering the state merge uses"
        )
    value_cols = [c for c in combined.columns if c != key]
    winners = (
        combined.groupBy(key)
        .agg(
            F.max_by(
                F.struct(*value_cols),
                F.struct(*[F.col(c) for c in order_cols]),
            ).alias("__r")
        )
        .select(key, *[F.col(f"__r.{c}").alias(c) for c in value_cols])
    )
    # tombstone rows persist in the state (delete-rewrite mode) but were
    # never ADDED to the MV — subtracting them would corrupt the fold.
    # They still participate in `combined` above so a stale upsert can't
    # outrank a newer delete.
    removed = prev_touched.filter(F.col("op") != "DELETE")
    added = winners.filter(F.col("op") != "DELETE")
    return removed, added


def signed_rows(
    removed: DataFrame,
    added: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """The delta in the MV's own column layout, one row per state row:
    ``n_rows`` = +1 for an added row / -1 for a removed one and each
    ``sum_<c>`` = +c / -c. Unioned with MV rows and folded by
    ``fold_rows``, it yields the next MV."""

    def signed(df: DataFrame, sign: int) -> DataFrame:
        return df.select(
            *group_cols,
            F.lit(sign).cast("long").alias("n_rows"),
            *[(F.col(c) * sign).alias(f"sum_{c}") for c in sum_cols],
        )

    return signed(added, 1).unionByName(signed(removed, -1))


def fold_rows(
    rows: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Sum MV-layout rows (prior MV rows and/or ``signed_rows``) per
    group; groups whose row count drops to zero disappear (matching
    recompute exactly)."""
    return (
        rows.groupBy(*group_cols)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        )
        .filter(F.col("n_rows") > 0)
    )


def apply_delta(
    mv_old: DataFrame | None,
    removed: DataFrame,
    added: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Fold +added/-removed into the MV in ONE aggregation: the signed
    state rows and the prior MV rows are unioned and summed per group
    (map-side partial aggregation collapses them before the single
    shuffle)."""
    rows = signed_rows(removed, added, group_cols, sum_cols)
    if mv_old is not None:
        rows = rows.unionByName(mv_old)
    return fold_rows(rows, group_cols, sum_cols)


def compute_join_view(
    a: DataFrame, b: DataFrame, join_key: str
) -> DataFrame:
    """Full recompute face of an inner-join view A ⋈ B."""
    return a.join(b, join_key)


def maintain_join_view(
    view_old: DataFrame | None,
    a_new: DataFrame,
    b_new: DataFrame,
    touched_keys: DataFrame,
    join_key: str,
) -> DataFrame:
    """Incrementally maintain the inner-join view A ⋈ B when an epoch
    replaces/removes rows of A and/or B for a set of join keys.

    Under keyed upsert semantics (the CDC state discipline everywhere
    in this repo: a batch REPLACES each touched key's rows), the
    textbook signed delta-join ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB collapses to a
    partial recompute scoped to the touched keys:

        V_new = (V_old ⟕anti touched) ∪ (A_new ⋈ B_new)|touched

    which costs O(|touched| x fanout + one pruned pass), never
    O(|A| x |B|). ``touched_keys`` must contain every join-key value
    whose A- or B-side rows changed this epoch — including the OLD key
    of any row whose join key itself was rewritten (both images are
    affected; callers derive this from the change batch the same way
    ``state_transition`` derives touched state keys).

    At 100 TB: the anti-join prunes with a broadcast of the (small)
    touched-key set, the replacement slice filters BOTH inputs down to
    touched keys before joining, and because the update is
    idempotent-by-construction (remove-then-reinsert of whole key
    slices), re-running a failed epoch converges — same properties as
    ``apply_repairs``."""
    touched = touched_keys.select(join_key).distinct()
    slice_a = a_new.join(F.broadcast(touched), join_key, "left_semi")
    slice_b = b_new.join(F.broadcast(touched), join_key, "left_semi")
    fresh = slice_a.join(slice_b, join_key)
    if view_old is None:
        return fresh
    kept = view_old.join(F.broadcast(touched), join_key, "left_anti")
    return kept.unionByName(fresh)
