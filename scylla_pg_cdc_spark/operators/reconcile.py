"""Distributed reconciliation engine.

Spark-first rebuild of the reference's crown jewel — the keyed diff of
two datasets into missing/extra/mismatch classes with repair-action
generation (`src/reconciliation/differ.py`, `comparer.py`,
`repairer.py`, driven by `scripts/reconcile.py:328-488`).

The reference builds Python ``dict`` key indexes (`differ.py:548-584`)
and set-subtracts key sets (`:54,:81,:111`) — bounded by one process's
RAM and CPU. Here the entire classification is ONE full-outer shuffle
join plus a codegen'd projection (SURVEY.md §3.2 rebuild plan):

    full_outer(src, tgt, keys)
      -> when(tgt.key.isNull(), 'missing')
        .when(src.key.isNull(), 'extra')
        .when(~row_equal(...),  'mismatch')
        .otherwise('match')

At 100 TB: the join shuffles both sides once by key hash; AQE handles
skewed keys; a resumable run partitions by key range (pass a
``filter`` predicate — the analog of the reference's checkpointed
batch loop, `reconcile.py:100-188`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.functions.comparisons import (
    DEFAULT_FLOAT_TOL,
    differing_fields,
    row_equal,
)
from scylla_pg_cdc_spark.registry import query
from scylla_pg_cdc_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Library API (used by tests and by the checkable queries below)
# ---------------------------------------------------------------------------


def normalize_column_case(df: DataFrame) -> DataFrame:
    """Lower-case all column names — the comparer's case-insensitive
    field matching (`comparer.py:62-69`, keys `differ.py:724-726`).
    Apply to both sides before ``diff_datasets`` when sources disagree
    on identifier case (CQL lower vs warehouse mixed)."""
    return df.toDF(*[c.lower() for c in df.columns])


def diff_datasets(
    source: DataFrame,
    target: DataFrame,
    keys: list[str],
    ignore_fields: tuple[str, ...] = (),
    float_tol: float = DEFAULT_FLOAT_TOL,
    case_insensitive: bool = False,
) -> DataFrame:
    """Full-outer diff classification (J5, `differ.py:176-213`).

    Returns one row per key present in either side with columns:
    ``keys..., diff_type in {missing, extra, mismatch, match},
    diff_fields array<string>``.

    - ``missing``: key in source, absent in target (`differ.py:32-59`)
    - ``extra``: key in target, absent in source (`differ.py:61-86`)
    - ``mismatch``: key in both, any compared field differs under the
      tolerant-equality matrix (`differ.py:88-127`)
    - ignore_fields mirrors the comparer's exclusion list
      (`comparer.py:74-80`, CLI --ignore-fields `reconcile.py:624`)
    """
    if case_insensitive:
        source = normalize_column_case(source)
        target = normalize_column_case(target)
        keys = [k.lower() for k in keys]
        ignore_fields = tuple(c.lower() for c in ignore_fields)
    compare_cols = [
        c
        for c in source.columns
        if c in set(target.columns) and c not in keys and c not in set(ignore_fields)
    ]
    # presence markers, not key-null checks: the join condition is
    # null-safe, so a legitimately-NULL key column must still count as
    # "present on this side"
    s = source.withColumn("__src_present", F.lit(True)).alias("src")
    t = target.withColumn("__tgt_present", F.lit(True)).alias("tgt")
    cond = None
    for k in keys:
        c = F.col(f"src.{k}").eqNullSafe(F.col(f"tgt.{k}"))
        cond = c if cond is None else cond & c
    joined = s.join(t, cond, "full_outer")

    src_absent = F.col("src.__src_present").isNull()
    tgt_absent = F.col("tgt.__tgt_present").isNull()
    equal = row_equal("src", "tgt", source.schema, compare_cols, float_tol)
    diffs = differing_fields("src", "tgt", source.schema, compare_cols, float_tol)

    key_cols = [
        F.coalesce(F.col(f"src.{k}"), F.col(f"tgt.{k}")).alias(k) for k in keys
    ]
    return joined.select(
        *key_cols,
        F.when(tgt_absent, "missing")
        .when(src_absent, "extra")
        .when(~equal, "mismatch")
        .otherwise("match")
        .alias("diff_type"),
        F.when(
            ~src_absent & ~tgt_absent, diffs
        ).otherwise(F.array().cast("array<string>")).alias("diff_fields"),
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """Per-class counts (A8, `differ.py:475-514`; distribution query
    `data-model.md:587-595`)."""
    return diff.groupBy("diff_type").agg(F.count(F.lit(1)).alias("n"))


def match_percentage(diff: DataFrame) -> DataFrame:
    """Match %% = (source_rows - missing - mismatch)/source_rows*100
    (A7, `differ.py:615-641`)."""
    src_rows = F.sum(F.when(F.col("diff_type") != "extra", 1).otherwise(0))
    bad = F.sum(F.when(F.col("diff_type").isin("missing", "mismatch"), 1).otherwise(0))
    return diff.agg(
        src_rows.alias("source_rows"),
        bad.alias("discrepant_rows"),
        (F.lit(100.0) * (src_rows - bad) / src_rows).alias("match_pct"),
    )


def find_duplicates(df: DataFrame, keys: list[str]) -> DataFrame:
    """Duplicate keys: groupBy(key).count > 1 (A6, `differ.py:516-546`)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)


def schema_diff(source: DataFrame, target: DataFrame) -> tuple[list, list, list]:
    """Column-set diff (A12, `differ.py:643-683`): driver-side, like
    the reference — schemas are metadata, not data."""
    s, t = set(source.columns), set(target.columns)
    return sorted(s - t), sorted(t - s), sorted(s & t)


def generate_repair_actions(
    diff: DataFrame,
    source: DataFrame,
    keys: list[str],
    table_name: str,
) -> DataFrame:
    """Repair-action generation (D3, `repairer.py:70-145`): DELETE for
    extra, INSERT for missing, UPDATE for mismatch, in DELETE(1) ->
    INSERT(2) -> UPDATE(3) priority order (`repairer.py:97-121`).

    SQL text is built with concat/format expressions — the distributed
    analog of `repairer.py:242-430` — values quoted with '' doubling
    (`repairer.py:514-516`). INSERT/UPDATE actions join back to the
    source row to render values; DELETE needs only the key.
    """
    key = keys[0]
    non_keys = [c for c in source.columns if c not in keys]
    by_name = {f.name: f.dataType for f in source.schema.fields}

    def fmt(name: str):
        """Type-faithful SQL value rendering (`repairer.py:485-559`):
        numbers unquoted, booleans TRUE/FALSE, NULL literal, binary as
        hex, timestamps as quoted ISO, strings quoted with '' doubling."""
        col = F.col(name)
        dtype = by_name[name]
        s = dtype.simpleString()
        if s in ("boolean",):
            rendered = F.upper(col.cast("string"))
        elif s.startswith(("tinyint", "smallint", "int", "bigint", "float",
                           "double", "decimal")):
            rendered = col.cast("string")
        elif s == "binary":
            rendered = F.concat(F.lit("X'"), F.hex(col), F.lit("'"))
        else:  # strings, timestamps, dates, complex-as-json
            base = F.to_json(col) if s.startswith(("array", "map", "struct")) else col.cast("string")
            rendered = F.concat(
                F.lit("'"), F.regexp_replace(base, "'", "''"), F.lit("'")
            )
        return F.coalesce(rendered, F.lit("NULL"))

    def quote(col):
        return F.concat(
            F.lit("'"),
            F.regexp_replace(col.cast("string"), "'", "''"),
            F.lit("'"),
        )

    src_with_key = source.select(
        *[F.col(k) for k in keys], *[F.col(c) for c in non_keys]
    )
    joined = diff.filter(F.col("diff_type") != "match").join(
        src_with_key, on=keys, how="left"
    )

    insert_cols = ", ".join(keys + non_keys)
    insert_vals = F.concat_ws(", ", *[fmt(c) for c in keys + non_keys])
    set_clause = F.concat_ws(
        ", ",
        *[F.concat(F.lit(f"{c} = "), fmt(c)) for c in non_keys],
    )
    # WHERE covers EVERY key column — a first-component-only clause
    # would make composite-key DELETE/UPDATE hit sibling rows
    where_clause = F.concat_ws(
        " AND ", *[F.concat(F.lit(f"{k} = "), fmt(k)) for k in keys]
    )

    sql = (
        F.when(
            F.col("diff_type") == "extra",
            F.concat(F.lit(f"DELETE FROM {table_name} WHERE "), where_clause),
        )
        .when(
            F.col("diff_type") == "missing",
            F.concat(
                F.lit(f"INSERT INTO {table_name} ({insert_cols}) VALUES ("),
                insert_vals,
                F.lit(")"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(f"UPDATE {table_name} SET "),
                set_clause,
                F.lit(" WHERE "),
                where_clause,
            )
        )
    )
    action_type = (
        F.when(F.col("diff_type") == "extra", "DELETE")
        .when(F.col("diff_type") == "missing", "INSERT")
        .otherwise("UPDATE")
    )
    priority = (
        F.when(F.col("diff_type") == "extra", 1)
        .when(F.col("diff_type") == "missing", 2)
        .otherwise(3)
        .cast("long")
    )
    return joined.select(
        action_type.alias("action_type"),
        *[F.col(k) for k in keys],
        priority.alias("priority"),
        sql.alias("repair_sql"),
    )


def apply_repairs(
    target: DataFrame,
    actions: DataFrame,
    source: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Execute repair actions against a target DataFrame — the engine
    face of the reference's row-at-a-time repair loop
    (`scripts/reconcile.py:490-522`: cursor.execute per action).

    Spark-first: instead of executing rendered SQL statements, the
    merge is two keyed joins —

      1. anti-join the target against ALL actioned keys (drops the
         DELETE rows and the stale halves of UPDATEs), then
      2. union in the source image of every INSERT / UPDATE key.

    Removing every actioned key first (not just DELETE/UPDATE) makes
    the merge a pure "set keyed rows to source state" operation, so
    re-applying the same actions is a no-op — idempotency the
    reference gets from SQL primary-key semantics.

    At scale: both joins shuffle by the repair keys only; the action
    set is normally tiny relative to the target, so AQE converts them
    to broadcast joins at runtime.  On a transactional table format
    (Delta/Iceberg) this whole function is one MERGE INTO.
    """
    drop_keys = actions.select(*keys).distinct()
    add_keys = (
        actions.filter(F.col("action_type") != "DELETE")
        .select(*keys)
        .distinct()
    )
    kept = target.join(drop_keys, on=keys, how="left_anti")
    inserted = source.join(add_keys, on=keys, how="left_semi")
    return kept.unionByName(inserted.select(*target.columns))


def apply_repairs_to_parquet(
    spark: SparkSession,
    target_path: str,
    actions: DataFrame,
    source: DataFrame,
    keys: list[str],
) -> None:
    """Materialize ``apply_repairs`` onto a parquet target in place.

    Parquet files are immutable, so the repaired image is written to a
    staging directory first and swapped in afterwards (write-ahead then
    rename — the repaired data is fully durable before the old target
    is touched, mirroring the reference's execute-then-commit per
    connection; on Delta/Iceberg this would be a single MERGE commit).

    Crash recovery: the only window where the target path is absent is
    between the two renames, and in that window both the backup (old
    image) and the fully-written staging (new image) exist. On entry
    this function heals that state by rolling the BACKWARD direction —
    restoring the backup — so a crashed repair simply re-runs from the
    old image (the repair merge is idempotent, so re-running is safe).
    """
    import os
    import shutil

    staging = target_path.rstrip("/") + ".__repair_staging__"
    backup = target_path.rstrip("/") + ".__repair_old__"
    if not os.path.exists(target_path) and os.path.exists(backup):
        # crashed mid-swap: restore the old image, drop the orphan
        # staging (it will be rebuilt), and proceed normally
        shutil.move(backup, target_path)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)

    target = spark.read.parquet(target_path)
    repaired = apply_repairs(target, actions, source, keys)
    repaired.write.mode("overwrite").parquet(staging)
    shutil.move(target_path, backup)
    shutil.move(staging, target_path)
    shutil.rmtree(backup, ignore_errors=True)


# ---------------------------------------------------------------------------
# Deterministic perturbed target for the checkable queries
# ---------------------------------------------------------------------------
# source = orders; target drops keys %97==0 (missing), perturbs
# o_totalprice for %53==0 and o_orderpriority for %41==0 (mismatch),
# and adds key+10000000 clones of %89==0 rows (extra).

_TARGET_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + CASE WHEN o_orderkey % 53 = 0 THEN 1.11 ELSE 0 END
               AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % 41 = 0 THEN 'X-PERTURBED'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 89 = 0
"""


def _perturbed_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    kept = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 53 == 0, 1.11).otherwise(0.0)
        ).alias("o_totalprice"),
        "o_orderdate",
        F.when(F.col("o_orderkey") % 41 == 0, "X-PERTURBED")
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    extra = orders.filter(F.col("o_orderkey") % 89 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    return kept.unionByName(extra)


@query(
    "q_reconcile_diff",
    oracle=f"""
    WITH target AS ({_TARGET_SQL})
    SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NULL THEN 'missing'
                WHEN s.o_orderkey IS NULL THEN 'extra'
                WHEN NOT (s.o_custkey IS NOT DISTINCT FROM t.o_custkey)
                  OR NOT (s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
                  OR NOT (ABS(s.o_totalprice - t.o_totalprice) < 0.0001)
                  OR NOT (s.o_orderdate IS NOT DISTINCT FROM t.o_orderdate)
                  OR NOT (s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority)
                THEN 'mismatch'
                ELSE 'match' END AS diff_type
    FROM orders s FULL OUTER JOIN target t ON s.o_orderkey = t.o_orderkey
    WHERE t.o_orderkey IS NULL OR s.o_orderkey IS NULL
       OR NOT (s.o_custkey IS NOT DISTINCT FROM t.o_custkey)
       OR NOT (s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
       OR NOT (ABS(s.o_totalprice - t.o_totalprice) < 0.0001)
       OR NOT (s.o_orderdate IS NOT DISTINCT FROM t.o_orderdate)
       OR NOT (s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority)
    """,
)
def q_reconcile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer diff classification (J2+J3+J4+J5) of orders vs a
    deterministically perturbed copy: all discrepancy rows with their
    class."""
    orders = load_table(spark, sf_dir, "orders")
    diff = diff_datasets(
        orders, _perturbed_target(spark, sf_dir), keys=["o_orderkey"]
    )
    return diff.filter(F.col("diff_type") != "match").select(
        "o_orderkey", "diff_type"
    )


@query(
    "q_reconcile_fielddiff",
    oracle=f"""
    WITH target AS ({_TARGET_SQL})
    SELECT s.o_orderkey,
           concat_ws(',',
               CASE WHEN NOT (s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority)
                    THEN 'o_orderpriority' END,
               CASE WHEN NOT (ABS(s.o_totalprice - t.o_totalprice) < 0.0001)
                    THEN 'o_totalprice' END
           ) AS diff_fields
    FROM orders s JOIN target t ON s.o_orderkey = t.o_orderkey
    WHERE NOT (ABS(s.o_totalprice - t.o_totalprice) < 0.0001)
       OR NOT (s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority)
    """,
)
def q_reconcile_fielddiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level diff detail (J7, `differ.py:129-174`): mismatch rows
    with the sorted list of differing fields (comma-joined for
    cross-engine hashing)."""
    orders = load_table(spark, sf_dir, "orders")
    diff = diff_datasets(
        orders, _perturbed_target(spark, sf_dir), keys=["o_orderkey"]
    )
    return diff.filter(F.col("diff_type") == "mismatch").select(
        "o_orderkey",
        F.array_join(F.col("diff_fields"), ",").alias("diff_fields"),
    )


@query(
    "q_repair_actions",
    oracle=f"""
    WITH target AS ({_TARGET_SQL})
    SELECT CASE WHEN s.o_orderkey IS NULL THEN 'DELETE'
                WHEN t.o_orderkey IS NULL THEN 'INSERT'
                ELSE 'UPDATE' END AS action_type,
           COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NULL THEN 1
                WHEN t.o_orderkey IS NULL THEN 2
                ELSE 3 END AS priority
    FROM orders s FULL OUTER JOIN target t ON s.o_orderkey = t.o_orderkey
    WHERE t.o_orderkey IS NULL OR s.o_orderkey IS NULL
       OR NOT (ABS(s.o_totalprice - t.o_totalprice) < 0.0001)
       OR NOT (s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority)
    """,
)
def q_repair_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair actions from the diff classes in DELETE -> INSERT ->
    UPDATE priority order (D3, `repairer.py:70-145`). The rendered SQL
    text column is engine-specific, so the checked projection carries
    (action_type, key, priority); the library function
    ``generate_repair_actions`` adds ``repair_sql``."""
    orders = load_table(spark, sf_dir, "orders")
    diff = diff_datasets(
        orders, _perturbed_target(spark, sf_dir), keys=["o_orderkey"]
    )
    actions = generate_repair_actions(diff, orders, ["o_orderkey"], "orders")
    return actions.select(
        "action_type",
        "o_orderkey",
        F.col("priority").cast("long").alias("priority"),
    )


@query(
    "q_repair_roundtrip",
    oracle="""
    SELECT 'match' AS diff_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    """,
)
def q_repair_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop repair (D3 + the executor the reference runs at
    `scripts/reconcile.py:490-522`): diff orders vs the perturbed
    target, generate actions, APPLY them, and re-diff.  The checked
    output is the post-repair class histogram — one 'match' row per
    source key and nothing else, which pins that the executor healed
    every missing/extra/mismatch discrepancy."""
    orders = load_table(spark, sf_dir, "orders")
    target = _perturbed_target(spark, sf_dir)
    diff = diff_datasets(orders, target, keys=["o_orderkey"])
    actions = generate_repair_actions(diff, orders, ["o_orderkey"], "orders")
    repaired = apply_repairs(target, actions, orders, ["o_orderkey"])
    rediff = diff_datasets(orders, repaired, keys=["o_orderkey"])
    return diff_summary(rediff).select(
        "diff_type", F.col("n").cast("long").alias("n")
    )


@query(
    "q_schema_diff",
    oracle="""
    SELECT 'o_orderstatus,o_totalprice' AS only_in_source,
           'o_orderdate,o_orderpriority' AS only_in_target,
           'o_custkey,o_orderkey' AS common
    """,
)
def q_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema diff of two projections (A12, `differ.py:643-683`):
    driver-side column-set algebra emitted as a 1-row DataFrame."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    b = orders.select("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate")
    only_s, only_t, common = schema_diff(a, b)
    return spark.createDataFrame(
        [(",".join(only_s), ",".join(only_t), ",".join(common))],
        "only_in_source string, only_in_target string, common string",
    )


@query(
    "q_reconcile_composite",
    oracle="""
    WITH src AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               l_quantity, l_returnflag, TRUE AS sp
        FROM lineitem
    ), tgt AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               l_quantity + CASE WHEN (l_orderkey + l_partkey) % 31 = 0
                                 THEN 1.0 ELSE 0 END AS l_quantity,
               l_returnflag, TRUE AS tp
        FROM lineitem WHERE (l_orderkey + l_suppkey) % 41 <> 0
    )
    -- NULL-SAFE key equality + presence flags, mirroring
    -- diff_datasets' contract exactly (r10 nullts fuzz): a row whose
    -- key component is legitimately NULL must reconcile against its
    -- twin, not decay into a missing+extra pair; presence is read
    -- from the flag, never from key-NULLness
    SELECT COALESCE(s.l_orderkey, t.l_orderkey) AS l_orderkey,
           COALESCE(s.l_linenumber, t.l_linenumber) AS l_linenumber,
           COALESCE(s.l_partkey, t.l_partkey) AS l_partkey,
           COALESCE(s.l_suppkey, t.l_suppkey) AS l_suppkey,
           CASE WHEN t.tp IS NULL THEN 'missing'
                WHEN s.sp IS NULL THEN 'extra'
                WHEN NOT (ABS(s.l_quantity - t.l_quantity) < 0.0001)
                  OR NOT (s.l_returnflag IS NOT DISTINCT FROM t.l_returnflag)
                THEN 'mismatch' ELSE 'match' END AS diff_type
    FROM src s FULL OUTER JOIN tgt t
      ON s.l_orderkey IS NOT DISTINCT FROM t.l_orderkey
     AND s.l_linenumber IS NOT DISTINCT FROM t.l_linenumber
     AND s.l_partkey IS NOT DISTINCT FROM t.l_partkey
     AND s.l_suppkey IS NOT DISTINCT FROM t.l_suppkey
    WHERE t.tp IS NULL OR s.sp IS NULL
       OR NOT (ABS(s.l_quantity - t.l_quantity) < 0.0001)
       OR NOT (s.l_returnflag IS NOT DISTINCT FROM t.l_returnflag)
    """,
)
def q_reconcile_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key reconciliation (J6, `differ.py:706-727`): the
    full-outer diff keyed on lineitem's 4-column unique key against a
    deterministically perturbed copy — the oracle face of what
    tests/test_reconcile.py proves on synthetic frames. One shuffle
    per side on the composite key hash, same as single-key diff."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    src = li.select(*keys, "l_quantity", "l_returnflag")
    tgt = li.filter((F.col("l_orderkey") + F.col("l_suppkey")) % 41 != 0).select(
        *keys,
        (
            F.col("l_quantity")
            + F.when((F.col("l_orderkey") + F.col("l_partkey")) % 31 == 0, 1.0)
            .otherwise(0.0)
        ).alias("l_quantity"),
        "l_returnflag",
    )
    diff = diff_datasets(src, tgt, keys)
    return diff.filter(F.col("diff_type") != "match").select(*keys, "diff_type")


# ---------------------------------------------------------------------------
# Anti-entropy bucket digests (Merkle-style reconciliation at scale)
# ---------------------------------------------------------------------------

_MERKLE_BUCKETS = 512

# canonical row string: every field quantized/stringified identically
# in both engines (cents for the float, ISO date, raw strings).
# Each field is NULL-coalesced to an explicit sentinel BEFORE joining:
# bare `||` propagates NULL through the whole canon (DuckDB) while
# concat_ws silently SKIPS the field (Spark) — round-9 nulls fuzzing
# caught the two digests diverging on a corpus with NULL totalprice.
# The sentinel also removes the skip ambiguity itself (a NULL field
# must not canonicalize to the same string as a missing one) — the
# same discipline bucket_digests below already uses.
_CANON_DUCK = " || '|' || ".join(
    f"COALESCE({f}, '\\N')"
    for f in (
        "CAST(o_orderkey AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus",
        "CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR)",
        "CAST(o_orderdate AS VARCHAR)",
        "o_orderpriority",
    )
)


def _merkle_side_duck(rel: str) -> str:
    from scylla_pg_cdc_spark.operators.sketches import _duck_hex_poly

    return f"""
        SELECT o_orderkey % {_MERKLE_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({_duck_hex_poly(_CANON_DUCK)}) AS BIGINT) AS digest
        FROM {rel} GROUP BY 1
    """


def _merkle_side_spark(df: DataFrame) -> DataFrame:
    # per-field NULL sentinel before joining — see _CANON_DUCK comment
    def cf(c: Column) -> Column:
        return F.coalesce(c.cast("string"), F.lit("\\N"))

    canon = F.concat_ws(
        "|",
        cf(F.col("o_orderkey")),
        cf(F.col("o_custkey")),
        cf(F.col("o_orderstatus")),
        cf(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")),
        cf(F.col("o_orderdate")),
        cf(F.col("o_orderpriority")),
    )
    hv = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return (
        df.select(
            (F.col("o_orderkey") % _MERKLE_BUCKETS).alias("bucket"),
            hv.alias("hv"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("hv").alias("digest"),
        )
    )


@query(
    "q_merkle_diff",
    oracle=f"""
    WITH target AS ({_TARGET_SQL}),
    sb AS ({_merkle_side_duck("orders")}),
    tb AS ({_merkle_side_duck("target")})
    SELECT COALESCE(sb.bucket, tb.bucket) AS bucket,
           COALESCE(sb.n_rows, 0) AS src_rows,
           COALESCE(tb.n_rows, 0) AS tgt_rows,
           COALESCE(sb.digest, 0) AS src_digest,
           COALESCE(tb.digest, 0) AS tgt_digest
    FROM sb FULL OUTER JOIN tb ON sb.bucket = tb.bucket
    WHERE sb.bucket IS NULL OR tb.bucket IS NULL
       OR sb.n_rows <> tb.n_rows OR sb.digest <> tb.digest
    """,
)
def q_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation stage 1: compare per-bucket row
    counts and order-independent content digests instead of rows —
    the Merkle/hash-tree scheme Cassandra repair and DynamoDB
    anti-entropy use, flattened to one level. Each side reduces to
    512 (bucket, count, sum-of-row-hash) cells; only
    buckets whose cells differ need the row-level full-outer diff
    (``q_reconcile_diff``), so at 100 TB the network cost of "are
    these replicas in sync, and where not?" drops from shipping both
    tables to shipping two 512-row digest frames, then
    running the expensive diff ONLY on the differing key ranges
    (bucket pruning pushes down to the scan when the layout is
    bucketed by key). The digest is a SUM of per-row md5-prefix
    hashes — commutative, so it is partitioning- and
    order-independent, and mergeable across sub-buckets (what makes
    the full tree recursion work); hashes are < 2^32, so the bigint
    SUM is exact to ~2^31 rows per bucket — scale the bucket count
    with the table, or fold with BIT_XOR as ``merkle_pruned_diff``
    does, to stay unbounded. Reference semantics anchor:
    `scripts/reconcile.py` row-window comparison, restated as digest
    comparison."""
    orders = load_table(spark, sf_dir, "orders")
    sb = _merkle_side_spark(orders)
    tb = _merkle_side_spark(_perturbed_target(spark, sf_dir))
    sb = sb.select(
        F.col("bucket"),
        F.col("n_rows").alias("s_rows"),
        F.col("digest").alias("s_digest"),
    )
    tb = tb.select(
        F.col("bucket"),
        F.col("n_rows").alias("t_rows"),
        F.col("digest").alias("t_digest"),
    )
    j = sb.join(tb, "bucket", "full_outer")
    return (
        j.filter(
            F.col("s_rows").isNull()
            | F.col("t_rows").isNull()
            | (F.col("s_rows") != F.col("t_rows"))
            | (F.col("s_digest") != F.col("t_digest"))
        )
        .select(
            "bucket",
            F.coalesce("s_rows", F.lit(0)).alias("src_rows"),
            F.coalesce("t_rows", F.lit(0)).alias("tgt_rows"),
            F.coalesce("s_digest", F.lit(0)).alias("src_digest"),
            F.coalesce("t_digest", F.lit(0)).alias("tgt_digest"),
        )
    )


def _row_hashes(df: DataFrame, keys: list[str], nbuckets: int) -> DataFrame:
    """(bucket, hv) per row: key-hash bucket plus xxhash64 of the
    canonicalized non-key columns — the unit ``bucket_digests`` folds
    and ``merge_digest_deltas`` XORs in and out."""
    kcols = [F.col(k) for k in keys]
    val_cols = sorted(c for c in df.columns if c not in keys)
    canon = F.concat_ws(
        "\x01", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in val_cols
        ]
    )
    return df.select(
        F.pmod(F.xxhash64(*kcols), F.lit(nbuckets)).alias("bucket"),
        F.xxhash64(canon).alias("hv"),
    )


def bucket_digests(
    df: DataFrame, keys: list[str], nbuckets: int
) -> DataFrame:
    """Per-bucket content state (bucket, n, dig): row count plus the
    BIT_XOR fold of xxhash64 over the canonicalized non-key columns,
    bucketed by key hash. XOR makes the digest not merely mergeable
    but INVERTIBLE — XOR-ing a row's hash again removes it — which is
    what lets CDC deltas maintain the digest incrementally
    (``merge_digest_deltas``) instead of rescanning the table."""
    return (
        _row_hashes(df, keys, nbuckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("hv").alias("dig"))
    )


def merge_digest_deltas(
    state: DataFrame,
    removed: DataFrame,
    added: DataFrame,
    keys: list[str],
    nbuckets: int,
) -> DataFrame:
    """Maintain anti-entropy bucket digests INCREMENTALLY from CDC
    images: given the current (bucket, n, dig) state, the rows a
    change batch removed (DELETE rows + the BEFORE image of every
    UPDATE) and the rows it added (INSERT rows + the AFTER image of
    every UPDATE), the new state is

        n'   = n - |removed_b| + |added_b|
        dig' = dig XOR xor(removed_b hashes) XOR xor(added_b hashes)

    because XOR is its own inverse — no rescan of the base table,
    cost proportional to the CHANGE batch only. This is how a CDC
    consumer keeps replica-comparison digests hot at 100 TB: each
    epoch folds its delta; reconciliation then compares two digest
    frames (``q_merkle_diff`` shape) at any moment. Equality with a
    from-scratch recompute is pinned in tests.

    ONE aggregation: the signed row hashes (-1 per removed row, +1 per
    added row) and the prior state rows are unioned and folded by
    bucket with SUM / BIT_XOR, so map-side partial aggregation
    collapses each side before the single shuffle. ``removed`` and
    ``added`` must carry exactly the digested table's columns (no
    layout columns such as a partition bucket: a hash over an extra
    column never cancels its earlier XOR-in)."""
    rem = _row_hashes(removed, keys, nbuckets).select(
        "bucket", F.lit(-1).cast("long").alias("n"), "hv"
    )
    add = _row_hashes(added, keys, nbuckets).select(
        "bucket", F.lit(1).cast("long").alias("n"), "hv"
    )
    st = state.select("bucket", "n", F.col("dig").alias("hv"))
    return (
        st.unionByName(rem)
        .unionByName(add)
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"), F.bit_xor("hv").alias("dig"))
        .filter(F.col("n") > 0)
    )


def merkle_pruned_diff(
    source: DataFrame,
    target: DataFrame,
    keys: list[str],
    levels: tuple[int, int] = (64, 4096),
    float_tol: float = DEFAULT_FLOAT_TOL,
) -> DataFrame:
    """Anti-entropy drill-down: run the row-level full-outer diff ONLY
    over key ranges whose content digests differ, recursively —
    level-1 (coarse) digest compare prunes to flagged coarse buckets,
    level-2 (fine, nested: fine % coarse_n == coarse bucket) prunes
    further, and ``diff_datasets`` runs on the fine-flagged remainder
    alone. Returns the same (keys..., diff_type, diff_fields) frame as
    the full diff minus its 'match' rows — proven equal in
    tests/test_round5_ops.py.

    This is the two-replica repair flow Cassandra/Dynamo run: exchange
    O(buckets) digests, ship rows only for differing ranges. The fine
    cells are computed ONCE and the coarse level is derived by
    re-aggregating them (digest = SUM of row hashes is commutative and
    mergeable), which is exactly how a real merkle tree builds
    bottom-up. Digests fold xxhash64 row hashes with BIT_XOR —
    commutative and overflow-free (a SUM of full-range 64-bit hashes
    trips ANSI overflow), over the canonicalized row (all
    non-key columns cast to string with a null sentinel) — internal
    pruning state, so no cross-engine portability constraint; float
    tolerance therefore applies only at the row-diff stage, and a
    within-tolerance float wobble can flag a bucket (false positive =
    wasted drill, never a wrong result — the row diff re-checks).

    At 100 TB: two digest aggregations (shuffle = cell count), one
    broadcast semi-join per side on flagged fine buckets (pruned scan
    when the table is bucketed/clustered by key hash), then the keyed
    diff on the surviving fraction."""
    n1, n2 = levels
    assert n2 % n1 == 0, "fine level must nest inside coarse"
    kcols = [F.col(k) for k in keys]

    def fine_cells(df: DataFrame) -> DataFrame:
        return bucket_digests(df, keys, n2).withColumnRenamed("bucket", "b2")

    sc, tc = fine_cells(source), fine_cells(target)
    cells = (
        sc.withColumnsRenamed({"n": "sn", "dig": "sdig"})
        .join(
            tc.withColumnsRenamed({"n": "tn", "dig": "tdig"}),
            "b2",
            "full_outer",
        )
    )
    # coarse level DERIVED from fine cells (bottom-up tree build)
    coarse = (
        cells.groupBy(F.pmod(F.col("b2"), F.lit(n1)).alias("b1"))
        .agg(
            F.sum("sn").alias("sn"), F.bit_xor("sdig").alias("sdig"),
            F.sum("tn").alias("tn"), F.bit_xor("tdig").alias("tdig"),
        )
        .filter(
            ~(
                F.col("sn").eqNullSafe(F.col("tn"))
                & F.col("sdig").eqNullSafe(F.col("tdig"))
            )
        )
        .select("b1")
    )
    flagged = (
        cells.join(
            F.broadcast(coarse),
            F.pmod(F.col("b2"), F.lit(n1)) == F.col("b1"),
            "left_semi",
        )
        .filter(
            ~(
                F.col("sn").eqNullSafe(F.col("tn"))
                & F.col("sdig").eqNullSafe(F.col("tdig"))
            )
        )
        .select("b2")
    )

    def prune(df: DataFrame) -> DataFrame:
        return df.join(
            F.broadcast(flagged),
            F.pmod(F.xxhash64(*kcols), F.lit(n2)) == F.col("b2"),
            "left_semi",
        )

    diff = diff_datasets(prune(source), prune(target), keys, float_tol=float_tol)
    return diff.filter(F.col("diff_type") != "match")
