"""Independent answers the engine's outputs are checked against.

Every oracle here runs on DuckDB over the generated files (or the fixed
test tables), never through the engine. Checks return a list of problem
strings; an empty list means the output is right.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pyarrow as pa

# The pipeline's poison predicate (value < 1, or the JSON key k > 90;
# NULL-safe), spelled without DuckDB's JSON extension.
_POISON = (
    "coalesce(value < 1.0 OR "
    "TRY_CAST(regexp_extract(props, '\"k\":\\s*(-?\\d+)', 1) AS BIGINT) > 90, false)"
)


def cdc_expected(con: duckdb.DuckDBPyConnection, events_dir: str) -> None:
    """Create ``expected_state`` (last writer wins per key over every
    non-poison event, ordered by (commit ms, event id); deletes drop the
    key), ``expected_mv`` (its group-by on event_type) and ``poison``."""
    con.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
        f"read_parquet('{events_dir}/*.parquet')"
    )
    con.execute(f"CREATE OR REPLACE TABLE poison AS SELECT * FROM events WHERE {_POISON}")
    con.execute(
        f"""
        CREATE OR REPLACE TABLE expected_state AS
        SELECT user_id AS key, event_id, event_type, value, props,
               epoch_ms(ts) AS commit_ms
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC
            ) AS rn
            FROM events WHERE NOT {_POISON}
        )
        WHERE rn = 1 AND event_type <> 'error'
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TABLE expected_mv AS
        SELECT event_type, count(*) AS n_rows, sum(value) AS sum_value
        FROM expected_state GROUP BY event_type
        """
    )


def _same_rows(con, left: str, right: str, cols: str) -> int:
    """Rows in either relation but not the other (multiset difference)."""
    return con.execute(
        f"""
        SELECT (SELECT count(*) FROM (SELECT {cols} FROM {left}
                                      EXCEPT ALL SELECT {cols} FROM {right}))
             + (SELECT count(*) FROM (SELECT {cols} FROM {right}
                                      EXCEPT ALL SELECT {cols} FROM {left}))
        """
    ).fetchone()[0]


def check_cdc(
    con: duckdb.DuckDBPyConnection,
    state: pa.Table,
    mv: pa.Table,
    dlq_rows: int,
    poison_rows: int,
) -> list[str]:
    """Compare the engine's materialized target, MV and DLQ with the
    DuckDB recompute (``cdc_expected`` must have run)."""
    problems = []
    con.register("engine_state", state)
    con.register("engine_mv", mv)
    bad = _same_rows(
        con, "engine_state", "expected_state",
        "key, event_id, event_type, value, props, commit_ms",
    )
    if bad:
        problems.append(f"state differs from last-writer-wins recompute in {bad} rows")
    bad = _same_rows(con, "engine_mv", "expected_mv", "event_type, n_rows, sum_value")
    if bad:
        problems.append(f"MV differs from its group-by in {bad} rows")
    generated = con.execute("SELECT count(*) FROM poison").fetchone()[0]
    if generated != poison_rows:
        problems.append(f"oracle poison count {generated} != generator's {poison_rows}")
    if dlq_rows != poison_rows:
        problems.append(f"DLQ holds {dlq_rows} rows, {poison_rows} are poison")
    return problems


def check_reconcile(
    summary: dict[str, int], expected: dict[str, int], after: dict[str, int]
) -> list[str]:
    """Diff counts must equal the injected ones, and the re-diff of the
    repaired target must be all ``match``."""
    problems = []
    if summary != expected:
        problems.append(f"diff counts {summary} != injected {expected}")
    if set(after) != {"match"}:
        problems.append(f"post-repair diff is not all match: {after}")
    return problems


def _load_check_oracle(repo: str):
    """``tools/check_oracle.py``, the repository's own result normalizer."""
    path = os.path.join(repo, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """DuckDB views over the fixed test tables plus ``check_oracle``'s
    normalization: column names compared case-insensitively, rows
    compared as sorted normalized tuples."""

    def __init__(self, repo: str, sf_dir: str, table_names):
        self._norm_rows = _load_check_oracle(repo)._norm_rows
        self.con = duckdb.connect()
        for t in table_names:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def check(self, oracle_sql: str | None, cols: list[str], rows: list[tuple]) -> list[str]:
        if oracle_sql is None:  # rows-only query, as check_oracle treats it
            return [] if rows else ["rows-only query returned no rows"]
        res = self.con.execute(oracle_sql)
        duck_cols = [d[0].lower() for d in res.description]
        duck_rows = res.fetchall()
        cols = [c.lower() for c in cols]
        if sorted(cols) != sorted(duck_cols):
            return [f"columns {cols} != oracle {duck_cols}"]
        if len(rows) != len(duck_rows):
            return [f"{len(rows)} rows != oracle {len(duck_rows)}"]
        idx = [duck_cols.index(c) for c in cols]
        aligned = [tuple(r[i] for i in idx) for r in duck_rows]
        if self._norm_rows(rows) != self._norm_rows(aligned):
            return ["values differ from oracle"]
        return []
