"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Generators are deterministic per seed, the independent oracles are right
on hand-checked inputs, the metric names and BENCHMARK.json keep their
contract, and each workload passes a smoke run at tiny size.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import gen  # noqa: E402
import oracles  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*.parquet"))
    }


# ------------------------------------------------------------- generators


def test_cdc_inputs_are_byte_identical_per_seed(tmp_path):
    a = gen.gen_cdc(str(tmp_path / "a"), 7, n_keys=500, n_files=3, events_per_file=200)
    b = gen.gen_cdc(str(tmp_path / "b"), 7, n_keys=500, n_files=3, events_per_file=200)
    c = gen.gen_cdc(str(tmp_path / "c"), 8, n_keys=500, n_files=3, events_per_file=200)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert (a.poison_rows, a.mix) == (b.poison_rows, b.mix)
    assert sum(a.mix.values()) == a.incremental_events == 600
    # arrival order follows the file names
    mtimes = [os.path.getmtime(f) for f in a.files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    assert c.files[0].endswith("part-00000.parquet")


def test_reconcile_inputs_are_byte_identical_per_seed(tmp_path):
    a = gen.gen_reconcile(str(tmp_path / "a"), 3, n_rows=4_000, n_files=2)
    gen.gen_reconcile(str(tmp_path / "b"), 3, n_rows=4_000, n_files=2)
    gen.gen_reconcile(str(tmp_path / "c"), 4, n_rows=4_000, n_files=2)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a.expected == {"missing": 40, "extra": 40, "mismatch": 40, "match": 3_920}
    assert a.rows_target == 4_000


def test_reconcile_injection_matches_expected_counts(tmp_path):
    """Recount the injected classes with DuckDB's own full outer join."""
    inp = gen.gen_reconcile(str(tmp_path), 5, n_rows=8_000, n_files=2)
    con = duckdb.connect()
    got = dict(
        con.execute(
            f"""
            SELECT CASE WHEN t.k1 IS NULL THEN 'missing'
                        WHEN s.k1 IS NULL THEN 'extra'
                        WHEN abs(s.d - t.d) >= 1e-4 OR s.l <> t.l OR s.s <> t.s
                             OR s.t <> t.t THEN 'mismatch'
                        ELSE 'match' END AS c, count(*)
            FROM read_parquet('{inp.source}/*.parquet') s
            FULL OUTER JOIN read_parquet('{inp.target}/*.parquet') t
              ON s.k1 = t.k1 AND s.k2 = t.k2
            GROUP BY c
            """
        ).fetchall()
    )
    assert got == inp.expected


# ---------------------------------------------------------------- oracles


def _events(rows) -> pa.Table:
    """rows: (event_id, user_id, event_type, value, k)"""
    cols = list(zip(*rows))
    return gen._events_table(
        *[pa.array(c).to_numpy(zero_copy_only=False) for c in cols]
    )


def test_cdc_oracle_on_hand_checked_log(tmp_path):
    pq.write_table(
        _events(
            [
                (0, 1, "view", 5.0, 10),  # key 1 inserted ...
                (1, 2, "view", 3.0, 10),  # key 2 inserted ...
                (2, 1, "click", 7.0, 10),  # ... and updated: 7.0 wins
                (3, 2, "error", 2.0, 10),  # ... and deleted
                (4, 3, "purchase", 4.0, 10),  # key 3 inserted ...
                (5, 3, "view", 0.5, 10),  # ... poison update (value < 1) ignored
                (6, 4, "view", 9.0, 95),  # key 4 only ever poison (k > 90)
            ]
        ),
        tmp_path / "part-00000.parquet",
    )
    con = duckdb.connect()
    oracles.cdc_expected(con, str(tmp_path))
    state = con.execute(
        "SELECT key, event_id, event_type, value FROM expected_state ORDER BY key"
    ).fetchall()
    assert state == [(1, 2, "click", 7.0), (3, 4, "purchase", 4.0)]
    assert sorted(con.execute("SELECT * FROM expected_mv").fetchall()) == [
        ("click", 1, 7.0),
        ("purchase", 1, 4.0),
    ]
    good = con.execute("SELECT * FROM expected_state").arrow()
    mv = con.execute("SELECT * FROM expected_mv").arrow()
    assert oracles.check_cdc(con, good, mv, dlq_rows=2, poison_rows=2) == []
    wrong = good.set_column(3, "value", pa.array([7.0, 4.5]))
    problems = oracles.check_cdc(con, wrong, mv, dlq_rows=1, poison_rows=2)
    assert len(problems) == 2  # the state row and the DLQ count


def test_reconcile_check():
    exp = {"missing": 1, "extra": 2, "mismatch": 3, "match": 4}
    assert oracles.check_reconcile(dict(exp), exp, {"match": 5}) == []
    assert len(oracles.check_reconcile({**exp, "extra": 1}, exp, {"match": 5})) == 1
    assert len(oracles.check_reconcile(exp, exp, {"match": 4, "mismatch": 1})) == 1


def test_query_oracle_uses_check_oracle_normalization(tmp_path):
    pq.write_table(pa.table({"a": [1, 2], "b": [0.1 + 0.2, 1.5]}), tmp_path / "t.parquet")
    oracle = oracles.QueryOracle(str(REPO), str(tmp_path), ["t"])
    sql = "SELECT b, a FROM t"
    # column order and case do not matter; float noise below 12
    # significant digits does not matter; values and row counts do
    assert oracle.check(sql, ["A", "b"], [(2, 1.5), (1, 0.3)]) == []
    assert oracle.check(sql, ["a", "b"], [(1, 0.31), (2, 1.5)]) != []
    assert oracle.check(sql, ["a", "b"], [(1, 0.3)]) != []
    assert oracle.check(sql, ["a", "c"], [(1, 0.3), (2, 1.5)]) != []
    assert oracle.check(None, ["a"], [(1,)]) == []
    assert oracle.check(None, ["a"], []) != []


# ---------------------------------------------------------------- contract


def _bench() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def test_benchmark_json_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"] and b["command"][1].startswith("perfbench/")
    assert 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]
    assert max(m["bound"] for m in b["end_to_end"]) == 0.25


def test_metric_names_and_units():
    b = _bench()
    metrics = b["end_to_end"] + b["per_layer"]
    names = [m["name"] for m in metrics + b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for m in metrics:
        assert UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")


def test_every_layer_metric_says_what_it_should_move():
    layers = json.loads((HERE / "layers.json").read_text())
    assert list(layers) == [m["name"] for m in _bench()["per_layer"]]
    workloads = {w["name"] for w in _bench()["workloads"]} | {"all"}
    for spec in layers.values():
        assert spec["workload"] in workloads and spec["moves"]


def test_run_refuses_without_the_engine(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_replay", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ------------------------------------------------------------------ smoke


@pytest.fixture(scope="module")
def smoke(tmp_path_factory):
    """One session for both smoke runs, with every workload shrunk."""
    import run

    work = str(tmp_path_factory.mktemp("perfbench_work"))
    run._hygiene(work)
    import workloads as wl
    from probes import StatusCounters, Tracer

    saved = (wl.CDC_KEYS, wl.CDC_FILES, wl.CDC_EVENTS_PER_FILE, wl.RECON_ROWS, wl.QUERY_MIX, wl.MODULE_SWEEP)
    wl.CDC_KEYS, wl.CDC_FILES, wl.CDC_EVENTS_PER_FILE = 300, 2, 100
    wl.RECON_ROWS, wl.QUERY_MIX = 2_000, ("q_mad_value", "q_copurchase_pairs")
    wl.MODULE_SWEEP = ("q_exists_subquery",)
    tracer = Tracer()
    spark, specs, setup_s, layers = wl.setup(tracer)
    tracer.counters = StatusCounters(spark)
    ctx = wl.Ctx(spark, specs, tracer, work, 1, run._cores())
    yield wl, ctx
    (wl.CDC_KEYS, wl.CDC_FILES, wl.CDC_EVENTS_PER_FILE, wl.RECON_ROWS, wl.QUERY_MIX, wl.MODULE_SWEEP) = saved
    run._stop_spark()


def test_smoke_cdc_replay(smoke):
    wl, ctx = smoke
    res = wl.run_workload("cdc_replay", ctx, str(REPO))
    assert res.problems == [] and res.failed == 0 and res.attempted == wl.CDC_FILES + 1
    assert set(res.end_to_end) == {"total_s", "step_ms", "rate_per_s"}
    assert all(v > 0 for v in res.end_to_end.values())
    assert res.layers["streaming.epochs"] == wl.CDC_FILES + 1
    # the stream's wall time splits into its start, its epochs (as the
    # engine reports them) and idle time: epochs begin after the call,
    # never overlap, and end before it returns
    spans = ctx.tracer.spans
    pipe = next(s for s in spans if s.name == "run_upsert_pipeline")
    epochs = [s for s in spans if s.parent == pipe.id]
    assert len(epochs) == wl.CDC_FILES + 1
    assert pipe.start <= epochs[0].start and epochs[-1].end <= pipe.end + 0.002
    assert all(b.start >= a.end - 0.002 for a, b in zip(epochs, epochs[1:]))
    assert res.layers["streaming.start_s"] > 0 and res.layers["streaming.idle_ms"] >= 0
    assert abs(res.checks["stream_residual_ms"]) < 1.0


def test_smoke_query_mix(smoke):
    wl, ctx = smoke
    res = wl.run_workload("query_mix", ctx, str(REPO))
    # two queries and the reconcile round, then the traced-only sweep
    assert res.problems == [] and res.failed == 0 and res.attempted == 4
    assert res.layers["operators.subqueries.first_s"] > 0
    assert len(res.end_to_end) == 3 and res.end_to_end["rate_per_s"] == pytest.approx(3 / res.end_to_end["total_s"])
    assert all(v > 0 for v in res.end_to_end.values())
    # per query, construct + exec account for the first execution up to
    # the tracing's own bookkeeping
    for sp in ctx.tracer.spans:
        if sp.name in wl.QUERY_MIX:
            kids = ctx.tracer.children(sp)
            assert [k.name for k in kids] == ["construct", "exec"]
            assert 0 <= sp.seconds - sum(k.seconds for k in kids) < 0.5
    assert res.layers["query_mix.span_residual_s"] < 1.0
    assert res.layers["operators.reconcile.round_s"] > 0
    assert res.layers["query_mix.construct_jobs"] >= 1
