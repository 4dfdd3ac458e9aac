"""The benchmark workloads and the shared set-up.

Each workload is one closed-loop client: every step (a streaming epoch,
a reconcile round, a query) starts when the previous one has finished.
A workload returns its end-to-end figures, its per-layer figures and
its operation counts; spans go to the run's ``Tracer``.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field
from datetime import datetime, timezone

import duckdb

import gen
import oracles
from probes import ProgressRecorder, Tracer

ENGINE = "scylla_pg_cdc_spark"

# cdc_replay: snapshot + incremental arrival files, one file per epoch
CDC_KEYS = 5_000
CDC_FILES = 10
CDC_EVENTS_PER_FILE = 2_500

# query_mix: the heaviest first-run query of each listed operator module
# (r12 BENCH_DETAIL.json first samples), run once each on fixed tables,
# plus one reconcile round over a seeded pair of RECON_ROWS rows a side.
# The order is fixed: in a fresh JVM whichever step runs first pays most
# of the JIT warm-up, so a seed-permuted order moved single queries' first
# runs by about 40% and the step median by more than any usable bound.
QUERY_MIX = (
    "q_graph_pagerank",  # graph
    "q_mad_value",  # stats
    "q_copurchase_pairs",  # analytics
    "q_crossmodal_dedup_audit",  # vector
    "q_audio_window_peaks",  # multimodal
    "q_tpch_q11",  # tpch
)
# The heaviest first-run query of the two modules whose 10-15 s first runs
# the end-to-end runs cannot afford, run once each in traced runs only,
# after query_mix's steps, for their per-module layer figures. The other
# sixteen modules' queries would push a traced run past its time limit.
MODULE_SWEEP = (
    "q_entity_resolution",  # relational
    "q_stream_neardup_admission",  # text
)
RECONCILE_STEP = "reconcile_round"
RECON_ROWS = 150_000
RECON_KEYS = ["k1", "k2"]

WORKLOADS = ("cdc_replay", "query_mix")
# trigger phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Result:
    """What one workload reports."""

    end_to_end: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    checks: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    specs: dict
    tracer: Tracer
    work: str
    seed: int
    cores: int


def _median(xs) -> float:
    return float(statistics.median(xs))


def _warmup(spark) -> None:
    """The JVM/codegen job ``bench.py`` starts with. The fixed tables are
    not touched: their first-read cost belongs to the cold queries."""
    spark.range(1_000_000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()


def setup(tracer: Tracer):
    """``get_session`` + ``load_all`` + warm-up, once, in a fresh process:
    the set-up includes the JVM launch and the engine's imports. Returns
    the session, its registry, the set-up seconds and their parts."""
    with tracer.span("setup") as top:
        with tracer.span("get_session") as s1:
            from scylla_pg_cdc_spark.session import get_session

            spark = get_session("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("load_all") as s2:
            from scylla_pg_cdc_spark.registry import load_all

            specs = load_all()
        with tracer.span("warmup") as s3:
            _warmup(spark)
    layers = {
        "session.start_s": s1.seconds,
        "registry.load_s": s2.seconds,
        "session.warmup_s": s3.seconds,
    }
    return spark, specs, top.seconds, layers


def counter_layers(w: str, counters: dict[str, float], seconds: float, cores: int) -> dict[str, float]:
    out = {f"{w}.{k}": v for k, v in counters.items()}
    out[f"{w}.core_busy_frac"] = counters["executor_run_s"] / (seconds * cores)
    out[f"{w}.total_s"] = seconds
    return out


# --------------------------------------------------------------- cdc_replay


def _iso(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _dir_stats(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size / (1024.0 * 1024.0), files


def cdc_replay(ctx: Ctx) -> Result:
    from scylla_pg_cdc_spark.streaming.pipeline import latest_state, run_upsert_pipeline

    spark, tr = ctx.spark, ctx.tracer
    inp = gen.gen_cdc(
        os.path.join(ctx.work, "cdc_in"), ctx.seed,
        n_keys=CDC_KEYS, n_files=CDC_FILES, events_per_file=CDC_EVENTS_PER_FILE,
    )
    res = Result(attempted=CDC_FILES + 1)
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        with tr.span("cdc_replay") as top:
            with tr.span("run_upsert_pipeline") as pipe:
                out = run_upsert_pipeline(
                    spark, inp.dir, os.path.join(ctx.work, "stream"),
                    glob="*.parquet", max_files_per_trigger=1,
                    mv_spec=(["event_type"], ["value"]),
                    digest_buckets=32,
                )
            with tr.span("latest_state") as rd:
                n_live = latest_state(spark, out["state"]).count()
            with tr.span("mv_read") as mvr:
                mv_rows = spark.read.parquet(out["mv"]).collect()
        rec.wait_terminated(1)
    finally:
        spark.streams.removeListener(rec)

    epochs = sorted(rec.progress, key=lambda p: p["batchId"])
    if len(epochs) != CDC_FILES + 1:
        res.problems.append(f"{len(epochs)} epochs ran, {CDC_FILES + 1} expected")
    starts = [_iso(p["timestamp"]) for p in epochs]
    trig = [p["durationMs"]["triggerExecution"] for p in epochs]
    ends = [s + t / 1e3 for s, t in zip(starts, trig)]
    for i, p in enumerate(epochs):
        ep = tr.add(f"epoch {p['batchId']}", starts[i], ends[i], pipe, rows=p["numInputRows"])
        t = starts[i]
        for ph in PHASES:
            ms = p["durationMs"].get(ph, 0)
            tr.add(ph, t, t + ms / 1e3, ep)
            t += ms / 1e3
    incr = epochs[1:]
    incr_trig = trig[1:]
    # the engine's epochs on its own clock: the call's wall time is the
    # start before the first epoch, the epochs, the gaps between them and
    # the tail after the last; the residual is what these do not cover
    # (non-zero only where reported epochs overlap each other or the call)
    start_s = starts[0] - pipe.start
    idle_s = sum(max(b - a, 0.0) for a, b in zip(ends, starts[1:])) + max(pipe.end - ends[-1], 0.0)
    residual_s = pipe.seconds - start_s - sum(trig) / 1e3 - idle_s

    # output checks, outside the timed region
    con = duckdb.connect()
    oracles.cdc_expected(con, inp.dir)
    cols = ["key", "event_id", "event_type", "value", "props", "commit_ms"]
    state = latest_state(spark, out["state"]).select(*cols).toArrow()
    mv = spark.read.parquet(out["mv"]).select("event_type", "n_rows", "sum_value").toArrow()
    dlq_rows = spark.read.parquet(out["dlq"]).count() if os.path.exists(out["dlq"]) else 0
    res.problems += oracles.check_cdc(con, state, mv, dlq_rows, inp.poison_rows)
    con.close()
    if n_live != state.num_rows or len(mv_rows) != mv.num_rows:
        res.problems.append("read-back counts disagree with the checked read")
    res.failed = res.attempted if res.problems else 0

    res.end_to_end = {
        "total_s": top.seconds,
        "step_ms": _median(incr_trig),
        "rate_per_s": inp.incremental_events / (ends[-1] - starts[1]),
    }
    state_mb, state_files = _dir_stats(out["state"])
    lay = {
        "streaming.epochs": len(epochs),
        "streaming.snapshot_s": trig[0] / 1e3,
        "streaming.start_s": start_s,
        "streaming.idle_ms": idle_s * 1e3,
        "streaming.state_mb": state_mb,
        "streaming.state_files": state_files,
        "streaming.latest_state_s": rd.seconds,
        "streaming.mv_read_s": mvr.seconds,
        "streaming.dlq_frac": dlq_rows / inp.incremental_events,
    }
    res.checks = {"stream_residual_ms": residual_s * 1e3}
    for ph in PHASES:
        lay[f"streaming.{ph}_ms"] = _median([p["durationMs"].get(ph, 0) for p in incr])
    if pipe.counters:
        lay["streaming.stages_per_epoch"] = pipe.counters["stages"] / len(epochs)
        lay["streaming.write_amp"] = pipe.counters["output_mb"] / (inp.input_bytes / (1024.0 * 1024.0))
        lay.update(counter_layers("cdc_replay", top.counters, top.seconds, ctx.cores))
    res.layers = lay
    return res


# ---------------------------------------------------------------- query_mix


def query_sf_dir() -> str:
    """The fixed sf0.01 tables: ``$PERFBENCH_SF_DIR``, else the sibling of
    the sf0.001 directory ``__spark_entry__``'s flagship query reads."""
    from __spark_entry__ import SF0001

    return os.environ.get("PERFBENCH_SF_DIR") or os.path.join(os.path.dirname(SF0001), "sf0.01")


def reconcile_round(ctx: Ctx, inp: gen.ReconcileInput):
    """One diff -> summary -> repair -> verify round on a fresh copy of
    the generated target. Returns the round span, its three phase spans
    and the check problems."""
    from scylla_pg_cdc_spark.operators.reconcile import (
        apply_repairs_to_parquet,
        diff_datasets,
        diff_summary,
        generate_repair_actions,
    )

    spark, tr = ctx.spark, ctx.tracer
    path = os.path.join(ctx.work, "recon_target")
    shutil.copytree(inp.target, path)

    def summarize(diff) -> dict[str, int]:
        return {r["diff_type"]: r["n"] for r in diff_summary(diff).collect()}

    with tr.span("reconcile_round") as rnd:
        source = spark.read.parquet(inp.source)
        with tr.span("diff_datasets/diff_summary") as d:
            diff = diff_datasets(source, spark.read.parquet(path), RECON_KEYS)
            found = summarize(diff)
        with tr.span("generate_repair_actions/apply_repairs_to_parquet") as r:
            actions = generate_repair_actions(diff, source, RECON_KEYS, "target")
            apply_repairs_to_parquet(spark, path, actions, source, RECON_KEYS)
        with tr.span("verify") as v:
            after = summarize(diff_datasets(source, spark.read.parquet(path), RECON_KEYS))
    shutil.rmtree(path)
    return rnd, d, r, v, oracles.check_reconcile(found, inp.expected, after)


def query_mix(ctx: Ctx, repo: str) -> Result:
    """Every step runs once, cold, in a fixed order: the ``QUERY_MIX``
    queries (construct + collect), then one reconcile round over a seeded
    source/target pair. A traced run then executes the ``QUERY_MIX``
    queries a second time and the ``MODULE_SWEEP`` queries once each,
    outside the steps."""
    from scylla_pg_cdc_spark.sources.tables import TABLE_NAMES

    spark, tr, specs = ctx.spark, ctx.tracer, ctx.specs
    traced = tr.counters is not None
    sf_dir = query_sf_dir()
    inp = gen.gen_reconcile(os.path.join(ctx.work, "recon_in"), ctx.seed, n_rows=RECON_ROWS)
    order = [*QUERY_MIX, RECONCILE_STEP]
    res = Result(attempted=len(order) + (len(MODULE_SWEEP) if traced else 0))

    def first_run(name: str):
        try:
            with tr.span(name, module=specs[name].fn.__module__) as q:
                with tr.span("construct") as c:
                    df = specs[name].fn(spark, sf_dir)
                with tr.span("exec") as e:
                    rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001 — counted as a failed step
            res.problems.append(f"{name}: {type(exc).__name__}: {exc}")
            return None
        return name, q, c, e, df.columns, rows

    runs, steps, recon = [], [], None
    with tr.span("query_mix") as top:
        for name in order:
            if name == RECONCILE_STEP:
                try:
                    recon = reconcile_round(ctx, inp)
                except Exception as exc:  # noqa: BLE001 — counted as a failed step
                    res.problems.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                steps.append(recon[0])
            elif run := first_run(name):
                runs.append(run)
                steps.append(run[1])

    lay = {}
    sweep = []
    if traced and runs and recon:
        # a second execution of every query: replays process-lifetime memos
        with tr.span("repeat") as rep:
            for name, *_ in runs:
                specs[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        lay["query_mix.repeat_s"] = rep.seconds
        with tr.span("module_sweep"):
            sweep = [run for name in MODULE_SWEEP if (run := first_run(name))]

    oracle = oracles.QueryOracle(repo, sf_dir, TABLE_NAMES)
    for name, *_, cols, rows in runs + sweep:
        problems = oracle.check(specs[name].oracle, cols, rows)
        if problems:
            res.problems.append(f"{name}: {'; '.join(problems)}")
    oracle.con.close()
    if recon and recon[4]:
        res.problems.append(f"{RECONCILE_STEP}: {'; '.join(recon[4])}")
    res.failed = len(res.problems)
    if len(steps) < len(order):
        return res

    wall = [s.seconds for s in steps]
    res.end_to_end = {
        "total_s": sum(wall),
        # steps differ in kind, so their median is one query's time and as
        # noisy; the geometric mean weighs every step's relative change
        "step_ms": statistics.geometric_mean(wall) * 1e3,
        "rate_per_s": len(steps) / sum(wall),
    }
    rnd, d, r, v, _ = recon
    lay.update({
        "query_mix.construct_s": sum(c.seconds for _, _, c, *_ in runs),
        "query_mix.exec_s": sum(e.seconds for _, _, _, e, *_ in runs),
        "query_mix.span_residual_s": sum(q.seconds - c.seconds - e.seconds for _, q, c, e, *_ in runs),
        "operators.reconcile.round_s": rnd.seconds,
        "operators.reconcile.diff_s": d.seconds,
        "operators.reconcile.repair_s": r.seconds,
        "operators.reconcile.verify_s": v.seconds,
        "operators.reconcile.rows_per_s": (inp.rows_source + inp.rows_target) / rnd.seconds,
    })
    for name, q, c, *_ in runs + sweep:
        module = specs[name].fn.__module__.rsplit(".", 1)[-1]
        lay[f"operators.{module}.construct_s"] = c.seconds
        lay[f"operators.{module}.first_s"] = q.seconds
    if traced:
        lay["query_mix.construct_jobs"] = sum(c.counters["jobs"] for _, _, c, *_ in runs)
        lay["query_mix.python_gap_s"] = top.counters["executor_run_s"] - top.counters["executor_cpu_s"]
        lay["operators.reconcile.shuffle_write_mb"] = rnd.counters["shuffle_write_mb"]
        lay["operators.reconcile.executor_run_s"] = rnd.counters["executor_run_s"]
        lay.update(counter_layers("query_mix", top.counters, top.seconds, ctx.cores))
    res.layers = lay
    return res


def run_workload(name: str, ctx: Ctx, repo: str) -> Result:
    if name == "cdc_replay":
        return cdc_replay(ctx)
    return query_mix(ctx, repo)

