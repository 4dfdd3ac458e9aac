"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_replay|query_mix} \
        --seed N --seconds S --trace {0|1}

Run from the repository root. The workload's inputs are generated from
``--seed`` (query_mix also reads the fixed test tables); outputs are
checked against independent DuckDB oracles outside the timed region.

``--trace 0`` runs the named workload once, reads Spark's counters only
after it (to check that the status store evicted no stage), and prints
the end-to-end metrics.
``--trace 1`` runs both workloads in one process with spans and
status-store counter deltas around every call into the engine, prints
the per-layer metrics, and writes the spans to
``.perfbench_out/trace-<workload>-<seed>.json``.

The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it records the run's environment and, for an untraced
run, the workload's layer figures that need no counters and its checks.
``--seconds`` is recorded only: each workload runs a fixed amount of
seeded work (on a 4-core machine, a timed region of about 65 s for
``cdc_replay`` and 25 s for ``query_mix``).
Everything the run writes lives under ``.perfbench_work/`` (removed on
exit) or ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit, for one metric list of BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(REPO, p))
        for p in ("scylla_pg_cdc_spark/__init__.py", "scylla_pg_cdc_spark/session.py", "tools/check_oracle.py")
    )


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _hygiene(work: str) -> dict[str, str]:
    """Environment the engine and its worker processes run under: every
    temporary path inside ``work``, the engine on the workers' import path,
    cores from the CPU affinity mask (what ``nproc`` reports)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": (
            # no hsperfdata file in the system temp dir
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    time.tzset()
    sys.path[:0] = [REPO, HERE]
    return env


def _stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the JVM ignored stdin EOF
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("cdc_replay", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the engine is not present under {REPO}", file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    try:
        info["env"] = _hygiene(work)
        result = _run(args, work, info)
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if not os.listdir(os.path.dirname(work)):
                os.rmdir(os.path.dirname(work))
    print(json.dumps(info))
    print(json.dumps(result), flush=True)
    return 0


def _run(args, work: str, info: dict) -> dict:
    import workloads as wl
    from probes import StatusCounters, Tracer, jvm_peak_rss_mb

    tracer = Tracer()
    spark, specs, setup_s, setup_layers = wl.setup(tracer)
    counters = StatusCounters(spark)
    if args.trace:
        tracer.counters = counters
    ctx = wl.Ctx(spark, specs, tracer, work, args.seed, _cores())
    names = wl.WORKLOADS if args.trace else (args.workload,)
    results = {n: wl.run_workload(n, ctx, REPO) for n in names}
    problems = [f"{n}: {p}" for n, r in results.items() for p in r.problems]
    counters.read()
    if counters.evicted:
        problems.append("status store evicted stages: counters are incomplete")
    attempted = sum(r.attempted for r in results.values())
    failed = sum(r.failed for r in results.values())
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)

    if not args.trace:
        info["layers"] = results[args.workload].layers
        info["checks"] = results[args.workload].checks
        values = {"setup_s": setup_s, **results[args.workload].end_to_end}
        units = _units("end_to_end")
    else:
        values = {**setup_layers, "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark)}
        for r in results.values():
            values.update(r.layers)
        units = _units("per_layer")
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {
                    "end_to_end_traced": {n: r.end_to_end for n, r in results.items()},
                    "per_layer": values,
                    "checks": {n: r.checks for n, r in results.items()},
                    "problems": problems,
                    "spans": tracer.dump(),
                },
                f,
                indent=1,
            )
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


if __name__ == "__main__":
    sys.exit(main())
