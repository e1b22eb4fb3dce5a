"""Benchmark runner: one workload, one fresh process, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload {etl_buildings,curation_cold}
        --seed N --seconds S --trace {0,1}

A run isolates itself under ``.perfbench/`` (its own working directory,
warehouse, ``SPARK_LOCAL_DIRS``, temp dir and fixture directory), then:

1. set-up: start the session (``session.start_s``), run a first trivial
   job (``session.warmup_s``) and generate the seeded inputs
   (``fixtures.generate_s``, the median of ``SETUP_REPEATS`` generations,
   each into emptied directories);
2. the cold pass: every operation once, results collected;
3. the output checks, untimed;
4. steady passes into the ``noop`` sink until ``--seconds`` have passed
   (at least one).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The traced run alternates
traced and untraced steady passes, so it reports its own overhead, and
writes every span and per-operation counter to
``.perfbench/traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "bytes_written_per_input_byte": "ratio",
}
# input generations per run; set-up reports their median
SETUP_REPEATS = 3


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(run_dir: str) -> None:
    """Point every place Spark, the engine and Python write to inside
    ``run_dir``. Must run before pyspark or the engine is imported."""
    for sub in ("tmp", "local", "fixtures", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_FIXTURE_DIR"] = os.path.join(run_dir, "fixtures")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # spark-submit's launcher JVM would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(run_dir)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_session(run_dir: str, trace: bool):
    from gis_etl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> either
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        # keep every job, stage, task and execution for the REST reads
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(f"perfbench-{os.path.basename(run_dir)}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to end.
    pyspark keeps the launched gateway process on ``SparkContext``."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _run_pass(ctx, ops, sink, label):
    from perfbench.workloads import run_op

    t = time.perf_counter()
    samples = [run_op(ctx, op, sink, label) for op in ops]
    return time.perf_counter() - t, samples


def execute(workload_name: str, seed: int, seconds: float, trace: bool,
            run_dir: str) -> dict:
    from perfbench import stats
    from perfbench.checks import parquet_stats
    from perfbench.trace import RestClient, Tracer, collect_groups
    from perfbench.workloads import WORKLOADS, Ctx, collect, noop

    wl = WORKLOADS[workload_name]
    rss = stats.RssSampler().start()
    layer: dict[str, float] = {}
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_session(run_dir, trace)
        layer["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1).count()
        layer["session.warmup_s"] = time.perf_counter() - t

        ctx = Ctx(spark, seed, run_dir, Tracer(spark, enabled=trace))
        gen = []
        for _ in range(SETUP_REPEATS):
            for d in (os.environ["SPARK_GRAFT_FIXTURE_DIR"], ctx.path("inputs")):
                shutil.rmtree(d, ignore_errors=True)
                os.makedirs(d)
            t = time.perf_counter()
            wl.generate(ctx)
            gen.append(time.perf_counter() - t)
        layer["fixtures.generate_s"] = stats.median(gen)
        ops = wl.ops(ctx)

        cold_s, cold = _run_pass(ctx, ops, collect, "cold")
        io = parquet_stats(wl.output_dir(ctx))
        t = time.perf_counter()
        results = wl.check(ctx, cold)
        check_s = time.perf_counter() - t
        for s in cold:
            s.result = None

        passes: list[tuple[float, list, bool]] = []
        window_end = time.perf_counter() + seconds
        # the traced run alternates untraced and traced passes, and ends
        # on an untraced one, so drift over the run weighs on both sides
        while (len(passes) < (3 if trace else 1)
               or time.perf_counter() < window_end
               or (trace and len(passes) % 2 == 0)):
            ctx.tracer.enabled = trace and len(passes) % 2 == 1
            wall, samples = _run_pass(ctx, ops, noop, f"steady{len(passes)}")
            passes.append((wall, samples, ctx.tracer.enabled))
        ctx.tracer.enabled = trace

        split = {}
        groups = {}
        if trace:
            split = wl.layer_split(ctx)
            groups = collect_groups(RestClient(spark), set(ctx.groups),
                                    ctx.group_alias)
    finally:
        if spark is not None:
            _stop_session(spark)
        rss.stop()

    all_samples = cold + [s for _, ss, _ in passes for s in ss]
    errors = [f"{s.op}: {s.error}" for s in all_samples if s.error]
    bad = [c for c in results if not c.ok]
    attempted = len(all_samples)
    failed = len(errors) + len(bad)

    steady = [s for _, ss, _ in passes for s in ss]
    pass_walls = [w for w, _, _ in passes]
    op_walls = [s.wall_s for s in steady]
    pass_s = stats.median(pass_walls)
    setup_s = (layer["session.start_s"] + layer["session.warmup_s"]
               + layer["fixtures.generate_s"])
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold_s,
        "pass_s": pass_s,
        "rows_per_s": ctx.info["input_rows"] / pass_s,
        "bytes_written_per_input_byte": io.bytes / ctx.info["input_bytes"],
    }
    detail = {
        "workload": workload_name, "seed": seed, "seconds": seconds,
        "cpus": _cpus(), "passes": len(passes),
        "pass_s": stats.summary(pass_walls),
        "op_s": stats.summary(op_walls),
        "cold_ops": {s.op: round(s.wall_s, 3) for s in cold},
        "steady_ops": {op.name: [round(s.wall_s, 3) for s in steady
                                 if s.op == op.name] for op in ops},
        "checks": [vars(c) for c in results],
        "check_s": check_s,
        "errors": errors,
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if trace:
        from perfbench.layers import per_layer, write_trace

        metrics = per_layer(
            ctx, layer, cold, cold_s, passes, split, groups, io, failed,
            attempted, rss.peak_mb,
        )
        detail["trace_file"] = write_trace(
            ctx, detail, metrics, groups, cold, passes)
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_buildings", "curation_cold"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gis_etl_spark", "__init__.py")):
        print(f"perfbench: engine package gis_etl_spark not found in {ROOT}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    _isolate(run_dir)
    try:
        out = execute(args.workload, args.seed, args.seconds,
                      bool(args.trace), run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    detail, result = out["detail"], out["result"]
    for c in detail["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for e in detail["errors"]:
        print(f"error {e}")
    print(f"checks took {detail['check_s']:.2f} s")
    print(f"passes {detail['passes']}  pass_s {detail['pass_s']}")
    print(f"op samples {detail['op_s']}")
    print(f"cold ops {detail['cold_ops']}")
    print(f"steady ops {detail['steady_ops']}")
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
