"""KG-construction benchmark: one workload per invocation, a closed loop
of passes issued one after another by a single driver thread on
local[nproc], every pass's output checked against the reference oracle.

    python3 perfbench/run.py --workload kg_fused --seed 1 --seconds 12 --trace 0

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it is the run's record (settings, every pass, steal,
flagged stages); it is also written under ``.perfbench/runs``. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402

MIN_TRACED_PASSES = 1


def _args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the run settings; BENCHMARK.json's command pins them
    p.add_argument(
        "--cores", required=True, help="local[N]; 'nproc' = the CPUs this process may use"
    )
    p.add_argument("--driver-mem", required=True)
    p.add_argument("--local-dir", required=True, help="relative to the checkout")
    p.add_argument(
        "--partitions", required=True,
        help="partition count handed to the layer, per workload: name=n,...",
    )
    return p.parse_args(argv)


def _configure(args) -> tuple[int, dict[str, str]]:
    """Pins the Spark settings through the environment before pyspark is
    imported; returns the core count and the session's extra conf."""
    cores = len(os.sched_getaffinity(0)) if args.cores == "nproc" else int(args.cores)
    local_dir = os.path.join(ROOT, args.local_dir)
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
            "SPARK_LOCAL_DIRS": local_dir,
            "TMPDIR": tmp,
            # one string-hash seed for the Python workers the JVM starts,
            # so dict and set layouts in the kernels do not vary by run
            "PYTHONHASHSEED": "0",
            # no /tmp/hsperfdata_* from the launcher or the driver JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local_dir,
        # the heap committed and touched up front: its resident size is
        # then --driver-mem on every run, not wherever G1's adaptive
        # sizing stopped, and peak_rss_mb moves with the Python processes
        # and the JVM's off-heap memory
        "spark.driver.extraJavaOptions": (
            f"-Xms{args.driver_mem} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
    }
    return cores, conf


def _warm_up(spark, cores: int) -> None:
    """One JVM job and one mapInPandas (Python worker and Arrow channel
    start), as bench.py warms its session, on spark.range so no input
    is read before timing."""
    spark.range(1_000_000).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(100_000).repartition(cores).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()


def _stop(spark=None) -> None:
    """Stops the session (or any context left active) and the JVM it
    launched, and waits until the JVM, its Python workers and every
    other process this one started have ended."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    procs = tracing.descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the oracle's worker pool leaves multiprocessing's resource
        # tracker running until this process exits
        resource_tracker._resource_tracker._stop()
        tracing.end_processes(procs)


def _schedule(
    trace_on: bool, started: float, seconds: float, min_warm: int, passes: list
) -> bool | None:
    """Whether the next pass is traced, or None to stop. With tracing
    on, the first pass is traced and later passes alternate untraced
    and traced, so both sides of the overhead see the same session."""
    warm = passes[1:]
    elapsed = time.monotonic() - started
    if not passes:
        return trace_on
    if trace_on:
        n_tr = sum(1 for p in warm if p.extra.get("traced"))
        n_un = len(warm) - n_tr
        if elapsed >= seconds and n_tr >= MIN_TRACED_PASSES and n_un >= MIN_TRACED_PASSES:
            return None
        return n_tr < n_un
    if elapsed >= seconds and len(warm) >= min_warm:
        return None
    return False


def main(argv=None) -> int:
    try:
        return _run(argv)
    finally:
        _stop()


def _run(argv) -> int:
    at_entry = tracing.seconds_since_process_start()
    t_entry = time.monotonic()
    args = _args(argv)
    cores, conf = _configure(args)

    import grisp_spark.session as session  # noqa: F401  (fails outside a checkout)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}: {sorted(workloads.WORKLOADS)}")
    parts = dict(kv.split("=") for kv in args.partitions.split(","))
    wl = workloads.WORKLOADS[args.workload](ROOT, args.seed, int(parts[args.workload]))

    t_gen = time.monotonic()
    wl.prepare()
    gen_s = time.monotonic() - t_gen

    with tracing.RssSampler() as rss:
        t_session = time.monotonic()
        spark = session.get_spark(f"perfbench-{wl.name}", cores=cores, extra_conf=conf)
        get_spark_s = time.monotonic() - t_session
        try:
            _warm_up(spark, cores)
            wl.load(spark)
            setup_s = at_entry + (time.monotonic() - t_entry) - gen_s
            wl.expect(spark)
            tracer = tracing.Tracer(spark.sparkContext) if args.trace else None

            passes = []
            steal0 = tracing.steal_ticks()
            started = time.monotonic()
            while (traced := _schedule(
                bool(args.trace), started, args.seconds, wl.min_warm_passes, passes
            )) is not None:
                tr = tracer if traced else None
                n_spans = len(tracer.spans) if tracer else 0
                try:
                    p = wl.run_pass(spark, tr, first=not passes)
                except Exception as e:  # a pass that raises is a failed pass
                    p = workloads.PassResult(float("nan"), False, f"{type(e).__name__}: {e}")
                p.extra["traced"] = traced
                if tr is not None:
                    tracer.collect_stages(tracer.spans[n_spans:])
                passes.append(p)
            measured_s = time.monotonic() - started
            steal_cpu_s = (tracing.steal_ticks() - steal0) / 100.0
            # every stage of the run, read after the last pass
            flagged = tracing.stalled(tracing.stage_metrics(spark.sparkContext))
        finally:
            _stop(spark)
    peak_rss_mb = rss.peak_bytes / 1e6

    failed = sum(1 for p in passes if not p.ok)
    untraced_warm = [p.wall_s for p in passes[1:] if p.ok and not p.extra["traced"]]
    wall_s = statistics.median(untraced_warm) if untraced_warm else float("nan")
    if args.trace:
        traced_walls = [p.wall_s for p in passes[1:] if p.ok and p.extra["traced"]]
        metrics = {
            "session.get_spark.s": get_spark_s,
            **wl.layer_metrics(tracer, passes),
        }
        all_stages = [s for sp in tracer.spans for s in sp.stages]
        n_traced = max(1, sum(1 for p in passes if p.extra["traced"]))
        tot = tracing.stage_totals(all_stages)
        metrics["spark.stalled_stages"] = len(tracing.stalled(all_stages)) / n_traced
        metrics["spark.spill_mb"] = tot["spill_mb"] / n_traced
        metrics["spark.gc_s"] = tot["gc_s"] / n_traced
        metrics["trace.overhead_s"] = statistics.median(traced_walls) - wall_s
        metrics = {k: metrics.get(k, 0.0) for k in _layer_names()}
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "first_pass_s": passes[0].wall_s,
            "turns_per_s": wl.n_turns / wall_s,
            "peak_rss_mb": peak_rss_mb,
        }
    units = _units()
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "settings": {
            "master": f"local[{cores}]",
            "driver_mem": args.driver_mem,
            "local_dir": args.local_dir,
            "partitions": wl.partitions,
            "n_convs": wl.n_convs,
            "n_turns": wl.n_turns,
        },
        "input_generation_s": gen_s,
        "measured_s": measured_s,
        "steal_cpu_s": steal_cpu_s,
        "passes": [
            {"wall_s": p.wall_s, "ok": p.ok, "traced": p.extra["traced"], "detail": p.detail}
            for p in passes
        ],
        "stalled_stages": [
            {k: s[k] for k in ("stage", "name", "run_ms", "cpu_ms")} for s in flagged
        ],
    }
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**record, "spans": tracer.dump() if tracer else []}, f)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(passes),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _layer_names() -> list[str]:
    return [m["name"] for m in _benchmark_json()["per_layer"]]


def _units() -> dict[str, str]:
    b = _benchmark_json()
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
