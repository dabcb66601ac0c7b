"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload enrich_storm --seed 1 --seconds 21 --trace 0

Run from the repository root. It stages the seeded input (cached under
``.perfbench_work/inputs``), starts a Spark session at ``local[2]``, runs a
fixed warm-up replay on a scratch lake, then replays the workload on fresh
lakes in a closed loop, for as many rounds (or small epochs) as fill
``--seconds`` at their nominal cost, checks every result against the DuckDB
oracle, and prints one JSON line: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Details (samples, spans, the
per-layer table) go to ``.perfbench_work/out``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402  (the benchmark's own modules, next to this file)
import layers  # noqa: E402
import measures  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

# Spark slots: below nproc (4), which keeps run-to-run spread low on a
# shared host (see README.md, "Spark core count").
SLOTS = 2

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "epoch_s_p50": "s",
    "epoch_s_tail": "s",
    "read_s_p50": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
    "ok_ops": "ratio",
}


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(x.split()[1]) for x in fh if x.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.memory": "1g",
        # a fixed-size heap (-Xms = spark.driver.memory): peak RSS then does
        # not depend on when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(t, setup_s: float, rss_mb: float) -> dict:
    tail, pct, n = measures.tail(t.epoch_walls)
    read_p50 = measures.median(t.read_walls)
    vals = {
        "setup_s": setup_s,
        "events_per_s": t.events / t.apply_s if t.apply_s else 0.0,
        "epoch_s_p50": measures.median(t.epoch_walls),
        "epoch_s_tail": tail,
        "read_s_p50": read_p50,
        "write_amp": measures.median(t.write_amp),
        "space_amp": measures.median(t.space_amp),
        "peak_rss_mb": rss_mb,
        "ok_ops": 1.0 - t.failed / max(1, t.attempted),
    }
    # a run that failed before taking samples has NaN medians, which JSON
    # cannot carry; it reports 0 and correct=false
    vals = {k: (v if v == v else 0.0) for k, v in vals.items()}
    return vals, {"epoch_s_tail_pct": pct, "epoch_s_n": n}


def main(argv=None) -> int:
    t_proc = process_start()
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import nifi_nlp_processor_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or Spark: {exc}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    out_dir = os.path.join(work, "out")
    for d in (run_dir, os.path.join(run_dir, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None  # re-read TMPDIR: pyspark's gateway uses it
    try:
        return _run(args, t_proc, work, run_id, run_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, t_proc, work, run_id, run_dir, out_dir) -> int:
    excluded = 0.0  # time spent outside set-up: generation, calibration, oracle prep

    t0 = time.time()
    calib_before = measures.calibrate(SLOTS)
    excluded += time.time() - t0

    t0 = time.time()
    staged, meta = gen.stage(args.workload, args.seed, os.path.join(work, "inputs"))
    gen_s = time.time() - t0
    excluded += gen_s

    t0 = time.time()
    con = oracle.connect(os.path.join(run_dir, "tmp"))
    all_files = [os.path.join(staged, f) for f in sorted(os.listdir(staged)) if f.endswith(".parquet")]
    oracle.check_stream(con, all_files)
    excluded += time.time() - t0

    from nifi_nlp_processor_spark.session import build_session

    t0 = time.time()
    spark = build_session("perfbench", cores=SLOTS, extra_conf=spark_conf(run_dir))
    session_s = time.time() - t0
    tracer = Tracer(spark, run_id)
    try:
        if args.trace:
            tracer.install()
        t0 = time.time()
        wl = workloads.WORKLOADS[args.workload](spark, tracer, con, staged, meta, run_dir)
        excluded += time.time() - t0  # oracle prefix counts (trickle_mor)

        t0 = time.time()
        wl.warmup()
        warmup_s = time.time() - t0
        prepared = wl.prepare()

        t_first = time.time()
        setup_s = t_first - t_proc - excluded
        tally = workloads.Tally()
        units = wl.units(args.seconds)
        wl.run(tally, units, alternate_trace=bool(args.trace), prepared=prepared)
        window_s = time.time() - t_first

        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = {"jvm": measures.vm_hwm_mb(jvm_pid), "python": measures.vm_hwm_mb()}
        rss_mb = rss["jvm"] + rss["python"]

        layer = None
        if args.trace:
            layer = layers.per_layer(
                spark, wl, tracer, tally, SLOTS,
                extra={"session.start_s": session_s, "warmup.s": warmup_s, "gen.s": gen_s},
            )
            tracer.dump(os.path.join(out_dir, f"{run_id}.spans.json"))
            if args.workload == "enrich_storm":
                spark, eps1 = layers.single_slot_baseline(spark, wl, tally, spark_conf(run_dir), build_session)
                layer["runner.scale_eff"] = layers.scale_eff(tally, SLOTS, eps1)
    finally:
        tracer.uninstall()
        stop_spark(spark)
        con.close()

    calib_after = measures.calibrate(SLOTS)
    e2e, tail_info = end_to_end(tally, setup_s, rss_mb)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "slots": SLOTS, "units": units, "window_s": window_s,
        "end_to_end": e2e, **tail_info,
        "failed_ops": tally.failed / max(1, tally.attempted),
        "attempted": tally.attempted, "failed": tally.failed, "errors": tally.errors,
        "peak_rss_mb_parts": rss, "session_start_s": session_s, "warmup_s": warmup_s, "gen_s": gen_s,
        "host.calib_s": calib_before, "host.calib_after_s": calib_after,
        "epoch_walls": tally.epoch_walls, "read_walls": tally.read_walls,
        "load_s": tally.load_s, "write_amp_samples": tally.write_amp,
        "space_amp_samples": tally.space_amp, "unit_walls": tally.units,
        "compactions": [r.compacted for r in tally.results if r.compacted],
    }
    if layer is not None:
        layer["host.calib_s"] = calib_before
        layer["host.calib_after_s"] = calib_after
        detail["per_layer"] = layer
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    for line in tally.errors:
        print(f"perfbench: {line}", file=sys.stderr)
    print(
        f"perfbench {args.workload} seed={args.seed}: {tally.attempted} ops, {tally.failed} failed, "
        f"epochs n={tail_info['epoch_s_n']} tail=p{tail_info['epoch_s_tail_pct']:.0f}, "
        f"calib {calib_before:.3f}/{calib_after:.3f} s"
    )
    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in layers.PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
