#!/usr/bin/env python3
"""Layered benchmark of the codec engine: one workload per process at
local[<cores>], one closed-loop client, every output checked.

    python3 perfbench/run.py --workload tokens --seed 1 --seconds 10 --trace 0

Run it from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
names the workload's own metrics with their units.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (spans, Spark's
event log, codec microbenchmarks).  Scratch state lives in
``.perfbench_work/`` under the root and is removed on exit; traced runs
leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # input generations per run; setup_s takes their median
WORKLOAD_NAMES = ["tokens", "tables"]
END_TO_END = {
    "setup_s": "s",
    "bulk_items_per_s": "items/s",
    "write_p50_s": "s",
    "prune_p50_s": "s",
    "cycle_s": "s",
    "peak_pss_mb": "MB",
    "op_success_ratio": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Ctx:
    """What a workload needs from the run: session, spans, ledger, dirs."""

    def __init__(self, spark, tracer, ledger, work, seed):
        self.spark = spark
        self.tracer = tracer
        self.ledger = ledger
        self.work = work
        self.seed = seed


def start_session(app: str, work: str, cores: int, event_log: str | None):
    """local[cores] session whose scratch, temp files and Python workers all
    stay inside ``work`` and import the package from the repository root."""
    from parquet_python_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app, cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, work: str) -> dict:
    from perfbench import layers
    from perfbench.harness import (
        Ledger, MemorySampler, Tracer, cpu_ticks, read_event_log,
    )
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    event_log = os.path.join(work, "eventlog") if args.trace else None
    ledger = Ledger()
    with MemorySampler() as mem:
        t0 = time.perf_counter()
        spark = start_session("perfbench-" + args.workload, work, cores, event_log)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(bool(args.trace), run_id, spark.sparkContext)
            ctx = Ctx(spark, tracer, ledger, work, args.seed)
            wl = WORKLOADS[args.workload](ctx)

            # set-up: generate the inputs SETUP_REPS times (same seed, same
            # checksum), then compute the expected outputs and run one cold
            # warm-up cycle
            gen_s, sums = [], []
            for i in range(SETUP_REPS):
                with tracer.span("setup.generate") as g:
                    sums.append(wl.generate(os.path.join(work, f"input-{i}")))
                gen_s.append(g["dt"])
            ledger.check(
                "inputs.same_seed_same_checksum", len(set(sums)) == 1, str(sums)
            )
            for i in range(1, SETUP_REPS):
                shutil.rmtree(os.path.join(work, f"input-{i}"))
            with tracer.span("setup.prepare") as prep:
                wl.prepare(os.path.join(work, "input-0"))
            with tracer.span("setup.warm_up") as warm:
                wl.cycle()
            setup_s = session_s + statistics.median(gen_s) + prep["dt"] + warm["dt"]

            # timed window: whole cycles; the next one starts only if a
            # cycle as long as the last still ends within --seconds
            wl.recording = True
            cycle_s = []
            steal0, total0 = cpu_ticks()
            with tracer.span("measure") as window:
                deadline = time.perf_counter() + args.seconds
                while True:
                    with tracer.span("cycle") as cyc:
                        wl.cycle()
                    cycle_s.append(cyc["dt"])
                    if time.perf_counter() + cyc["dt"] > deadline:
                        break
            steal1, total1 = cpu_ticks()
            e2e = wl.end_to_end()
            named = wl.named()
            extras = {}
            if args.trace:
                with tracer.span("extras"):
                    extras = wl.layer_extras()
            wl.close()
        finally:
            stop_session(spark)

    e2e.update(
        setup_s=setup_s,
        cycle_s=statistics.median(cycle_s),
        peak_pss_mb=mem.peak / 2**20,
        op_success_ratio=1.0 - ledger.failed / max(ledger.attempted, 1),
    )
    result = {k: (e2e[k], unit) for k, unit in END_TO_END.items()}
    summary = {
        **result,
        **named,
        "op_failure_ratio": (ledger.failed / max(ledger.attempted, 1), "ratio"),
        "session_s": (session_s, "s"),
        "generate_p50_s": (statistics.median(gen_s), "s"),
        "warm_up_s": (warm["dt"], "s"),
        "host_steal_share": ((steal1 - steal0) / max(total1 - total0, 1), "ratio"),
    }
    print(
        f"perfbench {args.workload} seed={args.seed} local[{cores}] "
        f"cycles={len(cycle_s)} input_sha256={sums[0][:16]} " + " ".join(
            f"{k}={v:.6g}{u if u in ('s', 'MB') else ' ' + u}"
            for k, (v, u) in summary.items()
        )
    )
    if not args.trace:
        metrics = result
    else:
        jobs, stages = read_event_log(event_log)
        values = {name: 0.0 for name, _ in layers.PER_LAYER}
        values.update(layers.span_metrics(tracer, window, jobs, stages, cores))
        values.update(extras)
        if "encode_ms_total" in wl.facts:
            last_bulk = [
                s for s in tracer.named("engine.encode_job") if s["phase"] == "bulk"
            ][-1]
            values["engine.kernel_ms_share"] = layers.kernel_ms_share(
                wl.facts["encode_ms_total"], tracer, last_bulk, stages
            )
        for k in ("bulk_items_per_s", "write_p50_s", "read_p50_s",
                  "prune_p50_s", "cycle_s"):
            values[f"trace.{k}"] = e2e[k]
        metrics = {name: (values[name], unit) for name, unit in layers.PER_LAYER}
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.json"),
            jobs, stages, values,
        )
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_python_spark", "engine.py")):
        print(
            f"perfbench: no parquet_python_spark/ package under {ROOT}; "
            "run from a full checkout", file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    work_parent = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=args.workload + "-", dir=work_parent)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_parent)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
