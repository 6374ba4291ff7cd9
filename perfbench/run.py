"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,flagship,ingest} --seed N \
        --seconds S --trace {0,1}

Runs one workload on ``local[nproc]`` from this process (one closed-loop
client) for at least ``S`` seconds, checks every operation's rows against
the exact reference, and prints one JSON object as the last line of
stdout. With ``--trace 0`` its metrics are the end-to-end metrics of
BENCHMARK.json. With ``--trace 1`` they are the per-layer metrics, from a
run that alternates traced and untraced ops over the same queries so the
tracing overhead can be reported. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

T_START = time.monotonic()
HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def _launcher_env(run_dir: Path) -> dict[str, str]:
    """Environment every Spark process inherits; set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    # the engine's default driver heap (48g) exceeds small hosts: take 40%
    # of RAM, capped at 8g
    mem_gb = max(2, min(8, int(mem_kb * 0.4 / 2**20)))
    for d in ("local", "tmp"):
        (run_dir / d).mkdir(exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        # Python workers import the engine by module path; without the repo
        # on PYTHONPATH every Arrow UDF fails outside the repo cwd
        "PYTHONPATH": os.pathsep.join(
            [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
    }
    os.environ.update(env)
    return env


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    except Exception:
        pass  # the gateway broke mid-call (SIGTERM): stop the JVM below
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def _end_to_end(wl, lat, loop_s, setup_s) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (_quantile(lat, 0.90), "s"),
        "ops_per_s": (len(lat) / loop_s, "1/s"),
        "batch_s": (wl.batch_seconds(), "s"),
        "cache_mb": (wl.cache_mb(), "MB"),
        "index_bytes_per_input_byte": (wl.index_bytes_per_input_byte(), "ratio"),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory (below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, str(REPO))
    from perfbench import fixtures

    run_dir = fixtures.run_dir()
    spark = None
    try:
        env = _launcher_env(run_dir)
        # imported after the environment is set: the JVM inherits it
        from geometric_aware_retrieval_v2_spark.session import get_spark

        from perfbench.spans import NullTracer, Tracer
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        cpus = int(env["SPARK_GRAFT_CPUS"])
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
            shuffle_partitions=max(cpus, 8),
            extra_conf={
                "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        t_spark = time.monotonic() - T_START
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir, tracer)
        t_fix = time.monotonic() - T_START
        wl.setup()
        t_setup = time.monotonic() - T_START
        lat, traced_lat = [], []
        t_loop = time.monotonic()
        deadline = t_loop + args.seconds
        while True:
            if args.trace:
                # the same work untraced and traced, alternating which goes
                # first: the pair gives the tracing overhead
                untraced, traced = wl.traced_pair(tracer, traced_first=len(lat) % 2 == 1)
                lat.append(untraced.latency)
                traced_lat.append(traced.latency)
            else:
                r = wl.op(tracer)
                lat.append(r.latency)
                wl.results.append(r)
            if time.monotonic() >= deadline and (args.trace or len(lat) % wl.cycle == 0):
                break
        loop_s = time.monotonic() - t_loop
        wl.batches(tracer)
        if args.trace:
            wl.trace_extras()
        t_batches = time.monotonic() - T_START
        attempted, failed, mismatches, raised = wl.verify()
        t_verify = time.monotonic() - T_START
        wrong = [m for _, m in mismatches if m.kind == "wrong"]
        for text, m in mismatches:
            print(f"FAILED {args.workload} qid={m.qid} kind={m.kind} text={text!r} "
                  f"first_got={m.first_got} first_want={m.first_want}", flush=True)
        for r in wl.results + wl.batch_results:
            if r.error:
                print(f"RAISED {args.workload} queries={r.queries[:3]} error={r.error}", flush=True)
        setup_s = statistics.median(wl.setup_times)
        if args.trace:
            metrics = wl.layer_metrics(tracer, lat, traced_lat, failed / attempted)
            tracer.write(fixtures.WORK / f"trace-{args.workload}-seed{args.seed}.jsonl")
        else:
            metrics = _end_to_end(wl, lat, loop_s, setup_s)
        print(json.dumps({
            "info": {
                "workload": args.workload, "seed": args.seed, "cpus": int(env["SPARK_GRAFT_CPUS"]),
                "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"], "pythonpath": env["PYTHONPATH"],
                "spark_start_s": round(t_spark, 3), "fixtures_s": round(t_fix - t_spark, 3),
                "setup_total_s": round(t_setup - t_fix, 3),
                "batches_s": round(t_batches - t_setup - loop_s, 3),
                "verify_s": round(t_verify - t_batches, 3),
                "setup_passes_s": [round(x, 3) for x in wl.setup_times],
                "ops": len(lat), "loop_s": round(loop_s, 3),
                "tie_order_failures": len(mismatches) - len(wrong), "wrong": len(wrong),
                "raised": raised, "op_latencies_s": [round(x, 4) for x in lat],
            }
        }), flush=True)
        out = {
            "correct": raised == 0 and not wrong,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
