"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Runs one workload in this process on local[nproc], checks its outputs and
prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json, or with ``--trace 1`` its per-layer metrics). The line
before it carries the detail: every op class's median and sample count,
the workload's own headline figures and the host calibration.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402

WORKLOADS = ("serve", "churn")
# a run that has not finished by then is killed and reports no result
DEADLINE_S = 170.0


def spec() -> dict:
    with open(os.path.join(env.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def execute(args, run_dir: str) -> dict:
    from perfbench import churn, layers, pipeline, probes, serve
    from perfbench.harness import Run
    from perfbench.trace import Tracer

    env.log("session")
    spark, session_s = env.start_session()
    try:
        tracer = Tracer(spark) if args.trace else None
        run = Run(spark, args.seed, args.seconds, tracer)
        fn = {"serve": serve.run_serve, "churn": churn.run_churn}[args.workload]
        env.log(f"{args.workload}")
        e2e = fn(run, run_dir, session_s)
        env.log("calibration")  # on the warm JVM, after the workload
        calib = env.calib_roundtrip_ms(spark)
        env.log("done")
        out = {"detail": {**run.detail, "calib.roundtrip_ms": {"value": calib, "unit": "ms"},
                          "session.start_s": {"value": session_s, "unit": "s"}}}
        if tracer is not None:
            dominant = layers.dominant(tracer)
            env.log("kernels")
            probes.kernels(run)
            pipeline.probe(run, run_dir)
            trace_dir = os.path.join(env.WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write_jsonl(os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            values = {**layers.compute(tracer, pipeline.QUERIES),
                      **layers.per_query(tracer, pipeline.QUERIES), **run.layer,
                      "session.start_s": session_s, "calib.roundtrip_ms": calib}
            out["dominant_layer_share"] = dominant
            metrics = spec()["per_layer"]
        else:
            values = e2e
            metrics = spec()["end_to_end"]
        missing = [m["name"] for m in metrics if m["name"] not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        out["result"] = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                        for m in metrics},
        }
        return out
    finally:
        env.log("stopping")
        env.stop_session(spark)
        env.log("stopped")


def main(argv=None) -> int:
    args = parse(argv)
    run_dir = os.path.join(env.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        env.prepare(run_dir)
    except env.ProgramMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        env.remove(run_dir)
        return 2

    def overdue():
        print(f"perfbench: no result after {DEADLINE_S:.0f} s", file=sys.stderr)
        env.kill_jvm()
        env.remove(run_dir)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, overdue)
    watchdog.daemon = True
    watchdog.start()
    try:
        out = execute(args, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        watchdog.cancel()
        env.remove(run_dir)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      **{k: v for k, v in out.items() if k != "result"}}))
    print(json.dumps(out["result"], separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
