"""Benchmark of the CDC engine: closed-loop ingest/read workloads.

Run from the repository root:

    python3 perfbench/run.py --workload replay_trickle --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. Earlier lines print the same
metrics as a table, the run's environment (versions, cores, effective
Spark confs, TCP congestion control) and, when traced, the per-layer
table and each commit's wall split into map stage, fold stage and
driver turn. Spans are written to ``.perfbench_out/`` when traced.

``--scale toy`` and ``--tamper`` exist for ``perfbench/selftest.py``.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("replay_bulk", "replay_trickle", "entity_ingest")
MIN_OPS = 2
# the engine's tuning variables: every run uses their defaults, whatever
# the calling shell holds
ENGINE_KNOBS = (
    "SPARK_ADVISORY_PARTITION_BYTES", "SPARK_BCAST_THRESHOLD", "SPARK_DRIVER_MEM",
    "SPARK_EXECUTOR_JAVA_OPTS", "SPARK_FOLD_WAVE_MULT", "SPARK_GRAFT_FAST_PLAN",
    "SPARK_GRAFT_FOLD", "SPARK_GRAFT_PLAN_HLL_RSD", "SPARK_IO_CODEC", "SPARK_JACCARD_DENSE",
    "SPARK_JACCARD_DENSE_CELL_CAP", "SPARK_JACCARD_DENSE_COLLECT_CAP",
    "SPARK_JACCARD_DENSE_INDEX_MB", "SPARK_JACCARD_DENSE_VOCAB_CAP",
    "SPARK_LOCAL_DIRS_OVERRIDE", "SPARK_MASTER_OVERRIDE", "SPARK_MAX_PARTITION_BYTES",
)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _fix_env(work: str) -> None:
    """Set the whole environment once, before Spark starts; nothing
    changes it afterwards."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        # never rewrite the host's tcp_congestion_control sysctl
        "SPARK_GRAFT_LOOPBACK_CC_FIX": "0",
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file in the host's /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_EXTRA_CONF": json.dumps({"spark.ui.showConsoleProgress": "false"}),
    })
    for key in ENGINE_KNOBS:
        os.environ.pop(key, None)


def _environment(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    try:
        with open("/proc/sys/net/ipv4/tcp_congestion_control") as f:
            cc = f.read().strip()
    except OSError:
        cc = None
    confs = dict(spark.sparkContext.getConf().getAll())
    return {
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
        "numpy": numpy.__version__, "nproc": _nproc(),
        "tcp_congestion_control": cc,
        "spark_conf": {k: v for k, v in sorted(confs.items())
                       if not k.endswith((".id", ".port", ".host", "startTime"))},
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _remove(work: str) -> None:
    """Delete the run's work directory, and its parent once no other run
    uses it."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there


def _cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, ops: list) -> dict:
    writes = [o.write_s for o in ops]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ingest_eps": {"value": sum(o.events for o in ops) / sum(writes), "unit": "events/s"},
        "write_p50_s": {"value": _median(writes), "unit": "s"},
        "read_p50_s": {"value": _median([o.read_s for o in ops]), "unit": "s"},
        "freshness_p50_s": {"value": _median([o.write_s + o.read_s for o in ops]), "unit": "s"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    ap.add_argument("--tamper", action="store_true",
                    help="drop one row of the engine's state before checking it")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _fix_env(work)
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        from agr_loader_spark.session import get_spark
        from layers import layer_metrics, print_layers
        from tracing import Tracer
        from workloads import WORKLOADS, Context, InputExhausted
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        _remove(work)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.monotonic()
        with tracer.span("session.start") as s:
            spark = get_spark("perfbench", cores=_nproc())
            spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        wl = WORKLOADS[args.workload](Context(spark, tracer, work, args.seed,
                                              args.scale, args.tamper))
        wl.setup()
        setup_s = time.monotonic() - t0
        tracer.flush()
        wl.setup_parts["session.start_s"] = s["seconds"]

        ops, errors = [], 0
        ticks0 = _cpu_ticks()
        t_loop = time.monotonic()
        # closed loop for --seconds, and for at least MIN_OPS ops: a median
        # of one op is a single sample, and a traced run needs an untraced
        # op to measure its own overhead against
        while len(ops) < MIN_OPS or time.monotonic() - t_loop < args.seconds:
            # a traced run alternates traced and untraced ops; the pair
            # gives its tracing overhead
            traced = bool(args.trace) and len(ops) % 2 == 0
            try:
                ops.append(wl.op(len(ops) + errors, traced))
                tracer.flush()
            except InputExhausted:
                print(f"perfbench: {args.workload} input exhausted after "
                      f"{len(ops)} ops", file=sys.stderr)
                break
            except Exception:
                traceback.print_exc()
                errors += 1
                if errors > 3:
                    break
        loop_s = time.monotonic() - t_loop
        steal = _steal_share(ticks0, _cpu_ticks())
        failed = errors + wl.check(len(ops))
        env = _environment(spark)
        layers = layer_metrics(tracer, wl, ops) if args.trace else None
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        _remove(work)
    if not ops:
        print("perfbench: no op completed", file=sys.stderr)
        return 1

    attempted = len(ops) + errors
    print(f"perfbench-env: {json.dumps(env, sort_keys=True)}")
    print(f"workload {args.workload}  seed {args.seed}  ops {len(ops)}  "
          f"loop {loop_s:.2f} s  failed {failed}/{attempted}  host steal {steal:.1%}")
    print("setup parts: " + "  ".join(f"{k} {v:.3f}" for k, v in sorted(wl.setup_parts.items())))
    print("ops write_s: " + " ".join(f"{o.write_s:.3f}" for o in ops))
    print("ops read_s:  " + " ".join(f"{o.read_s:.3f}" for o in ops))
    if args.trace:
        metrics = layers["metrics"]
        print_layers(args.workload, layers)
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))
    else:
        metrics = end_to_end(setup_s, ops)
        for name, m in metrics.items():
            print(f"  {name:<20} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
