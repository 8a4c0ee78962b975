#!/usr/bin/env python3
"""ckg_spark benchmark.

    python3 perfbench/run.py --workload kg_small --seed 42 --seconds 10 --trace 0

Runs one workload at local[<cores available>], one closed-loop client and
one operation at a time, from the root of a source checkout:

1. makes (or reuses) the seeded input under ``.perfbench/inputs/``;
2. set-up: starts the Spark session, spins up the Python workers and runs
   the workload's untimed warm-up operations (``setup_s``);
3. runs operations back to back until ``--seconds`` have passed and the
   workload's ``min_ops`` are done. With ``--trace 1`` every second
   operation is traced, and per-layer metrics come from the traced ones;
4. checks every operation's outputs, then prints the host record, one line
   per metric, and as the last line the JSON result.

Every file it writes (inputs, warehouses, Spark scratch, temp files) stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _meminfo_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(cores: int, tmp: str):
    from ckg_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    init. Spark's Python worker daemon outlives the JVM that started it for
    a moment; as a subreaper this process can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until every process this run started has ended: the
    multiprocessing resource tracker left by input generation, the Spark
    JVM and, re-parented here, its Python workers. Whatever is still alive
    after ``grace_s`` is killed."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_pid", None) is not None:
        tracker._stop()  # it would otherwise live until this process exits
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, not even a zombie
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def spin_up_workers(spark) -> None:
    import pandas as pd

    spark.createDataFrame(pd.DataFrame({"x": range(1000)})).mapInPandas(
        lambda it: it, "x long"
    ).selectExpr("sum(x)").collect()


def _walk_size(path: str) -> tuple[int, int]:
    total, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += f.endswith(".parquet")
    return total, files


def run_op(wl, spark, input_dir: str, out_dir: str, traced: bool):
    from metrics import layer_values
    from spans import EventLog, Tracer, rollup
    from workloads import Op

    tracer = log = None
    if traced:
        tracer = Tracer(spark.sparkContext)
        tracer.install()
        log = EventLog(spark, out_dir + ".eventlog", os.path.basename(out_dir))
    events: list[dict] = []
    try:
        op = wl.run(spark, input_dir, out_dir, tracer)
    except Exception as e:  # the loop goes on; the op counts as failed
        op = Op(attempted=wl.attempts_per_op, failed=wl.attempts_per_op, errors=[repr(e)])
    finally:
        if traced:
            tracer.uninstall()
            events = log.close()
    op.traced = traced
    if traced and op.failed < op.attempted:
        wh_bytes, wh_files = _walk_size(out_dir)
        op.layer = layer_values(
            tracer.spans,
            rollup(tracer.spans, events),
            wl.stage_rows(op),
            wh_bytes,
            wh_files,
            _walk_size(wl.data_dir(input_dir))[0],
        )
    return op


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("ckg_spark") is None:
        print(f"perfbench: no ckg_spark package under {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)

    import inputs
    from metrics import result
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    become_subreaper()
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    # the program's own defaults, not whatever the calling shell exports
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # spark-submit's launcher JVM would write perf data outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    spark = None
    try:
        t_gen = time.perf_counter()
        input_dir = inputs.cached(
            os.path.join(WORK, "inputs"),
            wl.input_key(args.seed),
            lambda path: wl.make_input(path, args.seed),
        )
        gen_s = time.perf_counter() - t_gen

        t0 = time.perf_counter()
        spark = start_session(cores, tmp)
        spin_up_workers(spark)
        for i in range(wl.warmup_ops):
            warm = run_op(wl, spark, input_dir, os.path.join(run_dir, f"warmup{i}"), False)
            for err in warm.errors:
                print(f"warmup{i}: FAILED {err}")
        setup_s = time.perf_counter() - t0

        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        ops = []
        deadline = time.perf_counter() + args.seconds
        while len(ops) < wl.min_ops or time.perf_counter() < deadline:
            traced = bool(args.trace) and len(ops) % 2 == 1
            ops.append(run_op(wl, spark, input_dir, os.path.join(run_dir, f"op{len(ops)}"), traced))
        peak_rss_mb = _vm_hwm_mb(jvm_pid)

        wl.check(spark, input_dir, args.seed, ops)
        host = {
            "nproc": cores,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "mem_total_mb": round(_meminfo_mb()),
            "spark": spark.version,
            "python": platform.python_version(),
            "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "workload": wl.name,
            "seed": args.seed,
            "input_gen_s": round(gen_s, 3),
            "ops": len(ops),
            "items_per_op": ops[0].items,
        }
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            reap_children()
            shutil.rmtree(run_dir, ignore_errors=True)

    for i, op in enumerate(ops):
        for err in op.errors:
            print(f"check op{i}: FAILED {err}")
        print(f"op{i} traced={int(op.traced)} wall_s={op.wall_s:.4f} items={op.items} "
              f"digests={json.dumps(op.digests, sort_keys=True)}")
    print("host " + json.dumps(host))

    try:
        res = result(ops, setup_s, peak_rss_mb, bool(args.trace))
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for name, m in res["metrics"].items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
