"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {batch,serve,all}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from the seed
and cached under ``.perfbench_cache/`` in the checkout; every file the
run writes goes there.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  The lines before it name every
metric with its unit, under the workload-specific names too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
SPEC = ROOT / "BENCHMARK.json"

#: the driver heap the run pins (the package default, 24g, exceeds
#: small boxes); capped at a quarter of physical memory
DRIVER_MEM_GB = 4


def session_env() -> dict[str, str]:
    """Pin the session: cores from the CPU affinity mask (``nproc``),
    the driver heap, and scratch space inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    mem_gb = max(1, min(DRIVER_MEM_GB, total_kb // (4 << 20)))
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        # the status stores keep every job, stage and SQL execution of
        # a run, so that the tracer's offsets into them stay valid
        "PYSPARK_SUBMIT_ARGS": (
            f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} '
            f'-XX:-UsePerfData" --conf spark.ui.retainedJobs=100000 '
            f"--conf spark.ui.retainedStages=100000 "
            f"--conf spark.sql.ui.retainedExecutions=100000 pyspark-shell"
        ),
    }


def descendants() -> list[int]:
    """Pids of this process's live descendants: the JVM and the Python
    workers it forks."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            if fields[0] != "Z":
                parents[int(entry)] = int(fields[1])
    me = os.getpid()
    out = []
    for pid in parents:
        p = parents[pid]
        while p in parents and p != me:
            p = parents[p]
        if p == me:
            out.append(pid)
    return out


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident sizes (VmHWM) of the JVM and, summed, of its live
    Python workers.  Spark ends a worker after a minute idle, taking its
    peak with it, so a run samples this after every op and keeps the
    largest values."""
    jvm_kb = python_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                is_jvm = fh.read().strip() == "java"
            with open(f"/proc/{pid}/status") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if is_jvm:
            jvm_kb += kb
        else:
            python_kb += kb
    return jvm_kb / 1024.0, python_kb / 1024.0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and its workers have ended.
    Closing the gateway's stdin is the JVM's signal to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        os.kill(pid, signal.SIGKILL)


def run_workload(spark, name: str, seed: int, seconds: float, traced: bool,
                 session_s: float, layer_names: list[str]):
    """Set up, loop and measure one workload.  Returns (attempted,
    failed, end-to-end values, per-layer values, detail lines)."""
    from perfbench import corpus, layers
    from perfbench.stats import median
    from perfbench.trace import Tracer, spans_json
    from perfbench.workloads import WORKLOADS, reset_dir

    inputs = corpus.generate(spark, CACHE, seed)
    work = str(CACHE / f"run-{os.getpid()}-{name}")
    reset_dir(work)
    run_id = f"{name}-{seed}-{os.getpid()}"
    tracer = Tracer(spark, run_id, traced)
    wl = WORKLOADS[name](spark, inputs, work, CACHE, tracer)
    try:
        reps, rss = [], []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup_rep()
            reps.append(time.perf_counter() - t0)
            rss.append(peak_rss_mb())
        prepared = wl.prepare()
        wl.references()
        for _ in range(wl.warmup_ops):
            rss.append(peak_rss_mb())
            prepared.append(wl.op(False))
        setup_s = session_s + (median(reps) if reps else 0.0) + sum(o.wall_s for o in prepared)
        ops = []
        start = time.perf_counter()
        # a traced run alternates untraced and traced ops, starting and
        # ending untraced (U T U ... T U), so that each traced op has an
        # untraced op on either side to compare with
        min_ops = 2 * wl.traced_ops + 1 if traced else wl.min_ops
        while (len(ops) < min_ops or time.perf_counter() - start < seconds
               or (traced and len(ops) % 2 == 0)):
            rss.append(peak_rss_mb())
            with tracer.span(f"{name}.op"):
                ops.append(wl.op(traced and len(ops) % 2 == 1))
        loop_s = time.perf_counter() - start
        rss.append(peak_rss_mb())
        counted = ops + prepared + wl.setup_ops
        attempted = sum(o.calls for o in counted)
        failed = sum(o.failed for o in counted)
        timed = [o for o in ops if not o.traced]
        e2e = wl.end_to_end(timed)
        detail = e2e.pop("detail")
        e2e["setup_s"] = setup_s
        detail.update({
            f"{wl.latency_name}_p50_s": (median([o.wall_s for o in timed]), "s"),
            "ops": (float(len(timed)), "count"),
            "peak_rss_mb": (max(j + p for j, p in rss), "MB"),
            "loop_s": (loop_s, "s"),
            "setup_reps_s": (sum(reps), "s"),
            "input_gen_s": (inputs.gen_s, "s"),
            "failed_ops_frac": (failed / attempted if attempted else 1.0, "ratio"),
        })
        per_layer = {}
        if traced:
            per_layer = layers.per_layer(wl, ops, {
                "session.start_s": session_s,
                "failed_ops_frac": failed / attempted if attempted else 1.0,
                "jvm.peak_rss_mb": max(j for j, _ in rss),
                "python.peak_rss_mb": max(p for _, p in rss),
            }, layer_names)
            (CACHE / f"trace-{run_id}.json").write_text(json.dumps(spans_json(tracer.spans)))
        print(f"# {name} op walls (s): " + " ".join(
            "+".join(f"{p.wall_s:.3f}" for p in o.parts) if o.parts else f"{o.wall_s:.3f}"
            for o in ops), flush=True)
        return attempted, failed, e2e, per_layer, detail
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "vector_db_ingestor_spark").is_dir() or not (
        ROOT / "scripts" / "scale_probe.py"
    ).is_file():
        print(
            f"perfbench: {ROOT} holds no vector_db_ingestor_spark package and "
            "scripts/scale_probe.py; run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    spec = json.loads(SPEC.read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names + ["all"]:
        parser.error(f"--workload must be one of {names + ['all']}")
    os.environ.update(session_env())
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]

    import pyspark

    from vector_db_ingestor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    print(
        f"# session: local[{os.environ['SPARK_GRAFT_CPUS']}], pyspark "
        f"{pyspark.__version__}, driver memory {os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        flush=True,
    )
    wanted = names if args.workload == "all" else [args.workload]
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    attempted = failed = 0
    metrics: dict[str, dict] = {}
    try:
        for name in wanted:
            a, f, e2e, per_layer, detail = run_workload(
                spark, name, args.seed, args.seconds, bool(args.trace), session_s,
                [m["name"] for m in spec["per_layer"]],
            )
            attempted += a
            failed += f
            values = per_layer if args.trace else e2e
            missing = set(units) - set(values)
            if missing:
                raise RuntimeError(f"{name}: no value for {sorted(missing)}")
            for key, (value, unit) in detail.items():
                print(f"{name}.{key} = {value:.6g} {unit}", flush=True)
            for key in units:
                print(f"{name}.{key} = {values[key]:.6g} {units[key]}", flush=True)
            # with --workload all the line carries the last workload's
            # values; each workload's are printed above
            metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    except Exception:  # noqa: BLE001 - a run that cannot measure prints no result
        traceback.print_exc()
        return 1
    finally:
        stop_session(spark)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
