"""adtl-spark benchmark.

Run from the root of an adtl-spark checkout:

    python3 perfbench/run.py --workload adtl_bulk_cli --seed 1 --seconds 10 --trace 0

One process, one driver thread, ``local[<cores>]`` Spark from
``adtl_spark.session.get_spark``.  Set-up starts the session, generates the
workload's inputs from the seed and runs one untimed cold pass whose
outputs are checked in full.  One untimed warm-up pass follows.  Then
passes run as a closed loop until ``--seconds`` have passed, and at least
three; each is checked against the workload's expected outputs and the
cold pass's output digest.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` alternates untraced
and traced passes and reports the per-layer metrics (self time per layer
from spans around the program's entry points) and the tracing overhead.
Spans are written to ``.perfbench/traces/`` at exit.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_IMPORT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

END_TO_END = (
    ("wall_s", "s"),
    ("src_rows_per_s", "rows/s"),
    ("spark_jobs", "count"),
    ("ok_frac", "ratio"),
    ("setup_s", "s"),
    ("py_peak_rss_mb", "MB"),
)
WARMUP_PASSES = 1
MIN_PASSES = 3  # timed passes of an untraced run; wall_s is their median
RUN_LIMIT_S = 150.0  # stop starting passes here; a run must end within 180 s


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started (from /proc), or since import."""
    try:
        with open("/proc/self/stat") as fp:
            start_ticks = int(fp.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fp:
            uptime = float(fp.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T_IMPORT


def reset_peak_rss() -> None:
    """Reset VmHWM so the peak covers only what follows (Linux >= 4.0)."""
    try:
        with open("/proc/self/clear_refs", "w") as fp:
            fp.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    try:
        with open("/proc/self/status") as fp:
            for line in fp:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def configure_env(root: Path, work: Path) -> None:
    """Keep every file Spark, its workers and Python write inside ``work``,
    and make ``adtl_spark`` importable in Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "--driver-java-options",
            # no /tmp/hsperfdata_<user> file: it ignores java.io.tmpdir
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, str(root))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for
    it: the gateway JVM exits when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run_passes(bench, tracer, seconds: float, trace: bool, t_start: float) -> dict:
    """Closed loop of passes.  In trace mode passes run untraced, traced,
    traced, untraced, ... so that warm-up drift cancels out of the
    overhead; at least one of each.  An untraced run times at least
    MIN_PASSES passes, so that one slow pass does not move the median."""
    walls = {False: [], True: []}
    jobs: list[int] = []
    attempted = failed = 0
    pass_id = 0
    t0 = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t0
        traced = trace and pass_id % 4 in (1, 2)
        timed = len(walls[False])
        enough = elapsed >= seconds and (walls[True] and timed if trace else timed >= MIN_PASSES)
        if enough or (time.perf_counter() - t_start > RUN_LIMIT_S and attempted):
            break
        tracer.enabled = traced
        attempted += 1
        try:
            with tracer.run_pass(pass_id, f"pass {pass_id}") as info:
                t = time.perf_counter()
                bench.run_pass()
                wall = time.perf_counter() - t
            errors = bench.check_pass()
        except Exception:
            traceback.print_exc()
            errors = ["pass raised"]
            wall = None
        tracer.enabled = False
        if errors:
            failed += 1
            log(f"pass {pass_id} FAILED: {'; '.join(errors)}")
        else:
            walls[traced].append(wall)
            if not traced:
                jobs.append(info["jobs"])
            log(f"pass {pass_id}{' traced' if traced else ''}: {wall:.3f} s, {info['jobs']} jobs")
        pass_id += 1
    return {"walls": walls, "jobs": jobs, "attempted": attempted, "failed": failed}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "adtl_spark" / "__init__.py").is_file():
        log("adtl_spark/ not found: run from the root of an adtl-spark checkout")
        return 2
    from workloads import WORKLOADS, per_layer_names

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = root / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(root, work)
    t_start = time.perf_counter()
    spark = None
    try:
        from adtl_spark.session import get_spark
        from tracing import Tracer

        spark = get_spark("perfbench")
        session_s = process_age()
        tracer = Tracer(spark.sparkContext, enabled=False)
        bench = WORKLOADS[args.workload](spark, tracer, work, args.seed)

        t = time.perf_counter()
        bench.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.run_pass(-1, "cold pass"):
            setup_errors = bench.first_pass()
        cold_s = time.perf_counter() - t
        setup_s = session_s + gen_s + cold_s
        log(f"set-up {setup_s:.2f} s (session {session_s:.2f}, inputs {gen_s:.2f}, "
            f"cold pass {cold_s:.2f})")
        # the first warm pass still runs while the JIT compiles the code
        # the cold pass made hot: it is slower, and by an amount that
        # varies from run to run, so it is neither timed nor set-up
        for i in range(WARMUP_PASSES):
            t = time.perf_counter()
            with tracer.run_pass(-2 - i, "warm-up pass"):
                bench.run_pass()
            setup_errors += bench.check_pass()
            log(f"warm-up pass {i + 1}: {time.perf_counter() - t:.3f} s")
        for e in setup_errors:
            log(f"set-up check FAILED: {e}")

        if args.trace:
            bench.install_trace()
        reset_peak_rss()
        res = run_passes(bench, tracer, args.seconds, bool(args.trace), t_start)
        peak_mb = peak_rss_mb()
        tracer.unwrap_all()

        untraced = res["walls"][False]
        if args.trace:
            rows = [bench.layer_metrics(layers) for layers in tracer.per_pass().values()]
            values = {n: median([r.get(n, 0) for r in rows]) for n, _ in per_layer_names()}
            values["trace.overhead_s"] = median(res["walls"][True]) - median(untraced)
            metrics = {n: {"value": values[n], "unit": u} for n, u in per_layer_names()}
            tracer.write(root / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        else:
            wall = median(untraced)
            values = {
                "wall_s": wall,
                "src_rows_per_s": bench.source_rows / wall if wall else 0.0,
                "spark_jobs": median(res["jobs"]),
                "ok_frac": (res["attempted"] - res["failed"]) / res["attempted"],
                "setup_s": setup_s,
                "py_peak_rss_mb": peak_mb,
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        result = {
            "correct": not setup_errors and res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
