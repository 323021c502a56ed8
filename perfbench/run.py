"""Benchmark of the flagship jobs, ``run_extraction`` and ``run_curation``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one Spark session at local[4].
With ``--trace 0`` the job call repeats until ``--seconds`` of timed calls
have passed (and at least MIN_REPS), each repetition's output is checked,
and the end-to-end metrics are printed. With ``--trace 1`` the session has
Spark's event log on and the plans run step by step for the per-layer
metrics.

The last stdout line is the result object. Everything else the run or the
program prints, on stdout or stderr, goes to ``.bench_work/log-*.txt``;
full detail and spans go to ``.bench_work/report-*.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
BENCHMARK = ROOT / "BENCHMARK.json"
DRIVER_MEM = "2g"  # get_spark defaults to 48g
MIN_REPS = 3  # the median of fewer would be a mean or a single sample
MAX_REPS = 40


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: Path, event_log: Path | None):
    """Session at local[4] whose scratch files stay under ``work``."""
    from ocr_pipeline_spark.session import get_spark

    from perfbench.workloads import CORES

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for the whole tree."""
    from perfbench.proctree import descendants, wait_gone

    gateway = spark.sparkContext._gateway
    tree = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(tree, timeout=30)


def measure(wl, spark, seconds: float, log) -> dict:
    """Timed repetitions until ``seconds`` of job calls have passed and at
    least MIN_REPS were made."""
    from perfbench import proctree

    walls, oks = [], []
    steal0 = proctree.cpu_steal()
    proctree.reset_peaks([os.getpid(), *proctree.descendants(os.getpid())])
    while len(walls) < MIN_REPS or (sum(walls) < seconds and len(walls) < MAX_REPS):
        k = len(walls)
        wl.before_rep(k)
        t = time.perf_counter()
        try:
            wl.rep(spark, k)
            problems = None
        except Exception:  # noqa: BLE001 — a failed repetition is counted
            problems = [traceback.format_exc()]
        walls.append(time.perf_counter() - t)
        if problems is None:
            try:
                problems = wl.check(k)
            except Exception:  # noqa: BLE001
                problems = [traceback.format_exc()]
        wl.after_rep(k)
        oks.append(not problems)
        for p in problems:
            print(f"rep {k} failed: {p}", file=log)
    # processes that exited during the window are missed; Spark reuses its
    # Python workers, so none do here
    peak = proctree.peak_rss([os.getpid(), *proctree.descendants(os.getpid())])
    good = [w for w, ok in zip(walls, oks) if ok] or walls
    wall = statistics.median(good)
    return {
        "attempted": len(walls),
        "failed": oks.count(False),
        "walls": walls,
        "peak_rss_by_process_mb": peak,
        "steal_s": proctree.cpu_steal() - steal0,
        "metrics": {
            "wall_s": wall,
            "docs_per_s": wl.n_docs / wall,
            "input_mb_per_s": wl.input_mb / wall,
            "peak_rss_mb": sum(peak.values()),
        },
    }


def run_workload(args, log) -> tuple[dict, dict]:
    """One benchmark run; returns (result fields, detail report)."""
    from perfbench.trace import Tracer, event_log_file, job_summary
    from perfbench.workloads import WORKLOADS

    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    wl = WORKLOADS[args.workload](work, args.seed)
    event_log = work / "eventlog" if args.trace else None

    t0 = time.perf_counter()
    spark = start_spark(work, event_log)
    setup = {"session_s": time.perf_counter() - t0}
    try:
        t = time.perf_counter()
        wl.generate(spark)
        setup["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(spark, 1)
        setup["first_call_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        t = time.perf_counter()
        wl.prepare_check()
        setup["prepare_check_s"] = time.perf_counter() - t
        # the timed calls follow the untimed ones directly: after the
        # reference computation, the next call ran ~10% slow
        t = time.perf_counter()
        wl.warm_up(spark, wl.steady_calls)
        setup["steady_calls_s"] = time.perf_counter() - t
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "n_docs": wl.n_docs, "input_mb": wl.input_mb, "setup": setup}
        if args.trace:
            tracer = Tracer()
            try:
                layer, problems = wl.trace(spark, tracer)
            except Exception:  # noqa: BLE001 — reported as a failed attempt
                layer, problems = {}, [traceback.format_exc()]
            for p in problems:
                print(f"traced run failed: {p}", file=log)
            result = {"attempted": 1, "failed": int(bool(problems)), "metrics": layer}
            detail["spans"] = tracer.to_json()
        else:
            result = measure(wl, spark, args.seconds, log)
            result["metrics"]["setup_s"] = setup_s
            for key in ("walls", "peak_rss_by_process_mb", "steal_s"):
                detail[key] = result.pop(key)
    finally:
        stop_spark(spark)
    if args.trace and result["metrics"]:
        m = result["metrics"]
        m.update(job_summary(event_log_file(event_log), f"{wl.job}.fused"))
        # the share of the fused job's wall in which no Spark job ran:
        # driver-side planning, Python between actions, file commits
        m[f"{wl.job}.unattributed_frac"] = 1 - m["spark.job_s"] / m[f"{wl.job}.fused_s"]
    shutil.rmtree(work, ignore_errors=True)
    detail.update(result)
    return result, detail


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "ocr_pipeline_spark" / "__init__.py").is_file():
        print(f"no ocr_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.report import result_line
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    WORK.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    # fd-level redirect: the program's prints, the JVM and its Python workers
    # all write to the log, so the result is the last line of stdout
    real_out, real_err = os.dup(1), os.dup(2)
    with open(WORK / f"log-{tag}.txt", "w") as log:
        os.dup2(log.fileno(), 1)
        os.dup2(log.fileno(), 2)
        try:
            result, detail = run_workload(args, log)
            (WORK / f"report-{tag}.json").write_text(json.dumps(detail, indent=1))
            section = "per_layer" if args.trace else "end_to_end"
            names = [m["name"] for m in json.loads(BENCHMARK.read_text())[section]]
            line = result_line(
                result["failed"] == 0, result["attempted"], result["failed"],
                result["metrics"], names,
            )
            code = 0
        except Exception:  # noqa: BLE001 — no result line; the log has the trace
            traceback.print_exc()
            line, code = None, 1
        finally:
            sys.stdout.flush()
            sys.stderr.flush()
            os.dup2(real_out, 1)
            os.dup2(real_err, 2)
    if line is None:
        print(f"benchmark failed; see {WORK}/log-{tag}.txt", file=sys.stderr)
    else:
        print(line)
    return code


if __name__ == "__main__":
    sys.exit(main())
