"""KG-construction benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 kgbench/run.py --workload extract-mixed --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics (timed with tracing off);
``--trace 1`` additionally runs one traced pass and prints the per-layer
metrics instead.  Corpora, reference triples and traces are kept under
``.kgbench_work/`` in the checkout (the benchmark reads and writes nothing
outside it, and nothing under ``data/``); per-run scratch is removed, and
every process the run started is stopped and waited for, on exit.  See kgbench/README.md for the workloads and the metric mapping.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract-mixed", "graph-resume")
REQUIRED = ("relationextractionpipeline_spark/__init__.py", "tests/oracle.py")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"kgbench: program sources not found: {missing}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".kgbench_work")
    run_dir = os.path.join(work_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # keep every temp file (Python's, the py4j handshake's, Spark's) inside
    # the run directory; workers import the program from ROOT
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # anything the program would cache under data/ goes to the work dir
    os.environ["REX_SPARK_DATA_DIR"] = os.path.join(work_dir, "data")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    from kgbench import metrics as declared, reap
    from kgbench.workloads import Bench, log

    # every process the run starts (the Spark JVM, its Python workers, the
    # reference-triple pool) is stopped and waited for on the way out
    reap.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = Bench(args.workload, args.seed, args.seconds, work_dir, run_dir, T_START)
    try:
        bench.prepare()
        log(f"inputs ready in {bench.gen_s:.2f}s")
        setup_s = bench.setup(trace=bool(args.trace))
        log(f"set-up {setup_s:.2f}s")
        passes = bench.measure()
        log(f"job_s {[round(p['job_s'], 3) for p in passes]} "
            f"resume_s {[round(p['resume_s'], 3) for p in passes]} "
            f"memo {[round(p.get('memo_hit_rate', 0), 4) for p in passes]} "
            f"evictions {[p.get('memo_evictions', 0) for p in passes]} "
            f"rss {[round(p['peak_rss_mb']) for p in passes]} "
            f"cpu {[round(p['job_cpu_s'], 2) for p in passes]} "
            f"resume_cpu {[round(p['resume_cpu_s'], 2) for p in passes]}")
        e2e = bench.end_to_end(setup_s, passes)
        wall = declared.report(bench.wall(passes), declared.WALL)
        if args.trace:
            trace_path = os.path.join(
                work_dir, "traces",
                f"{args.workload}-s{args.seed}-{int(T_START)}.json",
            )
            metrics = declared.report(
                bench.traced(passes, trace_path), declared.PER_LAYER
            )
            print(f"kgbench: spans written to {trace_path}", file=sys.stderr)
        else:
            metrics = declared.report(e2e, declared.END_TO_END)
    finally:
        bench.close()
        reap.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"done at {time.time() - T_START:.2f}s")
    print("kgbench: " + json.dumps({
        **wall,
        "ops_failed_frac": {"value": bench.failed / bench.attempted, "unit": "ratio"},
    }))
    result = {
        "correct": bench.failed == 0 and bench.memo_ok,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
