"""geospark benchmark: one seeded workload, end to end or traced.

    python3 perfbench/run.py --workload flagship --seed 0 --seconds 10 --trace 0

Run from the repository root. The seed picks the input (see
inputs.py); the workloads are described in workloads.py and
BENCHMARK.json. With ``--trace 0`` the end-to-end metrics are measured
with no capture in the timed region; ``--trace 1`` is the separate
traced run that reports the per-layer metrics of all three pipelines
plus the tracing overhead of the chosen workload. Human-readable
lines, with the host facts, go to stdout first; the last stdout line is
the JSON result. Every result is also appended to
``.perfbench_cache/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
MIN_JOBS = 3
# Warm-up jobs per run. Job walls fall for the first 20-40 s of a
# session while the JIT compiles (flagship 2.4 s -> 1.6 s), so the timed
# loop starts once they have mostly levelled off. checkpoint_resume
# keeps 3: its jobs are 3x longer, and 5 did not steady it further.
WARM_JOBS = {"flagship": 8, "skewed_density": 3, "checkpoint_resume": 3}


def _check_checkout() -> None:
    if not (ROOT / "geospark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no geospark package under {ROOT}; "
                 "run from a full checkout")


def _isolate_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import geospark whatever the working directory."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))


def _session(cpus: int):
    """local[cpus] on the engine defaults (geospark.session.get_spark).
    Only the UI is switched off, and Spark's scratch files, the JVM's
    temp files and the warehouse are kept inside the checkout; none of
    these choose a plan or size the heap."""
    from geospark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(CACHE / "spark-local"),
            "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={CACHE / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon) to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _setup(bench_for, workload: str, cpus: int):
    """Session start (the gateway JVM launches inside it) plus the
    workload's WARM_JOBS full warm-up jobs. Returns the Bench, both times and
    the warm-up jobs (checked like every other job)."""
    from probes import timed

    session_s, spark = timed(_session, cpus)
    try:
        bench = bench_for(spark)
        warm_s, jobs = timed(
            lambda: [bench.run_job(workload) for _ in range(WARM_JOBS[workload])])
    except BaseException:
        _stop_jvm(spark)
        raise
    return bench, session_s, warm_s, jobs


def _measure(bench, workload: str, seconds: float) -> tuple[list[dict], int]:
    """Closed loop of full jobs for ``seconds`` (at least MIN_JOBS);
    returns (jobs, jobs that raised). Each job records its peak memory
    MB as ``peak_mb``."""
    from probes import PeakMemory

    jobs, errors = [], 0
    deadline = time.perf_counter() + seconds
    with PeakMemory(bench.spark.sparkContext._gateway) as mem:
        while len(jobs) + errors < MIN_JOBS or time.perf_counter() < deadline:
            mem.take()
            try:
                job = bench.run_job(workload)
            except Exception as e:  # noqa: BLE001 - counted as failed, the loop goes on
                print(f"job failed: {e!r}"[:400], file=sys.stderr)
                errors += 1
                continue
            job["peak_mb"] = mem.take()
            jobs.append(job)
    return jobs, errors


def _trace(bench, workload: str, seconds: float) -> tuple[dict, list[dict]]:
    """Traced passes until ``seconds`` have passed (at least one). A
    pass runs one full job of every workload (their outputs give the
    output-side counts, and the skewed_density job's stages give
    stages.*), the chosen workload once more without and once with
    capture, in alternating order, then the layer prefixes."""
    import workloads

    passes, jobs, stages, overhead = [], [], [], []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        full = {w: bench.run_job(w) for w in workloads.WORKLOADS}
        stages.append(bench.job_stages(full["skewed_density"]))
        walls = {}
        for capture in (False, True) if len(passes) % 2 == 0 else (True, False):
            t0 = time.perf_counter()
            job = bench.run_job(workload)
            if capture:
                bench.job_stages(job)
            walls[capture] = time.perf_counter() - t0
            jobs.append(job)
        overhead.append((walls[False], walls[True]))
        jobs.extend(full.values())
        passes.append(bench.trace_layers(full))
    metrics = {key: [p[key] for p in passes] for key in passes[0]}
    for key in stages[0]:
        metrics[f"stages.{key}"] = [s[key] for s in stages]
    metrics["trace.overhead_frac"] = [b / a - 1.0 for a, b in overhead]
    metrics["trace.wall_s"] = [b for _, b in overhead]
    return metrics, jobs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _check_checkout()
    _isolate_env()
    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    root, oracle = inputs.prepare(CACHE, args.seed)
    work = CACHE / "work" / str(os.getpid())

    bench, session_s, warm_s, warm_jobs = _setup(
        lambda spark: workloads.Bench(spark, root, oracle, work), args.workload, cpus)
    try:
        if args.trace:
            series, jobs = _trace(bench, args.workload, args.seconds)
        else:
            jobs, errors = _measure(bench, args.workload, args.seconds)
            stages = [bench.job_stages(j) for j in jobs]
    finally:
        _stop_jvm(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    n_rows, in_files = {
        "flagship": (oracle["n_pages"], bench.pages),
        "skewed_density": (oracle["n_density_points"], bench.points),
        "checkpoint_resume": (oracle["n_ckpt_pages"], bench.ckpt_pages),
    }[args.workload]
    in_bytes = inputs.input_bytes(in_files)
    print(f"setup: session {session_s:.3f} s, warm {warm_s:.3f} s", file=sys.stderr)
    print("job walls: " + " ".join(f"{j['wall']:.3f}" for j in jobs), file=sys.stderr)

    if args.trace:
        errors = 0
        series["setup.session_s"] = [session_s]
        series["setup.warm_s"] = [warm_s]
        walls = series.pop("trace.wall_s")
        series["trace.rows_per_s"] = [n_rows / w for w in walls]
        units = _declared("per_layer")
        metrics = {k: (_median(v), units[k], len(v)) for k, v in series.items()}
    else:
        timed_jobs = [j for j in jobs if j["ok"]]
        walls = [j["wall"] for j in timed_jobs]
        resume = [t for j in timed_jobs for t in j.get("resumes", ())] or walls
        written = [j.get("files_bytes", 0) + s["shuffle_write_bytes"]
                   for j, s in zip(jobs, stages) if j["ok"]]
        metrics = {
            "setup_s": (session_s + warm_s, "s", 1),
            "rows_per_s": (n_rows / _median(walls), "1/s", len(walls)),
            "resume_s": (_median(resume), "s", len(resume)),
            "write_bytes_per_input_byte": (_median(written) / in_bytes, "ratio",
                                           len(written)),
            "peak_mem_mb": (_median([j["peak_mb"] for j in timed_jobs]), "MB",
                            len(timed_jobs)),
        }
    declared = _declared("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(declared):
        sys.exit(f"perfbench: metrics {sorted(set(metrics) ^ set(declared))} "
                 "differ from BENCHMARK.json")
    jobs = warm_jobs + jobs
    attempted = len(jobs) + errors
    failed = errors + sum(not j["ok"] for j in jobs)

    facts = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, "master": f"local[{cpus}]",
        "pyspark": __import__("pyspark").__version__,
        "python": sys.version.split()[0],
        "n_pages": oracle["n_pages"], "n_ckpt_pages": oracle["n_ckpt_pages"],
        "n_density_points": oracle["n_density_points"],
        "input_rows": n_rows, "input_bytes": in_bytes,
        "eps_m": inputs.EPS_M, "min_pts": inputs.MIN_PTS,
        "jobs": attempted,
    }
    for k, v in facts.items():
        print(f"# {k}: {v}")
    for name, (value, unit, n) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    print(f"{args.workload} failed_frac = {failed / attempted:.6g} ratio (n={attempted})")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }
    with open(CACHE / "results.jsonl", "a") as fh:
        fh.write(json.dumps({"host": facts, **result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
