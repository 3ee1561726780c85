"""Benchmark entry point.

One run:

    python3 perfbench/run.py --workload dense_batch --seed 1 --seconds 12 --trace 0

builds a warm local[N] session (N = usable cores), runs the workload's
untraced pass until ``--seconds`` have been measured, checks every pass's
output, and prints one JSON line last: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (which adds the
traced pass). Every workload and metric is listed in BENCHMARK.json.

    python3 perfbench/run.py --all --seed 1

runs every workload both ways and prints every metric by name and unit.

The exit code is 0 only when every pass was correct; 2 means the library
is missing from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, "perfbench", "out")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--all", action="store_true", help="run every workload, both ways")
    p.add_argument("--cores", type=int, default=None, help="local[k] level (default: usable cores)")
    return p.parse_args(argv)


def _usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(cores: int):
    from cpp_near_dedupe_spark.session import build_session

    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers' temp files stay in the checkout
    return build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # the library default heap (16g) is sized for at-scale runs;
            # 2g holds every workload here with room to spare. The heap is
            # committed and touched at start, so peak RSS does not depend on
            # when G1 chose to grow it
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from .probes import process_tree

    gateway = SparkContext._gateway
    tree = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def _scaling_child(workload: str, seed: int, cores: int) -> float:
    """docs_per_s of the same workload and seed in a fresh JVM at
    local[cores]."""
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", "0",
        "--trace", "0", "--cores", str(cores),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"local[{cores}] run failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])["metrics"]["docs_per_s"]["value"]


def run_one(args) -> int:
    from . import corpus as corpora
    from .probes import PeakRss, contention
    from .workloads import WORKLOADS, median, warm_workers

    cores = args.cores or _usable_cores()
    wl = WORKLOADS[args.workload]()
    os.makedirs(OUT_DIR, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "cores": cores, "trace": args.trace}
    record["before"] = contention()
    record["contended"] = record["before"]["other_spark_jvms"] > 0

    t_prep = time.perf_counter()
    wl.prepare(args.seed)  # corpus + oracle labels: cached, outside setup_s
    record["prepare_s"] = time.perf_counter() - t_prep
    n_docs = len(wl.corpus.labels)

    attempted = failed = 0
    misses: list[str] = []

    def checked(result, what: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        found = wl.check(spark, result)
        digest = corpora.kept_digest(result.kept_ids)
        first = corpora.recorded_digest(wl.digest_key, digest)
        if digest != first:
            found.append(f"kept-set digest {digest} != {first} recorded for this seed")
        if result.live_entries:
            found.append(f"{result.live_entries} cache entries live after release_all()")
        if found:
            failed += 1
            misses.extend(f"{what}: {m}" for m in found)

    t0 = time.perf_counter()
    spark = _start_session(cores)
    jvm = _jvm_pid()
    try:
        warm_workers(spark, cores)
        warm = wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        for p in warm:
            checked(p, "warm-up pass")

        passes = []
        rss = PeakRss(jvm).start()
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(wl.run_pass(spark))
        peak_rss_mb = rss.stop()
        for i, p in enumerate(passes):
            checked(p, f"timed pass {i}")

        walls = [p.wall_s for p in passes]
        e2e = {
            "docs_per_s": (median(n_docs / w for w in walls), "docs/s"),
            "batch_s_p50": (median(b for p in passes for b in p.batch_s), "s"),
            "last_batch_s": (median(p.batch_s[-1] for p in passes), "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        record["passes"] = [p.batch_s for p in passes]
        metrics = e2e
        if args.trace:
            metrics = _traced(spark, wl, args, median(walls), checked)
    except Exception as exc:  # a failed run still reports what it attempted
        attempted += 1
        failed += 1
        misses.append(f"{type(exc).__name__}: {exc}")
        metrics = None
    finally:
        _stop_session(spark)

    if args.trace and metrics is not None and args.workload == "dense_batch":
        lo = max(1, cores // 4)
        try:
            dps_lo = _scaling_child(args.workload, args.seed, lo)
            dps_hi = e2e["docs_per_s"][0]
            metrics["run.scaling_eff"] = (dps_hi / ((cores / lo) * dps_lo), "ratio")
        except (RuntimeError, subprocess.TimeoutExpired) as exc:
            attempted += 1
            failed += 1
            misses.append(f"scaling run: {exc}")
            metrics = None

    record["after"] = contention()
    record["misses"] = misses
    with open(os.path.join(OUT_DIR, f"run-{args.workload}-{args.seed}-t{args.trace}-c{cores}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record.get(k) for k in ("prepare_s", "passes", "before", "after", "contended")}))
    if record["contended"]:
        print("note: another Spark JVM was alive when this run began", file=sys.stderr)
    for m in misses:
        print(f"MISS {m}", file=sys.stderr)

    if metrics is not None:
        declared = _declared_metrics("per_layer" if args.trace else "end_to_end")
        if declared is not None and set(metrics) != declared:
            misses.append(
                f"metrics differ from BENCHMARK.json: missing {sorted(declared - set(metrics))}, "
                f"undeclared {sorted(set(metrics) - declared)}"
            )
    correct = not misses and metrics is not None
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (metrics or {}).items()},
    }
    if args.trace and metrics is not None:
        print("end-to-end (untraced): " + json.dumps({k: v for k, (v, _) in e2e.items()}))
    print(json.dumps(result))
    return 0 if correct else 1


def _traced(spark, wl, args, untraced_wall: float, checked) -> dict:
    """The traced pass (and, on dense_batch, the checkpointed pair of
    calls); returns the per-layer metrics."""
    from .trace import Tracer

    tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
    result, traced_wall = wl.traced_pass(spark, tracer)
    checked(result, "traced pass")
    coverage = tracer.top_level_seconds() / untraced_wall
    f1 = 0.0
    if args.workload == "dense_batch":
        f1 = wl.f1(wl.labelled(spark, result))
        for p, what in zip(wl.checkpointed_passes(spark, tracer), ("write", "resume")):
            checked(p, f"checkpointed {what} pass")
    tracer.attribute()
    c = tracer.counts
    metrics = {k: (v, _unit(k)) for k, v in tracer.layer_metrics().items()}
    nonempty = c.get("sig_reps.nonempty", 0)
    candidates = c.get("scoring.candidates", 0)
    metrics.update(
        {
            "sig_reps.collapse_ratio": (c["sig_reps.reps"] / nonempty if nonempty else 0.0, "ratio"),
            "pairs.hot_buckets": (c.get("pairs.hot_buckets", 0), "count"),
            "pairs.max_bucket_rows": (c.get("pairs.max_bucket_rows", 0), "count"),
            "scoring.hit_ratio": (c.get("scoring.hits", 0) / candidates if candidates else 0.0, "ratio"),
            "state.rows": (c.get("state.rows", 0), "count"),
            "state.files": (c.get("state.files", 0), "count"),
            "checkpoint.write_s": (c.get("checkpoint.write_s", 0.0), "s"),
            "checkpoint.read_s": (c.get("checkpoint.read_s", 0.0), "s"),
            "cache.live_entries": (result.live_entries, "count"),
            "trace.overhead": (traced_wall / untraced_wall, "ratio"),
            "trace.coverage": (coverage, "ratio"),
            "run.f1": (f1, "ratio"),
            "run.scaling_eff": (0.0, "ratio"),
        }
    )
    tracer.dump(
        os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
        {"untraced_wall_s": untraced_wall, "traced_wall_s": traced_wall, "counts": c},
    )
    return metrics


def _declared_metrics(kind: str) -> set[str] | None:
    """The metric names BENCHMARK.json declares under ``kind``, if the
    file is in the checkout."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"] for m in json.load(f)[kind]}


def _unit(name: str) -> str:
    return {"busy_s": "s", "rows_out": "count", "jobs": "count", "shuffle_write_mb": "MB"}[
        name.split(".", 1)[1]
    ]


def run_all(args) -> int:
    """Every workload, untraced then traced, as separate processes; prints
    every metric by name and unit."""
    from .workloads import WORKLOADS

    worst = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", name,
                "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            worst = max(worst, proc.returncode)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            print(f"== {name} trace={trace} exit={proc.returncode}")
            if res is None:
                print(proc.stderr[-2000:])
                continue
            print(f"   correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
                  f"failed_frac={res['failed'] / res['attempted']:.3f}")
            for k, m in res["metrics"].items():
                print(f"   {k:32s} {m['value']:>14.4f} {m['unit']}")
    return worst


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "cpp_near_dedupe_spark")):
        print("perfbench: the cpp_near_dedupe_spark package is not in this checkout", file=sys.stderr)
        return 2
    # Spark's Python workers import the library and perfbench from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if args.all:
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
