"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, in turn

Run from the root of a checkout. Per invocation:

1. start the Spark session, then set the inputs up three times: generate
   them, write them to parquet and run one small query that starts the
   Python workers;
2. run whole units of the workload, untraced, until ``--seconds`` have
   passed (at least one); the end-to-end metrics are medians over them.
   Query-plan compilation and JIT warm-up stay inside the units, as every
   ``spark-submit`` of a crawl pays them;
3. with ``--trace 1``, run units for another ``--seconds`` (at least
   one), reading Spark's status store after each, and report the
   per-layer metrics instead;
4. check every unit's output against the repository's oracles, outside
   every timed region.

The last line of standard output is the result object; the line before
it records the machine (cores, memory, load, CPU canary) and the inputs.
The exit code is 0 only if every check passed. All files go under
``.perfbench_work/`` (scratch, deleted at exit) and ``.perfbench_out/``
(span files) in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

#: name → unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
    "round_s.p50": "s",
    "disk_bytes_per_item": "B",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "canon.task_s": "s", "canon.python_task_s": "s",
    "canon.urls_in": "count", "canon.pages_in": "count", "canon.outlinks_out": "count",
    "canon.task_share": "frac",
    "seen.candidates_in": "count", "seen.fresh_out": "count", "seen.side_rows_scanned": "count",
    "seen.side_shuffle_bytes": "B", "seen.join_task_s": "s", "seen.filter_task_s": "s",
    "seen.filter_bytes_written": "B",
    "politeness.rows_in": "count", "politeness.scheduled": "count", "politeness.deferred": "count",
    "politeness.task_s": "s",
    "scheduler.jobs_per_round": "count", "scheduler.stages_per_round": "count",
    "scheduler.driver_gap_s": "s", "scheduler.seen_log_segments": "count",
    "scheduler.compaction_s": "s", "scheduler.dedup_in": "count", "scheduler.dedup_out": "count",
    "scheduler.dedup_shuffle_bytes": "B", "scheduler.dedup_task_s": "s", "scheduler.seq_task_s": "s",
    "scheduler.fetch_hits": "count", "scheduler.fetch_misses": "count", "scheduler.fetch_task_s": "s",
    "scheduler.ckpt_bytes_written": "B", "scheduler.ckpt_files_written": "count",
    "scheduler.ckpt_write_task_s": "s",
    "rules.python_task_s": "s", "rules.pages_in": "count", "rules.task_s": "s",
    "collector.followup_hits": "count", "collector.followup_misses": "count",
    "collector.followup_shuffle_bytes": "B", "collector.task_s": "s", "collector.pages_per_s": "1/s",
    "sinks.bytes_written": "B", "sinks.write_task_s": "s",
    "stream.batches": "count", "stream.passes": "count", "stream.files_published": "count",
    "stream.task_s": "s",
    "other.task_s": "s", "other.task_share": "frac",
    "spark.task_s_total": "s", "spark.gc_s": "s", "spark.spill_bytes": "B",
    "spark.shuffle_bytes": "B", "spark.tasks_failed": "count", "spark.busy_frac": "frac",
    "spark.jobs": "count", "spark.stages": "count",
    "trace.overhead": "ratio", "trace.units": "count",
}
#: per-layer metrics where more is better: outcomes fixed by the inputs
#: (they fall only when work is lost) and utilisation; for every other
#: per-layer metric less is better
HIGHER_IS_BETTER = {
    "canon.pages_in", "canon.outlinks_out", "seen.fresh_out", "politeness.scheduled",
    "scheduler.dedup_out", "scheduler.fetch_hits", "rules.pages_in",
    "collector.followup_hits", "collector.pages_per_s", "spark.busy_frac", "trace.units",
}


def cpu_canary() -> float:
    """Seconds for a fixed single-thread CPU job (sha256 chain); a slow
    reading marks a noisy neighbour, not a slow program."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(300_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    ncpu = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return {
        "nproc": ncpu or 1,
        "mem_gb": round(mem_kb / 1024**2, 2),
        "loadavg": list(os.getloadavg()),
        "canary_s": round(cpu_canary(), 4),
    }


class RssSampler:
    """Peak of the summed resident set of the driver JVM and every process
    below it (the Python worker daemon and its workers), sampled from
    /proc four times a second."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.max_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            parent[int(d)] = int(fields.get("PPid", "0").strip() or 0)
            rss[int(d)] = int(fields.get("VmRSS", "0 kB").split()[0]) if "VmRSS" in fields else 0
        total = procs = 0
        for pid in rss:
            p, hops = pid, 0
            while p and p != self.jvm_pid and hops < 16:
                p, hops = parent.get(p, 0), hops + 1
            if p == self.jvm_pid:
                total += rss[pid]
                procs += 1
        self.peak_kb = max(self.peak_kb, total)
        self.peak_jvm_kb = max(self.peak_jvm_kb, rss.get(self.jvm_pid, 0))
        self.max_procs = max(self.max_procs, procs)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.25)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def start_session(work: str, mach: dict, trace: bool):
    """A local Spark session sized from the machine: all cores, a quarter
    of physical memory as driver heap, shuffle and temp files on disk under
    the work dir, and the checkout importable by the Python workers."""
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    cores = mach["nproc"]
    heap_mb = max(1024, min(32768, int(mach["mem_gb"] * 1024 / 8)))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.local.dir", local)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if trace:
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
            b = b.config(key, "1000000")
        # scan nodes carry their full paths, so the seen-table scans are found
        b = b.config("spark.sql.maxMetadataStringLength", "100000")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the driver JVM (it exits when its stdin
    closes, and its Python workers with it), and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run_units(wl, spark, handles, work: str, seconds: float, tag: str, on_unit=None) -> tuple[list, int, list[str]]:
    """Whole units until ``seconds`` have passed, at least one. Returns
    (units, failed, errors); a unit that raises counts as failed and ends
    the loop."""
    units, errors = [], []
    start = time.time()
    while True:
        unit_dir = os.path.join(work, f"{tag}-{len(units)}")
        try:
            u = wl.run_unit(spark, handles, unit_dir)
        except Exception as exc:  # a failing unit is a measured outcome
            traceback.print_exc()
            errors.append(f"{tag} unit {len(units)} raised {type(exc).__name__}: {exc}")
            return units, 1, errors
        if on_unit is not None:
            on_unit(u)
        units.append(u)
        if time.time() - start >= seconds:
            return units, 0, errors


def traced_metrics(wl, spark, cores: int, u, store) -> tuple[dict, list]:
    import layers as tr

    view = tr.read_unit(store, u.t0_ms, u.t1_ms, wl.kind)
    m = tr.layer_metrics(view, u.round_of, u.run_s, cores)
    rounds = tr.job_rounds(view, u.round_of)
    per_round = list(range(u.extra.get("rounds", 0)))
    if per_round:
        m["scheduler.jobs_per_round"] = median([len(rounds.get(r, [])) for r in per_round])
        stages_by_round: dict[int, int] = {}
        for s in view["stages"]:
            r = u.round_of(s["submissionTime"])
            stages_by_round[r] = stages_by_round.get(r, 0) + 1
        m["scheduler.stages_per_round"] = median([stages_by_round.get(r, 0) for r in per_round])
        gaps = []
        for r in per_round:
            lo, hi = u.round_ends_ms[r], u.round_ends_ms[r + 1]
            gaps.append((hi - lo - tr.covered_ms(rounds.get(r, []), lo, hi)) / 1000.0)
        m["scheduler.driver_gap_s"] = median(gaps)
    ex = u.extra
    m["scheduler.seen_log_segments"] = float(ex.get("seen_log_segments", 0))
    if wl.kind == "crawl":  # the stream's fetch join is its own module's
        m["scheduler.fetch_hits"] = float(ex.get("fetch_hits", 0))
        m["scheduler.fetch_misses"] = float(ex.get("fetch_misses", 0))
    m["canon.pages_in"] = float(ex.get("fetch_hits", 0))
    m["collector.followup_hits"] = float(ex.get("followup_hits", 0))
    m["collector.followup_misses"] = float(ex.get("followup_misses", 0))
    m["collector.pages_per_s"] = float(ex.get("pages_per_s", 0.0))
    m["stream.batches"] = float(ex.get("batches", 0))
    m["stream.passes"] = float(ex.get("passes", 0))
    m["stream.files_published"] = float(ex.get("files_published", 0))
    unit_span = {"kind": "unit", "id": f"{wl.name}/u{int(u.t0_ms)}", "start_ms": u.t0_ms, "end_ms": u.t1_ms}
    round_spans = [
        {"kind": "round", "id": f"{unit_span['id']}/r{r - 1}", "parent": unit_span["id"],
         "start_ms": (u.round_ends_ms[r - 1] if r else u.t0_ms), "end_ms": end}
        for r, end in enumerate(u.round_ends_ms)
    ]
    spans = [unit_span, *round_spans, *tr.spans(view, tr.attribute(view), u.round_of, unit_span)]
    return m, spans


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import crawler_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.scale)
    mach = machine()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, mach, bool(args.trace))
        session_s = time.perf_counter() - t0
        setup_reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            inputs = wl.generate(args.seed)
            handles = wl.load(spark, inputs, os.path.join(work, f"inputs-{rep}"))
            wl.warm(spark, handles)
            setup_reps.append(time.perf_counter() - t0)

        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with RssSampler(jvm_pid) as rss:
            units, failed, errors = run_units(wl, spark, handles, work, args.seconds, "unit")
        traced, spans = [], []
        if args.trace and not failed:
            import layers as tr

            store = tr.StatusStore(spark)

            def read_trace(u):
                t = time.perf_counter()
                m, s = traced_metrics(wl, spark, mach["nproc"], u, store)
                m["trace.overhead"] = (u.run_s + time.perf_counter() - t) / u.run_s
                traced.append(m)
                spans.extend(s)

            more, failed, errs = run_units(wl, spark, handles, work, args.seconds, "traced", read_trace)
            units += more
            errors += errs

        problems = []
        for i, u in enumerate(units):
            problems += [f"unit {i}: {p}" for p in wl.check(spark, u, inputs)]
        bad_units = len({p.split(":")[0] for p in problems})
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(units) + failed
    failed_total = failed + bad_units
    mach_after = {"loadavg": list(os.getloadavg()), "canary_s": round(cpu_canary(), 4)}

    measured = units[: len(units) - len(traced)]
    steps = [s for u in measured for s in u.steps]
    e2e = {
        "setup_s": session_s + median(setup_reps),
        "run_s": median([u.run_s for u in measured]),
        "items_per_s": median([u.items / u.run_s for u in measured if u.run_s > 0]),
        "round_s.p50": median(steps),
        "disk_bytes_per_item": median([u.disk_bytes / u.items for u in measured if u.items]),
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    layer = {}
    if traced:
        for key in PER_LAYER:
            layer[key] = median([m.get(key, 0.0) for m in traced])
        layer["trace.units"] = float(len(traced))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, f)

    for msg in errors + problems:
        print(f"CHECK FAILED {args.workload}: {msg}")
    names = {"items_per_s": "urls_scheduled_per_s", "disk_bytes_per_item": "ckpt_bytes_per_url"}
    for k, v in e2e.items():
        print(f"{args.workload} {k} ({names.get(k, k)}) = {v:.6g} {END_TO_END[k]}")
    print(f"{args.workload} error_rate = {failed_total / max(attempted, 1):.6g} (failed {failed_total} of {attempted} units)")
    print(f"{args.workload} round_s samples = {len(steps)}; session start = {session_s:.3f} s, input set-up reps = {[round(s, 3) for s in setup_reps]} s")
    for k, v in layer.items():
        print(f"{args.workload} {k} = {v:.6g} {PER_LAYER[k]}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "machine_before": mach, "machine_after": mach_after,
        "inputs": wl.describe(inputs), "units": len(units), "round_s_samples": len(steps),
        "peak_jvm_rss_mb": round(rss.peak_jvm_kb / 1024.0, 1), "max_python_procs": max(rss.max_procs - 1, 0),
    }))
    metrics = layer if args.trace else e2e
    units_of = PER_LAYER if args.trace else END_TO_END
    correct = failed_total == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed_total,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process, in turn."""
    from workloads import WORKLOADS

    worst = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", args.scale]
        worst = max(worst, subprocess.run(cmd, cwd=ROOT, check=False).returncode)
    return worst


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="crawl_extract | crawl_stream | all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: test-size inputs")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
