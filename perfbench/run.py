"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process is one closed-loop client
on ``local[<cores>]``: it generates the workload's inputs from the seed,
starts the session, runs two untimed warm-up passes, then runs timed
passes for about ``--seconds`` seconds, checks every output and prints

- one JSON line with the full record (provenance, per-operation
  samples, failures), then
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``
  with the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``).

A traced run alternates traced and untraced passes, so its tracing
overhead is measured in the same session. All run output (tables,
checkpoints, warehouse, Spark local dirs) lives in a temporary
directory under ``.perfbench/work`` and is removed at exit; records and
span files are kept under ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

from workloads import WORKLOADS, Record

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "spotify_tracks_etl_portfolio_spark"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "plans.construct_s": "s", "plans.py4j_calls": "count", "plans.py4j_s": "s",
    "plans.py4j_gc_cmds": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "exec.task_skew": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "scan.files_read": "count", "scan.bytes_read": "bytes", "scan.rows_read": "count",
    "scan.metadata_ms": "ms", "readers.s": "s",
    "writers.s": "s", "writers.files_written": "count", "writers.bytes_written": "bytes",
    "writers.rows_written": "count",
    "pipeline.bronze_s": "s", "pipeline.silver_s": "s",
    "pipeline.rows_read_per_row_loaded": "ratio", "dq.s": "s", "dq.jobs": "count",
    "medallion.construct_s": "s",
    "cowtable.merge_s": "s", "cowtable.files_rewritten": "count",
    "cowtable.bytes_rewritten_per_update_byte": "ratio",
    "streaming.triggers": "count", "streaming.trigger_p50_ms": "ms",
    "streaming.trigger_p90_ms": "ms", "streaming.rows_per_s": "1/s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "pyworker.bytes_sent": "bytes", "pyworker.bytes_received": "bytes",
    "pyworker.rows_received": "count", "pyworker.stage_run_s": "s",
    "jvm.driver_gc_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "trace.overhead_frac": "ratio", "trace.counts_repeat": "count",
}
#: Untimed passes before the timed ones. The first pass pays class
#: loading, memos and index builds; the JIT is still compiling the
#: engine's driver-side code through the second (medallion_etl, seed 900:
#: 25.0, 12.7, 9.3, 8.1, 8.2, 7.8 s), and passes timed on that slope
#: spread with how far it has got.
WARMUP_PASSES = 2
#: Work counts that must repeat exactly across traced passes of a run.
EXACT_COUNTS = [
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "plans.py4j_calls",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat. Steal
    is time the hypervisor gave this machine's CPUs to other tenants."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])


# -- memory ---------------------------------------------------------------

def workers_resident_bytes(root_pid: int) -> int:
    """Resident memory of all descendants of ``root_pid`` (the JVM's
    Python workers), from /proc: the sum of their PSS, which counts a
    page shared between processes once. The workers are forked from one
    daemon and share most of their pages with it, so summing their RSS
    would count those pages once per worker and jump whenever the daemon
    forks."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler(threading.Thread):
    """Every ``interval`` seconds, samples the memory the driver holds
    in use and keeps the peak: the JVM heap in use after the JVM's most
    recent garbage collection, the JVM's non-heap memory in use
    (metaspace, code cache), and the resident memory of its Python
    workers.

    The heap is read after collection, not from /proc: the JVM's
    resident size follows how far G1 has grown the heap, which depends
    on GC timing: over the same work it ranged from 2.5 to 4.6 GB. Data
    cached in the heap (``cache``, ``persist``, broadcast) survives
    collection, so it still counts.

    The peak is the highest value held by two consecutive samples: the
    /proc scan is not atomic, and a single sample taken while the worker
    daemon forks counted shared pages several times over (1.4 GB more
    than the samples on either side of it)."""

    def __init__(self, spark, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.pid = spark.sparkContext._gateway.proc.pid
        factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.memory = factory.getMemoryMXBean()
        self.collectors = list(factory.getGarbageCollectorMXBeans())
        self.counts = [-1] * len(self.collectors)
        self.heap_after_gc = 0
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def _heap_after_gc(self) -> int:
        for i, gc in enumerate(self.collectors):
            n = gc.getCollectionCount()
            if n != self.counts[i]:
                self.counts[i] = n
                info = gc.getLastGcInfo()
                if info is not None:
                    self.heap_after_gc = sum(
                        u.getUsed() for u in info.getMemoryUsageAfterGc().values())
        return self.heap_after_gc

    def sample(self) -> int:
        return (self._heap_after_gc() + self.memory.getNonHeapMemoryUsage().getUsed()
                + workers_resident_bytes(self.pid))

    def run(self) -> None:
        last = 0
        while not self._halt.is_set():
            now = self.sample()
            self.peak = max(self.peak, min(last, now))
            last = now
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=10)
        return self.peak


# -- session ----------------------------------------------------------------

def start_session(n_cores: int, work: Path, traced: bool):
    from spotify_tracks_etl_portfolio_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        # -XX:-UsePerfData: no hsperfdata file in /tmp, which is outside the
        # checkout and ignores java.io.tmpdir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work / 'derby'}",
    }
    if traced:
        conf.update({
            # uncompressed shuffle blocks: shuffle bytes are then an exact
            # work count (compressed sizes move with the wall-clock
            # timestamps the medallion stamps into rows)
            "spark.shuffle.compress": "false",
            # keep every job/stage/execution of the run in the status store
            "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark("perfbench", master=f"local[{n_cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def git_commit() -> str:
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    of its own (an exported source tree)."""
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    if len(out) == 2 and Path(out[0]).resolve() == ROOT:
        return out[1]
    return "unknown"


def provenance(spark, n_cores: int, seed: int) -> dict:
    import pyspark

    return {
        "cores": n_cores,
        "master": spark.sparkContext.master,
        "seed": seed,
        "git_commit": git_commit(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


# -- passes -------------------------------------------------------------------

def run_pass(wl, pass_id: int, records: list) -> float:
    t0 = time.perf_counter()
    for name, fn in wl.ops(pass_id):
        s0 = time.perf_counter()
        try:
            out, err = fn(), None
        except Exception as e:  # an operation failure is a result, not a crash
            out, err = None, f"{type(e).__name__}: {e}"[:500]
        records.append(Record(name, pass_id, time.perf_counter() - s0, out, err))
    return time.perf_counter() - t0


def tally(records: list, wrong: list[str]) -> dict:
    """Failure accounting: an operation fails when it raised (including
    a registry name that does not exist) or its output was wrong."""
    errors = [f"{r.name}@{r.pass_id}: {r.error}" for r in records if r.error]
    failed = len(errors) + len(wrong)
    return {
        "attempted": len(records), "failed": failed, "errors": errors, "wrong": wrong,
        "ops_failed_frac": failed / len(records) if records else 0.0,
        "wrong_results": len(wrong),
    }


def measure(args, wl, work: Path, n_cores: int) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    spark = start_session(n_cores, work, bool(args.trace))
    wl.spark = spark
    try:
        # the memory peak covers the warm-up: caches it fills stay in use
        sampler = MemorySampler(spark)
        sampler.start()
        tracer = None
        try:
            records: list = []
            for pass_id in range(WARMUP_PASSES):  # JIT, memos, index artifacts
                run_pass(wl, pass_id, records)
            setup_s = time.perf_counter() - t0
            prov = provenance(spark, n_cores, args.seed)

            if args.trace:
                from spans import Tracer

                tracer = Tracer(spark, n_cores)
                tracer.merge_update_bytes = wl.update_bytes
                tracer.install()

            passes: list[dict] = []
            t_run = time.perf_counter()
            steal0, total0 = cpu_ticks()
            pass_id = WARMUP_PASSES
            while True:
                # traced runs alternate traced and untraced passes, starting
                # traced, so drift in a run does not bias the overhead
                traced = bool(args.trace) and len(passes) % 2 == 0
                if tracer is not None:
                    wl.tracer = tracer if traced else None
                    if traced:
                        tracer.begin_pass(pass_id)
                dur = run_pass(wl, pass_id, records)
                info = {"pass": pass_id, "seconds": dur, "traced": traced}
                if traced:
                    info["layers"] = tracer.end_pass()
                info.update(wl.pass_extras(pass_id))
                passes.append(info)
                pass_id += 1
                elapsed = time.perf_counter() - t_run
                if len(passes) < (3 if args.trace else 1):
                    continue
                if elapsed + dur > args.seconds:
                    break
        finally:
            peak_rss = sampler.stop()
        steal1, total1 = cpu_ticks()
        if tracer is not None:
            tracer.uninstall()
            wl.tracer = None

        detail = {
            "workload": args.workload, "trace": args.trace, "provenance": prov,
            "setup_s": setup_s, "passes": [{k: v for k, v in p.items() if k != "layers"}
                                           for p in passes],
            "ops": [{"name": r.name, "pass": r.pass_id, "seconds": r.seconds}
                    for r in records],
            "peak_rss_mb": peak_rss / 2**20,
            "host_steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        }
        t_check = time.perf_counter()
        detail.update(tally(records, wl.check(records)))
        detail["check_s"] = time.perf_counter() - t_check
        metrics = summarise(args, wl, detail, passes, records)
        if tracer is not None:
            os.makedirs(ROOT / ".perfbench" / "results", exist_ok=True)
            span_file = ROOT / ".perfbench" / "results" / f"spans-{args.workload}-seed{args.seed}.json"
            tracer.write(str(span_file), {"provenance": prov, "workload": args.workload,
                                          "metrics": metrics})
            detail["span_file"] = str(span_file.relative_to(ROOT))
        return detail, metrics
    finally:
        stop_session(spark)


def summarise(args, wl, detail, passes, records) -> dict:
    timed = [p for p in passes if not p["traced"]]
    by_op: dict[str, list[float]] = {}
    for r in records:
        if r.pass_id in {p["pass"] for p in timed}:
            by_op.setdefault(r.name, []).append(r.seconds)
    timed_ops = [s for samples in by_op.values() for s in samples]
    pass_s = median([p["seconds"] for p in timed])
    detail.update({
        "pass_s": pass_s,
        "op_samples": len(timed_ops),
        # median over operations of each one's median latency: a pooled
        # median of a handful of very different operations jumps between
        # them from run to run
        "op_p50_s": median([median(samples) for samples in by_op.values()]),
        # a tail percentile is only reported with >= 10 samples beyond it
        "op_p90_s": (statistics.quantiles(timed_ops, n=10)[-1]
                     if len(timed_ops) >= 100 else None),
        "rows_per_s": wl.input_rows / pass_s if pass_s else 0.0,
        "stored_bytes_per_input_byte": (
            median([p["stored_bytes"] for p in timed]) / wl.input_bytes
            if timed and "stored_bytes" in timed[0] else 0.0),
    })
    if not args.trace:
        return {k: detail[k] for k in END_TO_END}
    traced = [p for p in passes if p["traced"]]
    layers = [p["layers"] for p in traced]
    out = {k: median([lay[k] for lay in layers]) for k in layers[0]}
    repeat = all(all(lay[k] == layers[0][k] for lay in layers) for k in EXACT_COUNTS)
    out["stored_bytes_per_input_byte"] = detail["stored_bytes_per_input_byte"]
    out["trace.overhead_frac"] = median([p["seconds"] for p in traced]) / pass_s - 1.0
    out["trace.counts_repeat"] = int(repeat)
    detail["traced_pass_s"] = median([p["seconds"] for p in traced])
    detail["exact_counts_per_pass"] = [{k: lay[k] for k in EXACT_COUNTS} for lay in layers]
    return {k: out[k] for k in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (ROOT / PACKAGE / "__init__.py", ROOT / "tools" / "check_oracle.py")
               if not p.is_file()]
    if missing:
        print(f"perfbench: the engine is not in this checkout (missing "
              f"{', '.join(str(p.relative_to(ROOT)) for p in missing)})", file=sys.stderr)
        return 2

    n_cores = cores()
    base = ROOT / ".perfbench" / "work"
    base.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base))
    for sub in ("tmp", "local", "derby", "warehouse"):
        (work / sub).mkdir()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_cores),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's launcher JVM
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    cwd = os.getcwd()
    os.chdir(work)  # stray relative writes (derby.log, ...) land in the work dir
    try:
        wl = WORKLOADS[args.workload](name=args.workload, root=ROOT, work=work, seed=args.seed)
        t_gen = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t_gen
        detail, metrics = measure(args, wl, work, n_cores)
        detail["generate_s"] = generate_s
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    with open(results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
