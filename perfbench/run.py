#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bank_warehouse --seed 1 --seconds 10 --trace 0

Run from the repository root (the engine package ``etl_demos_spark``
must sit in the working directory). One process, one local Spark
session on every core the process may use:

1. set-up: JVM launch, session confs, package import and one trivial
   job (``setup_s``);
2. inputs: generated from ``--seed`` once per (workload, seed, size) into
   ``.perfbench_cache/`` and reused afterwards;
3. a cold pass, whose outputs are checked against DuckDB (untimed);
4. one untimed warm-up pass;
5. timed passes: ``--seconds`` divided by the workload's typical pass
   time on a 4-core box, rounded, at least one. Past a deadline
   (``BUDGET_BASE_S`` + ``--seconds`` after process start) no further
   pass starts, so a loaded host shortens a run instead of stretching it.

On every way out the driver JVM and its Python workers are stopped and
waited for.

With ``--trace 1`` warm passes alternate untraced and traced, then the
per-operator probes run; the spans go to a JSON file and the per-layer
metrics to the result line. The last stdout line is the JSON result;
a per-run detail record (provenance, tails, per-op times) goes to
stderr. The exit code is 0 only when every operation ran and every
check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

CACHE = ".perfbench_cache"
KEEP_INPUTS = 8  # cached input sets kept; older ones are evicted
WARMUP_PASSES = 1  # untimed warm passes after the cold one; the JIT is still warming
# No pass starts that would end later than this many seconds (plus --seconds)
# after process start, except the first timed one: on a loaded host a run
# takes fewer passes rather than overrunning.
BUDGET_BASE_S = 47.0

END_TO_END = {"setup_s": "s", "makespan_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.first_job_s": "s",
    "data.scan_s": "s", "data.rows_read": "count", "data.bytes_read": "B",
    "data.doc_rows_read_per_doc": "ratio",
    "sources.ingest_s": "s", "sources.csv_bytes_read_per_input_byte": "ratio",
    "sources.rows_quarantined": "count",
    "plans.model.tables_s": "s", "plans.model.views_s": "s",
    "plans.model.bytes_written": "B", "plans.model.files_written": "count",
    "plans.model.stored_bytes_per_input_byte": "ratio",
    "plans.quality.gate_s": "s", "plans.quality.jobs": "count",
    "plans.incremental.merge_s": "s", "plans.incremental.batch_p50_s": "s",
    "plans.incremental.bytes_rewritten_per_byte_upserted": "ratio",
    "plans.incremental.compact_s": "s", "plans.incremental.files_after_merges": "count",
    "workload.build_s": "s", "workload.eager_jobs": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_s": "s", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.task_skew": "ratio",
    "operators.arrow.python_s": "s", "operators.arrow.boot_s": "s",
    "operators.arrow.bytes_sent": "B", "operators.arrow.bytes_returned": "B",
    "operators.dedup.signature_s": "s", "operators.dedup.lsh_candidates": "count",
    "operators.dedup.lsh_precision": "ratio", "operators.dedup.jaccard_s": "s",
    "operators.dedup.postings_pairs": "count", "operators.image_dedup.signature_s": "s",
    "operators.embedding_dedup.cc_s": "s",
    "trace.pass_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s",
}


def _process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (clock ticks
    since boot), so set-up time includes interpreter start-up."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _become_subreaper() -> None:
    """Have orphaned descendants (the Python workers the JVM forks) re-parented
    to this process rather than to init, so ``_reap_children`` can wait for them."""
    import ctypes

    try:
        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids whose parent is this process, from /proc."""
    me, out = str(os.getpid()), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[1] == me:
                        out.append(int(d))
            except OSError:
                pass
    return out


def _stop_jvm(timeout: float = 30.0) -> None:
    """Stop the Spark driver JVM and wait until it has exited. PySpark
    leaves it running after ``spark.stop()``; it only exits once it sees
    EOF on its stdin, which would happen after this process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM is going away either way
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def _reap_children(timeout: float = 30.0) -> None:
    """Wait until every child process has ended; at the deadline send
    SIGTERM, then SIGKILL, to whatever is left."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def _source_id(root: Path) -> str:
    """The git commit when the checkout is a repository, else a hash of
    the engine's source files."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        lines = out.stdout.split()
        if out.returncode == 0 and Path(lines[0]).resolve() == root.resolve():
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for f in sorted((root / "etl_demos_spark").rglob("*.py")):
        h.update(f.read_bytes())
    return "src-sha256:" + h.hexdigest()[:16]


def _inputs(root: Path, workload: str, seed: int, size: str) -> tuple[str, dict, float]:
    """Generate (or reuse) the inputs; returns (dir, file sizes, seconds spent)."""
    from perfbench.workloads import generate

    base = root / CACHE / "inputs"
    d = base / f"{workload}-{size}-{seed}"
    manifest = d / "manifest.json"
    t0 = time.perf_counter()
    if manifest.exists():
        os.utime(d)
        return str(d), json.loads(manifest.read_text()), 0.0
    tmp = base / f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    sizes = generate(workload, str(tmp), seed, size)
    (tmp / "manifest.json").write_text(json.dumps(sizes, sort_keys=True))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    entries = sorted((p for p in base.iterdir() if not p.name.startswith(".")),
                     key=lambda p: p.stat().st_mtime)
    for old in entries[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return str(d), sizes, time.perf_counter() - t0


class Runner:
    """Runs passes over a workload's operations and counts attempts and
    failures. An operation that raises is recorded and the pass goes on."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed: list[str] = []
        self.last_cpu_s = 0.0

    def run_pass(self, work_dir: str, cold: bool, tracer, after_op=None):
        """Returns (wall, [(label, seconds)], {label: cold output}) and
        records the pass's CPU seconds in ``last_cpu_s``. Time spent in
        ``after_op`` (the traced mode's status reads) is left out of the
        wall."""
        from perfbench.trace import tree_cpu_s
        from perfbench.workloads import Ctx, clear_dir

        clear_dir(work_dir)
        os.makedirs(work_dir)
        ctx = Ctx(tracer, cold)
        times, outputs, paused = [], {}, 0.0
        ops = self.workload.ops(work_dir)
        cpu0 = tree_cpu_s()
        t_pass = time.perf_counter()
        for label, span_name, fn in ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(span_name):
                    out = fn(ctx)
            except Exception:  # counted as a failed operation; the pass goes on
                self.failed.append(f"{label}: {traceback.format_exc(limit=4)}")
                continue
            times.append((label, time.perf_counter() - t0))
            if cold and out is not None:
                outputs[label] = out
            if after_op:
                t1 = time.perf_counter()
                after_op()
                paused += time.perf_counter() - t1
        wall = time.perf_counter() - t_pass - paused
        self.last_cpu_s = tree_cpu_s() - cpu0
        return wall, times, outputs


def _descendants(tracer, sid: int) -> list[int]:
    out = [sid]
    for c in tracer.children(sid):
        out += _descendants(tracer, c)
    return out


def _traced_pass(runner, work_dir, tracer, reader) -> tuple[float, int]:
    """One warm pass with spans; status-store counts are read after each
    operation, outside the pass wall. Returns (wall, root span id)."""
    state = {"mark": reader.sql_watermark()}

    def read_counts():
        op = tracer.children(root)[-1]
        for sid in _descendants(tracer, op):
            s = tracer.spans[sid]
            groups = [tracer.spans[d].group for d in _descendants(tracer, sid)]
            s.counts = reader.group_counts(groups, s.wall)
        tracer.spans[op].counts.update(reader.sql_counts(state["mark"]))
        state["mark"] = reader.sql_watermark()

    with tracer.span("trace.pass") as span:
        root = tracer.spans.index(span)
        wall, _, _ = runner.run_pass(work_dir, False, tracer, after_op=read_counts)
    return wall, root


def _layer_metrics(tracer, passes, probe_root, probe_out, bank, input_sizes, workload,
                   setup, untraced_makespan) -> tuple[dict, dict]:
    """Per-layer metrics: span walls and counts summed over each traced
    pass, then the median over traced passes; operator probes once.
    Also returns the self-time table of the median pass."""
    def pass_values(root: int) -> dict:
        ops = tracer.children(root)
        walls: dict[str, list] = {}
        tot: dict[str, float] = {}
        for op in ops:
            for sid in _descendants(tracer, op):
                walls.setdefault(tracer.spans[sid].name, []).append(tracer.spans[sid].wall)
            for k, v in tracer.spans[op].counts.items():
                tot[k] = max(tot.get(k, 1.0), v) if k == "task_skew" else tot.get(k, 0) + v

        def span_counts(name, key):
            return sum(tracer.spans[s].counts.get(key, 0)
                       for op in ops for s in _descendants(tracer, op)
                       if tracer.spans[s].name == name)

        def wsum(name):
            return sum(walls.get(name, []))

        batch_bytes = sum(v for k, v in input_sizes.items() if "batch" in k)
        n_queries = len(walls.get("workload.query", []))
        docs = getattr(workload, "n_docs", 0)
        return {
            "data.scan_s": tot.get("scan_s", 0.0),
            "data.rows_read": tot.get("input_rows", 0),
            "data.bytes_read": tot.get("input_bytes", 0),
            "data.doc_rows_read_per_doc":
                tot.get("input_rows", 0) / (docs * n_queries) if docs and n_queries else 0.0,
            "sources.ingest_s": wsum("sources.ingest"),
            "sources.csv_bytes_read_per_input_byte":
                tot.get("csv_bytes_read", 0) / sum(input_sizes.values())
                if bank else 0.0,
            "plans.model.tables_s": wsum("plans.model.tables"),
            "plans.model.views_s": wsum("plans.model.views"),
            "plans.model.bytes_written": span_counts("plans.model.tables", "output_bytes"),
            "plans.quality.gate_s": wsum("plans.quality.gate"),
            "plans.quality.jobs": span_counts("plans.quality.gate", "jobs"),
            "plans.incremental.merge_s": wsum("plans.incremental.merge"),
            "plans.incremental.batch_p50_s": _median(walls.get("plans.incremental.merge", [])),
            "plans.incremental.bytes_rewritten_per_byte_upserted":
                span_counts("plans.incremental.merge", "output_bytes") / batch_bytes
                if batch_bytes else 0.0,
            "plans.incremental.compact_s": wsum("plans.incremental.compact"),
            "workload.build_s": wsum("workload.build"),
            "workload.eager_jobs": span_counts("workload.build", "jobs"),
            "exec.jobs": tot.get("jobs", 0), "exec.stages": tot.get("stages", 0),
            "exec.tasks": tot.get("tasks", 0), "exec.driver_gap_s": tot.get("driver_gap_s", 0.0),
            "exec.executor_run_s": tot.get("executor_run_s", 0.0),
            "exec.executor_cpu_s": tot.get("executor_cpu_s", 0.0),
            "exec.gc_s": tot.get("gc_s", 0.0),
            "exec.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
            "exec.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
            "exec.spill_bytes": tot.get("spill_bytes", 0),
            "exec.task_skew": tot.get("task_skew", 1.0),
            "operators.arrow.python_s": tot.get("python_s", 0.0),
            "operators.arrow.boot_s": tot.get("python_boot_s", 0.0),
            "operators.arrow.bytes_sent": tot.get("python_bytes_sent", 0.0),
            "operators.arrow.bytes_returned": tot.get("python_bytes_returned", 0.0),
        }

    per_pass = [pass_values(root) for _, root in passes]
    layers = {k: _median([p[k] for p in per_pass]) for k in per_pass[0]}
    probe_walls = {tracer.spans[s].name: tracer.spans[s].wall
                   for s in tracer.children(probe_root)}
    traced_makespan = _median([w for w, _ in passes])
    mid_wall, mid_root = sorted(passes)[(len(passes) - 1) // 2]
    op_walls = sum(tracer.spans[s].wall for s in tracer.children(mid_root))
    layers.update({
        "session.start_s": setup[0], "session.first_job_s": setup[1],
        "sources.rows_quarantined": probe_out.get("rows_quarantined", 0),
        "plans.model.files_written": bank.get("files_written", 0),
        "plans.model.stored_bytes_per_input_byte": bank.get("stored_bytes_per_input_byte", 0.0),
        "plans.incremental.files_after_merges": bank.get("files_after_merges", 0),
        "operators.dedup.signature_s": probe_walls.get("operators.dedup.signature", 0.0),
        "operators.dedup.lsh_candidates": probe_out.get("lsh_candidates", 0),
        "operators.dedup.lsh_precision": probe_out.get("lsh_precision", 0.0),
        "operators.dedup.jaccard_s": probe_walls.get("operators.dedup.jaccard", 0.0),
        "operators.dedup.postings_pairs": probe_out.get("postings_pairs", 0),
        "operators.image_dedup.signature_s":
            probe_walls.get("operators.image_dedup.signature", 0.0),
        "operators.embedding_dedup.cc_s": probe_walls.get("operators.embedding_dedup.cc", 0.0),
        "trace.pass_s": traced_makespan,
        "trace.unattributed_s": mid_wall - op_walls,
        "trace.overhead_s": traced_makespan - untraced_makespan,
    })
    self_times: dict[str, float] = {}
    for op in tracer.children(mid_root):
        for sid in _descendants(tracer, op):
            name = tracer.spans[sid].name
            self_times[name] = self_times.get(name, 0.0) + tracer.self_time(sid)
    breakdown = {"pass_wall_s": mid_wall, "self_s": self_times,
                 "unattributed_s": mid_wall - op_walls,
                 "sum_check_s": sum(self_times.values()) + mid_wall - op_walls}
    return layers, breakdown


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=["bank_warehouse", "mart_queries", "near_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default",
                    help="input size; 'tiny' is for the smoke tests")
    ap.add_argument("--trace-out", help="span file (default .perfbench_cache/traces/)")
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "etl_demos_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root; the engine package "
              "etl_demos_spark is not in the working directory", file=sys.stderr)
        return 2
    t_start = _process_start_epoch()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch = root / CACHE / "tmp" / run_id
    scratch.mkdir(parents=True, exist_ok=True)
    # everything the run, Spark and the Python workers write stays in the checkout
    os.environ["TMPDIR"] = str(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; turn it off for spark-submit's launcher JVM (and, below, the driver)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p)
    if str(root) not in sys.path:
        sys.path.insert(0, str(root))
    import tempfile
    tempfile.tempdir = None
    _become_subreaper()
    # a SIGTERM unwinds through the finally below, which stops every child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, root, scratch, run_id, t_start)
    finally:
        try:
            _stop_jvm()
        finally:
            _reap_children()
            shutil.rmtree(scratch, ignore_errors=True)


def _run(args, root, scratch, run_id, t_start) -> int:
    from etl_demos_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}", cpus=cpus, extra_confs={
        "spark.local.dir": str(scratch / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(scratch / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    t1 = time.time()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        t2 = time.time()
        return _measure(args, root, scratch, run_id, spark, cpus,
                        setup=(t2 - t_start, t1 - t0, t2 - t1),
                        deadline=t_start + BUDGET_BASE_S + args.seconds)
    finally:
        spark.stop()


def _measure(args, root, scratch, run_id, spark, cpus, setup, deadline) -> int:
    from perfbench.trace import NullTracer, StatusReader, Tracer, tail, vm_hwm_kb
    from perfbench.workloads import SIZES, WORKLOADS

    setup_s = setup[0]
    data_dir, input_sizes, gen_s = _inputs(root, args.workload, args.seed, args.size)
    workload = WORKLOADS[args.workload](spark, data_dir, args.seed, args.size)
    runner = Runner(workload)
    work_dir = str(scratch / "work")

    steal0 = _cpu_steal()
    cold_s, cold_ops, outputs = runner.run_pass(work_dir, True, NullTracer())
    cold_cpu = runner.last_cpu_s
    t_check = time.perf_counter()
    try:
        check_failures = workload.check(outputs)
    except Exception:
        check_failures = ["check raised: " + traceback.format_exc(limit=4)]
    check_s = time.perf_counter() - t_check
    bank = {}
    if args.workload == "bank_warehouse":
        stored = sum(f.stat().st_size for f in Path(work_dir, "warehouse").rglob("*")
                     if f.is_file())
        bank = {"stored_bytes_per_input_byte": stored / sum(input_sizes.values()),
                "files_written": outputs.get("tables", {}).get("files", 0),
                "files_after_merges": outputs.get(f"merge:{workload.batches - 1}", 0),
                "upsert_batch_cold_s": [t for lab, t in cold_ops if lab.startswith("merge:")]}

    tracer = Tracer(spark.sparkContext, run_id) if args.trace else None
    reader = StatusReader(spark) if args.trace else None
    warm, warm_cpu, op_times, traced, by_op = [], [], [], [], {}
    # Untimed warm-up, then a fixed number of timed passes, --seconds of
    # work at this box's pace: a count that followed the clock would take
    # more (and warmer, faster) passes whenever the host is quiet, which
    # widens the run-to-run spread. The deadline only cuts passes on a
    # host so loaded that the run would overrun. Traced runs interleave
    # U T U ... U so traced and untraced passes see the same mix of
    # warm-up positions.
    next_s = cold_s / 2  # a warm pass takes about half the cold one

    def fits(seconds):
        return time.time() + seconds <= deadline

    warmup = []
    while len(warmup) < WARMUP_PASSES and fits(next_s):
        warmup.append(runner.run_pass(work_dir, False, NullTracer())[0])
        next_s = warmup[-1]
    n_warm = max(1, round(args.seconds / workload.pass_s))
    cut = 0
    while len(warm) < n_warm or (args.trace and not traced):
        if warm and (traced or not args.trace) and not fits(next_s * (1 + args.trace)):
            cut = n_warm - len(warm)
            break
        if args.trace and warm:
            traced.append(_traced_pass(runner, work_dir, tracer, reader))
        wall, times, _ = runner.run_pass(work_dir, False, NullTracer())
        next_s = wall
        warm.append(wall)
        warm_cpu.append(runner.last_cpu_s)
        op_times += [t for _, t in times]
        for label, t in times:
            by_op.setdefault(label, []).append(t)
    makespan = _median(warm)
    p_tail, job_tail, n_jobs = tail(op_times) if op_times else (0.5, 0.0, 0)
    steal1 = _cpu_steal()
    rss_mb = (vm_hwm_kb(spark.sparkContext._gateway.proc.pid) + vm_hwm_kb()) / 1024
    metrics = {"setup_s": setup_s, "makespan_s": makespan}
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "params": SIZES[args.workload][args.size], "cpus": cpus,
        "boot_id": Path("/proc/sys/kernel/random/boot_id").read_text().strip(),
        "source": _source_id(root), "gen_s": gen_s, "check_s": check_s,
        "input_bytes": sum(input_sizes.values()),
        "cold_pass_s": cold_s, "cold_cpu_s": cold_cpu, "warmup_passes_s": warmup,
        "warm_passes_s": warm, "passes_cut_by_deadline": cut,
        "warm_cpu_s": warm_cpu, "cold_ops_s": cold_ops,
        "warm_op_median_s": {k: _median(v) for k, v in by_op.items()},
        "job_p50_s": _median(op_times),
        "job_tail": {"percentile": p_tail, "value_s": job_tail, "samples": n_jobs},
        "peak_rss_mb": rss_mb,
        # share of CPU time the host gave to other tenants while passes ran
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "bank": bank, "failures": runner.failed + check_failures,
    }

    if args.trace:
        with tracer.span("trace.probes") as span:
            probe_root = tracer.spans.index(span)
            try:
                probe_out = workload.probes(tracer, outputs) or {}
            except Exception:
                check_failures.append("probes raised: " + traceback.format_exc(limit=4))
                probe_out = {}
        for sid in _descendants(tracer, probe_root)[1:]:
            tracer.spans[sid].counts = reader.group_counts(
                [tracer.spans[sid].group], tracer.spans[sid].wall)
        layers, breakdown = _layer_metrics(
            tracer, traced, probe_root, probe_out, bank, input_sizes, workload,
            setup[1:], makespan)
        out_metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        trace_path = Path(args.trace_out) if args.trace_out else (
            root / CACHE / "traces" / f"{args.workload}-{args.seed}.json")
        trace_path.parent.mkdir(parents=True, exist_ok=True)
        trace_path.write_text(json.dumps(
            {"detail": detail, "end_to_end": metrics, "per_layer": layers,
             "breakdown": breakdown, "spans": tracer.to_json()}, indent=1, default=str))
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"detail": detail, "end_to_end": metrics}, default=str), file=sys.stderr)

    failed = len(runner.failed) + len(check_failures)
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
