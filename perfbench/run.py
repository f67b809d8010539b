"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from the seed under
perfbench/.runs/ and deleted at exit; a Spark driver on
local[<usable cores>] is booted and warmed up (its CPU seconds are ``setup_s``),
then jobs run one after another until ``--seconds`` of job time have
been measured. Every job's output is checked outside its timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` jobs alternate untraced / traced, the Spark UI is on
so its status API can be read, and the last line carries the per-layer
metrics. The spans are written to perfbench/.runs/trace-*.json.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cloud_native_medical_data_etl_pipeline_spark"
DEADLINE_S = 150  # leave room under the 180 s exit limit for teardown
# The first job after boot pays class loading and code generation
# (~3x a steady job); it is part of setup_s, not a timed job.
WARMUP_JOBS = 1
# Timed jobs per run at least (twice that in the traced run, half of
# them traced); more run while fewer than --seconds of job time have
# been measured. A run pays ~35 s of setup before its first timed job,
# and the 48 runs a driver makes of two workloads must fit in an hour
# on a host that steals up to a quarter of the CPU, where a job takes
# 10-15 s: so a run with a --seconds shorter than one job times one job.
MIN_JOBS = 1

# End-to-end metrics in the result line. Wall-clock job times are
# printed (REPORTED) but not gated: on a VM whose host steals CPU time
# they swing by a quarter between runs (steal is printed per job). The
# CPU seconds a job costs swing less (stolen time is not charged to a
# process), so setup_s and job_cpu_s count CPU seconds. job_cpu_s is
# the mean over the timed jobs, not the median: the JVM's JIT compiler
# is still busy for dozens of jobs after boot (over half of a job's
# CPU; printed as jit_cpu_s) and which job a compile lands in varies,
# while the total over the window varies less.
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "job_cpu_s": "s",
}
REPORTED = {
    "setup_wall_s": "s",
    "jit_cpu_s": "s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.boot_s": "s",
    "session.warmup_s": "s",
    "session.boot_cpu_s": "s",
    "session.warmup_cpu_s": "s",
    "sources.lake.read_s": "s",
    "sources.lake.read_rows": "count",
    "sources.lake.read_bytes": "B",
    "sources.lake.write_s": "s",
    "sources.lake.write_bytes": "B",
    "sources.lake.write_files": "count",
    "sources.lake.csv_s": "s",
    "operators.transforms.plan_s": "s",
    "operators.transforms.exec_s": "s",
    "operators.transforms.rows_in": "count",
    "operators.transforms.rows_out": "count",
    "operators.enrich.plan_s": "s",
    "operators.enrich.exec_s": "s",
    "operators.enrich.theta_pairs": "count",
    "operators.enrich.matched_pairs": "count",
    "operators.enrich.match_ratio": "ratio",
    "operators.enrich.broadcast_bytes": "B",
    "operators.quality.exec_s": "s",
    "operators.quality.spark_jobs": "count",
    "operators.quality.rows_scanned": "count",
    "plans.pipeline.self_s": "s",
    "plans.pipeline.spark_jobs": "count",
    "plans.pipeline.cached_bytes": "B",
    "functions.text.filter_s": "s",
    "functions.text.docs_in": "count",
    "functions.text.docs_kept": "count",
    "operators.dedup.exact_s": "s",
    "operators.dedup.exact_removed": "count",
    "operators.dedup.minhash_plan_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.lsh_verified": "count",
    "operators.dedup.embedding_s": "s",
    "operators.dedup.emb_candidates": "count",
    "operators.dedup.emb_verified": "count",
    "operators.curate.self_s": "s",
    "spark.task_busy_frac": "ratio",
    "spark.scheduler_wait_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "jvm.jit_cpu_s": "s",
    "trace.overhead_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu(jvm_pid: int | None) -> float:
    """CPU seconds (user + system, reaped children included) of this
    process, the JVM and every process under the JVM. The JVM's reaped
    children include spark-submit's launcher JVM."""
    pids = (os.getpid(),) if jvm_pid is None else (os.getpid(), jvm_pid, *descendants(jvm_pid))
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class JobMeter:
    """Per-job resource figures for the driver process tree (this
    Python process, the JVM and the Python workers it forks):

    - CPU seconds (user + system, including reaped children), which a
      host taking CPU time from this VM inflates less than wall time;
    - of those, the CPU seconds of the JVM's JIT compiler threads, which
      keep compiling for dozens of jobs after boot;
    - the share of CPU time the VM's hypervisor stole during the job
      (/proc/stat), printed so a noisy host shows in the output;
    - peak RSS of driver Python + JVM, sampled every 50 ms while a job
      runs.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.cpu_s: list[float] = []
        self.jit_s: list[float] = []
        self.steal: list[float] = []
        self.peak = 0
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._active = False
        self._jit_last: dict[int, int] = {}
        self._other_tids: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _jit_ticks(self) -> dict[int, int]:
        """CPU ticks of each live JIT compiler thread of the JVM. Only
        threads not seen before and known compiler threads are read, so
        sampling the JVM's hundreds of threads stays cheap."""
        out = {}
        base = f"/proc/{self.jvm_pid}/task"
        for tid in map(int, os.listdir(base)):
            if tid in self._other_tids:
                continue
            try:
                with open(f"{base}/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            head, tail = raw.rsplit(")", 1)
            if "CompilerThre" in head:  # "C2 CompilerThre", "C1 CompilerThre"
                f = tail.split()
                out[tid] = int(f[11]) + int(f[12])
            else:
                self._other_tids.add(tid)
        return out

    @staticmethod
    def _host_cpu() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])  # steal, total

    def _rss(self) -> int:
        total = 0
        for pid in (os.getpid(), self.jvm_pid):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _sample(self):
        while not self._stop.wait(0.05):
            if self._active:
                self.peak = max(self.peak, self._rss())
                # the JVM retires idle compiler threads; the last reading
                # keeps their CPU when one exits mid-job
                jit = self._jit_ticks()
                with self._lock:
                    self._jit_last.update(jit)

    def on_timed(self, active: bool):
        """closed_loop callback: called as each job starts and ends."""
        if active:
            self.peak = max(self.peak, self._rss())
            self._jit0 = self._jit_ticks()
            self._jit_last = dict(self._jit0)
            self._c0, self._h0 = tree_cpu(self.jvm_pid), self._host_cpu()
            self._active = True
            return
        self._active = False
        steal, total = self._host_cpu()
        self.cpu_s.append(tree_cpu(self.jvm_pid) - self._c0)
        with self._lock:
            self._jit_last.update(self._jit_ticks())
            jit = sum(v - self._jit0.get(tid, 0) for tid, v in self._jit_last.items())
        self.jit_s.append(jit / self._tick)
        self.steal.append((steal - self._h0[0]) / max(1, total - self._h0[1]))

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


class Driver:
    """Boots, warms and tears down the Spark driver the jobs run on."""

    def __init__(self, work: str, workload: str, trace: bool):
        self.work, self.workload, self.trace = work, workload, trace
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm_pid = None

    def boot(self):
        from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # no /tmp/hsperfdata_<user> file: the run writes only inside `work`
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.enabled": "true" if self.trace else "false",
        }
        if self.trace:
            conf.update({
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def shutdown(self):
        """Stop Spark, end the JVM and every process it started, and wait."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        from py4j.protocol import Py4JError

        workers = descendants(gw.proc.pid)
        try:
            if self.spark is not None:
                self.spark.stop()
        except Py4JError:
            pass  # the gateway connection is gone (the run was interrupted mid-call): end the JVM below
        finally:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                gw.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait(timeout=10)
            deadline = time.time() + 10
            for pid in workers:
                while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                    time.sleep(0.05)
                if os.path.exists(f"/proc/{pid}"):
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_closure(tr, traced: list[tuple[int, int]], layers: tuple[str, ...]) -> tuple[list[float], list[str]]:
    """For each traced job, the part of its time that the self times of
    the spans of ``layers`` (name prefixes) do not account for; and the
    layers that had no span in some traced job."""
    gaps, missing = [], set()
    for i, root_id in traced:
        spans = [s for s in tr.spans if s.job == i]
        root = next(s for s in spans if s.id == root_id)
        named = [s for s in spans if s.name.startswith(layers)]
        missing |= {layer for layer in layers if not any(s.name.startswith(layer) for s in named)}
        gaps.append(root.dur - sum(tr.self_s(s) for s in named))
    return gaps, sorted(missing)


def _layer_metrics(tr, wl, traced: list[tuple[int, int]], cores: int) -> dict[str, float]:
    """Per-layer values of each traced job, medianed over the jobs."""
    from perfbench.loop import median

    per_job: dict[str, list[float]] = {k: [] for k in PER_LAYER}
    for i, root_id in traced:
        spans = [s for s in tr.spans if s.job == i]
        root = next(s for s in spans if s.id == root_id)

        def agg(name, key):
            total = 0.0
            for s in spans:
                if s.name != name:
                    continue
                if key == "dur":
                    total += s.dur
                elif key == "self":
                    total += tr.self_s(s)
                elif key in ("plan_s", "exec_s"):
                    total += getattr(s, key)
                else:
                    total += s.counts.get(key, 0)
            return total

        def everywhere(key):
            return sum(s.counts.get(key, 0) for s in spans)

        v = {
            "sources.lake.read_s": agg("sources.lake.read", "dur"),
            "sources.lake.read_rows": agg("sources.lake.read", "rows_out"),
            "sources.lake.read_bytes": agg("sources.lake.read", "input_bytes"),
            "sources.lake.write_s": agg("sources.lake.write", "dur"),
            "sources.lake.write_bytes": agg("sources.lake.write", "write_bytes"),
            "sources.lake.write_files": agg("sources.lake.write", "write_files"),
            "sources.lake.csv_s": agg("sources.lake.csv", "dur"),
            "operators.transforms.plan_s": agg("operators.transforms", "plan_s"),
            "operators.transforms.exec_s": agg("operators.transforms", "exec_s"),
            "operators.transforms.rows_in": agg("operators.transforms", "rows_in"),
            "operators.transforms.rows_out": agg("operators.transforms", "rows_out"),
            "operators.enrich.plan_s": agg("operators.enrich", "plan_s"),
            "operators.enrich.exec_s": agg("operators.enrich", "exec_s"),
            "operators.enrich.broadcast_bytes": agg("operators.enrich", "broadcast_bytes"),
            "operators.enrich.theta_pairs": agg("operators.enrich", "theta_pairs"),
            "operators.enrich.matched_pairs": agg("operators.enrich", "theta_matched"),
            "operators.quality.exec_s": agg("operators.quality", "exec_s"),
            "operators.quality.spark_jobs": agg("operators.quality", "spark_jobs"),
            "operators.quality.rows_scanned": agg("operators.quality", "scan_rows"),
            "plans.pipeline.self_s": agg("plans.pipeline", "self"),
            "plans.pipeline.spark_jobs": agg("plans.pipeline", "spark_jobs"),
            "plans.pipeline.cached_bytes": agg("plans.pipeline", "cached_bytes"),
            "functions.text.filter_s": agg("functions.text.filter", "dur"),
            "functions.text.docs_kept": agg("functions.text.filter", "rows_out"),
            "operators.dedup.exact_s": agg("operators.dedup.exact", "dur"),
            "operators.dedup.minhash_plan_s": agg("operators.dedup.minhash", "plan_s"),
            "operators.dedup.minhash_s": agg("operators.dedup.minhash", "dur"),
            "operators.dedup.lsh_verified": agg("operators.dedup.minhash", "rows_out"),
            "operators.dedup.embedding_s": agg("operators.dedup.embedding", "dur"),
            "operators.dedup.emb_verified": agg("operators.dedup.embedding", "rows_out"),
            "operators.curate.self_s": agg("operators.curate", "self"),
            "spark.task_busy_frac": everywhere("task_s") / (root.dur * cores),
            "spark.scheduler_wait_s": everywhere("scheduler_wait_s"),
            "spark.shuffle_write_bytes": everywhere("shuffle_write_bytes"),
            "spark.spill_bytes": everywhere("spill_bytes"),
            "spark.gc_s": everywhere("gc_s"),
            "spark.tasks": everywhere("tasks"),
            "spark.failed_tasks": everywhere("failed_tasks"),
        }
        v.update(wl.job_counts(i))
        if v["functions.text.docs_kept"]:
            v["functions.text.docs_in"] = wl.items(i)
            v["operators.dedup.exact_removed"] = v["functions.text.docs_kept"] - agg("operators.dedup.exact", "rows_out")
        if v["operators.enrich.theta_pairs"]:
            v["operators.enrich.match_ratio"] = v["operators.enrich.matched_pairs"] / v["operators.enrich.theta_pairs"]
        for k in per_job:
            if k in v:
                per_job[k].append(float(v[k]))
    return {k: median(xs) if xs else 0.0 for k, xs in per_job.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops the JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.loop import closed_loop, median, tail
    from perfbench.trace import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, "perfbench", ".runs")
    work = os.path.join(runs, f"work-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    import tempfile

    tempfile.tempdir = None
    driver = Driver(work, args.workload, bool(args.trace))
    meter = None
    try:
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        inputs_s = time.perf_counter() - t0

        t0, c0 = time.perf_counter(), tree_cpu(None)
        spark = driver.boot()
        boot_s, boot_cpu = time.perf_counter() - t0, tree_cpu(driver.jvm_pid) - c0
        warmup_s = warmup_cpu = 0.0
        for _ in range(WARMUP_JOBS):
            wl.prepare(-1)
            t0, c0 = time.perf_counter(), tree_cpu(driver.jvm_pid)
            warm = wl.job(spark, -1, NullTracer())
            warmup_s += time.perf_counter() - t0
            warmup_cpu += tree_cpu(driver.jvm_pid) - c0
            errs = wl.check(-1, warm)
            if errs:
                print(f"perfbench: warm-up output wrong: {errs}", file=sys.stderr)
                return 1

        meter = JobMeter(driver.jvm_pid)
        tracer = Tracer(spark.sparkContext) if args.trace else None
        traced: list[tuple[int, int]] = []  # (job index, root span id)
        job_kind: dict[int, bool] = {}

        def job(i):
            if tracer is None or i % 2 == 0:
                job_kind[i] = False
                if tracer is not None:
                    tracer.set_group("pb-untraced")
                return wl.job(spark, i, NullTracer())
            job_kind[i] = True
            tracer.job = i
            try:
                with workloads.patched(wl.hooks(tracer)), tracer.span("job") as root:
                    traced.append((i, root.id))
                    return wl.job(spark, i, tracer)
            finally:
                tracer.release()
                tracer.set_group("pb-none")

        remaining = DEADLINE_S - (time.perf_counter() - T_START)
        res = closed_loop(job, wl.check, wl.items, args.seconds, min_jobs=MIN_JOBS * (2 if args.trace else 1),
                          max_wall=remaining, on_timed=meter.on_timed, prepare=wl.prepare)
        meter.close()
        for e in res.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)

        times_by_kind = {k: [t for (i, _), t in zip(res.outputs, res.times) if job_kind[i] == k]
                         for k in (False, True)}
        base_times = times_by_kind[False]
        value, pct, n, beyond = tail(base_times)
        secs = sum(base_times)
        items = sum(wl.items(i) for i, _ in res.outputs if not job_kind[i])
        e2e = {
            "setup_s": boot_cpu + warmup_cpu,
            "setup_wall_s": boot_s + warmup_s,
            "job_p50_s": median(base_times),
            "job_tail_s": value,
            "throughput_per_s": items / secs if secs else 0.0,
            "job_cpu_s": _mean([meter.cpu_s[i] for i, _ in res.outputs if not job_kind[i]]),
            "jit_cpu_s": _mean([meter.jit_s[i] for i, _ in res.outputs if not job_kind[i]]),
            "peak_rss_mb": meter.peak / 2**20,
        }
        notes = {
            "setup_s": f"CPU seconds: boot {boot_cpu:.2f} s + {WARMUP_JOBS} warm-up jobs {warmup_cpu:.2f} s",
            "setup_wall_s": f"boot {boot_s:.3f} s + {WARMUP_JOBS} warm-up jobs {warmup_s:.3f} s",
            "job_p50_s": f"median of {n} jobs",
            "job_tail_s": f"p{pct:.1f} of {n} jobs, {beyond} beyond"
            + ("" if beyond else " (fewer than 11 jobs: the maximum)"),
            "throughput_per_s": f"{wl.item_unit}, {items} items in {secs:.3f} timed s",
            "job_cpu_s": "CPU seconds of driver Python + JVM + Python workers per job",
            "jit_cpu_s": "CPU seconds of the JVM's JIT compiler threads per job",
            "peak_rss_mb": "driver Python + JVM, sampled during jobs",
        }
        print(f"perfbench: workload={args.workload} seed={args.seed} cores={driver.cores} "
              f"seconds={args.seconds} trace={args.trace} inputs={inputs_s:.2f}s")
        print("jobs: wall " + " ".join(f"{t:.3f}" for t in res.times) + " s; cpu "
              + " ".join(f"{meter.cpu_s[i]:.2f}" for i, _ in res.outputs) + " s (of it JIT "
              + " ".join(f"{meter.jit_s[i]:.2f}" for i, _ in res.outputs) + " s); host steal "
              + " ".join(f"{100 * meter.steal[i]:.0f}%" for i, _ in res.outputs))
        for k, v in e2e.items():
            print(f"metric {k} = {v:.6g} {({**END_TO_END, **REPORTED})[k]}  ({notes[k]})")
        print(f"metric failed_frac = {res.failed / max(1, res.attempted):.6g} ratio  "
              f"({res.failed} of {res.attempted} jobs)")
        for k, (v, unit) in wl.extra_metrics().items():
            print(f"metric {k} = {v:.6g} {unit}")

        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        closed = True
        if tracer is not None:
            overhead = median(times_by_kind[True]) - median(base_times) if times_by_kind[True] else 0.0
            have_status = tracer.attach_spark_status()
            traced_ok = [t for t in traced if t[0] in dict(res.outputs)]
            layers = _layer_metrics(tracer, wl, traced_ok, driver.cores)
            layers["session.boot_s"] = boot_s
            layers["session.warmup_s"] = warmup_s
            layers["session.boot_cpu_s"] = boot_cpu
            layers["session.warmup_cpu_s"] = warmup_cpu
            layers["trace.overhead_s"] = overhead
            layers["jvm.jit_cpu_s"] = median([meter.jit_s[i] for i, _ in traced_ok])
            traced_day = median(times_by_kind[True])
            gaps, missing = layer_closure(tracer, traced_ok, wl.LAYERS)
            # a difference of two medians can come out negative; a gap
            # below 1 % of the traced job always passes
            tolerance = max(abs(overhead), 0.01 * traced_day)
            closed = not missing and median(gaps) <= tolerance
            print(f"trace: overhead {overhead:.3f} s per job (traced median {traced_day:.3f} s, "
                  f"untraced median {median(base_times):.3f} s); spark status API "
                  f"{'read' if have_status else 'unavailable'}")
            print(f"trace: self times of the {', '.join(wl.LAYERS)} spans leave {median(gaps):.4f} s "
                  f"(median) of the traced job uncovered, tolerance {tolerance:.4f} s"
                  + (f"; no span for {', '.join(missing)}" if missing else "")
                  + ("" if closed else " -- FAILED: the layer spans do not add up to the job"))
            for k, v in layers.items():
                print(f"layer {k} = {v:.6g} {PER_LAYER[k]}")
            path = os.path.join(runs, f"trace-{args.workload}-seed{args.seed}.json")
            tracer.dump(path, {"workload": args.workload, "seed": args.seed, "overhead_s": overhead})
            print(f"trace: spans written to {os.path.relpath(path, ROOT)}")
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        print(json.dumps({
            "correct": res.failed == 0 and res.attempted > 0 and closed,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if meter is not None:
            meter.close()
        try:
            driver.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
