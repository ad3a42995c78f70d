"""Benchmark of the transcript log pipeline on the CPUs it is given.

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

Runs from the repository root. Every run generates its input from
``--seed`` (cached under ``.perfbench_work/``), starts the session with
``session.get_spark(master="local[N]")``, N being the CPUs in this
process's affinity mask, sets up twice (session start plus one warmup
iteration on a smaller input; the median is ``setup_s``), then runs the
workload closed loop until ``--seconds`` of iterations have passed.
Each iteration's outputs are checked against the DuckDB oracle after its
timer stops; a failed check drops its timings and counts as failed.

Stdout carries two JSON lines: a full report (machine block, every
iteration, every metric with its unit and sample count, and with
``--trace 1`` the spans and per-layer folds), then the result line
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

With ``--trace 1`` the run sets up once, measures untraced as above, then
restarts the session with Spark's event log on and runs one traced
iteration plus, for ``batch_full``, the layers ``build`` runs eagerly one
by one, a crash-and-resume ``plans.checkpoint`` pass and a ``local[1]``
iteration. ``trace.overhead_ratio`` is the traced iteration's wall over the
untraced median, minus one. Layers a workload never runs report 0.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import asdict

import spans as sp
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("batch_full", "stream_drain")
SETUPS = 2
#: buckets of the checkpoint pass in the traced run; half run before the
#: simulated crash, the rest on resume
CHECKPOINT_BUCKETS = 2
#: a traced run skips each of its optional passes (layer by layer,
#: checkpoint, local[1]) once this many seconds have passed, so that a run
#: on a loaded machine still ends within three minutes; a skipped pass
#: reports 0
TRACE_DEADLINE_S = 120

END_TO_END_UNITS = {
    "turns_per_s": "1/s",
    "microbatch_s_p50": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
#: the end-to-end metrics on the result line. peak_rss_mb stays in the report
#: only: the JVM's heap sizing, not the workload, spread it by about 20%
#: between seeds of the same code on a 4-CPU, 16 GB machine.
RESULT_METRICS = ("turns_per_s", "microbatch_s_p50", "setup_s")


def _isolate_env() -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside WORK."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )


def machine(spark) -> dict:
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        sha = r.stdout.strip() or None
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal")).split()[1])
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_sha": sha,
    }


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled from /proc while running."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _rss_bytes(_descendants(os.getpid())))
            self.samples += 1
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_session(master: str, extra_conf: dict | None = None):
    from java9_gc_log_parser_spark.session import get_spark

    return get_spark(master=master, extra_conf=extra_conf)


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


class Runner:
    def __init__(self, wl, seed: int, seconds: float, trace: bool):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cpus}]"
        self.scratch = os.path.join(WORK, "runs", f"{wl.name}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.iterations: list[dict] = []
        self._n = 0
        self.t0 = time.perf_counter()

    def _root(self) -> str:
        self._n += 1
        return os.path.join(self.scratch, f"it{self._n}")

    def checked(self, spark, run, check) -> tuple[object | None, dict]:
        """Run one operation, check it after its timer, clean its outputs."""
        self.attempted += 1
        root = self._root()
        rec: dict = {"ok": False}
        it = None
        try:
            it = run(root)
            rec.update(wall_s=it.wall_s, batch_s=it.batch_s)
            errors = check(it)
            rec.update(ok=not errors, errors=errors)
        except Exception:  # one failed iteration must not end the run
            traceback.print_exc()
            rec["errors"] = [traceback.format_exc(limit=3)]
        finally:
            workloads.clean(root)
        if not rec["ok"]:
            self.failed += 1
            it = None
        return it, rec

    def setup(self, spark, ds) -> tuple[object, dict]:
        """Session start plus one warmup iteration on the ``warm/`` input,
        ``SETUPS`` times; the first start, made before input generation,
        launches the JVM."""
        runs = []
        for i in range(1 if self.trace else SETUPS):
            if i:
                spark.stop()
                t0 = time.perf_counter()
                spark = start_session(self.master)
                start_s = time.perf_counter() - t0
            else:
                start_s = self._first_start_s
            t0 = time.perf_counter()
            root = self._root()
            try:
                self.wl.run(spark, ds["warm"], root)
            finally:
                workloads.clean(root)
            runs.append({"start_s": start_s,
                         "warmup_s": time.perf_counter() - t0})
        totals = [r["start_s"] + r["warmup_s"] for r in runs]
        return spark, {"runs": runs, "median_s": statistics.median(totals)}

    def measure(self, spark, ds) -> list:
        """Closed loop until ``seconds`` of iteration wall time have passed."""
        done, elapsed = [], 0.0
        while elapsed < self.seconds:
            it, rec = self.checked(
                spark,
                lambda root: self.wl.run(spark, ds["transcripts"], root),
                lambda it: self.wl.check(spark, it, ds),
            )
            self.iterations.append(rec)
            elapsed += rec.get("wall_s", 0.0) or 1.0
            if it is not None:
                done.append(it)
        return done

    def main(self) -> tuple[dict, dict]:
        t0 = time.perf_counter()
        spark = start_session(self.master)
        self._first_start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        ds = self.wl.dataset(spark, WORK, self.seed)  # untimed
        gen_s = time.perf_counter() - t0
        report = {
            "workload": self.wl.name, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.trace),
            "machine": machine(spark), "master": self.master,
            "input": {"turns": ds["turns"], "files": ds["files"],
                      "gen_s": gen_s},
        }
        spark, setup = self.setup(spark, ds)
        with RssSampler() as rss:
            done = self.measure(spark, ds)
        walls = [it.wall_s for it in done]
        batches = [b for it in done for b in it.batch_s]
        mb = stats.summary(batches)
        e2e = {
            "turns_per_s": (statistics.median(ds["turns"] / w for w in walls)
                            if walls else 0.0, len(walls)),
            "microbatch_s_p50": (mb.get("p50", 0.0), len(batches)),
            "peak_rss_mb": (rss.peak / 2**20, rss.samples),
            "setup_s": (setup["median_s"], len(setup["runs"])),
        }
        report["setup"] = setup
        report["end_to_end"] = {
            k: {"value": v, "unit": END_TO_END_UNITS[k], "n": n}
            for k, (v, n) in e2e.items()
        }
        report["microbatch_s"] = mb
        if self.trace:
            spark, traced = traced_pass(self, spark, ds, setup, walls)
            report.update(traced)
        stop_jvm(spark)
        shutil.rmtree(self.scratch, ignore_errors=True)
        report["iterations"] = self.iterations
        report["attempted"] = self.attempted
        report["failed"] = self.failed
        report["ops_failed_ratio"] = self.failed / max(1, self.attempted)
        report["correct"] = self.failed == 0 and bool(walls)
        if self.trace:
            metrics = report["per_layer"]
        else:
            metrics = {k: {"value": report["end_to_end"][k]["value"],
                           "unit": END_TO_END_UNITS[k]}
                       for k in RESULT_METRICS}
        result = {"correct": report["correct"], "attempted": self.attempted,
                  "failed": self.failed, "metrics": metrics}
        return report, result


PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "parse.wall_s": "s", "parse.task_cpu_s": "s", "parse.gc_s": "s",
    "parse.rows_in": "count",
    "storage.parsed_write_s": "s", "storage.parsed_bytes": "bytes",
    "storage.groups_write_s": "s",
    "assemble.wall_s": "s", "assemble.task_cpu_s": "s",
    "assemble.shuffle_write_bytes": "bytes", "assemble.groups_out": "count",
    "route.wall_s": "s", "route.rows_out": "count",
    "aggregate.wall_s": "s", "aggregate.shuffle_write_bytes": "bytes",
    "pipeline.driver_s": "s", "pipeline.jobs": "count",
    "pipeline.speedup_vs_1core": "x",
    "checkpoint.prepare_s": "s", "checkpoint.batch_s": "s",
    "checkpoint.jobs_per_batch": "count", "checkpoint.driver_s_per_batch": "s",
    "checkpoint.scan_bytes_per_batch": "bytes",
    "assembler.state_update_ms": "ms", "assembler.state_commit_ms": "ms",
    "assembler.state_rows": "count", "assembler.state_mem_bytes": "bytes",
    "state_stream.add_batch_ms": "ms", "state_stream.planning_ms": "ms",
    "state_stream.wal_commit_ms": "ms", "state_stream.jobs_per_batch": "count",
    "trace.overhead_ratio": "ratio",
}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def traced_pass(runner: Runner, spark, ds: dict, setup: dict,
                untraced: list[float]) -> tuple[object, dict]:
    """The traced half of a ``--trace 1`` run: the per-layer metrics, the
    event-log folds per job group and the spans. Returns the session left
    running and those three report entries."""
    wl = runner.wl
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m["session.start_s"] = setup["runs"][0]["start_s"]
    m["session.warmup_s"] = setup["runs"][0]["warmup_s"]
    log_dir = os.path.join(runner.scratch, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark.stop()
    spark = start_session(runner.master, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    })
    tracer = sp.Tracer(f"{wl.name}-{runner.seed}", spark.sparkContext)
    extra: dict = {}

    def traced_iteration(root):
        with tracer.span("pipeline"):
            it = wl.run(spark, ds["transcripts"], root)
        if wl.name == "batch_full":
            extra["parsed_bytes"] = _dir_bytes(os.path.join(root, "parsed"))
        return it

    it, rec = runner.checked(spark, traced_iteration,
                             lambda it: wl.check(spark, it, ds))
    runner.iterations.append(dict(rec, traced=True))

    def in_time(name: str) -> bool:
        if time.perf_counter() - runner.t0 < TRACE_DEADLINE_S:
            return True
        runner.iterations.append({"skipped": name})
        return False

    layers = ck = None
    if wl.name == "batch_full" and in_time("layers"):
        layers, rec = runner.checked(
            spark,
            lambda root: workloads.run_layers(spark, tracer,
                                              ds["transcripts"], root),
            lambda it: workloads.check_layers(it, ds),
        )
        runner.iterations.append(dict(rec, layers=True))
    counts = layers.counts if layers is not None else {}
    if wl.name == "batch_full" and in_time("checkpoint"):
        ck, rec = runner.checked(
            spark,
            lambda root: workloads.run_checkpoint(
                spark, tracer, ds["transcripts"], root, CHECKPOINT_BUCKETS),
            lambda it: workloads.check_checkpoint(it, ds, CHECKPOINT_BUCKETS),
        )
        runner.iterations.append(dict(rec, checkpoint=True))
    spark.stop()
    folded = sp.fold_event_log(sp.read_event_log(log_dir))
    intervals = sp.all_intervals(folded)
    job_starts = sorted(t for st in folded.values() for t in st.job_starts)

    def layer(name: str) -> sp.LayerStats:
        return folded.get(name, sp.LayerStats())

    def jobs_in(span) -> int:
        return sum(span.start <= t <= span.end for t in job_starts)

    pipe = tracer.named("pipeline")[0] if tracer.named("pipeline") else None
    if pipe is not None:
        m["pipeline.driver_s"] = sp.idle_time(pipe.start, pipe.end, intervals)
        m["pipeline.jobs"] = jobs_in(pipe)
    if it is not None and untraced:
        m["trace.overhead_ratio"] = it.wall_s / statistics.median(untraced) - 1
    if wl.name == "batch_full":
        if counts:
            for name in ("parse", "assemble", "route", "aggregate"):
                span = tracer.named(name)[0]
                m[f"{name}.wall_s"] = sp.self_time(span, tracer.spans)
            m["storage.parsed_write_s"] = tracer.named(
                "storage.parsed_write")[0].wall
            m["storage.groups_write_s"] = tracer.named(
                "storage.groups_write")[0].wall
        m["parse.task_cpu_s"] = layer("parse").task_cpu_s
        m["parse.gc_s"] = layer("parse").gc_s
        m["parse.rows_in"] = counts.get("parse.rows_in", 0)
        m["storage.parsed_bytes"] = extra.get("parsed_bytes", 0)
        m["assemble.task_cpu_s"] = layer("assemble").task_cpu_s
        m["assemble.shuffle_write_bytes"] = layer("assemble").shuffle_write_b
        m["assemble.groups_out"] = counts.get("assemble.groups_out", 0)
        m["route.rows_out"] = counts.get("route.rows_out", 0)
        m["aggregate.shuffle_write_bytes"] = layer("aggregate").shuffle_write_b
        batches = tracer.named("checkpoint.batch")
        if ck is not None and batches:
            n = len(batches)
            m["checkpoint.prepare_s"] = tracer.named("checkpoint.prepare")[0].wall
            m["checkpoint.batch_s"] = statistics.median(b.wall for b in batches)
            m["checkpoint.jobs_per_batch"] = layer("checkpoint.batch").jobs / n
            m["checkpoint.driver_s_per_batch"] = sum(
                sp.idle_time(b.start, b.end, intervals) for b in batches) / n
            m["checkpoint.scan_bytes_per_batch"] = (
                layer("checkpoint.batch").input_b / n)
        if in_time("local[1]"):
            spark = start_session("local[1]")
            one, rec = runner.checked(
                spark, lambda root: wl.run(spark, ds["transcripts"], root),
                lambda it: wl.check(spark, it, ds))
            runner.iterations.append(dict(rec, master="local[1]"))
            if one is not None and untraced:
                m["pipeline.speedup_vs_1core"] = (
                    one.wall_s / statistics.median(untraced))
    elif it is not None:
        prog = it.progress
        ops = [p.get("stateOperators") or [] for p in prog]
        m["assembler.state_update_ms"] = statistics.median(
            sum(o.get("allUpdatesTimeMs", 0) for o in ps) for ps in ops)
        m["assembler.state_commit_ms"] = statistics.median(
            sum(o.get("commitTimeMs", 0) for o in ps) for ps in ops)
        m["assembler.state_rows"] = sum(
            o.get("numRowsTotal", 0) for o in ops[-1])
        m["assembler.state_mem_bytes"] = sum(
            o.get("memoryUsedBytes", 0) for o in ops[-1])
        for key, name in (("addBatch", "add_batch_ms"),
                          ("queryPlanning", "planning_ms"),
                          ("walCommit", "wal_commit_ms")):
            m[f"state_stream.{name}"] = statistics.median(
                p["durationMs"].get(key, 0) for p in prog)
        if pipe is not None:
            m["state_stream.jobs_per_batch"] = jobs_in(pipe) / len(prog)
    return spark, {
        "per_layer": {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]}
                      for k, v in m.items()},
        "layers": {str(k): v.public() for k, v in folded.items()},
        "spans": [dict(asdict(s), self_s=sp.self_time(s, tracer.spans))
                  for s in sorted(tracer.spans, key=lambda s: s.start)],
    }


def run_one(name: str, seed: int, seconds: float, trace: bool) -> None:
    sys.path[:0] = [ROOT]
    # fail before any output when the program is not next to the benchmark
    import java9_gc_log_parser_spark.plans.pipeline  # noqa: F401

    _isolate_env()
    report, result = Runner(workloads.WORKLOADS[name], seed, seconds,
                            trace).main()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{name}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps(result), flush=True)


def run_all(args) -> None:
    """Each workload in its own process, one after another."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"{name} failed with code {proc.returncode}")
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        print(json.dumps(report))
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined), flush=True)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        run_all(args)
    else:
        run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    main()
