"""End-to-end benchmark of the KB build and the corpus build.

    python3 perfbench/run.py --workload kb_small --seed 11 --seconds 60 --trace 0

Run from the root of a checkout. Each run starts one Spark session
(``local[N]``, N <= nproc), generates the workload's inputs from the seed
and computes the expected output (set-up). It then measures one pair: a cold
build (``plan.run`` into an empty ``out_dir``, final output forced through
the ``noop`` sink) and two or three resumes (the same call over the
completed ``out_dir``): the third runs if the pair stays within ``--seconds``.
Every build and resume is checked. ``--trace 1`` times the
calls into the engine's layers instead (trace_spans.py). The last line of
stdout is one JSON object; the exit code is 0 only if every check passed.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

import selftest
from trace_spans import Tracer, event_log_totals, self_seconds, spark_job_counts
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
DEFAULT_SEED = 11
MAX_CORES = 4  # task threads, at most; never more than nproc
DRIVER_MEM = "1g"
SETUPS = 3  # input generation and expected output; setup_s takes the medians
# resumes per cold build: at least two, and a third while the pair stays
# within --seconds, so a run on a slow host takes less time. resume_s is
# their median; of three, it leaves out the first resume (a little slower
# than the next ones) and a resume that stalls on a busy host
RESUMES = (2, 3)

KB_STAGES = [
    "linked_mentions", "span_annotations", "doc_triples", "eq_edges", "states",
    "depictions", "restrictions", "negates", "tbox_triples", "closure",
    "negation_hierarchy", "presences", "absences", "closure_triples",
    "gene_profiles", "evolutionary_profiles", "homology_triples", "triples",
]
CORPUS_STAGES = [
    "doc_stats", "exact_groups", "neardup_pairs", "dup_clusters", "semantic_kept",
    "contaminated", "sampled", "kept_ids", "packed",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- process memory ---------------------------------------------------------------

def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, with pages shared between
    processes split among them (forked Python workers share most of theirs)."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, from the state
    on; None if the process has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (stat := _stat(int(entry))) is not None:
            children.setdefault(int(stat[1]), []).append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def _tree_pss_bytes(root_pid: int) -> int:
    """PSS of ``root_pid`` and all its descendants."""
    total = 0
    for pid in _tree(root_pid):
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended while being read
            pass
    return total


def _end_processes(procs: dict[int, str], timeout: float) -> None:
    """Wait until each process ``pid -> start time`` has ended, and kill the
    ones still running after ``timeout`` seconds. A zombie has ended."""

    def running() -> list[int]:
        out = []
        for pid, start in procs.items():
            stat = _stat(pid)
            if stat is not None and stat[19] == start and stat[0] != "Z":
                out.append(pid)
        return out

    deadline = time.monotonic() + timeout
    while (left := running()) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in left:
        log(f"killing process {pid}, still running {timeout:g}s after the session stopped")
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    while running():
        time.sleep(0.05)


def stop_session() -> None:
    """Stop the Spark session, if one was started, and end its JVM and the
    JVM's Python workers, waiting for each. ``spark.stop()`` alone leaves the
    JVM running until it reads end-of-file on its stdin, which comes only
    when this process exits, and the JVM then outlives it."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return
    proc = SparkContext._gateway.proc
    procs = {pid: stat[19] for pid in _tree(proc.pid) if (stat := _stat(pid)) is not None}
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits at end-of-file on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            log("killing the JVM, still running 60s after the session stopped")
            proc.kill()
            proc.wait()
        _end_processes(procs, timeout=30)


class PeakMemory:
    """Samples the PSS of the JVM and its Python workers every 50 ms."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(self.jvm_pid))
            if self._stop.wait(0.05):
                return

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _bytes(size: str) -> int:
    """``"1g"`` -> 1073741824."""
    return int(size[:-1]) * 2 ** {"k": 10, "m": 20, "g": 30}[size[-1].lower()]


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _content(df) -> tuple[int, int]:
    """Row count and order-insensitive content checksum of ``df``, one job."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("cs"),
    ).collect()[0]
    return row["n"], int(row["cs"] or 0)


def _unit(key: str) -> str:
    if key.endswith((".s", "_s")):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    if key.endswith(("_frac", "_ratio")):
        return "ratio"
    return "count"


# -- the run ----------------------------------------------------------------------

class Run:
    def __init__(self, args, tmp: Path):
        self.args = args
        self.tmp = tmp
        self.workload = WORKLOADS[args.workload]
        self.tracer = None
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    def start_session(self):
        from phenoscape_owl_tools_spark.session import get_spark

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # the heap is committed and resident from the start, so the PSS
            # minus the heap is the memory outside it (see peak_memory)
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.tmp}"
            ),
        }
        if self.args.trace:
            self.event_dir = self.tmp / "events"
            self.event_dir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        log(f"CHECK FAILED: {msg}")

    # -- set-up -------------------------------------------------------------------
    def setup(self) -> tuple[dict[str, str], set, float, float]:
        """Generate the inputs and compute the expected output, ``SETUPS``
        times. Returns the last inputs' paths, the expected output and the
        median generation and expected-output times; sets ``input_rows``."""
        gen_s, exp_s = [], []
        for k in range(SETUPS):
            shutil.rmtree(self.tmp / "in", ignore_errors=True)
            t = time.perf_counter()
            paths, source = self.workload.generate(self.args.seed, self.tmp / "in")
            gen_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            expected = self.workload.expected(source)
            exp_s.append(time.perf_counter() - t)
        self.input_rows = self.workload.input_rows(source)
        return paths, expected, statistics.median(gen_s), statistics.median(exp_s)

    def check_output(self, expected: set, got: set) -> tuple[float, float]:
        """Precision and recall of the cold build's output."""
        tp = len(got & expected)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(expected) if expected else 0.0
        log(f"precision {precision:.4f} recall {recall:.4f}")
        if min(precision, recall) < 0.95:
            self.failed += 1
            self.fail(f"precision {precision:.4f} recall {recall:.4f}")
        return precision, recall

    # -- one build or resume --------------------------------------------------------
    def phase(self, spark, paths, out_dir: Path, run_id: str) -> dict:
        tracer = self.tracer
        if tracer is not None:
            tracer.run_id = run_id
        span = tracer.span if tracer is not None else (lambda name: contextlib.nullcontext())
        t = time.perf_counter()
        with span("phase"):
            frame, manifests = self.workload.run(spark, paths, out_dir)
            with span("sink.noop"):
                selftest.force(frame)
        wall = time.perf_counter() - t
        stages = [m for k, m in manifests.items() if not k.startswith("_")]
        return {
            "wall": wall,
            "frame": frame,
            "content": _content(frame),
            "hit_ratio": sum(bool(m.get("resumed")) for m in stages) / len(stages),
        }

    def pair(self, spark, paths) -> dict | None:
        """A cold build into an empty ``out_dir``, then resumes over it;
        None if a phase raised or failed a check."""
        out_dir = self.tmp / "out"
        try:
            return self._pair(spark, paths, out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def _pair(self, spark, paths, out_dir) -> dict | None:
        t0 = time.perf_counter()
        try:
            self.attempted += 1
            cold = self.phase(spark, paths, out_dir, "build")
            out_bytes = _dir_bytes(out_dir)
            self.attempted += 1
            resumes = [self.phase(spark, paths, out_dir, "resume")]
            while len(resumes) < RESUMES[0] or (
                    len(resumes) < RESUMES[1] and
                    time.perf_counter() - t0 + resumes[-1]["wall"] <= self.args.seconds):
                self.attempted += 1
                resumes.append(self.phase(spark, paths, out_dir, f"resume{len(resumes)}"))
        except Exception as exc:  # a raising build is a failed run, not a crash
            log(traceback.format_exc())
            self.failed += 1
            self.fail(f"{type(exc).__name__}: {exc}")
            return None
        log(f"build {cold['wall']:.2f}s resumes {[round(r['wall'], 2) for r in resumes]}")
        for name, ph, want in [("build", cold, 0.0)] + [("resume", r, 1.0) for r in resumes]:
            bad = []
            if ph["content"] != cold["content"]:
                bad.append(f"{name}: (rows, checksum) {ph['content']} differ "
                           f"from the cold build's {cold['content']}")
            if ph["hit_ratio"] != want:
                bad.append(f"{name}: resumed-stage ratio {ph['hit_ratio']} != {want}")
            for msg in bad:
                self.fail(msg)
            self.failed += bool(bad)
        if self.failures:
            return None
        return {"out_bytes": out_bytes,
                "keys": self.workload.output_keys(cold["frame"]),
                "cold": cold, "resumed": resumes[0],
                "resume_s": statistics.median(r["wall"] for r in resumes)}

    # -- main loop ------------------------------------------------------------------
    def run(self) -> dict:
        """Set-up (session, inputs, expected output), then the measured pair."""
        t0 = time.perf_counter()
        spark = self.start_session()
        session_s = time.perf_counter() - t0
        log(f"session {session_s:.2f}s")
        sc = spark.sparkContext
        p = layers = None
        try:
            paths, expected, generate_s, expected_s = self.setup()
            log(f"setup: generate {generate_s:.2f}s expected output {expected_s:.2f}s")
            selftest.check_no_wrappers()
            if self.args.trace:
                self.tracer = Tracer(sc)
                self.tracer.install()
            try:
                with PeakMemory(sc._gateway.proc.pid) as mem:
                    t = time.perf_counter()
                    p = self.pair(spark, paths)
                    if time.perf_counter() - t > self.args.seconds:
                        log(f"the pair took longer than --seconds {self.args.seconds:g}")
                peak_mem = self.peak_memory(sc, mem.peak)
                if p is not None and self.tracer is not None:
                    layers = self.layer_metrics(sc, p)
            finally:
                if self.tracer is not None:
                    self.tracer.restore()
                    self.tracer.write(self.tmp.parent / f"spans-{self.args.workload}.jsonl")
            selftest.check_no_wrappers()
        finally:
            stop_session()
        metrics = {}
        setup = {"session_s": session_s, "generate_s": generate_s, "expected_s": expected_s}
        if p is not None:
            p["precision"], p["recall"] = self.check_output(expected, p["keys"])
            if layers is not None:
                layers.update({f"spark.{k}": v
                               for k, v in event_log_totals(self.event_dir, "build").items()})
                metrics = self.per_layer(layers, setup)
            else:
                metrics = self.end_to_end(p, setup, peak_mem)
        return {
            "correct": not self.failures and p is not None,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": metrics,
        }

    @staticmethod
    def peak_memory(sc, peak_pss: int) -> int:
        """Memory of the measured pair: the peak PSS of the JVM and its
        Python workers, with the JVM's fixed, pre-touched heap replaced by
        the heap still in use after a full collection once the pair ends.
        The fixed heap reads the same whatever the program holds, and the
        heap in use before a collection follows the collector's timing."""
        jvm = sc._jvm
        jvm.java.lang.System.gc()
        retained = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage().getUsed()
        log(f"peak PSS {peak_pss / 2**20:.0f} MB, heap retained {retained / 2**20:.0f} MB")
        return peak_pss - _bytes(DRIVER_MEM) + retained

    def end_to_end(self, p, setup, peak_mem) -> dict:
        return {
            "setup_s": (setup["session_s"] + setup["generate_s"] + setup["expected_s"], "s"),
            "build_s": (p["cold"]["wall"], "s"),
            "resume_s": (p["resume_s"], "s"),
            "rows_per_s": (self.input_rows / p["cold"]["wall"], "1/s"),
            "peak_mem_mb": (peak_mem / 2**20, "MB"),
            "out_mb": (p["out_bytes"] / 2**20, "MB"),
            "precision": (p["precision"], "ratio"),
            "recall": (p["recall"], "ratio"),
            "success_frac": (1.0 - self.failed / self.attempted, "ratio"),
        }

    def layer_metrics(self, sc, p: dict) -> dict:
        """Per-layer numbers of the cold build and the resume."""
        spans = [s for s in self.tracer.spans if s.run_id in ("build", "resume")]
        own = self_seconds(spans)
        cold = [s for s in spans if s.run_id == "build"]
        warm = [s for s in spans if s.run_id == "resume"]

        def total(group, name):
            return sum(s.seconds for s in group if s.name == name)

        by_id = {s.span_id: s for s in cold}
        write_s = total(cold, "catalog.write_table")
        data_write_s = sum(
            s.seconds for s in cold
            if s.name == "spark.write_parquet" and s.parent is not None
            and by_id[s.parent].name == "catalog.write_table"
        )
        m = {
            "trace.build_s": p["cold"]["wall"],
            "trace.resume_s": p["resumed"]["wall"],
            "plan.self_s": sum(own[s.span_id] for s in cold if s.name == "plan"),
            "catalog.bookkeeping_frac": (write_s - data_write_s) / write_s if write_s else 0.0,
            "resume.hit_ratio": p["resumed"]["hit_ratio"],
            "resume.cold_hit_ratio": p["cold"]["hit_ratio"],
            "resume.content_checksum.s": total(warm, "catalog.content_checksum"),
            "resume.read_table.s": total(warm, "catalog.read_table"),
        }
        for name in ("catalog.write_table", "catalog.content_checksum", "catalog.read_table"):
            m[f"{name}.s"] = total(cold, name)
            m[f"{name}.calls"] = sum(s.name == name for s in cold)
        for name in ("closure.el_closure", "salting.choose_salt_factor",
                     "components.connected_components", "sink.noop"):
            m[f"{name}.s"] = total(cold, name)
        m["salting.salt"] = max(
            (s.attrs["salt"] for s in cold if s.name == "salting.choose_salt_factor"), default=0)
        writes = {s.attrs["stage"]: s for s in cold if s.name == "catalog.write_table"}
        for stage in KB_STAGES + CORPUS_STAGES:
            s = writes.get(stage)
            m[f"stage.{stage}.s"] = s.seconds if s else 0.0
            m[f"stage.{stage}.rows"] = (s.attrs["rows"] or 0) if s else 0
        m.update({f"spark.{k}": v for k, v in spark_job_counts(sc, cold).items()})
        return m

    def per_layer(self, layers: dict, setup) -> dict:
        out = {"sources.generate_s": (setup["generate_s"], "s"),
               "setup.expected_s": (setup["expected_s"], "s")}
        out.update({k: (v, _unit(k)) for k, v in layers.items()})
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="kb_small")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=60)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the self-tests only")
    args = ap.parse_args(argv)
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    sys.path.insert(0, str(ROOT))
    import phenoscape_owl_tools_spark  # noqa: F401  (fails outside a checkout)

    # every file a run writes (inputs, stage tables, Spark scratch, JVM and
    # Python temp files) goes under one directory, removed when the run ends
    scratch = ROOT / ".perfbench_tmp"
    scratch.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=scratch))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # make tempfile read TMPDIR again
    os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CORES, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        run = Run(args, tmp)
        if args.selftest:
            return selftest_main(run)
        result = run.run()
    finally:
        stop_session()
        shutil.rmtree(tmp, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def selftest_main(run: Run) -> int:
    spark = run.start_session()
    try:
        log(json.dumps(selftest.check_force_materializes(spark)))
        selftest.check_install_restore(spark.sparkContext)
    finally:
        stop_session()
    log("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
