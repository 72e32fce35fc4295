"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process runs one workload on
``local[nproc]``: it makes the seeded corpus and its reference (cached under
``perfbench/_work``, before any clock starts), starts the session, runs one
cold job, then warm jobs in a closed loop (one client; the next job starts
after the previous one committed) until ``--seconds`` have passed. Every
job's committed output is checked against the reference; a mismatch or an
error counts in ``failed``, and the run then exits 1 after printing its
result.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the traced
sequence instead and prints the per-layer metrics (see ``layers.py``). The
last line of standard output is the JSON result; the lines before it are a
human-readable report with sample counts and the host record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# corpus size, set by the time budget (48 runs in 3420 s): at this size a
# warm job is mostly fixed per-job cost, not per-turn work; measured at
# 2000 and 20,000 conversations in README.md ("Why 2000 conversations")
BATCH_CONVS = 2000
STREAM_FILES = 4
DRIVER_MEM = "2g"
# warm jobs per run, at least: the time of a single job swings with the
# host by more than any bound (a sql job is longer than --seconds)
MIN_WARM = 2
# a job during which the hypervisor gave more than this share of the CPU
# time to other tenants (steal, /proc/stat) was disturbed; the run then
# takes one more warm job, so that the median rests on undisturbed ones
STEAL_LIMIT = 0.05

WORKLOADS = ("batch_arrow", "batch_sql")  # why each: BENCHMARK.json
END_TO_END = {  # name -> unit
    "turns_per_s": "1/s",
    "run_s": "s",
    "setup_s": "s",
    "peak_mem_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def prepare_env() -> None:
    """Keep every file the run makes inside the checkout, and let the
    Python workers import the package from the checkout root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the launcher JVM of spark-submit, too, keeps its files here
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(event_dir: str | None = None):
    """``session.get_spark`` on local[nproc]; returns (spark, seconds)."""
    from transcriptpipe.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench", cpus=nproc(), extra_conf=conf)
    dt = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def stop_session(spark) -> None:
    """Stop the session, then the driver JVM (it exits when its stdin
    closes), and wait until the JVM and every process under it have ended."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = MemPeak(proc.pid).tree()
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while (any(os.path.exists(f"/proc/{p}") for p in tree)
           and time.monotonic() < deadline):
        time.sleep(0.05)


class MemPeak:
    """Samples the memory of the driver JVM and all its descendants (the
    Python daemons and workers) every 100 ms and keeps the peak. Memory is
    the proportional set size, so pages a forked worker shares with its
    daemon are counted once."""

    def __init__(self, pid: int):
        self.pid, self.peak = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += children.get(p, [])
        return out

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        return sum(self._pss(p) for p in self.tree())

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.peak = max(self.peak, self.sample())

    def __enter__(self):
        self.peak = self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.sample())


class Bench:
    """One workload in one process: the jobs and the correctness gate."""

    def __init__(self, workload: str, seed: int, convs: int | None = None):
        from corpus import Corpus

        self.workload, self.seed = workload, seed
        self.corpus = Corpus(WORK, "batch", convs or BATCH_CONVS, seed)
        # the traced arrow run also drains a stream (see layers.py)
        self.stream_corpus = Corpus(
            WORK, "stream", max(1, (convs or BATCH_CONVS) // 2), seed,
            STREAM_FILES) if workload == "batch_arrow" else None
        self.run_dir = os.path.join(WORK, "runs", str(os.getpid()))
        self.spark = None
        self.n_jobs = 0
        self.failed_jobs = 0
        self.failures: list[str] = []
        self.steal: list[float] = []

    # -------------------------------------------------------------- jobs --
    def conf(self):
        from corpus import DOC_BATCH
        from transcriptpipe.pipeline import PipeConf

        if self.workload == "batch_sql":
            return PipeConf(engine="sql", doc_batch=DOC_BATCH)
        return PipeConf()

    def new_job(self):
        """A fresh job directory. Batch jobs read the corpus through their
        own hard link, so no job can reuse a frame cached by an earlier
        one (run() persists the sql engine's rendered frame)."""
        self.n_jobs += 1
        jd = os.path.join(self.run_dir, f"job{self.n_jobs}")
        os.makedirs(jd)
        if self.spark is None:
            return jd, None
        inp = os.path.join(jd, "input.parquet")
        os.link(self.corpus.paths[0], inp)
        return jd, self.spark.read.parquet(inp)

    def timed(self, fn) -> float:
        s0, t0 = cpu_times(), time.monotonic()
        fn()
        dt = time.monotonic() - t0
        self.steal.append(steal_share(s0, cpu_times()))
        return dt

    def attempt(self, fn) -> bool:
        """Run ``fn(job_dir, input_frame)`` as one job, which returns its
        gate failures; an exception is a failure too. The job directory is
        deleted afterwards. Returns whether the job passed."""
        jd, tdf = self.new_job()
        try:
            bad = fn(jd, tdf)
        except Exception as e:  # a failed job is counted, not fatal
            bad = [f"job{self.n_jobs}: {type(e).__name__}: {e}"[:500]]
        finally:
            shutil.rmtree(jd, ignore_errors=True)
        self.failures += bad
        self.failed_jobs += bool(bad)
        return not bad

    def job(self, check=None) -> float | None:
        """One untraced ``pipeline.run()`` plus its gate; its time, or None
        if it failed. ``check`` sees the job directory before deletion."""
        from transcriptpipe import pipeline
        from transcriptpipe.sinks import SinkCatalog

        dt = 0.0

        def one(jd, tdf):
            nonlocal dt
            cat = SinkCatalog(os.path.join(jd, "warehouse"))
            dt = self.timed(lambda: pipeline.run(
                self.spark, tdf, cat, f"job{self.n_jobs}", self.conf()))
            if check:
                check(jd)
            return self.gate_batch(cat)

        return dt if self.attempt(one) else None

    # -------------------------------------------------------------- gate --
    def gate_batch(self, cat) -> list[str]:
        """Row counts against the oracle, the _metrics table against the
        manifests, and doc/xml/error digests against the reference (see
        corpus.py). Both engines are held to the same digests."""
        import pyarrow.parquet as pq
        from corpus import DOC_COLS, ERROR_COLS, rows_digest

        ref, bad = self.corpus.ref, []
        expect = {s: ref["counts"][s]
                  for s in ("json_doc", "xml_doc", "error", "raw")}
        if self.workload == "batch_sql":
            expect["json_log"] = expect["xml_log"] = ref["log_docs"]
        got = {s: cat.total_rows(s) for s in expect}
        if got != expect:
            bad.append(f"row counts {got} != oracle {expect}")
        metrics = pq.read_table(self._files(cat, "_metrics")).to_pylist()
        from_metrics = {m["sink"]: m["n_rows"] for m in metrics}
        if from_metrics != got:
            bad.append(f"_metrics rows {from_metrics} != manifests {got}")
        for sink, cols in (("json_doc", DOC_COLS), ("xml_doc", DOC_COLS),
                           ("error", ERROR_COLS)):
            tbl = pq.read_table(self._files(cat, sink), columns=list(cols))
            got_digest = rows_digest(zip(*(tbl.column(c).to_pylist()
                                           for c in cols)))
            if got_digest != ref[sink]:
                bad.append(f"{sink} digest differs from the reference")
        return bad

    def drain(self, jd: str) -> None:
        """One ``streaming.run_stream_once`` over the stream corpus into a
        fresh output and checkpoint directory."""
        from transcriptpipe import streaming

        streaming.run_stream_once(
            self.spark, self.stream_corpus.input_dir,
            os.path.join(jd, "out"), os.path.join(jd, "checkpoint"))

    def gate_stream(self, jd: str) -> list[str]:
        import glob

        import pyarrow.parquet as pq
        from corpus import rows_digest

        files = sorted(glob.glob(os.path.join(jd, "out", "part-*.parquet")))
        tbl = pq.read_table(files, columns=["conv_id", "doc", "complete"])
        ref, bad = self.stream_corpus.ref, []
        if tbl.num_rows != ref["counts"]["json_doc"]:
            bad.append(f"stream docs {tbl.num_rows} != oracle "
                       f"{ref['counts']['json_doc']}")
        if not all(tbl.column("complete").to_pylist()):
            bad.append("stream emitted an incomplete conversation")
        got = rows_digest(zip(tbl.column("conv_id").to_pylist(),
                              tbl.column("doc").to_pylist()))
        if got != ref["json_doc_untrimmed"]:
            bad.append("stream doc digest differs from the oracle")
        return bad

    @staticmethod
    def _files(cat, table: str) -> list[str]:
        return [os.path.join(cat.root, table, f)
                for s in cat.manifest(table)["snapshots"] for f in s["files"]]

    # -------------------------------------------------------- reporting --
    def host(self) -> dict:
        import platform

        import pyspark

        # no perf data file: it would go to /tmp, outside the checkout
        java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                              capture_output=True, text=True
                              ).stderr.splitlines()
        return {
            "nproc": nproc(),
            "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_mem": DRIVER_MEM,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java[0] if java else "",
            "seed": self.seed,
            "corpus": {k: self.corpus.ref[k] for k in ("turns", "convs",
                                                       "bytes", "kernel_docs")},
            "steal_per_job": [round(s, 4) for s in self.steal],
        }


def register_input(spark, path: str) -> None:
    spark.read.parquet(path).createOrReplaceTempView("transcripts")


def percentile_report(xs: list[float]) -> str:
    """Median, sample count, and the highest of p99/p90 that has at least
    ten samples beyond it; with fewer samples, the max, said as such."""
    import statistics

    if not xs:
        return "no samples"
    s = sorted(xs)
    out = f"median {statistics.median(s):.4f}, n={len(s)}, "
    for p in (99, 90):
        if len(s) * (100 - p) / 100 >= 10:
            return out + f"p{p} {s[int(len(s) * p / 100)]:.4f}"
    return out + f"max {s[-1]:.4f} (too few samples for a percentile)"


def run_untraced(b: Bench, seconds: float, excluded_s: float) -> dict:
    """Session set-up, one cold job, then warm jobs until ``seconds`` have
    passed and ``MIN_WARM`` of them succeeded undisturbed, or one more than
    that succeeded; a failed job after ``seconds`` ends the loop. The
    median is over every warm job. The cold job is reported but is not a
    declared metric: one sample per process swings with the host by more
    than any bound (its per-layer twin is ``pipeline.cold_run_s``)."""
    import statistics

    b.spark, _ = start_session()
    register_input(b.spark, b.corpus.input_path)
    setup_s = process_age_s() - excluded_s
    jvm_pid = b.spark.sparkContext._gateway.proc.pid
    with MemPeak(jvm_pid) as mem:
        cold = b.job()
        warm: list[float] = []
        calm = 0
        t0 = time.monotonic()
        while True:
            dt = b.job()
            if dt is not None:
                warm.append(dt)
                calm += b.steal[-1] <= STEAL_LIMIT
            if time.monotonic() - t0 < seconds:
                continue
            if dt is None or calm >= MIN_WARM or len(warm) > MIN_WARM:
                break
    run_s = statistics.median(warm) if warm else 0.0
    turns = b.corpus.ref["turns"]
    values = {
        "turns_per_s": turns / run_s if run_s else 0.0,
        "run_s": run_s,
        "setup_s": setup_s,
        "peak_mem_mb": mem.peak / 2**20,
    }
    print(f"run_s: {percentile_report(warm)}, "
          f"{len(warm) - calm} with steal > {STEAL_LIMIT}")
    print(f"cold_run_s: n=1, {cold}")
    print(f"setup_s: n=1, {setup_s}")
    print(f"peak_mem_mb: n=1 (peak over {b.n_jobs} jobs)")
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--convs", type=int, default=None,
                    help="corpus size override (smoke test)")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="flip the reference digests (gate self-test)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "transcriptpipe")):
        print(f"perfbench: no transcriptpipe package under {ROOT}",
              file=sys.stderr)
        return 2
    if not args.workload:
        ap.error("--workload is required")
    prepare_env()
    import transcriptpipe.pipeline  # noqa: F401  (part of set-up)

    # the corpus and its reference are not part of set-up time
    t_excluded = time.monotonic()
    b = Bench(args.workload, args.seed, args.convs)
    b.corpus.prepare()
    if args.trace and b.stream_corpus:
        b.stream_corpus.prepare()
    if args.corrupt_reference:
        for k in ("json_doc", "xml_doc", "error"):
            b.corpus.ref[k] = "0" * 64
    os.makedirs(b.run_dir, exist_ok=True)
    try:
        if args.trace:
            import layers

            values, units = layers.run_traced(b)
        else:
            values = run_untraced(b, args.seconds,
                                  time.monotonic() - t_excluded)
            units = END_TO_END
    finally:
        if b.spark is not None:
            stop_session(b.spark)
        shutil.rmtree(b.run_dir, ignore_errors=True)
    print("host: " + json.dumps(b.host()))
    for f in b.failures:
        print(f"FAILED: {f}")
    result = {
        "correct": not b.failures,
        "attempted": b.n_jobs,
        "failed": b.failed_jobs,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result))
    return 1 if b.failures else 0


if __name__ == "__main__":
    sys.exit(main())
