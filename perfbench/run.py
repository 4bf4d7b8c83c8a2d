"""Benchmark ``run_pipeline`` end to end (--trace 0) or layer by layer (--trace 1).

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 5 --trace 0

Runs from the repository root.  One driver process, ``local[nproc]``, a
closed loop with one client: one ``run_pipeline`` call at a time.  The last
line of stdout is one JSON object ``{correct, attempted, failed, metrics}``.
See README.md for the workloads, the metrics and what each should move.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work", "run")

#: metric names and units; they match BENCHMARK.json
END_TO_END = {
    "run_s": "s",
    "cold_run_s": "s",
    "setup_s": "s",
    "triples_per_s": "1/s",
    "spark_jobs": "count",
    "peak_rss_mb": "MB",
}
LAYER_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "executor_s": "s",
    "input_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
}
EXTRA_LAYER_METRICS = {
    "extraction.python_s": "s",
    "extraction.arrow_in_mb": "MB",
    "extraction.arrow_out_mb": "MB",
    "extraction.mentions_per_turn": "ratio",
    "canonical.merged_entities": "count",
    "triples.dedup_raw": "count",
    "triples.dedup_kept": "count",
    "triples.dedup_keep_ratio": "ratio",
    "triples.shuffle_bytes_per_triple": "B",
    "pipeline.corpus_scans": "count",
    "trace.overhead_s": "s",
    "trace.jobs_untraced": "count",
    "trace.jobs_layers": "count",
}
TRACE_PREFIX = "trace:"
N_BUCKETS = 8


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_fit() -> tuple[int, str]:
    """local[nproc] and a driver heap of an eighth of host RAM, 1-4 GiB
    (the package default of 16g exceeds small hosts)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mem_mb = min(4096, max(1024, total_kb // 8192))
    return cores, f"{mem_mb}m"


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    driver JVM and its Python workers), sampled from /proc every 250 ms.
    Each process counts its proportional set size, so pages that forked
    Python workers share with their daemon count once."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _sample() -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
                kids.setdefault(ppid, []).append(int(d))
        todo, total_kb = list(kids.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total_kb

    def _loop(self):
        while not self._stop.wait(0.25):
            self.peak_kb = max(self.peak_kb, self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Bench:
    """One benchmark process: a session, its inputs and the gated runs."""

    def __init__(self, cores: int):
        self.cores = cores
        self.inputs = os.path.join(WORK, "inputs")
        self.eventlog_dir = os.path.join(WORK, "eventlog")
        self.expected = None  # digest of the correct triples table
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def start_session(self, eventlog: bool) -> None:
        from kartograph_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if eventlog:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    # whole scan locations in plan strings (corpus-scan match)
                    "spark.sql.maxMetadataStringLength": "100000",
                }
            )
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def open_inputs(self) -> None:
        read = self.spark.read.parquet
        self.transcripts = read(os.path.join(self.inputs, "transcripts.parquet"))
        self.alias = read(os.path.join(self.inputs, "alias_dictionary.parquet"))

    def stop_session(self) -> None:
        """Stop the SparkSession and wait until its JVM has exited."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def run(self, out: str, group: str, tracer=None) -> tuple[float, int]:
        """One timed run_pipeline call, gated after the clock stops.
        Returns (seconds, Spark jobs in the call's job group)."""
        from kartograph_spark.config import PipelineConfig
        from kartograph_spark.pipeline import run_pipeline

        from perfbench import gate, tracing

        sc = self.spark.sparkContext
        args = (self.spark, self.transcripts, self.alias, out, PipelineConfig(n_buckets=N_BUCKETS))
        self.attempted += 1
        ok = True
        sc.setJobGroup(group, group)
        t = time.perf_counter()
        try:
            if tracer is None:
                run_pipeline(*args)
            else:
                tracing.traced_run(tracer, *args)
        except Exception:
            traceback.print_exc()
            ok = False
        secs = time.perf_counter() - t
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        if ok and not gate.check(out, self.expected):
            log(f"{group}: triples digest differs from the expected digest")
            ok = False
        self.failed += not ok
        return secs, jobs


def parquet_rows(table_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    )


def dedup_counts(b: Bench, out: str) -> tuple[int, int]:
    """Rows into and out of the first-occurrence dedup, recomputed from the
    stored canonical mentions with the pipeline's own triples functions
    (job group ``aux``, outside every layer)."""
    from kartograph_spark import triples as tr

    sc = b.spark.sparkContext
    sc.setJobGroup("aux", "aux")
    canonical = b.spark.read.parquet(os.path.join(out, "canonical_mentions"))
    raw = tr.mention_triples(canonical).unionByName(tr.conversation_triples(b.transcripts))
    n_raw, n_kept = raw.count(), tr.dedup_first_occurrence(raw).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return n_raw, n_kept


def layer_metrics(b: Bench, tracer, out: str, turns: int, triples: int) -> dict[str, float]:
    """Per-layer metrics of the traced run; stops the session to close the
    event log before folding it."""
    from perfbench import eventlog
    from perfbench.tracing import LAYERS

    n_raw, n_kept = dedup_counts(b, out)
    app_id = b.spark.sparkContext.applicationId
    b.stop_session()
    (log_path,) = glob.glob(os.path.join(b.eventlog_dir, app_id + "*"))
    corpus = os.path.join(b.inputs, "transcripts.parquet")
    layers = eventlog.fold_file(log_path, TRACE_PREFIX, corpus, LAYERS)
    wall = tracer.self_seconds()
    m: dict[str, float] = {}
    for L, v in layers.items():
        m[f"{L}.wall_s"] = wall[L]
        m.update({f"{L}.{k}": v[k] for k in LAYER_METRICS if k != "wall_s"})
    ex = layers["extraction"]
    m.update(
        {
            "extraction.python_s": ex["python_s"],
            "extraction.arrow_in_mb": ex["arrow_in_mb"],
            "extraction.arrow_out_mb": ex["arrow_out_mb"],
            "extraction.mentions_per_turn": parquet_rows(os.path.join(out, "mentions")) / turns,
            "canonical.merged_entities": parquet_rows(os.path.join(out, "canonical_map")),
            "triples.dedup_raw": n_raw,
            "triples.dedup_kept": n_kept,
            "triples.dedup_keep_ratio": n_kept / n_raw,
            "triples.shuffle_bytes_per_triple": (
                layers["triples"]["shuffle_write_mb"] * eventlog.MB / triples
            ),
            "pipeline.corpus_scans": sum(v["corpus_scans"] for v in layers.values()),
            "trace.jobs_layers": sum(v["jobs"] for v in layers.values()),
        }
    )
    return m


def main() -> int:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores, driver_mem = host_fit()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": driver_mem,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
            "TMPDIR": tmp,
            # every JVM, the spark-submit launcher too: no /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # Python workers import the package from the repository root
            "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        }
    )
    b = Bench(cores)
    try:
        return measure(b, args)
    finally:
        if b.spark is not None:
            b.stop_session()
        shutil.rmtree(WORK, ignore_errors=True)


def measure(b: Bench, args) -> int:
    from perfbench import gate, tracing, workloads

    trace, noop = bool(args.trace), args.workload == "noop_resume"

    # set-up: process start -> ready session with the inputs opened; the
    # input generation (a benchmark artefact) is left out of it
    b.start_session(eventlog=trace)
    ready = time.time()
    stats = workloads.write_inputs(args.workload, args.seed, b.inputs)
    generated = time.time()
    b.open_inputs()
    setup_s = ready - T0 + time.time() - generated
    b.expected = gate.expected_digest(workloads.corpus_key(args.workload, args.seed), b.inputs)
    log(
        f"{args.workload} seed={args.seed}: {stats['turns']} turns, {stats['aliases']} "
        f"aliases, local[{b.cores}], driver memory {os.environ['SPARK_DRIVER_MEM']}"
    )

    def out_dir(i: int) -> str:
        return os.path.join(WORK, "out-build" if noop else f"out-{i}")

    if noop:
        # set-up, not measured: a full build completes the out dir that
        # every measured call then resumes
        from kartograph_spark.config import PipelineConfig
        from kartograph_spark.pipeline import run_pipeline

        b.spark.sparkContext.setJobGroup("prep", "prep")
        run_pipeline(b.spark, b.transcripts, b.alias, out_dir(0), PipelineConfig(n_buckets=N_BUCKETS))
        b.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    warm: list[tuple[float, int]] = []
    with RssSampler() as rss:
        cold_s, _ = b.run(out_dir(0), "run:0")
        if trace:
            tracer = tracing.Tracer(b.spark.sparkContext, TRACE_PREFIX)
            traced_s, _ = b.run(out_dir(1), "traced", tracer)
            warm.append(b.run(out_dir(2), "run:2"))
        else:
            start = time.perf_counter()
            while not warm or time.perf_counter() - start < args.seconds:
                warm.append(b.run(out_dir(len(warm) + 1), f"run:{len(warm) + 1}"))
    run_s = statistics.median(s for s, _ in warm)
    jobs = statistics.median(j for _, j in warm)
    last_out = out_dir(len(warm) if not trace else 1)
    triples = parquet_rows(os.path.join(last_out, "triples"))
    log(
        f"cold {cold_s:.2f} s; warm {[round(s, 2) for s, _ in warm]} s (n={len(warm)}); "
        f"jobs {[j for _, j in warm]}; setup {setup_s:.2f} s; "
        f"{triples} triples; fail_ratio {b.failed}/{b.attempted}"
    )

    if trace:
        metrics = layer_metrics(b, tracer, last_out, stats["turns"], triples)
        metrics["trace.overhead_s"] = traced_s - run_s
        metrics["trace.jobs_untraced"] = jobs
        units = {f"{L}.{k}": u for L in tracing.LAYERS for k, u in LAYER_METRICS.items()}
        units.update(EXTRA_LAYER_METRICS)
    else:
        b.stop_session()
        metrics = {
            "run_s": run_s,
            "cold_run_s": cold_s,
            "setup_s": setup_s,
            "triples_per_s": triples / run_s,
            "spark_jobs": jobs,
            "peak_rss_mb": rss.peak_kb / 1024,
        }
        units = END_TO_END
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package, not its modules
    # from the script directory
    sys.path[0] = ROOT
    try:
        import pyspark  # noqa: F401

        import kartograph_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
