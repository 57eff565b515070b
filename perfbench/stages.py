"""The workloads, driven through the engine's public entry points.

Each workload is a closed loop from this single driver process: the
next job (or drain) starts when the previous one has finished. Spark
runs at local[cpus]. A batch workload times two jobs in ABBA order: the
whole corpus in `cpus` partitions, and its first partition's share alone
in one partition, which runs as one task just as it would under
local[1]; their ratio is the weak-scaling efficiency. Batch outputs are
checked from the untimed check job in setup, ingest outputs from the
sink after the window; neither check is timed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_core_spark.pipeline import (
    doctags_roundtrip, process_doc, roundtrip_doc, run_pipeline,
)
from docling_core_spark.streaming.stream import stream_pipeline

from . import checks, inputs, tracing

FULL_GROUP = "perfbench-full"
CORPUS_BUILDS = 3
REFERENCE_SAMPLE = 8


def start_spark(work: str, cpus: int, ui: bool) -> SparkSession:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine and perfbench from the repo root
    # and keep their temp files inside the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (inputs.REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # spark-submit starts a launcher JVM before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        # a fully committed, pre-touched heap keeps the JVM's share of
        # peak_rss_mb constant, so the metric follows the Python workers
        # and off-heap Arrow buffers instead of GC timing
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g "
                "-XX:+AlwaysPreTouch")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: SparkSession, timeout_s: float = 60.0) -> List[int]:
    """Stop Spark and its JVM; return pids still alive afterwards."""
    from pyspark import SparkContext

    from .host import descendants, wait_gone

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = wait_gone(started, timeout_s)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    return wait_gone(left, 5.0)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _seq_tuples(seq) -> Optional[list]:
    # Arrow hands array<struct> back as a numpy array of dicts (or None)
    if seq is None:
        return None
    return [(int(s["order"]), s["kind"], s["text"], s["media_ref"])
            for s in seq]


def collect_records(out: DataFrame, stage: str, seq_ids) -> List[dict]:
    """Stage output reduced to check records (md5s computed in Spark)."""
    if stage == "roundtrip":
        pdf = out.select("doc_id", "reload_md5", "stable").toPandas()
        return [
            {"doc_id": d, "reload_md5": m, "stable": bool(s)}
            for d, m, s in zip(pdf["doc_id"], pdf["reload_md5"],
                               pdf["stable"])
        ]

    def h(c):
        return F.md5(F.encode(c, "UTF-8"))

    pdf = out.select(
        "doc_id",
        h("markdown").alias("markdown_md5"),
        h("doctags").alias("doctags_md5"),
        h("html").alias("html_full_md5"),
        h("etree").alias("etree_md5"),
        F.col("n_items"),
        F.when(F.col("doc_id").isin(list(seq_ids)), F.col("span_seq"))
        .alias("span_seq"),
    ).toPandas()
    recs = pdf.to_dict("records")
    for r in recs:
        r["n_items"] = int(r["n_items"])
        r["span_seq"] = _seq_tuples(r["span_seq"])
    return recs


def reference_records(stage: str, specs) -> Dict[str, dict]:
    """Single-process outputs of the same stage function for `specs`."""
    out = {}
    for r in inputs.rows(specs):
        doc_id, spans = r["doc_id"], r["spans"]
        if stage == "roundtrip":
            out[doc_id] = checks.roundtrip_record(roundtrip_doc(doc_id, spans))
        else:
            out[doc_id] = checks.pipeline_record(process_doc(doc_id, spans))
    return out


def check_stage(stage: str, records, expected_ids, golden, reference):
    fields = (checks.ROUNDTRIP_FIELDS if stage == "roundtrip"
              else checks.PIPELINE_FIELDS)
    return checks.check_records(records, expected_ids, fields, golden,
                                reference)


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def tail(samples: List[float]) -> Dict[str, float]:
    """Highest percentile with at least ten samples beyond it.

    That percentile reaches p90 only from 100 samples on. With fewer, a
    run reports its maximum, labelled as the 100th percentile, so the
    tail never drops toward the median as the sample count varies.
    """
    xs = sorted(samples)
    n = len(xs)
    if n >= 100:
        return {"value": xs[n - 11], "percentile": 100.0 * (n - 10) / n,
                "n": n}
    return {"value": xs[-1], "percentile": 100.0, "n": n}


def _import_engine(batches):
    import docling_core_spark.pipeline  # noqa: F401

    yield from batches


def spawn_workers(spark: SparkSession, cpus: int) -> None:
    """Start one Python worker per core with the engine imported."""
    spark.range(cpus, numPartitions=cpus).mapInPandas(
        _import_engine, "id long").count()


def _rounds(seconds: float, min_rounds: int = 1):
    """Round numbers for a window of `seconds`: a round starts only if the
    previous round's duration still fits; the first min_rounds always run."""
    end = time.monotonic() + seconds
    k, last = 0, 0.0
    while k < min_rounds or time.monotonic() + last <= end:
        t0 = time.monotonic()
        yield k
        last = time.monotonic() - t0
        k += 1


class Workload:
    """Common run protocol: setup, timed window, check, optional trace."""

    stage = "pipeline"

    def __init__(self, spark: SparkSession, seed: int, cpus: int,
                 work: str, traced: bool) -> None:
        self.spark, self.seed, self.cpus = spark, seed, cpus
        self.work, self.traced = work, traced
        self.canaries = [(d, 0) for d in inputs.canary_ids()]
        self.golden = checks.load_goldens(inputs.GOLDENS, self.stage)
        self.report = checks.Report()
        self.attempted = 0
        self.failed_timed = 0
        self.build_s: List[float] = []
        self.full_s: List[float] = []
        self.quarter_s: List[float] = []

    def sizes(self) -> Dict[str, int]:
        raise NotImplementedError


class Batch(Workload):
    """extract, extract_long and roundtrip: one mapInPandas stage."""

    def __init__(self, name: str, *a, **kw) -> None:
        self.stage = "roundtrip" if name == "roundtrip" else "pipeline"
        super().__init__(*a, **kw)
        make = inputs.long_specs if name == "extract_long" \
            else inputs.extract_specs
        self.specs = make(self.seed, self.cpus)
        self.q_specs = inputs.quarter(self.specs, self.cpus)
        # long documents are slow single-process: check the smallest one
        self.sample = ([min(self.q_specs, key=lambda s: s[1])]
                       if name == "extract_long"
                       else self.specs[:REFERENCE_SAMPLE])

    def run_stage(self, df: DataFrame) -> DataFrame:
        return doctags_roundtrip(df) if self.stage == "roundtrip" \
            else run_pipeline(df)

    def sizes(self) -> Dict[str, int]:
        return {"docs": len(self.specs), "quarter_docs": len(self.q_specs),
                "canaries": len(self.canaries),
                "spans": sum(len(inputs.doc_spans(d, k))
                             for d, k in self.specs)}

    def setup(self) -> None:
        """Warm the workers, build the corpus CORPUS_BUILDS times (the
        last build is kept) and run the check job, which doubles as the
        untimed first full round."""
        spawn_workers(self.spark, self.cpus)
        for k in range(CORPUS_BUILDS):
            if k:
                for df in (self.full, self.quarter, canaries):
                    df.unpersist(blocking=True)
            t0 = time.perf_counter()
            self.full = inputs.spark_docs(self.spark, self.specs,
                                          self.cpus).cache()
            self.quarter = inputs.spark_docs(self.spark, self.q_specs,
                                             1).cache()
            # cached too, so the check job runs no generator: a chained
            # generator stage would grow the Python worker pool with
            # workers the timed jobs later meet cold
            canaries = inputs.spark_docs(self.spark, self.canaries,
                                         self.cpus).cache()
            for df in (self.full, self.quarter, canaries):
                df.count()
            self.build_s.append(time.perf_counter() - t0)
        seq_ids = [d for d, _ in self.canaries + self.sample]
        try:
            self.records = collect_records(
                self.run_stage(self.full.unionByName(canaries)), self.stage,
                seq_ids)
        except Exception:
            _log_failure("check job")
            self.records = []
        canaries.unpersist()

    def _job(self, df: DataFrame, docs: int) -> Optional[float]:
        sc = self.spark.sparkContext
        sc.setJobGroup(FULL_GROUP if df is self.full else "perfbench-other",
                       "perfbench")
        t0 = time.perf_counter()
        try:
            _noop(self.run_stage(df))
        except Exception:  # a failed job is a measured failure
            _log_failure("timed job")
            self.failed_timed += docs
            return None
        finally:
            self.attempted += docs
        return time.perf_counter() - t0

    def window(self, seconds: float) -> None:
        for i in _rounds(seconds):
            # ABBA order: each side runs first in every other round
            if i % 2 == 0:
                full = self._job(self.full, len(self.specs))
                quarter = self._job(self.quarter, len(self.q_specs))
            else:
                quarter = self._job(self.quarter, len(self.q_specs))
                full = self._job(self.full, len(self.specs))
            if full is not None and quarter is not None:
                self.full_s.append(full)
                self.quarter_s.append(quarter)

    def check(self) -> None:
        ids = [d for d, _ in self.specs + self.canaries]
        ref = reference_records(self.stage, self.sample)
        self.report.merge(check_stage(self.stage, self.records, ids,
                                      self.golden, ref))
        self.attempted += len(ids)

    def unit_docs(self) -> int:
        return len(self.specs)

    def trace(self, tracer: tracing.Tracer, ui_url: str) -> dict:
        docs = [(r["doc_id"], r["spans"]) for r in inputs.rows(self.q_specs)]
        table = tracing.layer_table(self.stage, docs, tracer)
        py_s = table["stage_fn_us_per_doc"] * len(docs) / 1e6
        jobs = tracing.StageMetrics(ui_url).job_metrics(FULL_GROUP)
        table["stage"] = tracing.summarize_jobs(jobs, py_s)
        table["stream"] = {}
        return table


class Ingest(Workload):
    """Small parquet drops drained one at a time by stream_pipeline."""

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        for d in ("in", "out", "ck", "stage"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        self.dropped: List[str] = []
        self.staged: Dict[int, list] = {}
        self.drains: List[dict] = []
        self.failed_ids: set = set()
        self.sample = inputs.drop_specs(self.seed, 0, inputs.DROP_FILES)[0][
            :REFERENCE_SAMPLE]

    def sizes(self) -> Dict[str, int]:
        return {"docs_per_drop": inputs.DROP_FILES * inputs.DROP_DOCS_PER_FILE,
                "quarter_docs": inputs.DROP_DOCS_PER_FILE,
                "canaries": len(self.canaries)}

    @staticmethod
    def files_for(k: int) -> int:
        """Every third drop is a quarter drop: one file instead of four."""
        return 1 if k % 3 == 2 else inputs.DROP_FILES

    def _stage_drop(self, k: int, files: List[list]) -> None:
        paths = []
        for f, specs in enumerate(files):
            p = os.path.join(self.work, "stage", f"drop{k:05d}-{f}.parquet")
            inputs.write_parquet(specs, p)
            paths.append(p)
        self.staged[k] = [(p, [d for d, _ in specs])
                          for p, specs in zip(paths, files)]

    def _drain(self, k: int) -> Optional[float]:
        """Land staged drop k and drain it; None if the drain failed."""
        files = self.staged.pop(k)
        ids = [d for _, ds in files for d in ds]
        t0 = time.perf_counter()
        for p, _ in files:
            os.rename(p, os.path.join(self.work, "in", os.path.basename(p)))
        self.dropped += ids
        self.attempted += len(ids)
        w = self.work
        try:
            q = stream_pipeline(self.spark, f"{w}/in", f"{w}/out", f"{w}/ck")
            t_start = time.perf_counter()
            q.awaitTermination()
            exc = q.exception()
        except Exception:
            _log_failure(f"drain {k}")
            exc = True
        dt = time.perf_counter() - t0
        if exc:
            if exc is not True:
                print(f"perfbench: drain {k} failed: {exc}", file=sys.stderr)
            self.failed_ids.update(ids)
            return None
        if self.traced and len(files) == inputs.DROP_FILES and k >= 0:
            self.drains.append({
                "group": str(q.runId),
                **tracing.drain_metrics(q.recentProgress, t_start - t0, dt),
            })
        return dt

    def setup(self) -> None:
        """Drain the canaries as the first drop (the workers spawn here),
        then stage the first drops ahead; each staging is a build."""
        self._stage_drop(-1, inputs.split_files(self.canaries,
                                                inputs.DROP_FILES))
        self._drain(-1)
        for k in range(CORPUS_BUILDS):
            t0 = time.perf_counter()
            self._stage_drop(k, inputs.drop_specs(self.seed, k,
                                                  self.files_for(k)))
            self.build_s.append(time.perf_counter() - t0)

    def window(self, seconds: float) -> None:
        for k in _rounds(seconds, min_rounds=3):
            files = self.files_for(k)
            if k not in self.staged:
                self._stage_drop(k, inputs.drop_specs(self.seed, k, files))
            dt = self._drain(k)
            if dt is not None:
                (self.full_s if files == inputs.DROP_FILES
                 else self.quarter_s).append(dt)

    def check(self) -> None:
        seq_ids = [d for d, _ in self.canaries + self.sample]
        try:
            out = self.spark.read.parquet(os.path.join(self.work, "out"))
            recs = collect_records(out, "pipeline", seq_ids)
        except Exception:
            _log_failure("reading the stream output")
            recs = []
        ref = reference_records("pipeline", self.sample)
        rep = check_stage("pipeline", recs, self.dropped, self.golden, ref)
        for d in self.failed_ids:
            rep.fail(d, "drain failed")
        self.report.merge(rep)

    def unit_docs(self) -> int:
        return inputs.DROP_FILES * inputs.DROP_DOCS_PER_FILE

    def trace(self, tracer: tracing.Tracer, ui_url: str) -> dict:
        specs = inputs.drop_specs(self.seed, 0, 1)[0]
        docs = [(r["doc_id"], r["spans"]) for r in inputs.rows(specs)]
        table = tracing.layer_table("pipeline", docs, tracer)
        py_s = table["stage_fn_us_per_doc"] * len(docs) / 1e6
        sm = tracing.StageMetrics(ui_url)
        jobs = [j for d in self.drains for j in sm.job_metrics(d["group"])]
        table["stage"] = tracing.summarize_jobs(jobs, py_s)
        table["stream"] = {
            k: statistics.median(d[k] for d in self.drains)
            for k in self.drains[0] if k != "group"
        }
        return table


def make(name: str, spark, seed: int, cpus: int, work: str,
         traced: bool) -> Workload:
    if name == "ingest":
        return Ingest(spark, seed, cpus, work, traced)
    return Batch(name, spark, seed, cpus, work, traced)


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
