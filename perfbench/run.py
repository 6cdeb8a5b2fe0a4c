#!/usr/bin/env python3
"""Extraction benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload bench_small --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  It imports ``exstruct_spark`` from the
checkout it sits in -- in this process, in its spawned helpers and in the
Spark Python workers -- and exits with an error when that checkout has no
``exstruct_spark``.  Everything it writes stays inside the checkout:
``.perfbench_cache`` (corpora and reference digests, keyed by fingerprint),
``.perfbench_work`` (Spark scratch, removed at exit) and ``.perfbench_out``
(span dumps and the last traced run's layer table).

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs the same workload with spans and a Spark event log and prints the
per-layer metrics.  Both check the output against the reference extractor.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bench_small", "large_pages", "job_waves")
ARROW_BATCH = 4096
# warm-up input: the first rows of the corpus
WARMUP_DOCS = {"bench_small": 256, "large_pages": 8, "job_waves": 256}
# single-thread kernel sample for the traced run, in documents (at most
# ARROW_BATCH: the sample also stands for one Arrow batch)
KERNEL_SAMPLE = {"bench_small": 4096, "large_pages": 16, "job_waves": 4096}
# part files of the corpus (of corpus.N_FILES) the traced scaling pair runs on
SCALING_FILES = 4
JOB_BUCKETS = 64
JOB_WAVE_SIZE = 16
MIN_PASSES = 3
NOOP_RERUNS = 3
KERNEL_CHUNKS = 16


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _info(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _worker_module_file(_):
    import exstruct_spark

    return os.path.realpath(exstruct_spark.__file__)


class Run:
    """One benchmark run: its directories, corpus, Spark sessions and checks."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.cores = _cores()
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.checks: dict = {}
        self.failed_tasks = 0
        self.spark = None
        self.pass_cpu: list = []  # CPU shares during each timed pass
        self.setup_parts: list = []  # seconds of each part of each set-up

    # -- environment --------------------------------------------------------------
    def prepare_environment(self) -> None:
        for d in (self.cache, self.out_dir, self.eventlog,
                  os.path.join(self.work, "tmp"), os.path.join(self.work, "local")):
            os.makedirs(d, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.work, "local")
        # the JVM that spark-submit starts first to build the Spark driver command
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"
        os.chdir(self.work)  # stray relative writes (derby, metastore) land here
        import tempfile

        tempfile.tempdir = tmp

    def prepare_inputs(self) -> None:
        from perfbench import corpus

        t0 = time.perf_counter()
        self.corpus = corpus.ensure_corpus(
            self.cache, ROOT, self.workload, self.args.seed, self.cores
        )
        self.reference = corpus.reference_digest(
            self.cache, ROOT, self.corpus, self.cores
        )
        self.prepare_s = time.perf_counter() - t0
        from multiprocessing import resource_tracker

        stop = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop is not None:
            stop()

    # -- sessions -------------------------------------------------------------------
    def start_session(self, n_cores: int):
        from exstruct_spark.engine import default_session

        spark = default_session(
            app=f"perfbench-{self.workload}", master=f"local[{n_cores}]",
            shuffle_partitions=n_cores, arrow_batch=ARROW_BATCH,
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setJobGroup("perfbench", "perfbench")
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        self.failed_tasks += self._failed_tasks()
        self.spark.stop()
        self.spark = None

    def _failed_tasks(self) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        n = 0
        for job in tracker.getJobIdsForGroup("perfbench"):
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    n += stage.numFailedTasks
        return n

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait until no child process is left."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        from perfbench.host import descendants

        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)

    def read_corpus(self, spark, files=None):
        return spark.read.parquet(*(files or [self.corpus.path]))

    def setup(self, n_cores: int):
        """Session start, corpus cache check and warm-up; returns the
        session, the corpus frame and the seconds it took."""
        from perfbench import corpus

        t0 = time.perf_counter()
        spark = self.start_session(n_cores)
        t1 = time.perf_counter()
        if corpus.check_cached(self.cache, self.corpus.meta["fingerprint"]) is None:
            raise RuntimeError("cached corpus failed its check")
        df = self.read_corpus(spark)
        t2 = time.perf_counter()
        # warm-up: start the Python workers and warm the JVM on the first
        # rows of the corpus, through the plan the measurement runs
        self.plain_pass(df.limit(WARMUP_DOCS[self.workload]))
        t3 = time.perf_counter()
        self.setup_parts.append({"session_s": t1 - t0, "check_s": t2 - t1, "warmup_s": t3 - t2})
        return spark, df, t3 - t0

    def check_worker_imports(self, spark) -> None:
        want = os.path.realpath(os.path.join(ROOT, "exstruct_spark", "__init__.py"))
        n = self.cores
        seen = set(spark.sparkContext.parallelize(range(n), n)
                   .map(_worker_module_file).collect())
        self.checks["workers_import_checkout"] = seen == {want}
        if seen != {want}:
            _info(f"workers imported {sorted(seen)}, expected {want}")

    # -- passes -----------------------------------------------------------------------
    def stage(self, df):
        from exstruct_spark.engine import extract_stage

        return extract_stage(df, repartition_to=2 * self.cores)

    def plain_pass(self, df) -> float:
        """Wall seconds of one extraction pass into the noop sink."""
        t0 = time.perf_counter()
        self.stage(df).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def checked_pass(self, df) -> tuple:
        """Wall seconds of one extraction pass whose sink is the output
        check, and the count of missing plus duplicated urls it found."""
        t0 = time.perf_counter()
        row = checked_frame(self.stage(df)).collect()[0]
        return time.perf_counter() - t0, self.record_check(row, "stage_output")

    def timed_passes(self, df, seconds: float) -> tuple:
        """A checked settle pass, then at least MIN_PASSES passes and at
        least ``seconds`` into the noop sink.  The first full pass of a
        session runs 30-50% slower than the ones after it, so it is the one
        that carries the output check, and it is not timed."""
        from perfbench.host import cpu_shares, cpu_ticks

        _, bad = self.checked_pass(df)
        walls = []
        t0 = time.perf_counter()
        while len(walls) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            before = cpu_ticks()
            walls.append(self.plain_pass(df))
            self.pass_cpu.append(cpu_shares(before, cpu_ticks()))
        return walls, bad

    def _check(self, name: str, ok: bool) -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)

    def record_check(self, row, what: str) -> int:
        """Exactly-once and digest checks on one ``checked_frame`` row;
        returns the count of missing plus duplicated urls."""
        missing = self.corpus.n_docs - row["urls"]
        duplicated = row["rows"] - row["urls"]
        self.output_digest = row["digest"]
        self.fallback_docs = row["fallback"]
        self._check(f"{what}_exactly_once", missing == 0 and duplicated == 0)
        self._check(f"{what}_digest_matches_reference",
                    row["digest"] == self.reference["digest"])
        return max(missing, 0) + duplicated

    # -- production job ------------------------------------------------------------
    def job_dirs(self, i: int) -> dict:
        base = os.path.join(self.work, f"job{i}")
        return {k: os.path.join(base, k) for k in ("output", "lineage", "metrics", "staging")}

    def job_cycle(self, spark, df, i: int, noop_reruns: int) -> dict:
        """Half run (two waves), resume to completion, then ``noop_reruns``
        no-op re-runs against the completed snapshot (median kept), each
        timed."""
        from pyspark.sql import functions as F

        from exstruct_spark.engine import ExtractionJob

        # buckets holding at least one page (a small corpus leaves some empty)
        self.job_buckets = df.select(
            F.pmod(F.xxhash64("url"), F.lit(JOB_BUCKETS))).distinct().count()
        dirs = self.job_dirs(i)
        job = ExtractionJob(
            spark, dirs["output"], dirs["lineage"], dirs["metrics"],
            n_buckets=JOB_BUCKETS, staging_dir=dirs["staging"],
        )
        snap = f"seed{self.args.seed}"
        t0 = time.perf_counter()
        half = job.run(df, input_snapshot=snap, wave_size=JOB_WAVE_SIZE, max_waves=2)
        t1 = time.perf_counter()
        rest = job.run(df, input_snapshot=snap, wave_size=JOB_WAVE_SIZE)
        t2 = time.perf_counter()
        noops, noop_s = [], []
        for _ in range(noop_reruns):
            t3 = time.perf_counter()
            noops.append(job.run(df, input_snapshot=snap, wave_size=JOB_WAVE_SIZE))
            noop_s.append(time.perf_counter() - t3)
        n = self.corpus.n_docs
        ok = (
            half["buckets_processed"] == min(2 * JOB_WAVE_SIZE, self.job_buckets)
            and rest["buckets_done_before"] == half["buckets_processed"]
            and rest["rows_in_output"] == n
            and all(r["buckets_processed"] == 0 and r["rows_in_output"] == n for r in noops)
        )
        self._check("job_resume_summaries", ok)
        if not ok:
            _info(f"job summaries: {half} {rest} {noops}")
        return {"dirs": dirs, "snap": snap, "half_s": t1 - t0,
                "resume_s": t2 - t1, "noop_s": statistics.median(noop_s)}

    def check_job(self, spark, cycle: dict) -> int:
        """No bucket done twice in the lineage, and the snapshot's output
        rows pass the same exactly-once and digest checks as a stage pass."""
        from pyspark.sql import functions as F

        lineage = spark.read.parquet(cycle["dirs"]["lineage"])
        done = (lineage.where(F.col("status") == "done")
                .groupBy("url_bucket").count().collect())
        self.buckets_reprocessed = sum(1 for r in done if r["count"] > 1)
        self._check("job_no_bucket_reprocessed", self.buckets_reprocessed == 0)
        self._check("job_all_buckets_done", len(done) == self.job_buckets)
        out = (spark.read.parquet(cycle["dirs"]["output"])
               .where(F.col("input_snapshot") == cycle["snap"]))
        row = checked_frame(out).collect()[0]
        self._check("job_row_count", row["rows"] == self.corpus.n_docs)
        return self.record_check(row, "job_output")


def checked_frame(extracted):
    """One-row check of an extraction output, computed inside Spark: row
    count, distinct urls, non-ok rows, and the digest ``corpus.digest_rows``
    computes in Python (sha256 of the sorted per-row sha256 hex strings)."""
    from pyspark.sql import functions as F

    from perfbench.corpus import DIGEST_COLUMNS

    fields = [F.coalesce(F.col(c), F.lit("")) for c in DIGEST_COLUMNS]
    hashed = extracted.select(
        "url", "status", F.sha2(F.concat_ws("\t", *fields), 256).alias("h")
    )
    return hashed.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("url").alias("urls"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("fallback"),
        F.sha2(F.concat_ws("", F.sort_array(F.collect_list("h"))), 256).alias("digest"),
    )


def _du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


# -- untraced run: end-to-end metrics ------------------------------------------------

def run_end_to_end(run: Run) -> tuple:
    """One cold set-up (JVM launch included), then the measured passes in
    the session it started.  The no-op re-run of a job cycle is only
    checked here; its time (``job.resume_s``) is a traced metric."""
    from perfbench.host import WorkerRssSampler

    args = run.args
    spark, df, setup_s = run.setup(run.cores)
    run.check_worker_imports(spark)
    n = run.corpus.n_docs
    mb = run.corpus.html_bytes / 1e6
    info: dict = {"setup_parts_s": run.setup_parts}
    with WorkerRssSampler(os.getpid()) as rss:
        if run.workload == "job_waves":
            cycles = []
            t0 = time.perf_counter()
            while not cycles or time.perf_counter() - t0 < args.seconds:
                cycles.append(run.job_cycle(spark, df, len(cycles), noop_reruns=1))
            wall = statistics.median(c["half_s"] + c["resume_s"] for c in cycles)
            info["job_cycles"] = [{k: v for k, v in c.items() if k.endswith("_s")} for c in cycles]
        else:
            walls, bad = run.timed_passes(df, args.seconds)
            wall = statistics.median(walls)
            info["passes_s"] = walls
            info["passes_cpu"] = run.pass_cpu
    if run.workload == "job_waves":
        bad = run.check_job(spark, cycles[-1])
    run.stop_session()

    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "docs_per_s": _metric(n / wall, "1/s"),
        "mb_per_s": _metric(mb / wall, "MB/s"),
        "worker_peak_rss_mb": _metric(rss.peak_mb, "MB"),
    }
    return metrics, bad, info


def scaling_pair(run: Run, spark) -> dict:
    """Stage path at local[cores] (in ``spark``) and at local[1] (in a
    second session) on identical input: the first SCALING_FILES corpus
    files, fastest of two passes on each side.  Stops ``spark``."""
    files = run.corpus.files()[:SCALING_FILES]
    t_many = min(run.plain_pass(run.read_corpus(spark, files)) for _ in range(2))
    run.stop_session()
    spark1, _, _ = run.setup(1)
    sub = run.read_corpus(spark1, files)
    t_one = min(run.plain_pass(sub) for _ in range(2))
    run.stop_session()
    return {
        "scaling_eff": _metric(t_one / (run.cores * t_many), "ratio"),
        "scaling.local1_s": _metric(t_one, "s"),
        "scaling.local_cores_s": _metric(t_many, "s"),
    }


# -- traced run: per-layer metrics --------------------------------------------------

def _kernel_sample(run: Run):
    import pandas as pd

    k = KERNEL_SAMPLE[run.workload]
    frames, have = [], 0
    for f in run.corpus.files():
        pdf = pd.read_parquet(f, columns=["url", "html"])
        frames.append(pdf.iloc[: k - have])
        have += len(frames[-1])
        if have >= k:
            break
    return pd.concat(frames, ignore_index=True)


def _kernel_loop(urls, htmls) -> tuple:
    """The per-row loop of ``golden.extract_pdf``, timing each document.
    ``golden.extract_document`` is looked up per call, so a span wrapper
    installed on it is seen."""
    from exstruct_spark import golden

    clock = time.perf_counter_ns
    records, lat = [], []
    t0 = clock()
    for u, h in zip(urls, htmls):
        s = clock()
        records.append(golden.extract_document(u, h))
        lat.append((clock() - s) / 1e3)
    return (clock() - t0) / 1e9, lat, records


def trace_kernel(run: Run) -> dict:
    """Single-thread kernel over a fixed sample in this process, untraced
    and traced on each of KERNEL_CHUNKS slices in turn (alternating which
    goes first), so both see the same host conditions; plus the Arrow
    conversions of the same rows at the mapInPandas boundary."""
    import pandas as pd
    import pyarrow as pa

    from exstruct_spark.golden import GOLDEN_COLUMNS
    from perfbench import spans

    sample = _kernel_sample(run)
    urls, htmls = sample["url"].tolist(), sample["html"].tolist()
    rec = spans.SpanRecorder()
    targets = spans.kernel_targets()
    untraced_s = traced_s = 0.0
    lat, records = [], []
    step = -(-len(urls) // KERNEL_CHUNKS)
    for k, i in enumerate(range(0, len(urls), step)):
        u, h = urls[i:i + step], htmls[i:i + step]
        for traced in ((False, True) if k % 2 == 0 else (True, False)):
            if traced:
                with rec.patched(targets):
                    traced_s += _kernel_loop(u, h)[0]
            else:
                dt, chunk_lat, chunk_records = _kernel_loop(u, h)
                untraced_s += dt
                lat += chunk_lat
                records += chunk_records
    rec.dump(os.path.join(run.out_dir, f"spans-kernel-{run.workload}.jsonl"))
    totals = rec.totals()
    out = pd.DataFrame(records, columns=GOLDEN_COLUMNS)

    # the mapInPandas boundary on the same rows, one Arrow batch (the sample
    # is at most ARROW_BATCH rows): Arrow->pandas of the input, pandas->Arrow
    # of the output frame
    clock = time.perf_counter_ns
    table = pa.Table.from_pandas(sample, preserve_index=False)
    t0 = clock()
    table.to_pandas()
    to_pandas_ms = (clock() - t0) / 1e6
    t0 = clock()
    pa.Table.from_pandas(out, preserve_index=False)
    from_pandas_ms = (clock() - t0) / 1e6

    n_tables = n_candidates = 0
    for js in out["extraction_json"]:
        doc = json.loads(js)
        n_tables += len(doc.get("tables", ()))
        n_candidates += len(doc.get("table_candidates", ()))

    m: dict = {}
    root = totals.get(spans.KERNEL_ROOT, {"s": 0.0, "self_s": 0.0, "calls": 0})
    for layer in spans.KERNEL_LAYER_NAMES:
        t = totals.get(layer, {"s": 0.0, "calls": 0})
        m[f"{layer}_s"] = _metric(t["s"], "s")
        m[f"{layer}.calls"] = _metric(t["calls"], "count")
    m["extract.self_s"] = _metric(root["self_s"], "s")
    m["kernel.total_s"] = _metric(root["s"], "s")
    m["kernel.docs"] = _metric(len(sample), "count")
    lat.sort()
    m["kernel.doc_p50_us"] = _metric(statistics.median(lat), "us")
    m["kernel.doc_p99_us"] = _metric(lat[min(len(lat) - 1, int(0.99 * len(lat)))], "us")
    m["kernel.docs_per_s_1t"] = _metric(len(sample) / untraced_s, "1/s")
    m["tables.candidate_ratio"] = _metric(n_candidates / n_tables if n_tables else 0.0, "ratio")
    m["arrow.to_pandas_ms"] = _metric(to_pandas_ms, "ms")
    m["arrow.from_pandas_ms"] = _metric(from_pandas_ms, "ms")
    m["trace.overhead_pct"] = _metric(100.0 * (traced_s / untraced_s - 1.0), "%")
    # children + self time add up to the traced kernel total by construction;
    # check it so a span that escapes the tree shows up
    child_sum = sum(m[f"{x}_s"]["value"] for x in spans.KERNEL_LAYER_NAMES)
    run.checks["trace_spans_add_up"] = abs(
        child_sum + root["self_s"] - root["s"]) <= 1e-6 * max(1, len(sample))
    return m


def stage_layers(run: Run, spark, df) -> tuple:
    """One checked stage pass (job group ``stage``), then the stage
    decomposition by subtraction: a scan alone, and a scan plus the url-hash
    exchange.  Returns per-layer metrics and the bad-url count."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup("stage", "checked extraction pass")
    _, bad = run.checked_pass(df)
    sc.setJobGroup("scan", "scan only")
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    scan_s = time.perf_counter() - t0
    sc.setJobGroup("exchange", "scan and url-hash exchange")
    t0 = time.perf_counter()
    (df.repartition(2 * run.cores, F.xxhash64("url"))
     .write.format("noop").mode("overwrite").save())
    exchange_s = max(0.0, time.perf_counter() - t0 - scan_s)
    sc.setJobGroup("perfbench", "perfbench")
    return {"spark.scan_s": _metric(scan_s, "s"),
            "spark.exchange_s": _metric(exchange_s, "s")}, bad


def job_layers(run: Run, spark, df) -> tuple:
    """One job cycle (job group ``job``) with spans on the job's own calls,
    then its checks.  Returns per-layer metrics and the bad-url count."""
    from perfbench import spans

    dirs = run.job_dirs(0)
    names = {dirs["output"]: "job.output_write", dirs["metrics"]: "job.metrics_write",
             dirs["lineage"]: "job.lineage_write"}
    rec = spans.SpanRecorder()
    spark.sparkContext.setJobGroup("job", "job cycle")
    with rec.patched(spans.job_targets(names)):
        cycle = run.job_cycle(spark, df, 0, noop_reruns=NOOP_RERUNS)
    spark.sparkContext.setJobGroup("perfbench", "perfbench")
    rec.dump(os.path.join(run.out_dir, f"spans-job-{run.workload}.jsonl"))
    bad = run.check_job(spark, cycle)
    t = rec.totals()

    def s(*names):
        return _metric(sum(t.get(k, {"s": 0.0})["s"] for k in names), "s")

    return {
        "job.stage_input_s": s("job.stage_input"),
        "job.output_write_s": s("job.output_write"),
        "job.metrics_s": s("job.metrics_write", "job.metrics_plan"),
        "job.lineage_s": s("job.lineage_read", "job.lineage_write"),
        "job.waves_s": s("job.wave"),
        "job.bytes_written_per_input_byte": _metric(
            _du_bytes(dirs["output"]) / run.corpus.html_bytes, "ratio"),
        "job.buckets_reprocessed": _metric(run.buckets_reprocessed, "count"),
        "job.resume_s": _metric(cycle["noop_s"], "s"),
    }, bad


def run_traced(run: Run) -> tuple:
    """Kernel spans, then both Spark paths on the workload's corpus (every
    layer is measured on every workload), then the scaling pair.  Event-log
    metrics come from the workload's own path: the job cycle for
    ``job_waves``, the stage pass otherwise."""
    from perfbench import sparklog

    m = trace_kernel(run)
    spark, df, _ = run.setup(run.cores)
    run.check_worker_imports(spark)
    stage_m, bad_stage = stage_layers(run, spark, df)
    job_m, bad_job = job_layers(run, spark, df)
    m.update(stage_m)
    m.update(job_m)
    m["kernel.fallback_ratio"] = _metric(run.fallback_docs / run.corpus.n_docs, "ratio")
    m.update(scaling_pair(run, spark))  # stopping the sessions flushes the event log
    events = list(sparklog.read_events(run.eventlog))
    own = sparklog.summarize(events, "job" if run.workload == "job_waves" else "stage")
    m["spark.shuffle_write_bytes"] = _metric(own["shuffle_write_bytes"], "bytes")
    m["spark.task_skew"] = _metric(own["task_skew"], "ratio")
    m["spark.gc_ms"] = _metric(own["gc_ms"], "ms")
    m["spark.spill_bytes"] = _metric(own["spill_bytes"], "bytes")
    run.failed_tasks += sum(
        sparklog.summarize(events, g)["failed_tasks"] for g in ("stage", "scan", "exchange", "job")
    )
    return m, bad_stage + bad_job, {"event_log_tasks": own["tasks"]}


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "exstruct_spark", "__init__.py")):
        _die(f"no exstruct_spark package in {ROOT}: nothing to benchmark")
    if args.seconds <= 0:
        _die("--seconds must be positive")
    sys.path.insert(0, ROOT)
    import exstruct_spark

    if os.path.dirname(os.path.realpath(exstruct_spark.__file__)) != os.path.realpath(
            os.path.join(ROOT, "exstruct_spark")):
        _die(f"imported {exstruct_spark.__file__}, not the checkout's package")

    from perfbench.host import host_control_ms

    run = Run(args)
    control_ms = host_control_ms()
    try:
        run.prepare_environment()
        run.prepare_inputs()
        if args.trace:
            metrics, bad, info = run_traced(run)
        else:
            metrics, bad, info = run_end_to_end(run)
    finally:
        run.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))  # only when no other run uses it
        except OSError:
            pass

    failed = bad + run.failed_tasks
    attempted = run.corpus.n_docs
    correct = failed == 0 and all(run.checks.values())
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": run.cores, "control_ms_per_doc": control_ms,
        "docs": run.corpus.n_docs, "html_bytes": run.corpus.html_bytes,
        "output_digest": run.output_digest, "reference_digest": run.reference["digest"],
        "error_ratio": failed / attempted, "failed_tasks": run.failed_tasks,
        "prepare_s": run.prepare_s, "checks": run.checks, **info,
    }
    print("perfbench-info " + json.dumps(diag, sort_keys=True))
    if args.trace:
        with open(os.path.join(run.out_dir, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"info": diag, "metrics": metrics}, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
