#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: ``{"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ..., "extract_docs_per_sec": ...}``.

Headline = the fused extraction stage over a deterministic synthetic page
corpus sized to the sf tier (sf0.1 -> 20,000 docs, FIXTURES.md §1) + the
flagship relational/dedup/similarity queries from __spark_entry__.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import exstruct_spark.pages  # noqa: E402
from exstruct_spark.engine import default_session, extract_stage  # noqa: E402
from exstruct_spark.pages import spark_pages  # noqa: E402
from exstruct_spark.queries import QUERIES, RETIRED_QUERIES  # noqa: E402

# bench query set is IDENTICAL across rounds for regression compare;
# two entries moved to RETIRED_QUERIES in round 4 (driver-window cap)
_BENCH_LOOKUP = {**QUERIES, **RETIRED_QUERIES}

BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5_region",
    "tpch_q6",
    "events_hourly",
    "events_gap_lag",
    "doc_quality",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "docs_by_source_salted",
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _host_control_ms(units: int = 40) -> float:
    """Self-calibrating drift control (VERDICT r4): one FROZEN
    single-thread workload — stdlib-only, independent of the repo's
    code, identical bytes every round — timed best-of-3 alongside every
    bench run.  This host's single-core speed drifts ±35% across hours
    (BENCH/BASELINE.md round-4 distribution table); this number moves
    with the HOST, never with HEAD, so a reader can divide it out:
    interpretation rule in BENCH/BASELINE.md ('bench window
    calibration').  One unit = sha256 + zlib.compress over a fixed
    64 KiB block + a 20k-iteration pure-Python accumulate — roughly the
    byte-hash / inflate / interpreter mix of one document's kernel
    work."""
    import hashlib
    import zlib

    block = bytes(range(256)) * 256  # 64 KiB, constant forever
    best = None
    for _ in range(3):
        t0 = time.monotonic()
        acc = 0
        for i in range(units):
            h = hashlib.sha256(block).digest()
            z = zlib.compress(block, 6)
            acc += h[0] + len(z)
            for j in range(20_000):
                acc += j & 7
        dt = (time.monotonic() - t0) * 1000.0 / units
        best = dt if best is None or dt < best else best
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(max(2000, int(200000 * sf)))))

    # drift control BEFORE Spark spins up (quiet machine, single thread)
    control_ms = _host_control_ms()

    spark = default_session(
        app="exstruct-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        arrow_batch=4096,
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict = {}

    # 1. extraction throughput: generate the corpus once (excluded from the
    # measured window), then time the fused extraction stage alone
    pages = spark_pages(spark, n_docs, partitions=cpus * 2)
    # the cached corpus is keyed on everything that shapes it (size,
    # partitioning, generator source), so a generator change never
    # benchmarks a stale corpus
    with open(exstruct_spark.pages.__file__, "rb") as fh:
        gen_sha = hashlib.sha256(fh.read()).hexdigest()[:16]
    pages_path = f"/tmp/exstruct_bench_pages_{n_docs}_p{cpus * 2}_{gen_sha}"
    if not os.path.exists(pages_path):
        pages.write.mode("overwrite").parquet(pages_path)
    pages_on_disk = spark.read.parquet(pages_path)

    # warm-up at the same partitioning: Python-worker spawn + JVM JIT are
    # one-time costs, not throughput
    extract_stage(pages_on_disk.limit(cpus * 64), repartition_to=cpus * 2).count()

    # throughput = best of 3 full passes.  Round-7 change (BENCH/BASELINE.md
    # 'bench window calibration'): two consecutive single-shot passes on an
    # IDLE host (load 0.04, control 1.05 vs 1.02 ms/doc) measured 2.97 s vs
    # 2.20 s — ±35% one-shot scheduler noise that no control gauge can
    # divide out.  Throughput is a capability number; min-of-N is the
    # standard estimator for it under asymmetric (delay-only) noise.
    t_extract = None
    n_ok = 0
    for _ in range(3):
        t0 = time.monotonic()
        extracted = extract_stage(pages_on_disk, repartition_to=cpus * 2)
        n_ok = extracted.where(F.col("status").isNotNull()).count()
        dt = time.monotonic() - t0
        t_extract = dt if t_extract is None or dt < t_extract else t_extract
    timings["extract_pages"] = round(t_extract, 3)
    docs_per_sec = round(n_ok / t_extract, 2) if t_extract > 0 else 0.0

    # 2. relational / dedup / similarity headline queries
    for name in BENCH_QUERIES:
        fn = _BENCH_LOOKUP[name]
        t0 = time.monotonic()
        _run(fn(spark, sf_dir))
        timings[name] = round(time.monotonic() - t0, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline seconds (fused HTML extraction "
                f"{n_docs} docs + {len(BENCH_QUERIES)} relational/dedup/ann queries)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extract_docs": n_ok,
                "extract_docs_per_sec": docs_per_sec,
                "cpus": cpus,
                "control_ms_per_doc": control_ms,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
