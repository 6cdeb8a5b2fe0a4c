"""Benchmark inputs: deterministic corpora, their on-disk cache, and the
reference digest each Spark run is checked against.

Every corpus is a pure function of ``(workload, seed)``.  A cached copy is
reused only when its recorded fingerprint -- seed, size and the bytes of
every generator source file -- matches the one computed now, and its data
files still hash to what was recorded.  A generator edit therefore never
benchmarks a stale corpus.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil

import pandas as pd

# corpora are written as this many parquet files so that the scan (and the
# job's staging write) is spread over several tasks on any core count
N_FILES = 8

SMALL_DOCS = 20_000
RICH_DOCS = 5_000
LARGE_DOCS = 40
LARGE_MIN_BYTES = 30_000
LARGE_MAX_BYTES = 512_000
# share of large-page body fragments that carry a same-document <style>
STYLE_SHARE = 0.15
# rich archetypes whose body fragment carries a <style> block
STYLED_ARCHETYPES = (
    "styled_grid", "styled_grid_descendant", "striped_table", "divider_table",
)

WORKLOAD_DOCS = {
    "bench_small": SMALL_DOCS,
    "large_pages": LARGE_DOCS,
    "job_waves": RICH_DOCS,
}

# files whose bytes decide a corpus (relative to the checkout root)
GENERATOR_SOURCES = (
    "exstruct_spark/pages.py",
    "exstruct_spark/kernels/dom.py",
    "perfbench/corpus.py",
)


# -- large pages ---------------------------------------------------------------

def _main_inner(html: bytes) -> str:
    """The body fragment of a generated page: the inside of its <main>."""
    s = html.decode("utf-8")
    start = s.find("<main>")
    end = s.rfind("</main>")
    if start < 0 or end < 0:
        return ""
    return s[start + len("<main>"):end]


def _large_rng(seed: int, doc_id: int) -> random.Random:
    return random.Random(f"large-page:{seed}:{doc_id}")


def large_page_size(seed: int, doc_id: int) -> int:
    """Target size in bytes, log-uniform over [LARGE_MIN_BYTES, LARGE_MAX_BYTES]."""
    u = _large_rng(seed, doc_id).random()
    lo, hi = math.log(LARGE_MIN_BYTES), math.log(LARGE_MAX_BYTES)
    return int(math.exp(lo + u * (hi - lo)))


def build_large_page(doc_id: int, seed: int) -> dict:
    """One large page: ``build_page``/``build_rich_page`` body fragments
    concatenated until the page reaches its log-uniform target size.
    About STYLE_SHARE of the fragments carry a ``<style>`` block."""
    from exstruct_spark.pages import (
        ARCHETYPES, RAW_DOC_ARCHETYPES, RICH_ARCHETYPES, build_page,
        build_rich_page,
    )

    plain_rich = [
        i for i, a in enumerate(RICH_ARCHETYPES)
        if a not in STYLED_ARCHETYPES and a not in RAW_DOC_ARCHETYPES
    ]
    styled_rich = [
        i for i, a in enumerate(RICH_ARCHETYPES) if a in STYLED_ARCHETYPES
    ]
    target = large_page_size(seed, doc_id)
    rng = _large_rng(seed, doc_id)
    rng.random()  # the draw large_page_size consumed
    parts: list = []
    size = 0
    while size < target:
        base = rng.randrange(1_000_000)
        r = rng.random()
        if r < STYLE_SHARE:
            k = rng.choice(styled_rich)
            page = build_rich_page(base * len(RICH_ARCHETYPES) + k, seed)
        elif r < STYLE_SHARE + (1 - STYLE_SHARE) / 2:
            k = rng.choice(plain_rich)
            page = build_rich_page(base * len(RICH_ARCHETYPES) + k, seed)
        else:
            page = build_page(base * len(ARCHETYPES) + rng.randrange(len(ARCHETYPES)), seed)
        frag = f"<section>{_main_inner(page['html'])}</section>"
        parts.append(frag)
        size += len(frag.encode("utf-8"))
    html = (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        f"<title>large page {doc_id}</title></head><body>"
        "<nav><ul>" + "".join(f'<li><a href="/n/{i}">nav {i}</a></li>' for i in range(12))
        + "</ul></nav><main>" + "".join(parts) + "</main>"
        "<footer><p>" + " ".join(f'<a href="/f/{i}">footer {i}</a>' for i in range(8))
        + "</p></footer></body></html>"
    )
    return {"url": f"https://large.example/page/{doc_id}", "html": html.encode("utf-8")}


def large_pages_pdf(doc_ids, seed: int) -> pd.DataFrame:
    return pd.DataFrame(
        [build_large_page(int(i), seed) for i in doc_ids], columns=["url", "html"]
    )


def workload_pages_pdf(workload: str, doc_ids, seed: int) -> pd.DataFrame:
    """The pages frame of one workload for the given doc ids."""
    if workload == "bench_small":
        from exstruct_spark.pages import gen_pages_pdf

        return gen_pages_pdf(doc_ids, seed)
    if workload == "job_waves":
        from exstruct_spark.pages import gen_rich_pages_pdf

        return gen_rich_pages_pdf(doc_ids, seed)
    if workload == "large_pages":
        return large_pages_pdf(doc_ids, seed)
    raise ValueError(f"unknown workload: {workload}")


# -- fingerprints ----------------------------------------------------------------

def read_sources(root: str, rel_paths) -> dict:
    """{relative path: file bytes} for the given files under ``root``."""
    out = {}
    for rel in rel_paths:
        with open(os.path.join(root, rel), "rb") as f:
            out[rel] = f.read()
    return out


def _digest_sources(h, sources: dict) -> None:
    for rel in sorted(sources):
        h.update(rel.encode() + b"\0")
        h.update(hashlib.sha256(sources[rel]).digest())


def corpus_fingerprint(workload: str, seed: int, n_docs: int, sources: dict) -> str:
    """Identity of a corpus: workload, seed, size and generator source bytes."""
    h = hashlib.sha256(f"corpus:{workload}:{seed}:{n_docs}:{N_FILES}\n".encode())
    _digest_sources(h, sources)
    return h.hexdigest()[:24]


def code_fingerprint(root: str) -> str:
    """Identity of the program under test: every source file of the package."""
    pattern = os.path.join(root, "exstruct_spark", "**", "*.py")
    rels = sorted(os.path.relpath(p, root) for p in glob.glob(pattern, recursive=True))
    h = hashlib.sha256(b"code\n")
    _digest_sources(h, read_sources(root, rels))
    return h.hexdigest()[:24]


def _file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# -- cache -------------------------------------------------------------------------

class Corpus:
    """A corpus on disk: parquet part files plus the metadata recorded at
    build time (fingerprint, document count, HTML bytes, file hashes)."""

    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta

    @property
    def n_docs(self) -> int:
        return self.meta["n_docs"]

    @property
    def html_bytes(self) -> int:
        return self.meta["html_bytes"]

    def files(self) -> list:
        return [os.path.join(self.path, f) for f in sorted(self.meta["files"])]


def check_cached(cache_root: str, fingerprint: str):
    """The cached corpus for ``fingerprint``, or None.  Reused only when the
    recorded fingerprint matches and every data file hashes as recorded."""
    path = os.path.join(cache_root, "corpus-" + fingerprint)
    try:
        with open(os.path.join(path, "_meta.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    if meta.get("fingerprint") != fingerprint:
        return None
    for name, sha in meta.get("files", {}).items():
        p = os.path.join(path, name)
        if not os.path.isfile(p) or _file_sha256(p) != sha:
            return None
    return Corpus(path, meta)


def _write_part(args) -> tuple:
    workload, seed, ids, out_path = args
    pdf = workload_pages_pdf(workload, ids, seed)
    # microsecond timestamps: Spark does not read parquet TIMESTAMP(NANOS)
    pdf.to_parquet(out_path, index=False, coerce_timestamps="us")
    return int(pdf["html"].map(len).sum()), len(pdf)


def _pool(n_workers: int):
    return multiprocessing.get_context("spawn").Pool(n_workers)


def ensure_corpus(cache_root: str, root: str, workload: str, seed: int,
                  n_workers: int) -> Corpus:
    """Build the workload's corpus unless a verified cached copy exists."""
    n_docs = WORKLOAD_DOCS[workload]
    fp = corpus_fingerprint(workload, seed, n_docs, read_sources(root, GENERATOR_SOURCES))
    cached = check_cached(cache_root, fp)
    if cached is not None:
        return cached
    final = os.path.join(cache_root, "corpus-" + fp)
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(final, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # interleaved ids: every part gets the same mix of archetypes and sizes
    jobs = [
        (workload, seed, list(range(i, n_docs, N_FILES)),
         os.path.join(tmp, f"part-{i:05d}.parquet"))
        for i in range(N_FILES)
    ]
    with _pool(n_workers) as pool:
        results = pool.map(_write_part, jobs)
    files = {os.path.basename(j[3]): _file_sha256(j[3]) for j in jobs}
    meta = {
        "fingerprint": fp, "workload": workload, "seed": seed,
        "n_docs": sum(r[1] for r in results),
        "html_bytes": sum(r[0] for r in results),
        "files": files,
    }
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.rename(tmp, final)
    return Corpus(final, meta)


# -- reference digest ------------------------------------------------------------

def row_hash(row) -> str:
    """sha256 hex of one output row's digest columns, tab-joined (None as "")."""
    line = "\t".join("" if v is None else str(v) for v in row)
    return hashlib.sha256(line.encode("utf-8")).hexdigest()


def digest_rows(rows) -> str:
    """Order-independent digest over ``(url, status, text_sha256,
    json_sha256)`` rows: sha256 of the sorted row hashes, concatenated.
    ``run.checked_frame`` computes the same value inside Spark."""
    joined = "".join(sorted(row_hash(r) for r in rows))
    return hashlib.sha256(joined.encode("ascii")).hexdigest()


DIGEST_COLUMNS = ["url", "status", "text_sha256", "json_sha256"]


def _reference_part(path: str) -> list:
    from exstruct_spark.golden import reference_extract_frame

    pdf = pd.read_parquet(path, columns=["url", "html"])
    ref = reference_extract_frame(pdf)
    return list(ref[DIGEST_COLUMNS].itertuples(index=False, name=None))


def reference_digest(cache_root: str, root: str, corpus: Corpus,
                     n_workers: int) -> dict:
    """Digest of ``golden.reference_extract_frame`` over the corpus, cached
    by corpus and code fingerprint.  Computed part by part in a process
    pool; the digest sorts the rows, so the split does not change it."""
    key = f"reference-{corpus.meta['fingerprint']}-{code_fingerprint(root)}.json"
    path = os.path.join(cache_root, key)
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        pass
    with _pool(n_workers) as pool:
        parts = pool.map(_reference_part, corpus.files())
    rows = [r for part in parts for r in part]
    ref = {
        "digest": digest_rows(rows),
        "rows": len(rows),
        "fallback": sum(1 for r in rows if r[1] != "ok"),
    }
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.rename(tmp, path)
    return ref
