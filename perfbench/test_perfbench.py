"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import json
import os

import pytest

from perfbench import corpus, host, sparklog, spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- large-page generator ------------------------------------------------------------

def test_large_page_is_a_pure_function_of_seed_and_id():
    a = corpus.build_large_page(3, seed=7)
    b = corpus.build_large_page(3, seed=7)
    assert a == b
    assert corpus.build_large_page(3, seed=8)["html"] != a["html"]
    assert corpus.build_large_page(4, seed=7)["html"] != a["html"]


def test_large_page_sizes_span_the_configured_range():
    sizes = [corpus.large_page_size(seed=1, doc_id=i) for i in range(400)]
    assert min(sizes) >= corpus.LARGE_MIN_BYTES
    assert max(sizes) <= corpus.LARGE_MAX_BYTES
    # log-uniform: about half the pages lie below the geometric midpoint
    mid = (corpus.LARGE_MIN_BYTES * corpus.LARGE_MAX_BYTES) ** 0.5
    assert 0.35 < sum(s < mid for s in sizes) / len(sizes) < 0.65
    page = corpus.build_large_page(0, seed=1)
    assert len(page["html"]) >= corpus.large_page_size(seed=1, doc_id=0)


def test_large_page_style_share():
    sections = styled = 0
    for i in range(6):
        html = corpus.build_large_page(i, seed=2)["html"].decode("utf-8")
        for frag in html.split("<section>")[1:]:
            sections += 1
            styled += "<style>" in frag
    assert sections > 100
    assert abs(styled / sections - corpus.STYLE_SHARE) < 0.06


def test_workload_pages_match_the_package_generators():
    from exstruct_spark.pages import build_page, build_rich_page

    small = corpus.workload_pages_pdf("bench_small", [5], seed=3)
    rich = corpus.workload_pages_pdf("job_waves", [5], seed=3)
    assert small["html"][0] == build_page(5, 3)["html"]
    assert rich["html"][0] == build_rich_page(5, 3)["html"]


# -- fingerprints and the cache ------------------------------------------------------

def test_fingerprint_changes_with_generator_source():
    src = corpus.read_sources(ROOT, corpus.GENERATOR_SOURCES)
    fp = corpus.corpus_fingerprint("bench_small", 1, 100, src)
    assert fp == corpus.corpus_fingerprint("bench_small", 1, 100, dict(src))
    edited = dict(src)
    edited["exstruct_spark/pages.py"] = src["exstruct_spark/pages.py"] + b"\n# edit\n"
    assert corpus.corpus_fingerprint("bench_small", 1, 100, edited) != fp
    assert corpus.corpus_fingerprint("bench_small", 2, 100, src) != fp
    assert corpus.corpus_fingerprint("bench_small", 1, 101, src) != fp
    assert corpus.corpus_fingerprint("job_waves", 1, 100, src) != fp


def test_generator_sources_include_this_generator():
    assert "perfbench/corpus.py" in corpus.GENERATOR_SOURCES
    assert "exstruct_spark/pages.py" in corpus.GENERATOR_SOURCES


def _fake_corpus(cache_root, fp):
    path = os.path.join(cache_root, "corpus-" + fp)
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"data")
    meta = {"fingerprint": fp, "n_docs": 1, "html_bytes": 4,
            "files": {"part-00000.parquet": corpus._file_sha256(
                os.path.join(path, "part-00000.parquet"))}}
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump(meta, f)
    return path


def test_cache_is_reused_only_when_verified(tmp_path):
    root = str(tmp_path)
    path = _fake_corpus(root, "abc")
    assert corpus.check_cached(root, "abc").n_docs == 1
    # another fingerprint never matches, even though a directory exists
    assert corpus.check_cached(root, "abd") is None
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"tampered")
    assert corpus.check_cached(root, "abc") is None


def test_cache_without_metadata_is_not_reused(tmp_path):
    root = str(tmp_path)
    path = _fake_corpus(root, "abc")
    os.remove(os.path.join(path, "_meta.json"))
    assert corpus.check_cached(root, "abc") is None


def test_digest_is_order_independent_and_content_sensitive():
    rows = [("u1", "ok", "a", "b"), ("u2", "fallback", "c", None)]
    d = corpus.digest_rows(rows)
    assert d == corpus.digest_rows(list(reversed(rows)))
    assert d != corpus.digest_rows([("u1", "ok", "a", "b"), ("u2", "ok", "c", None)])
    assert d != corpus.digest_rows(rows + rows[:1])


# -- event log -----------------------------------------------------------------------

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def _log_dir(tmp_path, *texts):
    """A directory of event logs, one file per text (app-1, app-2, ...)."""
    d = tmp_path / "logs"
    d.mkdir()
    for i, text in enumerate(texts, 1):
        (d / f"app-{i}").write_text(text)
    return str(d)


def test_event_log_summary_of_one_job_group(tmp_path):
    s = sparklog.summarize(sparklog.read_events(_log_dir(tmp_path, open(FIXTURE).read())),
                           "measure")
    assert s["tasks"] == 5
    assert s["failed_tasks"] == 1
    assert s["shuffle_write_bytes"] == 1500
    assert s["gc_ms"] == 15
    assert s["spill_bytes"] == 96
    # longest stage (stage 2, 500 ms in all): run times 100, 100, 300 -> max / median
    assert s["task_skew"] == pytest.approx(3.0)


def test_event_log_summary_of_all_jobs(tmp_path):
    s = sparklog.summarize(sparklog.read_events(_log_dir(tmp_path, open(FIXTURE).read())))
    assert s["tasks"] == 6
    assert s["shuffle_write_bytes"] == 2499


def test_event_log_stage_ids_are_per_application(tmp_path):
    text = open(FIXTURE).read()
    # a second application reuses stage id 1 in a job of another group
    d = _log_dir(
        tmp_path, text,
        '{"Event":"SparkListenerLogStart"}\n'
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[1],'
        '"Properties":{"spark.jobGroup.id":"perfbench"}}\n'
        '{"Event":"SparkListenerTaskEnd","Stage ID":1,"Task End Reason":{"Reason":"Success"},'
        '"Task Metrics":{"Executor Run Time":5,"Shuffle Write Metrics":{"Shuffle Bytes Written":7}}}\n'
    )
    measured = sparklog.summarize(sparklog.read_events(d), "measure")
    assert measured["tasks"] == 5 and measured["shuffle_write_bytes"] == 1500
    assert sparklog.summarize(sparklog.read_events(d))["shuffle_write_bytes"] == 2506


def test_event_log_without_tasks():
    s = sparklog.summarize(iter(()))
    assert s["tasks"] == 0 and s["task_skew"] == 0.0


# -- spans ---------------------------------------------------------------------------

class _Target:
    @staticmethod
    def leaf(x):
        return x + 1

    @staticmethod
    def outer(x):
        return _Target.leaf(x) + _Target.leaf(x)


def test_span_self_time_plus_children_equals_total():
    rec = spans.SpanRecorder()
    targets = [(_Target, "outer", "outer"), (_Target, "leaf", "leaf")]
    original = _Target.__dict__["outer"]
    with rec.patched(targets):
        assert _Target.outer(1) == 4
    assert _Target.__dict__["outer"] is original
    t = rec.totals()
    assert t["outer"]["calls"] == 1 and t["leaf"]["calls"] == 2
    assert t["outer"]["s"] == pytest.approx(t["outer"]["self_s"] + t["leaf"]["s"], abs=1e-12)
    assert [s[1] for s in rec.spans] == [-1, 0, 0]


def test_span_names_may_depend_on_arguments():
    rec = spans.SpanRecorder()
    f = rec.wrap(lambda args, kwargs: f"f.{args[0]}", lambda x: x)
    f("a")
    f("b")
    f("a")
    assert {k: v["calls"] for k, v in rec.totals().items()} == {"f.a": 2, "f.b": 1}


def test_kernel_targets_name_existing_functions():
    for obj, attr, _ in spans.kernel_targets():
        assert callable(getattr(obj, attr))
    for obj, attr, _ in spans.job_targets({}):
        assert callable(getattr(obj, attr))


# -- host gauge ----------------------------------------------------------------------

def _function_body(path, name):
    tree = ast.parse(open(path).read())
    fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == name)
    body = fn.body[1:] if isinstance(fn.body[0], ast.Expr) else fn.body  # drop docstring
    return [ast.dump(stmt) for stmt in body]


def test_host_gauge_is_the_frozen_bench_gauge():
    bench = os.path.join(ROOT, "bench.py")
    if not os.path.exists(bench):
        pytest.skip("no bench.py in this checkout")
    ours = _function_body(host.__file__, "host_control_ms")
    assert ours == _function_body(bench, "_host_control_ms")
