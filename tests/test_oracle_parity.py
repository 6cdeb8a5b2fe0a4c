"""Replicates the driver's correctness gate locally: run each Spark query
and its DuckDB oracle on the same parquet, compare row count + column names
+ order-insensitive values EXACTLY (the driver value-hashes, so any
difference — including float noise — is a failure)."""

import math
import os

import duckdb
import pandas as pd
import pytest

from exstruct_spark.queries import (
    ORACLES,
    QUERIES,
    RETIRED_ORACLES,
    RETIRED_QUERIES,
)

# Retired twins keep their oracle parity HERE (the driver's window only
# fits 50 queries; coverage moves to pytest, it does not shrink).
ALL_QUERIES = {**QUERIES, **RETIRED_QUERIES}
ALL_ORACLES = {**ORACLES, **RETIRED_ORACLES}

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out = out[sorted(out.columns)]
    for col in out.columns:
        s = out[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[col] = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            out[col] = s.astype(float)
        elif s.dtype == object:
            out[col] = s.astype(str)
        else:
            try:
                out[col] = s.astype("int64")
            except (TypeError, ValueError):
                out[col] = s.astype(str)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def _values_equal(a: pd.DataFrame, b: pd.DataFrame) -> list:
    """Exact-equality diff report (empty = identical)."""
    problems = []
    for col in a.columns:
        av, bv = a[col], b[col]
        if pd.api.types.is_float_dtype(av):
            neq = [
                (x, y)
                for x, y in zip(av, bv)
                if not (x == y or (isinstance(x, float) and isinstance(y, float)
                                   and math.isnan(x) and math.isnan(y)))
            ]
        else:
            neq = [(x, y) for x, y in zip(av, bv) if x != y]
        if neq:
            problems.append((col, neq[:5]))
    return problems


@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_oracle_parity(spark, duck, name):
    spark_pdf = ALL_QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(ALL_ORACLES[name]).df()

    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    problems = _values_equal(a, b)
    assert not problems, f"{name}: value mismatches {problems}"


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ALL_ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = ALL_QUERIES[name](spark, SF_DIR)
    pdf = df.toPandas()
    assert len(pdf) >= 0
    assert len(pdf.columns) > 0
    # rows-only queries should still return SOMETHING meaningful here
    assert len(pdf) > 0, f"{name} returned no rows"


def test_driver_window_cap():
    """The driver's CORRECTNESS harness evaluates only the first 50
    queries() entries (VERDICT r3 #1) — every operator must stay inside
    that window, and no retired twin may shadow a live entry."""
    assert len(QUERIES) <= 50, f"{len(QUERIES)} entries overflow the driver window"
    assert not set(QUERIES) & set(RETIRED_QUERIES)
    assert set(ORACLES) <= set(QUERIES)
    assert set(RETIRED_ORACLES) <= set(RETIRED_QUERIES)
    # consolidation must not shrink total oracle coverage (41 at round 3)
    assert len(ORACLES) + len(RETIRED_ORACLES) >= 41


def test_entry_smoke(spark):
    import importlib
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())


def test_dedup_components_vs_union_find(spark, duck):
    """The iterative CC query must match a plain union-find over the same
    similarity pair graph (computed by the DuckDB oracle of
    embedding_neardup)."""
    from exstruct_spark.queries import QUERIES, ORACLES

    got = (
        QUERIES["dedup_components"](spark, SF_DIR)
        .toPandas()
        .sort_values("label")
        .reset_index(drop=True)
    )
    pairs = duck.execute(ORACLES["embedding_neardup"]).df()

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for a, b in zip(pairs["aid"], pairs["bid"]):
        union(int(a), int(b))
    comp: dict = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    want = sorted(
        (root, len(members), min(members)) for root, members in comp.items()
    )
    got_t = sorted(
        zip(got["label"], got["component_size"], got["component_min_id"])
    )
    assert [tuple(map(int, t)) for t in got_t] == want


def test_neardup_lsh_no_cross_join_and_exact_recall(spark):
    """Round 2 scale contract: near-dup pair generation has NO cartesian
    product anywhere in the physical plan (sign-LSH banded candidates +
    equi-joins only), yet recovers EXACTLY the brute-force pair set
    (verified here against numpy; the DuckDB oracle re-proves it every
    correctness run)."""
    import numpy as np

    from exstruct_spark.queries import QUERIES

    df = QUERIES["embedding_neardup"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    got = {
        (int(a), int(b))
        for a, b in zip(*[df.toPandas()[c] for c in ("aid", "bid")])
    }
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .orderBy("vec_id")
        .toPandas()
    )
    V = np.array(emb["embedding"].tolist(), dtype=np.float64)
    ids = emb["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = np.round(Vn @ Vn.T, 6)
    iu, ju = np.triu_indices(len(V), 1)
    mask = S[iu, ju] >= 0.35
    want = {(int(ids[i]), int(ids[j])) for i, j in zip(iu[mask], ju[mask])}
    assert got == want


def test_lsh_bucket_guard_bounds_degenerate_buckets(spark):
    """Adversarial web-scale corpus: 1000 byte-identical boilerplate docs
    collapse into ONE band bucket per band — ungated, that single bucket
    yields C(1000,2)=499500 candidate pairs per band (the quadratic
    hazard).  With the guard: candidates stay bounded, a genuine near-dup
    pair OUTSIDE the degenerate bucket is still found, and the audit
    accounts for every dropped candidate (no silent truncation)."""
    from exstruct_spark.queries import (
        _capped_bucket_pairs,
        _lsh_bucket_audit,
        _minhash_bands,
    )

    boiler = [
        (i, "the same boilerplate footer text repeated on every page")
        for i in range(1000)
    ]
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = boiler + [(2000, dup), (2001, dup)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bands = _minhash_bands(docs)

    cand = _capped_bucket_pairs(bands, "doc_id", max_bucket=32).toPandas()
    assert set(zip(cand["aid"], cand["bid"])) == {(2000, 2001)}

    audit = _lsh_bucket_audit(bands, max_bucket=32).toPandas()
    assert int(audit["dropped_buckets"].sum()) == 4  # the giant bucket, per band
    assert int(audit["dropped_pairs"].sum()) == 4 * (1000 * 999 // 2)
    assert int(audit["kept_pairs"].sum()) == 4  # the true dup pair, per band


def test_lsh_bucket_guard_default_cap_is_transparent(spark):
    """With the production default cap the test-corpus pair set is
    byte-identical to the unguarded result (every bucket is far below
    LSH_MAX_BUCKET), so the guard costs nothing on healthy corpora."""
    from exstruct_spark.queries import LSH_MAX_BUCKET, QUERIES

    assert LSH_MAX_BUCKET >= 4096
    capped = QUERIES["dedup_minhash_pairs"](spark, SF_DIR).toPandas()
    from exstruct_spark.queries import q_dedup_minhash_pairs

    uncapped = q_dedup_minhash_pairs(spark, SF_DIR, max_bucket=1 << 40).toPandas()
    key = lambda pdf: sorted(zip(pdf["aid"], pdf["bid"], pdf["jaccard"]))
    assert key(capped) == key(uncapped)


def test_lsh_planes_are_full_rank(spark):
    """Regression guard: the sign-LSH plane matrix must be (near) full
    rank — round 1's cos(d+p) planes spanned only a 2-D subspace, which
    silently destroyed the collision law."""
    import numpy as np

    from exstruct_spark.queries import _lsh_w_rows

    W = _lsh_w_rows(64)
    assert np.linalg.matrix_rank(W) == 64


def test_doc_bpe_real_matches_pure_python(spark, duck):
    """VERDICT r2 #3: the distributed BPE pipeline (mapInPandas counting ->
    bounded top-V collect -> driver training -> broadcast -> pandas-UDF
    encoding) equals a single-process pure-Python run of the same kernel
    over the same parquet, exactly."""
    from collections import Counter

    from exstruct_spark.queries import QUERIES
    from exstruct_spark.kernels.bpe import (
        bpe_token_count,
        pretokenize,
        train_bpe,
    )

    got = (
        QUERIES["doc_bpe_real"](spark, SF_DIR)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )

    docs = duck.execute(
        "SELECT lang, text FROM documents WHERE n_chars > 0"
    ).df()
    freqs = Counter()
    for t in docs["text"]:
        freqs.update(pretokenize(t))
    # same top-256 selection: count desc, token asc (UTF-8 binary order ==
    # codepoint order, so Python sorted() agrees with Spark's orderBy)
    top = dict(sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[:256])
    ranks = {p: i for i, p in enumerate(train_bpe(top, 64))}
    cache: dict = {}
    docs["toks"] = docs["text"].map(lambda t: bpe_token_count(t, ranks, cache))
    want = (
        docs.groupby("lang")
        .agg(docs_=("toks", "size"), total=("toks", "sum"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert list(got["lang"]) == list(want["lang"])
    assert list(got["docs"]) == list(want["docs_"])
    assert list(got["total_bpe_tokens"]) == list(want["total"])
    assert (got["n_merges"] == len(ranks)).all()
    for g, w in zip(got["avg_bpe_tokens"], want["total"] / want["docs_"]):
        assert abs(g - round(w, 4)) < 1e-9


def _bpe_scale_corpus():
    """Deterministic Zipf-ish corpus for the production-shape BPE test:
    ~460 recurring alphabetic words (each in ~60 docs) + one hapax per
    doc — deep enough that vocab 4096 > 256 and the frequency floor has
    a real tail to drop.  Letters only so the pre-tokenizer keeps each
    word whole.  Shared verbatim with scripts/bpe_scale_bench.py."""
    def wname(j):
        s, j = "", j + 1
        while j:
            s += chr(97 + j % 26)
            j //= 26
        return "x" + s

    rows = []
    for i in range(400):
        words = [wname((i + k) % 460) for k in range(60)]
        words.append(wname(10_000 + i))  # hapax
        text = " ".join(words)
        rows.append(("en" if i % 2 else "de", text, len(text)))
    return rows


def test_doc_bpe_real_scale_vocab_with_floor(spark, tmp_path):
    """VERDICT r4 #5: the production-shape parameters are exercised, not
    described — vocab 4096 / 512 merges with a frequency floor (min_freq
    2: the hapax tail never reaches the sort).  Exact parity against the
    identical pure-Python pipeline on a corpus deep enough for both
    levers to bite; sf0.1 wall-time is recorded by
    scripts/bpe_scale_bench.py in BENCH/BASELINE.md."""
    from collections import Counter

    from exstruct_spark.queries import q_doc_bpe_real
    from exstruct_spark.kernels.bpe import (
        bpe_token_count,
        pretokenize,
        train_bpe,
    )

    rows = _bpe_scale_corpus()
    spark.createDataFrame(
        rows, "lang string, text string, n_chars int"
    ).repartition(4).write.parquet(str(tmp_path / "documents.parquet"))

    got = (
        q_doc_bpe_real(spark, str(tmp_path), vocab_words=4096, n_merges=512,
                       min_freq=2)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )

    freqs = Counter()
    for _lang, text, _n in rows:
        freqs.update(pretokenize(text))
    floored = {w: c for w, c in freqs.items() if c >= 2}
    top = dict(
        sorted(floored.items(), key=lambda kv: (-kv[1], kv[0]))[:4096]
    )
    ranks = {p: i for i, p in enumerate(train_bpe(top, 512))}
    cache: dict = {}
    want = {}
    for lang, text, _n in rows:
        toks = bpe_token_count(text, ranks, cache)
        d = want.setdefault(lang, [0, 0])
        d[0] += 1
        d[1] += toks
    assert list(got["lang"]) == sorted(want)
    assert list(got["docs"]) == [want[k][0] for k in sorted(want)]
    assert list(got["total_bpe_tokens"]) == [want[k][1] for k in sorted(want)]
    assert (got["n_merges"] == len(ranks)).all()
    # the floor must actually bite (the 400 per-doc hapaxes plus the
    # sliding window's two edge singletons all dropped) and the real
    # vocab must be deeper than the demo's 256
    assert len(floored) <= len(freqs) - 400
    assert len(top) > 256

    # the sampled-training path is deterministic (fixed seed): two runs
    # produce the identical merge table and therefore identical counts
    a = (q_doc_bpe_real(spark, str(tmp_path), vocab_words=512, n_merges=64,
                        min_freq=2, sample_fraction=0.5)
         .toPandas().sort_values("lang").reset_index(drop=True))
    b = (q_doc_bpe_real(spark, str(tmp_path), vocab_words=512, n_merges=64,
                        min_freq=2, sample_fraction=0.5)
         .toPandas().sort_values("lang").reset_index(drop=True))
    assert a.equals(b)
    # sampling trains on fewer docs but ENCODES all of them
    assert list(a["docs"]) == list(got["docs"])


_LANGID_SAMPLES = {
    "en": ["the cat and the dog ran to the park in the morning",
           "this is the house of the man and for the children"],
    "de": ["der hund und die katze sind nicht mit dem mann",
           "das haus ist nicht der garten und die sonne"],
    "es": ["el perro y la casa que los vecinos una para con",
           "la luna que el sol una noche para los amigos"],
    "fr": ["le chien et les chats dans une maison pour est",
           "les enfants dans le jardin une fois pour est bien"],
    "pt": ["uma casa mais bonita quando isso muito ela pelo",
           "quando ela chega isso fica muito bom pelo caminho"],
    "it": ["che cosa di il per sono questo della giornata",
           "questo libro di il maestro per sono della scuola"],
    "nl": ["het huis een boom niet aan ook maar voor ons",
           "een man niet aan het werk maar ook voor hem"],
    "pl": ["nie jest tak jak ale czy bardzo dobrze dzisiaj",
           "czy tak jest ale nie bardzo jak wczoraj rano"],
    "tr": ["bir ev ve bu ile daha olarak gibi guzel",
           "bu sehir bir ruya gibi ve daha olarak ile"],
    "sv": ["och att det som inte med har varit bra",
           "det har och att som inte med kommer idag"],
    "id": ["yang dan untuk dengan tidak ini itu bagus",
           "ini itu yang dan dengan tidak untuk kami"],
    "vi": ["đường phố ở hà nội rất đẹp vào buổi sáng",
           "người dân thường đi chợ mua đồ ăn tươi"],
    "ja": ["これは日本語のテストです", "きょうは天気がいいですね",
           # kanji-heavy news style: far more han than kana — the
           # weighted-kana score must still beat the shared-han zh score
           "東京都議会議員選挙は本日実施された"],
    "ko": ["한국어 문장입니다 오늘", "날씨가 좋습니다 정말"],
    "zh": ["今天天气很好我们去公园散步", "这是一个中文测试句子"],
    "ru": ["сегодня хорошая погода и мы идем в парк",
           "это предложение написано на русском языке"],
    "ar": ["اليوم الطقس جميل ونحن نذهب الى الحديقة",
           "هذه جملة مكتوبة باللغة العربية"],
    "hi": ["आज मौसम बहुत अच्छा है और हम बाहर जाएंगे",
           "यह वाक्य हिंदी में लिखा गया है"],
    "el": ["σημερα ο καιρος ειναι καλος και παμε βολτα",
           "αυτη η προταση ειναι γραμμενη στα ελληνικα"],
    "he": ["היום מזג האוויר יפה ואנחנו הולכים לפארק",
           "המשפט הזה כתוב בעברית פשוטה"],
    "th": ["วันนี้อากาศดีมากและเราจะไปเดินเล่น",
           "ประโยคนี้เขียนเป็นภาษาไทย"],
}


def test_langid_ngram_accuracy_21_languages(spark):
    """VERDICT r2 #6: the marker langid covers 21 languages (9 script
    classes + 12 latin stopword profiles) and scores >= 95% on a labeled
    synthetic multi-language corpus (deterministic argmax, scan-local)."""
    from exstruct_spark.queries import _LANGID_MARKERS, langid_predict

    assert len(_LANGID_MARKERS) >= 15
    rows = [(lang, t) for lang, ts in _LANGID_SAMPLES.items() for t in ts]
    df = spark.createDataFrame(rows, "lang string, text string")
    pdf = langid_predict(df).toPandas()
    acc = (pdf["predicted"] == pdf["lang"]).mean()
    assert acc >= 0.95, pdf[pdf["predicted"] != pdf["lang"]]
    # every accepted prediction clears the margin bar; margins are
    # integral weighted-hit counts
    accepted = pdf[pdf["predicted"] != "unknown"]
    assert (accepted["margin"] >= 2).all()
    # every marker language is exercised by the corpus
    assert set(_LANGID_SAMPLES) == set(_LANGID_MARKERS)


def test_langid_margin_rejects_ambiguous_docs(spark):
    """VERDICT r4 #8: the reject option.  Mixed-language and near-empty
    docs must route to 'unknown' via the argmax margin (winner must beat
    the runner-up by >= LANGID_MARGIN weighted hits), while clean
    single-language docs keep their label."""
    from exstruct_spark.queries import LANGID_MARGIN, langid_predict

    rows = [
        # mixed en/fr — balanced stopword mass, margin collapses
        ("mixed", "the cat and the dog le chien et les chats dans une"),
        # mixed de/nl
        ("mixed", "der hund und die katze het huis een boom niet aan"),
        # near-empty: zero or one stray marker hit
        ("empty", "x"),
        ("empty", "the"),
        ("empty", "42 17 99"),
        # clean controls — must NOT be rejected
        ("en", "the cat and the dog ran to the park in the morning"),
        ("ja", "これは日本語のテストです"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    pdf = langid_predict(df).toPandas()
    by_text = {r["text"]: r for _, r in pdf.iterrows()}
    for lang, text in rows:
        got = by_text[text]
        if lang in ("mixed", "empty"):
            assert got["predicted"] == "unknown", (text, dict(got))
            assert got["margin"] < LANGID_MARGIN, (text, dict(got))
        else:
            assert got["predicted"] == lang, (text, dict(got))
            assert got["margin"] >= LANGID_MARGIN


def test_ann_ivf_recall_at_3(spark):
    """VERDICT r2 #7: IVF (hash-sampled centroids, nprobe=2) recall@3 vs
    brute-force cosine.  Deterministic corpus + expressions -> the number
    is stable; 0.367 measured at sf0.001 / 0.400 at sf0.01, pinned with
    margin (chance at 2/16 cells probed is 0.125).  Full A/B table in
    BENCH/BASELINE.md round-3 section."""
    from exstruct_spark.queries import QUERIES

    ivf = QUERIES["ann_ivf_topk"](spark, SF_DIR).toPandas()
    brute = QUERIES["ann_cosine_topk"](spark, SF_DIR).toPandas()
    recalls = []
    for qid in brute["qid"].unique():
        b = set(brute[brute["qid"] == qid]["cid"])
        got = set(ivf[ivf["qid"] == qid]["cid"])
        recalls.append(len(b & got) / len(b))
    assert sum(recalls) / len(recalls) >= 0.3


def test_host_pagerank_matches_pure_python(spark):
    """The distributed power iteration equals a pure-Python PageRank on
    the same extracted edge list (same damping/dangling/teleport math),
    and ranks form a probability distribution."""
    from exstruct_spark.queries import norm_host_py, q_pages_host_pagerank

    got = q_pages_host_pagerank(spark, "unused", iters=10).toPandas()
    assert abs(got["rank"].sum() - 1.0) < 1e-4

    # rebuild the edge list the same way (same normalized host rule),
    # then iterate in pure Python
    from exstruct_spark.pages import gen_pages_pdf
    from exstruct_spark.golden import extract_pdf
    import json as _json

    pdf = extract_pdf(gen_pages_pdf(range(500)))
    edges = set()
    for url, xj in zip(pdf["url"], pdf["extraction_json"]):
        src = norm_host_py(url)
        x = _json.loads(xj)
        for href in x.get("links_map", {}):
            dst = norm_host_py(href) or src
            if src and dst:
                edges.add((src, dst))
    nodes = sorted({h for e in edges for h in e})
    n = len(nodes)
    out_deg = {}
    for s, _t2 in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {h: 1.0 / n for h in nodes}
    d = 0.85
    for _ in range(10):
        inc = {h: 0.0 for h in nodes}
        for s, t in edges:
            inc[t] += rank[s] / out_deg[s]
        dangling = sum(rank[h] for h in nodes if h not in out_deg)
        new = {
            h: (1 - d) / n + d * (inc[h] + dangling / n) for h in nodes
        }
        delta = sum(abs(new[h] - rank[h]) for h in nodes)
        rank = new
        if delta < 1e-8:  # same early-stop rule as the Spark loop
            break
    want = {h: round(r, 6) for h, r in rank.items()}
    got_map = dict(zip(got["host"], got["rank"]))
    assert set(got_map) == set(want)
    for h in want:
        assert abs(got_map[h] - want[h]) <= 1e-6, (h, got_map[h], want[h])


def test_pagerank_early_stop_and_broadcast_dangling(spark):
    """VERDICT r3 wrong-#3: the dangling 1-row aggregate is broadcast
    into the update (no per-round value collect) and an L1-delta early
    stop ends converged graphs before ``iters``: on a symmetric K3 the
    uniform distribution is the fixpoint, so the loop exits after ONE
    round with exact uniform ranks."""
    from exstruct_spark.queries import _pagerank_iterate

    k3 = [
        ("a", "b"), ("a", "c"), ("b", "a"),
        ("b", "c"), ("c", "a"), ("c", "b"),
    ]
    edges = spark.createDataFrame(k3, "src string, dst string").localCheckpoint()
    stats: dict = {}
    got = _pagerank_iterate(
        spark, edges, iters=50, d=0.85, tol=1e-8, stats=stats
    ).toPandas()
    assert stats["rounds"] == 1, stats
    assert list(got["rank"]) == pytest.approx([1 / 3] * 3, abs=1e-6)

    # asymmetric graph with a dangling node: still converges well before
    # the cap, ranks sum to 1, and the plan never collects the dangling
    # value (verified structurally: BroadcastNestedLoopJoin present once
    # per round for the 1-row cross join)
    g = [("a", "b"), ("b", "c"), ("a", "c")]  # c dangles
    edges2 = spark.createDataFrame(g, "src string, dst string").localCheckpoint()
    stats2: dict = {}
    got2 = _pagerank_iterate(
        spark, edges2, iters=200, d=0.85, tol=1e-8, stats=stats2
    ).toPandas()
    assert stats2["rounds"] < 200
    assert got2["rank"].sum() == pytest.approx(1.0, abs=1e-4)
    assert got2.iloc[0]["host"] == "c"  # sink node accumulates rank


def test_host_key_normalization(spark):
    """VERDICT r3 #4: host-graph keys share the kernel's RFC-3986 host
    rule — 'HTTPS://User@Example.COM:443/x' and 'https://example.com/y'
    are ONE logical host; non-default ports stay distinct; and the
    JVM-side _host equals the pure-Python twin on every adversarial case."""
    from pyspark.sql import functions as F

    from exstruct_spark.queries import _host, norm_host_py

    urls = [
        "HTTPS://User@Example.COM:443/x",
        "https://example.com/y",
        "HTTP://EXAMPLE.com:80/z",
        "http://example.com/plain",
        "http://example.com:8080/alt",
        "https://a:b@Host.io:8443/",
        "http://h?x=1",
        "https://[2001:db8::1]:443/v6",
        "/relative/path",
        "mailto:x@y.z",
        "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(_host("url")).collect()]
    want = [norm_host_py(u) for u in urls]
    assert got == want, list(zip(urls, got, want))
    # one node per logical host: the first four all collapse to example.com
    assert want[0] == want[1] == want[2] == want[3] == "example.com"
    # non-default port is a different origin
    assert want[4] == "example.com:8080"


def test_quality_rule_denominators_agree(spark):
    """Review r3 third pass: doc_gopher_rules and doc_repetition_rules
    must partition the SAME per-lang corpus (a blank-line doc previously
    vanished from the repetition accounting)."""
    from exstruct_spark.queries import QUERIES

    g = QUERIES["doc_gopher_rules"](spark, SF_DIR).toPandas()
    r = QUERIES["doc_repetition_rules"](spark, SF_DIR).toPandas()
    assert dict(zip(g["lang"], g["docs"])) == dict(zip(r["lang"], r["docs"]))


def test_substring_dedup_planted_spans(spark, tmp_path):
    """Semantics pin for doc_substring_dedup beyond the oracle: a doc
    sharing EXACTLY one 20-token span with another is flagged with
    exactly one duplicated window each; disjoint docs stay clean; a doc
    under 20 tokens contributes no windows at all."""
    from exstruct_spark.queries import SUBSTR_DEDUP_K, q_doc_substring_dedup

    k = SUBSTR_DEDUP_K
    span = " ".join(f"shared{i}" for i in range(k))
    docs = [
        (0, f"alpha one {span} beta two three four five six seven", "en"),
        (1, f"gamma nine {span} delta ten eleven twelve thirteen x", "en"),
        (2, "totally unrelated words " + " ".join(f"u{i}" for i in range(30)),
         "de"),
        (3, "short doc", "de"),
    ]
    spark.createDataFrame(
        [(d, t, lang, len(t)) for d, t, lang in docs],
        "doc_id bigint, text string, lang string, n_chars bigint",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = (
        q_doc_substring_dedup(spark, str(tmp_path))
        .toPandas().set_index("lang")
    )
    # en: both docs carry the shared span -> exactly 1 dup window each
    # (the span is flanked by differing tokens, so only the pure-span
    # window collides)
    assert got.loc["en", "docs"] == 2
    assert got.loc["en", "docs_with_dup_span"] == 2
    assert got.loc["en", "dup_windows"] == 2
    # de: the long unrelated doc is clean; the short doc has no windows
    assert got.loc["de", "docs"] == 1
    assert got.loc["de", "docs_with_dup_span"] == 0
    assert got.loc["de", "dup_windows"] == 0


def test_ann_ivf_planted_clusters_recall(spark, tmp_path):
    """VERDICT r4 #5: the IVF machinery has to WIN somewhere, not just
    have the right shape.  On a corpus with real cluster structure
    (16 Gaussian clusters in 64-d, center separation ~28 sigma) the
    hash-seeded + one-Lloyd-step IVF at nprobe=2 must reach recall@3
    >= 0.9 — each cluster's members land in the same Voronoi cell, so a
    query probing its own cell sees all its true neighbors.  The
    near-uniform driver corpus stays pinned at >= 0.3 by
    ``test_ann_ivf_recall_at_3`` (probe-coverage-limited there); this
    pair evidences the operator's quality claim instead of asserting
    it."""
    import numpy as np
    import pandas as pd

    from exstruct_spark.queries import QUERIES

    rng = np.random.default_rng(99)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    labels = []
    for ci in range(16):
        pts.append(centers[ci] + 0.05 * rng.normal(size=(32, 64)))
        labels.extend([ci] * 32)
    x = np.concatenate(pts)
    order = rng.permutation(len(x))
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(x), dtype=np.int64),
        "embedding": [
            np.asarray(x[i], dtype=np.float32).tolist() for i in order
        ],
        "label": np.asarray(labels, dtype=np.int32)[order],
    })
    sf_dir = str(tmp_path)
    pdf.to_parquet(sf_dir + "/embeddings.parquet", index=False)

    ivf = QUERIES["ann_ivf_topk"](spark, sf_dir).toPandas()
    brute = QUERIES["ann_cosine_topk"](spark, sf_dir).toPandas()
    recalls = []
    for qid in brute["qid"].unique():
        b = set(brute[brute["qid"] == qid]["cid"])
        got = set(ivf[ivf["qid"] == qid]["cid"])
        recalls.append(len(b & got) / len(b))
    assert sum(recalls) / len(recalls) >= 0.9, recalls
