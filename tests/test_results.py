"""Results layer tests: pagination, SearchResult wire format, snippet,
NOT-aware highlighting, doc fetch, query cache."""

import threading

import pytest

from pyspark.sql import functions as F

from hadoop_search_spark.plans.cache import QueryCache
from hadoop_search_spark.plans.results import (
    PAGE_SIZE,
    SearchResult,
    _ordinal_index_of,
    fetch_docs,
    highlight,
    highlight_words,
    make_snippet,
    page_slice,
    rank,
    render_page,
    unescape_html,
)


def _ranked(spark, n=25):
    rows = [(i, float(n - i)) for i in range(1, n + 1)]  # doc i score n-i
    return rank(spark.createDataFrame(rows, "doc_id BIGINT, score DOUBLE"))


def test_page_slice(spark):
    r = _ranked(spark)
    p1 = [x.doc_id for x in page_slice(r, 1).collect()]
    p3 = [x.doc_id for x in page_slice(r, 3).collect()]
    assert p1 == list(range(1, 11))
    assert p3 == list(range(21, 26))  # short last page


def test_search_result_roundtrip():
    # reference round-trip string (SearchResult.java:123-127)
    s = "12;1,2,3,4,5,6,7;4,23,34,23,1"
    sr = SearchResult.deserialize(s)
    assert sr.count == 12
    assert sr.pages == [[1, 2, 3, 4, 5, 6, 7], [4, 23, 34, 23, 1]]
    assert sr.serialize() == s


def test_search_result_page_clamp(spark):
    sr = SearchResult.from_ranked(_ranked(spark))
    assert sr.count == 25 and len(sr.pages) == 3
    assert sr.page(99) == sr.page(3)  # clamp to last (CorpusFetcher.java:88)
    assert sr.page(0) == sr.page(1)
    assert SearchResult(0, []).page(1) == []


def test_ordinal_index_of():
    s = "ab ab ab ab"
    assert _ordinal_index_of(s, "ab", 3) == 6  # 3rd occurrence
    assert _ordinal_index_of("ab ab", "ab", 3) == 3  # last if fewer
    assert _ordinal_index_of("xyz", "ab", 3) == -1


def test_highlight_words_not_aware():
    # positive words highlight; 'not x' skipped unless in a not-clause
    assert highlight_words("cake and not vanilla") == ["cake"]
    assert highlight_words("not (cake or vanilla)") == []
    # double negation: not-literal inside not-clause highlights
    assert highlight_words("not (not cake or vanilla)") == ["cake"]
    assert highlight_words("(a or b) and c d") == ["a", "b", "c", "d"]
    # word-boundary: 'normal'/'android' survive intact
    assert highlight_words("normal and android") == ["normal", "android"]


def test_highlight_markup_words_not_corrupted():
    # query words matching the injected markup must not rewrite it
    got = highlight("the span has color here", ["span", "color", "has"])
    assert got.count("<span style=") == 3
    assert "<<" not in got and got.count("</span>") == 3


def test_highlight_words_no_space_negation():
    # 'not(...)' (no space) must follow parser semantics: double
    # negation highlights the inner not-word
    assert highlight_words("x and not(not y or z)") == ["x", "y"]


def test_highlight_wraps_word_and_capitalized():
    got = highlight("Cake and cake and cupcake", ["cake"])
    assert got.count('<span style="background-color: #FFFF00">') == 2
    assert "cupcake" in got  # word boundary respected


def test_snippet_fallback_first_300():
    content = "x" * 400
    got = make_snippet(content, ["missing"])
    assert got == "x" * 300 + "..."
    assert make_snippet("short text", []) == "short text"


def test_snippet_window_and_merge():
    content = ("alpha " * 30) + "cake vanilla " + ("beta " * 30)
    got = make_snippet(content, ["cake", "vanilla"])
    assert "cake" in got and "vanilla" in got
    assert got.startswith("...") and got.endswith("...")
    assert '<span style="background-color: #FFFF00">cake</span>' in got


def test_fetch_docs_and_unescape(spark):
    df = spark.createDataFrame(
        [(1, "&#60;b&#62;hi&#60;/b&#62;"), (2, "x")], "doc_id BIGINT, html STRING"
    )
    got = fetch_docs(df, [1]).select(unescape_html(F.col("html")).alias("html")).collect()
    assert got[0].html == "<b>hi</b>"
    assert fetch_docs(df, []).count() == 0


def test_render_page_end_to_end(spark, documents):
    from hadoop_search_spark.operators.index import build_postings
    from hadoop_search_spark.plans.planner import SearchEngine

    engine = SearchEngine(
        spark, build_postings(documents, num_docs=500), documents=documents
    )
    total, rows = render_page(engine, documents, "spark and stream", page=1)
    assert total > 10 and len(rows) == 10
    assert rows[0]["score"] >= rows[-1]["score"]
    assert any("FFFF00" in r["snippet"] for r in rows)


@pytest.fixture(scope="module")
def engine(spark, documents):
    """Engine over cached postings; ``the`` and ``a`` are stop words
    at query time only, so an all-stop-word query plans as empty."""
    from hadoop_search_spark.operators.index import build_postings
    from hadoop_search_spark.plans.planner import SearchEngine

    postings = build_postings(documents, num_docs=500).cache()
    postings.count()
    yield SearchEngine(spark, postings, documents=documents, stopwords=["the", "a"])
    postings.unpersist()


def _two_pass_page(engine, query, page):
    """Reference for ``render_page``'s rows: the exact total from a
    ``count`` action, then the windowed page of the clamped page
    number from a second evaluation of the query plan."""
    ranked = engine.search(query)
    total = ranked.count()
    last_page = max(1, -(-total // PAGE_SIZE))
    rows = page_slice(rank(ranked), min(max(page, 1), last_page)).collect()
    return total, [(r.doc_id, r.score) for r in rows]


def _render_within(seconds, *args, **kwargs):
    """``render_page`` on a daemon thread: fails instead of hanging
    when the observed total never arrives."""
    out = []
    t = threading.Thread(
        target=lambda: out.append(render_page(*args, **kwargs)), daemon=True
    )
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"render_page did not return in {seconds} s"
    total, rows = out[0]
    return total, [(r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize(
    "query,page,want_total",
    [
        ("spark and stream", 999, 322),  # past the last page: clamp
        ("fast and table and dup", 2, 20),  # total a multiple of PAGE_SIZE
        ("fast and table and dup", 3, 20),  # ... and one page past it
        ("not spark", 2, 113),  # root negation: complement, score 0
        ("spark stream", 1, None),  # two-word soft phrase
        ("the and a", 1, 0),  # all stop words: empty LocalRelation
        ("the", 5, 0),
    ],
)
def test_render_page_matches_two_pass(engine, documents, query, page, want_total):
    total, rows = _render_within(300, engine, documents, query, page)
    assert (total, rows) == _two_pass_page(engine, query, page)
    if want_total is not None:
        assert total == want_total


def test_render_page_clamps_deep_pages(spark, documents):
    """Pages past ``MAX_IDS // PAGE_SIZE`` serve that page; the total
    stays exact."""

    class RangeEngine:  # 10,050 results, doc i ranked i-th
        def plan(self, query):
            return spark.range(1, 10_051).select(
                F.col("id").alias("doc_id"), (1.0 / F.col("id")).alias("score")
            )

    cap = SearchResult.MAX_IDS // PAGE_SIZE
    assert cap == 1_000
    for page in (cap, cap + 1, 10**9):
        total, rows = _render_within(300, RangeEngine(), documents, "q", page)
        assert total == 10_050
        assert [d for d, _ in rows] == list(range(9_991, 10_001))


def _job_count(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is fed async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_render_page_runs_the_query_plan_once(spark, engine, documents):
    """A served page costs the jobs of the bare top-k ``collect()``
    plus the one ``fetch_docs`` job — no ``count`` action, no second
    evaluation of the query plan."""
    q, page = "spark and stream", 3
    engine.plan(q)  # warm the engine's one-time vocabulary collect
    rows = []
    topk = _job_count(
        spark, "shape-topk",
        lambda: rows.extend(rank(engine.plan(q)).limit(page * PAGE_SIZE).collect()),
    )
    ids = [r.doc_id for r in rows[-PAGE_SIZE:]]
    fetch = _job_count(
        spark, "shape-fetch",
        lambda: fetch_docs(documents, ids).select("doc_id", "text").collect(),
    )
    served = _job_count(
        spark, "shape-render", lambda: render_page(engine, documents, q, page)
    )
    assert fetch == 1
    assert served == topk + fetch


def test_query_cache_roundtrip(spark, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"))
    assert cache.get("q1") is None
    cache.put("q1", "12;1,2;3")
    cache.put("q2", "1;9")
    assert cache.get("q1") == "12;1,2;3"
    cache.put("q1", "13;1,2,4;5")  # newest wins
    assert cache.get("q1") == "13;1,2,4;5"


def test_catalog_render_page_no_nested_spans(spark):
    """search_render_page must highlight once — make_snippet() already
    applies highlight() internally, so the catalog entry must not wrap
    it again (ADVICE r1: nested '<span ...><span ...>' markup)."""
    import re

    from hadoop_search_spark.catalog import CATALOG

    rows = CATALOG["search_render_page"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    assert any("FFFF00" in r.snippet for r in rows)
    for r in rows:
        assert re.search(r"<span[^>]*>\s*<span", r.snippet) is None
