"""Result presentation layer — reference operators O2/O5, S8, P10-P12
(SURVEY.md §2.2, §2.5; `hadoop_wiki_search/util/CorpusFetcher.java`,
`util/SearchResult.java`).

The reference materializes every result docId into a ``SearchResult``
(pages of 10) on a single reducer, then point-fetches page documents
from a MapFile. Here:

* ranking is ``orderBy(score desc, doc_id asc)`` — distributed
  TakeOrderedAndProject when followed by a limit;
* serving a page is one Spark action (:func:`top_with_total`): the
  unranked plan is observed by an exact ``count`` (a CollectMetrics
  node *below* the top-k, so every result row passes it), ranked by
  a distributed ``limit(page*10)`` (per-partition heaps + merge), and
  the page is sliced from that prefix on the driver — the query plan
  runs once, with no separate count and no global single-partition
  window. :func:`page_slice` keeps the windowed form for paginations
  that stay a DataFrame;
* document fetch is a pushed-down ``doc_id IN (...)`` filter against
  the sorted corpus parquet (row-group pruning — the MapFile
  point-get, S8);
* snippets/highlighting run per fetched page (≤10 docs) driver-side,
  identical logic exposed as plain Python; at pipeline scale the same
  functions apply distributed via a pandas UDF.

``SearchResult`` also ports the reference's wire format
``count;id,…;id,…`` (`util/SearchResult.java:93-110`) for parity
tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Row, Window
from pyspark.sql import functions as F

PAGE_SIZE = 10  # SearchResult.java:42
SNIPPET_RANGE = 300  # CorpusFetcher.java:123
HIGHLIGHT_START = '<span style="background-color: #FFFF00">'
HIGHLIGHT_END = "</span>"


# ---------- ranking + pagination (O2, O5) -----------------------------


def rank(results: DataFrame) -> DataFrame:
    """Score-descending ranking, doc_id ascending tie-break."""
    return results.orderBy(F.desc("score"), F.asc("doc_id"))


def page_slice(
    ranked: DataFrame,
    page: int,
    page_size: int = PAGE_SIZE,
    order_by: list | None = None,
) -> DataFrame:
    """Rows of 1-based ``page``. Distributed: top ``page*size`` via
    limit (per-partition heaps + merge), then a window over that
    bounded prefix only. ``order_by`` defaults to the search ranking
    (score desc, doc_id asc); pass explicit orderings for other
    paginations."""
    page = max(page, 1)
    order = order_by or [F.desc("score"), F.asc("doc_id")]
    prefix = ranked.orderBy(*order).limit(page * page_size)
    w = Window.orderBy(*order)
    return (
        prefix.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > (page - 1) * page_size)
        .drop("rn")
    )


def top_with_total(results: DataFrame, n: int) -> tuple[int, list[Row]]:
    """``(exact total, top-n rows)`` of unranked ``(doc_id, score)``
    results in rank order, from ONE Spark action.

    The count is an observed metric placed below the ranking, so the
    physical plan is TakeOrderedAndProject over CollectMetrics over
    the results: every row passes the counter on its way into the
    per-partition heaps. Observing an already-sorted frame instead
    would sit the counter above a full range-partitioned Sort.

    The metric is read only after ``collect()`` returned —
    ``Observation.get`` blocks forever when the action failed."""
    obs = Observation()
    rows = rank(results.observe(obs, F.count(F.lit(1)).alias("n"))).limit(n).collect()
    return obs.get["n"], rows


@dataclass
class SearchResult:
    """Reference parity type: all result ids chunked into pages of 10
    (`util/SearchResult.java:23-46`). Driver-side — :func:`render_page`
    serves one page without materializing the ids."""

    count: int
    pages: list[list[int]]

    # driver-side id materialization is capped: the exact total still
    # comes from the observed count of the same top-k action
    # (:func:`top_with_total`), but only the first max_ids ids
    # (1000 pages) ever reach the driver / the query cache — nobody
    # pages past that, and an unbounded collect would reintroduce the
    # reference's single-reducer materialization this port removes
    MAX_IDS = 10_000

    @classmethod
    def from_ranked(
        cls,
        results: DataFrame,
        page_size: int = PAGE_SIZE,
        max_ids: int = MAX_IDS,
    ) -> "SearchResult":
        """``(doc_id, score)`` results — pass them unranked, as
        ``engine.plan(q)``, so the top-k stays distributed — to the
        exact total and the first ``max_ids`` ids in rank order."""
        count, rows = top_with_total(results, max_ids)
        ids = [r.doc_id for r in rows]
        pages = [ids[i : i + page_size] for i in range(0, len(ids), page_size)]
        return cls(count=count, pages=pages)

    def page(self, n: int) -> list[int]:
        """1-based page fetch, clamped to the last page
        (`util/CorpusFetcher.java:88`)."""
        if not self.pages:
            return []
        return self.pages[min(max(n, 1), len(self.pages)) - 1]

    # wire format: "count;id,…;id,…" (SearchResult.java:93-110)
    def serialize(self) -> str:
        return ";".join([str(self.count)] + [",".join(map(str, p)) for p in self.pages])

    @classmethod
    def deserialize(cls, s: str) -> "SearchResult":
        parts = s.split(";")
        count = int(parts[0])
        pages = [[int(x) for x in p.split(",") if x] for p in parts[1:] if p]
        return cls(count=count, pages=pages)


# ---------- document fetch (S8, P10) ----------------------------------


def fetch_docs(documents: DataFrame, doc_ids: list[int]) -> DataFrame:
    """Point lookups as a pushed-down IN filter — the Spark form of the
    reference's MapFile random access (`util/CorpusFetcher.java:97-102`)."""
    if not doc_ids:
        return documents.limit(0)
    return documents.filter(F.col("doc_id").isin(*[int(d) for d in doc_ids]))


def unescape_html(col: F.Column) -> F.Column:
    """`&#60;`/`&#62;` → `<`/`>` (`util/CorpusFetcher.java:255`, P10)."""
    return F.regexp_replace(F.regexp_replace(col, "&#60;", "<"), "&#62;", ">")


# ---------- highlight-word selection (NOT-aware, P12) -----------------


def highlight_words(query: str) -> list[str]:
    """Words to highlight, honoring negation via De Morgan
    (`util/CorpusFetcher.java:196-228`): a positive literal in a
    positive clause highlights; a ``not`` literal highlights only
    inside a ``not (...)`` clause (double negation).

    Derived from the real query parser (unstemmed, no stop words)
    rather than a re-implementation of the grammar — the reference's
    separate hand-rolled split diverges from its own parser on
    no-space negations like ``not(...)`` and on words containing
    "and"/"or"."""
    from hadoop_search_spark.plans import parser as P

    tree = P.parse_query(query, stem=lambda w: w)
    out: list[str] = []
    for clause in tree.children:
        neg = isinstance(clause, P.Or) and clause.negated
        for operand in clause.children:
            leaves = operand.children if isinstance(operand, P.And) else (operand,)
            for leaf in leaves:
                if isinstance(leaf, P.Word) and not neg:
                    out.append(leaf.term)
                elif isinstance(leaf, P.ExceptWord) and neg:
                    out.append(leaf.term)
    return [w for w in out if w]


# ---------- snippets (P11) + highlighting (P12) -----------------------


def _ordinal_index_of(s: str, sub: str, n: int) -> int:
    """Index of the n-th occurrence, or the last one if fewer, or -1
    (`util/CorpusFetcher.java:230-238`)."""
    if not sub:
        return -1
    last = -1
    pos = s.find(sub)
    n -= 1
    while n > 0 and pos != -1:
        last = pos
        pos = s.find(sub, pos + 1)
        n -= 1
    return last if pos == -1 else pos


def make_snippet(content: str, highlights: list[str], snippet_range: int = SNIPPET_RANGE) -> str:
    """±window snippet around (up to) the 3rd occurrence of each
    highlight word, overlapping windows merged, joined with "…"
    (`util/CorpusFetcher.java:120-194`).

    Deviation: interval clamping at the end of the document shifts the
    window start by the exact overflow (the reference's arithmetic is
    off by two characters there).
    """
    lower = content.lower()
    pos = sorted(
        p for p in (_ordinal_index_of(lower, h, 3) for h in highlights) if p != -1
    )
    if not pos:
        if len(content) < snippet_range:
            return content.replace("\n", "")
        return content[:snippet_range].replace("\n", "") + "..."

    word_range = snippet_range // len(pos)
    intervals: list[list[int]] = []
    i = 0
    while i < len(pos):
        cur = [pos[i] - word_range // 2, pos[i] + word_range // 2]
        while i + 1 < len(pos) and pos[i + 1] - word_range // 2 < cur[1]:
            cur[1] = pos[i + 1] + word_range // 2
            i += 1
        intervals.append(cur)
        i += 1

    parts: list[str] = []
    n = len(content)
    for s, e in intervals:
        if s < 0:
            e += -s
            s = 0
        if e > n - 1:
            s = max(0, s - (e - (n - 1)))
            e = n - 1
        chunk = content[s : e + 1]
        parts.append(("..." if s != 0 else "") + chunk + ("..." if e != n - 1 else ""))
    snippet = "".join(parts)
    return highlight(snippet, highlights).replace("\n", "")


def highlight(text: str, words: list[str]) -> str:
    """Wrap each word (and its Capitalized form) in the highlight span
    (`util/CorpusFetcher.java:186-190`).

    Single pass over the text with one alternation — sequential
    re-substitution (the reference's approach) re-scans its own
    injected markup, so a query word like "span" or "color" would
    corrupt previously inserted tags."""
    forms = {f for w in words if w for f in (w, w[0].upper() + w[1:])}
    if not forms:
        return text
    pattern = r"\b(" + "|".join(
        re.escape(f) for f in sorted(forms, key=len, reverse=True)
    ) + r")\b"
    return re.sub(pattern, rf"{HIGHLIGHT_START}\1{HIGHLIGHT_END}", text)


# ---------- end-to-end page rendering ---------------------------------


def render_page(
    engine,
    documents: DataFrame,
    query: str,
    page: int = 1,
    text_col: str = "text",
) -> tuple[int, list[dict]]:
    """Full reference query lifecycle step 8 (SURVEY.md §3.1): rank,
    count, fetch the requested page's documents, snippet + highlight.

    The query plan runs once: :func:`top_with_total` returns the exact
    total with the ranked ``page*10`` prefix, and the page is sliced
    from it — clamped to the last page like the reference
    (CorpusFetcher.java:88), which the prefix always holds because
    ``total < page*10`` whenever the request is past the end. Pages
    beyond ``SearchResult.MAX_IDS // PAGE_SIZE`` clamp to that page,
    so a huge ``page`` never ships an unbounded prefix to the driver;
    the total stays exact. Two Spark actions per request: the ranked
    prefix and the document fetch.

    Returns (total_result_count, [{doc_id, score, snippet}, ...]).
    """
    page = min(max(page, 1), SearchResult.MAX_IDS // PAGE_SIZE)
    total, prefix = top_with_total(engine.plan(query), page * PAGE_SIZE)
    page = min(page, max(1, -(-total // PAGE_SIZE)))
    rows = prefix[(page - 1) * PAGE_SIZE : page * PAGE_SIZE]
    words = highlight_words(query)
    docs = {
        r.doc_id: r[text_col]
        for r in fetch_docs(documents, [r.doc_id for r in rows])
        .select("doc_id", text_col)
        .collect()
    }
    out = []
    for r in rows:
        out.append(
            {
                "doc_id": r.doc_id,
                "score": r.score,
                "snippet": make_snippet(docs.get(r.doc_id, ""), words),
            }
        )
    return total, out
