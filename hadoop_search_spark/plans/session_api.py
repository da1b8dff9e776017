"""High-level search session — the reference's full query lifecycle
(SURVEY.md §3.1) behind one call: cache probe → CNF evaluation →
rank → paginate → cache write → snippet rendering.

Mirrors `code/query/QueryMapred.main` + `util/CorpusFetcher`:
the cache stores the serialized ``SearchResult`` keyed by the exact
query string (`util/CorpusFetcher.java:24,31-71`); a hit skips
evaluation entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hadoop_search_spark.plans.cache import QueryCache
from hadoop_search_spark.plans.planner import SearchEngine
from hadoop_search_spark.plans.results import (
    SearchResult,
    fetch_docs,
    highlight_words,
    make_snippet,
)


class SearchSession:
    """Ties an engine, a corpus, and an optional query cache."""

    def __init__(
        self,
        engine: SearchEngine,
        documents: DataFrame,
        cache: QueryCache | None = None,
        text_col: str = "text",
    ) -> None:
        self.engine = engine
        self.documents = documents
        self.cache = cache
        self.text_col = text_col

    def search_result(self, query: str) -> SearchResult:
        """Cache probe → evaluate → cache write (lifecycle steps 2-7)."""
        query = query.lower()
        if self.cache is not None:
            hit = self.cache.get(query)
            if hit is not None:
                return SearchResult.deserialize(hit)
        # unranked: from_ranked ranks it as a distributed top-k
        sr = SearchResult.from_ranked(self.engine.plan(query))
        if self.cache is not None:
            self.cache.put(query, sr.serialize())
        return sr

    def page(self, query: str, page_num: int = 1) -> tuple[int, list[dict]]:
        """Lifecycle step 8: fetch the page's documents, build
        highlighted snippets. Returns (total, [{doc_id, snippet}])."""
        sr = self.search_result(query)
        ids = sr.page(page_num)
        words = highlight_words(query.lower())
        docs = {
            r.doc_id: r[self.text_col]
            for r in fetch_docs(self.documents, ids)
            .select("doc_id", self.text_col)
            .collect()
        }
        rows = [
            {"doc_id": d, "snippet": make_snippet(docs.get(d, ""), words)}
            for d in ids
        ]
        return sr.count, rows
