"""Independent correctness checks. Pure Python over the generator's
in-memory model; nothing here calls Spark or the engine's planner.

* :class:`SearchOracle` — TF-IDF postings of the generated corpus,
  built in pure Python, evaluated by the reference algebra of
  ``tests/brute_force.py``.
* :func:`check_page` — one rendered page against the oracle's ranking.
* :func:`union_find_labels` / :func:`check_split` — cluster labels and
  cluster-atomic splits against the emitted near-duplicate pairs.
* :func:`check_topk` / :func:`recall_at_k` — ANN result shape and
  recall against exact neighbours.

Each check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import math
from collections import defaultdict

from hadoop_search_spark.plans import parser as P
from tests import brute_force

REL_TOL = 1e-9
PAGE_SIZE = 10
# floor on a run's MEAN recall@10. One request may legitimately score 0
# at nprobe=2: a vector on a cell boundary can have all ten true
# neighbours in cells it ranks 4th or later. Healthy runs measure
# 0.58-0.70; an index probing the wrong cells scores near 0.
RECALL_FLOOR = 0.4


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


class SearchOracle:
    """TF-IDF postings and CNF evaluation for a list of documents
    ``{doc_id, tokens}``. Tokens are already index terms (the generated
    vocabulary is Porter fixed points)."""

    def __init__(self, docs: list[dict], stopwords: list[str]):
        self.stop = frozenset(stopwords)
        self.universe = {d["doc_id"] for d in docs}
        pos: dict[str, dict[int, list[int]]] = defaultdict(dict)
        for d in docs:
            for i, w in enumerate(d["tokens"], start=1):
                if w not in self.stop:
                    pos[w].setdefault(d["doc_id"], []).append(i)
        n = len(docs)
        self.terms: dict[str, dict[int, tuple[float, list[int]]]] = {}
        for w, by_doc in pos.items():
            idf = math.log(n / len(by_doc))
            self.terms[w] = {
                doc: ((1.0 + math.log10(len(p))) * idf, p) for doc, p in by_doc.items()
            }

    def df(self, term: str) -> int:
        return len(self.terms.get(term, {}))

    def search(self, query: str) -> dict[int, float]:
        """query -> {doc_id: score}, evaluated by ``tests/brute_force.py``
        over this corpus's postings; a root negation complements against
        the document universe with score 0 (the planner's convention)."""
        return brute_force.search(query, self.terms, self.universe, self.stop)

    def query_df(self, query: str) -> int:
        """Sum of the document frequencies of the query's terms — the
        postings a term-at-a-time evaluator must read."""
        terms = P.query_terms(P.parse_query(query, self.stop))
        return sum(self.df(t) for t in terms)


def check_results(got: dict[int, float], want: dict[int, float]) -> list[str]:
    """A full result set: same documents, scores equal to rounding."""
    problems = []
    if got.keys() != want.keys():
        miss = sorted(want.keys() - got.keys())[:5]
        extra = sorted(got.keys() - want.keys())[:5]
        problems.append(f"doc set differs: missing {miss} extra {extra}")
    for d in got.keys() & want.keys():
        if not _close(got[d], want[d]):
            problems.append(f"doc {d}: score {got[d]!r} != {want[d]!r}")
            break
    return problems


def check_page(
    total: int, rows: list[dict], page: int, want: dict[int, float],
    texts: dict[int, str],
) -> list[str]:
    """One ``render_page`` answer: the exact total, and the rows of page
    ``page`` of the expected ranking (score desc, doc_id asc) with their
    scores. Two documents may trade places only when their scores agree
    to rounding without being equal: float sums may round either way,
    while equal scores must fall back to doc_id order."""
    problems = []
    if total != len(want):
        problems.append(f"total {total} != {len(want)}")
    last = max(1, -(-len(want) // PAGE_SIZE))
    p = min(max(page, 1), last)
    ranked = sorted(want, key=lambda d: (-want[d], d))
    exp_ids = ranked[(p - 1) * PAGE_SIZE : p * PAGE_SIZE]
    if len(rows) != len(exp_ids):
        problems.append(f"page {page} has {len(rows)} rows, want {len(exp_ids)}")
        return problems
    for r, e in zip(rows, exp_ids):
        d = r["doc_id"]
        if d not in want:
            problems.append(f"doc {d} is not a result")
        elif not _close(r["score"], want[d]):
            problems.append(f"doc {d}: score {r['score']!r} != {want[d]!r}")
        elif d != e and (want[d] == want[e] or not _close(want[d], want[e])):
            problems.append(f"page {page} has doc {d} where doc {e} ranks")
        if texts.get(d) and not r["snippet"]:
            problems.append(f"doc {d}: empty snippet")
    return problems


def union_find_labels(nodes, pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def check_split(rows: list[tuple[int, int, str]], pairs, kept: set[int]) -> list[str]:
    """``rows`` are the exported ``(doc_id, component, split)``: one row
    per kept document, components equal to union-find over the emitted
    pairs, and both ends of every pair in the same split."""
    problems = []
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)) or set(ids) != kept:
        problems.append(
            f"exported {len(set(ids))} distinct of {len(ids)} rows, kept {len(kept)}"
        )
    comp = {d: c for d, c, _s in rows}
    split = {d: s for d, _c, s in rows}
    pairs = [(a, b) for a, b in pairs if a in kept and b in kept]
    want = union_find_labels(sorted(kept), pairs)
    wrong = [d for d in kept if comp.get(d) != want[d]]
    if wrong:
        problems.append(f"{len(wrong)} component labels differ, e.g. doc {wrong[0]}")
    torn = [(a, b) for a, b in pairs if split.get(a) != split.get(b)]
    if torn:
        problems.append(f"{len(torn)} near-duplicate pairs straddle splits")
    return problems


def check_topk(rows, query_id: int, k: int, valid_ids) -> list[str]:
    """ADC top-k shape: ``k`` distinct in-index neighbours, ranks 1..k,
    distances non-decreasing, the query itself excluded."""
    rows = sorted(rows, key=lambda r: r["rn"])
    problems = []
    ids = [r["vec_id"] for r in rows]
    if [r["rn"] for r in rows] != list(range(1, k + 1)):
        problems.append(f"ranks {[r['rn'] for r in rows]}")
    if len(set(ids)) != len(ids) or query_id in ids or not set(ids) <= valid_ids:
        problems.append(f"bad neighbour ids {ids}")
    d = [r["adist9"] for r in rows]
    if any(b < a for a, b in zip(d, d[1:])):
        problems.append("distances not ascending")
    return problems


def recall_at_k(got_ids, true_ids) -> float:
    return len(set(got_ids) & set(true_ids)) / max(1, len(true_ids))
