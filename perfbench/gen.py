"""Seeded input generators for the lifecycle benchmark.

Every generator derives from one ``numpy.random.default_rng(seed)`` and a
fixed operation order, so the same seed yields byte-identical files. The
program under test only ever sees the files written by :func:`write_inputs`.

* :func:`text_corpus` — documents whose content words follow a Zipf law
  (rank ``r`` has weight ``r**-s``) over a synthetic vocabulary of Porter
  fixed points, interleaved with English function words so that curation's
  quality and language filters keep them, plus planted near-duplicate
  families whose edit chains set pair-graph diameters from 1 to 16.
* :func:`wiki_xml` — the same documents as a MediaWiki-style dump whose
  markup the cleaner removes or unwraps to the exact original tokens.
* :func:`cnf_queries` — unique CNF queries over rare / mid / common
  document-frequency bands, covering every operator shape.
* :func:`aniso_embeddings` — the ``scripts/make_aniso_fixture.py`` recipe
  (1/i spectrum, clusters, rotated off-axis) at any size and seed.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_search_spark.functions.porter import porter_stem

_CONS = "bcdfgklmnprstvz"
_VOWELS = "aeiou"
# parser keywords and words the language-ID profiles score
_RESERVED = frozenset(
    "and or not the of is der und die ist que los les des est une una".split()
)
# all of these are in textstats.STOPWORDS_EN and score as English
ENGLISH_GLUE = ("the", "of", "and", "is", "to", "in", "it", "for", "on", "a")
GLUE_SHARE = 0.4
ZIPF_S = 1.05
DOC_WORDS = (40, 140)  # singleton and appended document lengths
FAMILY_WORDS = 120  # near-duplicate family members
MAX_DIAMETER = 16
NUM_STOP_WORDS = 100  # the CLI `index --stopwords` default
_TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokens_of(text: str) -> list[str]:
    """The index tokenizer's view of generated text, whose only token
    shapes are lowercase words separated by spaces and markup."""
    return _TOKEN_RE.findall(text.lower())


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words of 4+ letters, each its own
    Porter stem (so a query word, its index term and the generator's
    word are one string), in seeded order (= Zipf rank order)."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(2, 5))
        cs = rng.integers(0, len(_CONS), size=n_syl + 1)
        vs = rng.integers(0, len(_VOWELS), size=n_syl)
        w = "".join(_CONS[c] + _VOWELS[v] for c, v in zip(cs[:-1], vs))
        if rng.random() < 0.5:
            w += _CONS[cs[-1]]
        if len(w) < 4 or w in seen or w in _RESERVED or porter_stem(w) != w:
            continue
        seen.add(w)
        words.append(w)
    return words


def _zipf_weights(size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** ZIPF_S
    return w / w.sum()


class _Words:
    """Draws Zipf content words mixed with English glue words."""

    def __init__(self, rng: np.random.Generator, vocab: list[str]):
        self.rng = rng
        self.vocab = vocab
        self.p = _zipf_weights(len(vocab))

    def draw(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, p=self.p)
        glue = self.rng.random(n) < GLUE_SHARE
        g = self.rng.integers(0, len(ENGLISH_GLUE), size=n)
        return [
            ENGLISH_GLUE[gi] if is_glue else self.vocab[j]
            for j, is_glue, gi in zip(idx, glue, g)
        ]


def _doc(doc_id: int, words: list[str]) -> dict:
    return {
        "doc_id": doc_id,
        "title": f"Article {doc_id}",
        "text": " ".join(words),
        "tokens": words,
    }


def text_corpus(
    seed: int, n_singletons: int, vocab_size: int
) -> tuple[list[dict], list[str], dict]:
    """Return ``(docs, vocab, plan)``.

    Singletons have ``DOC_WORDS`` words. Planted families (``plan``
    lists their ids):

    * ``chains`` — one per diameter 1..``MAX_DIAMETER``: member ``i+1``
      rewrites region ``i mod 5`` (17% of the words) of member ``i``, so
      neighbours sit near Jaccard 0.7, between the split (0.5) and dedup
      (0.8) thresholds, and members two steps apart fall below 0.5;
    * ``near_copies`` — a 3-word edit (Jaccard ~0.9): dedup drops them;
    * ``loose`` — 40% rewritten (Jaccard ~0.4): below both thresholds;
    * ``exact`` — byte-identical copies: the exact-hash stage drops them.
    """
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng, vocab_size)
    words = _Words(rng, vocab)
    docs: list[dict] = []
    plan: dict = {"chains": [], "near_copies": [], "loose": [], "exact": []}

    def add(ws: list[str]) -> int:
        docs.append(_doc(len(docs) + 1, ws))
        return len(docs)

    def rewrite(ws: list[str], lo: int, hi: int) -> list[str]:
        out = list(ws)
        out[lo:hi] = words.draw(hi - lo)
        return out

    region = FAMILY_WORDS // 5
    edit = int(region * 0.85)
    for diameter in range(1, MAX_DIAMETER + 1):
        ws = words.draw(FAMILY_WORDS)
        ids = [add(ws)]
        for i in range(diameter):
            lo = (i % 5) * region
            ws = rewrite(ws, lo, lo + edit)
            ids.append(add(ws))
        plan["chains"].append(ids)
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n_singletons)
    for n in lens:
        base = words.draw(int(n))
        first = add(base)
        r = rng.random()
        if r < 0.03:
            lo = int(rng.integers(0, len(base) - 3))
            plan["near_copies"].append((first, add(rewrite(base, lo, lo + 3))))
        elif r < 0.05:
            plan["loose"].append((first, add(rewrite(base, 0, int(n * 0.4)))))
        elif r < 0.07:
            plan["exact"].append((first, add(list(base))))
    return docs, vocab, plan


def append_batch(seed: int, vocab: list[str], n: int, first_id: int) -> list[dict]:
    """``n`` new documents from the same word distribution, ids from
    ``first_id`` (appends require ids disjoint from the index)."""
    rng = np.random.default_rng(seed)
    words = _Words(rng, vocab)
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
    return [_doc(first_id + i, words.draw(int(k))) for i, k in enumerate(lens)]


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wiki_markup(doc: dict, rng: np.random.Generator) -> str:
    """Wrap the document in markup that ``strip_wiki_markup`` removes
    (templates, refs, comments, namespace links) or unwraps to the
    wrapped word (links, piped links, bold)."""
    parts = ["{{Infobox topic|name=Article|kind=synthetic}}"]
    for i, w in enumerate(doc["tokens"]):
        r = rng.random()
        if r < 0.06:
            parts.append(f"[[{w}]]")
        elif r < 0.10:
            parts.append(f"[[Page {i}|{w}]]")
        elif r < 0.13:
            parts.append(f"'''{w}'''")
        else:
            parts.append(w)
        if r > 0.985:
            parts.append("<ref>cited source page</ref>")
        elif r > 0.97:
            parts.append("<!-- editor note -->")
    parts.append("[[Category:Synthetic]]")
    return " ".join(parts)


def wiki_xml(docs: list[dict], seed: int) -> str:
    """A ``<mediawiki>`` dump with one ``<page>`` per document."""
    rng = np.random.default_rng(seed)
    out = ["<mediawiki>"]
    for d in docs:
        out.append(
            "<page><title>{}</title><id>{}</id><revision><text>{}</text>"
            "</revision></page>".format(
                _xml_escape(d["title"]), d["doc_id"],
                _xml_escape(wiki_markup(d, rng)),
            )
        )
    out.append("</mediawiki>")
    return "\n".join(out) + "\n"


def stopword_list(docs: list[dict]) -> list[str]:
    """The index's stop words: the top ``NUM_STOP_WORDS`` words by
    (count desc, word desc)."""
    cnt = Counter(w for d in docs for w in d["tokens"])
    ranked = sorted(cnt.items(), key=lambda x: (x[1], x[0]), reverse=True)
    return [w for w, _c in ranked[:NUM_STOP_WORDS]]


def df_bands(docs: list[dict], stopwords: list[str]) -> dict[str, list[str]]:
    """Non-stop words by document frequency: ``rare`` (df 2-5), ``mid``
    (0.3%-2% of docs), ``common`` (above 2%). Sorted, so seeded sampling
    does not depend on hash order."""
    n = len(docs)
    stop = set(stopwords)
    df: Counter = Counter()
    for d in docs:
        df.update(set(d["tokens"]))
    bands: dict[str, list[str]] = {"rare": [], "mid": [], "common": []}
    for w, f in df.items():
        if w in stop:
            continue
        if 2 <= f <= 5:
            bands["rare"].append(w)
        elif 0.003 * n <= f <= 0.02 * n:
            bands["mid"].append(w)
        elif f > 0.02 * n:
            bands["common"].append(w)
    for name, b in bands.items():
        if not b:
            raise ValueError(f"corpus too small: no {name} words")
        b.sort()
    return bands


# (shape, template, df band per slot). Rare and mid terms keep OR / NOT
# result sets small; common terms make the intersection and phrase paths
# do real work; "any" draws a band per request.
QUERY_SHAPES = (
    ("term", "{a}", ("any",)),
    ("and", "{a} and {b}", ("common", "any")),
    ("or3", "{a} or {b} or {c}", ("any", "mid", "rare")),
    ("not", "{a} and not {b}", ("common", "mid")),
    ("phrase2", "{a} {b}", ("common", "common")),
    ("phrase3", "{a} {b} {c}", ("common", "common", "common")),
    ("cnf_rootneg", "not ({a} or {b}) and not {c}", ("common", "mid", "common")),
    ("cnf_mixed", "{a} or {b} and {c} or not {d}", ("mid", "rare", "common", "mid")),
)


def cnf_queries(
    seed: int, bands: dict[str, list[str]], n: int
) -> list[tuple[str, str, int]]:
    """``n`` unique ``(shape, query, page)`` requests. Request ``k``'s
    shape, page and "any" band follow from ``k`` alone, so every seed
    serves the same mix in the same order; the seed picks the words."""
    rng = np.random.default_rng(seed)
    out: list[tuple[str, str, int]] = []
    seen: set[str] = set()
    while len(out) < n:
        k = len(out)
        shape, tmpl, slot_bands = QUERY_SHAPES[k % len(QUERY_SHAPES)]
        rounds = k // len(QUERY_SHAPES)
        slots = []
        for band in slot_bands:
            if band == "any":
                band = ("rare", "mid", "common")[rounds % 3]
            pool = bands[band]
            slots.append(pool[int(rng.integers(0, len(pool)))])
        q = tmpl.format(**dict(zip("abcd", slots)))
        if len(set(slots)) < len(slots) or q in seen:
            continue
        seen.add(q)
        out.append((shape, q, 1 + k % 3))
    return out


def aniso_embeddings(seed: int, n: int, dim: int, n_clusters: int = 16) -> np.ndarray:
    """Clustered float32 vectors with a 1/i eigenvalue spectrum, rotated
    off the coordinate axes (the ``make_aniso_fixture`` recipe)."""
    rng = np.random.default_rng(seed)
    sd = np.sqrt(1.0 / np.arange(1, dim + 1))
    centers = rng.standard_normal((n_clusters, dim)) * (2.0 * sd)
    labels = rng.integers(0, n_clusters, size=n)
    x = centers[labels] + rng.standard_normal((n, dim)) * sd
    q, r = np.linalg.qr(rng.standard_normal((dim, dim)))
    q = q * np.sign(np.diag(r))
    return (x @ q.T).astype(np.float32)


# ---------- on-disk inputs -------------------------------------------------

# Sizes per workload. Spark's per-job cost (not data volume) dominates at
# these sizes on a 4-core host, so they are set by the run-time budget of
# the full benchmark, not by what the engine can hold.
SIZES = {
    "text_lifecycle": {
        "singletons": 600, "vocab": 6000, "append_batches": 2,
        "append_docs": 60, "queries": 400,
    },
    "ann_lifecycle": {
        "vectors": 600, "dim": 64, "add_batches": 2, "add_vectors": 60,
        "queries": 400,
    },
}
# the smallest sizes every stage still works at (k-means needs vectors
# for 8 cells and 16 codewords per subspace)
_SCALE_FLOOR = {
    "singletons": 20, "vocab": 500, "append_docs": 10,
    "vectors": 200, "add_vectors": 10,
}


def _write_docs(path: str, docs: list[dict], with_title: bool = True) -> None:
    cols = {"doc_id": pa.array([d["doc_id"] for d in docs], pa.int64())}
    if with_title:
        cols["title"] = pa.array([d["title"] for d in docs], pa.string())
    cols["text"] = pa.array([d["text"] for d in docs], pa.string())
    pq.write_table(pa.table(cols), path)


def _write_vectors(path: str, x: np.ndarray, first_id: int) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(first_id, first_id + len(x)), pa.int64()),
                "embedding": pa.array(
                    [row.tolist() for row in x], pa.list_(pa.float32())
                ),
            }
        ),
        path,
    )


def write_inputs(workload: str, seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Generate and write one workload's input files under ``out_dir``.

    Returns the in-memory model the checkers evaluate against (the
    program never sees it). ``scale`` shrinks every size, for tests."""
    size = {
        k: max(_SCALE_FLOOR[k], int(v * scale)) if k in _SCALE_FLOOR else v
        for k, v in SIZES[workload].items()
    }
    os.makedirs(out_dir, exist_ok=True)
    if workload == "text_lifecycle":
        docs, vocab, plan = text_corpus(seed, size["singletons"], size["vocab"])
        with open(os.path.join(out_dir, "dump.xml"), "w", encoding="utf-8") as f:
            f.write(wiki_xml(docs, seed + 1))
        # curation's input: the same documents as plain text, whose planted
        # exact copies are byte-identical (the dump marks each page up anew)
        _write_docs(os.path.join(out_dir, "corpus.parquet"), docs, with_title=False)
        batches = []
        next_id = len(docs) + 1
        for b in range(size["append_batches"]):
            batch = append_batch(seed + 10 + b, vocab, size["append_docs"], next_id)
            next_id += len(batch)
            _write_docs(os.path.join(out_dir, f"append_{b}.parquet"), batch)
            batches.append(batch)
        stop = stopword_list(docs)
        queries = cnf_queries(seed + 2, df_bands(docs, stop), size["queries"])
        return {"docs": docs, "plan": plan, "batches": batches, "stopwords": stop,
                "queries": queries}
    if workload == "ann_lifecycle":
        n, n_add, k = size["vectors"], size["add_vectors"], size["add_batches"]
        x = aniso_embeddings(seed, n + k * n_add, size["dim"])
        _write_vectors(os.path.join(out_dir, "embeddings.parquet"), x[:n], 0)
        for b in range(k):
            lo = n + b * n_add
            _write_vectors(
                os.path.join(out_dir, f"add_{b}.parquet"), x[lo : lo + n_add], lo
            )
        qrng = np.random.default_rng(seed + 3)
        query_ids = [int(i) for i in qrng.permutation(n)[: min(n, size["queries"])]]
        return {"vectors": x, "n": n, "query_ids": query_ids,
                "add_sizes": [n_add] * k}
    raise ValueError(f"unknown workload {workload!r}")
