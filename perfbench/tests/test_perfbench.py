"""Tests of the benchmark itself: seeded inputs, the checkers, and a
tiny-size smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import checks
import gen

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_inputs(workload, 7, a, scale=0.1)
    gen.write_inputs(workload, 7, b, scale=0.1)
    gen.write_inputs(workload, 8, c, scale=0.1)
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_wiki_markup_cleans_back_to_the_tokens():
    """The cleaner's regex chain, replayed in Python for the markup the
    generator emits, leaves exactly the document's tokens."""
    import re

    docs, _v, _p = gen.text_corpus(3, 30, 500)
    xml = gen.wiki_xml(docs, 4)
    for d, page in zip(docs, xml.split("<page>")[1:]):
        text = page.split("<text>")[1].split("</text>")[0]
        text = text.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
        text = re.sub(r"<!--.*?-->|<ref>.*?</ref>|\{\{[^{}]*\}\}", " ", text)
        text = re.sub(r"\[\[[^\[\]|]*:[^\[\]|]*\]\]", " ", text)
        text = re.sub(r"\[\[[^\[\]]*\|([^\[\]|]*)\]\]", r"\1", text)
        text = re.sub(r"\[\[([^\[\]|]*)\]\]|'''", r"\1", text)
        assert gen.tokens_of(text) == d["tokens"]


def test_chains_plant_every_diameter():
    docs, _v, plan = gen.text_corpus(5, 50, 800)
    assert [len(c) - 1 for c in plan["chains"]] == list(range(1, 17))
    by_id = {d["doc_id"]: d["tokens"] for d in docs}

    def jac(a, b):
        sa = {tuple(by_id[a][i : i + 3]) for i in range(len(by_id[a]) - 2)}
        sb = {tuple(by_id[b][i : i + 3]) for i in range(len(by_id[b]) - 2)}
        return len(sa & sb) / len(sa | sb)

    chain = plan["chains"][-1]
    steps = [jac(a, b) for a, b in zip(chain, chain[1:])]
    skips = [jac(a, b) for a, b in zip(chain, chain[2:])]
    assert all(0.5 < j < 0.8 for j in steps)
    assert all(j < 0.5 for j in skips)


def test_queries_are_unique_and_cover_every_shape():
    docs, _v, _p = gen.text_corpus(2, 200, 2000)
    qs = gen.cnf_queries(2, gen.df_bands(docs, gen.stopword_list(docs)), 64)
    assert len({q for _s, q, _p in qs}) == 64
    assert {s for s, _q, _p in qs} == {s for s, _t, _b in gen.QUERY_SHAPES}


# ---------- checkers --------------------------------------------------


def _oracle():
    docs, _v, _p = gen.text_corpus(11, 150, 1500)
    stop = gen.stopword_list(docs)
    qs = gen.cnf_queries(12, gen.df_bands(docs, stop), 40)
    return docs, stop, qs, checks.SearchOracle(docs, stop)


def _page(want, page):
    ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = ranked[(page - 1) * 10 : page * 10]
    return [{"doc_id": d, "score": s, "snippet": "x"} for d, s in rows]


def test_check_page_accepts_the_right_page_and_rejects_perturbed_ones():
    docs, _stop, qs, oracle = _oracle()
    texts = {d["doc_id"]: d["text"] for d in docs}
    results = [oracle.search(q) for _s, q, _p in qs]
    scored = next(r for r in results if len(r) > 15 and min(r.values()) > 0)
    negated = next(r for r in results if len(r) > 15 and max(r.values()) == 0)
    for want in (scored, negated):  # all-equal scores must page by doc_id
        good = _page(want, 2)
        assert checks.check_page(len(want), good, 2, want, texts) == []
        assert checks.check_page(len(want) + 1, good, 2, want, texts)
        assert checks.check_page(len(want), good[:-1], 2, want, texts)
        assert checks.check_page(len(want), _page(want, 1), 2, want, texts)
        swapped = [good[1], good[0]] + good[2:]
        assert checks.check_page(len(want), swapped, 2, want, texts)
    want = scored
    good = _page(want, 2)
    wrong_score = [dict(r) for r in good]
    wrong_score[0]["score"] += 0.01
    assert checks.check_page(len(want), wrong_score, 2, want, texts)
    outsider = [dict(r) for r in good]
    outsider[0]["doc_id"] = max(texts) + 1
    assert checks.check_page(len(want), outsider, 2, want, texts)
    no_snippet = [dict(r) for r in good]
    no_snippet[0]["snippet"] = ""
    assert checks.check_page(len(want), no_snippet, 2, want, texts)


def test_check_results_rejects_a_missing_document():
    want = {1: 0.5, 2: 0.25}
    assert checks.check_results(dict(want), want) == []
    assert checks.check_results({1: 0.5}, want)
    assert checks.check_results({1: 0.5, 2: 0.2}, want)


def test_check_split_rejects_wrong_labels_and_torn_clusters():
    kept = {1, 2, 3, 4, 5}
    pairs = [(1, 2), (2, 3)]
    good = [(1, 1, "train"), (2, 1, "train"), (3, 1, "train"),
            (4, 4, "val"), (5, 5, "train")]
    assert checks.check_split(good, pairs, kept) == []
    relabeled = [(d, 2 if d == 3 else c, s) for d, c, s in good]
    assert checks.check_split(relabeled, pairs, kept)
    torn = [(d, c, "test" if d == 3 else s) for d, c, s in good]
    assert checks.check_split(torn, pairs, kept)
    assert checks.check_split(good[:-1], pairs, kept)
    assert checks.check_split(good + [good[0]], pairs, kept)


def test_union_find_labels_take_the_smallest_id():
    assert checks.union_find_labels([1, 2, 3, 4, 9], [(9, 3), (3, 2)]) == {
        1: 1, 2: 2, 3: 2, 4: 4, 9: 2,
    }


def test_check_topk_rejects_bad_shapes_and_recall_counts_overlap():
    rows = [{"rn": i + 1, "vec_id": 10 + i, "adist9": i} for i in range(10)]
    valid = set(range(100))
    assert checks.check_topk(rows, 0, 10, valid) == []
    assert checks.check_topk(rows[:9], 0, 10, valid)
    dup = [dict(r) for r in rows]
    dup[1]["vec_id"] = 10
    assert checks.check_topk(dup, 0, 10, valid)
    assert checks.check_topk(rows, 10, 10, valid)  # the query itself
    unsorted = [dict(r) for r in rows]
    unsorted[0]["adist9"] = 99
    assert checks.check_topk(unsorted, 0, 10, valid)
    assert checks.recall_at_k([1, 2, 3, 4], [3, 4, 5, 6]) == 0.5


# ---------- smoke -----------------------------------------------------


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "all",
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout.strip().splitlines()


@pytest.mark.slow
def test_smoke_every_workload_prints_every_end_to_end_metric():
    lines = _run(0)
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["failed"] == 0 and out["correct"], "\n".join(lines)
    names = [m["name"] for m in _bench()["end_to_end"]]
    for w in gen.SIZES:
        for n in names:
            m = out["metrics"][f"{w}.{n}"]
            assert m["value"] > 0, (w, n)
    text = "\n".join(lines)
    for named in ("search_p50_ms", "search_p90_ms", "search_qps",
                  "ingest_docs_per_s", "build_docs_per_s", "append_p50_s",
                  "index_bytes_per_doc_byte", "curate_docs_per_s",
                  "ann_build_s", "ann_topk_p50_ms", "ann_topk_p90_ms",
                  "ann_maintain_p50_s", "ann_recall_at_10", "setup_s",
                  "failed_ratio", "peak_rss_mb"):
        assert f"  {named} = " in text, named


@pytest.mark.slow
def test_smoke_traced_run_reports_every_per_layer_metric():
    out = json.loads(_run(1)[-1])
    names = [m["name"] for m in _bench()["per_layer"]]
    for w in gen.SIZES:
        assert {n for n in names if f"{w}.{n}" in out["metrics"]} == set(names)
    # every layer family is exercised by one workload
    for n in names:
        if n not in ("spark.failed_tasks", "tracing.overhead_pct"):
            assert any(out["metrics"][f"{w}.{n}"]["value"] > 0 for w in gen.SIZES), n
