"""CLI parity tests — drives `python -m hadoop_search_spark` as a
user would (subprocess), covering the reference's three entry points:
index build, query, document fetch (SURVEY.md §3)."""

import re
import subprocess
import sys

import pytest

# every test here drives subprocess Spark sessions (60-240 s each);
# all but the index/search/fetch smoke test are marked slow and so
# excluded from the default gate (run everything with -m "")

CORPUS = "/root/testdata/sf0.001/documents.parquet"


def run_cli(*args, timeout=600):
    # 600 s, not 240: each CLI call boots a fresh Spark JVM in a
    # subprocess, and when the full suite saturates all 32 cores that
    # startup alone can exceed 240 s (r9: one in-suite timeout that
    # passed in 69 s isolated). The timeout exists to catch hangs,
    # not contention.
    return subprocess.run(
        [sys.executable, "-m", "hadoop_search_spark", "--cpus", "4", *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd="/root/repo",
    )


def _brute_force_search(idx, query):
    """{doc_id: score} for ``query`` over a published index, evaluated
    without Spark by tests/brute_force.py."""
    import pyarrow.parquet as pq

    from tests import brute_force as bf

    terms = {}
    for r in pq.read_table(f"{idx}/postings").to_pylist():
        terms.setdefault(r["term"], {})[r["doc_id"]] = (r["score"], list(r["positions"]))
    stopwords = pq.read_table(f"{idx}/stopwords").column("word").to_pylist()
    universe = set(pq.read_table(CORPUS, columns=["doc_id"]).column("doc_id").to_pylist())
    return bf.search(query, terms, universe, stopwords=stopwords)


def test_cli_index_search_fetch(tmp_path):
    idx = str(tmp_path / "idx")
    r = run_cli("index", "--corpus", CORPUS, "--out", idx, "--stopwords", "2")
    assert r.returncode == 0, r.stderr[-500:]
    assert re.search(r"indexed: \d+ postings", r.stdout)

    r = run_cli(
        "search", "spark and not dup", "--page", "1", "--index", idx, "--corpus", CORPUS
    )
    assert r.returncode == 0, r.stderr[-500:]
    lines = r.stdout.strip().splitlines()
    # reference-style header resultNum/pageNum
    assert re.match(r"^\d+/\d+$", lines[0])
    assert "$RST$" in r.stdout
    assert "FFFF00" in r.stdout  # highlights present

    # a page past the end serves the last page under the same header
    # (CorpusFetcher.java:88); the rows are checked against the
    # brute-force evaluator over the published postings
    want = _brute_force_search(idx, "spark and not dup")
    total, pages = len(want), -(-len(want) // 10)
    assert pages > 1
    assert lines[0] == f"{total}/{pages}"
    r = run_cli(
        "search", "spark and not dup", "--page", "999", "--index", idx, "--corpus", CORPUS
    )
    assert r.returncode == 0, r.stderr[-500:]
    header, body = r.stdout.split("\n", 1)
    assert header == f"{total}/{pages}"
    got = re.findall(r"^(\d+)\n(\S+)\n.*\$RST\$$", body, re.M)
    ranked = sorted(want, key=lambda d: (-want[d], d))
    assert got == [(str(d), f"{want[d]:.3f}") for d in ranked[(pages - 1) * 10 :]]

    r = run_cli("fetch", "42", "--corpus", CORPUS)
    assert r.returncode == 0 and len(r.stdout.strip()) > 0

    r = run_cli("fetch", "999999", "--corpus", CORPUS)
    assert r.returncode == 1
    assert "not found" in r.stderr


@pytest.mark.slow
def test_cli_curate_export(tmp_path, spark):
    out = str(tmp_path / "dataset")
    # permissive thresholds: the tiny-vocab fixture makes most docs
    # near-dups of each other at the default jaccard 0.8
    r = run_cli(
        "curate", "--corpus", CORPUS, "--out", out,
        "--shards", "4", "--jaccard", "1.01", "--min-quality", "0.0",
        "--val-frac", "0.05", "--test-frac", "0.05",
    )
    assert r.returncode == 0, r.stderr[-500:]
    m = re.search(r"curated: kept (\d+)/(\d+) docs", r.stdout)
    assert m and int(m.group(1)) > 100
    back = spark.read.parquet(out)
    assert {"doc_id", "text", "split", "shard", "pos"} <= set(back.columns)
    n = back.count()
    assert n == int(m.group(1))
    # exact-dup keepers only, deterministic shard+pos key
    assert back.select("doc_id").distinct().count() == n
    assert back.select("split").distinct().count() >= 2
    # the deterministic-export contract: every data FILE is internally
    # pos-sorted (readers stream shards in training order without a
    # sort). Guaranteed by sortWithinPartitions(split, shard, pos) —
    # sorting by the partition columns first means the writer's
    # required ordering is already satisfied and it inserts no Sort of
    # its own above ours (an unsorted-on-partition-cols input would
    # re-sort, and per-file pos order would then hinge on that sort
    # being stable, which Spark does not guarantee).
    import glob as _glob

    import pyarrow.parquet as _pq

    files = _glob.glob(f"{out}/split=*/shard=*/*.parquet")
    assert files
    for f in files:
        pos = _pq.read_table(f, columns=["pos"]).column("pos").to_pylist()
        assert pos == sorted(pos), f"pos not monotone within {f}"


@pytest.mark.slow
def test_cli_curate_v2_with_benchmark(tmp_path, spark):
    """curate --benchmark routes through the v2 pipeline (Gopher hard
    rules + decontamination): the dataset must exclude every doc the
    decontaminate CLI would flag, and still export the full
    split/shard layout."""
    bench_path = str(tmp_path / "bench.parquet")
    cand_path = str(tmp_path / "cand.parquet")
    docs = spark.read.parquet(CORPUS)
    docs.filter("doc_id % 50 = 0").write.parquet(bench_path)
    docs.filter("doc_id % 50 <> 0").write.parquet(cand_path)
    out = str(tmp_path / "dataset_v2")
    r = run_cli(
        "curate", "--corpus", cand_path, "--out", out,
        "--shards", "4", "--jaccard", "1.01", "--min-quality", "0.0",
        "--val-frac", "0.05", "--test-frac", "0.05",
        "--benchmark", bench_path,
    )
    assert r.returncode == 0, r.stderr[-500:]
    m = re.search(r"curated: kept (\d+)/(\d+) docs", r.stdout)
    assert m and int(m.group(1)) > 50
    back = spark.read.parquet(out)
    assert back.count() == int(m.group(1))
    # no exported doc may share >= 3 shingles with the benchmark
    from hadoop_search_spark.operators.dedup import decontaminate

    flagged = {
        r2.doc_id
        for r2 in decontaminate(
            spark.read.parquet(cand_path),
            spark.read.parquet(bench_path),
            min_shared=3,
        ).collect()
    }
    exported = {r2.doc_id for r2 in back.select("doc_id").collect()}
    assert not (exported & flagged)


@pytest.mark.slow
def test_cli_decontaminate(tmp_path, spark):
    """Both decontaminate paths (direct join and Bloom prefilter)
    must flag the same docs and write the same kept set; the %50
    slice of the fixture doubles as the benchmark."""
    bench_path = str(tmp_path / "bench.parquet")
    cand_path = str(tmp_path / "cand.parquet")
    docs = spark.read.parquet(CORPUS)
    docs.filter("doc_id % 50 = 0").write.parquet(bench_path)
    docs.filter("doc_id % 50 <> 0").write.parquet(cand_path)

    out_a = str(tmp_path / "kept_direct")
    r = run_cli(
        "decontaminate", "--corpus", cand_path, "--benchmark", bench_path,
        "--out", out_a,
    )
    assert r.returncode == 0, r.stderr[-500:]
    m = re.search(r"flagged: (\d+) docs", r.stdout)
    assert m and int(m.group(1)) > 0
    n_flagged = int(m.group(1))

    out_b = str(tmp_path / "kept_bloom")
    rb = run_cli(
        "decontaminate", "--corpus", cand_path, "--benchmark", bench_path,
        "--out", out_b, "--bloom",
    )
    assert rb.returncode == 0, rb.stderr[-500:]
    mb = re.search(r"flagged: (\d+) docs", rb.stdout)
    assert mb and int(mb.group(1)) == n_flagged
    kept_a = {r.doc_id for r in spark.read.parquet(out_a).select("doc_id").collect()}
    kept_b = {r.doc_id for r in spark.read.parquet(out_b).select("doc_id").collect()}
    assert kept_a == kept_b
    assert len(kept_a) + n_flagged == spark.read.parquet(cand_path).count()


@pytest.mark.slow
def test_cli_stats_report(tmp_path):
    r = run_cli("stats", "--corpus", CORPUS)
    assert r.returncode == 0, r.stderr[-500:]
    assert re.search(r"docs: 500\b", r.stdout)
    assert re.search(r"tokens: \d+ \(mean [\d.]+, median [\d.]+\)", r.stdout)
    assert "languages:" in r.stdout and "en=" in r.stdout
    assert re.search(r"exact duplicates: \d+ \([\d.]+%\)", r.stdout)


@pytest.mark.slow
def test_cli_drift(tmp_path, spark):
    """`drift` reports both index layouts (auto-detected) and exits 1
    exactly when a cell flags — the cron-able rebuild trigger."""
    from pyspark.sql import functions as F

    from hadoop_search_spark.operators.similarity import (
        ivf_index_add,
        write_ivf_index,
        write_ivfpq_index,
    )

    # a path that is not an index: one clear line + exit 2, not a raw
    # AnalysisException from an unconditional vectors/ read
    r0 = run_cli("drift", "--index", str(tmp_path / "nothing_here"))
    assert r0.returncode == 2, r0.stdout + r0.stderr[-300:]
    assert "no published index at" in r0.stderr

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    write_ivf_index(emb.filter(F.col("vec_id") < 400), ivf)
    r = run_cli("drift", "--index", ivf)
    assert r.returncode == 0, r.stderr[-500:]
    assert "cell" in r.stdout and "DRIFTED" not in r.stdout

    # pile a far-off-centroid constant batch into one cell -> exit 1
    shifted = spark.createDataFrame(
        [(2000 + i, [7.0] * 64) for i in range(40)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    ivf_index_add(spark, ivf, shifted)
    r2 = run_cli("drift", "--index", ivf)
    assert r2.returncode == 1, r2.stdout + r2.stderr[-300:]
    assert "DRIFTED" in r2.stdout

    ivfpq = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, ivfpq)
    r3 = run_cli("drift", "--index", ivfpq)
    assert r3.returncode == 0, r3.stderr[-500:]
    assert " s" in r3.stdout.splitlines()[0] or "l1x" in r3.stdout.splitlines()[0]

    # third layout (r9): IVF-SQ8 — the vectors table holds qvec, not
    # raw embeddings; detection must route to the store-only drift
    from hadoop_search_spark.operators.similarity import (
        int8_index_add,
        write_int8_index,
    )

    sq8 = str(tmp_path / "sq8")
    write_int8_index(emb.filter(F.col("vec_id") < 400), sq8)
    int8_index_add(spark, sq8, shifted)
    r4 = run_cli("drift", "--index", sq8)
    assert r4.returncode == 1, r4.stdout + r4.stderr[-300:]
    assert "DRIFTED" in r4.stdout and "share" in r4.stdout.splitlines()[0]


@pytest.mark.slow
def test_cli_ann_int8_layout(tmp_path):
    """`ann --layout int8`: build the IVF-SQ8 artifact and serve
    stage-1 top-k from it through the CLI (the ivfpq layout is
    covered by the r8 `ann` path; this pins the r9 layout switch)."""
    idx = str(tmp_path / "sq8idx")
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    r = run_cli("ann", "build", "--layout", "int8", "--index", idx,
                "--embeddings", emb)
    assert r.returncode == 0, r.stderr[-500:]
    assert "int8 vectors" in r.stdout and "8 cells" in r.stdout
    r2 = run_cli("ann", "search", "--layout", "int8", "--index", idx,
                 "--embeddings", emb, "--query-ids", "0,3", "--k", "3")
    assert r2.returncode == 0, r2.stderr[-500:]
    lines = [ln for ln in r2.stdout.splitlines() if ln.startswith("q=")]
    assert len(lines) == 6 and all("s8=" in ln for ln in lines)


@pytest.mark.slow
def test_cli_ann_residual_opq_encoding(tmp_path):
    """`ann build --encoding residual-opq` (r10): publish the
    rotated-residual IVF-PQ artifact (k-means cells + residual-space
    OPQ trained in-build), then serve and append through the same
    CLI with the encoding auto-detected from the published /encoding
    table."""
    idx = str(tmp_path / "ropqidx")
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    r = run_cli("ann", "build", "--encoding", "residual-opq",
                "--index", idx, "--embeddings", emb)
    assert r.returncode == 0, r.stderr[-500:]
    assert "codes (residual_opq)" in r.stdout
    import os
    assert os.path.exists(f"{idx}/rotation")
    r2 = run_cli("ann", "search", "--index", idx, "--embeddings", emb,
                 "--query-ids", "0,3", "--k", "3")
    assert r2.returncode == 0, r2.stderr[-500:]
    lines = [ln for ln in r2.stdout.splitlines() if ln.startswith("q=")]
    assert len(lines) == 6 and all("adist9=" in ln for ln in lines)


@pytest.mark.slow
def test_cli_ann_external_query_file(tmp_path):
    """`ann search --queries <parquet>` (r11): a FILE of external
    (query_id, embedding) vectors — the production shape, since the
    index stores no raw vectors — served in ONE batched call; with
    --rerank the exact-cosine stage reranks the same candidates."""
    import duckdb

    idx = str(tmp_path / "qfidx")
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    r = run_cli("ann", "build", "--index", idx, "--embeddings", emb)
    assert r.returncode == 0, r.stderr[-500:]
    qf = str(tmp_path / "queries.parquet")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT vec_id + 10000 AS query_id, embedding "
        f"FROM read_parquet('{emb}') WHERE vec_id IN (0, 3, 7)) "
        f"TO '{qf}' (FORMAT PARQUET)"
    )
    con.close()
    r2 = run_cli("ann", "search", "--index", idx, "--embeddings", emb,
                 "--queries", qf, "--k", "3")
    assert r2.returncode == 0, r2.stderr[-500:]
    lines = [ln for ln in r2.stdout.splitlines() if ln.startswith("q=")]
    assert len(lines) == 9 and all("adist9=" in ln for ln in lines)
    assert {ln.split()[0] for ln in lines} == {"q=10000", "q=10003", "q=10007"}
    r3 = run_cli("ann", "search", "--index", idx, "--embeddings", emb,
                 "--queries", qf, "--k", "2", "--rerank")
    assert r3.returncode == 0, r3.stderr[-500:]
    lines3 = [ln for ln in r3.stdout.splitlines() if ln.startswith("q=")]
    assert len(lines3) == 6 and all("cosine=" in ln for ln in lines3)


@pytest.mark.slow
def test_cli_ann_graph_refine(tmp_path):
    """`ann graph` publishes the KNN adjacency under the index's
    frozen quantizer; `ann search --refine` expands stage-1 seeds one
    hop through it before the exact rerank (r12). The refined result
    set must contain vectors the narrow probe alone cannot reach at
    the same w only via graph edges — asserted structurally: refine
    output is exact-cosine scored and row-complete."""
    idx = str(tmp_path / "gidx")
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    r = run_cli("ann", "build", "--index", idx, "--embeddings", emb)
    assert r.returncode == 0, r.stderr[-500:]
    rg = run_cli("ann", "graph", "--index", idx, "--embeddings", emb,
                 "--g", "4")
    assert rg.returncode == 0, rg.stderr[-500:]
    assert "graph:" in rg.stdout and "/graph" in rg.stdout
    import os
    assert os.path.isdir(f"{idx}/graph")
    r2 = run_cli("ann", "search", "--index", idx, "--embeddings", emb,
                 "--query-ids", "0,3", "--k", "3", "--nprobe", "1",
                 "--w", "5", "--refine")
    assert r2.returncode == 0, r2.stderr[-500:]
    lines = [ln for ln in r2.stdout.splitlines() if ln.startswith("q=")]
    assert len(lines) == 6 and all("cosine=" in ln for ln in lines)


@pytest.mark.slow
def test_cli_ann_graph_stale_after_add_degrades_gracefully(tmp_path):
    """Append lifecycle contract: `ann add` leaves {index}/graph
    stale by design (the adjacency is an offline artifact — rebuild
    with `ann graph`, like drift-triggered rebuilds). A refined
    search must still SERVE appended vectors: they enter through the
    stage-1 cell scan; only the expansion hop doesn't know them
    yet."""
    import duckdb

    idx = str(tmp_path / "gsidx")
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    r = run_cli("ann", "build", "--index", idx, "--embeddings", emb)
    assert r.returncode == 0, r.stderr[-500:]
    rg = run_cli("ann", "graph", "--index", idx, "--embeddings", emb,
                 "--g", "4")
    assert rg.returncode == 0, rg.stderr[-500:]
    # append EXACT COPIES of vectors 0 and 3 under new ids — their
    # rank-1 refined hit must be the appended twin (cosine 1), even
    # though the twin is absent from the published graph
    add = str(tmp_path / "add.parquet")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT vec_id + 5000 AS vec_id, embedding "
        f"FROM read_parquet('{emb}') WHERE vec_id IN (0, 3)) "
        f"TO '{add}' (FORMAT PARQUET)"
    )
    con.close()
    ra = run_cli("ann", "add", "--index", idx, "--embeddings", add)
    assert ra.returncode == 0, ra.stderr[-500:]
    # the rerank corpus must contain the appended rows too
    full = str(tmp_path / "full.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT vec_id, embedding FROM read_parquet('{emb}') "
        f"UNION ALL SELECT vec_id, embedding FROM read_parquet('{add}')) "
        f"TO '{full}' (FORMAT PARQUET)"
    )
    con.close()
    r2 = run_cli("ann", "search", "--index", idx, "--embeddings", full,
                 "--query-ids", "0,3", "--k", "2", "--nprobe", "1",
                 "--w", "5", "--refine")
    assert r2.returncode == 0, r2.stderr[-500:]
    lines = [ln for ln in r2.stdout.splitlines() if ln.startswith("q=")]
    top = {ln.split()[0]: ln for ln in lines if "#1" in ln}
    assert "vec=5000" in top["q=0"] and "cosine=1.0" in top["q=0"]
    assert "vec=5003" in top["q=3"] and "cosine=1.0" in top["q=3"]
    # `drift --graph` is the staleness observable for exactly this
    # state: the two appended twins are invisible to the expansion
    # hop, so the default threshold flags (exit 1) while a tolerant
    # one passes; re-running `ann graph` over the full corpus clears
    # the report — the documented rebuild-trigger loop
    rd = run_cli("drift", "--index", idx, "--graph")
    assert rd.returncode == 1, (rd.stdout, rd.stderr[-500:])
    assert "STALE: 2/" in rd.stdout and "ann graph" in rd.stdout
    rt = run_cli("drift", "--index", idx, "--graph",
                 "--max-stale-frac", "0.5")
    assert rt.returncode == 0, (rt.stdout, rt.stderr[-500:])
    rg2 = run_cli("ann", "graph", "--index", idx, "--embeddings", full,
                  "--g", "4")
    assert rg2.returncode == 0, rg2.stderr[-500:]
    rd2 = run_cli("drift", "--index", idx, "--graph")
    assert rd2.returncode == 0, (rd2.stdout, rd2.stderr[-500:])
    assert "STALE" not in rd2.stdout
