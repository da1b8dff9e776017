"""text_lifecycle: the text side of the offline lifecycle, then serving.

1. ingest: wiki XML dump -> ``read_wiki_xml`` -> ``corpus_split`` ->
   ``write_corpus`` (timed; checked token-for-token against the generator);
2. curate: the CLI ``curate --leakage-safe`` export of the same corpus
   (``curate_dedup.export``; timed and checked);
3. publish with the CLI ``index`` pipeline: ``build_index_tables`` ->
   ``write_index`` -> stopwords / corpus_stats / vocab (timed);
4. serve: a vocab-seeded ``SearchEngine`` over the published parquet, as
   ``search --index`` builds it; 2 closed-loop clients call
   ``render_page`` with unique CNF queries for ``--seconds`` (every
   answer checked against the pure-Python oracle);
5. append: each batch runs ``merge_index`` and republishes a new index
   version, then fixed queries that must find the new documents (checked
   against the oracle over the grown corpus). After the last batch the
   published postings must equal a from-scratch ``build_postings``.

The query cache (``QueryCache``/``SearchSession``) has no caller outside
the tests, so it is bypassed on purpose and no query repeats.
"""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

import curate_dedup
from checks import SearchOracle, check_page, check_results
from common import dir_bytes, files_in, median_ms, now, percentile_ms
from gen import NUM_STOP_WORDS, tokens_of
from hadoop_search_spark.functions.porter import porter_stem_udf
from hadoop_search_spark.functions.tokenize import tokenize_with_positions
from hadoop_search_spark.operators.index import (
    build_index_tables,
    build_postings,
    doc_count,
    merge_index,
    rescore,
    stop_words,
    term_doc_stats,
    vocab_stats,
    write_index,
)
from hadoop_search_spark.plans import parser as P
from hadoop_search_spark.plans.planner import SearchEngine
from hadoop_search_spark.plans.results import (
    PAGE_SIZE,
    fetch_docs,
    highlight_words,
    make_snippet,
    page_slice,
    rank,
    render_page,
)
from hadoop_search_spark.sources.xml_corpus import (
    corpus_split,
    read_wiki_xml,
    write_corpus,
)

INDEX_PARTITIONS = 10  # the CLI `index --partitions` default
WARMUP_REQUESTS = 1


def _publish(spark, docs, out: str) -> None:
    """The CLI ``index`` command's publish sequence."""
    tabs = build_index_tables(spark, docs, num_stop_words=NUM_STOP_WORDS)
    write_index(tabs["postings"], f"{out}/postings", num_partitions=INDEX_PARTITIONS)
    tabs["stopwords"].coalesce(1).write.mode("overwrite").parquet(f"{out}/stopwords")
    tabs["corpus_stats"].coalesce(1).write.mode("overwrite").parquet(
        f"{out}/corpus_stats"
    )
    vocab_stats(spark.read.parquet(f"{out}/postings")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/vocab")


def _publish_traced(tr, spark, docs, out: str) -> None:
    """:func:`_publish` with each layer call forced and spanned: the
    stop-word top-k collected, the per-(term, doc) stats checkpointed,
    so each stage's time lands in its own span. Same tables."""
    with tr.span("index.stop_words"):
        sw = spark.createDataFrame(
            stop_words(docs, NUM_STOP_WORDS).collect(), "word STRING"
        )
    with tr.span("index.doc_count"):
        n = doc_count(docs)
    with tr.span("index.term_doc_stats"):
        stats = term_doc_stats(docs, stopwords=sw).localCheckpoint(eager=True)
    with tr.span("index.write_index") as s:
        write_index(rescore(stats, n), f"{out}/postings", num_partitions=INDEX_PARTITIONS)
        s["files_written"] = files_in(f"{out}/postings")
    with tr.span("index.publish_tables"):
        sw.coalesce(1).write.mode("overwrite").parquet(f"{out}/stopwords")
        spark.createDataFrame([(n,)], "doc_num BIGINT").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/corpus_stats")
    with tr.span("index.vocab_stats"):
        vocab_stats(spark.read.parquet(f"{out}/postings")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/vocab")
    # the Porter pandas UDF runs inside the stats stage; time it alone
    # as (tokenize + stem) minus (tokenize), both to a no-op sink
    toks = tokenize_with_positions(docs, drop_numeric=True, require_alnum=True)
    with tr.span("functions.tokenize"):
        toks.select("token").write.format("noop").mode("overwrite").save()
    with tr.span("functions.porter_stem_udf"):
        toks.select(porter_stem_udf(F.col("token"))).write.format("noop").mode(
            "overwrite"
        ).save()


def _engine(spark, out: str, docs, stopwords: list[str]) -> SearchEngine:
    """What ``search --index`` builds: vocab-seeded, over the parquet."""
    return SearchEngine(
        spark,
        spark.read.parquet(f"{out}/postings"),
        documents=docs,
        stopwords=stopwords,
        vocab=spark.read.parquet(f"{out}/vocab"),
    )


def _plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


def render_page_traced(tr, engine, documents, query: str, page: int, req: int):
    """``render_page`` step by step, each layer call in a span and each
    action split into plan (forcing ``executedPlan``) and execute."""
    with tr.span("search.request", req=req):
        with tr.span("parser.parse_query"):
            P.parse_query(query, engine.stopwords, stem=engine.stem)
        with tr.span("planner.plan"):
            ranked = engine.search(query)
        counted = ranked.groupBy().count()  # what DataFrame.count() runs
        with tr.span("spark.plan"):
            _plan(counted)
        with tr.span("results.count.execute"):
            total = counted.collect()[0][0]
        last_page = max(1, -(-total // PAGE_SIZE))
        sliced = page_slice(rank(ranked), min(max(page, 1), last_page))
        with tr.span("spark.plan"):
            _plan(sliced)
        with tr.span("results.page_slice.execute"):
            rows = sliced.collect()
        with tr.span("results.highlight_words"):
            words = highlight_words(query)
        fetched = fetch_docs(documents, [r.doc_id for r in rows]).select(
            "doc_id", "text"
        )
        with tr.span("spark.plan"):
            _plan(fetched)
        with tr.span("results.fetch_docs.execute"):
            texts = {r.doc_id: r.text for r in fetched.collect()}
        with tr.span("results.make_snippet"):
            out = [
                {
                    "doc_id": r.doc_id,
                    "score": r.score,
                    "snippet": make_snippet(texts.get(r.doc_id, ""), words),
                }
                for r in rows
            ]
    return total, out


def verify_queries(batch: list[dict], oracle: SearchOracle) -> list[str]:
    """Fixed queries that must find documents of ``batch``: the rarest
    content word of each of its first three documents, and an AND of
    two content words of its fourth."""
    qs = []
    for d in batch[:4]:
        words = sorted(
            {w for w in d["tokens"] if w not in oracle.stop},
            key=lambda w: (oracle.df(w), w),
        )
        qs.append(words[0] if len(qs) < 3 else f"{words[0]} and {words[-1]}")
    return qs


def run(ctx) -> None:
    spark, tr, m = ctx.spark, ctx.tracer, ctx.model
    inputs, work = ctx.inputs, ctx.work
    stop = m["stopwords"]

    # 1. ingest
    ctx.start_timed()
    t = now()
    with tr.span("sources.read_wiki_xml"):
        pages = read_wiki_xml(spark, f"{inputs}/dump.xml")
        if tr.enabled:  # force the read so its time and tasks are its own
            pages = pages.localCheckpoint(eager=True)
    with tr.span("sources.write_corpus"):
        write_corpus(corpus_split(pages), f"{work}/corpus")
    ingest_s = now() - t
    corpus = spark.read.parquet(f"{work}/corpus")
    docs = corpus.select("doc_id", "title", F.col("content").alias("text"))
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    want = {d["doc_id"]: d["tokens"] for d in m["docs"]}
    bad = [i for i in want if tokens_of(texts.get(i) or "") != want[i]]
    ctx.op(
        [f"{len(bad)} documents differ from the dump, e.g. {bad[:3]}"]
        if bad or len(texts) != len(want) else [],
        "ingest",
    )

    # 2. curate
    export_s = curate_dedup.export(ctx, spark.read.parquet(f"{inputs}/corpus.parquet"))

    # 3. publish
    idx = f"{work}/index_v0"
    t = now()
    if tr.enabled:
        _publish_traced(tr, spark, docs, idx)
    else:
        _publish(spark, docs, idx)
    publish_s = now() - t
    published_sw = sorted(r.word for r in spark.read.parquet(f"{idx}/stopwords").collect())
    n_pub = spark.read.parquet(f"{idx}/corpus_stats").collect()[0][0]
    ctx.op(
        ([] if published_sw == sorted(stop) else ["published stop words differ"])
        + ([] if n_pub == len(want) else [f"corpus_stats {n_pub} != {len(want)}"]),
        "publish",
    )
    n_docs = len(m["docs"])
    clean_bytes = sum(len(s.encode("utf-8")) for s in texts.values())
    ctx.metrics["offline_docs_per_s"] = n_docs / (ingest_s + export_s + publish_s)
    ctx.metrics["index_bytes_per_input_byte"] = dir_bytes(idx) / clean_bytes
    ctx.named["ingest_docs_per_s"] = (n_docs / ingest_s, "1/s")
    ctx.named["build_docs_per_s"] = (n_docs / publish_s, "1/s")
    ctx.named["index_bytes_per_doc_byte"] = (
        ctx.metrics["index_bytes_per_input_byte"], "ratio",
    )

    # 4. serve
    engine = _engine(spark, idx, docs, published_sw)
    queries = m["queries"]
    for _shape, q, page in queries[:WARMUP_REQUESTS]:
        render_page(engine, docs, q, page)

    def call(req, i, traced):
        _shape, q, page = req
        if traced:
            return render_page_traced(tr, engine, docs, q, page, i)
        return render_page(engine, docs, q, page)

    served = ctx.closed_loop(queries[WARMUP_REQUESTS:], call)
    oracle = SearchOracle(m["docs"], stop)
    lat = [r[2] for r in served if not r[3]]
    examined = results = 0
    for _i, (shape, q, page), _dt, _tr, res, err in served:
        if err is not None:
            ctx.op([err], f"search {q!r}")
            continue
        expected = oracle.search(q)
        total, rows = res
        ctx.op(check_page(total, rows, page, expected, texts), f"search[{shape}] {q!r} p{page}")
        examined += oracle.query_df(q)
        results += total
    ctx.metrics["op_p50_ms"] = median_ms(lat)
    ctx.named["search_p50_ms"] = (median_ms(lat), "ms")
    ctx.named["search_p90_ms"] = (percentile_ms(lat, 0.9), "ms")
    ctx.named["search_requests"] = (float(len(lat)), "count")
    ctx.named["search_qps"] = (len(served) / ctx.seconds, "1/s")
    ctx.layers["planner.postings_examined_per_result"] = examined / max(1, results)

    # 5. append
    sw_df = spark.read.parquet(f"{idx}/stopwords")
    postings = spark.read.parquet(f"{idx}/postings")
    num_docs = n_docs
    grown = list(m["docs"])
    cycles = []
    for b, batch in enumerate(m["batches"]):
        grown_oracle = SearchOracle(grown + batch, stop)
        vq = verify_queries(batch, grown_oracle)
        t = now()
        new = spark.read.parquet(f"{inputs}/append_{b}.parquet")
        with tr.span("index.merge_index"):
            merged, num_docs = merge_index(
                postings, num_docs, new.select("doc_id", "text"), stopwords=sw_df
            )
            if tr.enabled:
                merged = merged.localCheckpoint(eager=True)
        out = f"{work}/index_v{b + 1}"
        with tr.span("index.write_index") as s:
            write_index(merged, f"{out}/postings", num_partitions=INDEX_PARTITIONS)
            s["files_written"] = files_in(f"{out}/postings")
        with tr.span("index.vocab_stats"):
            vocab_stats(spark.read.parquet(f"{out}/postings")).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{out}/vocab")
        spark.createDataFrame([(num_docs,)], "doc_num BIGINT").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/corpus_stats")
        docs = docs.unionByName(new.select("doc_id", "title", "text"))
        engine = _engine(spark, out, docs, published_sw)
        postings = engine.postings
        got = {
            q: {r.doc_id: r.score for r in engine.search(q).collect()} for q in vq
        }
        cycles.append(now() - t)
        grown += batch
        new_ids = {d["doc_id"] for d in batch}
        problems = []
        for q in vq:
            problems += check_results(got[q], grown_oracle.search(q))
            if not new_ids & got[q].keys():
                problems.append(f"{q!r} found no appended document")
        if b == len(m["batches"]) - 1:
            rebuilt = build_postings(
                docs.select("doc_id", "text"), stopwords=sw_df, num_docs=num_docs
            )
            cols = ["term", "doc_id", "tf", "df", "positions", "score"]
            a, r = postings.select(cols), rebuilt.select(cols)
            diff = a.exceptAll(r).unionByName(r.exceptAll(a)).count()
            if diff:
                problems.append(f"{diff} postings rows differ from a rebuild")
        ctx.op(problems, f"append {b}")
    ctx.metrics["update_p50_ms"] = median_ms(cycles)
    ctx.named["append_p50_s"] = (statistics.median(cycles), "s")


def per_layer(tr, ctx) -> None:
    L = ctx.layers
    for name in ("parser.parse_query", "results.make_snippet"):
        L[f"{name}.ms"] = tr.per_request_ms(name)
    L["planner.plan.construct_ms"] = tr.per_request_ms("planner.plan")
    L["spark.plan_ms"] = tr.per_request_ms("spark.plan")
    for name in ("count", "page_slice", "fetch_docs"):
        L[f"results.{name}.execute_ms"] = tr.per_request_ms(f"results.{name}.execute")
    L["search.jobs_per_request"] = tr.per_request_count("search.request", "jobs")
    L["search.tasks_per_request"] = tr.per_request_count("search.request", "tasks")
    for name in (
        "sources.read_wiki_xml", "sources.write_corpus", "index.stop_words",
        "index.term_doc_stats", "index.vocab_stats", "index.write_index",
        "index.merge_index",
    ):
        L[f"{name}.busy_s"] = tr.busy_s(name)
    L["sources.read_wiki_xml.tasks"] = tr.total("sources.read_wiki_xml", "tasks")
    L["index.write_index.files_written"] = tr.total("index.write_index", "files_written")
    L["functions.porter_stem_udf.busy_s"] = max(
        0.0, tr.busy_s("functions.porter_stem_udf") - tr.busy_s("functions.tokenize")
    )
    curate_dedup.per_layer(tr, ctx)
