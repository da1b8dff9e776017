"""ann_lifecycle: train, publish, serve and maintain an IVF-PQ index.

``ivf_train_kmeans`` + ``pq_residual_opq_model`` -> ``write_ivfpq_index``
(residual-OPQ codes) -> 2 closed-loop clients each sending single-vector
``ivfpq_index_topk`` requests (k=10, nprobe=2) for ``--seconds`` ->
maintenance cycles of ``ivfpq_index_add`` on a batch followed by
``ivfpq_index_drift``.

Build settings: 8 cells, one k-means and one OPQ iteration, and the
vectorised rotation (``exact_rotation=False``, the setting the library
documents for production builds) in train, write and add alike. Each
answer is checked for shape, and the run's mean recall@10 against the
exact ``cosine_topk`` must reach ``checks.RECALL_FLOOR``.
"""

from __future__ import annotations

import statistics

from checks import RECALL_FLOOR, check_topk, recall_at_k
from common import dir_bytes, files_in, median_ms, now, percentile_ms
from hadoop_search_spark.operators.similarity import (
    cosine_topk,
    ivf_train_kmeans,
    ivfpq_index_add,
    ivfpq_index_drift,
    ivfpq_index_topk,
    pq_residual_opq_model,
    write_ivfpq_index,
)

CELLS, K, NPROBE = 8, 10, 2
WARMUP_REQUESTS = 1


def run(ctx) -> None:
    spark, tr, m = ctx.spark, ctx.tracer, ctx.model
    idx = f"{ctx.work}/ann_index"
    emb = spark.read.parquet(f"{ctx.inputs}/embeddings.parquet")
    n = m["n"]
    x = m["vectors"]

    ctx.start_timed()
    t = now()
    with tr.span("similarity.ivf_train_kmeans"):
        cents = ivf_train_kmeans(emb, k=CELLS, iterations=1)
    with tr.span("similarity.pq_residual_opq_model"):
        books, rotation = pq_residual_opq_model(
            emb, cents, iterations=1, exact_rotation=False
        )
    with tr.span("similarity.write_ivfpq_index") as s:
        write_ivfpq_index(
            emb, idx, centroids=cents, books=books, rotation=rotation,
            encoding="residual_opq", exact_rotation=False,
        )
        s["files_written"] = files_in(idx)
    build_s = now() - t
    n_codes = spark.read.parquet(f"{idx}/codes").count()
    ctx.op([] if n_codes == n else [f"{n_codes} codes for {n} vectors"], "build")
    index_bytes = dir_bytes(idx)

    def query(qid: int):
        return spark.createDataFrame(
            [(qid, x[qid].tolist())], "query_id BIGINT, embedding ARRAY<FLOAT>"
        )

    def call(qid, i, traced):
        if not traced:
            rows = ivfpq_index_topk(spark, idx, query(qid), K, nprobe=NPROBE).collect()
            return [r.asDict() for r in rows]
        with tr.span("similarity.ivfpq_index_topk", req=i):
            with tr.span("similarity.ivfpq_index_topk.construct"):
                out = ivfpq_index_topk(spark, idx, query(qid), K, nprobe=NPROBE)
            with tr.span("similarity.ivfpq_index_topk.plan"):
                out._jdf.queryExecution().executedPlan()
            with tr.span("similarity.ivfpq_index_topk.execute"):
                return [r.asDict() for r in out.collect()]

    qids = m["query_ids"]
    for qid in qids[:WARMUP_REQUESTS]:
        call(qid, 0, False)
    served = ctx.closed_loop(qids[WARMUP_REQUESTS:], call)
    ok = [r for r in served if r[5] is None]
    truth: dict[int, list[int]] = {}
    if ok:
        for r in cosine_topk(emb, [q for _i, q, *_ in ok], K).collect():
            truth.setdefault(r.query_id, []).append(r.vec_id)
    valid = set(range(n))
    recalls = []
    for _i, qid, _dt, _tr, rows, err in served:
        if err is not None:
            ctx.op([err], f"topk {qid}")
            continue
        recalls.append(recall_at_k([r["vec_id"] for r in rows], truth.get(qid, [])))
        ctx.op(check_topk(rows, qid, K, valid), f"topk {qid}")
    recall = statistics.mean(recalls) if recalls else 0.0
    ctx.op(
        [] if recall >= RECALL_FLOOR else [f"mean recall@{K} {recall:.3f} < {RECALL_FLOOR}"],
        "recall",
    )
    lat = [r[2] for r in served if not r[3]]

    cycles = []
    added_total = 0
    for b, size in enumerate(m["add_sizes"]):
        batch = spark.read.parquet(f"{ctx.inputs}/add_{b}.parquet")
        t = now()
        with tr.span("similarity.ivfpq_index_add"):
            added = ivfpq_index_add(spark, idx, batch, exact_rotation=False)
        with tr.span("similarity.ivfpq_index_drift"):
            drift = ivfpq_index_drift(spark, idx).collect()
        cycles.append(now() - t)
        added_total += size
        n_new = sum(r.n_new for r in drift if r.s == 0)
        problems = [] if added == size else [f"added {added} of {size}"]
        if n_new != added_total:
            problems.append(f"drift report sees {n_new} new codes, want {added_total}")
        ctx.op(problems, f"maintain {b}")
    n_codes = spark.read.parquet(f"{idx}/codes").count()
    ctx.op([] if n_codes == n + added_total else [f"{n_codes} codes after adds"], "adds")

    ctx.metrics["offline_docs_per_s"] = n / build_s
    ctx.metrics["op_p50_ms"] = median_ms(lat)
    ctx.metrics["update_p50_ms"] = median_ms(cycles)
    ctx.metrics["index_bytes_per_input_byte"] = index_bytes / (n * x.shape[1] * 4)
    ctx.named["ann_build_s"] = (build_s, "s")
    ctx.named["ann_topk_p50_ms"] = (median_ms(lat), "ms")
    ctx.named["ann_topk_p90_ms"] = (percentile_ms(lat, 0.9), "ms")
    ctx.named["ann_topk_requests"] = (float(len(lat)), "count")
    ctx.named["ann_maintain_p50_s"] = (statistics.median(cycles), "s")
    ctx.named["ann_recall_at_10"] = (recall, "ratio")


def per_layer(tr, ctx) -> None:
    L = ctx.layers
    for name in (
        "ivf_train_kmeans", "pq_residual_opq_model", "write_ivfpq_index",
        "ivfpq_index_add", "ivfpq_index_drift",
    ):
        L[f"similarity.{name}.busy_s"] = tr.busy_s(f"similarity.{name}")
    for name in ("ivf_train_kmeans", "pq_residual_opq_model"):
        L[f"similarity.{name}.jobs"] = tr.total(f"similarity.{name}", "jobs")
    L["similarity.write_ivfpq_index.files_written"] = tr.total(
        "similarity.write_ivfpq_index", "files_written"
    )
    top = "similarity.ivfpq_index_topk"
    for part in ("construct", "plan", "execute"):
        L[f"{top}.{part}_ms"] = tr.per_request_ms(f"{top}.{part}")
    L[f"{top}.jobs_per_request"] = tr.per_request_count(top, "jobs")
