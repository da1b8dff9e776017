"""The CLI ``curate --leakage-safe`` export, run by ``text_lifecycle`` on
the ingested corpus.

``curate`` (exact dedup, MinHash-LSH near-dup removal at Jaccard 0.8,
quality and language filters) -> survivors persisted -> ``shuffle_shard``
-> ``minhash_lsh_dedup`` at the split threshold 0.5 -> ``leakage_safe_split``
(``connected_components`` over the pairs) -> partitioned shard write.

The corpus plants near-duplicate families whose edit chains give pair
graphs of diameter 1..16, so the connected-components round count varies.
Checks: planted exact copies are gone, every kept document is exported
once, component labels equal a union-find over the emitted pairs, and no
pair straddles splits.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from checks import check_split
from common import dir_bytes, now
from hadoop_search_spark.operators.curation import curate
from hadoop_search_spark.operators.dedup import minhash_lsh_dedup
from hadoop_search_spark.operators.graph import connected_components
from hadoop_search_spark.operators.mixing import (
    leakage_safe_split,
    shuffle_shard,
    train_val_test_split,
)

# the CLI defaults, except the split fractions: at 1% a corpus this size
# would put ~15 documents in val, too few to test cluster atomicity
JACCARD, SPLIT_JACCARD, MIN_QUALITY, SHARDS = 0.8, 0.5, 0.5, 8
VAL_FRAC = TEST_FRAC = 0.1


def export(ctx, docs) -> float:
    """Curate ``docs`` (``doc_id, text``), split and shard them into a
    dataset, check it, and return the export's seconds."""
    spark, tr, m = ctx.spark, ctx.tracer, ctx.model
    out_dir = f"{ctx.work}/dataset"

    t = now()
    with tr.span("curation.curate"):
        kept = curate(
            docs, jaccard_threshold=JACCARD, min_quality=MIN_QUALITY, langs=("en",)
        ).select("doc_id")
        surviving = docs.join(kept, "doc_id").persist()
        surviving.count()  # the curate phase ends with the survivors cached
    curate_s = now() - t

    t = now()
    sharded = shuffle_shard(surviving, n_shards=SHARDS)
    joined = surviving.join(sharded.select("doc_id", "shard", "pos"), "doc_id")
    with tr.span("dedup.minhash_lsh_dedup") as s:
        # persisted so the checker reads the very pairs the split used
        pairs = minhash_lsh_dedup(surviving, threshold=SPLIT_JACCARD).select(
            "doc_a", "doc_b"
        ).persist()
        if tr.enabled:
            s["pairs"] = pairs.count()
    if tr.enabled:
        # leakage_safe_split's body, so components get a span of their own
        with tr.span("mixing.leakage_safe_split"):
            with tr.span("graph.connected_components"):
                comp = connected_components(
                    pairs, nodes=surviving.select("doc_id"), src="doc_a", dst="doc_b"
                ).localCheckpoint(eager=True)
            assign = train_val_test_split(
                comp.select(F.col("node").alias("doc_id"), "component"),
                VAL_FRAC, TEST_FRAC, key_col="component", salt="split",
            )
    else:
        assign = leakage_safe_split(surviving, pairs, VAL_FRAC, TEST_FRAC)
    out = joined.join(assign.select("doc_id", "component", "split"), "doc_id")
    with tr.span("mixing.shuffle_shard.write"):
        (
            out.repartition("split", "shard")
            .sortWithinPartitions("split", "shard", "pos")
            .write.mode("overwrite")
            .partitionBy("split", "shard")
            .parquet(out_dir)
        )
    split_s = now() - t

    kept_ids = {r.doc_id for r in surviving.select("doc_id").collect()}
    gone = [b for _a, b in m["plan"]["exact"] if b in kept_ids]
    ctx.op([f"exact copies kept: {gone[:5]}"] if gone else [], "curate")
    rows = [
        (r.doc_id, r.component, r.split)
        for r in spark.read.parquet(out_dir).select("doc_id", "component", "split").collect()
    ]
    pair_list = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    ctx.op(check_split(rows, pair_list, kept_ids), "split")
    pairs.unpersist()
    surviving.unpersist()

    n_docs = len(m["docs"])
    text_bytes = sum(len(d["text"].encode("utf-8")) for d in m["docs"])
    ctx.named["curate_docs_per_s"] = (n_docs / (curate_s + split_s), "1/s")
    ctx.named["curate_s"] = (curate_s, "s")
    ctx.named["split_s"] = (split_s, "s")
    ctx.named["dataset_bytes_per_text_byte"] = (dir_bytes(out_dir) / text_bytes, "ratio")
    ctx.named["kept_docs"] = (float(len(kept_ids)), "count")
    ctx.named["near_dup_pairs"] = (float(len(pair_list)), "count")
    return curate_s + split_s


def per_layer(tr, ctx) -> None:
    L = ctx.layers
    for name in (
        "curation.curate", "dedup.minhash_lsh_dedup",
        "graph.connected_components", "mixing.leakage_safe_split",
    ):
        L[f"{name}.busy_s"] = tr.busy_s(name)
    L["dedup.minhash_lsh_dedup.pairs"] = tr.total("dedup.minhash_lsh_dedup", "pairs")
    L["graph.connected_components.jobs"] = tr.total("graph.connected_components", "jobs")
    L["mixing.shuffle_shard.write_s"] = tr.busy_s("mixing.shuffle_shard.write")
