#!/usr/bin/env python3
"""Physical-plan audit: dump `explain("formatted")` for the flagship
operators with the scale property each plan demonstrates, into
BENCH/PLANS.md.

The properties themselves are enforced by tests/test_plans.py; this
artifact is the human-readable evidence trail (what the plans actually
look like, with the load-bearing lines called out), regenerated from the
live code so it cannot drift.

Usage: python scripts/plans_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def tree(df) -> str:
    return formatted(df).split("\n\n")[0]


def main() -> None:
    from pyspark.sql import functions as F

    from mgspark.aggregate import encode_tokens, mg_partials
    from mgspark.pipeline.dedup import minhash_dedup_pairs, ngram_jaccard_pairs
    from mgspark.pipeline.textstats import bpe_token_stats, lang_id
    from mgspark.session import get_spark
    from mgspark.tokenize import content_tokens

    spark = get_spark("plans-audit", cores=8)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))

    sections: list[tuple[str, str, str]] = []

    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    sections.append((
        "MG stage 1: zero-shuffle per-partition build",
        "No Exchange anywhere below MapInArrow — the build folds Arrow "
        "batches on the scan partitions; skew by key is impossible "
        "because partitioning is by input split.  ReadSchema prunes the "
        "documents scan to the text column; xxhash64 runs inside the "
        "codegen Project.",
        tree(mg_partials(tokens, "key", 64)),
    ))

    from mgspark.sketches.base import _merge_round
    from mgspark.sketches.mg import MGSketch

    sections.append((
        "MG stage 2: one distributed merge round (past fanout partials)",
        "Exactly one hash exchange, and it moves <= k-row partial "
        "sketches (kilobytes at any input size), never raw tokens.  "
        "Within fanout partials merge_partials runs no round at all: it "
        "collects the stage-1 rows and folds them on the driver.",
        tree(_merge_round(mg_partials(tokens, "key", 64), MGSketch(64), 64)),
    ))

    from mgspark.aggregate import _mg_top_counts

    top, _ = _mg_top_counts(tokens, "key", 64, None, None)
    sections.append((
        "Combiner path: one JVM query, exact prune on the driver",
        "The whole combiner sketch: a partial count before the one "
        "Exchange (map-side combine, so shuffle bytes are O(distinct keys "
        "per partition)), CollectMetrics taking the exact total n above "
        "it in the same job, and TakeOrderedAndProject collecting the top "
        "k+1 counts, which the driver prunes at the (k+1)-th count.  No "
        "Python node: nothing crosses the Arrow boundary.",
        tree(top),
    ))
    top, _ = _mg_top_counts(tokens, "key", 64, "token", None)
    sections.append((
        "Combiner path with exemplar tokens",
        "min(token) has a string buffer, which a HashAggregate cannot "
        "hold, so Spark plans a SortAggregate (a sort on each side of the "
        "Exchange); still one scan and no Python node.",
        tree(top),
    ))

    sections.append((
        "Zero-shuffle build with exemplar tokens",
        "mg_topk(pre_aggregate=False) projects the token string beside "
        "each key into MapInArrow, so every partial row carries one "
        "exemplar per surviving key and the released keys decode with "
        "no re-scan of the input.  Still no Exchange below the build.",
        tree(mg_partials(tokens, "key", 64, token_col="token")),
    ))

    from mgspark.aggregate import mg_topk

    sections.append((
        "mg_topk result: a bare LocalTableScan, sorted on the driver",
        "The <= k decoded rows are already on the driver when mg_topk "
        "returns, and are sorted there by (est desc, token asc); Python "
        "str order is code-point order, the same as Spark's UTF-8 byte "
        "order.  The frame is an Arrow local relation "
        "(mgspark.session.local_frame): no Sort and never Scan "
        "ExistingRDD, so collecting it starts no Spark job and no action "
        "on it starts a Python worker.",
        tree(mg_topk(docs.select("lang"), "lang", 8, pre_aggregate=True)),
    ))

    q = li.where(F.col("l_returnflag") == "R").select("l_returnflag", "l_quantity")
    fq = formatted(q)
    sections.append((
        "Predicate pushdown + column pruning",
        "PushedFilters carries the equality into the parquet scan; "
        "ReadSchema reads 2 of 11 lineitem columns.",
        fq.split("\n\n")[0]
        + "\n\n"
        + "\n".join(
            l for l in fq.splitlines() if "PushedFilters" in l or "ReadSchema" in l
        ),
    ))

    sections.append((
        "lang_id: pure JVM column expressions",
        "No Python evaluation node: the stopword/CJK heuristic is a "
        "single projection over a pruned scan (SQL-oracle-able for the "
        "same reason).",
        tree(lang_id(docs, "text", "doc_id")),
    ))

    sections.append((
        "bpe_token_stats: JVM regexp projection",
        "regexp_extract_all is CodegenFallback (interpreted JVM) but "
        "still zero Python; scan pruned to text + doc_id.",
        tree(bpe_token_stats(docs, "text", "doc_id")),
    ))

    sections.append((
        "MinHash near-dup: persisted signatures, banded candidates",
        "InMemoryRelation shows the signature stage computed once and "
        "fanned out to banding and both verification-join sides; the "
        "band-bucket exchange is the only raw-data-sized shuffle.",
        tree(minhash_dedup_pairs(docs.limit(200), "text", "doc_id", threshold=0.7)),
    ))

    from mgspark.pipeline.similarity import lsh_build

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    idx = lsh_build(emb, "embedding", "vec_id", n_planes=6)
    qvec = emb.first()["embedding"]
    sections.append((
        "ANN via build-once LSH index: probe filter over the cached index",
        "The query plan reads ONLY the persisted (id, vec, bucket) index "
        "(InMemoryTableScan) behind a bucket IN-list filter — no "
        "MapInPandas bucket re-assignment appears anywhere, because the "
        "assignment pass ran once at lsh_build time; with a parquet "
        "index_dir the same filter prunes bucket partitions at the "
        "source.",
        tree(idx.topk(qvec, 5, multiprobe=1)),
    ))
    idx.indexed.unpersist()

    sections.append((
        "n-gram Jaccard, doc-freq capped (scale path)",
        "The max_doc_freq stop-gram cap is a map-side-combinable "
        "groupBy(gram) feeding a BROADCAST anti-join of the tiny "
        "hot-gram blacklist (BroadcastHashJoin LeftAnti): partial "
        "aggregation and AQE skew-split apply to the hot gram, unlike a "
        "Window which would pin all its instances to one task.",
        tree(ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8, max_doc_freq=8, eager_cache=False)),
    ))

    from mgspark.pipeline.sampling import mixture_sample, stratified_sample

    sections.append((
        "Deterministic mixture sampling: zero-shuffle filter",
        "No Exchange at all — the per-source keep decision is a CASE + "
        "seeded-hash comparison inside the codegen Filter, so the "
        "sampling step composes with any downstream plan at any scale.",
        tree(mixture_sample(docs, "source", "doc_id", {"src0": 1.0}, default_rate=0.25)),
    ))

    from mgspark.pipeline.temporal import asof_join, sessionize

    ev_small = spark.range(1000).select(
        (F.col("id") % 50).alias("uid"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    rt_small = spark.range(200).select(
        (F.col("id") % 50).alias("uid"),
        F.timestamp_seconds(F.col("id") * 3).alias("rts"),
        (F.col("id") * 2.0).alias("price"),
    )
    sections.append((
        "Sessionization: one exchange, one sort, fused windows",
        "The lag flag and the running session counter share a single "
        "Window operator over one (key) exchange + one (key, ts) sort — "
        "the minimum any per-entity temporal operator needs.",
        tree(sessionize(ev_small, "uid", "ts", 600)),
    ))

    sections.append((
        "As-of join: union + window, never a nested loop",
        "A time-inequality theta join degenerates to a per-key nested "
        "loop in Spark; this plan is the union trick — tag sides, one "
        "exchange, one sort, last(ignoreNulls) propagation — O(n log n) "
        "per partition at any scale.",
        tree(asof_join(ev_small, rt_small, "uid", "ts", "rts", ["price"])),
    ))

    sections.append((
        "Stratified sample: one exchange, rank inside",
        "Exactly the one hash exchange top-n-per-group requires; the "
        "rank runs over (hash, id) so the draw is uniform yet fully "
        "reproducible.",
        tree(stratified_sample(docs, "lang", "doc_id", n_per_stratum=20)),
    ))

    from mgspark.sketches.base import sketch_agg_grouped
    from mgspark.sketches.tdigest import TDigest

    sections.append((
        "Grouped sketch, map-side combine plan",
        "Stage 1 is a zero-input-shuffle MapInArrow over the scan "
        "partitions (per-task dict of per-group states); the only "
        "exchange moves O(partitions x groups x sketch-size) partial "
        "rows into the per-group merge — the hash-aggregate shape for "
        "sketch states.",
        tree(sketch_agg_grouped(docs, "lang", "doc_id", TDigest(100), mode="mapside")),
    ))

    from mgspark.pipeline.decontam import decontaminate
    from mgspark.pipeline.dedup import dedup_incremental
    from mgspark.pipeline.dsir import dsir_log_weights, dsir_resample
    from mgspark.pipeline.substr import dup_span_stats

    bench = docs.limit(40).selectExpr("doc_id + 1000000 AS bench_id", "text")
    sections.append((
        "Decontamination: broadcast eval grams, map-side corpus stream",
        "The eval-set gram relation is explicitly broadcast "
        "(BroadcastHashJoin); the corpus side never shuffles raw grams — "
        "the only exchange is the combiner count over MATCHED grams, a "
        "minuscule fraction of the corpus at any scale.",
        tree(decontaminate(docs, bench, n=13)),
    ))

    sections.append((
        "ExactSubstr duplicate spans: one exchange+sort per doc stream",
        "Window keys count via map-side-combinable HashAggregates; the "
        "duplicated-key join-back is AQE-broadcastable; the "
        "gaps-and-islands span merge shares ONE (doc) exchange + sort "
        "across its lag flag and running island id.",
        tree(dup_span_stats(docs, "text", "doc_id", w=13)),
    ))

    sections.append((
        "DSIR scoring: broadcast models, no corpus-size id re-join",
        "Both bucket models are <= n_buckets rows by construction and "
        "broadcast; gram-less docs ride explode_outer zero-count rows "
        "through the same combiner aggregations, so no SortMergeJoin "
        "against the id column ever appears.",
        tree(dsir_log_weights(docs, docs.limit(20), n_buckets=256)),
    ))

    sections.append((
        "DSIR resample: Gumbel top-k compiles to TakeOrdered",
        "Selection is sort+limit (TakeOrderedAndProject) on a key that "
        "is a pure function of (id, seed) — no global sort "
        "materializes, and the kept set is identical at any "
        "parallelism.",
        tree(dsir_resample(dsir_log_weights(docs, docs.limit(20), n_buckets=256), 10, seed=1)),
    ))

    sections.append((
        "Incremental dedup: 32-byte corpus projection, anti-join",
        "The history side is pruned to its sha256 digest before the "
        "exchange — no corpus text ever moves; the batch-vs-history "
        "check is a LeftAnti hash join that AQE can broadcast when the "
        "batch is small.",
        tree(dedup_incremental(docs.limit(100), docs, "text", "doc_id")),
    ))

    import numpy as np

    from mgspark.pipeline.boilerplate import remove_boilerplate_lines
    from mgspark.pipeline.bpe import word_counts
    from mgspark.pipeline.clustering import kmeans_assign

    sections.append((
        "Distributed k-means: pure-JVM assignment, no Python node",
        "The per-centroid distances are zip_with/aggregate expressions "
        "over broadcast-literal centroids and the argmin is "
        "array_position(array_min) — one Project over the scan, entirely "
        "JVM-side (higher-order functions run interpreted but never "
        "cross into Python).  The centroid update (not shown) is "
        "one groupBy(cluster) with per-dimension sums, map-side "
        "combined, shuffling k*(dim+1) doubles per partition.",
        tree(
            kmeans_assign(
                spark.read.parquet(
                    os.path.join(REPO, ".fixtures", "kmeans_embeddings_v1.parquet")
                ),
                "embedding",
                "vec_id",
                np.zeros((4, 8)),
            )
        ),
    ))

    sections.append((
        "Boilerplate line dedup: broadcast anti-join against the hot set",
        "The hot-line blacklist (doc_freq above threshold) is tiny by "
        "construction, so removal is BroadcastHashJoin LeftAnti on the "
        "exploded line relation — the stop-gram pattern; reassembly is "
        "one order-restoring array_sort groupBy.  No Python anywhere.",
        tree(remove_boilerplate_lines(docs.limit(50), "text", "doc_id")),
    ))

    sections.append((
        "BPE training scan: combiner word counts feed a bounded TakeOrdered",
        "The only corpus-sized operation in tokenizer training: explode "
        "+ groupBy(word) with map-side partial aggregation, then the "
        "driver merge loop consumes the top-N vocabulary via "
        "TakeOrderedAndProject — driver materialization is vocab-sized "
        "at any corpus size.",
        tree(
            word_counts(docs, "text")
            .orderBy(F.col("cnt").desc(), "word")
            .limit(1000)
        ),
    ))

    from mgspark.pipeline.retrieval import bm25_topk
    from mgspark.pipeline.sink import shard_manifest

    sections.append((
        "BM25 retrieval: one persisted scan, TakeOrdered release",
        "Query-term frequencies are array filter/size expressions over "
        "the whitespace token array — a zero-shuffle projection (the "
        "query is tiny, the corpus is not: never an explode+join).  "
        "Corpus stats are ONE q+2-value combiner aggregation off the "
        "persisted projection, and the top-k is TakeOrderedAndProject "
        "(per-partition heap + driver merge, never a global sort).",
        tree(bm25_topk(docs, "text", "doc_id", ["merge", "scan"], k=10)),
    ))

    sections.append((
        "Sharded sink manifest: zero-shuffle fingerprints, one combiner agg",
        "Shard id and the 60-bit sha256 row fingerprint are pure column "
        "expressions inside the scan Project; the per-shard counts and "
        "XOR-fold checksum are a single partial+final HashAggregate — "
        "post-shuffle traffic is n_shards rows regardless of corpus "
        "size.  XOR is order/partitioning-independent, so the checksum "
        "is stable at any cluster size (the resume/validation contract).",
        tree(
            shard_manifest(
                docs, "doc_id", ["text", "lang"], n_shards=16, text_col="text"
            )
        ),
    ))

    lines = [
        "# PLANS — physical-plan audit of the flagship operators",
        "",
        f"Regenerated by `python scripts/plans_audit.py` against `{SF_DIR}`",
        "(plan shapes are input-size independent).  Each property shown",
        "here is enforced as a regression test in `tests/test_plans.py`.",
        "",
    ]
    for title, why, plan in sections:
        lines += [f"## {title}", "", why, "", "```", plan, "```", ""]
    out = os.path.join(REPO, "BENCH", "PLANS.md")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w", encoding="utf8") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(sections)} sections)")
    spark.stop()


if __name__ == "__main__":
    main()
