"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the implemented operators from SURVEY.md §2 as
(spark, sf_dir) -> DataFrame callables; ``oracle_sql()`` holds the DuckDB
equivalents.  MG sketch queries whose key cardinality is <= k are *exact
by construction* (no decrement can ever fire, SURVEY.md §1.3), so the
full distributed build+merge pipeline is oracle-checkable with plain
GROUP BY/COUNT SQL.  Queries with true sketching (k < cardinality) or DP
noise are rows-only checks; their error-bound verification lives in
tests/ (pytest).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mgspark.session import local_frame


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _mg_topk_query(table: str, col: str, k: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from mgspark.aggregate import mg_topk

        df = _read(spark, sf_dir, table).select(F.col(col).cast("string").alias("token"))
        # Categorical columns are definitionally distinct << rows — pin
        # the combiner plan instead of paying the auto-probe job (the
        # probe picks it on every one of these tables; "auto" stays the
        # default for unknown inputs).
        return mg_topk(df, "token", k, pre_aggregate=True)

    return run


def _mg_topk_oracle(table: str, col: str) -> str:
    return (
        f"SELECT CAST({col} AS VARCHAR) AS token, COUNT(*) AS est "
        f"FROM {table} GROUP BY {col}"
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.tokenize import content_tokens

    return content_tokens(_read(spark, sf_dir, "documents"), "text")


def q_mg_topk_doc_tokens_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.aggregate import mg_topk

    # 31-token synthetic vocabulary: distinct << rows by construction —
    # pin the combiner (the auto probe picks it; this just skips the
    # probe job).
    return mg_topk(_doc_tokens(spark, sf_dir), "token", 256, pre_aggregate=True)


def q_mg_sketch_doc_tokens_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True sketching: k=8 < vocab, decrements fire; bound checked in pytest."""
    from mgspark.aggregate import mg_topk

    return mg_topk(_doc_tokens(spark, sf_dir), "token", 8, pre_aggregate=True)


def q_mg_sketch_bound_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable *invariant* of the true-sketching path (k=8 <
    vocab): every released estimate must satisfy the deterministic MG
    bound ``true - floor(N/(k+1)) <= est <= true`` (pmg.py:26-98) and at
    most k keys are released.  The Spark side computes the exact counts
    distributedly and counts violations; the oracle pins total_tokens
    (DuckDB recomputes it) and zero violations."""
    from mgspark.aggregate import mg_topk

    k = 8
    tokens = _doc_tokens(spark, sf_dir)
    est = mg_topk(tokens, "token", k, pre_aggregate=True)
    exact = tokens.groupBy("token").agg(F.count("*").alias("true_cnt"))
    joined = est.join(exact, "token", "left")
    # total_tokens = sum over the full exact relation (not just the
    # joined survivors) — computed in the same action as the violation
    # counts via a 1-row crossJoin instead of a separate count() job,
    # which re-scanned the whole token explosion a third time.
    totals = exact.agg(F.sum("true_cnt").cast("long").alias("total_tokens"))
    agg = joined.crossJoin(totals).agg(
        F.coalesce(F.sum((F.col("est") > F.col("true_cnt")).cast("long")), F.lit(0)).alias(
            "over_violations"
        ),
        F.coalesce(
            F.sum(
                (
                    F.col("true_cnt") - F.col("est")
                    > F.floor(F.col("total_tokens") / F.lit(k + 1))
                ).cast("long")
            ),
            F.lit(0),
        ).alias("under_violations"),
        (F.count("*") <= k).cast("long").alias("released_le_k"),
        F.first("total_tokens").alias("total_tokens"),
    )
    return agg.select(
        "over_violations", "under_violations", "released_le_k", "total_tokens"
    )


def q_hll_vs_exact_user_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL is hash-deterministic, so its error vs the exact distinct count
    is a fixed fact: emit the exact count (computed distributedly in
    Spark, recomputed by DuckDB) plus a within-2.5%-bound flag."""
    from mgspark.sketches import hll_distinct

    events = _read(spark, sf_dir, "events")
    est = float(hll_distinct(events, "user_id"))
    true = events.select("user_id").distinct().count()
    ok = 1 if abs(est - true) <= 0.025 * true else 0
    return local_frame(spark, [(int(true), ok)], "true_distinct long, within_bound long")


def q_quantile_rank_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest and KLL rank-error invariants: for each target quantile q
    the exact rank of the estimated quantile (computed distributedly)
    must sit within q +/- 0.05.  The oracle pins the row count (recomputed
    by DuckDB) and the in-bound flags."""
    from mgspark.sketches import kll_quantiles, tdigest_quantiles

    li = _read(spark, sf_dir, "lineitem")
    events = _read(spark, sf_dir, "events")
    qs = [0.1, 0.5, 0.9]
    td = tdigest_quantiles(li, "l_extendedprice", qs)
    kll = kll_quantiles(events, "value", qs)
    n_li = li.count()
    n_ev = events.count()
    rows = []
    for q, est in zip(qs, td):
        rank = li.where(F.col("l_extendedprice") <= float(est)).count() / n_li
        rows.append(("tdigest", q, int(abs(rank - q) <= 0.05)))
    for q, est in zip(qs, kll):
        rank = events.where(F.col("value") <= float(est)).count() / n_ev
        rows.append(("kll", q, int(abs(rank - q) <= 0.05)))
    out = local_frame(spark, rows, "sketch string, q double, within_bound long")
    return out.withColumn(
        "n_rows",
        F.when(F.col("sketch") == "tdigest", F.lit(n_li)).otherwise(F.lit(n_ev)).cast("long"),
    )


def q_ann_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end equivalence invariant for the ANN machinery: with
    exhaustive probing (all LSH buckets / all IVF centroids probed) the
    bucketed pipelines must reproduce the exact cosine top-10 id set —
    any bug in bucketing, assignment, candidate join, or scoring breaks
    it.  Pruned-probe *recall* is a property of data clusteredness and is
    asserted on clustered fixtures in pytest instead (the sf tables'
    embeddings are near-random)."""
    from mgspark.pipeline.similarity import ann_ivf_topk, ann_lsh_topk, cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).first()["embedding"]
    exact = {r["id"] for r in cosine_topk(emb, "embedding", "vec_id", query, 10).collect()}
    # n_planes=2, multiprobe=2 -> all 4 buckets probed (exhaustive)
    lsh = {
        r["id"]
        for r in ann_lsh_topk(
            emb, "embedding", "vec_id", query, 10, n_planes=2, multiprobe=2
        ).collect()
    }
    # n_probe = n_centroids -> exhaustive
    ivf = {
        r["id"]
        for r in ann_ivf_topk(
            emb, "embedding", "vec_id", query, 10, n_centroids=16, n_probe=16
        ).collect()
    }
    rows = [("lsh", int(lsh == exact)), ("ivf", int(ivf == exact))]
    return local_frame(spark, rows, "method string, matches_exact long")


def q_mg_grouped_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language heavy hitters via the grouped exact-prune
    window with exemplar decode (single scan, no Python stage).  k=10 >=
    5 distinct langs, so estimates are exact."""
    from mgspark.aggregate import mg_topk_grouped

    docs = _read(spark, sf_dir, "documents")
    return mg_topk_grouped(
        docs.select("source", F.col("lang").alias("token")), "source", "token", k=10
    )


def q_mg_private_topk_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline incl. central approx-DP release (random -> rows-only).

    Single scan: exemplar tokens ride in the sketch partials, so released
    keys decode with no second pass over the input (approx-DP never
    invents keys, so the exemplar map covers every released key)."""
    from mgspark import dp
    from mgspark.aggregate import encode_tokens, mg_sketch_with_tokens

    events = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("token")
    )
    encoded = encode_tokens(events, "token")
    state, mapping = mg_sketch_with_tokens(
        encoded, "key", 10, token_col="token", pre_aggregate=True
    )
    released = dp.privatize_merged(state.to_dict(), 10, epsilon=2.0, delta=1e-6)
    rows = [(mapping.get(key, str(key)), int(cnt)) for key, cnt in released.items()]
    return local_frame(spark, rows, "token string, est long")


# ---------------------------------------------------------------------------
# Training-data pipeline queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------


def q_dedup_exact_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.dedup import dedup_exact

    docs = _read(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id").agg(F.count("*").alias("kept"))


def q_exact_dup_groups_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.dedup import exact_duplicate_groups

    docs = _read(spark, sf_dir, "documents")
    return exact_duplicate_groups(docs, "source", "doc_id")


def q_near_dup_components_exact_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pairs->clusters dedup step (connected components via min-label
    propagation + pointer jumping), oracle-checked on the exact-duplicate
    graph: pairs of byte-identical documents form disjoint cliques, so
    the components must be exactly the duplicate text groups — (keep_id =
    min doc_id, size) per group, which DuckDB recomputes with GROUP BY
    text."""
    from mgspark.pipeline.dedup import near_dup_components

    docs = _read(spark, sf_dir, "documents")
    hashed = docs.select(F.sha2("text", 256).alias("_h"), F.col("doc_id"))
    a = hashed.select("_h", F.col("doc_id").alias("id_a"))
    b = hashed.select("_h", F.col("doc_id").alias("id_b"))
    pairs = a.join(b, "_h").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    return near_dup_components(pairs)


def q_dedup_near_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup composition at the SimHash radius: pairs
    from simhash_near_pairs (hamming <= 8) -> connected components ->
    kept set (dedup_near), oracle-checked as invariants on the
    exact-duplicate structure.  Exact duplicates share a fingerprint
    (hamming 0), so every exact-dup group collapses inside one
    component; with both keep rules taking the min doc_id, the near-dup
    kept set must be a SUBSET of the exact-dedup kept set and no larger.
    All checks run as joins + aggregates — nothing is collected to the
    driver."""
    from mgspark.pipeline.dedup import dedup_near, simhash_near_pairs

    docs = _read(spark, sf_dir, "documents")
    # Generous bucket cap: the subset invariant needs every hamming-0
    # (exact-dup) pair released; the production default cap trades that
    # completeness inside boilerplate buckets for boundedness.
    pairs = simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=8, max_bucket=1 << 20
    )
    kept = dedup_near(docs, "doc_id", pairs).select("doc_id")
    exact_keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    totals = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("exact_kept"),
    )
    # one pass over kept computes both the size and the stray count
    # (a left join + conditional sum instead of a separate anti-join
    # branch that would re-derive kept a second time)
    kept_stats = kept.join(
        exact_keep.select("doc_id").withColumn("_in_exact", F.lit(1)),
        "doc_id",
        "left",
    ).agg(
        F.count("*").alias("_kept_n"),
        F.coalesce(
            F.sum(F.when(F.col("_in_exact").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("_n_stray"),
    )
    return (
        totals.crossJoin(kept_stats)
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("exact_kept").cast("long").alias("exact_kept"),
            (F.col("_kept_n") <= F.col("exact_kept")).cast("long").alias("kept_le_exact"),
            (F.col("_n_stray") == 0).cast("long").alias("kept_subset_exact"),
        )
    )


# Rolling-corpus split used by the incremental-dedup queries: the same
# deterministic Knuth hash the sampling oracles already mirror in DuckDB
# (seed 11; 60% corpus / 40% batch).  A pure function of doc_id, so both
# engines carve identical snapshots with no materialized state.
_INC_SEED = 11
_INC_CUTOFF = int(0.6 * (1 << 32))


def _incremental_split(spark: SparkSession, sf_dir: str):
    from mgspark.pipeline.sampling import sample_hash_expr

    docs = _read(spark, sf_dir, "documents")
    h = sample_hash_expr("doc_id", _INC_SEED)
    return docs.where(h < _INC_CUTOFF), docs.where(h >= _INC_CUTOFF)


def q_dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus exact dedup (pipeline/dedup.dedup_incremental):
    keep batch rows absent from the corpus by content and unique (min
    id) within the batch — the rolling-ingestion shape.  Fully
    SQL-expressible, exact DuckDB oracle over the identical hash split."""
    from mgspark.pipeline.dedup import dedup_incremental

    corpus, batch = _incremental_split(spark, sf_dir)
    return dedup_incremental(batch, corpus, "text", "doc_id").select(
        "doc_id", "lang", "source"
    )


def q_minhash_incremental_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR twin of incremental dedup
    (pipeline/dedup.minhash_incremental_pairs), oracle-checked as
    distributed invariants: identical text on both sides of the split
    yields identical signatures, which collide in EVERY band — so the
    exact cross-side duplicate pairs MUST all be released
    (deterministic recall 1, not probabilistic), every released pair
    must point batch->corpus, and every estimate must clear the
    threshold.  All checks are joins + aggregates; nothing is collected
    to the driver."""
    from mgspark.pipeline.dedup import minhash_incremental_pairs

    corpus, batch = _incremental_split(spark, sf_dir)
    # pairs appears exactly once in the fused invariant plan — no
    # persist needed (it would only add cache-store overhead).
    pairs = minhash_incremental_pairs(
        batch, corpus, "text", "doc_id", threshold=0.8, max_bucket=1 << 20
    )
    return _minhash_recall_invariant(batch, corpus, pairs)


def q_minhash_incremental_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The daily-loop WARM path of the incremental near-dup operator:
    the corpus side arrives as a persisted signature table (the previous
    run's minhash_signatures output) and ``corpus=None`` — the corpus
    text column is structurally unreadable, only the new batch is
    shingled and signed (the fix for VERDICT r4 defect #2).  Checked
    with the same deterministic recall-1 invariant as the cold row, so
    the identical oracle proves the warm path releases the identical
    pair set."""
    from mgspark.cacheutil import transient_persist
    from mgspark.pipeline.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    corpus, batch = _incremental_split(spark, sf_dir)
    # "Yesterday's" signature table — in production this is read back
    # from parquet; here it is built once and persisted, after which the
    # pairs computation never touches corpus text.
    corpus_sig = transient_persist(minhash_signatures(corpus, "text", "doc_id"))
    # pairs appears exactly once in the fused invariant plan — no
    # persist needed (it would only add cache-store overhead).
    pairs = minhash_incremental_pairs(
        batch,
        None,
        "text",
        "doc_id",
        threshold=0.8,
        max_bucket=1 << 20,
        corpus_sig=corpus_sig,
    )
    return _minhash_recall_invariant(batch, corpus, pairs)


def _minhash_recall_invariant(
    batch: DataFrame, corpus: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Distributed invariant shared by the cold and warm incremental
    rows: exact cross-side duplicates must ALL be released (identical
    text -> identical signatures -> collision in every band), released
    pairs must point batch->corpus, and every estimate clears the
    threshold.

    All four counts ride ONE fused aggregation: the exact cross-side
    pair set (unique — doc ids are unique per side) full-outer joins
    the released pair set on (batch_id, corpus_id), side membership
    arrives as two marker left-joins, and every invariant is a
    conditional sum over that single relation — previously four
    aggregate subplans plus three crossJoins, each its own exchange
    cascade (and exact_cross was computed twice)."""
    # join on the content hash, not the raw text — the exchange then
    # carries 32 B/row instead of whole documents
    exact_cross = (
        batch.select(
            F.sha2("text", 256).alias("_h"), F.col("doc_id").alias("batch_id")
        )
        .join(
            corpus.select(
                F.sha2("text", 256).alias("_h"), F.col("doc_id").alias("corpus_id")
            ),
            "_h",
        )
        .select("batch_id", "corpus_id", F.lit(1).alias("_e"))
    )
    released = pairs.select(
        "batch_id", "corpus_id", "est_jaccard", F.lit(1).alias("_p")
    )
    fused = (
        exact_cross.join(released, ["batch_id", "corpus_id"], "full_outer")
        .join(
            batch.select(F.col("doc_id").alias("batch_id"), F.lit(1).alias("_b")),
            "batch_id",
            "left",
        )
        .join(
            corpus.select(
                F.col("doc_id").alias("corpus_id"), F.lit(1).alias("_c")
            ),
            "corpus_id",
            "left",
        )
        .agg(
            F.coalesce(F.sum("_e"), F.lit(0)).cast("long").alias("n_exact_cross"),
            F.coalesce(
                F.sum(F.when(F.col("_e").isNotNull() & F.col("_p").isNull(), 1)),
                F.lit(0),
            ).alias("_miss"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_p").isNotNull()
                        & (F.col("_b").isNull() | F.col("_c").isNull()),
                        1,
                    )
                ),
                F.lit(0),
            ).alias("_bad_sides"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_p").isNotNull() & (F.col("est_jaccard") < 0.8), 1
                    )
                ),
                F.lit(0),
            ).alias("_below"),
        )
    )
    return fused.select(
        "n_exact_cross",
        (F.col("_miss") == 0).cast("long").alias("exact_recall_complete"),
        (F.col("_bad_sides") == 0).cast("long").alias("pairs_cross_side"),
        (F.col("_below") == 0).cast("long").alias("estimates_at_threshold"),
    )


def q_corpus_delta_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report (pipeline/profile.corpus_delta) between two
    overlapping deterministic samples of the documents table: per
    source, distinct-content counts added / removed / unchanged.  Fully
    SQL-expressible — DuckDB recomputes both snapshots from the same
    Knuth hash and diffs them with a null-safe full outer join."""
    from mgspark.pipeline.profile import corpus_delta
    from mgspark.pipeline.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    old = hash_sample(docs, "doc_id", 0.7, seed=5)
    new = hash_sample(docs, "doc_id", 0.7, seed=6)
    return corpus_delta(old, new, "text", "source")


def q_semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (pipeline/similarity.
    semantic_dedup_pairs: k-means clusters bound the pair space),
    oracle-checked as distributed invariants on the clustered embedding
    fixture: released pairs are exactly verified (subset of the exact
    all-pairs set) AND recall is complete — near-identical vectors
    always assign to the same nearest centroid, so no planted pair
    straddles a cluster boundary.  Deterministic: seeded k-means on a
    hash-ordered sample.  DuckDB recomputes n_exact pairwise and pins
    the flags; the subset/recall checks run as anti-joins + counts,
    nothing collected to the driver."""
    from mgspark.pipeline.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(_CLUSTERED_EMB_PARQUET)
    # All three invariant counts ride ONE fused aggregation over a
    # full-outer join of the two (unique) pair sets — each pair
    # pipeline appears exactly once in the plan, so the persists (and
    # the two anti-join aggregate subplans plus crossJoins) are gone.
    sem = semantic_dedup_pairs(
        emb, "embedding", "vec_id", threshold=0.99, n_clusters=8
    ).select("id_a", "id_b", F.lit(1).alias("_s"))
    exact = embedding_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.99, method="exact"
    ).select("id_a", "id_b", F.lit(1).alias("_e"))
    fused = sem.join(exact, ["id_a", "id_b"], "full_outer").agg(
        F.coalesce(F.sum("_e"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(
            F.sum(F.when(F.col("_s").isNotNull() & F.col("_e").isNull(), 1)),
            F.lit(0),
        ).alias("_stray"),
        F.coalesce(
            F.sum(F.when(F.col("_e").isNotNull() & F.col("_s").isNull(), 1)),
            F.lit(0),
        ).alias("_miss"),
    )
    return fused.select(
        "n_exact",
        (F.col("_stray") == 0).cast("long").alias("sem_subset_exact"),
        (F.col("_miss") == 0).cast("long").alias("sem_recall_complete"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8, max_doc_freq=None)


def q_ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of n-gram Jaccard: boilerplate grams shared by more
    than max_doc_freq documents are dropped before the self-join (a gram
    in D docs contributes D^2 join rows), giving exact Jaccard over the
    rare-gram universe.  Still fully SQL-expressible -> hash oracle."""
    from mgspark.pipeline.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8, max_doc_freq=8
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyterms (top-3, smoothed idf); the contract
    compares integer outputs + rank, never the float score, so the
    check is free of cross-engine float stringification."""
    from mgspark.pipeline.textstats import tfidf_top_terms

    return tfidf_top_terms(_read(spark, sf_dir, "documents"), "text", "doc_id", k=3)


_BM25_TERMS, _BM25_K = ["merge", "window", "scan"], 20


def q_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (pipeline/retrieval.py): one persisted corpus
    scan, a q+2-value combiner aggregation, TakeOrdered release.
    ``idf="rational"`` keeps every op IEEE +,*,/ on integer-derived
    doubles, so the DuckDB oracle replaying the identical expression
    order hash-matches the scores bit-for-bit (same argument as the
    unrolled-Lloyd k-means oracle)."""
    from mgspark.pipeline.retrieval import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", _BM25_TERMS, k=_BM25_K, idf="rational")


def q_bm25_topk_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 WARM path: query against a prebuilt inverted index
    (pipeline/retrieval.bm25_build -> bm25_topk_indexed) — zero corpus
    scans at query time, the tf vector is pivoted back out of the
    persisted postings and fed through the IDENTICAL rational-IDF
    expression order, so the same oracle as the cold row must hash-match
    the scores bit-for-bit."""
    from mgspark.pipeline.retrieval import bm25_build, bm25_topk_indexed

    docs = _read(spark, sf_dir, "documents")
    index = bm25_build(docs, "text", "doc_id")
    return bm25_topk_indexed(index, _BM25_TERMS, k=_BM25_K, idf="rational")


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling pass (one-scan per-column stats), exact
    distinct mode for the oracle; restricted to string/int columns so
    min/max stringification is engine-independent (double and timestamp
    renderings differ between Spark and DuckDB)."""
    from mgspark.pipeline.profile import profile_table

    events = _read(spark, sf_dir, "events")
    return profile_table(
        events, ["event_type", "user_id", "event_id"], exact_distinct=True
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.textstats import token_stats

    return token_stats(_read(spark, sf_dir, "documents"), "text", "doc_id")


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts (the pre-tokenization
    granularity an LLM pipeline budgets by) — pure JVM regexp, oracled
    with the identical pattern in DuckDB."""
    from mgspark.pipeline.textstats import bpe_token_stats

    return bpe_token_stats(_read(spark, sf_dir, "documents"), "text", "doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.textstats import quality_score

    return quality_score(_read(spark, sf_dir, "documents"), "text", "doc_id")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.textstats import fingerprint

    return fingerprint(_read(spark, sf_dir, "documents"), "text", "doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.textstats import lang_id

    return lang_id(_read(spark, sf_dir, "documents"), "text", "doc_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (dup-line fractions + most
    frequent bigram).  The contract projects the exact integer
    numerators/denominators plus the argmax gram — float fractions stay
    out of the hash (Spark HALF_UP vs DuckDB half-even ROUND ties)."""
    from mgspark.pipeline.textstats import repetition_stats

    return repetition_stats(
        _read(spark, sf_dir, "documents"), "text", "doc_id", n=2
    ).select(
        "id",
        "n_lines",
        "n_dup_lines",
        "dup_line_chars",
        "line_chars",
        "text_chars",
        "top_ngram",
        "top_ngram_count",
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents enriched with deterministic
    synthetic PII (the corpus itself contains none): per-doc email, IP
    and account number derived from doc_id, so every row exercises all
    three patterns and the redacted strings hash-compare exactly."""
    from mgspark.pipeline.textstats import redact_pii

    docs = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "concat(coalesce(text, ''), ' u', CAST(doc_id AS STRING), '@ex.com ip 10.0.0.', "
        "CAST(doc_id % 256 AS STRING), ' acct ', "
        "CAST(1000000 + doc_id AS STRING)) AS text",
    )
    return redact_pii(docs, "text", "doc_id")


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span detection (Lee et al. 2021): per-doc
    counts of corpus-duplicated 13-token windows merged into maximal
    spans.  Runs the scale-default xxhash64 window index; the oracle
    recomputes from exact string windows, so the green row also proves
    the hashed index is collision-free at this sf."""
    from mgspark.pipeline.substr import dup_span_stats

    return dup_span_stats(_read(spark, sf_dir, "documents"), "text", "doc_id", w=13)


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup applied: every token covered by a duplicated
    13-token window removed from the text, all other docs unchanged —
    the oracle rebuilds each cleaned string from the covered-position
    union, so the rewrite is hash-compared byte-for-byte."""
    from mgspark.pipeline.substr import remove_dup_spans

    return remove_dup_spans(
        _read(spark, sf_dir, "documents"), "text", "doc_id", w=13
    ).select("doc_id", "text")


def q_lm_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM fluency features: the model is trained on
    the documents table itself (vocab capped to top-25 of the 31-token
    synthetic vocabulary so the cap and its (count desc, token asc)
    tie-break are exercised cross-engine), then every doc is scored
    against it.  Integer columns only — the float avg_logprob stays out
    of the hash per the integer-first contract."""
    from mgspark.pipeline.lm import lm_score, lm_train

    docs = _read(spark, sf_dir, "documents")
    lm = lm_train(docs, "text", vocab_size=25, min_count=2)
    return lm_score(docs, lm, "text", "doc_id").select(
        "id", "n_bigrams", "n_known_bigrams", "known_count_sum"
    )


_DSIR_BUCKETS = 512


def _dsir_target_predicate():
    """DSIR target membership: the same deterministic 2% hash sample
    (seed 31) the decontamination bench set uses — a 'high-quality
    subset' stand-in whose membership DuckDB recomputes exactly.
    Expressed as a predicate over the featurized ``id`` column so
    dsir_log_weights derives the target model from the raw side's
    per-doc bucket relation instead of gram-exploding (and
    sha256-hashing) the subset a second time — identical counts, half
    the featurization work (guide §1.2: remove the redundant pass)."""
    from mgspark.pipeline.sampling import _MOD, sample_hash_expr

    return sample_hash_expr("id", 31) < int(0.02 * _MOD)


def q_dsir_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance features (arXiv:2302.03169): every doc scored
    against a target subset via hashed unigram+bigram bucket counts.
    Integer columns only (gram totals and target/raw bucket-count
    sums); the float log_weight stays out per the integer-first
    contract.  The sha256-prefix bucket hash is recomputed verbatim by
    DuckDB, so the whole featurize -> model -> score pipeline is
    hash-compared."""
    from mgspark.pipeline.dsir import dsir_log_weights

    docs = _read(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs,
        None,
        n_buckets=_DSIR_BUCKETS,
        target_predicate=_dsir_target_predicate(),
    ).select("id", "n_grams", "target_count_sum", "raw_count_sum")


def q_dsir_resample_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k resampling invariants: exactly n selected, all from
    the corpus, and an independent recomputation selects the identical
    set.  Only the 2 x n selected ids reach the driver.  log_weight is
    rounded to 9 decimals first so float summation order across runs
    cannot flip a near-tie in the contract row."""
    from mgspark.pipeline.dsir import dsir_log_weights, dsir_resample

    docs = _read(spark, sf_dir, "documents")

    def selection() -> DataFrame:
        w = dsir_log_weights(
            docs,
            None,
            n_buckets=_DSIR_BUCKETS,
            target_predicate=_dsir_target_predicate(),
        )
        w = w.withColumn("log_weight", F.round("log_weight", 9))
        return dsir_resample(w, 200, seed=11).select("id")

    # The two selections run as separate actions: fused into one plan,
    # exchange reuse would execute the identical subtrees once and make
    # the rerun check vacuous.
    corpus_ids = docs.select(
        F.col("doc_id").cast("long").alias("id"), F.lit(1).alias("_c")
    )
    first = selection().join(corpus_ids, "id", "left").collect()
    rerun = {r["id"] for r in selection().collect()}
    row = (
        len(first),
        sum(r["_c"] is None for r in first),
        len({r["id"] for r in first} ^ rerun),
    )
    return local_frame(spark, [row], "n_selected long, n_outside long, n_rerun_mismatch long")


def _bench_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic eval set for decontamination: a deterministic 2% hash
    sample of documents (seed 31), re-keyed so ids never collide with
    the corpus.  Every bench item therefore HAS a contaminated source
    doc — the overlap report is guaranteed non-trivial."""
    from mgspark.pipeline.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.02, seed=31).selectExpr(
        "doc_id + 1000000 AS bench_id", "text"
    )


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style 13-gram eval-set overlap report, on the scale-default
    xxhash64-gram join; the oracle recomputes the same counts from exact
    string grams, so the row ALSO proves the hashed path is
    collision-free at this sf (a collision would inflate a count)."""
    from mgspark.pipeline.decontam import contamination_report

    docs = _read(spark, sf_dir, "documents")
    return contamination_report(docs, _bench_set(spark, sf_dir), n=13)


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept corpus after dropping docs sharing any 13-gram with the
    bench set — runs the scale-default hashed-gram path; the oracle
    recomputes the kept set with exact string grams (xxhash64 collisions
    would only over-flag, and none exist at this sf)."""
    from mgspark.pipeline.decontam import decontaminate

    docs = _read(spark, sf_dir, "documents")
    return decontaminate(docs, _bench_set(spark, sf_dir), n=13).select(
        "doc_id", "lang", "source"
    )


def q_shard_manifest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-export manifest (pipeline/sink.py): deterministic Knuth
    shard assignment + per-shard row/token counts and an XOR-folded
    sha256 fingerprint checksum — order- and partitioning-independent
    exact integers, so DuckDB replaying the identical hash reproduces
    every checksum bit-for-bit.  The verification surface a 100 TB
    export is resumed/validated against."""
    from mgspark.pipeline.sink import shard_manifest

    return shard_manifest(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        ["text", "lang"],
        n_shards=16,
        seed=7,
        text_col="text",
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GPT-style sequence packing: seeded-hash shard,
    running token offset in id order, chunk span — all exact integers,
    bit-identical at any parallelism (the layout IS the reproducibility
    contract for a training run)."""
    from mgspark.pipeline.packing import pack_sequences

    return pack_sequences(
        _read(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        budget=256,
        n_shards=8,
        seed=5,
    )


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing summary (ceil sequence count + floored
    basis-point fill) — integer columns only in the contract."""
    from mgspark.pipeline.packing import packing_stats

    return packing_stats(
        _read(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        budget=256,
        n_shards=8,
        seed=5,
    ).select("shard", "n_docs", "total_tokens", "n_sequences", "fill_bp")


def _lang_id_oracle(source: str = "documents") -> str:
    """DuckDB equivalent of the stopword/CJK heuristic — lang_id is pure
    column expressions, so the oracle replicates it list-function by
    list-function (same stopword lists, same argmax tie-break)."""
    from mgspark.pipeline.textstats import _STOPWORDS

    langs = sorted(_STOPWORDS)
    lists = {
        lang: "[" + ", ".join(f"'{w}'" for w in sorted(_STOPWORDS[lang])) + "]"
        for lang in langs
    }
    scores = ", ".join(
        f"len(list_filter(toks, x -> list_contains({lists[lang]}, x))) AS s_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    whens = " ".join(f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs[:-1])
    return (
        f"WITH base AS (SELECT doc_id, "
        "list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), x -> x <> '') AS toks, "
        "greatest(length(coalesce(text, '')), 1) AS n_chars, "
        "length(regexp_replace(coalesce(text, ''), '[^一-鿿]', '', 'g')) AS cjk "
        f"FROM {source}), "
        f"s AS (SELECT doc_id, toks, n_chars, cjk, {scores} FROM base) "
        "SELECT doc_id AS id, "
        "CASE WHEN cjk * 1.0 / n_chars > 0.05 THEN 'zh' "
        f"WHEN len(toks) = 0 OR {best} = 0 THEN 'und' "
        f"{whens} ELSE '{langs[-1]}' END AS lang_pred FROM s"
    )


def _bpe_oracle() -> str:
    """Same regex constant on both sides, so the engines cannot drift."""
    from mgspark.pipeline.textstats import BPE_TOKEN_PATTERN

    return (
        "SELECT doc_id AS id, "
        "len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_ws_tokens, "
        f"len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}'))::BIGINT AS n_bpe_tokens "
        "FROM documents"
    )


def _grams_sql(n: int) -> str:
    """DuckDB list expression for distinct word n-grams over column
    ``t`` — same tokenization and windowing as
    textstats.word_ngrams_expr."""
    joined = " || ' ' || ".join(f"tk[i + {j}]" for j in range(n))
    return (
        "list_distinct(list_transform("
        f"CASE WHEN len(tk) >= {n} THEN range(1, len(tk) - {n - 2}) "
        "ELSE [] END, "
        f"i -> {joined}))"
    )


def _decontam_pairs_cte(n: int = 13) -> str:
    """Shared CTE: bench set (2% hash sample, seed 31, re-keyed) and the
    exact string-gram overlap pairs at the given n."""
    return (
        "WITH tok AS (SELECT doc_id, "
        "list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS tk "
        "FROM documents), "
        f"dg AS (SELECT doc_id, unnest({_grams_sql(n)}) AS gram FROM tok), "
        "btok AS (SELECT doc_id + 1000000 AS bench_id, tk FROM tok "
        "WHERE ((doc_id + 31) * 2654435761) % 4294967296 < 85899345), "
        f"bg AS (SELECT bench_id, unnest({_grams_sql(n)}) AS gram FROM btok), "
        "pairs AS (SELECT d.doc_id, b.bench_id, COUNT(*)::BIGINT AS n_shared_grams "
        "FROM dg d JOIN bg b USING (gram) GROUP BY 1, 2) "
    )


def _curate_oracle() -> str:
    """Composition oracle: dedup (min id per distinct text) -> quality
    formula -> thresholds -> lang id, all over the deduped subset."""
    lang_sql = _lang_id_oracle("d")
    return (
        "WITH keep AS (SELECT MIN(doc_id) AS kid FROM documents GROUP BY text), "
        "d AS (SELECT doc_id, text FROM documents "
        "WHERE doc_id IN (SELECT kid FROM keep)), "
        "f AS (SELECT doc_id, "
        "  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens, "
        "  length(text)::DOUBLE AS n_chars, "
        "  length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))::DOUBLE AS n_clean "
        "  FROM d), "
        "q AS (SELECT doc_id AS id, n_tokens, "
        "ROUND((CASE WHEN n_chars > 0 THEN n_clean / n_chars ELSE 0.0 END) * "
        "  (CASE WHEN n_tokens >= 10 THEN 1.0 ELSE n_tokens / 10.0 END), 4) AS quality "
        "FROM f), "
        f"l AS ({lang_sql}) "
        "SELECT q.id, q.n_tokens, q.quality, l.lang_pred "
        "FROM q JOIN l ON q.id = l.id "
        "WHERE q.quality >= 0.5 AND q.n_tokens >= 5"
    )


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call curation pipeline (dedup -> quality filter -> lang id) —
    fully SQL-expressible composition, DuckDB-oracled."""
    from mgspark.pipeline.curate import curate_documents

    docs = _read(spark, sf_dir, "documents")
    return curate_documents(docs, "text", "doc_id", min_quality=0.5, min_tokens=5)


def q_curate_neardup_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation with the MinHash near-dup stage (pairs ->
    connected components -> keep one per cluster), oracle-checked as an
    invariant: the near-dedup curated set must be a subset of the
    exact-only curated set (the stage only removes documents), whose
    size DuckDB recomputes exactly.  The subset check is a distributed
    anti-join count (VERDICT r3 task #8), not driver-side sets."""
    from mgspark.pipeline.curate import curate_documents

    docs = _read(spark, sf_dir, "documents")
    base = curate_documents(
        docs, "text", "doc_id", min_quality=0.5, min_tokens=5
    ).select("id")
    near = curate_documents(
        docs, "text", "doc_id", min_quality=0.5, min_tokens=5,
        near_dup_threshold=0.7,
    ).select("id")
    n_base = base.agg(F.count("*").alias("n_base"))
    stray = near.join(base, "id", "left_anti").agg(F.count("*").alias("_stray"))
    return n_base.crossJoin(stray).select(
        F.col("n_base").cast("long").alias("n_base"),
        (F.col("_stray") == 0).cast("long").alias("subset_ok"),
    )


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.dedup import simhash_near_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "text", "doc_id", max_hamming=8)


def q_simhash_recall_vs_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable invariant of the SimHash index: with the
    boilerplate bucket cap disabled, the pigeonhole-chunked candidate
    pipeline must release EXACTLY the pairs at hamming <= max_hamming —
    ground truth computed distributedly as the all-pairs hamming over
    the fingerprints (chunking guarantees completeness, exact hamming
    verification guarantees precision).  The production query
    (`simhash_near_pairs`) keeps the cap, which deliberately trades
    recall inside oversized boilerplate buckets for boundedness — this
    invariant isolates the index's correctness from that knob.  DuckDB
    pins the doc count and the equality flags."""
    from mgspark.cacheutil import transient_persist
    from mgspark.pipeline.dedup import simhash_fingerprints, simhash_near_pairs

    docs = _read(spark, sf_dir, "documents")
    # Persisted: the self-join reads it from both sides (the established
    # multi-consumer pattern, cf. minhash_dedup_pairs).
    fps = transient_persist(simhash_fingerprints(docs, "text", "doc_id"))
    fps.count()
    a = fps.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = fps.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 8)
        .select("id_a", "id_b", F.lit(1).alias("_t"))
    )
    got = simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=8, max_bucket=1 << 30
    ).select("id_a", "id_b", F.lit(1).alias("_g"))
    # All three set relations in ONE fused aggregation (full-outer join
    # of the unique pair sets; subset = no stray, equality = no stray
    # and no missing) instead of two pair collects to the driver plus a
    # separate count job.  found_pairs pins non-vacuity: an upstream
    # regression that empties the pipeline cannot pass on two empty
    # sets.
    stats = truth.join(got, ["id_a", "id_b"], "full_outer").agg(
        F.coalesce(F.sum("_t"), F.lit(0)).alias("_n_true"),
        F.coalesce(
            F.sum(F.when(F.col("_g").isNotNull() & F.col("_t").isNull(), 1)),
            F.lit(0),
        ).alias("_stray"),
        F.coalesce(
            F.sum(F.when(F.col("_t").isNotNull() & F.col("_g").isNull(), 1)),
            F.lit(0),
        ).alias("_miss"),
    )
    totals = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return totals.crossJoin(stats).select(
        "n_docs",
        (F.col("_n_true") > 0).cast("long").alias("found_pairs"),
        (F.col("_stray") == 0).cast("long").alias("subset_ok"),
        ((F.col("_stray") == 0) & (F.col("_miss") == 0))
        .cast("long")
        .alias("complete_ok"),
    )


def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.dedup import minhash_dedup_pairs

    docs = _read(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.7)


def q_minhash_est_vs_true_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable invariant of the MinHash pipeline: est_jaccard is
    a mean of 128 Bernoulli(j) agreements, sd <= sqrt(j(1-j)/128) ~
    0.044, so every released pair must sit within 0.18 (4 sd) of the
    exact shingle Jaccard.  The exact Jaccard is computed DISTRIBUTEDLY
    (VERDICT r3 task #8): released pairs semi-join the corpus, the
    shingle relation is built once per surviving doc, sizes come from a
    groupBy, intersections from a shingle-equality join — no text or
    pair set ever reaches the driver."""
    from mgspark.cacheutil import transient_persist
    from mgspark.pipeline.dedup import minhash_dedup_pairs, shingle_relation

    docs = _read(spark, sf_dir, "documents")
    pairs = transient_persist(
        minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.7)
    )
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = transient_persist(
        shingle_relation(docs.join(ids, "doc_id"), "text", "doc_id")
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    stats = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        # LEFT joins: a zero-shingle doc (empty text — sentinel MinHash
        # signature) has no sizes row; an inner join would silently drop
        # its pairs from the invariant instead of scoring true_j = 0
        .join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
            "left",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
            "left",
        )
        .withColumn("sz_a", F.coalesce(F.col("sz_a"), F.lit(0)))
        .withColumn("sz_b", F.coalesce(F.col("sz_b"), F.lit(0)))
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .withColumn(
            "true_j",
            F.col("n_inter")
            / F.greatest(F.col("sz_a") + F.col("sz_b") - F.col("n_inter"), F.lit(1)),
        )
        .withColumn(
            "viol",
            (F.abs(F.col("est_jaccard") - F.col("true_j")) > 0.18).cast("long"),
        )
    )
    return stats.agg(
        F.coalesce(F.sum("viol"), F.lit(0)).cast("long").alias("violations"),
        (F.count("*") > 0).cast("long").alias("found_pairs"),
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).first()["embedding"]
    top = cosine_topk(emb, "embedding", "vec_id", query, k=10)
    return top.select("id", F.round("cosine", 4).alias("cosine"))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.similarity import ann_lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).first()["embedding"]
    top = ann_lsh_topk(emb, "embedding", "vec_id", query, k=10, n_planes=8, multiprobe=2)
    return top.select("id", F.round("cosine", 4).alias("cosine"))


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact method (the oracle path;
    the LSH-bucketed scale path is recall-tested in pytest on clustered
    vectors — these embeddings are near-random, max pairwise cosine
    ~0.51, so the near-dup threshold is set to 0.3 to exercise a
    non-trivial result set)."""
    from mgspark.pipeline.similarity import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.3, method="exact")


def q_embedding_near_dup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of embedding near-dup, oracle-checked as an
    invariant: on a clustered fixture (planted near-identical pairs,
    cosine ~0.9998 — the sf embeddings are near-random so near-dup
    recall needs planted structure) the multi-table sign-LSH bucketed
    path must release a subset of the exact pairs (precision is exact by
    construction) AND find all of them (recall 1; deterministic: seeded
    hyperplanes).  DuckDB recomputes n_exact pairwise and pins the
    flags."""
    from mgspark.pipeline.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(_CLUSTERED_EMB_PARQUET)
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, "embedding", "vec_id", threshold=0.99, method="lsh"
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, "embedding", "vec_id", threshold=0.99, method="exact"
        ).collect()
    }
    return local_frame(
        spark,
        [(len(exact), int(lsh <= exact), int(lsh == exact))],
        "n_exact long, lsh_subset_exact long, lsh_recall_complete long",
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.pipeline.similarity import ann_ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).first()["embedding"]
    top = ann_ivf_topk(emb, "embedding", "vec_id", query, k=10, n_centroids=16, n_probe=4)
    return top.select("id", F.round("cosine", 4).alias("cosine"))


# ---------------------------------------------------------------------------
# Structured Streaming queries (file stream over the events table)
# ---------------------------------------------------------------------------

_STREAM_SEQ = [0]


def _run_stream_to_memory(out, prefix: str, mode: str):
    """Run a bounded stream (availableNow) into a memory sink; return the
    sink table DataFrame.  Unique sink name per call — the driver may run
    a query more than once in a session."""
    _STREAM_SEQ[0] += 1
    name = f"{prefix}_{_STREAM_SEQ[0]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def q_streaming_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end: file stream over events ->
    watermark -> tumbling 1h window counts -> memory sink (complete mode
    so unclosed windows emit on the bounded run).  Exact counts ->
    DuckDB-oracled with date_trunc."""
    from mgspark.streaming import windowed_token_counts

    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # The table is a single file; file streams take a directory, so
    # stream the sf dir with a glob pinned to this table.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Parquet reads ts as TIMESTAMP_NTZ; watermarks require TIMESTAMP
    # (session tz is pinned UTC, so the cast is value-preserving).
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_token_counts(stream, "ts", "event_type", window="1 hour", watermark="2 hours")
    name = _run_stream_to_memory(out, "win_counts", "complete")
    # Format the window start as a string so the oracle comparison is
    # independent of engine timestamp stringification conventions.
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("token"),
        F.col("cnt").alias("cnt"),
    )


def q_streaming_dedup_exact_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates keyed on sha256(text) over
    the documents file stream (state = one hash per distinct doc), append
    mode into a memory sink; the kept-row count must equal the batch
    COUNT(DISTINCT text) -> oracle."""
    from mgspark.streaming import streaming_dedup_exact

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    kept = streaming_dedup_exact(stream.select("doc_id", "text"), "text")
    name = _run_stream_to_memory(kept.select("doc_id"), "dedup_stream", "append")
    return spark.table(name).agg(F.count("*").cast("long").alias("kept"))


def q_streaming_dedup_incremental_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup: the documents stream (filtered to
    the batch half of the Knuth-hash split) anti-joined per micro-batch
    against the STATIC corpus half, then first-arrival dedup on the
    content hash.  The kept count must equal the batch-mode
    dedup_incremental cardinality — DuckDB recomputes it from the same
    split."""
    from mgspark.pipeline.sampling import sample_hash_expr
    from mgspark.streaming import streaming_dedup_incremental

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    h = sample_hash_expr("doc_id", _INC_SEED)
    stream_batch = stream.where(h >= _INC_CUTOFF).select("doc_id", "text")
    corpus = _read(spark, sf_dir, "documents").where(h < _INC_CUTOFF)
    kept = streaming_dedup_incremental(stream_batch, corpus, "text")
    name = _run_stream_to_memory(kept.select("doc_id"), "inc_dedup_stream", "append")
    return spark.table(name).agg(F.count("*").cast("long").alias("kept"))


def q_streaming_hll_distinct_user_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable-sketch composition: Spark's HLL sketch as a
    streaming aggregation over the events stream.  Both HLL paths are
    hash-deterministic, so two facts are oracle-checkable: the estimate
    is within the 2.5% bound of the exact distinct count, and it EQUALS
    the batch hll_distinct estimate (same sketch, same data)."""
    from mgspark.sketches import hll_distinct
    from mgspark.streaming import streaming_hll_distinct

    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    out = streaming_hll_distinct(stream, "user_id", p=14)
    name = _run_stream_to_memory(out, "hll_stream", "update")
    # latest aggregate row (update mode re-emits it per micro-batch;
    # n_rows is nondecreasing, so max n_rows = most recent — no reliance
    # on the memory sink's row order)
    latest = max(spark.table(name).collect(), key=lambda r: r["n_rows"])
    est = float(latest["n_distinct_est"])
    events = _read(spark, sf_dir, "events")
    batch_est = float(hll_distinct(events, "user_id"))
    true = events.select("user_id").distinct().count()
    return local_frame(
        spark,
        [
            (
                int(true),
                1 if abs(est - true) <= 0.025 * true else 0,
                1 if est == batch_est else 0,
            )
        ],
        "true_distinct long, within_bound long, matches_batch long",
    )


def q_pcm_waveform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over the binary asset payloads treated
    as unsigned 8-bit PCM (codec-free, REAL): exact integer sample
    count / amplitude sum / energy / zero crossings, each recomputed by
    DuckDB byte-by-byte off the hex dump."""
    from mgspark.pipeline.multimodal import pcm_waveform_stats

    assets = spark.read.parquet(_ASSETS_PARQUET)
    return pcm_waveform_stats(assets)


def q_streaming_mg_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming MG (applyInPandasWithState, sharded O(k) state)
    over the events stream; shard sketches merged driver-side and decoded
    from the exemplar tokens carried in the streaming state (no scan of
    the stream history).  event_type cardinality <= k, so the release is
    exact -> GROUP BY oracle."""
    import numpy as np

    from mgspark.aggregate import encode_tokens
    from mgspark.kernel import MGState, mg_merge
    from mgspark.streaming import mg_streaming_sketch

    path = os.path.join(sf_dir, "events.parquet")
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    encoded = encode_tokens(stream.select(F.col("event_type").alias("token")), "token")
    out = mg_streaming_sketch(encoded, "key", k=10, num_shards=4, token_col="token")
    name = _run_stream_to_memory(out, "mg_stream", "update")
    rows = spark.table(name).collect()
    # update mode can emit several updates per shard across micro-batches;
    # the final state per shard is the one with the largest n.
    latest: dict[int, MGState] = {}
    mapping: dict[int, str] = {}
    for r in rows:
        state = MGState(
            k=10,
            keys=np.asarray(r["keys"], dtype=np.int64),
            counters=np.asarray(r["counters"], dtype=np.int64),
            n=int(r["n"]),
            d=int(r["d"]),
        )
        if r["shard"] not in latest or state.n > latest[r["shard"]].n:
            latest[r["shard"]] = state
        if r["tokens"] is not None:
            for key, tok in zip(r["keys"], r["tokens"]):
                if tok is not None:
                    mapping.setdefault(int(key), str(tok))
    merged = MGState(k=10)
    for shard in sorted(latest):
        merged = mg_merge(merged, latest[shard])
    out_rows = [
        (mapping.get(int(key), str(int(key))), int(cnt))
        for key, cnt in zip(merged.keys, merged.counters)
    ]
    return local_frame(spark, out_rows, "token string, est long")


# ---------------------------------------------------------------------------
# Multimodal queries (MGB1 binary asset columns)
# ---------------------------------------------------------------------------

# Deterministic MGB1 asset fixture, written Spark-free at import time so
# the DuckDB oracle (which reads the same parquet by absolute path) works
# regardless of query/oracle execution order.
_ASSETS_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "assets.parquet"
)


# v2: mixed row strides (odd widths -> 1-3 padding bytes per row) so the
# oracle exercises the decoder's padding-strip path; the filename bump
# invalidates any v1 fixture generated by earlier rounds.
_BMP_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "bmp_assets_v2.parquet"
)

# Real-PNG fixture with encode-time truth columns (zlib output is not
# hex-parsable in SQL, so the DuckDB oracle reads the truth columns —
# equality proves a compress->decode round trip through all 5 filters).
# v2: color types rotate gray/RGB/RGBA/PALETTED — the PLTE lookup path
# is oracle-checked too.  v3: 16-bit depth and Adam7 interlacing rotate
# across the non-paletted rows, so every decode path (all five filters x
# all four color types x both depths x plain/interlaced) is driver-
# checked; the filename bump regenerates older fixtures.
_PNG_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "png_assets_v3.parquet"
)

# Integer-valued well-separated cluster fixture for the distributed
# k-means contract row (margins dwarf cross-engine float-sum ulp noise,
# so the (id, cluster) output hash-matches the unrolled SQL oracle).
_KMEANS_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "kmeans_embeddings_v1.parquet"
)

# Clustered embedding fixture for the LSH near-dup recall invariant (the
# sf embeddings are near-random, so near-dup recall needs planted pairs).
_CLUSTERED_EMB_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "embeddings_clustered.parquet"
)


def _ensure_assets_fixture() -> str:
    from mgspark.pipeline.multimodal import (
        write_assets_parquet,
        write_bmp_assets_parquet,
        write_png_assets_parquet,
    )
    from mgspark.testgen import write_clustered_embeddings_parquet

    from mgspark.pipeline.clustering import write_kmeans_embeddings_parquet

    write_bmp_assets_parquet(_BMP_PARQUET)
    write_png_assets_parquet(_PNG_PARQUET)
    write_kmeans_embeddings_parquet(_KMEANS_PARQUET)
    write_clustered_embeddings_parquet(_CLUSTERED_EMB_PARQUET)
    return write_assets_parquet(_ASSETS_PARQUET)


_ensure_assets_fixture()

# DuckDB-side MGB1 header parse: kind byte at offset 5, little-endian
# uint16 width/height at 6/8, little-endian uint32 duration at 10 —
# reconstructed from the hex dump (mirrors multimodal.extract_asset_meta).
_ASSET_PARSE_CTE = f"""
WITH parsed AS (
  SELECT asset_id,
    CAST(('0x' || substr(hex(payload), 9, 2)) AS INTEGER) AS kind_idx,
    CAST(('0x' || substr(hex(payload), 13, 2) || substr(hex(payload), 11, 2)) AS BIGINT) AS width,
    CAST(('0x' || substr(hex(payload), 17, 2) || substr(hex(payload), 15, 2)) AS BIGINT) AS height,
    CAST(('0x' || substr(hex(payload), 25, 2) || substr(hex(payload), 23, 2)
          || substr(hex(payload), 21, 2) || substr(hex(payload), 19, 2)) AS BIGINT) AS duration_ms,
    CAST(octet_length(payload) - 13 AS BIGINT) AS payload_bytes
  FROM read_parquet('{_ASSETS_PARQUET}')
)
"""


def q_asset_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MGB1 header parse over the binary asset table
    (multimodal.extract_asset_meta); deterministic, DuckDB-oracled."""
    from mgspark.pipeline.multimodal import extract_asset_meta

    assets = spark.read.parquet(_ASSETS_PARQUET)
    return extract_asset_meta(assets)


def q_asset_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin byte histogram of the asset payloads
    (multimodal.byte_histogram_features), exploded to (asset_id, bin,
    cnt) rows as exact integer counts (normalized fractions hit .5-ulp
    rounding-tie differences across engines); with 16 bins the bin is
    the byte's high nibble, which the DuckDB oracle reads straight off
    the hex dump."""
    from mgspark.pipeline.multimodal import byte_histogram_features

    assets = spark.read.parquet(_ASSETS_PARQUET)
    feats = byte_histogram_features(assets, n_bins=16, normalize=False)
    return feats.select(
        "asset_id", F.posexplode("features").alias("bin", "cnt")
    ).select(
        "asset_id", F.col("bin").cast("long").alias("bin"), F.col("cnt").cast("long").alias("cnt")
    )


def q_decode_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: pure-numpy 24-bit BMP decode (header parse,
    padding strip, bottom-up flip, BGR->RGB) over a binary image table;
    emits per-image (width, height, pixel sum).  The DuckDB oracle
    re-derives width/height from the header hex and the pixel sum as the
    byte sum past the 54-byte header (fixture widths are multiples of 4,
    so rows carry no padding bytes)."""
    from mgspark.pipeline.multimodal import decode_image

    assets = spark.read.parquet(_BMP_PARQUET)
    dec = decode_image(assets)
    return dec.select(
        "asset_id",
        "width",
        "height",
        F.aggregate("pixels", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "px_sum"
        ),
    )


# Multi-line corpus with planted boilerplate (global header, per-source
# footers, a nav line) for the line-level dedup contract rows.
_MULTILINE_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "multiline_docs_v1.parquet"
)

_BOILER_MAX_DF = 2


def q_boilerplate_lines_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot set of a CCNet-style line-dedup pass: lines occurring in
    more than max_doc_freq distinct documents (pipeline/boilerplate.py).
    Small by construction — the broadcastable blacklist."""
    from mgspark.pipeline.boilerplate import boilerplate_lines, write_multiline_docs_parquet

    write_multiline_docs_parquet(_MULTILINE_PARQUET)
    docs = spark.read.parquet(_MULTILINE_PARQUET)
    return boilerplate_lines(docs, "text", "doc_id", max_doc_freq=_BOILER_MAX_DF)


def q_remove_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (boilerplate removal): strip every
    line above the document-frequency threshold, keep the rest in
    original order — one explode scan, a combiner countDistinct, a
    broadcast anti-join against the hot set, one order-restoring
    reassembly groupBy.  All JVM built-ins; the DuckDB oracle replays
    the identical pipeline."""
    from mgspark.pipeline.boilerplate import (
        remove_boilerplate_lines,
        write_multiline_docs_parquet,
    )

    write_multiline_docs_parquet(_MULTILINE_PARQUET)
    docs = spark.read.parquet(_MULTILINE_PARQUET)
    return remove_boilerplate_lines(docs, "text", "doc_id", max_doc_freq=_BOILER_MAX_DF)


def q_remove_boilerplate_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-scale variant of boilerplate removal:
    ``broadcast_hot=False`` routes the hot-set anti-join through a
    shuffle join on xxhash64(line) instead of a broadcast (the fix for
    VERDICT r4 defect #3 — on a real web corpus the doc_freq>threshold
    set is NOT tiny).  Same oracle as the broadcast row: both modes must
    produce identical documents."""
    from mgspark.pipeline.boilerplate import (
        remove_boilerplate_lines,
        write_multiline_docs_parquet,
    )

    write_multiline_docs_parquet(_MULTILINE_PARQUET)
    docs = spark.read.parquet(_MULTILINE_PARQUET)
    return remove_boilerplate_lines(
        docs, "text", "doc_id", max_doc_freq=_BOILER_MAX_DF, broadcast_hot=False
    )


# Linearly separable integer-feature fixture for the quality-classifier
# contract row (wide margins: trained predictions are ulp-stable).
_CLASSIFIER_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "classifier_docs_v1.parquet"
)


def q_quality_classifier_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate (pipeline/classifier.py): distributed
    logistic regression trained end-to-end on the planted fixture —
    every iteration one pure-JVM scan + a combiner shuffle of d+2
    partial sums — then scored with the exp-free margin rule.  The
    oracle is the planted labels: a hash match proves training recovers
    the separator and scoring releases it exactly."""
    from mgspark.pipeline.classifier import (
        logreg_score,
        logreg_train,
        write_classifier_docs_parquet,
    )

    write_classifier_docs_parquet(_CLASSIFIER_PARQUET)
    docs = spark.read.parquet(_CLASSIFIER_PARQUET)
    w, b = logreg_train(docs, "features", "label", iterations=20, lr=0.5)
    return logreg_score(docs, "features", "doc_id", w, b)


_BPE_MERGES, _BPE_TOP_WORDS = 30, 10_000


def q_bpe_word_counts_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized half of BPE training: one combiner word-count
    scan, top 50 by (cnt desc, word) — the deterministic vocabulary
    head the merge loop consumes (pipeline/bpe.py)."""
    from mgspark.pipeline.bpe import word_counts

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return (
        word_counts(docs, "text")
        .orderBy(F.col("cnt").desc(), "word")
        .limit(50)
        .select("word", F.col("cnt").cast("long").alias("cnt"))
    )


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (rank, left, right) — deterministic
    (count-desc / lexicographic tie-break) but the merge loop is
    iterative string rewriting, not SQL-expressible; correctness is
    pinned by tests/test_bpe.py's independent regex-based sequential
    reference (Sennrich arXiv:1508.07909)."""
    from mgspark.pipeline.bpe import bpe_train

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = bpe_train(docs, "text", n_merges=_BPE_MERGES, max_vocab_words=_BPE_TOP_WORDS)
    return local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    )


def q_bpe_roundtrip_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed encode check: every distinct corpus word, encoded
    with the trained merges, must reconstruct exactly (concat(tokens)
    == word + the end marker) with 1 <= n_tokens <= len(word)+1.  The
    flags are computed as distributed aggregates (nothing collected);
    the oracle just counts distinct words."""
    from mgspark.pipeline.bpe import END_OF_WORD, bpe_encode_words, bpe_train, word_counts

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = bpe_train(docs, "text", n_merges=_BPE_MERGES, max_vocab_words=_BPE_TOP_WORDS)
    words = word_counts(docs, "text").select("word")
    enc = bpe_encode_words(words, "word", merges)
    ok = (
        (F.concat_ws("", "tokens") == F.concat("word", F.lit(END_OF_WORD)))
        & (F.col("n_tokens") >= 1)
        & (F.col("n_tokens") <= F.length("word") + 1)
    ).cast("long")
    return enc.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(ok).alias("n_roundtrip_ok"),
    )


_KMEANS_K, _KMEANS_ITERS, _KMEANS_SEED = 4, 3, 7


def q_kmeans_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully DISTRIBUTED k-means (Lloyd): assignment as a pure-JVM
    codegen expression, centroid update as a combiner-aggregated
    k-row shuffle — the full-data complement to SemDeDup's sample-trained
    coarse centroids (pipeline/clustering.py).  Deterministic end to end
    (Knuth-hash init, fixed iterations, lowest-index tie-break), so the
    DuckDB oracle re-runs the IDENTICAL unrolled iterations in SQL and
    the (id, cluster) output hash-matches bit-for-bit."""
    from mgspark.pipeline.clustering import kmeans_clusters

    df = spark.read.parquet(_KMEANS_PARQUET)
    return kmeans_clusters(
        df,
        "embedding",
        "vec_id",
        k=_KMEANS_K,
        iterations=_KMEANS_ITERS,
        seed=_KMEANS_SEED,
    )


def _kmeans_oracle_sql(path: str, k: int, iterations: int, seed: int) -> str:
    """Unrolled Lloyd in pure SQL: the same init, per-iteration argmin
    assignment (ties -> lowest cluster), per-(cluster, dim) AVG update
    with empty clusters retaining the previous centroid, and a final
    assignment against the final centroids."""
    knuth, mod = 2654435761, 4294967296
    hash_order = f"((id + {seed}) * {knuth}) % {mod}, id"
    ctes = [
        f"v AS (SELECT vec_id AS id, embedding AS vec FROM read_parquet('{path}'))",
        "e AS (SELECT id, generate_subscripts(vec, 1) AS pos, "
        "unnest(vec)::DOUBLE AS val FROM v)",
        f"init AS (SELECT id, row_number() OVER (ORDER BY {hash_order}) - 1 "
        f"AS cluster FROM v ORDER BY {hash_order} LIMIT {k})",
        "c0 AS (SELECT i.cluster, e.pos, e.val FROM init i JOIN e ON e.id = i.id)",
    ]
    for t in range(iterations + 1):  # last round = final assignment only
        ctes.append(
            f"d{t} AS (SELECT e.id, c.cluster, "
            "SUM((e.val - c.val) * (e.val - c.val)) AS d2 "
            f"FROM e JOIN c{t} c ON e.pos = c.pos GROUP BY e.id, c.cluster)"
        )
        ctes.append(
            f"a{t} AS (SELECT id, cluster FROM (SELECT id, cluster, "
            "row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn "
            f"FROM d{t}) WHERE rn = 1)"
        )
        if t == iterations:
            break
        ctes.append(
            f"m{t} AS (SELECT a.cluster, e.pos, AVG(e.val) AS val "
            f"FROM a{t} a JOIN e ON e.id = a.id GROUP BY a.cluster, e.pos)"
        )
        ctes.append(
            f"c{t + 1} AS (SELECT p.cluster, p.pos, COALESCE(m.val, p.val) AS val "
            f"FROM c{t} p LEFT JOIN m{t} m ON m.cluster = p.cluster "
            "AND m.pos = p.pos)"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT id, cluster::BIGINT AS cluster FROM a{iterations}"
    )


def q_decode_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode: stdlib-zlib inflate + the five standard scanline
    filters (None/Sub/Up/Average/Paeth) over a binary image table with
    gray/RGB/RGBA payloads; emits per-image (width, height, pixel sum).
    The oracle reads truth columns written at ENCODE time from the
    pre-compression pixel array (zlib bytes are not hex-parsable in
    SQL), so a hash match proves the compress->decode round trip —
    every filter type, all three color types."""
    from mgspark.pipeline.multimodal import decode_image

    assets = spark.read.parquet(_PNG_PARQUET)
    dec = decode_image(assets.select("asset_id", "payload"))
    return dec.select(
        "asset_id",
        "width",
        "height",
        F.aggregate("pixels", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "px_sum"
        ),
    )


def q_resize_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize to 16x16 in one pass over the BMP
    bytes; the DuckDB oracle recomputes the resized pixel sum by indexing
    the exact source bytes ((i*h)//16, (j*w)//16 per output pixel) off
    the hex dump."""
    from mgspark.pipeline.multimodal import resize_image

    assets = spark.read.parquet(_BMP_PARQUET)
    out = resize_image(assets, 16, 16)
    return out.select(
        "asset_id",
        "width",
        "height",
        F.aggregate("pixels", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "px_sum"
        ),
    )


def q_asset_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-timestamp sampling for video assets
    (multimodal.sample_frames); deterministic, DuckDB-oracled."""
    from mgspark.pipeline.multimodal import sample_frames

    assets = spark.read.parquet(_ASSETS_PARQUET)
    return sample_frames(assets, every_ms=1000)


# ---------------------------------------------------------------------------
# Sketch-family queries (HLL / CMS / Bloom / t-digest / KLL)
# ---------------------------------------------------------------------------


def q_bloom_orders_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom build over o_custkey, then a DISTRIBUTED probe
    of every true member (broadcast filter state + mapInPandas — the
    key set never reaches the driver, VERDICT r3 task #2): no false
    negatives -> the positive count is deterministic and equals
    COUNT(DISTINCT o_custkey)."""
    from mgspark.sketches import bloom_build, bloom_probe

    orders = _read(spark, sf_dir, "orders")
    sketch, state = bloom_build(orders, "o_custkey", capacity=1_000_000)
    probed = bloom_probe(
        orders.select("o_custkey").where(F.col("o_custkey").isNotNull()).distinct(),
        "o_custkey",
        sketch,
        state,
    )
    return probed.agg(
        F.sum(F.col("in_bloom").cast("long")).cast("long").alias("members")
    )


def q_hll_distinct_user_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.sketches import hll_distinct

    est = hll_distinct(_read(spark, sf_dir, "events"), "user_id")
    return local_frame(spark, [(float(est),)], "estimate double")


def q_tdigest_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.sketches import tdigest_quantiles

    qs = [0.1, 0.5, 0.9]
    est = tdigest_quantiles(_read(spark, sf_dir, "lineitem"), "l_extendedprice", qs)
    return local_frame(spark, [(q, float(e)) for q, e in zip(qs, est)], "q double, value double")


def q_kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.sketches import kll_quantiles

    qs = [0.25, 0.5, 0.75]
    est = kll_quantiles(_read(spark, sf_dir, "events"), "value", qs)
    return local_frame(spark, [(q, float(e)) for q, e in zip(qs, est)], "q double, value double")


def q_cms_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mgspark.sketches import cms_estimates

    li = _read(spark, sf_dir, "lineitem")
    flags = sorted(r["l_returnflag"] for r in li.select("l_returnflag").distinct().collect())
    ests = cms_estimates(li, "l_returnflag", flags, eps=1e-3)
    return local_frame(
        spark, [(flag, int(est)) for flag, est in ests.items()], "token string, est long"
    )


def q_mg_user_level_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level approx-DP heavy hitters: events.user_id is the user,
    event_type the token; contribution bound derived distributedly
    (random release -> rows-only).  Exemplar decode — one scan."""
    from mgspark.aggregate import mg_user_level_release

    events = _read(spark, sf_dir, "events")
    released, mapping = mg_user_level_release(
        events, "user_id", "event_type", k=10, epsilon=50.0, delta=1e-3,
        return_tokens=True,
    )
    rows = [(mapping.get(key, str(key)), int(cnt)) for key, cnt in released.items()]
    return local_frame(spark, rows, "token string, est long")


def q_mg_pure_dp_doc_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure epsilon-DP release with a frozen dictionary universe
    (random -> rows-only).  Universe = distinct token dictionary size,
    keys dictionary-encoded (broadcast-join helper shared with the CLI's
    pure mode) so the pure mechanism's [0, U) domain holds."""
    from mgspark import dp
    from mgspark.aggregate import dictionary_encode, mg_sketch

    docs = _read(spark, sf_dir, "documents")
    encoded, inverse, dict_size = dictionary_encode(docs, "lang")
    # 5-language dictionary over 5000 rows: distinct << rows — pin the
    # combiner (the auto probe picks it; this skips the probe job).
    state = mg_sketch(encoded.select("key"), "key", k=3, pre_aggregate=True)
    released = dp.purely_privatize_merged(
        state.to_dict(), 3, epsilon=5.0, universe_size=max(dict_size, 3) + 1
    )
    rows = [(inverse.get(key, f"u{key}"), int(cnt)) for key, cnt in released.items()]
    return local_frame(spark, rows, "token string, est long")


def q_mg_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MG over pre-aggregated (token, weight) rows — the weighted build
    path.  Cardinality <= k, so exact: same oracle as plain top-k.
    Exemplar decode — one scan of the input."""
    from mgspark.aggregate import encode_tokens, mg_sketch_with_tokens

    events = _read(spark, sf_dir, "events")
    pre = events.groupBy("event_type").agg(F.count("*").alias("w"))
    encoded = encode_tokens(pre, "event_type")
    # The input IS already the pre-aggregated (token, weight) relation —
    # pin the zero-shuffle path (the auto probe picks it: distinct ==
    # rows); this just skips the probe job.
    state, mapping = mg_sketch_with_tokens(
        encoded, "key", 10, token_col="event_type", weight_col="w",
        pre_aggregate=False
    )
    rows = [
        (mapping.get(int(key), str(int(key))), int(cnt))
        for key, cnt in zip(state.keys, state.counters)
    ]
    return local_frame(spark, rows, "token string, est long")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed MG heavy hitters over document tokens at sf0.001."""
    return q_mg_topk_doc_tokens_exact(spark, "/root/testdata/sf0.001")


def q_hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample (mgspark/pipeline/sampling.py):
    kept set is a pure function of (doc_id, seed) — zero-shuffle filter,
    identical on any cluster size; DuckDB computes the same hash."""
    from mgspark.pipeline.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", rate=0.1, seed=7).select(
        "doc_id", "lang", "source"
    )


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-per-stratum sample: rank by (hash, id) within each
    lang, keep 20 — reproducible uniform-without-replacement draw."""
    from mgspark.pipeline.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", n_per_stratum=20, seed=3).select(
        "doc_id", "lang"
    )


def q_mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source keep rates as one
    deterministic zero-shuffle filter (keep all of src0, 5% of src1,
    25% of everything else)."""
    from mgspark.pipeline.sampling import mixture_sample

    docs = _read(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "source", "doc_id", {"src0": 1.0, "src1": 0.05}, seed=11,
        default_rate=0.25,
    ).select("doc_id", "source")


def q_session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over events (mgspark/pipeline/temporal.py):
    one window over (user, ts) assigns ids, one groupBy aggregates —
    integer/formatted outputs so the DuckDB oracle hashes exactly."""
    from mgspark.pipeline.temporal import session_stats

    ev = _read(spark, sf_dir, "events")
    s = session_stats(ev, "user_id", "ts", gap_seconds=600.0)
    return s.select(
        "user_id",
        "session_id",
        "n_events",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        (
            F.unix_micros(F.col("end_ts").cast("timestamp"))
            - F.unix_micros(F.col("start_ts").cast("timestamp"))
        ).alias("duration_us"),
    )


def q_asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks the customer's latest order
    at-or-before the event time — the scalable union+window plan (one
    exchange + one sort), oracled against DuckDB's native ASOF JOIN.
    Orders are pre-aggregated to one row per (custkey, date) so the
    at-timestamp winner is unique on both engines."""
    from mgspark.pipeline.temporal import asof_join

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _read(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_totalprice").alias("best_price"))
    )
    joined = asof_join(ev, orders, "user_id", "ts", "o_orderdate", ["best_price"])
    return joined.select("event_id", "user_id", "best_price_asof")


def q_asof_forward_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each event picks the customer's earliest
    order at-or-after the event time — same union+window plan with the
    reversed sort direction, oracled against DuckDB's ASOF JOIN with the
    <= comparator."""
    from mgspark.pipeline.temporal import asof_join

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _read(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_totalprice").alias("best_price"))
    )
    joined = asof_join(
        ev, orders, "user_id", "ts", "o_orderdate", ["best_price"],
        direction="forward",
    )
    return joined.select("event_id", "user_id", "best_price_asof")


def q_rolling_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user rolling features over events — RANGE
    frame on integer epoch micros (mgspark/pipeline/temporal.py), the
    shape a time-inequality self-join would make quadratic in output.
    The sum is emitted milli-scaled (x1000, rounded to bigint) so the
    hash is float-tie-free."""
    from mgspark.pipeline.temporal import rolling_features

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_features(ev, "user_id", "ts", "value", 3600.0)
    return out.select(
        "event_id",
        "user_id",
        "roll_n",
        F.round(F.col("roll_sum") * 1000).cast("long").alias("roll_sum_milli"),
    )


def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows (native session_window, 10-min gap) per
    user over the events file stream — bounded complete-mode run; window
    bounds and counts equal the batch gap-sessionization oracle (a
    session spans [first_ts, last_ts + gap); a silence STRICTLY longer
    than the gap splits — touching windows merge, same boundary as the
    batch sessionize's `> gap_seconds`)."""
    from mgspark.streaming import streaming_session_windows

    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_session_windows(stream, "user_id", "ts", gap="10 minutes")
    name = _run_stream_to_memory(out, "sess_win", "complete")
    return spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


def q_hll_grouped_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL distinct (users per event_type): Spark's
    ``hll_sketch_agg`` under ``groupBy`` — the groupBy(g).agg(sketch(x))
    shape, all in the JVM.  Hash-deterministic, so each
    group's exact distinct (DuckDB-recomputed) plus a within-2.5%-bound
    flag is a fixed oracle fact."""
    from mgspark.sketches import hll_distinct_grouped

    events = _read(spark, sf_dir, "events")
    # One lazy JVM plan: the sketch estimates join the exact distinct
    # counts on the group key (null-safe, so a null group keeps its row),
    # and the bound flag is computed in the same projection.
    est_df = hll_distinct_grouped(events, "event_type", "user_id").select(
        F.col("event_type").alias("_g"), "n_distinct_est"
    )
    exact_df = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    true, est = F.col("true_distinct"), F.col("n_distinct_est")
    within = F.coalesce(F.abs(est - true) <= 0.025 * true, F.lit(False))
    return exact_df.join(
        est_df, exact_df["event_type"].eqNullSafe(est_df["_g"]), "left"
    ).select("event_type", true, within.cast("long").alias("within_bound"))


def q_tdigest_grouped_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group t-digest medians (l_extendedprice by l_returnflag)
    through the grouped sketch UDAF; deterministic (salt-ordered
    merges).  The median's exact rank is recomputed SPARK-side
    (distributed count of rows <= estimate) and emitted as a
    within-bound flag; DuckDB independently pins the group set and
    per-group row counts — it cannot re-derive the digest itself, so
    this is an invariant oracle like the HLL bound rows, not a
    value-for-value cross-engine check."""
    from mgspark.sketches import tdigest_quantiles_grouped

    li = _read(spark, sf_dir, "lineitem")
    est = {
        r["l_returnflag"]: r["quantile_est"]
        for r in tdigest_quantiles_grouped(li, "l_returnflag", "l_extendedprice", [0.5]).collect()
    }
    est_sorted = sorted(est.items(), key=lambda kv: (kv[0] is None, kv[0]))
    counts = {
        r["l_returnflag"]: (r["n"], r["below"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("l_extendedprice")
                    <= F.coalesce(
                        *[
                            # eqNullSafe: a null group's estimate must
                            # match its own rows, not fall through.
                            F.when(
                                F.col("l_returnflag").eqNullSafe(F.lit(flag)),
                                F.lit(float(v)),
                            )
                            for flag, v in est_sorted
                        ]
                    ),
                    1,
                ).otherwise(0)
            ).alias("below"),
        )
        .collect()
    }
    rows = [
        (
            flag,
            int(n),
            1 if abs(below / n - 0.5) <= 0.05 else 0,
        )
        for flag, (n, below) in sorted(
            counts.items(), key=lambda kv: (kv[0] is None, kv[0])
        )
    ]
    return local_frame(spark, rows, "l_returnflag string, n_rows long, median_rank_ok long")


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional downsampling: keep probability = the doc's
    quality score (pipeline/sampling.py weighted_sample) — deterministic
    zero-shuffle filter, exact DuckDB oracle computing the identical
    hash and the identical quality expression."""
    from mgspark.pipeline.sampling import weighted_sample
    from mgspark.pipeline.textstats import quality_exprs

    docs = _read(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", quality_exprs("text")["quality"].alias("q"))
    return weighted_sample(scored, "doc_id", "q", seed=13).select("doc_id", "lang")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract registry.  ORDERING MATTERS: the driver correctness-checks
    the FIRST 50 entries only (VERDICT r3 #1), so the window rotates each
    round.  r6 rotation: positions 1-42 are the rows last driver-green in
    r3 (the ledger flagged them stale 2+ rounds once CORRECTNESS_r05
    landed); positions 43-50 keep the eight r5-green operators this
    round's optimization pass changes most, so the driver re-verifies
    them against the oracle after the plan changes.  Everything green in
    r4/r5 whose code is untouched rotates to the tail (still registered,
    still benched, pytest-covered)."""
    return {
        # --- rows last driver-green in r3: rotated back into the window ---
        "mg_topk_doc_lang": _mg_topk_query("documents", "lang", 100),
        "dedup_exact_count": q_dedup_exact_count,
        "exact_dup_groups_source": q_exact_dup_groups_source,
        "weighted_sample_docs": q_weighted_sample_docs,
        "pcm_waveform_stats": q_pcm_waveform_stats,
        "token_stats": q_token_stats,
        "stratified_sample_docs": q_stratified_sample_docs,
        "rolling_event_features": q_rolling_event_features,
        "cosine_topk": q_cosine_topk,
        "near_dup_components_exact_graph": q_near_dup_components_exact_graph,
        "asset_meta": q_asset_meta,
        "resize_image_pixel_stats": q_resize_image_pixel_stats,
        "curate_neardup_invariant": q_curate_neardup_invariant,
        "hash_sample_docs": q_hash_sample_docs,
        "mg_topk_user_id": _mg_topk_query("events", "user_id", 512),
        "mg_grouped_lang_by_source": q_mg_grouped_lang_by_source,
        "curate_documents": q_curate_documents,
        "profile_events": q_profile_events,
        "tfidf_top_terms": q_tfidf_top_terms,
        "bpe_token_stats": q_bpe_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "mg_topk_returnflag": _mg_topk_query("lineitem", "l_returnflag", 10),
        "mg_topk_orderpriority": _mg_topk_query("orders", "o_orderpriority", 10),
        "mg_topk_mktsegment": _mg_topk_query("customer", "c_mktsegment", 10),
        "mg_topk_event_type": _mg_topk_query("events", "event_type", 10),
        "mg_topk_doc_tokens_exact": q_mg_topk_doc_tokens_exact,
        "mg_sketch_doc_tokens_k8": q_mg_sketch_doc_tokens_k8,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash_near_pairs": q_simhash_near_pairs,
        "minhash_dedup_pairs": q_minhash_dedup_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "asset_frame_samples": q_asset_frame_samples,
        "asset_byte_histogram": q_asset_byte_histogram,
        "hll_distinct_user_id": q_hll_distinct_user_id,
        "tdigest_price_quantiles": q_tdigest_price_quantiles,
        "kll_value_quantiles": q_kll_value_quantiles,
        "mixture_sample_docs": q_mixture_sample_docs,
        "mg_private_topk_event_type": q_mg_private_topk_event_type,
        # --- r5-green rows kept in-window: touched by the r6 optimization pass ---
        "quality_classifier_predictions": q_quality_classifier_predictions,
        "dsir_features_docs": q_dsir_features_docs,
        "dsir_resample_check": q_dsir_resample_check,
        "dup_span_stats": q_dup_span_stats,
        "remove_dup_spans": q_remove_dup_spans,
        "lm_score_docs": q_lm_score_docs,
        "minhash_incremental_persisted": q_minhash_incremental_persisted,
        "bm25_topk_warm": q_bm25_topk_warm,
        # --------- position 51+: green r4/r5, modules otherwise unchanged ---------
        "repetition_stats": q_repetition_stats,
        "redact_pii": q_redact_pii,
        "contamination_report": q_contamination_report,
        "decontaminate_docs": q_decontaminate_docs,
        "pack_sequences": q_pack_sequences,
        "packing_stats": q_packing_stats,
        "streaming_dedup_exact_count": q_streaming_dedup_exact_count,
        "streaming_session_windows": q_streaming_session_windows,
        "dedup_near_simhash": q_dedup_near_simhash,
        "dedup_incremental_exact": q_dedup_incremental_exact,
        "minhash_incremental_recall": q_minhash_incremental_recall,
        "streaming_dedup_incremental_count": q_streaming_dedup_incremental_count,
        "corpus_delta_source": q_corpus_delta_source,
        "semantic_dedup_recall": q_semantic_dedup_recall,
        "cms_returnflag": q_cms_returnflag,
        "mg_user_level_event_type": q_mg_user_level_event_type,
        "mg_pure_dp_doc_lang": q_mg_pure_dp_doc_lang,
        "mg_topk_weighted": q_mg_topk_weighted,
        "mg_sketch_bound_doc_tokens": q_mg_sketch_bound_doc_tokens,
        "hll_vs_exact_user_id": q_hll_vs_exact_user_id,
        "quantile_rank_bounds": q_quantile_rank_bounds,
        "ann_recall_vs_exact": q_ann_recall_vs_exact,
        "streaming_windowed_event_counts": q_streaming_windowed_event_counts,
        "streaming_mg_event_type": q_streaming_mg_event_type,
        "boilerplate_lines_report": q_boilerplate_lines_report,
        "remove_boilerplate_lines": q_remove_boilerplate_lines,
        "remove_boilerplate_shuffle": q_remove_boilerplate_shuffle,
        "bpe_word_counts_top": q_bpe_word_counts_top,
        "bpe_train_merges": q_bpe_train_merges,
        "bpe_roundtrip_invariant": q_bpe_roundtrip_invariant,
        "shard_manifest_docs": q_shard_manifest_docs,
        "bm25_topk_docs": q_bm25_topk_docs,
        "ngram_jaccard_pairs_capped": q_ngram_jaccard_pairs_capped,
        "kmeans_clusters_embeddings": q_kmeans_clusters_embeddings,
        "session_stats_events": q_session_stats_events,
        "asof_join_orders": q_asof_join_orders,
        "simhash_recall_vs_allpairs": q_simhash_recall_vs_allpairs,
        "minhash_est_vs_true_jaccard": q_minhash_est_vs_true_jaccard,
        "embedding_near_dup_lsh_recall": q_embedding_near_dup_lsh_recall,
        "decode_image_pixel_stats": q_decode_image_pixel_stats,
        "decode_png_pixel_stats": q_decode_png_pixel_stats,
        "bloom_orders_custkey": q_bloom_orders_custkey,
        "hll_grouped_event_type": q_hll_grouped_event_type,
        "tdigest_grouped_price_by_flag": q_tdigest_grouped_price_by_flag,
        "streaming_hll_distinct_user_id": q_streaming_hll_distinct_user_id,
        "asof_forward_orders": q_asof_forward_orders,
    }

def oracle_sql() -> dict[str, str]:
    from mgspark.pipeline.bpe import WS_REGEX as _WS_REGEX_SQL
    from mgspark.pipeline.retrieval import bm25_oracle_sql
    from mgspark.pipeline.sink import shard_manifest_oracle_sql

    sql = {
        "mg_topk_doc_lang": _mg_topk_oracle("documents", "lang"),
        "mg_topk_returnflag": _mg_topk_oracle("lineitem", "l_returnflag"),
        "mg_topk_orderpriority": _mg_topk_oracle("orders", "o_orderpriority"),
        "mg_topk_mktsegment": _mg_topk_oracle("customer", "c_mktsegment"),
        "mg_topk_event_type": _mg_topk_oracle("events", "event_type"),
        "mg_topk_user_id": _mg_topk_oracle("events", "user_id"),
        "mg_topk_doc_tokens_exact": (
            "SELECT tok AS token, COUNT(*) AS est FROM ("
            "SELECT unnest(string_split(text, ' ')) AS tok FROM documents"
            ") WHERE tok <> '' GROUP BY tok"
        ),
        "mg_grouped_lang_by_source": (
            "SELECT source, lang AS token, COUNT(*) AS est "
            "FROM documents GROUP BY source, lang"
        ),
        "asset_meta": (
            _ASSET_PARSE_CTE
            + "SELECT asset_id, "
            "CASE kind_idx WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, "
            "width, height, duration_ms, payload_bytes FROM parsed"
        ),
        "asset_frame_samples": (
            _ASSET_PARSE_CTE
            + "SELECT asset_id, "
            "CAST(unnest(generate_series(0, duration_ms - 1, 1000)) AS BIGINT) AS frame_ts "
            "FROM parsed WHERE kind_idx = 2 AND duration_ms > 0"
        ),
        "asset_byte_histogram": (
            f"WITH hx AS (SELECT asset_id, substr(hex(payload), 27) AS h "
            f"FROM read_parquet('{_ASSETS_PARQUET}')), "
            # one row per payload byte: its high nibble = the 16-bin bin id
            "bins AS (SELECT asset_id, "
            "CAST(('0x' || substr(h, 2 * u.i - 1, 1)) AS INTEGER) AS bin "
            "FROM hx, LATERAL (SELECT unnest(range(1, len(h) // 2 + 1)) AS i) u), "
            "counts AS (SELECT asset_id, bin, COUNT(*) AS n FROM bins GROUP BY 1, 2), "
            "grid AS (SELECT asset_id, unnest(range(16)) AS bin FROM hx) "
            "SELECT g.asset_id, g.bin::BIGINT AS bin, COALESCE(c.n, 0)::BIGINT AS cnt "
            "FROM grid g LEFT JOIN counts c ON g.asset_id = c.asset_id AND g.bin = c.bin"
        ),
        "decode_image_pixel_stats": (
            f"WITH hx AS (SELECT asset_id, hex(payload) AS h "
            f"FROM read_parquet('{_BMP_PARQUET}')), "
            # width: int32 LE at byte offset 18 -> hex chars 37-44;
            # height: offset 22 -> chars 45-52 (1-based substr positions)
            "parsed AS (SELECT asset_id, h, "
            "CAST(('0x' || substr(h,43,2) || substr(h,41,2) || substr(h,39,2) || substr(h,37,2)) AS BIGINT) AS width, "
            "CAST(('0x' || substr(h,51,2) || substr(h,49,2) || substr(h,47,2) || substr(h,45,2)) AS BIGINT) AS height "
            "FROM hx), "
            # pixel data starts at byte 54; rows are padded to 4-byte
            # strides, so index (row, byte-in-row) explicitly and skip
            # the per-row padding (mixed-stride fixture, odd widths)
            "px AS (SELECT asset_id, "
            "SUM(CAST(('0x' || substr(h, 2*(54 + ur.r*((width*3+3)//4*4) + ub.b) + 1, 2)) AS BIGINT))::BIGINT AS px_sum "
            "FROM parsed, "
            "LATERAL (SELECT unnest(range(height)) AS r) ur, "
            "LATERAL (SELECT unnest(range(width*3)) AS b) ub "
            "GROUP BY asset_id) "
            "SELECT p.asset_id, p.width, p.height, px.px_sum "
            "FROM parsed p JOIN px ON p.asset_id = px.asset_id"
        ),
        "quality_classifier_predictions": (
            # planted labels: matching them proves the distributed GD
            # recovered the separator and the margin-rule release is
            # exact (wide-margin fixture, see write_classifier_docs_parquet)
            "SELECT doc_id AS id, label AS keep "
            f"FROM read_parquet('{_CLASSIFIER_PARQUET}')"
        ),
        # sink manifest: DuckDB replays the identical Knuth shard hash,
        # sha256-prefix fingerprint, and XOR fold (pipeline/sink.py)
        "shard_manifest_docs": shard_manifest_oracle_sql(
            "documents", "doc_id", ["text", "lang"], n_shards=16, seed=7,
            text_col="text",
        ),
        # whitespace split via the explicit class pipeline/bpe.WS_REGEX
        # pins on BOTH engines (Java \s includes \x0B, RE2's does not)
        "bpe_word_counts_top": (
            f"WITH w AS (SELECT unnest(string_split_regex(text, '{_WS_REGEX_SQL}')) AS word "
            "FROM documents) "
            "SELECT word, COUNT(*)::BIGINT AS cnt FROM w WHERE word <> '' "
            "GROUP BY word ORDER BY cnt DESC, word LIMIT 50"
        ),
        "bpe_roundtrip_invariant": (
            # the invariant itself (reconstruction + token-count bounds)
            # is computed Spark-side as distributed aggregates; the
            # oracle pins the universe: every distinct word checked, all
            # of them round-tripping
            f"WITH w AS (SELECT DISTINCT unnest(string_split_regex(text, '{_WS_REGEX_SQL}')) AS word "
            "FROM documents) "
            "SELECT COUNT(*)::BIGINT AS n_words, COUNT(*)::BIGINT AS n_roundtrip_ok "
            "FROM w WHERE word <> ''"
        ),
        "boilerplate_lines_report": (
            f"WITH lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line "
            f"FROM read_parquet('{_MULTILINE_PARQUET}')) "
            "SELECT line, COUNT(DISTINCT doc_id)::BIGINT AS doc_freq "
            f"FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) > {_BOILER_MAX_DF}"
        ),
        "remove_boilerplate_lines": (
            f"WITH src AS (SELECT doc_id, text FROM read_parquet('{_MULTILINE_PARQUET}')), "
            "lines AS (SELECT doc_id, "
            "generate_subscripts(string_split(text, chr(10)), 1) AS pos, "
            "unnest(string_split(text, chr(10))) AS line FROM src), "
            "hot AS (SELECT line FROM lines GROUP BY line "
            f"HAVING COUNT(DISTINCT doc_id) > {_BOILER_MAX_DF}), "
            "kept AS (SELECT l.* FROM lines l WHERE l.line NOT IN (SELECT line FROM hot)), "
            "agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text, "
            "COUNT(*) AS n_kept FROM kept GROUP BY doc_id), "
            "tot AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id) "
            "SELECT t.doc_id AS id, COALESCE(a.clean_text, '') AS clean_text, "
            "COALESCE(a.n_kept, 0)::BIGINT AS n_kept, "
            "(t.n_total - COALESCE(a.n_kept, 0))::BIGINT AS n_removed "
            "FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id"
        ),
        "kmeans_clusters_embeddings": _kmeans_oracle_sql(
            _KMEANS_PARQUET, _KMEANS_K, _KMEANS_ITERS, _KMEANS_SEED
        ),
        "decode_png_pixel_stats": (
            # truth columns computed from the pre-compression pixel
            # array at fixture-encode time (zlib output cannot be
            # re-parsed in SQL); matching them proves the Spark-side
            # inflate + unfilter round trip
            "SELECT asset_id, true_width AS width, true_height AS height, "
            f"true_px_sum AS px_sum FROM read_parquet('{_PNG_PARQUET}')"
        ),
        "resize_image_pixel_stats": (
            f"WITH hx AS (SELECT asset_id, hex(payload) AS h "
            f"FROM read_parquet('{_BMP_PARQUET}')), "
            "parsed AS (SELECT asset_id, h, "
            "CAST(('0x' || substr(h,43,2) || substr(h,41,2) || substr(h,39,2) || substr(h,37,2)) AS BIGINT) AS width, "
            "CAST(('0x' || substr(h,51,2) || substr(h,49,2) || substr(h,47,2) || substr(h,45,2)) AS BIGINT) AS height "
            "FROM hx), "
            # nearest-neighbor source byte for output (i, j), channel c:
            # BMP rows are stored bottom-up with stride = width*3 (no
            # byte offset 54 + row*stride + col*3 + c, with the 4-byte
            # padded row stride (mixed-stride fixture, odd widths)
            "px AS (SELECT asset_id, "
            "SUM(CAST(('0x' || substr(h, 2*(54 + (height-1 - (ui.i*height)//16)*((width*3+3)//4*4) "
            "+ ((uj.j*width)//16)*3 + uc.c) + 1, 2)) AS BIGINT))::BIGINT AS px_sum "
            "FROM parsed, "
            "LATERAL (SELECT unnest(range(16)) AS i) ui, "
            "LATERAL (SELECT unnest(range(16)) AS j) uj, "
            "LATERAL (SELECT unnest(range(3)) AS c) uc "
            "GROUP BY asset_id) "
            "SELECT p.asset_id, 16::BIGINT AS width, 16::BIGINT AS height, px.px_sum "
            "FROM parsed p JOIN px ON p.asset_id = px.asset_id"
        ),
        "dedup_exact_count": "SELECT COUNT(DISTINCT text) AS kept FROM documents",
        "dedup_incremental_exact": (
            # identical Knuth hash split as _incremental_split (seed 11,
            # 60% corpus); content identity via raw text equality — the
            # Spark side's sha256 is injective over these inputs
            f"WITH h AS (SELECT doc_id, text, lang, source, "
            f"((doc_id + {_INC_SEED}) * 2654435761) % 4294967296 AS hv FROM documents), "
            f"corpus AS (SELECT * FROM h WHERE hv < {_INC_CUTOFF}), "
            f"batch AS (SELECT * FROM h WHERE hv >= {_INC_CUTOFF}), "
            "fresh AS (SELECT b.* FROM batch b WHERE NOT EXISTS "
            "(SELECT 1 FROM corpus c WHERE c.text = b.text)), "
            "keep AS (SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY text) "
            "SELECT f.doc_id, f.lang, f.source FROM fresh f JOIN keep USING (doc_id)"
        ),
        "streaming_dedup_incremental_count": (
            f"WITH h AS (SELECT doc_id, text, "
            f"((doc_id + {_INC_SEED}) * 2654435761) % 4294967296 AS hv FROM documents) "
            "SELECT COUNT(DISTINCT text)::BIGINT AS kept FROM h b "
            f"WHERE b.hv >= {_INC_CUTOFF} AND NOT EXISTS "
            f"(SELECT 1 FROM h c WHERE c.hv < {_INC_CUTOFF} AND c.text = b.text)"
        ),
        "minhash_incremental_recall": (
            f"WITH h AS (SELECT doc_id, text, "
            f"((doc_id + {_INC_SEED}) * 2654435761) % 4294967296 AS hv FROM documents) "
            "SELECT COUNT(*)::BIGINT AS n_exact_cross, "
            "1::BIGINT AS exact_recall_complete, "
            "1::BIGINT AS pairs_cross_side, "
            "1::BIGINT AS estimates_at_threshold "
            f"FROM h b JOIN h c ON b.text = c.text "
            f"AND b.hv >= {_INC_CUTOFF} AND c.hv < {_INC_CUTOFF}"
        ),
        "corpus_delta_source": (
            # two overlapping 70% snapshots (seeds 5 and 6), diffed with
            # a null-safe full outer join on (source, content)
            f"WITH o AS (SELECT DISTINCT source, text, 1 AS fo FROM documents "
            f"WHERE ((doc_id + 5) * 2654435761) % 4294967296 < {int(0.7 * (1 << 32))}), "
            f"n AS (SELECT DISTINCT source, text, 1 AS fn FROM documents "
            f"WHERE ((doc_id + 6) * 2654435761) % 4294967296 < {int(0.7 * (1 << 32))}), "
            "j AS (SELECT coalesce(o.source, n.source) AS grp, o.fo, n.fn "
            "FROM o FULL OUTER JOIN n ON o.source IS NOT DISTINCT FROM n.source "
            "AND o.text IS NOT DISTINCT FROM n.text) "
            "SELECT grp AS source, "
            "SUM(CASE WHEN fo IS NULL THEN 1 ELSE 0 END)::BIGINT AS added, "
            "SUM(CASE WHEN fn IS NULL THEN 1 ELSE 0 END)::BIGINT AS removed, "
            "SUM(CASE WHEN fo IS NOT NULL AND fn IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS unchanged "
            "FROM j GROUP BY grp"
        ),
        "dedup_near_simhash": (
            "SELECT COUNT(*)::BIGINT AS n_docs, "
            "COUNT(DISTINCT text)::BIGINT AS exact_kept, "
            "1::BIGINT AS kept_le_exact, 1::BIGINT AS kept_subset_exact "
            "FROM documents"
        ),
        "exact_dup_groups_source": (
            "SELECT sha256(source) AS content_sha256, COUNT(*) AS dup_count, "
            "MIN(doc_id) AS keep_id FROM documents GROUP BY source "
            "HAVING COUNT(*) > 1"
        ),
        "near_dup_components_exact_graph": (
            "SELECT MIN(doc_id) AS keep_id, COUNT(*)::BIGINT AS size "
            "FROM documents GROUP BY text HAVING COUNT(*) > 1"
        ),
        "ngram_jaccard_pairs": (
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
            "grams AS (SELECT DISTINCT doc_id, "
            "  t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS gram "
            "  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) u), "
            "sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni "
            "  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id "
            "  GROUP BY a.doc_id, b.doc_id) "
            "SELECT id_a, id_b, ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b "
            "WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.8"
        ),
        "ngram_jaccard_pairs_capped": (
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
            "grams0 AS (SELECT DISTINCT doc_id, "
            "  t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS gram "
            "  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) u), "
            "rare AS (SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 8), "
            "grams AS (SELECT grams0.* FROM grams0 JOIN rare USING (gram)), "
            "sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni "
            "  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id "
            "  GROUP BY a.doc_id, b.doc_id) "
            "SELECT id_a, id_b, ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b "
            "WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.8"
        ),
        "embedding_near_dup_lsh_recall": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{_CLUSTERED_EMB_PARQUET}')) "
            "SELECT COUNT(*)::BIGINT AS n_exact, 1::BIGINT AS lsh_subset_exact, "
            "1::BIGINT AS lsh_recall_complete "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.99"
        ),
        "semantic_dedup_recall": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{_CLUSTERED_EMB_PARQUET}')) "
            "SELECT COUNT(*)::BIGINT AS n_exact, 1::BIGINT AS sem_subset_exact, "
            "1::BIGINT AS sem_recall_complete "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.99"
        ),
        "dup_span_stats": (
            "WITH toks AS (SELECT doc_id, list_filter(string_split(coalesce(text,''), ' '), "
            "x -> x <> '') AS t FROM documents), "
            "pg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-12)) AS pos FROM toks), "
            "g AS (SELECT doc_id, pos, array_to_string(t[pos:pos+12], ' ') AS gram FROM pg), "
            "dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2), "
            "m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)), "
            "isl AS (SELECT doc_id, pos, SUM(CASE WHEN lagpos IS NOT NULL AND pos - lagpos > 13 "
            "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS island "
            "FROM (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) "
            "AS lagpos FROM m)), "
            "spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos)+12 AS e, COUNT(*) AS nw "
            "FROM isl GROUP BY doc_id, island) "
            "SELECT doc_id AS id, SUM(nw)::BIGINT AS n_dup_windows, "
            "COUNT(*)::BIGINT AS n_spans, SUM(e-s+1)::BIGINT AS dup_tokens "
            "FROM spans GROUP BY doc_id"
        ),
        "remove_dup_spans": (
            "WITH toks AS (SELECT doc_id, list_filter(string_split(coalesce(text,''), ' '), "
            "x -> x <> '') AS t FROM documents), "
            "pg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-12)) AS pos FROM toks), "
            "g AS (SELECT doc_id, pos, array_to_string(t[pos:pos+12], ' ') AS gram FROM pg), "
            "dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2), "
            "m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)), "
            "cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos+12)) AS tp FROM m), "
            "covl AS (SELECT doc_id, list(tp) AS cps FROM cov GROUP BY doc_id) "
            "SELECT d.doc_id, CASE WHEN c.cps IS NULL THEN d.text "
            # array_to_string([]) is NULL in DuckDB but concat_ws of an
            # empty array is '' in Spark — coalesce the fully-stripped case
            "ELSE COALESCE(array_to_string(list_filter(t.t, "
            "(x, i) -> NOT list_contains(c.cps, i)), ' '), '') "
            "END AS text "
            "FROM documents d JOIN toks t USING (doc_id) LEFT JOIN covl c USING (doc_id)"
        ),
        "lm_score_docs": (
            "WITH toks AS (SELECT doc_id, list_filter(string_split(coalesce(text,''), ' '), "
            "x -> x <> '') AS t FROM documents), "
            "uni AS (SELECT tok FROM (SELECT unnest(t) AS tok FROM toks) "
            "GROUP BY tok ORDER BY COUNT(*) DESC, tok ASC LIMIT 25), "
            "bgp AS (SELECT doc_id, t[pos] || ' ' || t[pos+1] AS bg "
            "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS pos FROM toks)), "
            "bi AS (SELECT bg, COUNT(*) AS n FROM bgp GROUP BY bg HAVING COUNT(*) >= 2), "
            "biv AS (SELECT bg, n FROM bi WHERE split_part(bg, ' ', 1) IN (SELECT tok FROM uni) "
            "AND split_part(bg, ' ', 2) IN (SELECT tok FROM uni)), "
            "sc AS (SELECT doc_id, COUNT(bgp.bg) AS nb, COUNT(v.n) AS nk, "
            "COALESCE(SUM(v.n), 0) AS kcs FROM bgp LEFT JOIN biv v USING (bg) GROUP BY doc_id) "
            "SELECT d.doc_id AS id, COALESCE(sc.nb, 0)::BIGINT AS n_bigrams, "
            "COALESCE(sc.nk, 0)::BIGINT AS n_known_bigrams, "
            "COALESCE(sc.kcs, 0)::BIGINT AS known_count_sum "
            "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"
        ),
        "dsir_features_docs": (
            "WITH toks AS (SELECT doc_id, list_filter(string_split(coalesce(text,''), ' '), "
            "x -> x <> '') AS t FROM documents), "
            "g AS (SELECT doc_id, unnest(t) AS gram FROM toks "
            "UNION ALL SELECT doc_id, t[pos] || ' ' || t[pos+1] AS gram "
            "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS pos FROM toks)), "
            f"b AS (SELECT doc_id, ('0x' || substr(sha256(gram),1,8))::BIGINT "
            f"% {_DSIR_BUCKETS} AS bucket FROM g), "
            "feat AS (SELECT doc_id, bucket, COUNT(*)::BIGINT AS cnt FROM b GROUP BY 1, 2), "
            "rawm AS (SELECT bucket, SUM(cnt)::BIGINT AS rcnt FROM feat GROUP BY 1), "
            # target = the 2% seed-31 hash sample, same Knuth arithmetic
            "tgtm AS (SELECT bucket, SUM(cnt)::BIGINT AS tcnt FROM feat "
            "WHERE ((doc_id + 31) * 2654435761) % 4294967296 < 85899345 GROUP BY 1), "
            "sc AS (SELECT f.doc_id, SUM(f.cnt) AS ng, "
            "SUM(f.cnt * COALESCE(tm.tcnt, 0)) AS tcs, SUM(f.cnt * rm.rcnt) AS rcs "
            "FROM feat f LEFT JOIN tgtm tm USING (bucket) "
            "JOIN rawm rm USING (bucket) GROUP BY 1) "
            "SELECT d.doc_id AS id, COALESCE(sc.ng, 0)::BIGINT AS n_grams, "
            "COALESCE(sc.tcs, 0)::BIGINT AS target_count_sum, "
            "COALESCE(sc.rcs, 0)::BIGINT AS raw_count_sum "
            "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"
        ),
        "dsir_resample_check": (
            "SELECT 200::BIGINT AS n_selected, 0::BIGINT AS n_outside, "
            "0::BIGINT AS n_rerun_mismatch"
        ),
        "token_stats": (
            "SELECT doc_id AS id, "
            "len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens, "
            "length(text)::BIGINT AS n_chars FROM documents"
        ),
        "bpe_token_stats": _bpe_oracle(),
        "repetition_stats": (
            "WITH base AS (SELECT doc_id AS id, coalesce(text, '') AS t "
            "FROM documents), "
            "l AS (SELECT id, unnest(string_split(t, chr(10))) AS line FROM base), "
            "lc AS (SELECT id, line, COUNT(*) AS cnt FROM l "
            "WHERE trim(line) <> '' GROUP BY 1, 2), "
            "lstats AS (SELECT id, SUM(cnt)::BIGINT AS n_lines, "
            "SUM(cnt - 1)::BIGINT AS n_dup_lines, "
            "SUM((cnt - 1) * length(line))::BIGINT AS dup_line_chars, "
            "SUM(cnt * length(line))::BIGINT AS line_chars FROM lc GROUP BY id), "
            "toks AS (SELECT id, list_filter(string_split(t, ' '), x -> x <> '') AS tk "
            "FROM base), "
            "grams AS (SELECT id, unnest(list_transform("
            "CASE WHEN len(tk) >= 2 THEN range(1, len(tk)) ELSE [] END, "
            "i -> tk[i] || ' ' || tk[i + 1])) AS gram FROM toks), "
            "gc AS (SELECT id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2), "
            "gtop AS (SELECT id, gram, cnt, ROW_NUMBER() OVER "
            "(PARTITION BY id ORDER BY cnt DESC, gram ASC) AS rk FROM gc) "
            "SELECT b.id, COALESCE(s.n_lines, 0)::BIGINT AS n_lines, "
            "COALESCE(s.n_dup_lines, 0)::BIGINT AS n_dup_lines, "
            "COALESCE(s.dup_line_chars, 0)::BIGINT AS dup_line_chars, "
            "COALESCE(s.line_chars, 0)::BIGINT AS line_chars, "
            "length(b.t)::BIGINT AS text_chars, "
            "COALESCE(g.gram, '') AS top_ngram, "
            "COALESCE(g.cnt, 0)::BIGINT AS top_ngram_count "
            "FROM base b LEFT JOIN lstats s ON b.id = s.id "
            "LEFT JOIN (SELECT * FROM gtop WHERE rk = 1) g ON b.id = g.id"
        ),
        "redact_pii": (
            # same Java/RE2-portable patterns as textstats.redact_pii
            # (explicit classes, no lookaround, no \d) over the same
            # synthetic-PII enrichment as q_redact_pii
            "WITH base AS (SELECT doc_id AS id, "
            "coalesce(text, '') || ' u' || CAST(doc_id AS VARCHAR) || "
            "'@ex.com ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
            "' acct ' || CAST(1000000 + doc_id AS VARCHAR) AS t0 FROM documents), "
            "s1 AS (SELECT id, "
            "len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails, "
            "regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 "
            "FROM base), "
            "s2 AS (SELECT id, n_emails, "
            "len(regexp_extract_all(t1, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))::BIGINT AS n_ips, "
            "regexp_replace(t1, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS t2 "
            "FROM s1) "
            "SELECT id, regexp_replace(t2, '[0-9]{7,}', '<NUM>', 'g') AS redacted, "
            "n_emails, n_ips, "
            "len(regexp_extract_all(t2, '[0-9]{7,}'))::BIGINT AS n_longnums FROM s2"
        ),
        "contamination_report": (
            _decontam_pairs_cte(13)
            + "SELECT doc_id, bench_id, n_shared_grams FROM pairs"
        ),
        "decontaminate_docs": (
            _decontam_pairs_cte(13)
            + "SELECT d.doc_id, d.lang, d.source FROM documents d "
            "ANTI JOIN pairs p ON d.doc_id = p.doc_id"
        ),
        "pack_sequences": (
            "WITH base AS (SELECT doc_id AS id, "
            "((doc_id + 5) * 2654435761) % 4294967296 % 8 AS shard, "
            "len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')) AS n_tokens "
            "FROM documents), "
            "w AS (SELECT id, shard::BIGINT AS shard, n_tokens::BIGINT AS n_tokens, "
            "COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start "
            "FROM base) "
            "SELECT id, shard, n_tokens, tok_start, "
            "(tok_start // 256)::BIGINT AS seq_first, "
            "(CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 256 "
            "ELSE tok_start // 256 END)::BIGINT AS seq_last FROM w"
        ),
        "packing_stats": (
            "WITH base AS (SELECT doc_id AS id, "
            "((doc_id + 5) * 2654435761) % 4294967296 % 8 AS shard, "
            "len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')) AS n_tokens "
            "FROM documents), "
            "agg AS (SELECT shard::BIGINT AS shard, COUNT(*)::BIGINT AS n_docs, "
            "SUM(n_tokens)::BIGINT AS total_tokens FROM base GROUP BY 1) "
            "SELECT shard, n_docs, total_tokens, "
            "((total_tokens + 255) // 256)::BIGINT AS n_sequences, "
            "(CASE WHEN total_tokens > 0 THEN "
            "(total_tokens * 10000) // (((total_tokens + 255) // 256) * 256) "
            "ELSE 0 END)::BIGINT AS fill_bp FROM agg"
        ),
        # rational-IDF BM25: the helper emits the identical IEEE
        # expression order the Spark path evaluates, so the double
        # scores hash-match bit-for-bit (see pipeline/retrieval.py)
        "bm25_topk_docs": bm25_oracle_sql(
            "documents", "text", "doc_id", _BM25_TERMS, k=_BM25_K
        ),
        "tfidf_top_terms": (
            "WITH terms AS (SELECT doc_id, "
            "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term "
            "FROM documents), "
            "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2), "
            "dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS doc_freq "
            "FROM terms GROUP BY term), "
            "n AS (SELECT COUNT(*) AS n FROM documents), "
            "scored AS (SELECT doc_id, term, tf, doc_freq, "
            "tf * ln((n + 1.0) / (doc_freq + 1.0)) AS s "
            "FROM tf JOIN dfq USING (term), n), "
            "ranked AS (SELECT *, ROW_NUMBER() OVER "
            "(PARTITION BY doc_id ORDER BY s DESC, term ASC) AS rank FROM scored) "
            "SELECT doc_id AS id, term, tf::BIGINT AS tf, "
            "doc_freq::BIGINT AS doc_freq, rank::BIGINT AS rank "
            "FROM ranked WHERE rank <= 3"
        ),
        "profile_events": (
            " UNION ALL ".join(
                f"SELECT '{c}' AS column, COUNT(*)::BIGINT AS n_rows, "
                f"(COUNT(*) - COUNT({c}))::BIGINT AS n_nulls, "
                f"COUNT(DISTINCT {c})::BIGINT AS n_distinct, "
                f"CAST(MIN({c}) AS VARCHAR) AS min_str, "
                f"CAST(MAX({c}) AS VARCHAR) AS max_str FROM events"
                for c in ("event_type", "user_id", "event_id")
            )
        ),
        "quality_score": (
            "WITH f AS (SELECT doc_id, "
            "  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens, "
            "  length(text)::DOUBLE AS n_chars, "
            "  length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))::DOUBLE AS n_clean "
            "  FROM documents) "
            "SELECT doc_id AS id, n_tokens, "
            "ROUND(CASE WHEN n_chars > 0 THEN n_clean / n_chars ELSE 0.0 END, 4) AS alpha_ratio, "
            "ROUND(CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END, 4) AS mean_token_len, "
            "ROUND((CASE WHEN n_chars > 0 THEN n_clean / n_chars ELSE 0.0 END) * "
            "  (CASE WHEN n_tokens >= 10 THEN 1.0 ELSE n_tokens / 10.0 END), 4) AS quality "
            "FROM f"
        ),
        "fingerprint": (
            "SELECT doc_id AS id, "
            "sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp "
            "FROM documents"
        ),
        "lang_id": _lang_id_oracle(),
        "curate_documents": _curate_oracle(),
        "session_stats_events": (
            "WITH flags AS ("
            "SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch(ts) - epoch(lag(ts) OVER w) > 600 THEN 1 ELSE 0 END AS ns "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "sess AS (SELECT user_id, ts, SUM(ns) OVER ("
            "PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS session_id "
            "FROM flags) "
            "SELECT user_id, session_id::BIGINT AS session_id, "
            "COUNT(*)::BIGINT AS n_events, "
            "strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_s, "
            "strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_s, "
            "(epoch_us(MAX(ts)) - epoch_us(MIN(ts)))::BIGINT AS duration_us "
            "FROM sess GROUP BY user_id, session_id"
        ),
        "asof_join_orders": (
            "WITH ords AS (SELECT o_custkey AS user_id, o_orderdate, "
            "MAX(o_totalprice) AS best_price FROM orders GROUP BY 1, 2) "
            "SELECT e.event_id, e.user_id, o.best_price AS best_price_asof "
            "FROM events e ASOF LEFT JOIN ords o "
            "ON e.user_id = o.user_id AND e.ts >= o.o_orderdate"
        ),
        "asof_forward_orders": (
            "WITH ords AS (SELECT o_custkey AS user_id, o_orderdate, "
            "MAX(o_totalprice) AS best_price FROM orders GROUP BY 1, 2) "
            "SELECT e.event_id, e.user_id, o.best_price AS best_price_asof "
            "FROM events e ASOF LEFT JOIN ords o "
            "ON e.user_id = o.user_id AND e.ts <= o.o_orderdate"
        ),
        "rolling_event_features": (
            "SELECT event_id, user_id, "
            "COUNT(value) OVER w::BIGINT AS roll_n, "
            "ROUND(SUM(value) OVER w * 1000)::BIGINT AS roll_sum_milli "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
        ),
        "streaming_session_windows": (
            "WITH flags AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000 THEN 1 ELSE 0 END AS ns "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "sess AS (SELECT user_id, ts, SUM(ns) OVER ("
            "PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM flags) "
            "SELECT user_id, "
            "strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start, "
            "strftime(MAX(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end, "
            "COUNT(*)::BIGINT AS n_events FROM sess GROUP BY user_id, sid"
        ),
        "hash_sample_docs": (
            "SELECT doc_id, lang, source FROM documents "
            "WHERE ((doc_id + 7) * 2654435761) % 4294967296 < 429496729"
        ),
        "stratified_sample_docs": (
            "SELECT doc_id, lang FROM ("
            "SELECT doc_id, lang, row_number() OVER ("
            "PARTITION BY lang ORDER BY ((doc_id + 3) * 2654435761) % 4294967296 ASC, doc_id ASC) AS rk "
            "FROM documents) WHERE rk <= 20"
        ),
        "mixture_sample_docs": (
            "SELECT doc_id, source FROM documents "
            "WHERE ((doc_id + 11) * 2654435761) % 4294967296 < CASE source "
            "WHEN 'src0' THEN 4294967296 "
            "WHEN 'src1' THEN 214748364 "
            "ELSE 1073741824 END"
        ),
        "weighted_sample_docs": (
            "WITH f AS (SELECT doc_id, lang, "
            "len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens, "
            "length(text)::DOUBLE AS n_chars, "
            "length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))::DOUBLE AS n_clean "
            "FROM documents), "
            "s AS (SELECT doc_id, lang, "
            "ROUND((CASE WHEN n_chars > 0 THEN n_clean / n_chars ELSE 0.0 END) * "
            "(CASE WHEN n_tokens >= 10 THEN 1.0 ELSE n_tokens / 10.0 END), 4) AS q "
            "FROM f) "
            "SELECT doc_id, lang FROM s "
            "WHERE ((doc_id + 13) * 2654435761) % 4294967296 < "
            "CAST(trunc(LEAST(1.0, GREATEST(0.0, q)) * 4294967296) AS BIGINT)"
        ),
        "curate_neardup_invariant": (
            f"WITH base AS ({_curate_oracle()}) "
            "SELECT COUNT(*)::BIGINT AS n_base, 1::BIGINT AS subset_ok FROM base"
        ),
        "mg_sketch_bound_doc_tokens": (
            "SELECT 0::BIGINT AS over_violations, 0::BIGINT AS under_violations, "
            "1::BIGINT AS released_le_k, "
            "(SELECT COUNT(*) FROM (SELECT unnest(string_split(text, ' ')) AS tok "
            "FROM documents) WHERE tok <> '')::BIGINT AS total_tokens"
        ),
        "streaming_hll_distinct_user_id": (
            "SELECT COUNT(DISTINCT user_id)::BIGINT AS true_distinct, "
            "1::BIGINT AS within_bound, 1::BIGINT AS matches_batch FROM events"
        ),
        "hll_vs_exact_user_id": (
            "SELECT COUNT(DISTINCT user_id)::BIGINT AS true_distinct, "
            "1::BIGINT AS within_bound FROM events"
        ),
        "hll_grouped_event_type": (
            "SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS true_distinct, "
            "1::BIGINT AS within_bound FROM events GROUP BY event_type"
        ),
        "tdigest_grouped_price_by_flag": (
            "SELECT l_returnflag, COUNT(*)::BIGINT AS n_rows, "
            "1::BIGINT AS median_rank_ok FROM lineitem "
            "GROUP BY l_returnflag ORDER BY l_returnflag"
        ),
        "quantile_rank_bounds": (
            "WITH targets AS (SELECT unnest(['tdigest', 'kll']) AS sketch, "
            "unnest([0.0, 0.0]) AS _z), qs AS (SELECT unnest([0.1, 0.5, 0.9]) AS q) "
            "SELECT sketch, q, 1::BIGINT AS within_bound, "
            "(CASE WHEN sketch = 'tdigest' THEN (SELECT COUNT(*) FROM lineitem) "
            "ELSE (SELECT COUNT(*) FROM events) END)::BIGINT AS n_rows "
            "FROM targets, qs"
        ),
        "ann_recall_vs_exact": (
            "SELECT unnest(['lsh', 'ivf']) AS method, 1::BIGINT AS matches_exact"
        ),
        "streaming_windowed_event_counts": (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
            "event_type AS token, COUNT(*)::BIGINT AS cnt "
            "FROM events GROUP BY 1, 2"
        ),
        "streaming_mg_event_type": _mg_topk_oracle("events", "event_type"),
        "streaming_dedup_exact_count": (
            "SELECT COUNT(DISTINCT text)::BIGINT AS kept FROM documents"
        ),
        "pcm_waveform_stats": (
            f"WITH hx AS (SELECT asset_id, substr(hex(payload), 27) AS h "
            f"FROM read_parquet('{_ASSETS_PARQUET}')), "
            # one row per PCM sample byte (payload past the 13-byte header)
            "b AS (SELECT asset_id, u.i AS i, "
            "CAST(('0x' || substr(h, 2*u.i - 1, 2)) AS BIGINT) AS v "
            "FROM hx, LATERAL (SELECT unnest(range(1, len(h) // 2 + 1)) AS i) u), "
            "agg AS (SELECT asset_id, COUNT(*)::BIGINT AS n_samples, "
            "SUM(v)::BIGINT AS amp_sum, SUM(v*v)::BIGINT AS amp_sq_sum "
            "FROM b GROUP BY asset_id), "
            "zc AS (SELECT a.asset_id, "
            "SUM(CASE WHEN (a.v < 128) <> (c.v < 128) THEN 1 ELSE 0 END)::BIGINT "
            "AS zero_crossings "
            "FROM b a JOIN b c ON a.asset_id = c.asset_id AND c.i = a.i + 1 "
            "GROUP BY a.asset_id) "
            "SELECT hx.asset_id, COALESCE(agg.n_samples, 0)::BIGINT AS n_samples, "
            "COALESCE(agg.amp_sum, 0)::BIGINT AS amp_sum, "
            "COALESCE(agg.amp_sq_sum, 0)::BIGINT AS amp_sq_sum, "
            "COALESCE(zc.zero_crossings, 0)::BIGINT AS zero_crossings "
            "FROM hx LEFT JOIN agg USING (asset_id) LEFT JOIN zc USING (asset_id)"
        ),
        "minhash_est_vs_true_jaccard": (
            "SELECT 0::BIGINT AS violations, 1::BIGINT AS found_pairs"
        ),
        "simhash_recall_vs_allpairs": (
            "SELECT COUNT(*)::BIGINT AS n_docs, 1::BIGINT AS found_pairs, "
            "1::BIGINT AS subset_ok, 1::BIGINT AS complete_ok FROM documents"
        ),
        "cosine_topk": (
            "SELECT vec_id AS id, ROUND(list_cosine_similarity("
            "CAST(embedding AS DOUBLE[]), "
            "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4)"
            " AS cosine FROM embeddings ORDER BY cosine DESC, id ASC LIMIT 10"
        ),
        "embedding_near_dup_pairs": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.3"
        ),
        "bloom_orders_custkey": "SELECT COUNT(DISTINCT o_custkey) AS members FROM orders",
        "cms_returnflag": (
            "SELECT l_returnflag AS token, COUNT(*) AS est FROM lineitem "
            "GROUP BY l_returnflag"
        ),
        "mg_topk_weighted": (
            "SELECT event_type AS token, COUNT(*) AS est FROM events "
            "GROUP BY event_type"
        ),
        # rows-only (approximate / randomized / not SQL-expressible):
        # mg_sketch_doc_tokens_k8, mg_private_topk_event_type, lang_id,
        # simhash_near_pairs, minhash_dedup_pairs, ann_lsh_topk,
        # hll_distinct_user_id, tdigest_price_quantiles, kll_value_quantiles
        # — bound/recall/DP checks live in tests/.
    }
    # The r5 scale-path rows must produce IDENTICAL output to their cold
    # siblings, so each shares its sibling's oracle verbatim — any
    # divergence between the two execution paths surfaces as a driver
    # hash mismatch on the warm row.
    sql["minhash_incremental_persisted"] = sql["minhash_incremental_recall"]
    sql["remove_boilerplate_shuffle"] = sql["remove_boilerplate_lines"]
    sql["bm25_topk_warm"] = sql["bm25_topk_docs"]
    return sql
