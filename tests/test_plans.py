"""Physical-plan assertions: the properties that make the engine scale
are pinned here so a regression (an accidental shuffle, lost column
pruning, lost filter pushdown) fails CI, not a 100 TB run."""

import os

import pytest
from pyspark.sql import functions as F

from mgspark.aggregate import encode_tokens, mg_partials, mg_tree_merge
from mgspark.tokenize import content_tokens


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_stage1_build_has_no_exchange(docs):
    """Per-partition MG build must run on the scan partitions directly:
    any Exchange before MapInPandas means raw tokens get shuffled."""
    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    plan = _formatted(mg_partials(tokens, "key", 64))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_stage1_scan_prunes_columns(docs):
    """The documents scan must read only the text column (ReadSchema)."""
    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    plan = _formatted(mg_partials(tokens, "key", 64))
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines, plan
    assert "struct<text:string>" in read_schema_lines[0]


def test_hashing_stays_in_codegen(docs):
    """xxhash64 encoding must be a JVM Project, not Python work."""
    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    plan = _formatted(mg_partials(tokens, "key", 64))
    assert "xxhash64" in plan
    # the Project carrying the hash is inside a WholeStageCodegen span
    assert "* Project" in plan


def test_full_job_has_single_exchange_of_partials(docs):
    """Build + tree merge: exactly one Exchange (the tiny partial rows)."""
    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    merged = mg_tree_merge(mg_partials(tokens, "key", 64), 64)
    plan = _formatted(merged)
    assert plan.count("Exchange") <= 2  # hashpartition of partials (+AQE read)
    # the Exchange must sit above MapInPandas (partials), not below it
    map_pos = plan.index("MapInArrow")
    tree_section = plan[: plan.index("(1) Scan")]
    assert "Exchange" not in tree_section[tree_section.index("MapInArrow"):]


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    """A filter on a scanned column must appear in PushedFilters."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    q = li.where(F.col("l_returnflag") == "R").select("l_returnflag", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_broadcast_decode_join(spark, sf_dir):
    """mg_topk-style decode must broadcast the tiny key set, never
    shuffle the token stream for the join."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tokens = content_tokens(docs, "text")
    encoded = encode_tokens(tokens, "token")
    some_keys = [r["key"] for r in encoded.select("key").distinct().limit(5).collect()]
    probe = encoded.where(F.col("key").isin([int(k) for k in some_keys])).select(
        "key", "token"
    ).distinct()
    plan = _formatted(probe)
    # the isin filter is evaluated before any exchange: Filter below Exchange
    assert "In(" in plan or "Filter" in plan


def test_grouped_sketch_exchanges_on_salted_key(docs):
    """mg_sketch_grouped: exact (group, key) combiner first (map-side
    partial agg so a hot key cannot straggle a salt bucket), then the
    salted build exchange, then the per-group merge — and the salt must
    appear in a partitioning key."""
    from mgspark.aggregate import mg_sketch_grouped

    df = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    df = encode_tokens(df, "token")
    plan = _formatted(mg_sketch_grouped(df, "lang", "key", 8, salt_buckets=4))
    # formatted output lists each node in the tree and in the details
    assert plan.count("FlatMapGroupsInPandas") >= 2
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate (") >= 2, plan  # partial+final combiner
    first = plan.index("hashpartitioning")
    assert "key" in plan[first : first + 200]  # combiner exchange on (group, key)
    salted = plan.index("hashpartitioning", first + 1)
    assert "_salt" in plan[salted : salted + 200]


def _sketch_agg_collected_plan(spark, monkeypatch, partitions: int, fanout: int) -> str:
    """Formatted plan tree of the frame ``sketch_agg`` collects, taken
    before it runs (an executed adaptive plan lists its nodes twice)."""
    from mgspark.sketches import HLLSketch
    from mgspark.sketches.base import sketch_agg

    df = spark.range(0, 1_000, numPartitions=partitions)
    frame_type = type(df)
    real_collect = frame_type.collect
    collected = []

    def spy(self):
        collected.append(_formatted(self).split("\n\n")[0])
        return real_collect(self)

    monkeypatch.setattr(frame_type, "collect", spy)
    sketch_agg(df, "id", HLLSketch(p=10), fanout=fanout)
    monkeypatch.undo()
    assert len(collected) == 1
    return collected[0]


def test_sketch_agg_folds_last_round_on_driver(spark, monkeypatch):
    """Within fanout, sketch_agg collects the stage-1 partials directly:
    no FlatMapGroupsInPandas merge round and no Exchange.  Past fanout
    (6 partitions, fanout 2) it runs exactly the two distributed rounds
    that bring the partials down to <= fanout rows."""
    tree = _sketch_agg_collected_plan(spark, monkeypatch, partitions=4, fanout=64)
    assert "MapInArrow" in tree
    assert "FlatMapGroupsInPandas" not in tree
    assert "Exchange" not in tree
    tree = _sketch_agg_collected_plan(spark, monkeypatch, partitions=6, fanout=2)
    assert tree.count("FlatMapGroupsInPandas (") == 2, tree


def test_combiner_preagg_has_mapside_partial_agg(docs):
    """The combiner plan must show a two-phase hash aggregate (partial
    map-side combine before the exchange): shuffle bytes are then
    O(distinct keys per partition), the property that makes the combiner
    beat the Arrow pipe at scale."""
    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    pre = tokens.groupBy("key").agg(F.count("*").cast("long").alias("_w"))
    plan = _formatted(pre)
    # Spark renders partial+final as two HashAggregate nodes around one
    # Exchange; count nodes in the plan tree (node ids like "(6) Exchange"
    # repeat in the details section, so count tree entries only).
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate (") >= 2, plan
    assert tree.count("Exchange (") == 1, plan


def test_bpe_token_stats_stays_jvm_side(docs):
    """The BPE-ish token count must be a JVM projection over a pruned
    scan — no Python evaluation node anywhere in the plan."""
    from mgspark.pipeline.textstats import bpe_token_stats

    plan = _formatted(bpe_token_stats(docs, "text", "doc_id"))
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow"):
        assert node not in plan, node
    assert "regexp_extract_all" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" in read_schema[0]
    assert "source" not in read_schema[0], "must not read unused columns"


def test_ngram_doc_freq_cap_is_bounded_bucket_plan(docs):
    """The capped (scale) path must be the bounded-bucket plan: ONE
    groupBy(gram) whose sorted collect_set both dedups and carries the
    doc list, the cap a size filter on that list, and candidate pairs a
    pure-JVM Generate expansion of each <= cap list — NO self-join of
    the gram relation (the old plan shuffled it into a join twice), no
    Window over gram (which would pin the hottest gram to one task with
    no partial aggregation and no AQE skew split), no anti-join.  The
    uncapped exact twin keeps the gram self-join by definition."""
    from mgspark.pipeline.dedup import ngram_jaccard_pairs

    uncapped = _formatted(
        ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8, max_doc_freq=None, eager_cache=False)
    ).split("\n\n")[0]
    capped = _formatted(
        ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8, max_doc_freq=8, eager_cache=False)
    ).split("\n\n")[0]
    assert "Window" not in capped and "Window" not in uncapped
    # pair generation is an explode (Generate), never a join on gram —
    # the only joins left attach the (vocabulary-sized) per-doc sizes
    gram_joins = [
        l for l in capped.splitlines() if "Join" in l and "gram" in l
    ]
    assert not gram_joins, gram_joins
    # collect_set aggregates run as ObjectHashAggregate nodes; the pair
    # expansion is a Generate (explode), present in the node tree
    assert "ObjectHashAggregate" in capped, capped
    assert "Generate" in capped, capped
    # the exact twin still self-joins on gram: one more join node than
    # the capped plan's two size-attach joins
    n_join = lambda plan: sum("Join" in l for l in plan.splitlines())
    assert n_join(uncapped) > n_join(capped), (n_join(uncapped), n_join(capped))


def test_mg_topk_probe_scans_single_column(docs):
    """The combiner probe must be a pruned single-column scan (ReadSchema
    carries only the probed column), not a full-width read."""
    from mgspark.aggregate import _PROBE_ROWS

    probe = (
        docs.select("lang")
        .limit(_PROBE_ROWS)
        .agg(
            F.count("lang").alias("rows"),
            F.approx_count_distinct("lang").alias("distinct"),
        )
    )
    plan = _formatted(probe)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "lang" in read_schema[0]
    assert "text" not in read_schema[0], "probe must not read the text column"


def test_asof_join_single_exchange_no_nested_loop(docs):
    """The as-of join must be the union+window plan: exactly one hash
    exchange on the key (plus AQE reads), ONE Window, and never a
    nested-loop/cartesian join (what a time-inequality theta join
    degenerates to)."""
    from pyspark.sql import functions as F

    from mgspark.pipeline.temporal import asof_join

    spark = docs.sparkSession
    left = spark.range(100).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 10).alias("ts"),
        F.col("id").alias("payload"),
    )
    right = spark.range(50).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 7).alias("rts"),
        (F.col("id") * 2.0).alias("price"),
    )
    plan = _formatted(
        asof_join(left, right, "k", "ts", "rts", ["price"])
    ).split("\n\n")[0]
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert plan.count("Window (") == 1
    # one exchange for the window partitioning (the union sides are
    # range sources here; parquet sides would add their scans only)
    assert plan.count("Exchange (") == 1, plan


def test_sessionize_one_exchange_two_windows_share_sort(docs):
    """Sessionization must reuse ONE exchange + ONE sort for both the
    lag and the running-sum windows (same partitioning/ordering)."""
    from pyspark.sql import functions as F

    from mgspark.pipeline.temporal import sessionize

    spark = docs.sparkSession
    ev = spark.range(1000).select(
        (F.col("id") % 50).alias("uid"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    plan = _formatted(sessionize(ev, "uid", "ts", 600)).split("\n\n")[0]
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("Sort (") == 1, plan


def test_lsh_index_topk_reads_cached_index_only(docs):
    """A warm LSH-index query must read ONLY the persisted (id, vec,
    bucket) table behind a bucket IN-list filter: InMemoryTableScan
    present, and NO Python bucket re-assignment node (MapInPandas) —
    the assignment pass belongs to lsh_build, not the query."""
    import numpy as np

    import mgspark.pipeline.similarity as sim

    spark = docs.sparkSession
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in v / np.linalg.norm(v)])
        for i, v in enumerate(rng.standard_normal((100, 8)))
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = sim.lsh_build(emb, "embedding", "vec_id", n_planes=5)
    try:
        full = _formatted(idx.topk(rows[0][1], 5, multiprobe=1))
        plan = full.split("\n\n")[0]
        assert "InMemoryTableScan" in plan, plan
        # everything ABOVE the cache boundary is the query's own work:
        # no Python re-assignment there (MapInPandas below the boundary
        # is just the cache's recompute lineage, not executed warm)
        query_side = plan.split("InMemoryTableScan")[0]
        assert "MapInPandas" not in query_side, plan
        # the probe predicate is the bucket IN-list (details section)
        assert "bucket" in full and "IN (" in full, full
    finally:
        idx.indexed.unpersist()


def test_dedup_incremental_corpus_scan_prunes_to_content(docs):
    """The corpus side of incremental dedup must read ONLY the content
    column before hashing — at 100 TB the history is never re-shipped;
    only 32-byte hashes cross the exchange.  A corpus scan that reads
    all columns means the projection was lost."""
    from mgspark.pipeline.dedup import dedup_incremental

    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    plan = _formatted(
        dedup_incremental(batch, corpus, "text", "doc_id").select(
            "doc_id", "lang", "source"
        )
    )
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    # the two hash branches read (doc_id, text) only; the output branch
    # prunes text entirely — no scan reads all four columns
    assert any("struct<doc_id:bigint,text:string>" in l for l in schemas), schemas
    assert not any(
        "text" in l and "lang" in l for l in schemas
    ), schemas
    # nothing in this plan may fall back to a nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_incremental_hot_bucket_cap_is_broadcast_anti_join(docs):
    """The corpus hot-bucket blacklist must broadcast (it is tiny — only
    buckets with > max_bucket members) into an anti-join over the corpus
    band relation; a sort-merge anti-join would shuffle every corpus
    band row just to drop boilerplate."""
    from mgspark.pipeline.dedup import minhash_incremental_pairs

    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    tree = _formatted(
        minhash_incremental_pairs(batch, corpus, "text", "doc_id", threshold=0.8)
    ).split("\n\n")[0]
    anti = [l for l in tree.splitlines() if "Join LeftAnti" in l]
    assert anti and all("BroadcastHashJoin" in l for l in anti), anti
    assert "SortMergeJoin LeftAnti" not in tree


def test_semantic_dedup_cluster_size_filter_is_broadcast(docs, spark, sf_dir):
    """The oversized-cluster filter in semantic dedup is a k-row
    aggregate; attaching it to the vector table must be a broadcast
    join, never a shuffle of the vectors for a k-row filter."""
    from mgspark.pipeline.similarity import semantic_dedup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    plan = _formatted(
        semantic_dedup_pairs(emb, "embedding", "vec_id", threshold=0.9, n_clusters=4)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_delta_is_single_equi_full_outer(docs):
    """The snapshot diff must execute as ONE equi full-outer join on the
    (group, hash) keys — null-safe equality has to stay a hash-joinable
    key, not degrade to a nested-loop condition."""
    from mgspark.pipeline.profile import corpus_delta

    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    plan = _formatted(corpus_delta(old, new, "text", "source"))
    tree = plan.split("\n\n")[0]
    outer = [l for l in tree.splitlines() if "Join FullOuter" in l]
    assert len(outer) == 1, outer
    assert "NestedLoop" not in outer[0] and "Cartesian" not in outer[0]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_scoring_all_joins_broadcast_no_id_rejoin(docs):
    """DSIR scoring must be two combiner aggregations + broadcast model
    joins: no SortMergeJoin (a corpus-size id re-join) and no Python in
    the scoring path — empty docs ride through explode_outer rows."""
    from mgspark.pipeline.dsir import dsir_log_weights

    w = dsir_log_weights(docs, docs.limit(20), n_buckets=128)
    plan = _formatted(w)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_dsir_resample_is_take_ordered(docs):
    """Gumbel top-k must compile to TakeOrdered (sort+limit), never a
    global Sort materialization."""
    from mgspark.pipeline.dsir import dsir_log_weights, dsir_resample

    w = dsir_log_weights(docs, docs.limit(20), n_buckets=128)
    plan = _formatted(dsir_resample(w, 10, seed=1))
    assert "TakeOrderedAndProject" in plan
