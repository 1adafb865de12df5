"""Physical-plan assertions: the properties that make the engine scale
are pinned here so a regression (an accidental shuffle, lost column
pruning, lost filter pushdown) fails CI, not a 100 TB run."""

import os
import re

import pytest
from pyspark.sql import functions as F

from mgspark.aggregate import encode_tokens, mg_partials
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


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    """A filter on a scanned column must appear in PushedFilters."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    q = li.where(F.col("l_returnflag") == "R").select("l_returnflag", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_broadcast_decode_join(spark, sf_dir):
    """decode_keys (the fallback for a token-less checkpoint) filters the
    token stream with an ``isin`` IN-list of the tiny key set, never a
    shuffled join."""
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


def _partitionings(plan: str) -> list[str]:
    """The hashpartitioning column lists of a formatted plan, in order,
    without expression ids or partition counts."""
    return [
        re.sub(r"#\d+L?", "", cols).rsplit(", ", 1)[0]
        for cols in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    ]


def test_grouped_sketch_exchanges_on_salted_key(docs):
    """sketch_agg_grouped's shuffle plan (t-digest): the salted build
    exchange, then the per-group merge — and the salt must appear in a
    partitioning key so a hot group fans across cells."""
    from mgspark.sketches.base import sketch_agg_grouped
    from mgspark.sketches.tdigest import TDigest

    df = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    df = encode_tokens(df, "token")
    plan = _formatted(sketch_agg_grouped(df, "lang", "key", TDigest(50), 4, mode="shuffle"))
    tree = plan.split("\n\n")[0]
    assert tree.count("FlatMapGroupsInArrow (") == 2, plan  # salted build, merge
    assert _partitionings(plan) == ["lang, _salt", "lang"], plan


def test_mg_topk_grouped_is_one_jvm_window(docs):
    """mg_topk_grouped is one JVM plan: the exact (group, key) combiner
    exchange, then the group exchange with a partial WindowGroupLimit
    below it (each map task ships <= k+1 rows per group), and no Python
    node or JVM explode anywhere."""
    from mgspark.aggregate import mg_topk_grouped

    plan = _formatted(mg_topk_grouped(docs.select("lang", "source"), "lang", "source", 8))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange (") == 2, plan
    assert _partitionings(plan) == ["lang, key", "lang"], plan
    # Formatted-plan node ids count up from the scan, so on this linear
    # plan "below" means a smaller id.
    nodes = {}
    for section in plan.split("\n\n")[1:]:
        head = re.match(r"\((\d+)\) (\w+)", section)
        if head:
            nodes[int(head.group(1))] = (head.group(2), section.strip())
    exchanges = sorted(i for i, (name, _) in nodes.items() if name == "Exchange")
    partial = [
        i for i, (name, text) in nodes.items()
        if name == "WindowGroupLimit" and text.endswith(", Partial")
    ]
    assert len(partial) == 1 and exchanges[0] < partial[0] < exchanges[1], plan
    for node in (
        "MapInPandas", "MapInArrow", "FlatMapGroupsIn", "ArrowEvalPython",
        "BatchEvalPython", "Generate",
    ):
        assert node not in tree, (node, plan)


def _collected_plan(monkeypatch, run) -> str:
    """Formatted plan tree of the one frame ``run()`` collects, taken
    before it runs (an executed adaptive plan lists its nodes twice)."""
    from pyspark.sql import SparkSession

    frame_type = type(SparkSession.getActiveSession().range(1))
    real_collect = frame_type.collect
    collected = []

    def spy(self):
        collected.append(_formatted(self).split("\n\n")[0])
        return real_collect(self)

    monkeypatch.setattr(frame_type, "collect", spy)
    run()
    monkeypatch.undo()
    assert len(collected) == 1
    return collected[0]


def test_sketch_agg_folds_last_round_on_driver(spark, monkeypatch):
    """Within fanout, sketch_agg collects the stage-1 partials directly:
    no FlatMapGroupsInPandas merge round and no Exchange.  Past fanout
    (6 partitions, fanout 2) it runs exactly the two distributed rounds
    that bring the partials down to <= fanout rows."""
    from mgspark.sketches import TDigest
    from mgspark.sketches.base import sketch_agg

    def run(partitions, fanout):
        df = spark.range(0, 1_000, numPartitions=partitions)
        return lambda: sketch_agg(df, "id", TDigest(compression=50), fanout=fanout)

    tree = _collected_plan(monkeypatch, run(4, 64))
    assert "MapInArrow" in tree
    assert "FlatMapGroupsInPandas" not in tree
    assert "Exchange" not in tree
    tree = _collected_plan(monkeypatch, run(6, 2))
    assert tree.count("FlatMapGroupsInPandas (") == 2, tree


def test_mg_sketch_collects_partials_without_merge_round(spark, docs, monkeypatch):
    """The MG zero-shuffle path collects its stage-1 partials directly
    at <= fanout partitions: the build over the scan, no Exchange and no
    FlatMapGroupsInPandas merge round.  Past fanout (6 partitions,
    fanout 2) the two distributed rounds appear, each above the build."""
    from mgspark.aggregate import mg_sketch

    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    tree = _collected_plan(
        monkeypatch, lambda: mg_sketch(tokens, "key", 64, pre_aggregate=False)
    )
    assert "MapInArrow" in tree
    assert "FlatMapGroupsInPandas" not in tree
    assert "Exchange" not in tree
    keys = spark.range(0, 1_000, numPartitions=6).select((F.col("id") % 37).alias("key"))
    tree = _collected_plan(
        monkeypatch, lambda: mg_sketch(keys, "key", 8, fanout=2, pre_aggregate=False)
    )
    assert tree.count("FlatMapGroupsInPandas (") == 2, tree
    # the exchanges move partial rows: every one sits above the build
    assert "Exchange" not in tree[tree.index("MapInArrow"):], tree


@pytest.mark.parametrize("entry", ["mg_sketch_with_tokens", "mg_topk"])
def test_combiner_is_one_jvm_query(spark, docs, monkeypatch, entry):
    """The combiner path builds its sketch with one JVM query: no Python
    node, one file scan, and a TakeOrderedAndProject collecting the top
    k+1 counts.  It runs in at most two Spark jobs (the map stage and the
    result stage), as the mapInArrow build it replaced did."""
    from mgspark.aggregate import mg_sketch_with_tokens, mg_topk

    tokens = content_tokens(docs, "text")

    def run():
        if entry == "mg_topk":
            return mg_topk(tokens, "token", 16, pre_aggregate=True)
        encoded = encode_tokens(tokens, "token")
        return mg_sketch_with_tokens(encoded, "key", 16, "token", pre_aggregate=True)

    tree = _collected_plan(monkeypatch, run)
    assert tree.count("Scan parquet") == 1, tree
    assert "TakeOrderedAndProject" in tree, tree
    for node in ("MapInPandas", "MapInArrow", "EvalPython", "FlatMapGroupsIn"):
        assert node not in tree, (node, tree)
    sc = spark.sparkContext
    group = f"combiner-jobs-{entry}"
    sc.setJobGroup(group, "combiner job count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_combiner_preagg_has_mapside_partial_agg(docs):
    """The combiner plan must show a two-phase hash aggregate (partial
    map-side combine before the exchange): shuffle bytes are then
    O(distinct keys per partition), the property that makes the combiner
    beat the Arrow pipe at scale."""
    from mgspark.aggregate import _mg_top_counts

    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    plan = _formatted(_mg_top_counts(tokens, "key", 64, None, None)[0])
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


def _executed_plan(df) -> str:
    """The physical plan ``df`` ran with, taken after one ``collect``."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("pre_aggregate", [True, False])
def test_mg_topk_result_is_local_table_scan(docs, pre_aggregate):
    """mg_topk's <= k result rows, sorted on the driver, are a bare
    LocalTableScan, never a pickled Python RDD (``Scan ExistingRDD`` /
    ``LogicalRDD``), so actions on the result run no Python worker — also
    when the input yields no heavy hitter at all — and need no Sort or
    exchange."""
    from mgspark.aggregate import mg_topk

    for df in (docs.select("lang"), docs.select("lang").where(F.lit(False))):
        plan = _executed_plan(mg_topk(df, "lang", 8, pre_aggregate=pre_aggregate))
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
        assert "Exchange" not in plan, plan
        assert "Sort" not in plan, plan


def _jobs(spark, group, action):
    """``action()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "mg_topk job count")
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_zero_shuffle_mg_topk_is_one_job(spark, docs):
    """Zero-shuffle mg_topk, collect included, is one Spark job: the
    mapInArrow build carries exemplar tokens, so no decode re-scan runs,
    and the result needs no Sort job."""
    from mgspark.aggregate import mg_topk

    tokens = content_tokens(docs, "text")
    rows, jobs = _jobs(
        spark, "zero-shuffle-mg-topk", lambda: mg_topk(tokens, "token", 16, pre_aggregate=False).collect()
    )
    assert rows and jobs == 1


@pytest.mark.parametrize("pre_aggregate", [True, False])
def test_mg_topk_result_collects_without_a_job(spark, docs, pre_aggregate):
    """Collecting mg_topk's result starts no Spark job on either plan."""
    from mgspark.aggregate import mg_topk

    out = mg_topk(docs.select("lang"), "lang", 8, pre_aggregate=pre_aggregate)
    rows, jobs = _jobs(spark, f"mg-topk-collect-{pre_aggregate}", out.collect)
    assert rows and jobs == 0


def test_local_frame_round_trips_declared_schema(spark):
    """local_frame keeps the declared schema and every value: a null in
    a long column, a binary payload, and no rows at all."""
    from pyspark.sql.types import StructType

    from mgspark.session import local_frame

    ddl = "id long, payload binary"
    rows = [(1, b"\x00\xffMGB1"), (None, b"")]
    df = local_frame(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows  # binary collects as bytearray
    empty = local_frame(spark, [], "token string, est long")
    assert empty.collect() == []
    assert empty.dtypes == [("token", "string"), ("est", "bigint")]
    assert "LocalTableScan" in _executed_plan(empty)


def test_local_frame_rejects_values_arrow_would_coerce(spark):
    """A float in an integral column, a null in a non-nullable column and
    a short row raise; a string in a long column raises in Arrow itself."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from mgspark.session import local_frame

    with pytest.raises(TypeError, match="float value"):
        local_frame(spark, [("a", 1.5)], "token string, est long")
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [(None,)], StructType([StructField("id", LongType(), False)]))
    with pytest.raises(ValueError, match="every row needs 2 values"):
        local_frame(spark, [("a",)], "token string, est long")
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [("a", "3")], "token string, est long")


def test_local_frame_starts_no_job(spark):
    """Building a driver-side frame starts no Spark job; the same job
    group does record one for an action over ``spark.range``, so the
    tracker is watching."""
    from mgspark.session import local_frame

    sc = spark.sparkContext
    group = "local-frame-no-job"
    sc.setJobGroup(group, "local_frame plan guard")
    try:
        local_frame(spark, [(str(i), i) for i in range(64)], "token string, est long")
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        spark.range(8).count()
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
