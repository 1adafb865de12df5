"""End-to-end distributed MG tests against the sf0.001 testdata and the
synthetic repo table: exactness at cardinality <= k, the deterministic
error bound at cardinality > k, checkpoint resume, grouped heavy
hitters, and the sha256 ingest invariant."""

import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mgspark.aggregate import (
    decode_keys,
    encode_tokens,
    mg_partials,
    mg_sketch,
    mg_topk,
    mg_topk_grouped,
)
from mgspark.kernel import MGState, mg_merge_arrays
from mgspark.sketches.base import merge_partials
from mgspark.sketches.mg import MGSketch
from mgspark.testgen import repo_table_pandas, write_repo_table
from mgspark.tokenize import content_tokens, ext_tokens, lang_tokens, sha256_invariant


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="module")
def repo_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("repos"))
    write_repo_table(path, n_rows=3000)
    return spark.read.parquet(os.path.join(path, "repos.parquet"))


def test_topk_exact_when_cardinality_below_k(spark, docs):
    result = {r["token"]: r["est"] for r in mg_topk(lang_tokens(docs), "token", 100).collect()}
    exact = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert result == exact


def test_sketch_bound_content_tokens(spark, docs):
    k = 20
    tokens = content_tokens(docs, "text")
    encoded = encode_tokens(tokens, "token")
    state = mg_sketch(encoded, "key", k)
    exact = {
        r["key"]: r["cnt"]
        for r in encoded.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(exact.values())
    assert state.n == total
    cap = total // (k + 1)
    assert state.d <= cap
    assert len(state.keys) <= k
    for key, est in zip(state.keys, state.counters):
        true = exact.get(int(key), 0)
        assert true - cap <= est <= true
    # every key with true count above the cap must survive
    survivors = set(int(key) for key in state.keys)
    for key, cnt in exact.items():
        if cnt > cap:
            assert key in survivors


def test_partials_lineage_and_tree_merge(spark, repo_df):
    tokens = encode_tokens(content_tokens(repo_df), "token")
    partials = mg_partials(tokens, "key", 16).cache()
    rows = partials.collect()
    assert len(rows) >= 1
    assert all(r["rows"] > 0 and r["wall_sec"] >= 0 for r in rows)
    sketch = MGSketch(16)
    assert all(len(sketch.deserialize(r["payload"])[0].keys) <= 16 for r in rows)
    total_rows = sum(r["rows"] for r in rows)
    assert total_rows == tokens.count()
    state, _ = merge_partials(partials, partials.rdd.getNumPartitions(), sketch, fanout=2)
    assert state.n == total_rows
    partials.unpersist()


def test_checkpoint_resume(spark, docs, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    s1 = mg_sketch(tokens, "key", 10, checkpoint_dir=ckpt)
    assert os.path.exists(os.path.join(ckpt, "_SUCCESS"))
    # Second run resumes from the checkpoint (same partial set -> same result).
    s2 = mg_sketch(tokens.limit(0), "key", 10, checkpoint_dir=ckpt)
    assert s1.to_dict() == s2.to_dict()
    assert (s1.n, s1.d) == (s2.n, s2.d)


def test_checkpoint_refuses_other_k(spark, docs, tmp_path):
    """Resuming a k=2 checkpoint into a k=64 query raised nothing and
    returned the k=2 state; the manifest makes both resume checks (the
    pre_aggregate="auto" probe and the sketch core) raise."""
    ckpt = str(tmp_path / "k2_ckpt")
    tokens = encode_tokens(content_tokens(docs, "text"), "token")
    mg_sketch(tokens, "key", 2, checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="params"):
        mg_sketch(tokens, "key", 64, checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="params"):
        mg_sketch(tokens, "key", 64, checkpoint_dir=ckpt, pre_aggregate=False)


def test_driver_fold_returns_only_surviving_exemplars():
    """Exemplars of keys the merge evicted are dropped, in the driver
    fold and in every distributed merge round alike."""
    sketch = MGSketch(k=1)
    a = (MGState.from_dict({1: 5}, 1, n=5), {1: "a"})
    b = (MGState.from_dict({2: 3}, 1, n=3), {2: "b"})
    state, exemplars = sketch.merge(sketch.merge(sketch.zero(), a), b)
    assert state.keys.tolist() == [1]  # key 2 is decremented away
    assert set(exemplars) <= set(state.keys.tolist())
    assert exemplars == {1: "a"}


def test_checkpoint_resume_sparse_partition_ids(spark, tmp_path):
    """Checkpointed partial rows can have sparse partition ids (empty
    stage-1 partitions emit no row).  Round planning must bound rounds by
    max(partition_id)+1, not the row count, or the tree merge ends with
    multiple rows and drops partials (ADVICE r01)."""
    from mgspark.aggregate import _mg_manifest
    from mgspark.sketches.base import SKETCH_PARTIAL_SCHEMA, write_checkpoint

    ckpt = str(tmp_path / "sparse_ckpt")
    sketch = MGSketch(16)

    def payload(pid):
        state = MGState.from_dict({pid * 10 + 1: 5, pid * 10 + 2: 3}, 16, n=8)
        return sketch.serialize((state, {}))

    # sparse: count=3 but ids span 14 slots
    rows = [(pid, payload(pid), 8, 0.0) for pid in (0, 5, 13)]
    partials = spark.createDataFrame(rows, SKETCH_PARTIAL_SCHEMA)
    write_checkpoint(partials, ckpt, _mg_manifest(16, "key", None, None))
    empty = spark.createDataFrame([], "key long")
    state = mg_sketch(empty, "key", k=16, checkpoint_dir=ckpt, fanout=2)
    # All three partials must have merged into one state.
    assert state.n == 24
    assert sorted(state.keys.tolist()) == [1, 2, 51, 52, 131, 132]


# The array-row layout MG partials had before they became MGSketch payloads.
_OLD_MG_PARTIAL_DDL = (
    "partition_id long, keys array<long>, counters array<long>, tokens array<string>, "
    "n long, d long, rows long, wall_sec double"
)


def test_checkpoint_without_manifest_is_refused(spark, tmp_path):
    """Complete partials with no manifest (hand-written, or MG's old
    array rows) raise a clear ValueError instead of being trusted or
    failing mid-query on their schema."""
    ckpt = str(tmp_path / "no_manifest_ckpt")
    rows = [(0, [1, 2], [5, 3], None, 8, 0, 8, 0.0)]
    spark.createDataFrame(rows, _OLD_MG_PARTIAL_DDL).write.mode("overwrite").parquet(ckpt)
    empty = spark.createDataFrame([], "key long")
    with pytest.raises(ValueError, match="no _manifest.json"):
        mg_sketch(empty, "key", k=16, checkpoint_dir=ckpt, pre_aggregate=False)
    with pytest.raises(ValueError, match="no _manifest.json"):
        mg_sketch(empty, "key", k=16, checkpoint_dir=ckpt)


def test_checkpoint_in_old_partial_layout_is_refused(spark, tmp_path):
    """An MG checkpoint of array rows whose manifest predates the
    partial-layout field is refused as another query's partials, not
    read until Spark fails on its missing payload column."""
    import json

    ckpt = str(tmp_path / "old_layout_ckpt")
    rows = [(0, [1, 2], [5, 3], None, 8, 0, 8, 0.0)]
    spark.createDataFrame(rows, _OLD_MG_PARTIAL_DDL).write.mode("overwrite").parquet(ckpt)
    old_manifest = {
        "family": "mg", "params": {"k": 16}, "key_col": "key",
        "weight_col": None, "token_col": None,
    }
    with open(os.path.join(ckpt, "_manifest.json"), "w", encoding="utf8") as f:
        json.dump(old_manifest, f, sort_keys=True)
    empty = spark.createDataFrame([], "key long")
    with pytest.raises(ValueError, match="built for another query.*partial_schema"):
        mg_sketch(empty, "key", k=16, checkpoint_dir=ckpt, pre_aggregate=False)
    with pytest.raises(ValueError, match="built for another query.*partial_schema"):
        mg_sketch(empty, "key", k=16, checkpoint_dir=ckpt)


def test_mg_sketch_within_fanout_runs_one_job(spark):
    """<= fanout input partitions on the zero-shuffle path: the build's
    collect is the only Spark job — no merge round, no probe."""
    sc = spark.sparkContext
    group = "test-mg-sketch-one-job"
    df = spark.range(0, 4_000, numPartitions=4).select((F.col("id") % 37).alias("key"))
    sc.setJobGroup(group, "mg_sketch within fanout")
    try:
        state = mg_sketch(df, "key", 8, pre_aggregate=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert state.n == 4_000
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_mg_topk_resume_skips_the_auto_probe(spark, docs, tmp_path, monkeypatch):
    """A resume from a ready checkpoint runs no plan probe: under "auto"
    it starts no more jobs than under True, with the same rows.  A fresh
    build still probes the raw token column (null tokens are not rows)."""
    import mgspark.aggregate as agg

    probed = []
    probe = agg._combiner_probe

    def recording_probe(df, key_col):
        probed.append(key_col)
        return probe(df, key_col)

    monkeypatch.setattr(agg, "_combiner_probe", recording_probe)
    sc = spark.sparkContext
    ckpt = str(tmp_path / "auto_ckpt")
    langs = docs.select("lang")
    built = agg.mg_topk(langs, "lang", 8, checkpoint_dir=ckpt).collect()
    assert probed == ["lang"]
    jobs = {}
    for pre_aggregate in ("auto", True):
        group = f"test-mg-topk-resume-{pre_aggregate}"
        sc.setJobGroup(group, "mg_topk resume")
        try:
            resumed = agg.mg_topk(
                langs, "lang", 8, checkpoint_dir=ckpt, pre_aggregate=pre_aggregate
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[pre_aggregate] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert resumed == built
    assert probed == ["lang"]
    assert jobs["auto"] <= jobs[True]


def test_mg_topk_exemplars_survive_checkpoint(spark, docs, tmp_path, monkeypatch):
    """Exemplar tokens ride the parquet checkpoint: a resumed combiner-path
    mg_topk decodes from the checkpointed partials with no input re-scan."""
    import mgspark.aggregate as agg

    ckpt = str(tmp_path / "tok_ckpt")
    langs = docs.select(F.col("lang").alias("token"))
    first = {r["token"]: r["est"] for r in agg.mg_topk(langs, "token", 64, checkpoint_dir=ckpt, pre_aggregate=True).collect()}

    def _boom(*args, **kwargs):
        raise AssertionError("resume must decode from checkpointed exemplars")

    monkeypatch.setattr(agg, "decode_keys", _boom)
    resumed = {
        r["token"]: r["est"]
        for r in agg.mg_topk(
            langs.limit(0), "token", 64, checkpoint_dir=ckpt, pre_aggregate=True
        ).collect()
    }
    assert resumed == first
    assert all(not t.isdigit() for t in resumed), "tokens must be decoded strings"


def _token_rows(repo_df):
    return repo_df.select(
        "lang", F.explode(F.split(F.col("content"), r"\s+")).alias("token")
    ).where(F.col("token") != "")


def _grouped_rows(df, k, group_col="lang", token_col="token"):
    return sorted(
        (r[group_col], r["token"], r["est"])
        for r in mg_topk_grouped(df, group_col, token_col, k).collect()
    )


def test_mg_topk_grouped_deterministic(spark, repo_df):
    """Task retries, reruns and repartitioning cannot change the result:
    identical rows at 1 and 7 input partitions and across two runs."""
    df = _token_rows(repo_df)
    one = _grouped_rows(df.repartition(1), 8)
    assert one and one == _grouped_rows(df.repartition(7), 8)
    assert one == _grouped_rows(df.repartition(7), 8)


def test_mg_topk_grouped_bound(spark, repo_df):
    """Above k tokens per group: at most k rows per group, one shared
    offset t <= floor(N_g/(k+1)) per group, and every key within the MG
    bound true - floor(N_g/(k+1)) <= est <= true."""
    k = 12
    df = _token_rows(repo_df)
    exact = {
        (r["lang"], r["token"]): r["cnt"]
        for r in df.groupBy("lang", "token").agg(F.count("*").alias("cnt")).collect()
    }
    totals, distinct = {}, {}
    for (lang, _), cnt in exact.items():
        totals[lang] = totals.get(lang, 0) + cnt
        distinct[lang] = distinct.get(lang, 0) + 1
    assert min(distinct.values()) > k  # every group is pruned
    rows = {}
    for lang, token, est in _grouped_rows(df, k):
        rows.setdefault(lang, []).append((token, est))
    assert set(rows) == set(totals)
    for lang, ests in rows.items():
        assert len(ests) <= k
        cap = totals[lang] // (k + 1)
        offsets = {exact[(lang, token)] - est for token, est in ests}
        assert len(offsets) == 1 and 0 <= offsets.pop() <= cap
        for token, est in ests:
            true = exact[(lang, token)]
            assert true - cap <= est <= true


def test_mg_topk_combiner_decodes_from_exemplars_without_rescan(spark, docs, monkeypatch):
    """The combiner path must decode keys from exemplars carried in the
    partial rows — no decode_keys re-scan of the input (VERDICT r01 #3)."""
    import mgspark.aggregate as agg

    def _boom(*args, **kwargs):
        raise AssertionError("combiner path must not re-scan via decode_keys")

    monkeypatch.setattr(agg, "decode_keys", _boom)
    tokens = content_tokens(docs, "text")
    got = {r["token"]: r["est"] for r in agg.mg_topk(tokens, "token", 10, pre_aggregate=True).collect()}
    # cardinality > k here, so only check: tokens are real strings (decoded),
    # and every estimate is within the MG bound of the true count.
    exact = {
        r["token"]: r["cnt"]
        for r in tokens.groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(exact.values())
    cap = n // 11
    assert got, "sketch must release at least one key"
    for token, est in got.items():
        assert token in exact, f"exemplar {token!r} is not a real token"
        assert exact[token] - cap <= est <= exact[token]


def test_mg_topk_paths_agree_at_low_cardinality(spark, docs):
    """combiner / zero-shuffle / auto all produce the exact GROUP BY
    answer when cardinality <= k."""
    from mgspark.aggregate import mg_topk

    langs = docs.select(F.col("lang").alias("token"))
    expected = {
        r["token"]: r["cnt"]
        for r in langs.groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    for mode in (True, False, "auto"):
        got = {r["token"]: r["est"] for r in mg_topk(langs, "token", 64, pre_aggregate=mode).collect()}
        assert got == expected, f"pre_aggregate={mode}"


def test_encode_decode_roundtrip(spark, docs):
    tokens = lang_tokens(docs)
    encoded = encode_tokens(tokens, "token")
    keys = [r["key"] for r in encoded.select("key").distinct().collect()]
    mapping = decode_keys(tokens, "token", keys)
    assert len(mapping) == len(keys)
    langs = {r["token"] for r in tokens.distinct().collect()}
    assert set(mapping.values()) == langs


def test_integral_column_passthrough_and_negatives_skipped(spark):
    df = spark.createDataFrame([(i % 5,) for i in range(100)] + [(-3,)] * 10, "v long")
    encoded = encode_tokens(df, "v")
    state = mg_sketch(encoded, "key", 10)
    # negatives skipped as invalid (pmg.py:82-83): n counts only valid rows
    assert state.n == 100
    assert state.to_dict() == {i: 20 for i in range(5)}


def test_sha256_ingest_invariant(spark, tmp_path):
    pdf = repo_table_pandas(500)
    path = str(tmp_path / "repos")
    write_repo_table(path, n_rows=500)
    df = spark.read.parquet(os.path.join(path, "repos.parquet"))
    spark_hashes = {
        r["commit"]: r["content_sha256"]
        for r in sha256_invariant(df).select("commit", "content_sha256").collect()
    }
    assert len(spark_hashes) == len(pdf)
    for commit, content in zip(pdf["commit"], pdf["content"]):
        assert spark_hashes[commit] == hashlib.sha256(content.encode()).hexdigest()


def test_repo_table_deterministic():
    a = repo_table_pandas(300)
    b = repo_table_pandas(300)
    assert a.equals(b)
    # skew: the top repo should dominate (Zipf)
    counts = a["repo"].value_counts()
    assert counts.iloc[0] > 3 * counts.iloc[len(counts) // 2]


def test_ext_tokens_view(spark, repo_df):
    toks = {r["token"] for r in ext_tokens(repo_df).distinct().collect()}
    assert toks <= {"py", "md", "rs", "js", "ts", "java", "go", "c", "h", "txt", "json", "yml"}
    assert "py" in toks


def test_mg_sketch_empty_input(spark):
    from mgspark.kernel import MGState

    empty = spark.createDataFrame([], "key long")
    state = mg_sketch(empty, "key", 5)
    assert state.to_dict() == {} and state.n == 0 and state.d == 0


def test_mg_sketch_all_invalid_keys(spark):
    df = spark.createDataFrame([(-1,), (-7,)], "key long")
    state = mg_sketch(df, "key", 5)
    assert state.to_dict() == {} and state.n == 0


def test_mg_topk_grouped_dominant_group_exact(spark):
    """A group holding 90% of the rows still comes back exact.  k=6000
    lies above spark.sql.optimizer.windowGroupLimitThreshold (1000), so
    this also covers the plan without a map-side WindowGroupLimit.
    Negative and null integral keys are invalid, as in the MG kernel."""
    skewed = spark.createDataFrame(
        [("big" if i % 10 else "small", i) for i in range(5000)]
        + [("big", -3), ("small", None)],
        "g string, key long",
    )
    result = _grouped_rows(skewed, 6000, "g", "key")
    totals = {}
    for g, _, est in result:
        totals[g] = totals.get(g, 0) + est
    assert totals == {"big": 4500, "small": 500}
    expected = sorted(("big" if i % 10 else "small", str(i), 1) for i in range(5000))
    assert result == expected


def test_mg_topk_grouped_drops_keys_tied_at_cutoff(spark):
    """Keys tied with the (k+1)-th count get est 0 and are dropped, so
    the output depends on neither tie order nor partitioning: with k=3
    and counts 10, 9, 5, 5, 5 (ranks 3-5 tied) only the two keys above
    the cutoff t=5 survive.  A group with <= k keys keeps exact counts."""
    counts = {"a": 10, "b": 9, "c": 5, "d": 5, "e": 5}
    rows = [("tied", tok) for tok, n in counts.items() for _ in range(n)]
    rows += [("small", "x")] * 2 + [("small", "y")]
    df = spark.createDataFrame(rows, "g string, tok string")
    result = _grouped_rows(df.repartition(1), 3, "g", "tok")
    assert result == [("small", "x", 2), ("small", "y", 1), ("tied", "a", 5), ("tied", "b", 4)]
    assert all(est > 0 for _, _, est in result)
    assert result == _grouped_rows(df.repartition(5), 3, "g", "tok")


def test_mg_topk_combiner_resume_from_tokenless_checkpoint(spark, docs, tmp_path, monkeypatch):
    """A checkpoint written by mg_sketch carries no exemplar tokens (and
    shares mg_topk's manifest); a combiner-path resume must still decode
    real tokens, never stringified hash keys, through one decode_keys
    call over only the keys that lack an exemplar."""
    import mgspark.aggregate as agg

    ckpt = str(tmp_path / "cross_ckpt")
    langs = docs.select(F.col("lang").alias("token"))
    state = mg_sketch(encode_tokens(langs, "token"), "key", 64, checkpoint_dir=ckpt, pre_aggregate=False)
    calls = []

    def spy(tokens_df, col, keys, *args, **kwargs):
        calls.append(sorted(keys))
        return decode_keys(tokens_df, col, keys, *args, **kwargs)

    monkeypatch.setattr(agg, "decode_keys", spy)
    resumed = {
        r["token"]: r["est"]
        for r in mg_topk(langs, "token", 64, checkpoint_dir=ckpt, pre_aggregate=True).collect()
    }
    assert calls == [sorted(int(key) for key in state.keys)]
    first = {r["token"]: r["est"] for r in mg_topk(langs, "token", 64, pre_aggregate=False).collect()}
    assert len(calls) == 1, "a fresh build carries exemplars"
    assert resumed == first
    assert all(not t.isdigit() for t in resumed), "must not emit hash-key strings"


@pytest.mark.parametrize("pre_aggregate", [True, False])
def test_mg_topk_orders_by_est_then_token(spark, pre_aggregate):
    """mg_topk's rows come sorted by est descending, then token ascending
    in Spark's UTF-8 byte order, which is code-point order: U+FF5E sorts
    before U+1F600 (in UTF-16 order the surrogate pair would sort first).
    Spark's own orderBy agrees, and .limit(n) keeps the top n."""
    counts = {"b": 3, "\u00e9": 3, "a": 3, "\U0001f600": 2, "\uff5e": 2, "z": 1}
    rows = [(tok,) for tok, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "token string").repartition(3)
    out = mg_topk(df, "token", 8, pre_aggregate=pre_aggregate)
    expected = [("a", 3), ("b", 3), ("\u00e9", 3), ("\uff5e", 2), ("\U0001f600", 2), ("z", 1)]
    assert [tuple(r) for r in out.collect()] == expected
    assert [tuple(r) for r in out.orderBy(F.desc("est"), F.asc("token")).collect()] == expected
    assert [tuple(r) for r in out.limit(4).collect()] == expected[:4]


def test_mg_topk_grouped_decodes_exact_counts(spark):
    """With <= k tokens per group, mg_topk_grouped equals an exact
    groupBy count of the non-null tokens (a null token is skipped, not
    reported as a key), a null group is its own group, and the map-side
    and shuffle plans of sketch_agg_grouped over MG's columns build
    equal states."""
    from mgspark.aggregate import _mg_columns
    from mgspark.sketches.base import sketch_agg_grouped

    rows = (
        [("a", "x")] * 5 + [("a", "y")] * 3 + [("b", "x")] * 2 + [("b", None)] * 4
        + [(None, "z")] * 6 + [(None, "x")]
    )
    df = spark.createDataFrame(rows, "g string, tok string").repartition(3)
    exact = {
        (r["g"], r["tok"]): r["count"]
        for r in df.where(F.col("tok").isNotNull()).groupBy("g", "tok").count().collect()
    }
    got = {
        (r["g"], r["token"]): r["est"]
        for r in mg_topk_grouped(df, "g", "tok", k=4).collect()
    }
    assert got == exact
    assert got[("b", "x")] == 2 and got[(None, "z")] == 6

    counts = encode_tokens(df, "tok").groupBy("g", "key").agg(
        F.count("*").alias("_w"), F.min("tok").alias("_tok")
    )
    sketch = MGSketch(4)

    def states(mode):
        out = {}
        for r in sketch_agg_grouped(
            counts, "g", _mg_columns("key", "_w", "_tok"), sketch, 2, mode=mode
        ).collect():
            state, exemplars = sketch.deserialize(bytes(r["payload"]))
            out[r["g"]] = (state.to_dict(), state.n, state.d, exemplars)
        return out

    mapside = states("mapside")
    assert set(mapside) == {"a", "b", None}
    assert mapside == states("shuffle")


@pytest.mark.parametrize("dtype", ["string", "bigint"])
def test_mg_paths_skip_null_tokens(spark, dtype):
    """One null rule: encode_tokens maps a null of any type to -1, the
    kernel's invalid key, so 3 x "1", 2 x "2" and 5 nulls give exact
    counts 3 and 2 on every MG path — never a null or hash-key heavy
    hitter, and nulls never count toward n."""
    from mgspark.aggregate import mg_sketch_with_tokens

    rows = [("1",)] * 3 + [("2",)] * 2 + [(None,)] * 5
    df = spark.createDataFrame(rows, "tok string").select(F.col("tok").cast(dtype).alias("tok"))
    assert sorted(r["key"] for r in encode_tokens(df, "tok").collect()).count(-1) == 5
    expected = {"1": 3, "2": 2}
    for pre_aggregate in (True, False):
        got = {r["token"]: r["est"] for r in mg_topk(df, "tok", 4, pre_aggregate=pre_aggregate).collect()}
        assert got == expected, pre_aggregate
        state, tokens = mg_sketch_with_tokens(
            encode_tokens(df, "tok"), "key", 4, "tok", pre_aggregate=pre_aggregate
        )
        assert state.n == 5 and sorted(state.counters.tolist()) == [2, 3], pre_aggregate
        assert sorted(tokens.values()) == ["1", "2"], pre_aggregate
    grouped = df.withColumn("g", F.lit("a"))
    assert {(g, tok): est for g, tok, est in _grouped_rows(grouped, 4, "g", "tok")} == {
        ("a", "1"): 3, ("a", "2"): 2
    }


def test_bloom_null_is_never_a_member(spark):
    """bloom_build skips invalid (null) keys and bloom_probe flags a null
    as a non-member, whatever bits the filter has set."""
    from mgspark.sketches import BloomFilter, bloom_build, bloom_probe

    df = spark.createDataFrame([("a",), ("b",), (None,)], "v string")
    sketch, state = bloom_build(df, "v", capacity=100)
    flags = {r["v"]: r["in_bloom"] for r in bloom_probe(df, "v", sketch, state).collect()}
    assert flags == {"a": True, "b": True, None: False}
    full = np.full_like(state, 0xFF)  # every bit set: anything valid is "in"
    assert BloomFilter(capacity=100).contains(full, np.array([-1, 0, 7])).tolist() == [False, True, True]


# (key, token, weight) rows: per-key counts 10, 9, 5, 5, 5, 2, 1, so at
# k=3 three keys tie at the cutoff; tokens alternate "b<key>" / "a<key>"
# so the exemplar must be the min; a null weight counts 0.
_PRUNE_ROWS = (
    [(key, ("b" if i % 2 == 0 else "a") + str(key), i % 2 + 1)
     for key, n in {1: 10, 2: 9, 3: 5, 4: 5, 5: 5, 6: 2, 7: 1}.items() for i in range(n)]
    + [(1, "c1", None), (-3, "neg", 4), (None, "null", 4)]
)


def _exact_prune_oracle(rows, k, weighted):
    """kernel.mg_merge_arrays from an empty sketch over the exact
    per-key counts of the valid keys, and the min token of each kept key."""
    counts, tokens = {}, {}
    for key, tok, weight in rows:
        if key is None or key < 0:
            continue
        counts[key] = counts.get(key, 0) + ((weight or 0) if weighted else 1)
        tokens[key] = min(tokens.get(key, tok), tok)
    keys = np.array(sorted(counts), dtype=np.int64)
    summed = np.array([counts[key] for key in keys.tolist()], dtype=np.int64)
    empty = np.empty(0, dtype=np.int64)
    kept, counters, offset = mg_merge_arrays(empty, empty, keys, summed, k)
    exemplars = {key: tokens[key] for key in kept.tolist()}
    return kept.tolist(), counters.tolist(), int(summed.sum()), int(offset), exemplars


@pytest.mark.parametrize("weighted", [False, True])
def test_combiner_equals_exact_prune_oracle(spark, weighted):
    """The combiner plan's state is mg_merge_arrays(empty, exact counts, k):
    the same keys, counters, n and d = t (the (k+1)-th count), with the
    min token as exemplar.  Covers keys tied at the cutoff (k=3: counts
    5, 5, 5 all drop), <= k keys (k=7: nothing pruned, d = 0), negative
    and null keys (skipped), a weight column with a null weight, and 1
    vs 7 input partitions (identical)."""
    from mgspark.aggregate import mg_sketch_with_tokens

    df = spark.createDataFrame(_PRUNE_ROWS, "key long, tok string, w long")
    weight_col = "w" if weighted else None
    for k in (1, 3, 7, 19):
        keys, counters, n, d, exemplars = _exact_prune_oracle(_PRUNE_ROWS, k, weighted)
        for partitions in (1, 7):
            state, tokens = mg_sketch_with_tokens(
                df.repartition(partitions), "key", k, "tok", weight_col, pre_aggregate=True
            )
            got = (state.keys.tolist(), state.counters.tolist(), state.n, state.d, tokens)
            assert got == (keys, counters, n, d, exemplars), (k, partitions)
    tied = _exact_prune_oracle(_PRUNE_ROWS, 3, weighted)
    assert tied[0] == [1, 2] and tied[3] > 0  # the three keys at the cutoff dropped
    assert _exact_prune_oracle(_PRUNE_ROWS, 7, weighted)[3] == 0


def test_combiner_empty_input(spark):
    """No rows, or only invalid keys: n = 0, d = 0, no counters, no exemplars."""
    from mgspark.aggregate import mg_sketch_with_tokens

    empty = spark.createDataFrame([], "key long, tok string")
    invalid = spark.createDataFrame([(-1, "a"), (None, "b")], "key long, tok string")
    for df in (empty, invalid):
        state, tokens = mg_sketch_with_tokens(df, "key", 4, "tok", pre_aggregate=True)
        assert (state.to_dict(), state.n, state.d, tokens) == ({}, 0, 0, {})


def test_combiner_checkpoint_is_one_partial_row(spark, tmp_path):
    """With checkpoint_dir set the combiner writes its pruned state as
    one partial row, exemplars included, and either plan resumes it."""
    from mgspark.aggregate import mg_sketch_with_tokens

    ckpt = str(tmp_path / "combiner_ckpt")
    df = spark.createDataFrame(_PRUNE_ROWS, "key long, tok string, w long").repartition(3)
    built = mg_sketch_with_tokens(df, "key", 3, "tok", checkpoint_dir=ckpt, pre_aggregate=True)
    rows = spark.read.parquet(ckpt).collect()
    assert len(rows) == 1 and rows[0]["rows"] == 7  # the distinct valid keys
    empty = df.limit(0)
    for pre_aggregate in (True, False):
        state, tokens = mg_sketch_with_tokens(
            empty, "key", 3, "tok", checkpoint_dir=ckpt, pre_aggregate=pre_aggregate
        )
        assert (state.to_dict(), state.n, state.d, tokens) == (
            built[0].to_dict(), built[0].n, built[0].d, built[1]
        )


@pytest.mark.parametrize("pre_aggregate", [True, False])
def test_nonpositive_weight_keys_are_not_counters(spark, tmp_path, pre_aggregate):
    """A key whose weights sum to <= 0 (a zero or null weight) is no
    counter on either plan, built or resumed from its checkpoint; n and
    d are unchanged."""
    df = spark.createDataFrame([(1, 3), (2, 0), (3, None)], "key long, w long")
    ckpt = str(tmp_path / "ckpt")
    built = mg_sketch(df, "key", 4, weight_col="w", checkpoint_dir=ckpt, pre_aggregate=pre_aggregate)
    resumed = mg_sketch(
        df.limit(0), "key", 4, weight_col="w", checkpoint_dir=ckpt, pre_aggregate=pre_aggregate
    )
    for state in (built, resumed):
        assert (state.to_dict(), state.n, state.d) == ({1: 3}, 3, 0)
