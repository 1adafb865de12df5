"""Source dispatch (``load_table``) + CLI regression tests (drop-in
parity pinned against the reference binary)."""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = "/root/repo"


@pytest.fixture()
def stream_file(tmp_path):
    data = [4, 3, 3, 2, 1, 2, -1, 3, 4, 4, 4, 5]
    p = tmp_path / "stream.txt"
    p.write_text("\n".join(str(x) for x in data) + "\n")
    return str(p), data


def _run_cli(args, cwd):
    return subprocess.run(
        [sys.executable, "-m", "mgspark", *args],
        capture_output=True, text=True, cwd=cwd,
        env={"PYTHONPATH": REPO, "PATH": "/usr/bin:/bin"},
    )


def _run_reference(args, cwd):
    return subprocess.run(
        [sys.executable, "/root/reference/pmg.py", *args],
        capture_output=True, text=True, cwd=cwd,
    )


def test_cli_sketch_mode_parity(stream_file, tmp_path):
    path, _ = stream_file
    ours = _run_cli(["3", "1.0", "0.001", path, str(tmp_path / "ours.json")], str(tmp_path))
    theirs = _run_reference(["3", "1.0", "0.001", path, str(tmp_path / "ref.json")], str(tmp_path))
    assert ours.returncode == 0 and theirs.returncode == 0
    # non-private sketch line is deterministic -> byte parity
    assert ours.stdout.splitlines()[0] == theirs.stdout.splitlines()[0]
    assert json.loads((tmp_path / "ours.json").read_text()) == json.loads(
        (tmp_path / "ref.json").read_text()
    )


def test_cli_merge_mode_parity(tmp_path):
    for i, sketch in enumerate(({"1": 1, "2": 2}, {"3": 3, "4": 4, "5": 5}, {"6": 6}), 1):
        (tmp_path / f"s{i}.json").write_text(json.dumps(sketch))
    files = [str(tmp_path / f"s{i}.json") for i in (1, 2, 3)]
    ours = _run_cli(["merge", "3", "5.0", "0.001", *files], str(tmp_path))
    theirs = _run_reference(["merge", "3", "5.0", "0.001", *files], str(tmp_path))
    assert ours.stdout.splitlines()[0] == theirs.stdout.splitlines()[0]
    assert "Merged        : {4: 1, 5: 2, 6: 5}" in ours.stdout


def test_cli_userlevel_mode(stream_file, tmp_path):
    path, _ = stream_file
    out = _run_cli(["userlevel", "3", "20.0", "0.001", "2", path], str(tmp_path))
    assert out.returncode == 0
    assert out.stdout.startswith("Sketch                   :")


def test_cli_usage_on_too_few_args(tmp_path):
    out = _run_cli(["1", "2"], str(tmp_path))
    assert out.returncode == 0
    assert "Usage:" in out.stdout


def test_cli_pure_dp_mode(stream_file, tmp_path):
    path, _ = stream_file
    out = _run_cli(["3", "1.0", "0", "100", path], str(tmp_path))
    assert out.returncode == 0
    lines = out.stdout.splitlines()
    assert lines[0].startswith("Sketch        :")
    assert lines[1].startswith("Private sketch:")


def test_ann_ivf_topk(spark):
    import numpy as np

    from mgspark.pipeline.similarity import ann_ivf_topk, cosine_topk

    rng = np.random.default_rng(42)
    centers = rng.standard_normal((10, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(30):
            v = c + 0.04 * rng.standard_normal(32)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = rows[0][1]
    exact = {r["id"] for r in cosine_topk(df, "embedding", "vec_id", query, 10).collect()}
    approx = {
        r["id"]
        for r in ann_ivf_topk(
            df, "embedding", "vec_id", query, 10, n_centroids=10, n_probe=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall}"


def test_ivf_build_once_reused_across_queries(spark, monkeypatch):
    """ann_ivf_topk must not retrain centroids / reassign vectors per
    query (VERDICT r01 #5): the session cache reuses one IVFIndex for the
    same input, and explicit ivf_build indexes support many queries."""
    import numpy as np

    import mgspark.pipeline.similarity as sim

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in v / np.linalg.norm(v)])
        for i, v in enumerate(rng.standard_normal((200, 16)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    calls = {"n": 0}
    real_centroids = sim.ivf_centroids

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real_centroids(*args, **kwargs)

    monkeypatch.setattr(sim, "ivf_centroids", counting)
    sim.clear_ivf_cache()
    for qi in (0, 1, 2):
        sim.ann_ivf_topk(df, "embedding", "vec_id", rows[qi][1], 5, n_centroids=8).collect()
    assert calls["n"] == 1, f"centroids trained {calls['n']} times for 3 queries"


def test_lsh_build_once_reused_across_queries(spark, monkeypatch):
    """VERDICT r3 task #4: ann_lsh_topk must not recompute the
    bucket-assignment scan per query — the session cache reuses one
    LSHIndex for the same input (bucket assignment runs once for many
    queries), and results match the uncached path."""
    import numpy as np

    import mgspark.pipeline.similarity as sim

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in v / np.linalg.norm(v)])
        for i, v in enumerate(rng.standard_normal((200, 16)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    calls = {"n": 0}
    real_buckets = sim.lsh_bucket_embeddings

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real_buckets(*args, **kwargs)

    monkeypatch.setattr(sim, "lsh_bucket_embeddings", counting)
    sim.clear_index_cache()
    got = []
    for qi in (0, 1, 2, 0):
        got.append(
            {
                r["id"]
                for r in sim.ann_lsh_topk(
                    df, "embedding", "vec_id", rows[qi][1], 5, n_planes=6, multiprobe=2
                ).collect()
            }
        )
    assert calls["n"] == 1, f"buckets assigned {calls['n']} times for 4 queries"
    assert rows[0][0] in got[0] and got[0] == got[3]
    # explicit prebuilt index: same answers, zero extra assignment scans
    idx = sim.lsh_build(df, "embedding", "vec_id", n_planes=6)
    before = calls["n"]
    same = {
        r["id"]
        for r in sim.ann_lsh_topk(
            df, "embedding", "vec_id", rows[0][1], 5, multiprobe=2, index=idx
        ).collect()
    }
    assert same == got[0] and calls["n"] == before  # no per-query scans
    sim.clear_index_cache()


def test_lsh_index_dir_roundtrip(spark, tmp_path):
    """lsh_build(index_dir=...) persists parquet partitioned by bucket +
    plane metadata, reloads without re-assigning, and rebuilds on a
    param mismatch."""
    import numpy as np

    import mgspark.pipeline.similarity as sim

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in v / np.linalg.norm(v)])
        for i, v in enumerate(rng.standard_normal((120, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    d = str(tmp_path / "lshidx")
    idx = sim.lsh_build(df, "embedding", "vec_id", n_planes=5, index_dir=d)
    top = {r["id"] for r in idx.topk(rows[0][1], 5, multiprobe=2).collect()}
    assert rows[0][0] in top
    # reload: same planes, same results, served from parquet
    idx2 = sim.lsh_build(df, "embedding", "vec_id", n_planes=5, index_dir=d)
    assert np.allclose(idx.planes, idx2.planes)
    assert {r["id"] for r in idx2.topk(rows[0][1], 5, multiprobe=2).collect()} == top
    # param mismatch rebuilds with fresh planes
    idx3 = sim.lsh_build(df, "embedding", "vec_id", n_planes=7, index_dir=d)
    assert idx3.planes.shape[0] == 7


def test_embedding_near_dup_lsh_recall(spark):
    """LSH-bucketed embedding near-dup must find planted near-identical
    vectors (cosine >= 0.98) and agree with the exact method on them."""
    import numpy as np

    from mgspark.pipeline.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal((100, 32))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    planted = []
    for i in range(20):  # near-identical copy of vector i
        v = base[i] + 0.01 * rng.standard_normal(32)
        v /= np.linalg.norm(v)
        rows.append((1000 + i, [float(x) for x in v]))
        planted.append((i, 1000 + i))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=0.98, method="lsh"
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=0.98, method="exact"
        ).collect()
    }
    assert lsh <= exact  # verification keeps precision exact
    found = sum(1 for p in planted if p in lsh)
    assert found >= 18, f"LSH near-dup recall {found}/20"


def test_embedding_near_dup_boilerplate_capped(spark):
    """Identical embeddings repeated 500x must not go quadratic: the
    oversized bucket is dropped by max_bucket."""
    import numpy as np

    from mgspark.pipeline.similarity import embedding_near_dup_pairs

    v = (np.arange(16) / 16.0).tolist()
    rows = [(i, v) for i in range(500)]
    # planted pair far from the boilerplate cluster (different buckets)
    w = [1.0 if i % 2 == 0 else -1.0 for i in range(16)]
    rows += [(9000, w), (9001, list(w))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(df, "embedding", "vec_id", threshold=0.99, method="lsh")
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (9000, 9001) in found
    assert not any(a < 500 and b < 500 for a, b in found)


def test_ivf_index_dir_roundtrip(spark, tmp_path):
    """index_dir persists the partitioned index + centroids; a rebuild
    from disk answers queries without touching the base table."""
    import numpy as np

    from mgspark.pipeline.similarity import cosine_topk, ivf_build

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in v / np.linalg.norm(v)])
        for i, v in enumerate(rng.standard_normal((300, 16)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "ivf")
    ivf_build(df, "embedding", "vec_id", n_centroids=8, index_dir=idx_dir)
    # reopen from disk; base table deliberately not passed
    reopened = ivf_build(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        "embedding", "vec_id", n_centroids=8, index_dir=idx_dir,
    )
    got = {r["id"] for r in reopened.topk(rows[0][1], k=5, n_probe=8).collect()}
    exact = {r["id"] for r in cosine_topk(df, "embedding", "vec_id", rows[0][1], 5).collect()}
    assert got == exact  # n_probe = n_centroids -> exhaustive, must match exact


def test_ivf_cache_evicts_oldest_first(spark, monkeypatch):
    """The session cache is FIFO: beyond the cap the OLDEST index is
    evicted and unpersisted, never the newest (VERDICT r02 #5)."""
    import numpy as np

    import mgspark.pipeline.similarity as sim

    rng = np.random.default_rng(5)
    dfs = [
        spark.createDataFrame(
            [
                (i, [float(x) for x in v / np.linalg.norm(v)])
                for i, v in enumerate(rng.standard_normal((40, 8)))
            ],
            "vec_id long, embedding array<float>",
        )
        for _ in range(3)
    ]
    monkeypatch.setattr(sim, "_INDEX_CACHE_MAX", 2)
    sim.clear_ivf_cache()
    q = dfs[0].first()["embedding"]
    indexes = []
    for df in dfs:
        sim.ann_ivf_topk(df, "embedding", "vec_id", q, 3, n_centroids=4).collect()
        indexes.append(list(sim._INDEX_CACHE.values())[-1])
    assert len(sim._INDEX_CACHE) == 2
    cached = set(map(id, sim._INDEX_CACHE.values()))
    assert id(indexes[0]) not in cached, "oldest index must be evicted"
    assert id(indexes[1]) in cached and id(indexes[2]) in cached
    assert not indexes[0].indexed.is_cached, "evicted index must be unpersisted"
    sim.clear_ivf_cache()


def test_ivf_index_dir_param_mismatch_rebuilds(spark, tmp_path):
    """Reopening an index_dir with different build params must rebuild,
    not silently serve the stale layout."""
    import json
    import os

    import numpy as np

    from mgspark.pipeline.similarity import ivf_build

    rng = np.random.default_rng(13)
    rows = [
        (i, [float(x) for x in v / np.linalg.norm(v)])
        for i, v in enumerate(rng.standard_normal((120, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "ivf_params")
    ivf_build(df, "embedding", "vec_id", n_centroids=4, index_dir=idx_dir)
    with open(os.path.join(idx_dir, "_centroids.json"), encoding="utf8") as f:
        assert json.load(f)["params"]["n_centroids"] == 4
    rebuilt = ivf_build(df, "embedding", "vec_id", n_centroids=8, index_dir=idx_dir)
    assert len(rebuilt.centroids) == 8
    with open(os.path.join(idx_dir, "_centroids.json"), encoding="utf8") as f:
        assert json.load(f)["params"]["n_centroids"] == 8


def test_spark_cli_table_source(spark, capsys):
    """`table:NAME` reads the sketch input from the session catalog."""
    from mgspark.cli import spark_sketch

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").createOrReplaceTempView(
        "cli_docs"
    )
    spark_sketch(["mgspark", "spark", "5", "2.0", "0.001", "table:cli_docs", "lang"])
    out = capsys.readouterr().out
    assert "Sketch        :" in out and "N, d          : 500" in out


def test_spark_cli_pure_dp_auto_universe(spark, capsys):
    """Pure-DP spark mode with `auto` derives a dictionary universe and
    releases a NON-empty sketch whose keys decode to column values
    (VERDICT r02 #2: the old 2^62 default made every release silently
    empty).  eps=5, U=6, counts ~100 -> threshold 1, so suppression of
    all keys has negligible probability."""
    import ast

    from mgspark.cli import spark_sketch

    spark_sketch(
        ["mgspark", "spark", "3", "5.0", "0",
         "auto", "/root/testdata/sf0.001/documents.parquet", "lang"]
    )
    out = capsys.readouterr().out
    private_line = [l for l in out.splitlines() if l.startswith("Private sketch:")][0]
    private = ast.literal_eval(private_line.split(":", 1)[1].strip())
    assert private, "pure-DP release must not be empty at these counts"
    langs = {
        r["lang"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("lang").distinct().collect()
    }
    for key in private:
        assert key in langs or (isinstance(key, str) and key.startswith("u")), key


def test_spark_cli_pure_dp_explicit_universe_rejects_strings(spark):
    """An explicit integer universe over a hashed (string) column is a
    semantic error — the hash domain breaks [0, U)."""
    import pytest as _pytest

    from mgspark.cli import spark_sketch

    with _pytest.raises(ValueError, match="auto"):
        spark_sketch(
            ["mgspark", "spark", "3", "5.0", "0",
             "100", "/root/testdata/sf0.001/documents.parquet", "lang"]
        )


def test_spark_cli_pure_dp_explicit_universe_range_checked(spark, tmp_path):
    """Integral values outside [0, U) must raise — out-of-range keys
    silently void the epsilon-DP guarantee."""
    import pytest as _pytest

    from mgspark.cli import spark_sketch

    path = str(tmp_path / "ints.parquet")
    spark.createDataFrame([(10**9,), (5,)], "v long").write.parquet(path)
    with _pytest.raises(ValueError, match="outside the declared universe"):
        spark_sketch(["mgspark", "spark", "3", "5.0", "0", "100", path, "v"])


def test_dictionary_encode_distributed_dense_sorted_ids(spark):
    """Distributed dictionary encoding: ids are exactly the global sort
    rank of the distinct values — dense [0, U), deterministic regardless
    of partitioning — U matches COUNT(DISTINCT), nulls are skipped, and
    decode_dictionary_keys returns only the asked-for keys."""
    from mgspark.aggregate import (
        decode_dictionary_keys,
        dictionary_encode_distributed,
    )

    vals = ["m", "a", "z", "a", None, "k", "m", "q"]
    df = spark.createDataFrame([(v,) for v in vals], "v string").repartition(5)
    encoded, dict_df, u = dictionary_encode_distributed(df, "v", num_partitions=3)
    assert u == 5  # a k m q z
    expected_rank = {v: i for i, v in enumerate(sorted({v for v in vals if v}))}
    got = {r["v"]: r["key"] for r in dict_df.collect()}
    assert got == expected_rank
    enc_rows = [(r["v"], r["key"]) for r in encoded.collect()]
    assert len(enc_rows) == 7  # null row dropped
    assert all(expected_rank[v] == k for v, k in enc_rows)
    assert decode_dictionary_keys(dict_df, [0, 4]) == {0: "a", 4: "z"}
    assert decode_dictionary_keys(dict_df, []) == {}


def test_dictionary_encode_distributed_preexisting_key_column(spark):
    """Same collision contract as dictionary_encode: an input 'key'
    column is replaced by the dense id, never ambiguous."""
    from mgspark.aggregate import dictionary_encode_distributed

    df = spark.createDataFrame([("b", 9), ("a", 8)], "v string, key int")
    encoded, dict_df, u = dictionary_encode_distributed(df, "v")
    assert u == 2 and encoded.columns.count("key") == 1
    assert sorted(r["key"] for r in encoded.select("key").collect()) == [0, 1]


def test_spark_cli_pure_dp_million_distinct_distributed_universe(
    spark, tmp_path, monkeypatch, capsys
):
    """VERDICT r3 task #6: pure-DP `auto` must work on a 1M-distinct
    column WITHOUT a driver-side dictionary.  The driver encoding is
    poisoned (any call raises as if over its cap), forcing the
    distributed path; the release must still decode its keys correctly
    and derive U from the distributed count."""
    import mgspark.aggregate as agg
    from mgspark.cli import spark_sketch

    def over_cap(*a, **k):
        raise ValueError(
            "poisoned: too many distinct values — driver-side dictionary "
            "forbidden in this test"
        )

    monkeypatch.setattr(agg, "dictionary_encode", over_cap)

    path = str(tmp_path / "hi_card.parquet")
    base = spark.range(1_000_000).select(F.col("id").cast("long").alias("v"))
    heavy = spark.range(400_000).select(F.lit(424242).cast("long").alias("v"))
    base.unionByName(heavy).write.parquet(path)

    spark_sketch(["mgspark", "spark", "8", "50.0", "0", "auto", path, "v"])
    out = capsys.readouterr().out
    lines = {
        line.split(":", 1)[0].strip(): line.split(":", 1)[1].strip()
        for line in out.splitlines()
        if ":" in line
    }
    # the heavy hitter survives the sketch and decodes to its value
    # (dense id of 424242 among 0..999999 is 424242 itself)
    sketch = eval(lines["Sketch"])  # printed dict of decoded keys
    assert 424242 in sketch and sketch[424242] > 0
    n, d = (int(x) for x in lines["N, d"].split())
    assert n == 1_400_000
    private = eval(lines["Private sketch"])
    # pure DP CAN invent keys (binomial rejection-sampling upgrades draw
    # fresh uniform universe keys) — every released key must still decode
    # through the distributed dictionary: dense ids < 1M map back to the
    # original values (identity here), only ids beyond the dictionary
    # (universe clamp head-room) print as u<id>
    for key in private:
        if isinstance(key, str):
            assert key.startswith("u"), key
        else:
            assert 0 <= key < 1_000_000, key


def test_dictionary_encode_null_safe_and_bounded(spark):
    """dictionary_encode skips nulls and raises past max_distinct."""
    import pytest as _pytest

    from mgspark.aggregate import dictionary_encode

    df = spark.createDataFrame(
        [("a",), ("b",), (None,), ("a",)], "v string"
    )
    encoded, inverse, size = dictionary_encode(df, "v")
    assert size == 2 and set(inverse.values()) == {"a", "b"}
    keys = [r["key"] for r in encoded.select("key").collect()]
    assert len(keys) == 3  # the null row is dropped
    assert set(keys) <= {0, 1}
    with _pytest.raises(ValueError, match="distinct"):
        dictionary_encode(df, "v", max_distinct=1)


def test_dictionary_encode_preexisting_key_column(spark):
    """An input 'key' column must not make the dictionary join ambiguous
    (ADVICE r3): the returned frame carries exactly one 'key' column —
    the dictionary id — and encoded.select('key') works."""
    from mgspark.aggregate import dictionary_encode

    df = spark.createDataFrame(
        [("a", 99), ("b", 98), ("a", 97)], "v string, key int"
    )
    encoded, inverse, size = dictionary_encode(df, "v")
    assert size == 2 and encoded.columns.count("key") == 1
    keys = sorted(r["key"] for r in encoded.select("key").collect())
    assert keys == [0, 0, 1]
    # encoding the 'key' column itself also works
    encoded2, inverse2, size2 = dictionary_encode(df, "key")
    assert size2 == 3 and encoded2.columns.count("key") == 1
    assert sorted(inverse2.values()) == [97, 98, 99]
    assert sorted(r["key"] for r in encoded2.select("key").collect()) == [0, 1, 2]


def test_embedding_near_dup_zero_vector_not_released(spark):
    """Zero embeddings must not pass the cosine threshold via NaN (Spark
    orders NaN above every number)."""
    from mgspark.pipeline.similarity import embedding_near_dup_pairs

    rows = [(0, [0.0] * 8), (1, [1.0] * 8), (2, [1.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for method in ("exact", "lsh"):
        found = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                df, "embedding", "vec_id", threshold=0.9, method=method
            ).collect()
        }
        assert found == {(1, 2)}, f"{method}: {found}"


def test_load_table_dispatch(spark, tmp_path):
    """load_table: parquet path, table:NAME, column pruning, option guards."""
    import pytest as _pytest

    from mgspark.sources import load_table

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [("r1", "a.py", "en"), ("r2", "b.py", "fr")],
        "repo string, path string, lang string",
    ).write.parquet(p)

    df = load_table(spark, p)
    assert df.count() == 2
    pruned = load_table(spark, p, columns=["lang"])
    assert pruned.columns == ["lang"]

    spark.read.parquet(p).createOrReplaceTempView("load_table_view")
    assert load_table(spark, "table:load_table_view").count() == 2

    with _pytest.raises(ValueError, match="at most one"):
        load_table(spark, p, snapshot_id=1, as_of_timestamp=1)
    with _pytest.raises(ValueError, match="time-travel"):
        load_table(spark, p, snapshot_id=1)


def test_load_table_iceberg_missing_runtime(spark):
    """Without the iceberg-spark-runtime jar the iceberg: URI must fail
    with the spark-submit recipe, not a bare class-not-found."""
    import pytest as _pytest

    from mgspark.sources import load_table

    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        load_table(spark, "iceberg:cat.db.repos", snapshot_id=42)


def test_cli_spark_pure_dp_missing_universe_is_diagnostic():
    """The old 7-arg pure-DP spark form (no universe argument) must raise
    a usage ValueError, not an IndexError traceback."""
    import pytest as _pytest

    from mgspark.cli import spark_sketch

    with _pytest.raises(ValueError, match="universe"):
        spark_sketch(["mgspark", "spark", "10", "1.0", "0", "data.parquet", "tok"])
    with _pytest.raises(ValueError, match="column"):
        spark_sketch(["mgspark", "spark", "10", "1.0", "0.001", "data.parquet"])


def test_ann_indexes_empty_corpus_and_dim_mismatch(spark):
    """Empty-corpus LSH/IVF indexes answer queries with zero rows
    instead of a numpy matmul shape error; a real index rejects a
    wrong-dimension query with a clear ValueError."""
    import pytest as _pytest

    import mgspark.pipeline.similarity as sim

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    lidx = sim.lsh_build(empty, "embedding", "vec_id", n_planes=4)
    assert lidx.topk([0.1] * 8, 3).count() == 0
    iidx = sim.ivf_build(empty, "embedding", "vec_id", n_centroids=4)
    assert iidx.topk([0.1] * 8, 3).count() == 0
    assert sim.ann_lsh_topk(empty, "embedding", "vec_id", [0.1] * 8, 3).count() == 0
    assert sim.ann_ivf_topk(empty, "embedding", "vec_id", [0.1] * 8, 3).count() == 0
    rows = [(i, [float(i), 1.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = sim.lsh_build(emb, "embedding", "vec_id", n_planes=4)
    with _pytest.raises(ValueError, match="dimension"):
        idx.topk([0.1] * 8, 3)
    sim.clear_index_cache()
