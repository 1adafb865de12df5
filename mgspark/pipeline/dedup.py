"""Deduplication operators for document tables.

Exact (hash groupBy), MinHash+LSH (shingle -> signature -> band ->
bucket-join), SimHash (hamming buckets), and n-gram Jaccard.  All
signature computation is vectorized numpy inside ``mapInPandas``; all
candidate generation is expressed as DataFrame joins/groupBys so Catalyst
handles shuffle planning, and the LSH band join keeps the candidate set
linear-ish instead of the quadratic all-pairs join.

Scale notes: the only shuffles are (a) groupBy(content hash) for exact
dedup — combiner-friendly, (b) the band-bucket exchange for LSH — keys
are (band, band_hash), high cardinality, no skew beyond true near-dup
clusters (bucket size capped).  All-pairs verification only ever runs on
LSH/bucket candidates, never on the full table.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from mgspark.session import local_frame
from mgspark.sketches.base import splitmix64

__all__ = [
    "exact_duplicate_groups",
    "dedup_exact",
    "dedup_incremental",
    "minhash_incremental_pairs",
    "shingle_relation",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "minhash_dedup_pairs",
    "simhash_fingerprints",
    "simhash_near_pairs",
    "ngram_jaccard_pairs",
    "connected_components",
    "near_dup_components",
    "dedup_near",
]

MERSENNE = (1 << 61) - 1


def exact_duplicate_groups(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical documents: (content_sha256, dup_count,
    keep_id) for groups with >1 member.  One combiner-friendly shuffle."""
    return (
        df.select(F.sha2(F.col(col), 256).alias("content_sha256"), F.col(id_col))
        .groupBy("content_sha256")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit population count (SWAR); numpy < 2 has no
    ``bitwise_count``."""
    x = x.astype(np.uint64)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def dedup_exact(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (the min id) per distinct value of ``col``."""
    keep = (
        df.select(F.sha2(F.col(col), 256).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "leftsemi")


def dedup_incremental(
    batch: DataFrame, corpus: DataFrame, col: str, id_col: str
) -> DataFrame:
    """Incremental exact dedup: keep the ``batch`` rows whose ``col``
    value is absent from ``corpus`` AND not duplicated within the batch
    (min id wins, matching :func:`dedup_exact`).

    The batch-vs-history shape every rolling ingestion pipeline runs
    (e.g. a daily crawl snapshot against the already-deduped corpus):
    the historical corpus is never rewritten — only its content hashes
    are read.  At 100 TB the corpus side is projected to a 32-byte
    hash per row before the exchange (no text moves), the anti-join
    shuffles hash keys only, and nothing is collected to the driver.
    No ``distinct()`` on the corpus side: an anti-join tests existence,
    so pre-deduplicating the right side would add a shuffle for zero
    semantic gain.
    """
    batch_h = batch.select(
        F.col(id_col), F.sha2(F.col(col), 256).alias("_h")
    )
    corpus_h = corpus.select(F.sha2(F.col(col), 256).alias("_h"))
    keep = (
        batch_h.join(corpus_h, "_h", "left_anti")
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    return batch.join(keep, id_col, "leftsemi")


def minhash_incremental_pairs(
    batch: DataFrame,
    corpus: DataFrame | None,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int | None = None,
    shingle_size: int = 5,
    max_bucket: int = 1024,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN a new batch and an existing corpus:
    (batch_id, corpus_id, est_jaccard >= threshold).

    The incremental twin of :func:`minhash_dedup_pairs`: both sides are
    signed with the same seeded hash family, banded identically, and
    candidates come from an equi-join of batch bands against corpus
    bands — so candidates are exactly the cross-side bucket collisions,
    with no within-side pair expansion at all (within-batch dedup is a
    separate, far smaller :func:`minhash_dedup_pairs` run).

    **The daily-ingestion loop must pass ``corpus_sig``** — the persisted
    output of :func:`minhash_signatures` (schema ``(id, sig)``) from the
    previous run, built with the SAME ``num_hashes``/``shingle_size``/
    seed.  With it, the corpus text column is never read: only the new
    batch is shingled and signed, and the loop appends the batch's
    signatures to the signature table afterwards::

        corpus_sig = spark.read.parquet(sig_path)          # previous runs
        pairs = minhash_incremental_pairs(batch, None, "text", "id",
                                          corpus_sig=corpus_sig)
        batch_sig = minhash_signatures(batch, "text", "id")
        batch_sig.write.mode("append").parquet(sig_path)   # for tomorrow

    Passing raw ``corpus`` text instead re-signs the ENTIRE corpus on
    every call — a full shingle+sign scan per increment, which at 100 TB
    defeats the point of incrementality; it is kept for one-shot use.

    Scale shape: one shingling pass for the batch (plus one for the
    corpus only in the one-shot mode; signatures persisted — the banding
    and the verification join both read them), one exchange on
    (band, bucket) for the candidate join, and a broadcast anti-join
    that drops corpus buckets holding more than ``max_bucket`` ids
    (boilerplate content would otherwise multiply every colliding batch
    row by the bucket size; the hot-bucket set itself is tiny, so it
    broadcasts — the same pattern as the hot-gram blacklist in
    :func:`ngram_jaccard_pairs`).
    """
    from mgspark.cacheutil import transient_persist

    if num_bands is None:
        num_bands = pick_num_bands(num_hashes, threshold)
    rows_per_band = max(1, num_hashes // num_bands)
    bsig = transient_persist(
        minhash_signatures(batch, text_col, id_col, num_hashes, shingle_size)
    )
    if corpus_sig is not None:
        missing = {"id", "sig"} - set(corpus_sig.columns)
        if missing:
            raise ValueError(
                f"corpus_sig must have columns (id, sig); missing {sorted(missing)}"
            )
        csig = transient_persist(corpus_sig.select("id", "sig"))
    elif corpus is not None:
        csig = transient_persist(
            minhash_signatures(corpus, text_col, id_col, num_hashes, shingle_size)
        )
    else:
        raise ValueError("pass either corpus (one-shot) or corpus_sig (incremental)")
    # ONE materialization job for BOTH persisted sides (the two sign
    # passes fill the cluster concurrently instead of running as two
    # sequential waves), which doubles as the corpus-side geometry
    # check: a table built with a different num_hashes would band with
    # the wrong geometry and null out every zip_with estimate — ALL
    # cross-side near-dups silently missed, the unsafe direction.  The
    # aggregate covers EVERY row (a mixed-build table cannot hide
    # behind a valid first row): min == max == num_hashes.
    geom = {
        row["_side"]: row
        for row in (
            bsig.select(F.lit("b").alias("_side"), F.size("sig").alias("_len"))
            .unionByName(
                csig.select(F.lit("c").alias("_side"), F.size("sig").alias("_len"))
            )
            .groupBy("_side")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min("_len").alias("_lo"),
                F.max("_len").alias("_hi"),
            )
            .collect()
        )
    }
    crow = geom.get("c")
    if (
        corpus_sig is not None
        and crow is not None
        and crow["_n"]
        and (crow["_lo"] != num_hashes or crow["_hi"] != num_hashes)
    ):
        raise ValueError(
            f"corpus_sig signatures have length(s) "
            f"[{crow['_lo']}, {crow['_hi']}] but num_hashes="
            f"{num_hashes} — rebuild the signature table or pass "
            "the num_hashes it was built with"
        )
    bands_b = _band_relation(bsig, num_bands, rows_per_band)
    bands_c = _band_relation(csig, num_bands, rows_per_band)
    hot = (
        bands_c.groupBy("band", "bucket")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > max_bucket)
        .select("band", "bucket")
    )
    bands_c = bands_c.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    candidates = (
        bands_b.select("band", "bucket", F.col("id").alias("batch_id"))
        .join(
            bands_c.select("band", "bucket", F.col("id").alias("corpus_id")),
            ["band", "bucket"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    joined = candidates.join(
        bsig.select(F.col("id").alias("batch_id"), F.col("sig").alias("sig_a")),
        "batch_id",
    ).join(
        csig.select(F.col("id").alias("corpus_id"), F.col("sig").alias("sig_b")),
        "corpus_id",
    )
    est = joined.withColumn(
        "est_jaccard",
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
            " 0, (acc, v) -> acc + v) / size(sig_a)"
        ).cast("double"),
    )
    return est.where(F.col("est_jaccard") >= threshold).select(
        "batch_id", "corpus_id", "est_jaccard"
    )


def _widen_for_python_stage(df: DataFrame) -> DataFrame:
    """Spread a narrow input over the cluster before a CPU-heavy Python
    stage.  mapInPandas parallelism equals the input partition count;
    a small parquet input (one split) would run the whole shingle/sign
    pass on ONE core while 31 idle.  Gated so a real at-scale input
    (splits >= cores) never pays the shuffle — the same pattern as
    pipeline/decontam's ``widen``.  Round-robin repartition is safe
    under retries (sort-before-repartition is on by default) and the
    per-row outputs are deterministic, so results are unchanged."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shingle_hashes_batch(texts: pd.Series, size: int) -> list[np.ndarray]:
    # PYTHONHASHSEED is not fixed across executors; use a deterministic
    # numpy path instead of builtin hash: encode shingles via their bytes.
    out = []
    for text in texts:
        text = text or ""
        n = len(text)
        if n == 0:
            out.append(np.empty(0, dtype=np.int64))
            continue
        if n < size:
            window = np.frombuffer(text.encode("utf-8", "ignore")[:8].ljust(8, b"\0"), dtype="<u8")
            out.append(window.astype(np.int64) & np.int64(0x7FFFFFFFFFFFFFFF))
            continue
        b = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
        # Byte-level rolling shingles (utf-8 safe enough for dedup):
        # stack `size` shifted views and mix columns into one int64.
        m = len(b) - size + 1
        acc = np.zeros(m, dtype=np.uint64)
        for j in range(size):
            acc = acc * np.uint64(1099511628211) + b[j : j + m]
        h = splitmix64(acc.astype(np.int64)).astype(np.int64) & np.int64(
            0x7FFFFFFFFFFFFFFF
        )
        out.append(np.unique(h))
    return out


def shingle_relation(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int = 5
) -> DataFrame:
    """Distributed (id, shingle) relation — one row per DISTINCT byte
    shingle hash per document, the exact shingle universe MinHash
    signatures are built over.  Lets exact Jaccard be computed with
    joins + aggregates (sizes via groupBy, intersections via a
    shingle-equality join) instead of collecting texts anywhere."""
    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, False),
            StructField("shingle", LongType(), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shingles = [], []
            for doc_id, hashes in zip(
                pdf["_id"], _shingle_hashes_batch(pdf["_text"], shingle_size)
            ):
                ids.extend([doc_id] * len(hashes))
                shingles.extend(hashes.tolist())
            yield pd.DataFrame({"id": ids, "shingle": shingles})

    projected = _widen_for_python_stage(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    )
    # _shingle_hashes_batch already dedups within a doc (np.unique),
    # except the short-text fallback which emits one hash anyway.
    return projected.mapInPandas(compute, schema)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    shingle_size: int = 5,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures: (id, sig array<long>[num_hashes]).

    Universal hashing ``(a*x + b) mod p`` over the Mersenne prime 2^61-1
    with deterministic (seeded) coefficients — signatures are identical
    across partitions/executors, which LSH banding requires.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE, size=num_hashes, dtype=np.int64)

    # The id is a passthrough: keep its native type (string/uuid ids work;
    # a long cast would null them out and silently skip every pair).
    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, False),
            StructField("sig", ArrayType(LongType(), False), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Doc-major iteration: the 128 x n_shingles work matrix for one
        # document stays L2-resident; a hash-major pass over all docs'
        # concatenated shingles was measured 2x slower here (DRAM-bound).
        au = a.astype(np.uint64)[:, None]
        bu = b.astype(np.uint64)[:, None]
        p = np.uint64(MERSENNE)
        for pdf in batches:
            ids = pdf["_id"]
            sigs = []
            for hashes in _shingle_hashes_batch(pdf["_text"], shingle_size):
                if len(hashes) == 0:
                    sigs.append(np.full(len(a), MERSENNE, dtype=np.int64).tolist())
                    continue
                x = hashes.astype(np.uint64)[None, :]
                # (a*x + b) mod p, computed in uint64 with p = 2^61-1 so the
                # product is reduced chunk-wise to avoid overflow.
                prod = (au * (x % p)) % p
                vals = (prod + bu) % p
                sigs.append(vals.min(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame({"id": ids, "sig": sigs})

    projected = _widen_for_python_stage(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    )
    return projected.mapInPandas(compute, schema)


def _band_relation(
    sig_df: DataFrame, num_bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) — each signature split into ``num_bands``
    bands, each band xxhash64-ed to a bucket key.  Pure JVM expressions
    (slice + xxhash64 under whole-stage codegen), no shuffle."""
    return sig_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice("sig", i * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for i in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sig_df: DataFrame, num_bands: int = 32, max_bucket: int = 64,
    sig_len: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from banded signatures.

    Each signature splits into ``num_bands`` bands; a band's values hash
    to a bucket key; ids sharing any bucket become candidates.  Buckets
    larger than ``max_bucket`` are dropped (degenerate content — e.g.
    boilerplate — would otherwise go quadratic); the cap is logged by the
    caller.  One exchange on (band, bucket_hash).

    Pass ``sig_len`` (the signature length, i.e. ``num_hashes``) when
    known: probing it with ``first()`` costs an extra job over the whole
    signature computation.
    """
    id_type = sig_df.schema["id"].dataType
    pair_schema = StructType(
        [StructField("id_a", id_type, False), StructField("id_b", id_type, False)]
    )
    if sig_len is None:
        sig_len_row = sig_df.select(F.size("sig").alias("s")).first()
        if sig_len_row is None:
            return local_frame(sig_df.sparkSession, [], pair_schema)
        sig_len = sig_len_row["s"]
    rows_per_band = max(1, sig_len // num_bands)

    bands = _band_relation(sig_df, num_bands, rows_per_band)

    buckets = (
        bands.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a, out_b = [], []
            for ids in pdf["ids"]:
                ids = sorted(set(ids))
                for i in range(len(ids)):
                    for j in range(i + 1, len(ids)):
                        out_a.append(ids[i])
                        out_b.append(ids[j])
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return buckets.mapInPandas(pairs, pair_schema).distinct()


def pick_num_bands(num_hashes: int, threshold: float, margin: float = 0.1) -> int:
    """Bands/rows split matched to the query threshold.

    The banding S-curve crosses ~(1/b)^(1/r) with b bands of r rows.  Two
    failure modes: a crossover far *below* the threshold floods the
    verifier with sub-threshold candidates (r=4, b=32 crosses at 0.42 —
    near-random text collides), while a crossover *at* the threshold
    costs real recall for pairs sitting on it (r=8, b=16 crosses at 0.71:
    an at-threshold j=0.7 pair collides with only ~61% probability).  So
    pick the longest band (largest r, fewest candidates) whose crossover
    sits at least ``margin`` BELOW the threshold; candidates are verified
    exactly afterwards, so precision is unaffected.

    Quantitative at-threshold recall for the defaults (num_hashes=128,
    threshold=0.7, margin=0.1): picks r=5, b=25 (crossover 0.525) ->
    P(collide | j=0.7) = 1-(1-0.7^5)^25 ~ 0.99, vs ~0.61 for the
    at-threshold split.  Callers trading recall for candidate volume can
    pass ``num_bands`` explicitly instead.
    """
    target = threshold - margin
    # Find the longest band (largest r) whose crossover is <= target,
    # then take ALL the bands that row count admits (b = num_hashes //
    # r): more bands at the same r strictly raises recall and uses
    # hashes that would otherwise be computed but never banded
    # (b=22 @ r=5 leaves 18 of 128 signature values unused; b=25 uses
    # 125).  Crossover is evaluated with the EFFECTIVE rows-per-band
    # the banding code will use (sig_len // num_bands).
    for b in range(2, num_hashes + 1):
        r = num_hashes // b
        if r >= 1 and (1.0 / b) ** (1.0 / r) <= target:
            return num_hashes // r
    return num_hashes  # r=1 fallback: crossover 1/num_hashes


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int | None = None,
    shingle_size: int = 5,
) -> DataFrame:
    """Near-duplicate pairs with estimated Jaccard >= threshold.

    Full LSH pipeline: signatures -> band buckets -> candidate pairs ->
    signature-agreement verification (est_jaccard = mean(sig_a == sig_b)).
    Output: (id_a, id_b, est_jaccard double).  ``num_bands`` defaults to
    :func:`pick_num_bands` (threshold-matched S-curve); pass it explicitly
    to trade recall margin against candidate volume.

    The signature DataFrame feeds three consumers (banding + both sides
    of the verification join), so it is persisted — the shingling pass is
    the dominant cost and must run once, not three times.  At 100 TB the
    persisted signatures are num_hashes*8 bytes/doc, orders of magnitude
    smaller than the text.

    Deliberately NOT the canonical-bucket fused plan that
    :func:`simhash_near_pairs` uses: canonical emission requires both
    members' full signatures inside every band bucket, and carrying
    num_hashes*8 bytes through all ~25 band rows multiplies the bucket
    shuffle ~60x (vs the 8-byte band hash).  Measured same-window A/B at
    sf0.1: fused 7.9-17.4 s vs this plan's 4.8-9.0 s — the distinct +
    two hash joins are cheaper than the fattened shuffle.  The trick
    pays only when the per-member payload is tiny (SimHash: one int64).
    """
    from mgspark.cacheutil import transient_persist

    if num_bands is None:
        num_bands = pick_num_bands(num_hashes, threshold)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_size)
    sigs = transient_persist(sigs)
    # Materialize the cache eagerly: the three consumers below otherwise
    # run as concurrent stages of one job and each recomputes the
    # shingling pass before any cache block lands.
    sigs.count()
    candidates = lsh_candidate_pairs(sigs, num_bands, sig_len=num_hashes)
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    est = joined.withColumn(
        "est_jaccard",
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
            " 0, (acc, v) -> acc + v) / size(sig_a)"
        ).cast("double"),
    )
    return est.where(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard"
    )


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document over whitespace tokens: (id, simhash).

    The id passes through with its native type (string/uuid ids work)."""
    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, False),
            StructField("simhash", LongType(), False),
        ]
    )

    bit_positions = np.arange(64, dtype=np.uint64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["_id"]
            fps = np.zeros(len(ids), dtype=np.int64)
            for i, text in enumerate(pdf["_text"]):
                tokens = (text or "").split()
                if not tokens:
                    continue
                uniq, counts = np.unique(np.asarray(tokens, dtype=object), return_counts=True)
                hashes = splitmix64(
                    np.fromiter(
                        (
                            int.from_bytes(
                                t.encode("utf-8", "ignore")[:8].ljust(8, b"\0"), "little"
                            )
                            & 0x7FFFFFFFFFFFFFFF
                            for t in uniq
                        ),
                        dtype=np.int64,
                        count=len(uniq),
                    )
                )
                bits = ((hashes[:, None] >> bit_positions) & np.uint64(1)).astype(
                    np.int64
                )
                votes = ((2 * bits - 1) * counts[:, None]).sum(axis=0)
                fp = (votes > 0).astype(np.uint64) << bit_positions
                fps[i] = np.int64(fp.sum(dtype=np.uint64).astype(np.int64))
            yield pd.DataFrame({"id": ids, "simhash": fps})

    projected = _widen_for_python_stage(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    )
    return projected.mapInPandas(compute, schema)


def _chunk_layout(n_chunks: int) -> tuple[list, list, list]:
    """(widths, offsets, masks) of ``n_chunks`` contiguous disjoint
    chunks of a 64-bit value; the first (64 % n_chunks) chunks are one
    bit wider.  Masks are two's-complement longs (width 64 -> -1)."""
    if not 1 <= n_chunks <= 64:
        raise ValueError(f"n_chunks must be in [1, 64], got {n_chunks}")
    base, rem = divmod(64, n_chunks)
    widths = [base + 1 if i < rem else base for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    # width 64 (n_chunks=1): (1 << 64) - 1 overflows a JVM long; the
    # all-ones mask is just -1 in two's complement.
    masks = [-1 if w >= 64 else (1 << w) - 1 for w in widths]
    return widths, offsets, masks


def _chunk_exprs(n_chunks: int) -> list:
    """Columns extracting ``n_chunks`` contiguous disjoint chunks of the
    64-bit ``simhash`` column."""
    _, offsets, masks = _chunk_layout(n_chunks)
    return [
        F.shiftrightunsigned("simhash", offsets[i]).bitwiseAND(F.lit(masks[i]))
        for i in range(n_chunks)
    ]


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    max_bucket: int = 64, n_chunks: int | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Recall guarantee (pigeonhole): the 64 fingerprint bits are split into
    ``n_chunks`` disjoint chunks — default ``max_hamming + 1``.  A pair
    differing in <= max_hamming bits leaves at least ``n_chunks -
    max_hamming`` chunks identical, so:

    * single-chunk index (``n_chunks = max_hamming + 1``, chunks >= 12
      bits): the pair shares >= 1 whole chunk — used while chunks stay
      wide enough for fine-grained buckets;
    * chunk-PAIR index (``n_chunks = max_hamming + 2``, auto-selected
      when single chunks would drop below 12 bits, i.e. max_hamming >=
      5): the pair shares >= 2 chunks, hence at least one of the
      C(n_chunks, 2) chunk pairs — bucket keys are two chunks wide
      (~12-14 bits), so bucket occupancy stays near zero on random
      corpora of any size instead of collapsing into the cap (the
      Manku/Jain/Sarma multi-index construction).

    Either way recall is complete at the query radius up to the bucket
    cap: buckets larger than ``max_bucket`` are dropped (a chunk value
    shared by many documents — boilerplate — would otherwise make the
    candidate join quadratic); byte-identical boilerplate belongs to
    :func:`dedup_exact`.  Pass ``n_chunks`` explicitly to force the
    single-chunk index (it must be >= max_hamming + 1).

    Radii >= 63 admit (nearly) every pair — no chunk index can help
    there (even 64 one-bit chunks only guarantee a shared chunk at
    max_hamming <= 63), so the operator degrades to the exact all-pairs
    self-join; that is quadratic by definition of the query, not an
    implementation limit.

    Output: (id_a, id_b, hamming int).
    """
    if max_hamming >= 63:
        fps = simhash_fingerprints(df, text_col, id_col)
        a = fps.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
        b = fps.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn(
                "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            )
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    # The pair index needs max_hamming+2 chunks; past 62 that exceeds the
    # 64 available bits, and a 64-chunk pair index would only guarantee 1
    # shared chunk (zero shared PAIRS) — fall back to the single-chunk
    # index, which at n_chunks=64 still guarantees >= 1 shared chunk.
    use_pairs = n_chunks is None and 5 <= max_hamming <= 62
    if n_chunks is None:
        n_chunks = min(max_hamming + (2 if use_pairs else 1), 64)
    if n_chunks < max_hamming + 1:
        raise ValueError(
            f"n_chunks={n_chunks} < max_hamming+1={max_hamming + 1}: the "
            "pigeonhole recall guarantee needs at least max_hamming+1 chunks"
        )
    chunk_cols = _chunk_exprs(n_chunks)
    fps = simhash_fingerprints(df, text_col, id_col)
    if use_pairs:
        # One struct per chunk PAIR (i<j): key = both chunk values.
        pair_structs = [
            F.struct(
                F.lit(i * n_chunks + j).alias("chunk"),
                # widths <= 32 bits combined: pack into one long key
                chunk_cols[i].cast("long").alias("_ci"),
                chunk_cols[j].cast("long").alias("_cj"),
            )
            for i in range(n_chunks)
            for j in range(i + 1, n_chunks)
        ]
        chunks = fps.select(
            "id",
            "simhash",
            F.explode(F.array(*pair_structs)).alias("cc"),
        ).select(
            "id",
            "simhash",
            F.col("cc.chunk").alias("chunk"),
            (F.shiftleft(F.col("cc._ci"), 32).bitwiseOR(F.col("cc._cj"))).alias("ck"),
        )
    else:
        chunks = fps.select(
            "id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("chunk"), chunk_cols[i].alias("ck"))
                        for i in range(n_chunks)
                    ]
                )
            ).alias("cc"),
        ).select("id", "simhash", "cc.chunk", "cc.ck")

    from mgspark.cacheutil import transient_persist

    buckets_all = transient_persist(
        chunks.groupBy("chunk", "ck")
        .agg(F.collect_list(F.struct("id", "simhash")).alias("members"))
        .where(F.size("members") > 1)
    )
    # Canonical emission needs the set of DROPPED (oversized) buckets:
    # a pair is emitted from its first SURVIVING matching bucket, so the
    # worker must know which earlier buckets did not survive.  The set
    # is tiny by construction (only buckets past the cap — boilerplate
    # chunk values); if a pathological corpus produces more than the
    # collect guard, fall back to emit-from-every-bucket + distinct,
    # which needs no global knowledge.
    _DROPPED_GUARD = 100_000
    oversized = (
        buckets_all.where(F.size("members") > max_bucket)
        .select("chunk", "ck")
        .limit(_DROPPED_GUARD + 1)
        .collect()
    )
    canonical = len(oversized) <= _DROPPED_GUARD
    dropped: dict = {}
    if canonical:
        for row in oversized:
            dropped.setdefault(row["chunk"], []).append(row["ck"])
        dropped = {
            c: np.sort(np.array(v, dtype=np.int64).astype(np.uint64))
            for c, v in dropped.items()
        }
    buckets = buckets_all.where(F.size("members") <= max_bucket)

    id_type = fps.schema["id"].dataType
    pair_schema = StructType(
        [
            StructField("id_a", id_type, False),
            StructField("id_b", id_type, False),
            StructField("hamming", LongType(), False),
        ]
    )
    ham_cap = max_hamming
    _, _offs, _masks = _chunk_layout(n_chunks)
    offs_u = [np.uint64(o) for o in _offs]
    masks_u = [np.uint64(np.int64(m)) for m in _masks]
    # Buckets that could emit the same pair EARLIER than a given bucket,
    # in bucket-id order: pair mode uses chunk-pair ids i*n+j (i<j),
    # single mode plain chunk ids.
    if use_pairs:
        _all_cpids = [
            (i, j, i * n_chunks + j)
            for i in range(n_chunks)
            for j in range(i + 1, n_chunks)
        ]
        earlier = {
            cp: [(i, j, c) for (i, j, c) in _all_cpids if c < cp]
            for (_, _, cp) in _all_cpids
        }
    else:
        earlier = {c: list(range(c)) for c in range(n_chunks)}
    is_pair_index = use_pairs

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized in-bucket expansion: a bucket of B members has
        # B*(B-1)/2 candidate slots — index arithmetic + SWAR popcount
        # do that in numpy instead of a Python nested loop (which was
        # the dominant cost on clustered corpora: tens of millions of
        # loop iterations), and the hamming filter runs HERE so only
        # true pairs survive the expansion.  Expansion is ROW-BLOCKED
        # (~8M slots per block) so a giant bucket under a permissive cap
        # cannot materialize O(B^2) index arrays in one worker.
        #
        # CANONICAL emission (the default): a true pair matches in up to
        # C(n_chunks, 2) buckets — on clustered corpora that emitted
        # every pair ~45x and paid a corpus-scale distinct shuffle to
        # dedupe.  Instead each slot checks, from the two fingerprints
        # alone, every bucket that precedes the current one in bucket-id
        # order: if an earlier matching bucket SURVIVED the cap (not in
        # the broadcast dropped set), that bucket owns the pair and this
        # one stays silent.  Exactly one surviving bucket emits each
        # pair, the released set is identical to the emit-everywhere
        # path, and the distinct goes away entirely.
        for pdf in batches:
            out = []
            for members, cur_bucket in zip(pdf["members"], pdf["chunk"]):
                if len(members) < 2:
                    continue
                raw_ids = np.array([mm["id"] for mm in members])
                raw_shs = np.array(
                    [int(mm["simhash"]) for mm in members], dtype=np.int64
                )
                # np.unique both sorts (id_a < id_b ordering) and drops
                # duplicate member rows of the same id, which would
                # otherwise emit id_a == id_b self-pairs
                ids, first = np.unique(raw_ids, return_index=True)
                shs = raw_shs[first]
                m = len(ids)
                if m < 2:
                    continue
                prior = earlier[cur_bucket] if canonical else ()
                blk = max(1, 8_000_000 // m)
                for i0 in range(0, m - 1, blk):
                    i1 = min(i0 + blk, m - 1)
                    # rows is never empty: i0 < m-1 and i1 > i0, and each
                    # row i contributes m-1-i >= 1 slots
                    rows = np.arange(i0, i1)
                    ii = np.repeat(rows, m - 1 - rows)
                    jj = np.concatenate([np.arange(i + 1, m) for i in rows])
                    ham = _popcount64(shs[ii] ^ shs[jj])
                    keep = ham <= ham_cap
                    if not keep.any():
                        continue
                    ii, jj, ham = ii[keep], jj[keep], ham[keep]
                    if prior:
                        xor = (shs[ii] ^ shs[jj]).astype(np.uint64)
                        sh_any = shs[ii].astype(np.uint64)
                        alive = np.ones(len(xor), dtype=bool)
                        if is_pair_index:
                            for ci, cj, cp in prior:
                                match = (
                                    ((xor >> offs_u[ci]) & masks_u[ci] == 0)
                                    & ((xor >> offs_u[cj]) & masks_u[cj] == 0)
                                )
                                if cp in dropped and match.any():
                                    key = (
                                        ((sh_any >> offs_u[ci]) & masks_u[ci])
                                        << np.uint64(32)
                                    ) | ((sh_any >> offs_u[cj]) & masks_u[cj])
                                    match &= ~np.isin(key, dropped[cp])
                                alive &= ~match
                                if not alive.any():
                                    break
                        else:
                            for c in prior:
                                match = (xor >> offs_u[c]) & masks_u[c] == 0
                                if c in dropped and match.any():
                                    key = (sh_any >> offs_u[c]) & masks_u[c]
                                    match &= ~np.isin(key, dropped[c])
                                alive &= ~match
                                if not alive.any():
                                    break
                        if not alive.any():
                            continue
                        ii, jj, ham = ii[alive], jj[alive], ham[alive]
                    out.append(
                        pd.DataFrame(
                            {
                                "id_a": ids[ii],
                                "id_b": ids[jj],
                                "hamming": ham,
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    released = buckets.select("chunk", "members").mapInPandas(pairs, pair_schema)
    return released if canonical else released.distinct()


def _union_find_local(edges: DataFrame) -> DataFrame:
    """Single-task union-find over a (src, dst) edge list: (id, comp)
    with comp = the component's min id.  Path compression + union-by-min
    (the min id IS the root, so labels need no post-pass)."""
    id_type = edges.schema["src"].dataType
    schema = StructType(
        [StructField("id", id_type, False), StructField("comp", id_type, False)]
    )

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["src"], pdf["dst"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra

        ids = list(parent)
        yield pd.DataFrame({"id": ids, "comp": [find(x) for x in ids]})

    return edges.coalesce(1).mapInPandas(solve, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over a pair list: (id, comp) with ``comp`` =
    the smallest id in the node's component.

    Near-dup pairs only become a DEDUP decision once grouped into
    clusters (A~B, B~C must collapse to one kept document even when A~C
    was never emitted); this is the pairs->clusters step every
    production dedup pipeline runs.

    Size-adaptive execution, decided by the (already materialized) edge
    count:

    * ``<= local_threshold`` edges: single-task union-find with path
      compression — O(E alpha(E)) in ONE task instead of ~5 cluster-wide
      shuffle rounds whose fixed per-stage cost dwarfs the work at this
      size.  The output is identical (min-id component labels).
    * larger graphs: min-label propagation with a pointer-jumping step —
      each iteration takes (a) the min label over neighbors (one join +
      min-agg: shuffles O(E)) and (b) the label's own label
      (comp <- comp(comp), roughly doubling propagation distance), so
      convergence is O(log diameter) iterations rather than
      O(diameter).  Everything is DataFrame joins/aggregations —
      Catalyst plans the shuffles, AQE handles skew.  Each iteration
      ends in an EAGER ``localCheckpoint``: an iterative plan that
      merely persists keeps the whole lineage, and once a mid-chain
      cache is evicted recomputation (each level is referenced twice)
      and plan size grow exponentially — truncating the lineage per
      iteration is mandatory for any iterative DataFrame algorithm.
      (On a cluster where executor loss matters, swap
      ``localCheckpoint`` for a reliable ``checkpoint`` directory.)
      Convergence is checked exactly (count of changed labels).

    At 100 TB the near-dup EDGE list is many orders smaller than the
    corpus (it holds only released pairs), so the union-find path covers
    most real corpora; pathological pair explosions fall through to the
    iterative path instead of OOMing one task.  Set
    ``local_threshold=0`` to force the iterative path.
    """
    from mgspark.cacheutil import transient_persist

    # Ids keep their native type: min-label propagation only needs a
    # total order, so string/uuid ids work too (a long cast would null
    # them out and silently keep every duplicate).
    raw = transient_persist(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    )
    # Union-find is orientation- and duplicate-insensitive, so the
    # local path consumes the RAW pair list — the symmetrize + distinct
    # exchange below exists only for min-label propagation (which needs
    # both directions and deduped edges) and is now paid only on the
    # iterative path.  The size gate compares the symmetrized edge
    # count (2x raw) against the threshold, preserving the old
    # local-vs-iterative boundary.
    if raw.count() * 2 <= local_threshold:
        return _union_find_local(raw)
    edges = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = transient_persist(edges)
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(edges["src"].alias("id"), F.col("comp"))
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp <- min(comp, comp(comp))
        jump = nbr_min.select(
            F.col("id").alias("_cid"), F.col("comp").alias("_ccomp")
        )
        # the old label rides along into the checkpoint so the
        # convergence check is a filter+count over checkpointed rows,
        # not a separate join job per iteration
        new_labels = (
            nbr_min.join(jump, nbr_min["comp"] == jump["_cid"], "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("_ccomp"), F.col("comp"))
                ).alias("comp"),
            )
            .join(labels.select("id", F.col("comp").alias("_old")), "id")
            .select(
                "id", "comp", (F.col("comp") != F.col("_old")).alias("_changed")
            )
            .localCheckpoint()  # eager: truncates the iteration's lineage
        )
        changed = new_labels.where(F.col("_changed")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        "(pointer jumping needs ~log2(diameter); raise max_iter)"
    )


def near_dup_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Cluster summary from near-dup pairs: one row per component with
    >1 member — (keep_id = min id, size)."""
    labels = connected_components(pairs, id_a, id_b)
    return (
        labels.groupBy("comp")
        .agg(F.count("*").alias("size"))
        .where(F.col("size") > 1)
        .select(F.col("comp").alias("keep_id"), "size")
    )


def dedup_near(
    df: DataFrame, id_col: str, pairs: DataFrame,
    id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Keep one document per near-dup cluster: rows whose id either
    appears in no pair or is its component's minimum survive.  The
    ``pairs`` input is any near-dup pair list (MinHash, SimHash,
    embedding, n-gram) — the cluster step is method-agnostic; pass
    ``id_a``/``id_b`` when the pair columns are named differently.
    """
    labels = connected_components(pairs, id_a, id_b)
    drop = labels.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 128,
    eager_cache: bool = True,
) -> DataFrame:
    """Word-n-gram Jaccard similarity pairs (id_a < id_b, jaccard).

    Expressed as pure DataFrame ops (explode -> self-join on n-gram ->
    count intersections -> Jaccard), so it is SQL-oracle-able.

    ``max_doc_freq`` drops grams shared by more than that many documents
    *before* sizes and intersections are computed (a boilerplate gram in
    D docs contributes D^2 join rows): the result is then exact Jaccard
    over the non-boilerplate gram universe — the standard stop-gram
    trade-off.  The DEFAULT is capped (128): the copy-paste usage is
    then scale-safe — a single boilerplate gram cannot go quadratic —
    and on corpora without hot grams it equals the exact result.  Pass
    ``max_doc_freq=None`` explicitly for fully exact semantics (the
    oracle-side twin; quadratic in a hot gram's document frequency by
    definition); the MinHash LSH path is the preferred scale route for
    whole-corpus near-dup mining either way.
    """
    from mgspark.cacheutil import transient_persist

    # Tokenize once per row in its own projection (raw split, empties
    # kept — this operator's oracle semantics): referencing the split
    # expression inside the transform lambda re-runs it per position
    # (no CSE across higher-order functions, see
    # textstats.word_ngrams_from_tokens_expr).
    toks = F.col("_toks")
    # Docs shorter than n tokens have zero grams; without the guard,
    # sequence(0, size-n) turns DESCENDING for size < n (Spark defaults
    # step to -1) and slice(..., 0, n) then kills the job.
    gram_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).select("id", F.explode(gram_arr).alias("gram"))
    if max_doc_freq is not None:
        # Bounded-bucket plan (the scale path): ONE groupBy(gram) builds
        # the sorted per-gram doc list via collect_set (the within/
        # cross-doc dedup the old plan paid a separate distinct exchange
        # for), the doc-frequency cap becomes a size filter on the list
        # (replacing the hot-gram blacklist aggregation AND its
        # broadcast anti-join), and candidate pairs are a pure-JVM
        # nested-transform expansion of each <= cap list — C(d,2) <=
        # 8128 rows per gram at the default cap, the same bounded-bucket
        # guarantee as the LSH band join — with no self-join of the gram
        # relation at all.  Pair set and counts are identical to the
        # join formulation: ids are unique per list, sorted ascending,
        # so each shared gram emits each (id_a < id_b) pair exactly
        # once.  Exchanges: 6 -> 3.
        buckets = transient_persist(
            exploded.groupBy("gram")
            .agg(F.array_sort(F.collect_set("id")).alias("_ids"))
            .where(F.size("_ids") <= max_doc_freq)
            .select("_ids")
        )
        if eager_cache:
            # Plan-only callers (explain audits, plan tests) pass False
            # to keep construction side-effect-free.
            buckets.count()
        sizes = (
            buckets.select(F.explode("_ids").alias("id"))
            .groupBy("id")
            .agg(F.count("*").alias("n_grams"))
        )
        ids = F.col("_ids")
        pair_structs = F.flatten(
            F.transform(
                F.sequence(F.lit(2), F.size(ids)),
                lambda j: F.transform(
                    F.sequence(F.lit(1), j - 1),
                    lambda i: F.struct(
                        F.element_at(ids, i).alias("id_a"),
                        F.element_at(ids, j).alias("id_b"),
                    ),
                ),
            )
        )
        inter = (
            buckets.where(F.size("_ids") >= 2)
            .select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # Exact twin (the oracle-side quadratic-by-definition variant):
        # gram self-join.  The gram relation feeds three consumers (both
        # join sides, per-doc sizes); unpersisted, each re-runs the
        # explode AND the distinct's shuffle.
        grams = transient_persist(exploded.distinct())
        if eager_cache:
            grams.count()
        sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
        # Self-join via aliases of the SAME relation (renaming only
        # after the join): both sides' Exchange(hash(gram)) then
        # canonicalize identically and ReusedExchange shuffles the gram
        # relation once, not twice.
        g1 = grams.alias("_ga")
        g2 = grams.alias("_gb")
        inter = (
            g1.join(g2, F.col("_ga.gram") == F.col("_gb.gram"))
            .where(F.col("_ga.id") < F.col("_gb.id"))
            .groupBy(
                F.col("_ga.id").alias("id_a"), F.col("_gb.id").alias("id_b")
            )
            .agg(F.count("*").alias("n_inter"))
        )
    s1 = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    s2 = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(s1, "id_a")
        .join(s2, "id_b")
        .withColumn(
            "jaccard",
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).cast(
                "double"
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
