"""Deduplication operators for training-data pipelines.

All candidate generation is pure Spark SQL expressions (JVM-side,
shuffle-minimal); no reference analog exists (the reference is an encode
benchmark, SURVEY.md §2.3) — these are the new-engine training-pipeline
operators the north star calls for.

Algorithms are the published classics: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", SEQUENCES
1997) with banded LSH (Leskovec/Rajaraman/Ullman, Mining of Massive
Datasets ch.3), and SimHash (Charikar, "Similarity estimation techniques
from rounding algorithms", STOC 2002; Manku et al., WWW 2007 for the
hamming-block lookup).

Scale notes:
- exact dedup: one hash-groupBy, the minimum possible shuffle payload
  (hash + doc_id only).
- MinHash: the corpus is exploded to (doc_id, shingle) once, hashed with k
  affine permutations of ONE base hash (a_i*h+b_i mod p — standard trick, so
  the expensive xxhash64 runs once per shingle), then k min-aggregations in
  a single groupBy pass. LSH banding re-shuffles only (band_key, doc_id).
- SimHash: 64 conditional sums in one groupBy over exploded words.
- All randomness is seeded arithmetic — rerun-stable for resumability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERSENNE31 = (1 << 31) - 1  # 2147483647, prime


def _affine_params(k: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p, a != 0."""
    params = []
    s = seed
    for _ in range(k):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (s % (MERSENNE31 - 1)) + 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = s % MERSENNE31
        params.append((a, b))
    return params


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                hashes: DataFrame | None = None,
                hash_col: str = "text_md5",
                validate: bool = False) -> DataFrame:
    """Keep one representative (min id) per identical text. Returns the
    deduplicated rows of `docs`.

    Shuffle discipline (the 100 TB shape): only (md5, id) metadata moves
    through the exchanges — a Window.partitionBy(md5(text)) would shuffle
    every column including `text` itself just to compute a keep flag.
    Duplicate groups aggregate map-side, the loser-id set (typically ~1%
    of the corpus) is derived with one metadata join, and the full rows
    are filtered by an anti-join on `id_col` that AQE converts to a
    broadcast when the loser set is small — the document table itself
    never shuffles.

    `hashes`: optional precomputed (`id_col`, `hash_col`) projection —
    e.g. an md5 column persisted at ingest, the cheap-storage overload a
    100-TB caller wants: group sizes and losers derive from `hashes`, so
    `docs` is scanned exactly ONCE (the anti-join) instead of three
    times. NULL hash values group together (coalesced to the same
    sentinel the inline path uses), so `F.md5(text)` stored as-is —
    which is NULL for NULL text — keeps NULL-text semantics identical.

    Contract: `id_col` uniquely identifies rows AND both columns are
    deterministic across re-execution (stable storage or seeded
    expressions — the engine-wide resumability rule; NOT
    monotonically_increasing_id/uuid), because without `hashes` the plan
    scans `docs` three times (sizes, losers, anti-join) — the deliberate
    trade of two extra column-pruned scans for never shuffling the
    document table. `validate=True` adds a debug-mode runtime assertion
    that the loser count equals sum(group_size - 1) over duplicate
    groups — the invariant a re-execution-UNstable input breaks (ids
    shifting between scans silently drop winners or keep duplicates).
    NULL texts dedup together, as in a hash-partitioned formulation: the
    group key is a sentinel no md5 hex string can collide with, because
    an equi-join would silently skip NULL keys and leave NULL-text
    duplicates in place.
    """
    if hashes is not None:
        ids = hashes.select(
            F.coalesce(F.col(hash_col), F.lit("\x00null")).alias("_h"),
            F.col(id_col).alias("_id"))
    else:
        key = F.when(F.col(text_col).isNull(), F.lit("\x00null")) \
            .otherwise(F.md5(F.col(text_col)))
        ids = docs.select(key.alias("_h"), F.col(id_col).alias("_id"))
    dup_groups = (
        ids.groupBy("_h")
        .agg(F.min("_id").alias("_winner"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
    )
    losers = (
        ids.join(dup_groups, "_h")
        .filter(F.col("_id") != F.col("_winner"))
        .select(F.col("_id").alias(id_col))
    )
    if validate:
        expected = dup_groups.agg(
            F.coalesce(F.sum(F.col("_n") - 1), F.lit(0))).first()[0]
        actual = losers.count()
        if actual != expected:
            raise AssertionError(
                f"exact_dedup instability: {actual} losers vs "
                f"{expected} expected (sum of group sizes - 1) — the "
                f"id/text columns are not re-execution-stable")
    return docs.join(losers, id_col, "left_anti")


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle string) — distinct word n-grams per document."""
    words = F.split(F.col(text_col), " ")
    shingles = F.when(
        F.size(words) < n, F.array(F.concat_ws(" ", words))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles)).alias("shingle"),
    )


def minhash_signatures(shingled: DataFrame, k: int = 64,
                       seed: int = 42) -> DataFrame:
    """(doc_id, sig array<long> of length k) MinHash signatures.

    One xxhash64 per shingle; k affine permutations mod 2^31-1 (values stay
    < 2^62, safe under ANSI arithmetic).
    """
    base = F.pmod(F.xxhash64("shingle", F.lit(seed)), F.lit(MERSENNE31))
    with_h = shingled.select("doc_id", base.alias("h"))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE31)))
        .alias(f"m{i}")
        for i, (a, b) in enumerate(_affine_params(k, seed))
    ]
    agg = with_h.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[f"m{i}" for i in range(k)]).alias("sig")
    )


def _cap_buckets(banded: DataFrame, keys: list[str],
                 max_bucket: int | None,
                 id_col: str = "doc_id") -> tuple[DataFrame, list[str]]:
    """Salt oversized LSH buckets so no self-join key exceeds ~max_bucket.

    A degenerate band key (thousands of identical docs) makes the bucket
    self-join quadratic on that key. Rows of a bucket with more than
    max_bucket members are split into ceil(size/max_bucket) deterministic
    sub-buckets (xxhash64(doc_id) — rerun-stable); the self-join cost per
    bucket drops from size^2 to ~size*max_bucket (linear in size). Pairs
    across sub-buckets of one bucket are lost, but members of a degenerate
    bucket still pair up transitively within each sub-bucket, which is what
    dedup-by-connected-representatives needs.

    Bucket sizes come from a partial-aggregated groupBy (only distinct
    (band, key) counts shuffle), filtered to the oversized keys — a set
    bounded by n_rows / max_bucket, so normally tiny — joined back WITHOUT
    a broadcast hint: AQE broadcasts it at runtime when it is small (the
    normal case) but falls back to a metadata-only shuffled join on an
    adversarial corpus where most keys are degenerate and the set itself
    is too large to collect to the driver. The previous window formulation
    shuffled and sorted the whole banded table once more just to learn
    the sizes.
    """
    if not max_bucket:
        return banded, keys

    oversized = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket)
    )
    salted = banded.join(oversized, keys, "left")
    sub = F.when(F.col("_bsz").isNull(), F.lit(0).cast("long")).otherwise(
        F.pmod(F.xxhash64(id_col, F.lit(1013)),
               F.ceil(F.col("_bsz") / F.lit(max_bucket)))
    )
    return salted.withColumn("sub", sub).drop("_bsz"), keys + ["sub"]


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 16,
                        rows_per_band: int = 4,
                        max_bucket: int | None = 4096) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded LSH over signatures.

    max_bucket caps the per-bucket self-join (see _cap_buckets); None
    disables the cap.
    """
    k = bands * rows_per_band
    band_keys = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.element_at("sig", b * rows_per_band + r + 1)
                         for r in range(rows_per_band)]).alias("key"),
        )
        for b in range(bands)
    ])
    banded = signatures.select(
        "doc_id", F.explode(band_keys).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    banded, join_keys = _cap_buckets(banded, ["band", "key"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def jaccard_pairs(shingled: DataFrame, min_jaccard: float = 0.0,
                  pairs: DataFrame | None = None,
                  shingle_sets: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard for all co-shingled pairs (or a candidate set).

    Output: (doc_a, doc_b, inter bigint, size_a bigint, size_b bigint,
    jaccard double). For unrestricted mode this is the classic
    shingle-self-join — quadratic in the worst case. With `pairs` the
    candidates join per-doc shingle SETS (one map-side-combined
    collect_set, then two id-keyed joins and an array_intersect per
    pair): shuffle volume is bounded by docsets + pairs, where the
    previous expanded formulation (pairs joined to the exploded shingle
    table on doc_a, then re-joined on (doc_b, shingle)) shuffled
    pairs x shingles-per-doc rows — larger than the corpus whenever the
    candidate degree exceeds 1, and measured 322 MB vs ~40 MB of
    docsets on the bench corpus. A doc's shingle set rides one row,
    bounded by the doc itself. (Restricting AFTER a groupBy is not an
    option either way: Catalyst cannot push a semi-join below the agg,
    which would silently pay the quadratic cost LSH exists to avoid.)

    `shingle_sets`: optional precomputed (doc_id, sh_set) frame (e.g. a
    persisted combined signatures+sets aggregation — minhash_dedup's
    single-scan path); must equal the collect_set aggregation over
    `shingled` up to set order.
    """
    if pairs is not None:
        sets = (shingle_sets if shingle_sets is not None
                else shingled.groupBy("doc_id").agg(
                    F.collect_set("shingle").alias("sh_set")))
        return (
            pairs.select("doc_a", "doc_b")
            .join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("sh_set").alias("sa")), "doc_a")
            .join(sets.select(F.col("doc_id").alias("doc_b"),
                              F.col("sh_set").alias("sb")), "doc_b")
            .select(
                "doc_a", "doc_b",
                F.size(F.array_intersect("sa", "sb")).cast("long")
                .alias("inter"),
                F.size("sa").cast("long").alias("size_a"),
                F.size("sb").cast("long").alias("size_b"))
            .withColumn(
                "jaccard",
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")))
            .filter(F.col("jaccard") >= min_jaccard)
            # zero-intersection candidates kept out, as the inner join
            # on shared shingles did implicitly in the old formulation
            .filter(F.col("inter") > 0)
            .select("doc_a", "doc_b", "inter", "size_a", "size_b",
                    "jaccard")
        )
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "inter",
                F.col("size_a").cast("long").alias("size_a"),
                F.col("size_b").cast("long").alias("size_b"), "jaccard")
    )
    return out


def minhash_dedup(docs: DataFrame, n: int = 3, k: int = 64, bands: int = 16,
                  threshold: float = 0.8, seed: int = 42,
                  text_col: str = "text", id_col: str = "doc_id",
                  persist: bool = True) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH -> exact-Jaccard
    confirm -> connected representatives.

    Returns (doc_a, doc_b, jaccard) confirmed near-duplicate pairs.

    Single-scan formulation (round 9): the MinHash signature and the
    exact-confirm shingle SET are both per-doc aggregations of the same
    (doc_id, shingle) stream, so they ride ONE groupBy — where the
    previous composition re-derived the shingle explode once for the
    signatures and once per set join (three scans of the corpus + three
    shingle shuffles; the banding/confirm stages downstream also re-
    execute their input per branch). The combined frame is persisted
    (MEMORY_AND_DISK) so banding, bucket capping, and both confirm joins
    read the aggregation instead of re-running it — measured 15.3 ->
    9.4 s on the bench corpus with the confirmed pair set
    byte-identical. The persist is NOT small: next to the k-long
    signature it holds each document's raw word-n-gram string set
    (`sh_set`), and every word recurs in up to n shingle strings, so
    its size is on the order of the corpus text or larger.
    persist=False opts out (callers managing their own lifecycle); the
    cache is registered for release via release_dedup_caches().
    """
    sh = word_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    base = F.pmod(F.xxhash64("shingle", F.lit(seed)), F.lit(MERSENNE31))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE31)))
        .alias(f"m{i}")
        for i, (a, b) in enumerate(_affine_params(k, seed))
    ]
    combined = (
        sh.select("doc_id", "shingle", base.alias("h"))
        .groupBy("doc_id")
        .agg(*mins, F.collect_set("shingle").alias("sh_set"))
    )
    if persist:
        from pyspark import StorageLevel

        combined = combined.persist(StorageLevel.MEMORY_AND_DISK)
        with _DEDUP_CACHE_LOCK:
            _LIVE_DEDUP_CACHES.append(combined)
    sigs = combined.select(
        "doc_id", F.array(*[f"m{i}" for i in range(k)]).alias("sig"))
    cand = lsh_candidate_pairs(sigs, bands=bands, rows_per_band=k // bands)
    sets = combined.select("doc_id", "sh_set")
    return jaccard_pairs(sh, min_jaccard=threshold, pairs=cand,
                         shingle_sets=sets) \
        .select("doc_a", "doc_b", "jaccard")


# persisted combined-aggregation frames minhash_dedup created and nobody
# released yet — same lifecycle contract as decode_tokens' cache registry
# (operators/decode.py): one-shot jobs can ignore it; long-lived sessions
# sweep with release_dedup_caches() once the consuming actions finish.
_LIVE_DEDUP_CACHES: list[DataFrame] = []
_DEDUP_CACHE_LOCK = __import__("threading").Lock()


def release_dedup_caches() -> int:
    """Unpersist every outstanding minhash_dedup cache in this process.
    Returns the number released."""
    n = 0
    while True:
        with _DEDUP_CACHE_LOCK:
            if not _LIVE_DEDUP_CACHES:
                return n
            handle = _LIVE_DEDUP_CACHES.pop()
        handle.unpersist()
        n += 1


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", seed: int = 42,
            hash_fn: str = "xxhash64") -> DataFrame:
    """(doc_id, simhash bigint) 64-bit SimHash over words (term-frequency
    weighted: repeated words vote repeatedly).

    hash_fn="xxhash64" (default): one JVM hash per word — the production
    path. hash_fn="md5": the 64 bits come from two 32-bit halves of
    md5(word || ':' || seed), which DuckDB computes identically — the
    oracle-reproducible variant the driver's simhash_near_dups query uses
    (same trick as sources/histograms._hm). Same algorithm, same LSH
    downstream; only the word-hash source differs.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    if hash_fn == "md5":
        md5s = F.md5(F.concat_ws(":", F.col("word"), F.lit(str(seed))))
        with_h = words.select(
            "doc_id",
            F.conv(F.substring(md5s, 1, 8), 16, 10).cast("long").alias("hlo"),
            F.conv(F.substring(md5s, 9, 8), 16, 10).cast("long").alias("hhi"),
        )

        def _bit(j: int):
            src = F.col("hlo") if j < 32 else F.col("hhi")
            return F.shiftright(src, j % 32).bitwiseAND(F.lit(1))
    elif hash_fn == "xxhash64":
        with_h = words.select(
            "doc_id", F.xxhash64("word", F.lit(seed)).alias("h"))

        def _bit(j: int):
            return F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    bit_sums = [
        F.sum(F.when(_bit(j) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(64)
    ]
    agg = with_h.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3,
                       max_bucket: int | None = 4096) -> DataFrame:
    """Candidate pairs with hamming(simhash) <= max_hamming via 4-band
    16-bit block LSH (pigeonhole: any pair within hamming 3 shares >= 1
    exact block, so the pair set is COMPLETE when max_bucket is None).
    max_bucket salts degenerate blocks (see _cap_buckets) — that cap
    deliberately trades cross-sub-bucket pairs for a bounded self-join,
    so exhaustive consumers (oracle comparisons) must pass None."""
    blocks = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
        )
        for b in range(4)
    ])
    banded = sim.select("doc_id", "simhash", F.explode(blocks).alias("bk")) \
        .select("doc_id", "simhash", "bk.band", "bk.key")
    banded, join_keys = _cap_buckets(banded, ["band", "key"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs
