"""Decode operator: codec blocks -> tokens, plus round-trip verification.

The Spark twin of the reference's columnar read path (`parqbench`
columnar reader + per-value checksum, /root/reference/src/bin/parqbench/
main.rs:276-333, :113-169): blocks stream through ``mapInArrow``, the
numpy kernels reverse each codec, chunked documents re-assemble by
(doc_id, chunk_idx), and `verify_roundtrip` asserts exact array<int32>
equality against the source table (the reference's decode(encode(x))==x
discipline, src/vec_pq_reader.rs:821-831, made distributed).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import kernels

DECODED_DDL = (
    "doc_id string, source string, chunk_idx int, n_chunks int, tokens array<int>"
)

_DECODED_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("source", pa.string()),
        pa.field("chunk_idx", pa.int32()),
        pa.field("n_chunks", pa.int32()),
        pa.field("tokens", pa.list_(pa.int32())),
    ]
)


def decode_arrow_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Decode one Arrow batch of encoded blocks back to token arrays.

    Batch-vectorized (functions/batch_decode.py): headers parsed with
    vectorized byte composition, one unpackbits per (codec, width) group.
    """
    from ..functions import batch_decode

    values, offsets = batch_decode.decode_binary_array(batch.column("block"))
    if offsets[-1] > 2**31 - 1:  # an Arrow batch never carries >2^31 values
        raise ValueError("batch too large for int32 list offsets")
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int32())
    )
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            batch.column("source"),
            batch.column("chunk_idx"),
            batch.column("n_chunks"),
            tokens,
        ],
        schema=_DECODED_ARROW_SCHEMA,
    )


def decode_blocks(encoded: DataFrame) -> DataFrame:
    """Per-chunk decode (no reassembly)."""

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield decode_arrow_batch(batch)

    cols = ["doc_id", "source", "chunk_idx", "n_chunks", "block"]
    return encoded.select(*cols).mapInArrow(mapper, DECODED_DDL)


def decode_blocks_rowwise(encoded: DataFrame) -> DataFrame:
    """Row-by-row decode — the S5/A6 BENCHMARK CONTRAST path, never the
    production one (mirrors the reference keeping a row-by-row Parquet
    reader purely to benchmark against its columnar reader,
    /root/reference/src/bin/parqbench/main.rs:33-39, :113-169).

    Same output as decode_blocks; each blob goes through the per-row
    kernel decoder in a Python loop. bench.py measures the ratio; the
    rowwise_columnar_equiv driver query proves the outputs identical.
    """

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            blocks = batch.column("block")
            rows = [kernels.decode(blocks[i].as_py())
                    for i in range(batch.num_rows)]
            lens = np.array([r.size for r in rows], dtype=np.int64)
            flat = np.concatenate(rows) if rows else np.empty(0, np.int32)
            tokens = pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(lens))),
                         type=pa.int32()),
                pa.array(flat, type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), batch.column("source"),
                 batch.column("chunk_idx"), batch.column("n_chunks"),
                 tokens],
                schema=_DECODED_ARROW_SCHEMA)

    cols = ["doc_id", "source", "chunk_idx", "n_chunks", "block"]
    return encoded.select(*cols).mapInArrow(mapper, DECODED_DDL)


_EXPENSIVE_PLAN_NODES = (
    "MapInArrow", "PythonMapInArrow", "MapInPandas", "Join", "Aggregate",
    "Generate", "Window", "Sort", "MapPartitions", "Expand",
)


def _is_cheap_rescan(df: DataFrame) -> bool:
    """True when re-executing df's plan in two branches is ~free: the
    optimized plan is scan/filter/project only (no Python mappers, joins,
    aggregates, generators)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return not any(tok in plan for tok in _EXPENSIVE_PLAN_NODES)


def decode_tokens(encoded: DataFrame, materialize: bool | None = None) -> DataFrame:
    """Decode + reassemble chunked documents.

    Single-chunk documents (the vast majority) bypass the shuffle entirely;
    only skew-split documents pay the groupBy — the scale-sensitive choice,
    since a blanket collect_list over 10^12 rows would shuffle everything.

    The split is two filtered branches, so `encoded`'s plan executes twice.
    That is free when the plan is a (pushdown-filtered) parquet scan or is
    already cached, but if `encoded` is a composed pipeline (e.g. the
    encode mapper feeding decode directly) both branches would re-run the
    whole upstream — encode would execute 2x. materialize=None autodetects:
    expensive un-cached inputs are persisted (MEMORY_AND_DISK, spillable)
    so the upstream runs once and both branches read the cache. Callers
    that loop forever should pass materialize=False and manage their own
    persistence/unpersist lifecycle.

    Output: (doc_id string, source string, tokens array<int>, n_tok int)
    """
    cheap_rescan = None
    if materialize is None:
        cheap_rescan = encoded.is_cached or _is_cheap_rescan(encoded)
        materialize = not cheap_rescan
    persisted = None
    if materialize and not encoded.is_cached:
        from pyspark import StorageLevel

        encoded = persisted = encoded.persist(StorageLevel.MEMORY_AND_DISK)
    # filter on n_chunks BEFORE the Python mapper: filtering the decoded
    # frame would re-run the decode UDF once per branch (each branch
    # re-executes the plan); pre-filtering keeps decode single-pass and
    # pushes the n_chunks predicate into the parquet scan.
    single = decode_blocks(encoded.filter(F.col("n_chunks") == 1)).select(
        "doc_id", "source", "tokens"
    )
    # Short-circuit the reassembly branch when the table provably has no
    # multi-chunk rows (round 9): the pushed n_chunks > 1 predicate makes
    # the emptiness probe a stats-pruned scan (~0.1 s at bench scale,
    # metadata-bounded at any scale), where keeping the empty branch
    # costs a second table scan plus a zero-row shuffle/union every
    # action (measured 3.9 -> 3.3 s on the round-trip verify,
    # interleaved A/B). Probed only on cheap-rescan inputs: a composed
    # pipeline that decode persists itself keeps the lazy two-branch
    # plan and is not forced at call time. A caller-persisted input
    # counts as cheap-rescan even before it is materialized, so for it
    # this isEmpty() probe DOES force the upstream at call time — the
    # probe job runs it and fills the cache partitions it scans (all of
    # them when no row has n_chunks > 1).
    skip_multi = bool(cheap_rescan) and \
        encoded.filter(F.col("n_chunks") > 1).isEmpty()
    if skip_multi:
        out = single.withColumn("n_tok", F.size("tokens").cast("int"))
        out._persisted_input = None
        return out
    multi = (
        decode_blocks(encoded.filter(F.col("n_chunks") > 1))
        .groupBy("doc_id", "source")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "tokens"))),
                    lambda s: s["tokens"],
                )
            ).alias("tokens")
        )
    )
    out = single.unionByName(multi).withColumn(
        "n_tok", F.size("tokens").cast("int"))
    # persist lifecycle: the cache this call created is released via
    # release_decode_cache(out) — or release_all_decode_caches() — once
    # the consuming actions complete. One-shot jobs can ignore it;
    # long-lived sessions must not accrete cached blocks until eviction
    # pressure.
    out._persisted_input = persisted
    if persisted is not None:
        with _CACHE_LOCK:
            _LIVE_DECODE_CACHES.append(persisted)
    return out


# persisted inputs decode_tokens created and nobody released yet; the
# per-DataFrame attribute does not survive further transformations
# (df.filter(...) is a NEW DataFrame), so long-lived sessions that
# compose results can sweep everything with release_all_decode_caches().
# Guarded by a lock: multiple driver threads may run decode pipelines
# concurrently (Spark's scheduler is thread-safe; this bookkeeping must
# be too).
_LIVE_DECODE_CACHES: list[DataFrame] = []
_CACHE_LOCK = __import__("threading").Lock()


def release_decode_cache(decoded: DataFrame) -> bool:
    """Unpersist the input that decode_tokens materialized for `decoded`
    (autodetect/materialize=True path). Returns True if a cache was
    released, False if there was nothing to release. Safe to call more
    than once. NOTE: the handle rides on the exact DataFrame
    decode_tokens returned — a derived frame (filter/select/...) loses
    it; use release_all_decode_caches() after composing."""
    handle = getattr(decoded, "_persisted_input", None)
    if handle is None:
        return False
    handle.unpersist()
    decoded._persisted_input = None
    with _CACHE_LOCK:
        if handle in _LIVE_DECODE_CACHES:
            _LIVE_DECODE_CACHES.remove(handle)
    return True


def release_all_decode_caches() -> int:
    """Unpersist every outstanding decode_tokens cache in this process.
    Returns the number released."""
    n = 0
    while True:
        with _CACHE_LOCK:
            if not _LIVE_DECODE_CACHES:
                return n
            handle = _LIVE_DECODE_CACHES.pop()
        handle.unpersist()
        n += 1


class decoded_tokens:
    """Context manager for composed decode pipelines: ``with
    decoded_tokens(encoded) as df: ...`` decodes like decode_tokens and
    unpersists whatever cache that call created on exit, so loops and
    long-lived drivers cannot accrete cached blocks (the round-3 cache
    lifecycle finding)."""

    def __init__(self, encoded: DataFrame, materialize: bool | None = None):
        self._df = decode_tokens(encoded, materialize=materialize)

    def __enter__(self) -> DataFrame:
        return self._df

    def __exit__(self, *exc) -> None:
        release_decode_cache(self._df)


def verify_encoded(source_df: DataFrame, encoded: DataFrame,
                   chunk_size: int) -> DataFrame:
    """Reassembly-free round-trip verify: both sides hash PER CHUNK with
    JVM xxhash64 and reduce to (count, bit_xor) — zero joins, zero
    reassembly groupBy.

    method="checksum" on verify_roundtrip already avoids the join, but it
    consumes decode_tokens, which reassembles multi-chunk documents
    through a shuffle before hashing. Here the source side re-derives the
    SAME chunk grid JVM-side (split_skew) and each side hashes
    (doc_id, chunk_idx, tokens) per chunk, so long-document corpora pay
    no reassembly exchange at all. `chunk_size` must equal the value the
    table was encoded with — the chunk grid is part of what is compared.

    Hashing stays JVM-side on purpose: a fused numpy polynomial hash
    inside the Arrow mappers was built and measured 4x SLOWER at sf0.1
    (multi-pass uint64 hashing of the token stream costs more than the
    Arrow return + one-codegen-pass xxhash64 it avoids).

    Same XOR-cancellation caveat as method="checksum"; collision ~2^-64
    per chunk. Returns the standard one-row verdict frame.
    """
    from .encode import split_skew

    def side(chunked: DataFrame, n_name: str, cs_name: str) -> DataFrame:
        return chunked.agg(
            F.count("*").alias(n_name),
            F.coalesce(
                F.bit_xor(F.xxhash64("doc_id", "chunk_idx", "tokens")),
                F.lit(0)).alias(cs_name),
        )

    # Source-side chunk grid: when no document exceeds chunk_size, every
    # row IS its own single chunk, so the posexplode re-derivation (a
    # JVM Generate copy of the whole token stream) reduces to a literal
    # (chunk_idx=0, n_chunks=1) projection. The probe's n_tok predicate
    # pushes to the parquet scan (NULL n_tok rows conservatively defeat
    # the shortcut — split_skew recomputes those from the array); probed
    # only on cheap-rescan inputs, same contract as decode_tokens'
    # reassembly short-circuit.
    src = source_df
    fast_grid = _is_cheap_rescan(src) and src.filter(
        (F.col("n_tok") > chunk_size) | F.col("n_tok").isNull()).isEmpty()
    if fast_grid:
        chunked_src = src.select(
            "doc_id", F.lit(0).cast("int").alias("chunk_idx"), "tokens")
    else:
        chunked_src = split_skew(src, chunk_size)
    s = side(chunked_src, "n_source", "_cs")
    d = side(decode_blocks(encoded), "n_decoded", "_cd")
    return s.crossJoin(d).select(
        F.col("n_source").cast("long").alias("n_source"),
        F.col("n_decoded").cast("long").alias("n_decoded"),
        F.least("n_source", "n_decoded").cast("long").alias("n_joined"),
        F.when((F.col("_cs") == F.col("_cd"))
               & (F.col("n_source") == F.col("n_decoded")), 0)
        .otherwise(-1).cast("long").alias("n_mismatch"),
    )


def verify_roundtrip(source_df: DataFrame, decoded_df: DataFrame,
                     method: str = "exact") -> DataFrame:
    """Join on doc_id and compare token arrays.

    method="exact": shuffle the full arrays and compare element-wise —
    the bit-identical guarantee used by the test suite.
    method="hash": compare xxhash64(tokens) computed *before* the join, so
    only (doc_id, 8-byte hash) shuffles — the at-scale variant (a mismatch
    still fails; equality is probabilistic at ~2^-64 per row).
    method="checksum": NO join at all — each side reduces to
    (count, bit_xor(xxhash64(doc_id, tokens))); the XOR is
    order-independent and overflow-free, so the verify is two partial
    aggregations (map-side combine, 16 bytes per partition shuffled).
    The cheapest 10^12-row verify: at sf0.1 the verify stage drops
    ~1.9s -> ~0.6s (decode+verify end-to-end 4.1s -> 2.7s). Caveat: XOR cancels PAIRS of identical divergences
    (the counts catch cardinality changes; content swaps of two rows
    between doc_ids are caught by hashing doc_id INTO the row hash).
    n_mismatch is 0 on match, -1 on checksum divergence (the join-free
    form cannot count individual rows).

    Returns a one-row DataFrame (n_source, n_decoded, n_joined, n_mismatch);
    a correct engine yields n_mismatch == 0 and all counts equal.
    """
    if method == "checksum":
        s = source_df.agg(
            F.count("*").alias("n_source"),
            F.bit_xor(F.xxhash64("doc_id", "tokens")).alias("_cs"))
        d = decoded_df.agg(
            F.count("*").alias("n_decoded"),
            F.bit_xor(F.xxhash64("doc_id", "tokens")).alias("_cd"))
        return s.crossJoin(d).select(
            "n_source", "n_decoded",
            F.least("n_source", "n_decoded").alias("n_joined"),
            # null-safe equality: bit_xor over ZERO rows aggregates to NULL
            # on both sides; a vacuously-correct empty round-trip must
            # report 0, not fall through to -1
            F.when(F.col("_cs").eqNullSafe(F.col("_cd"))
                   & (F.col("n_source") == F.col("n_decoded")), 0)
            .otherwise(-1).cast("long").alias("n_mismatch"),
        )
    if method == "hash":
        s = source_df.select(
            F.col("doc_id"), F.xxhash64(F.col("tokens")).alias("tokens_src"))
        d = decoded_df.select(
            F.col("doc_id"), F.xxhash64(F.col("tokens")).alias("tokens_dec"))
        joined = s.join(d, "doc_id", "full_outer")
        return joined.agg(
            F.count("tokens_src").alias("n_source"),
            F.count("tokens_dec").alias("n_decoded"),
            F.sum(F.when(F.col("tokens_src").isNotNull()
                         & F.col("tokens_dec").isNotNull(), 1).otherwise(0))
            .alias("n_joined"),
            F.sum(F.when(F.col("tokens_src").isNull()
                         | F.col("tokens_dec").isNull()
                         | (F.col("tokens_src") != F.col("tokens_dec")), 1)
                  .otherwise(0)).alias("n_mismatch"),
        )
    s = source_df.select(F.col("doc_id"), F.col("tokens").alias("tokens_src"))
    d = decoded_df.select(F.col("doc_id"), F.col("tokens").alias("tokens_dec"))
    joined = s.join(d, "doc_id", "full_outer")
    return joined.agg(
        F.count("tokens_src").alias("n_source"),
        F.count("tokens_dec").alias("n_decoded"),
        F.sum(
            F.when(F.col("tokens_src").isNotNull() & F.col("tokens_dec").isNotNull(), 1).otherwise(0)
        ).alias("n_joined"),
        F.sum(
            F.when(
                F.col("tokens_src").isNull()
                | F.col("tokens_dec").isNull()
                | (F.col("tokens_src") != F.col("tokens_dec")),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
    )
