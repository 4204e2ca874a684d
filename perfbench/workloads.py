"""The benchmark's workloads and its per-layer side measurements.

Each workload is a closed loop with one client: the next operation is
submitted when the previous one returned. An operation's outputs are
checked after it (outside its timed wall); a check that fails, or an
operation that raises, counts the operation as failed.

A workload provides ``setup()`` (everything before the first timed
operation; idempotent, so a run can repeat it and report the median),
``op()`` and ``check()`` (the primary operation and its checks),
``source()`` / ``encoded()`` (the token table and the engine's encoding
of it, which the verify operation compares), and for traced runs the
ladder rungs and side measurements of the layers its operation does not
reach.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from parquet_playground_rs_spark.functions.kernels import CODEC_IDS
from parquet_playground_rs_spark.operators import decode as dec
from parquet_playground_rs_spark.operators import encode as enc
from parquet_playground_rs_spark.plans import pipeline as pl
from parquet_playground_rs_spark.sources.tokenizer import tokenize_documents

from .inputs import SIZES, InputCache, parquet_column_bytes
from .spans import median, tail

CODECS = [c for c in CODEC_IDS if c != "bss"]  # the token codecs
CHUNK = enc.DEFAULT_CHUNK
SIDE_REPS = 2          # measured reps of each side-measurement step
PIPELINE_APPENDS = SIZES["pipeline_append"]["append_files"]


def _identity(batches):
    yield from batches


def _consume(batches):
    """Read every input batch into the Python worker, return nothing:
    the input half of the mapInArrow boundary."""
    for _ in batches:
        pass
    yield from ()


def warm(spark) -> None:
    """A tiny mapInArrow job: starts the Python workers and the JIT."""
    df = spark.range(16, numPartitions=4).withColumn(
        "tokens", F.array(F.lit(1), F.lit(2)))
    df.mapInArrow(_identity, df.schema).count()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def codec_mix_of(table: pa.Table) -> dict[str, int]:
    mix = {c: 0 for c in CODECS}
    for kv in table.column("codec").value_counts().to_pylist():
        mix[kv["values"]] = int(kv["counts"])
    return mix


def read_blocks(path: str) -> pa.Table:
    return pq.read_table(path, columns=["doc_id", "chunk_idx", "codec",
                                        "block"])


def block_digest(table: pa.Table) -> str:
    """Order-independent digest of (doc_id, chunk_idx, block)."""
    order = pc.sort_indices(table, sort_keys=[("doc_id", "ascending"),
                                              ("chunk_idx", "ascending")])
    t = table.select(["doc_id", "chunk_idx", "block"]).take(order)
    h = hashlib.sha1()
    for col in ("doc_id", "chunk_idx", "block"):
        for v in t.column(col).to_pylist():
            h.update(v if isinstance(v, bytes) else repr(v).encode())
    return h.hexdigest()


class Workload:
    name = ""
    # untimed operations before the timed loop: the JVM's JIT is still
    # compiling the operation's code paths during the first few
    warmup_ops = 2
    # cache entries the traced run's side measurements read
    side_inputs: tuple[str, ...] = ()
    # per-layer metrics whose values add up to one primary operation
    ladder_keys: tuple[str, ...] = ()

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.work = os.path.join(run.work, self.name)
        self.entry, self.meta = run.cache.get(self.name, run.seed)

    def fresh(self, name: str) -> str:
        """An emptied work directory path."""
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def check_mix(self, mix: dict, what: str) -> list[str]:
        """The codec mix of a seed's encoding repeats exactly: the first
        encoding in this cache entry records it, every later one must
        reproduce it."""
        if "codec_mix" not in self.meta:
            self.meta["codec_mix"] = mix
            InputCache.save_meta(self.entry, self.meta)
            return []
        if mix != self.meta["codec_mix"]:
            return [f"{what}: codec mix {mix} != recorded "
                    f"{self.meta['codec_mix']}"]
        return []

    def expected_chunks(self) -> int:
        """Chunk rows in the encoded table the verify operation reads."""
        return self.meta["chunks"]

    def compression_vs_reference(self) -> float:
        """Engine `block` bytes over the reference config's `tokens`
        bytes (measured when the input was generated)."""
        return (parquet_column_bytes(self.encoded_dir(), "block")
                / self.meta["reference_bytes"])

    def rungs(self) -> list:
        """(name, fn) ladder steps, traced runs only: each runs the
        previous step's work plus one more layer, into Spark's noop sink;
        the primary operation is the last step."""
        return []

    def ladder_from(self, rungs: dict[str, float],
                    op: float) -> dict[str, float]:
        """Layer self times: differences of successive rung walls."""
        return {}

    def side_layers(self) -> dict[str, float]:
        """Per-layer metrics of layers the primary operation skips."""
        return {}

    def kernel_sample(self) -> pa.ChunkedArray:
        """Token arrays for the driver-side kernel measurement."""
        return pq.read_table(os.path.join(self.entry, "data"),
                             columns=["tokens"]).column("tokens")


class EncodeMixed(Workload):
    """encode_tokens -> write_encoded over the generator's default shape."""

    name = "encode_mixed"
    side_inputs = ("zipf_docs",)
    ladder_keys = ("scan.noop_s", "encode.boundary_s", "encode.operator_s",
                   "encode.sink_s")

    def setup(self) -> None:
        warm(self.spark)
        self.out = self.fresh("out")
        self.seq = self.spark.read.parquet(os.path.join(self.entry, "data"))
        row = self.seq.agg(F.count("*").alias("n"),
                           F.sum("n_tok").alias("t")).first()
        if (row["n"], row["t"]) != (self.meta["rows"], self.meta["tokens"]):
            raise RuntimeError(f"input table disagrees with its meta: {row}")
        noop(enc.encode_tokens(self.seq.limit(64)))
        self.digest = None

    def op(self) -> None:
        enc.write_encoded(enc.encode_tokens(self.seq, chunk_size=CHUNK),
                          self.out)

    def check(self, _res) -> list[str]:
        t = read_blocks(self.out)
        bad = []
        if t.num_rows != self.expected_chunks():
            bad.append(f"encode: {t.num_rows} chunks != "
                       f"{self.expected_chunks()}")
        bad += self.check_mix(codec_mix_of(t), "encode")
        d = block_digest(t)
        if self.digest is None:
            self.digest = d  # the verify operation proves these blocks
        elif d != self.digest:
            bad.append("encode: blocks differ from the first op's")
        return bad

    def source(self):
        return self.seq

    def encoded_dir(self) -> str:
        return self.out

    def encoded(self):
        return self.spark.read.parquet(self.out)

    def rungs(self) -> list:
        # the columns encode_tokens reads, as it reads them
        src = self.seq.select(F.col("doc_id").cast("string").alias("doc_id"),
                              "source", "tokens")
        return [
            ("scan", lambda: noop(src)),
            ("boundary", lambda: noop(src.mapInArrow(_consume, src.schema))),
            ("operator", lambda: noop(enc.encode_tokens(self.seq))),
        ]

    def ladder_from(self, r, op):
        return {
            "scan.noop_s": r["scan"],
            "encode.boundary_s": r["boundary"] - r["scan"],
            "encode.operator_s": r["operator"] - r["boundary"],
            "encode.sink_s": op - r["operator"],
        }

    def side_layers(self) -> dict[str, float]:
        return tokenizer_layers(self.run)


class DecodeLong(Workload):
    """decode_tokens -> verify_roundtrip(checksum) over long documents,
    encoded during set-up."""

    name = "decode_long"
    side_inputs = ("pipeline_append",)
    ladder_keys = ("scan.noop_s", "decode.blocks_s", "decode.reassembly_s",
                   "decode.verify_s")

    def setup(self) -> None:
        warm(self.spark)
        self.enc_dir = self.fresh("encoded")
        self.seq = self.spark.read.parquet(os.path.join(self.entry, "data"))
        enc.write_encoded(enc.encode_tokens(self.seq, chunk_size=CHUNK),
                          self.enc_dir)
        t = read_blocks(self.enc_dir)
        bad = []
        if t.num_rows != self.expected_chunks():
            bad.append(f"setup encode: {t.num_rows} chunks != "
                       f"{self.expected_chunks()}")
        bad += self.check_mix(codec_mix_of(t), "setup encode")
        if bad:
            raise RuntimeError("; ".join(bad))

    def op(self):
        decoded = dec.decode_tokens(self.encoded())
        return dec.verify_roundtrip(self.seq, decoded,
                                    method="checksum").first()

    def check(self, row) -> list[str]:
        rows = self.meta["rows"]
        if row["n_mismatch"] != 0 or row["n_source"] != rows \
                or row["n_decoded"] != rows:
            return [f"decode verify: {row.asDict()} (expected {rows} rows)"]
        return []

    def source(self):
        return self.seq

    def encoded_dir(self) -> str:
        return self.enc_dir

    def encoded(self):
        return self.spark.read.parquet(self.enc_dir)

    def rungs(self) -> list:
        cols = ["doc_id", "source", "chunk_idx", "n_chunks", "block"]
        return [
            ("scan", lambda: noop(self.encoded().select(*cols))),
            ("blocks", lambda: noop(dec.decode_blocks(self.encoded()))),
            ("reassembly", lambda: noop(dec.decode_tokens(self.encoded()))),
        ]

    def ladder_from(self, r, op):
        return {
            "scan.noop_s": r["scan"],
            "decode.blocks_s": r["blocks"] - r["scan"],
            "decode.reassembly_s": r["reassembly"] - r["blocks"],
            "decode.verify_s": op - r["reassembly"],
        }

    def side_layers(self) -> dict[str, float]:
        return pipeline_layers(self.run)


WORKLOADS = {w.name: w for w in (EncodeMixed, DecodeLong)}


def verify_call(w):
    """(body, check) of one verify_encoded of w's encoding against its
    source: n_mismatch must be 0 and both sides must count the expected
    chunks."""
    want = w.expected_chunks()

    def body():
        return dec.verify_encoded(w.source(), w.encoded(), CHUNK).first()

    def check(row) -> list[str]:
        if row["n_mismatch"] != 0 or row["n_source"] != want \
                or row["n_decoded"] != want:
            return [f"verify_encoded: {row.asDict()} (expected {want})"]
        return []

    return body, check


# ---- side measurements: layers neither workload's operation reaches -----

def tokenizer_layers(run) -> dict[str, float]:
    """sources.tokenizer over a seeded Zipf corpus: the vocab build (the
    eager part of tokenize_documents) and the tokenization it feeds (the
    explode, broadcast join and groupBy shuffle, into a count)."""
    entry, meta = run.cache.get("zipf_docs", run.seed)
    spark = run.spark
    docs = spark.read.parquet(os.path.join(entry, "data"))
    tr = run.tracer
    vocab, tok = [], []

    def body():
        with tr.span("tokenizer.vocab", group="tokenizer.vocab") as s:
            tokenized = tokenize_documents(docs)
        vocab.append(s["end"] - s["start"])
        with tr.span("tokenizer.tokenize", group="tokenizer.tokenize") as s:
            row = tokenized.agg(F.count("*").alias("docs"),
                                F.sum("n_tok").alias("tokens")).first()
        tok.append(s["end"] - s["start"])
        # build_vocab persists its ranked vocabulary; release it
        spark.catalog.clearCache()
        return row

    def check(row) -> list[str]:
        want = (meta["rows"], meta["tokens"])
        if (row["docs"], row["tokens"]) != want:
            return [f"tokenize: {row.asDict()} != {want} (docs, words)"]
        return []

    for _ in range(SIDE_REPS + 1):  # the first warms the plans
        run.attempt("tokenizer", body, check)
    return {"tokenizer.vocab_s": median(vocab[1:]),
            "tokenizer.tokenize_s": median(tok[1:])}


class PipelineAppend(Workload):
    """run_encode_job_files over a directory of files: an initial job over
    a base of files, one append=True job per new file, compaction."""

    name = "pipeline_append"
    # fold loose catalog versions every few appends, so the measured
    # appends include catalog checkpointing
    CATALOG_CHECKPOINT_AFTER = 2

    def setup(self) -> None:
        self.inp = self.fresh("input")
        self.out = self.fresh("out")
        os.makedirs(self.inp)
        nb = SIZES[self.name]["base_files"]
        self.consumed = self.meta["files"][:nb]
        self.pending = self.meta["files"][nb:]
        for f in self.consumed:
            shutil.copy(os.path.join(self.entry, "stage", f["file"]),
                        self.inp)

    def job(self, append: bool) -> dict:
        return pl.run_encode_job_files(
            self.spark, self.inp, self.out, append=append,
            catalog_checkpoint_after=self.CATALOG_CHECKPOINT_AFTER)

    def check_initial(self, s: dict) -> list[str]:
        nb = len(self.consumed)
        rows = sum(f["rows"] for f in self.consumed)
        bad = []
        if s["n_rows"] != rows or s["processed_buckets"] != nb:
            bad.append(f"initial: {s} (expected {rows} rows, {nb} buckets)")
        mix = {c: 0 for c in CODECS}
        mix.update({r["codec"]: int(r["count"]) for r in
                    self.encoded().groupBy("codec").count().collect()})
        return bad + self.check_mix(mix, "initial")

    def stage_next(self) -> None:
        """Copy the next file into the input directory (untimed)."""
        f = self.pending.pop(0)
        shutil.copy(os.path.join(self.entry, "stage", f["file"]), self.inp)
        self.consumed.append(f)

    def check_append(self, s: dict) -> list[str]:
        f = self.consumed[-1]
        if s["n_rows"] != f["rows"] or s["appended_files"] != 1:
            return [f"append {f['file']}: {s} (expected {f['rows']} rows)"]
        return []

    def check_compact(self, s: dict) -> list[str]:
        if s["bins_merged"] < 1 or s["groups_after"] >= s["groups_before"]:
            return [f"compact merged nothing: {s}"]
        return []

    def expected_chunks(self) -> int:
        return sum(f["chunks"] for f in self.consumed)

    def source(self):
        return self.spark.read.parquet(self.inp)

    def encoded(self):
        return pl.read_encoded(self.spark, self.out)


def pipeline_layers(run) -> dict[str, float]:
    """plans.pipeline: the initial file-scope job, PIPELINE_APPENDS append
    jobs of one file each (each split into Spark job time and the
    driver's own time: lock, catalog, manifests), then compaction and a
    verify of the compacted table."""
    p = PipelineAppend(run)
    p.setup()
    _, _, initial_s = run.attempt("pipeline.initial", lambda: p.job(False),
                                  p.check_initial)
    walls, spark_s, jobs = [], [], []
    for i in range(PIPELINE_APPENDS):
        p.stage_next()
        g = f"pipeline.append.{i}"
        ok, _, wall = run.attempt("pipeline.append", lambda: p.job(True),
                                  p.check_append, group=g)
        if ok:
            n, s = run.store.group_jobs(g)
            walls.append(wall)
            spark_s.append(s)
            jobs.append(n)
    _, summary, compact_s = run.attempt(
        "pipeline.compact", lambda: pl.compact_encoded_job(run.spark, p.out),
        p.check_compact)
    run.attempt("pipeline.verify", *verify_call(p))
    summary = summary or {}
    return {
        "pipeline.initial_s": initial_s,
        "pipeline.append_p50_s": median(walls),
        "pipeline.append_tail_s": tail(walls)[0],
        "pipeline.spark_s": median(spark_s),
        "pipeline.driver_s": median([w - s for w, s in zip(walls, spark_s)]),
        "pipeline.spark_jobs": median(jobs),
        "compact.wall_s": compact_s,
        "compact.bytes_rewritten": summary.get("bytes_rewritten", 0),
        "compact.files_before": summary.get("files_before", 0),
        "compact.files_after": summary.get("files_after", 0),
    }


# Per-layer metrics that only some workloads' traced runs measure; the
# others report 0 for them (the layer is not on their path).
PATH_LAYERS = (
    "encode.boundary_s", "encode.operator_s", "encode.sink_s",
    "decode.blocks_s", "decode.reassembly_s", "decode.verify_s",
    "tokenizer.vocab_s", "tokenizer.tokenize_s",
    "pipeline.initial_s", "pipeline.append_p50_s", "pipeline.append_tail_s",
    "pipeline.spark_s", "pipeline.driver_s", "pipeline.spark_jobs",
    "compact.wall_s", "compact.bytes_rewritten", "compact.files_before",
    "compact.files_after",
)


# ---- driver-side kernel throughput ---------------------------------------

def _chunked(arrays: pa.ChunkedArray, max_tokens: int):
    """(int32 values, int64 offsets) of the first rows up to max_tokens
    (at least one row), split at the engine's chunk size."""
    arr = arrays.combine_chunks()
    lens = pc.list_value_length(arr).to_numpy(
        zero_copy_only=False).astype(np.int64)
    keep = int(np.searchsorted(np.cumsum(lens), max_tokens, side="right"))
    keep = max(1, min(keep, len(arr)))
    arr, lens = arr.slice(0, keep), lens[:keep]
    values = pc.list_flatten(arr).to_numpy(zero_copy_only=False).astype(
        np.int32)
    row_start = np.cumsum(lens) - lens
    n_chunks = np.maximum(-(-lens // CHUNK), 1)
    first = np.cumsum(n_chunks) - n_chunks
    idx = np.arange(int(n_chunks.sum())) - np.repeat(first, n_chunks)
    starts = np.repeat(row_start, n_chunks) + idx * CHUNK
    return values, np.append(starts, lens.sum()).astype(np.int64)


def _subset(values, offsets, rows):
    lens = np.diff(offsets)[rows]
    parts = [values[offsets[r]:offsets[r + 1]] for r in rows]
    v = np.concatenate(parts) if parts else np.empty(0, np.int32)
    return v, np.concatenate(([0], np.cumsum(lens))).astype(np.int64)


def _median_wall(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls)


def kernel_layers(sample: pa.ChunkedArray,
                  max_tokens: int = 1_000_000) -> dict[str, float]:
    """Single-core encode/decode throughput of the numpy kernels, over
    the whole sample and per codec subset (the rows that select each
    codec). A codec no row selects reports 0."""
    from parquet_playground_rs_spark.functions import batch_decode
    from parquet_playground_rs_spark.functions import batch_encode

    values, offsets = _chunked(sample, max_tokens)
    out: dict[str, float] = {}

    def enc_fn(v, o):
        return batch_encode.encode_batch_columnar(v, o)

    def blobs(v, o):
        data, boffs, codec_ids, _, _ = enc_fn(v, o)
        arr = pa.Array.from_buffers(
            pa.binary(), boffs.size - 1,
            [None, pa.py_buffer(boffs.astype(np.int32)),
             pa.py_buffer(data)])
        return arr, codec_ids

    n = int(values.size)
    arr, codec_ids = blobs(values, offsets)
    out["batch_encode.tok_per_s_core"] = n / _median_wall(
        lambda: enc_fn(values, offsets))
    out["batch_decode.tok_per_s_core"] = n / _median_wall(
        lambda: batch_decode.decode_binary_array(arr))
    for c in CODECS:
        rows = np.flatnonzero(codec_ids == CODEC_IDS[c])
        v, o = _subset(values, offsets, rows)
        if v.size == 0:
            out[f"batch_encode.{c}.tok_per_s_core"] = 0.0
            out[f"batch_decode.{c}.tok_per_s_core"] = 0.0
            continue
        sub, _ = blobs(v, o)
        out[f"batch_encode.{c}.tok_per_s_core"] = v.size / _median_wall(
            lambda: enc_fn(v, o))
        out[f"batch_decode.{c}.tok_per_s_core"] = v.size / _median_wall(
            lambda: batch_decode.decode_binary_array(sub))
    return out


def counters(w: Workload) -> dict[str, float]:
    """Exact counts over the workload's encoded table."""
    row = w.encoded().agg(
        F.count("*").alias("chunks"),
        F.sum((F.col("n_chunks") > 1).cast("long")).alias("multi"),
        F.sum("meta.output_bytes").alias("output_bytes"),
        *[F.sum((F.col("codec") == c).cast("long")).alias(c)
          for c in CODECS]).first()
    out = {f"encode.codec.{c}.blocks": float(row[c]) for c in CODECS}
    out["decode.chunks"] = float(row["chunks"])
    out["encode.output_bytes"] = float(row["output_bytes"])
    out["decode.reassembled_row_frac"] = row["multi"] / row["chunks"]
    return out
