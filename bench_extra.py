#!/usr/bin/env python3
"""Round-9 optimization profiling harness (guide §1): isolates each bench
query's sub-stages (scan only, operator into a noop sink, full write)
and prints the median wall of each one's repetitions (3, or 1 for the
slowest), then one JSON object of those medians. It reads no Spark
metrics; for per-stage executor, shuffle and spill metrics per layer,
run
`python3 perfbench/run.py --workload <name> --seed N --seconds 10 --trace 1`.

This file is NOT part of the frozen measurement protocol (bench.py is);
numbers here feed OPTIMIZATION_r09.md only.

Usage: bench_extra.py [area]   (default: all)
Areas: encode decode verify docs minhash stream_user stream_bucket
       pipeline ivf all
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent / "scripts"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE = os.environ.get("SPARK_GRAFT_CACHE", "/tmp/spark_graft_cache")
_SF_ROWS = {"sf0.001": 10_000, "sf0.01": 100_000, "sf0.1": 1_000_000}


def sf_name() -> str:
    return os.path.basename(SF_DIR.rstrip("/")) or "sf0.1"


def get_session():
    from parquet_playground_rs_spark.session import get_spark

    allowed = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, set(allowed[:min(CPUS, len(allowed))]))
    return get_spark(app=f"bench-extra-{sf_name()}", cores=CPUS,
                     shuffle_partitions=CPUS, driver_mem="12g", ui=True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timeit(label, fn, reps=3, results=None):
    walls = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        walls.append(time.time() - t0)
    med = statistics.median(walls)
    print(f"{label}: median {med:.3f}s  reps {[round(w, 3) for w in walls]}",
          flush=True)
    if results is not None:
        results[label] = round(med, 3)
    return med


def seq_frame(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from parquet_playground_rs_spark.sources.generator import (
        GEN_VERSION, write_sequences,
    )
    n_rows = _SF_ROWS.get(sf_name(), 1_000_000)
    seq_path = os.path.join(
        CACHE, f"sequences_{sf_name()}_{n_rows}_g{GEN_VERSION}_snappy")
    if not os.path.exists(os.path.join(seq_path, "_SUCCESS")):
        write_sequences(spark, n_rows, seq_path, seed=42,
                        partitions=max(CPUS * 4, 64))
    return spark.read.parquet(seq_path), seq_path


def warmup(spark):
    from pyspark.sql import functions as F

    warm = spark.range(CPUS * 4, numPartitions=CPUS * 4) \
        .withColumn("tokens", F.array(F.lit(1), F.lit(2)))
    warm.mapInArrow(lambda it: it, warm.schema).count()


def area_encode(spark, results):
    from parquet_playground_rs_spark.operators import encode as enc
    seq, _ = seq_frame(spark)
    out_dir = os.path.join(CACHE, f"encoded_{sf_name()}_{CPUS}")
    sc = spark.sparkContext

    sc.setJobDescription("encode: scan only (noop)")
    timeit("encode_scan_only", lambda: noop(seq), results=results)
    sc.setJobDescription("encode: mapInArrow no write (noop)")
    timeit("encode_noop",
           lambda: noop(enc.encode_tokens(seq, chunk_size=enc.DEFAULT_CHUNK)),
           results=results)
    sc.setJobDescription("encode: full with write")
    timeit("encode_write",
           lambda: enc.write_encoded(
               enc.encode_tokens(seq, chunk_size=enc.DEFAULT_CHUNK), out_dir),
           results=results)
    sc.setJobDescription(None)


def area_decode(spark, results):
    from pyspark.sql import functions as F  # noqa: F401

    from parquet_playground_rs_spark.operators import decode as dec
    from parquet_playground_rs_spark.operators import encode as enc
    seq, _ = seq_frame(spark)
    out_dir = os.path.join(CACHE, f"encoded_{sf_name()}_{CPUS}")
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        enc.write_encoded(
            enc.encode_tokens(seq, chunk_size=enc.DEFAULT_CHUNK), out_dir)
    sc = spark.sparkContext

    sc.setJobDescription("decode: encoded scan only (noop)")
    timeit("decode_scan_only",
           lambda: noop(spark.read.parquet(out_dir)), results=results)
    sc.setJobDescription("decode: blocks no reassembly (noop)")
    timeit("decode_blocks_noop",
           lambda: noop(dec.decode_blocks(spark.read.parquet(out_dir))),
           results=results)
    sc.setJobDescription("decode: full decode_tokens (noop)")
    timeit("decode_tokens_noop",
           lambda: noop(dec.decode_tokens(spark.read.parquet(out_dir))),
           results=results)
    sc.setJobDescription("decode: source hash side only")
    timeit("source_hash_agg",
           lambda: seq.select(
               F.col("doc_id"),
               F.xxhash64(F.col("tokens")).alias("h")).agg(
                   F.count("*"), F.bit_xor("h")).collect(),
           results=results)
    sc.setJobDescription("decode: verify hash (bench path)")
    timeit("decode_verify_hash",
           lambda: dec.verify_roundtrip(
               seq, dec.decode_tokens(spark.read.parquet(out_dir)),
               method="hash").first(),
           results=results)
    sc.setJobDescription("decode: verify checksum")
    timeit("verify_checksum",
           lambda: dec.verify_roundtrip(
               seq, dec.decode_tokens(spark.read.parquet(out_dir)),
               method="checksum").first(),
           results=results)
    sc.setJobDescription("decode: verify chunks")
    timeit("verify_chunks",
           lambda: dec.verify_encoded(
               seq, spark.read.parquet(out_dir),
               chunk_size=enc.DEFAULT_CHUNK).first(),
           results=results)
    sc.setJobDescription(None)


def area_docs(spark, results):
    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.operators import encode as enc
    from parquet_playground_rs_spark.sources.tokenizer import (
        build_vocab, tokenize_documents,
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sc = spark.sparkContext

    sc.setJobDescription("docs: vocab build only")
    timeit("vocab_build", lambda: noop(build_vocab(docs)), results=results)
    sc.setJobDescription("docs: tokenize only (noop)")
    timeit("tokenize_noop", lambda: noop(tokenize_documents(docs)),
           results=results)

    def _full():
        ds = tokenize_documents(docs).persist()
        enc.encode_tokens(ds, chunk_size=enc.DEFAULT_CHUNK) \
            .agg(F.sum("meta.output_bytes")).first()
        ds.groupBy("source").agg(
            F.count("*"), F.sum("n_tok"), F.max("n_tok")).collect()
        ds.unpersist()

    sc.setJobDescription("docs: full q_encode_docs + stats")
    timeit("encode_docs_full", _full, results=results)
    sc.setJobDescription(None)


def area_minhash(spark, results):
    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.operators import dedup as dd
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps8 = spark.range(8).withColumnRenamed("id", "rep")
    near_docs = (docs.crossJoin(reps8).select(
        (F.col("doc_id") * 8 + F.col("rep")).alias("doc_id"),
        F.concat(F.lit("rep"), F.col("rep").cast("string"),
                 F.lit(" "), F.col("text")).alias("text"))
        .repartition(CPUS, "doc_id"))
    sc = spark.sparkContext

    sc.setJobDescription("minhash: shingles only (noop)")
    timeit("shingles_noop",
           lambda: noop(dd.word_shingles(near_docs, n=3)), results=results)
    sc.setJobDescription("minhash: signatures (noop)")
    timeit("signatures_noop",
           lambda: noop(dd.minhash_signatures(
               dd.word_shingles(near_docs, n=3), k=64)), results=results)
    sc.setJobDescription("minhash: lsh candidates count")
    timeit("lsh_candidates",
           lambda: dd.lsh_candidate_pairs(
               dd.minhash_signatures(dd.word_shingles(near_docs, n=3), k=64),
               bands=16, rows_per_band=4).count(), results=results, reps=1)
    sc.setJobDescription("minhash: full dedup count")
    timeit("minhash_full",
           lambda: dd.minhash_dedup(near_docs, n=3, k=64, bands=16,
                                    threshold=0.8).count(),
           results=results)
    sc.setJobDescription(None)


def area_stream(spark, results, operator="user"):
    from streaming_state_scale import run_state_scale

    label = f"stream_{operator}"
    for (nu, ne, tag) in [(32_000, 256_000, "bench"),
                          (100, 800, "tiny")]:
        t0 = time.time()
        ss = run_state_scale(spark, n_users=nu, n_events=ne, n_slots=8,
                             operator=operator,
                             **({"n_buckets": 256,
                                 "want_digest": operator == "bucket"}
                                if operator == "bucket" else {}))
        wall = time.time() - t0
        print(f"{label}_{tag}: total {wall:.2f}s  gen {ss['gen_sec']}s  "
              f"stream {ss['stream_wall_sec']}s  "
              f"batches {[b['batch_sec'] for b in ss['batches']]}",
              flush=True)
        results[f"{label}_{tag}_total"] = round(wall, 3)
        results[f"{label}_{tag}_gen"] = ss["gen_sec"]
        results[f"{label}_{tag}_stream"] = ss["stream_wall_sec"]


def area_pipeline(spark, results):
    import shutil

    from parquet_playground_rs_spark.operators import encode as enc
    from parquet_playground_rs_spark.plans import pipeline as pl
    _, seq_path = seq_frame(spark)
    pipe_dir = os.path.join(CACHE, f"pipeline_profile_{sf_name()}_{CPUS}")

    def _run():
        shutil.rmtree(pipe_dir, ignore_errors=True)
        pl.run_encode_job_files(
            spark, seq_path, pipe_dir, n_buckets=64,
            chunk_size=enc.DEFAULT_CHUNK,
            buckets_per_commit=8, concurrent_commits=8)

    sc = spark.sparkContext
    sc.setJobDescription("pipeline: file commits x8")
    timeit("pipeline_encode", _run, results=results)
    sc.setJobDescription("pipeline: compact")
    timeit("pipeline_compact",
           lambda: pl.compact_encoded_job(
               spark, pipe_dir, target_group_output_bytes=1 << 40),
           reps=1, results=results)
    sc.setJobDescription(None)
    shutil.rmtree(pipe_dir, ignore_errors=True)


def area_ivf(spark, results):
    import shutil

    from parquet_playground_rs_spark.operators import similarity as sim
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    ivf_q = os.path.join(CACHE, f"ivf_pq_profile_{sf_name()}")
    ivf_f = os.path.join(CACHE, f"ivf_float_profile_{sf_name()}")
    sc = spark.sparkContext

    def _build_pq():
        shutil.rmtree(ivf_q, ignore_errors=True)
        sim.write_ivf_pq_index(emb, dim, ivf_q, n_centroids=16, m=8)

    def _build_f():
        shutil.rmtree(ivf_f, ignore_errors=True)
        sim.write_ivf_index(emb, dim, ivf_f, n_centroids=16)

    sc.setJobDescription("ivf: build pq index")
    timeit("ivf_pq_build", _build_pq, results=results)
    sc.setJobDescription("ivf: build float index")
    timeit("ivf_float_build", _build_f, results=results)
    qset = emb.orderBy("vec_id").limit(20)
    sc.setJobDescription("ivf: pq query")
    timeit("ivf_pq_query",
           lambda: sim.ivf_pq_query(qset, dim, ivf_q, k=5, nprobe=6,
                                    refine=8).count(), results=results)
    sc.setJobDescription("ivf: float query")
    timeit("ivf_float_query",
           lambda: sim.ivf_query(qset, dim, ivf_f, k=5, nprobe=6).count(),
           results=results)
    sc.setJobDescription(None)
    shutil.rmtree(ivf_q, ignore_errors=True)
    shutil.rmtree(ivf_f, ignore_errors=True)


AREAS = {
    "encode": area_encode,
    "decode": area_decode,
    "docs": area_docs,
    "minhash": area_minhash,
    "stream_user": lambda s, r: area_stream(s, r, "user"),
    "stream_bucket": lambda s, r: area_stream(s, r, "bucket"),
    "pipeline": area_pipeline,
    "ivf": area_ivf,
}


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    names = list(AREAS) if which == "all" else [which]
    spark = get_session()
    warmup(spark)
    results: dict = {}
    for name in names:
        print(f"== {name} ==", flush=True)
        AREAS[name](spark, results)
    spark.stop()
    print(json.dumps(results))


if __name__ == "__main__":
    main()
