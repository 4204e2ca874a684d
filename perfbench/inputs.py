"""Seeded workload inputs, generated once per (workload, seed) and cached.

Each workload's input is a directory of parquet files under the cache
root, keyed by workload name, seed, the generator's ``GEN_VERSION`` and
this file's ``INPUT_VERSION``. A ``meta.json`` written last marks the
entry complete and records what the input holds (rows, tokens, chunks),
how long generation took, and — once the first run has encoded it — the
codec mix that every later run with that seed must reproduce exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from parquet_playground_rs_spark.operators.encode import DEFAULT_CHUNK
from parquet_playground_rs_spark.sources.generator import (
    GEN_VERSION, SOURCES, sequences_df)

# bump when a size or shape below changes: cached inputs must not be
# reused across a different definition
INPUT_VERSION = 2

# The measured sizes (LAYERS.md gives the timings they produce).
SIZES = {
    # sources.generator default shape
    "encode_mixed": {"rows": 12_000, "files": 8},
    # long documents: sequences_df(base_len=8192, len_span=24576)
    "decode_long": {"rows": 150, "files": 4,
                    "base_len": 8192, "len_span": 24576},
    # a base of `base_files` files, then one file per append, all of
    # `rows` rows with disjoint doc_ids
    "pipeline_append": {"rows": 150, "base_files": 8, "append_files": 6},
    # Zipf(1.2) words over a fixed vocabulary, for the tokenizer layer
    "zipf_docs": {"docs": 2_000, "files": 4, "min_words": 50,
                  "max_words": 600, "vocab": 200_000, "zipf_s": 1.2},
}

# Where an operation's input is a few hundred of the generator's rows,
# the binomial counts of its row classes and of its ~2% 20x-long rows
# swing the work per operation, the codec mix and the compression ratio
# by tens of percent between seeds. Those inputs are stratified: still
# the generator's rows, in id order within each stratum, but every group
# of rows takes each class's expected share, and exactly LONG_SHARE long
# rows drawn from the classes in order of their share and from equal
# bands of the long-row length range.
LONG_SHARE = 0.02
# Upper bounds of the generator's row-class ranges over
# `cls = xxhash64(id, seed + 2) >>> 1 % 100` (sources/generator.py):
# constant (with the empty and singleton rows), runs, low cardinality,
# narrow range, ramp, motif, uniform random, extremes.
ROW_CLASS_BOUNDS = (12, 27, 47, 62, 82, 92, 98, 100)


def chunk_count(n_tok: np.ndarray, chunk: int = DEFAULT_CHUNK) -> int:
    """Encoded rows for documents of these lengths (empty rows keep one
    chunk)."""
    n_tok = np.asarray(n_tok, dtype=np.int64)
    return int(np.maximum(-(-n_tok // chunk), 1).sum())


class InputCache:
    def __init__(self, root: str):
        self.root = root

    def entry(self, workload: str, seed: int) -> str:
        return os.path.join(
            self.root,
            f"{workload}_s{seed}_g{GEN_VERSION}_i{INPUT_VERSION}")

    def load(self, workload: str, seed: int) -> tuple[str, dict] | None:
        path = self.entry(workload, seed)
        try:
            with open(os.path.join(path, "meta.json")) as f:
                return path, json.load(f)
        except FileNotFoundError:
            return None

    def generate(self, spark, workload: str, seed: int) -> tuple[str, dict]:
        path = self.entry(workload, seed)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        t0 = time.perf_counter()
        meta = _GENERATORS[workload](spark, path, seed, SIZES[workload])
        meta["gen_s"] = time.perf_counter() - t0
        meta["seed"] = seed
        self.save_meta(path, meta)
        return path, meta

    def spawn(self, entries: list[str], seed: int, log_path: str):
        """Start generating the missing entries in a child process with a
        Spark driver of its own, so the measured session never runs the
        generator's jobs (their JIT warm-up would make a run that
        generated faster than one that found its input cached). Returns
        the child, or None when every entry is cached."""
        missing = [e for e in entries if self.load(e, seed) is None]
        if not missing:
            return None
        root = Path(__file__).resolve().parent.parent
        with open(log_path, "w") as log:
            return subprocess.Popen(
                [sys.executable, "-m", "perfbench.inputs", str(seed),
                 self.root, *missing],
                cwd=root, stdout=log, stderr=subprocess.STDOUT)

    def get(self, workload: str, seed: int) -> tuple[str, dict]:
        hit = self.load(workload, seed)
        if hit is None:
            raise RuntimeError(f"input {workload} seed {seed} is missing")
        return hit

    @staticmethod
    def save_meta(path: str, meta: dict) -> None:
        tmp = os.path.join(path, "meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, sort_keys=True)
        os.replace(tmp, os.path.join(path, "meta.json"))


def parquet_column_bytes(path: str, column: str) -> int:
    """Compressed bytes of one top-level column across a parquet dir."""
    total = 0
    for f in Path(path).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema.split(".")[0] == column:
                    total += col.total_compressed_size
    return total


def _write_reference(df, path: str, partition_by: str | None = None) -> None:
    """The token table in the reference config: a plain list<int32>
    column, ZSTD + dictionary."""
    w = (df.select("doc_id", "tokens", "n_tok", "source", *(
        [partition_by] if partition_by else [])).write
         .option("parquet.enable.dictionary", "true")
         .option("compression", "zstd"))
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def _reference_bytes(spark, data_dir: str, path: str) -> int:
    ref = os.path.join(path, "reference")
    _write_reference(spark.read.parquet(data_dir), ref)
    n = parquet_column_bytes(ref, "tokens")
    shutil.rmtree(ref)
    return n


def _token_meta(data_dir: str) -> dict:
    n_tok = pq.read_table(data_dir, columns=["n_tok"]).column(
        "n_tok").to_numpy()
    return {"rows": int(n_tok.size), "tokens": int(n_tok.sum()),
            "chunks": chunk_count(n_tok)}


def _gen_encode_mixed(spark, path, seed, size) -> dict:
    data = os.path.join(path, "data")
    (sequences_df(spark, size["rows"], seed=seed, partitions=size["files"])
     .write.option("compression", "snappy").parquet(data))
    return {**_token_meta(data),
            "reference_bytes": _reference_bytes(spark, data, path)}


def _row_class(seed: int):
    """The generator's row-class bucket (0..7) of a row, from its doc_id."""
    cls = F.shiftrightunsigned(F.xxhash64(
        F.substring("doc_id", 5, 12).cast("long"), F.lit(seed + 2)), 1) % 100
    return sum((cls >= b).cast("int") for b in ROW_CLASS_BOUNDS[:-1])


def _apportion(shares, total: int) -> list[int]:
    """Integer counts summing to `total`, largest remainders first."""
    raw = [x * total for x in shares]
    out = [int(r) for r in raw]
    for i in sorted(range(len(raw)), key=lambda i: out[i] - raw[i])[
            :total - sum(out)]:
        out[i] += 1
    return out


def _stratified(spark, seed, groups: int, rows: int, **shape):
    """The generator's table restricted to `groups` groups of `rows`
    rows with equal class and long-row counts: (DataFrame of the chosen
    rows, {doc_id: group}). The k-th long row of a group comes from the
    k-th class by share and from the k-th of n_long equal bands of the
    long-row length range, so every group's long rows have the same
    spread of lengths: the longest document sets the reassembly's
    slowest task."""
    n_long = round(LONG_SHARE * rows)
    bounds = (0,) + ROW_CLASS_BOUNDS
    shares = [(hi - lo) / 100 for lo, hi in zip(bounds, bounds[1:])]
    quota = {(c, False, 0): q
             for c, q in enumerate(_apportion(shares, rows - n_long))}
    by_share = sorted(range(len(shares)), key=lambda c: (-shares[c], c))
    for k in range(n_long):
        key = (by_share[k % len(shares)], True, k)
        quota[key] = quota.get(key, 0) + 1
    # a normal row is at most base_len + len_span - 1 tokens; a long one
    # is 20x a normal base length: 20 * [base_len, base_len + len_span)
    base_len = shape.get("base_len", 64)
    len_span = shape.get("len_span", 448)
    cut = base_len + len_span

    def key_of(r):
        if r["n_tok"] < cut:
            return (r["c"], False, 0)
        band = (r["n_tok"] // 20 - base_len) * max(1, n_long) // len_span
        return (r["c"], True, band)

    pool = 4 * groups * rows
    while True:
        strata: dict[tuple, list[str]] = {k: [] for k in quota}
        for r in (sequences_df(spark, pool, seed=seed, **shape)
                  .select("doc_id", "n_tok", _row_class(seed).alias("c"))
                  .orderBy("doc_id").collect()):
            strata.setdefault(key_of(r), []).append(r["doc_id"])
        if all(len(strata[k]) >= groups * q for k, q in quota.items()):
            break
        if pool > 1024 * groups * rows:
            raise RuntimeError("no candidate pool fills the strata")
        pool *= 2
    group = {}
    for k, q in quota.items():
        for g in range(groups):
            for d in strata[k][g * q:(g + 1) * q]:
                group[d] = g
    df = sequences_df(spark, pool, seed=seed, **shape).filter(
        F.col("doc_id").isin(list(group)))
    return df, group


def _gen_decode_long(spark, path, seed, size) -> dict:
    data = os.path.join(path, "data")
    df, _ = _stratified(spark, seed, 1, size["rows"],
                        base_len=size["base_len"], len_span=size["len_span"])
    (df.repartition(size["files"], "doc_id")
     .write.option("compression", "snappy").parquet(data))
    return {**_token_meta(data),
            "reference_bytes": _reference_bytes(spark, data, path)}


def _gen_pipeline_append(spark, path, seed, size) -> dict:
    """One file per group, doc_id-sorted; file name order is the order
    the run consumes them in."""
    n_files = size["base_files"] + size["append_files"]
    rows_dir = os.path.join(path, "rows")
    df, group = _stratified(spark, seed, n_files, size["rows"])
    df.write.option("compression", "snappy").parquet(rows_dir)
    table = pq.read_table(rows_dir)
    shutil.rmtree(rows_dir)
    gid = np.array([group[d] for d in table.column("doc_id").to_pylist()])
    stage = os.path.join(path, "stage")
    os.makedirs(stage)
    per_file = []
    for g in range(n_files):
        t = table.filter(pa.array(gid == g)).sort_by("doc_id")
        name = f"part-{g:05d}.parquet"
        pq.write_table(t, os.path.join(stage, name), compression="snappy")
        n_tok = t.column("n_tok").to_numpy()
        per_file.append({"file": name, "rows": t.num_rows,
                         "tokens": int(n_tok.sum()),
                         "chunks": chunk_count(n_tok)})
    # the reference config per file: the run compares against the files
    # it consumed
    ref = os.path.join(path, "reference")
    _write_reference(spark.read.parquet(stage).withColumn(
        "file", F.regexp_extract(F.input_file_name(),
                                 r"part-(\d+)\.parquet", 1).cast("int")),
        ref, partition_by="file")
    for g, f in enumerate(per_file):
        f["reference_bytes"] = parquet_column_bytes(
            os.path.join(ref, f"file={g}"), "tokens")
        if not f["reference_bytes"]:
            raise RuntimeError(f"no reference bytes for {f['file']}")
    shutil.rmtree(ref)
    meta = _token_meta(stage)
    meta["files"] = per_file
    return meta


def _gen_zipf_docs(spark, path, seed, size) -> dict:
    """Documents of Zipf-distributed words, built in numpy from the seed
    alone. Word strings are a seeded permutation of the vocabulary, so
    alphabetical rank (the token id) is unrelated to frequency rank."""
    rng = np.random.default_rng(seed)
    v = size["vocab"]
    words = np.array([f"w{x:06d}" for x in rng.permutation(v)], dtype=object)
    cdf = np.cumsum(np.arange(1, v + 1, dtype=np.float64) ** -size["zipf_s"])
    cdf /= cdf[-1]
    n_docs = size["docs"]
    lens = rng.integers(size["min_words"], size["max_words"] + 1, n_docs)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum()))),
                       v - 1)
    tokens = words[ranks]
    ends = np.cumsum(lens)
    texts = [" ".join(tokens[e - n:e]) for e, n in zip(ends, lens)]
    sources = np.array(SOURCES)[rng.integers(0, len(SOURCES), n_docs)]
    data = os.path.join(path, "data")
    os.makedirs(data)
    per = -(-n_docs // size["files"])
    for i in range(size["files"]):
        sl = slice(i * per, min((i + 1) * per, n_docs))
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(n_docs)[sl], pa.int64()),
            "text": pa.array(texts[sl], pa.string()),
            "source": pa.array(sources[sl], pa.string()),
        }), os.path.join(data, f"part-{i:05d}.parquet"),
            compression="snappy")
    return {"rows": n_docs, "tokens": int(lens.sum()),
            "chunks": chunk_count(lens),
            "distinct_words": int(np.unique(ranks).size)}


_GENERATORS = {
    "encode_mixed": _gen_encode_mixed,
    "decode_long": _gen_decode_long,
    "pipeline_append": _gen_pipeline_append,
    "zipf_docs": _gen_zipf_docs,
}

def main(argv: list[str]) -> int:
    """python3 -m perfbench.inputs <seed> <cache root> <entry>..."""
    from perfbench.sparkproc import start_session, stop_session

    seed, root, *entries = argv
    spark = start_session(len(os.sched_getaffinity(0)), "2g",
                          app="perfbench-inputs")
    try:
        for e in entries:
            InputCache(root).generate(spark, e, int(seed))
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
