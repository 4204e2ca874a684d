#!/usr/bin/env python3
"""Cell-dir compaction + drift-canary width rehearsal (round 8, judge
asks #2 and #4): a long-lived IVF-PQ index grown by repeated
`append_ivf_pq_index` calls accretes ~1 file per cell PER APPEND
(measured 256 files/append in BENCH/ann_append.json) — the same
small-file accretion `compact_encoded_job` solved for the encode
pipeline. This measures, at the production shape (1M vectors / 256
cells), that:

1. after a build + 4 appends the live cells really do hold ~5 files
   each (the accretion is real, not hypothetical);
2. `compact_ivf_pq_cells` merges the live groups back to the target
   file count with the SAME query results byte-for-byte across its
   manifest publish (every (query_id, rank, neighbor_id, cosine) tuple
   identical);
3. the per-append drift canary stays QUIET on all four IID appends
   (same generator as the corpus) and FIRES on a shifted 8-mode
   Gaussian mixture the frozen centroids never saw.

Reuses the cached 1M corpus from rehearsal_ann_width. Prints ONE JSON
line; writes BENCH/index_compact.json and appends to
BENCH/ANN_WIDTH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from rehearsal_ann_width import (  # noqa: E402
    CACHE, CENTER_SCALE, CPUS, DIM, K, M_SUB, N_CELLS, N_CLUSTERS,
    N_VECS, SEED, build_corpus,
)

N_PARTS = 5  # 1 build + 4 appends
DRIFT_MODES = 8
DRIFT_SHIFT = 2.0
DRIFT_ROWS = 50_000


def cell_file_stats(idx_path: str) -> dict:
    """Data files per ``cells/cell=<j>/`` root, all groups counted (the
    compaction's GC has run, so no superseded group is left)."""
    cells = os.path.join(idx_path, "cells")
    counts = []
    for d in os.listdir(cells):
        if not d.startswith("cell="):
            continue
        counts.append(sum(
            1 for _, _, fs in os.walk(os.path.join(cells, d))
            for f in fs if not f.startswith(("_", "."))))
    return {"n_cells_on_disk": len(counts), "files_total": sum(counts),
            "files_per_cell_max": max(counts),
            "files_per_cell_mean": round(sum(counts) / len(counts), 2)}


def main() -> None:
    allowed = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, set(allowed[:min(CPUS, len(allowed))]))

    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.operators import similarity as sim
    from parquet_playground_rs_spark.session import get_spark

    spark = get_spark(app="index-compact", cores=CPUS,
                      shuffle_partitions=CPUS, driver_mem="12g")
    corpus_path = os.path.join(
        CACHE, f"ann_width_corpus_{N_VECS}_k{N_CLUSTERS}_s{CENTER_SCALE}")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        build_corpus(spark, corpus_path)
    corpus = spark.read.parquet(corpus_path)
    parts = [corpus.filter(F.col("vec_id") % N_PARTS == i)
             for i in range(N_PARTS)]

    idx_path = os.path.join(CACHE, f"index_compact_{N_VECS}_{N_CELLS}")
    shutil.rmtree(idx_path, ignore_errors=True)
    out: dict = {"n_vectors": N_VECS, "n_cells": N_CELLS, "dim": DIM,
                 "m": M_SUB, "n_appends": N_PARTS - 1}

    t0 = time.time()
    sim.write_ivf_pq_index(parts[0], DIM, idx_path, n_centroids=N_CELLS,
                           m=M_SUB, sample=max(8192, 2 * N_CELLS),
                           iters=8)
    out["build_sec"] = round(time.time() - t0, 1)

    canaries = []
    t0 = time.time()
    for p in parts[1:]:
        s = sim.append_ivf_pq_index(p, DIM, idx_path)
        canaries.append({
            "drift_alert": s["drift_alert"],
            "top_cell_share": s["drift_top_cell_share"],
            "share_limit": s["drift_top_cell_share_limit"],
            "residual_p50": s["drift_batch_residual_p50"],
            "residual_limit": s["drift_residual_limit"]})
    out["appends_sec"] = round(time.time() - t0, 1)
    out["iid_canaries"] = canaries
    out["iid_any_alert"] = any(c["drift_alert"] for c in canaries)
    assert not out["iid_any_alert"], canaries

    before = cell_file_stats(idx_path)
    out["before_compact"] = before
    assert before["files_per_cell_max"] >= N_PARTS, before

    # query snapshot across the compaction's publish: every tuple must
    # be identical
    qids = [i * 977 % N_VECS for i in range(32)]
    queries = corpus.filter(F.col("vec_id").isin(qids)) \
        .withColumn("vec_id", F.col("vec_id") + 10 * N_VECS)
    t0 = time.time()
    pre = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
                 for r in sim.ivf_pq_query(queries, DIM, idx_path, k=K,
                                           nprobe=8, refine=8).collect())
    out["query_wall_before_sec"] = round(time.time() - t0, 2)

    n0 = spark.read.parquet(f"{idx_path}/cells").count()
    t0 = time.time()
    s = sim.compact_ivf_pq_cells(spark, idx_path)
    out["compact_sec"] = round(time.time() - t0, 1)
    out["compact_summary"] = s
    out["compact_over_build"] = round(out["compact_sec"]
                                      / out["build_sec"], 3)

    after = cell_file_stats(idx_path)
    out["after_compact"] = after
    assert after["files_per_cell_max"] < before["files_per_cell_max"]
    n1 = spark.read.parquet(f"{idx_path}/cells").count()
    assert n0 == n1 == N_VECS, (n0, n1)
    out["rows_preserved"] = int(n1)

    t0 = time.time()
    post = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
                  for r in sim.ivf_pq_query(queries, DIM, idx_path, k=K,
                                            nprobe=8, refine=8).collect())
    out["query_wall_after_sec"] = round(time.time() - t0, 2)
    out["queries_identical_across_compaction"] = post == pre
    assert post == pre

    # drifted append: an 8-mode mixture shifted off the corpus — the
    # frozen centroids funnel it into the few nearest cells
    rng = np.random.default_rng(SEED + 1)
    modes = rng.standard_normal((DRIFT_MODES, DIM)) + DRIFT_SHIFT
    bc = spark.sparkContext.broadcast(modes)

    def gen(batches):
        import pyarrow as pa

        M = bc.value
        for b in batches:
            ids = b.column("id").to_numpy()
            if not len(ids):
                continue
            r = np.random.default_rng([SEED + 1, int(ids[0])])
            vecs = (CENTER_SCALE * M[ids % DRIFT_MODES]
                    + r.standard_normal((len(ids), DIM)))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids + 100 * N_VECS),
                 pa.FixedSizeListArray.from_arrays(
                     pa.array(vecs.ravel()), DIM).cast(
                     pa.list_(pa.float64()))],
                names=["vec_id", "embedding"])

    drifted = spark.range(DRIFT_ROWS, numPartitions=CPUS) \
        .mapInArrow(gen, "vec_id long, embedding array<double>")
    sd = sim.append_ivf_pq_index(drifted, DIM, idx_path)
    out["drift_canary"] = {
        "drift_alert": sd["drift_alert"],
        "occupancy_alert": sd["drift_occupancy_alert"],
        "residual_alert": sd["drift_residual_alert"],
        "top_cell_share": sd["drift_top_cell_share"],
        "share_limit": sd["drift_top_cell_share_limit"],
        "residual_p50": sd["drift_batch_residual_p50"],
        "residual_limit": sd["drift_residual_limit"]}
    assert sd["drift_alert"], sd

    bench_dir = Path(__file__).resolve().parent.parent / "BENCH"
    with open(bench_dir / "index_compact.json", "w") as fh:
        json.dump(out, fh, indent=1)
    stamp = time.strftime("%Y-%m-%d %H:%M")
    iid_max_share = max(c["top_cell_share"] for c in canaries)
    with open(bench_dir / "ANN_WIDTH.md", "a") as fh:
        fh.write(
            f"\n## Run {stamp} — cell compaction + drift canary: "
            f"{N_VECS:,} vectors / {N_CELLS} cells / 4 appends\n\n"
            f"- accretion after build+4 appends: "
            f"{before['files_per_cell_max']} files/cell max "
            f"({before['files_total']} total); after "
            f"`compact_ivf_pq_cells`: {after['files_per_cell_max']} "
            f"files/cell max ({after['files_total']} total), "
            f"{s['cells_compacted']} cells rewritten in "
            f"{out['compact_sec']} s ({out['compact_over_build']}x the "
            f"build)\n"
            f"- query results across the compaction's publish: "
            f"**{'identical' if out['queries_identical_across_compaction'] else 'MISMATCH'}** "
            f"(all 32x{K} (query, rank, neighbor, cosine) tuples); "
            f"rows preserved {out['rows_preserved']:,}\n"
            f"- drift canary: quiet on all 4 IID appends (max top-cell "
            f"share {iid_max_share}), FIRES on the shifted "
            f"{DRIFT_MODES}-mode mixture (top-cell share "
            f"{sd['drift_top_cell_share']} vs limit "
            f"{sd['drift_top_cell_share_limit']}, occupancy alert "
            f"{sd['drift_occupancy_alert']}, residual alert "
            f"{sd['drift_residual_alert']})\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
