#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload encode_mixed --seed 1 \\
        --seconds 10 --trace 0

One driver process on ``local[<nproc>]``, one closed-loop client. With
``--trace 0`` the run measures the end-to-end metrics with tracing off;
with ``--trace 1`` it records spans around each layer call, reads Spark's
status store per job group and reports the per-layer metrics instead.
The metric names and units come from ``BENCHMARK.json``; the last line
of standard output is the result object. The exit code is 0 when every
operation passed its correctness checks, 1 when one failed, 2 when the
run could not start or could not measure.

Inputs are generated from the seed and cached under ``.perfbench/cache``;
work files, Spark scratch and the run's details (spans, per-op walls)
stay under ``.perfbench/`` as well.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.spans import cpu_ticks, median, steal_frac, tail  # noqa: E402

STATE = ROOT / ".perfbench"
# local mode runs the executors inside the driver JVM; 4 GB of heap
# leaves most of a 15 GB box to the Python workers and the page cache
DRIVER_MEM = "4g"
SETUP_REPS = 3
MIN_OPS = 3
DEADLINE_S = 120.0  # stop starting new loop ops past this run age
GEN_TIMEOUT_S = 600
TRACE_REPS = 3


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: Path) -> None:
    """Keep every file the JVM, the Python workers and the temp-file
    helpers write inside the checkout; must run before pyspark starts."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # -UsePerfData: no /tmp/hsperfdata_<user> file per JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work / 'tmp'} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        "pyspark-shell"])


class Run:
    """State of one run: the session, instruments, and op accounting."""

    def __init__(self, args, spark, cache, work: Path, tracer, store):
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = spark
        self.cache = cache
        self.work = str(work)
        self.tracer = tracer
        self.store = store
        self.t_start = time.perf_counter()
        self.phases: dict[str, float] = {}  # run age at the end of each
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def attempt(self, name, body, check, group: str | None = None):
        """One operation: timed body, then untimed checks. Returns
        (ok, result, wall)."""
        self.attempted += 1
        try:
            with self.tracer.span(name, group=group) as s:
                res = body()
            wall = s["end"] - s["start"]
            bad = check(res)
        except Exception:  # an op that raises counts as failed
            self.failed += 1
            self.problems.append(f"{name} raised:\n{traceback.format_exc()}")
            return False, None, 0.0
        if bad:
            self.failed += 1
            self.problems.extend(bad)
            return False, res, wall
        return True, res, wall

    def phase(self, name: str) -> None:
        self.phases[name] = time.perf_counter() - self.t_start

    def out_of_time(self) -> bool:
        return time.perf_counter() - self.t_start > DEADLINE_S

    def loop(self, name, body, check, warmups: int, budget: float):
        """Closed loop: `warmups` untimed (but checked) calls, then calls
        until `budget` seconds of wall, at least MIN_OPS. Returns the
        walls of the calls that passed."""
        for _ in range(warmups):
            self.attempt(f"{name}.warmup", body, check)
        walls, spent = [], 0.0
        while spent < budget or len(walls) < MIN_OPS:
            if len(walls) >= MIN_OPS and self.out_of_time():
                break
            ok, _, wall = self.attempt(name, body, check)
            spent += wall
            if not ok:
                break
            walls.append(wall)
        return walls


def untraced(run: Run, w, m: dict) -> dict:
    from perfbench.workloads import verify_call

    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        w.setup()
        setups.append(time.perf_counter() - t0)
    m["setup_s"] = median(setups)
    run.phase("setup")
    ticks = cpu_ticks()
    walls = run.loop("op", w.op, w.check, w.warmup_ops, run.seconds)
    run.phase("op")
    steal = steal_frac(ticks)
    run.attempt("verify", *verify_call(w))
    run.phase("verify")
    m["op_tok_per_s"] = w.meta["tokens"] / median(walls)
    m["compression_vs_reference"] = w.compression_vs_reference()
    return {"setup_walls": setups, "op_walls": walls,
            "op_p50_s": median(walls),
            "op_tail": dict(zip(("value", "percentile", "samples"),
                                tail(walls))),
            "host_steal_frac": steal}


def traced(run: Run, w, m: dict) -> dict:
    """Per-layer run. Each rep runs an untagged op and a job-group-tagged
    op with the workload's ladder rungs between them, alternating which
    of the two comes first, so the rungs, the traced op and the untraced
    op they are compared with are measured at the same point of the
    session's warm-up."""
    from perfbench.spans import STAGE_METRICS
    from perfbench.workloads import (PATH_LAYERS, counters, kernel_layers,
                                     verify_call)

    tr = run.tracer
    ticks = cpu_ticks()
    with tr.span("setup"):
        w.setup()
    for _ in range(w.warmup_ops):
        run.attempt("op.warmup", w.op, w.check)
    plain, tagged = [], []
    rung_walls = {name: [] for name, _ in w.rungs()}
    for rep in range(TRACE_REPS):
        order = (None, f"op.{rep}") if rep % 2 == 0 else (f"op.{rep}", None)
        for i, group in enumerate(order):
            ok, _, wall = run.attempt("op", w.op, w.check, group=group)
            if ok:
                (plain.append(wall) if group is None
                 else tagged.append((wall, group)))
            if i == 0:
                for name, fn in w.rungs():
                    with tr.span(f"ladder.{name}",
                                 group=f"ladder.{name}") as s:
                        fn()
                    rung_walls[name].append(s["end"] - s["start"])
    vwalls = run.loop("verify", *verify_call(w), 1, 0.0)
    m["host.steal_frac"] = steal_frac(ticks)

    stage = dict.fromkeys(STAGE_METRICS, 0.0)
    spark_s, jobs = [], []
    for _, g in tagged:
        for k, v in run.store.group_stages(g).items():
            stage[k] += v / len(tagged)
        n, s = run.store.group_jobs(g)
        jobs.append(n)
        spark_s.append(s)
    m.update({f"op.{k}": v for k, v in stage.items()})
    op_traced = median([x for x, _ in tagged])
    op_plain = median(plain)
    m["op.spark_s"] = median(spark_s)
    m["op.driver_s"] = median([x - s for (x, _), s in zip(tagged, spark_s)])
    m["op.spark_jobs"] = median(jobs)
    m["trace.overhead_frac"] = op_traced / op_plain - 1.0
    m.update(dict.fromkeys(PATH_LAYERS, 0.0))
    m.update(w.ladder_from({k: median(v) for k, v in rung_walls.items()},
                           op_traced))
    m["ladder.sum_s"] = sum(m[k] for k in w.ladder_keys)
    m["ladder.coverage"] = m["ladder.sum_s"] / op_plain
    m["verify.tok_per_s"] = w.meta["tokens"] / median(vwalls)
    with tr.span("kernels"):
        m.update(kernel_layers(w.kernel_sample()))
    m.update(counters(w))
    m.update(w.side_layers())
    return {"op_walls_untraced": plain, "op_walls_traced": tagged,
            "ladder_walls": rung_walls, "verify_walls": vwalls,
            "spans": tr.dump()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        import parquet_playground_rs_spark  # noqa: F401  the engine
    except (OSError, ValueError, ImportError) as e:
        log(f"perfbench: cannot start: {e!r}")
        return 2
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        log(f"perfbench: unknown workload {args.workload!r}; one of {names}")
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    run_dir = STATE / "work" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)

    from perfbench.inputs import InputCache
    from perfbench.spans import PeakRss, StatusStore, Tracer
    from perfbench.sparkproc import start_session, stop_session
    from perfbench.workloads import WORKLOADS, warm

    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    m: dict[str, float] = {}
    detail: dict = {}
    cache = InputCache(str(STATE / "cache"))
    gen_log = run_dir / "inputs.log"
    entries = [wl.name] + (list(wl.side_inputs) if args.trace else [])
    cores = len(os.sched_getaffinity(0))
    spark = run = None
    with PeakRss() as rss:
        child = cache.spawn(entries, args.seed, str(gen_log))
        if child is not None:  # input generation is not the measured run
            rss.exclude(child.pid)
        try:
            t0 = time.perf_counter()
            spark = start_session(cores, DRIVER_MEM)
            store = StatusStore(spark)
            tracer = Tracer(run_id, store, enabled=bool(args.trace))
            run = Run(args, spark, cache, run_dir, tracer, store)
            warm(spark)
            m["session.start_s"] = time.perf_counter() - t0
            run.phase("session")
            if child is not None and child.wait(timeout=GEN_TIMEOUT_S):
                raise RuntimeError("input generation failed:\n"
                                   + gen_log.read_text()[-4000:])
            run.phase("inputs")
            w = wl(run)
            m["sources.generator.stage_s"] = w.meta["gen_s"]
            detail = (traced if args.trace else untraced)(run, w, m)
            detail["generated_now"] = child is not None
        except Exception:
            run_failed = traceback.format_exc()
        else:
            run_failed = None
        finally:
            if child is not None and child.poll() is None:
                child.kill()
                child.wait()
            if spark is not None:
                stop_session(spark)
            if run is not None:
                run.phase("stopped")
            shutil.rmtree(run_dir, ignore_errors=True)
    for p in run.problems if run is not None else []:
        log(f"perfbench: FAILED CHECK: {p}")
    if run_failed is not None:
        log(f"perfbench: run aborted:\n{run_failed}")
        return 2

    attempted, failed = run.attempted, run.failed
    m["ok_op_frac"] = (attempted - failed) / attempted
    m["peak_rss_mb"] = rss.mb()
    missing = [x["name"] for x in wanted if x["name"] not in m]
    if missing:
        log(f"perfbench: metrics not measured: {missing}")
        return 2
    detail.update({"run": run_id, "cores": cores, "seconds": args.seconds,
                   "attempted": attempted, "failed": failed,
                   "problems": run.problems, "phases": run.phases,
                   "metrics_all": m})
    out_dir = STATE / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    detail_path = out_dir / f"{run_id}.json"
    detail_path.write_text(json.dumps(detail, indent=1, default=str))
    correct = failed == 0
    shown = ("op_p50_s", "op_tail", "host_steal_frac")
    print(json.dumps({k: detail[k] for k in shown if k in detail}
                     | {"detail": str(detail_path.relative_to(ROOT))}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                    for x in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
