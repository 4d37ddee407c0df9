"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``perfbench/workloads.py``) as one driver process on
``local[nproc]`` and prints, as the last line of standard output, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run first
measures untraced, then repeats the timed window traced (job-group tags,
uncompressed event log, Catalyst phase timings, spans) and the metrics are
the per-layer ones. The line before it is a JSON object of run details:
parallelism, versions, contention anchors, the workload's named
end-to-end figures, and failures.

Inputs are generated from ``--seed`` and cached under ``.perfbench/cache``;
each run's scratch space is ``.perfbench/runs/<id>`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.workloads import CENSUS, WORKLOADS, ContractSweep  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "iter_s": "s",
    "op_p50_s": "s",
}

SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
                  "spill_bytes", "py_bytes")  # per iteration of the traced timed window


def _per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s"}
    for m in ("reference", "relational", "temporal", "functions", "llm"):
        units.update({f"queries_{m}.build_s": "s", f"queries_{m}.run_s": "s",
                      f"queries_{m}.jobs": "count", f"queries_{m}.shuffle_bytes": "bytes"})
    units.update({f"q.{q}.jobs": "count" for q in ContractSweep.SWEEP})
    units.update({
        "capture.s": "s", "capture.jobs": "count", "capture.shuffle_bytes": "bytes",
        "capture.rows_kept_ratio": "ratio", "generator.s": "s",
        "jsonio.sink_s": "s", "jsonio.files_written": "count", "jsonio.bytes_written": "bytes",
        "jsonio.restore_s": "s",
        "pipeline.build_s": "s", "pipeline.run_s": "s", "pipeline.jobs": "count",
        "dedup.s": "s", "dedup.candidate_pairs": "count", "dedup.true_pair_ratio": "ratio",
        "dedup.shuffle_bytes": "bytes", "textnorm.py_bytes": "bytes", "textnorm.py_s": "s",
        "quality.s": "s", "curation.s": "s", "packing.s": "s",
        "ingest.batch_s": "s", "ingest.jobs_per_batch": "count", "ingest.bytes_written": "bytes",
        "retrieval.serve_jobs": "count", "retrieval.files_read": "count", "retrieval.compact_s": "s",
        "retrieval.bytes_rewritten": "bytes",
        "vecstore.serve_jobs": "count", "vecstore.rows_scanned_per_result": "ratio",
        "vecstore.compact_s": "s", "vecstore.bytes_rewritten": "bytes",
    })
    units.update({f"spark.{c}": ("s" if c.endswith("_s") else "bytes" if c.endswith("bytes") else "count")
                  for c in SPARK_COUNTERS})
    units.update({"spark.catalyst_s": "s", "spark.driver_gap_s": "s",
                  "trace.wall_s": "s", "trace.span_s": "s", "trace.overhead_s": "s",
                  "trace.overhead_frac": "ratio"})
    return units


PER_LAYER = _per_layer_units()


def measure(wl, spark, seconds: int, tr) -> tuple[float, float, int]:
    """Closed loop over the workload's iterations for a ``seconds`` window.
    Returns (epoch start, epoch end, iterations)."""
    wl.reset_samples()
    t0 = time.time()
    n = wl.iterations(seconds)
    for it in range(n):
        wl.iterate(spark, it, tr)
    return t0, time.time(), n


def per_layer(wl, tr, log_dir: str, window: tuple[float, float], iterations: int,
              session_start_s: float, untraced_iter_s: float, traced_iter_s: float) -> dict:
    from perfbench.trace import attribute, parse_event_log, uncovered

    jobs = parse_event_log(log_dir)
    counters = attribute(tr.spans, jobs)
    out = dict.fromkeys(PER_LAYER, 0)
    out["session.start_s"] = session_start_s
    wl.layers(tr.spans, counters, out)
    timed = [s for s in tr.spans if s["iteration"] != CENSUS]
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = sum(counters.get(s["id"], {}).get(c, 0) for s in timed) / iterations
    out["spark.catalyst_s"] = sum(tr.catalyst_s.get(s["id"], 0.0) for s in timed) / iterations
    out["spark.driver_gap_s"] = uncovered(window, [(j["submit"], j["end"]) for j in jobs]) / iterations
    out["trace.wall_s"] = (window[1] - window[0]) / iterations
    self_s = tr.self_times()
    out["trace.span_s"] = sum(self_s[s["id"]] for s in timed) / iterations
    out["trace.overhead_s"] = traced_iter_s - untraced_iter_s
    out["trace.overhead_frac"] = out["trace.overhead_s"] / untraced_iter_s
    return out


def run(workload: str, seed: int, seconds: int, trace: bool, wl=None) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, details)."""
    run_dir = os.path.join(harness.WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    harness.prepare_env(run_dir)
    import pyspark

    import pulsar_replay_spark  # noqa: F401  (fail fast, before any timing)
    from perfbench.trace import Tracer

    cpus = harness.cpu_count()
    details: dict = {"workload": workload, "seed": seed, "seconds": seconds, "cpus": cpus,
                     "pyspark": pyspark.__version__, "python": platform.python_version()}
    phase = harness.Phases()
    try:
        with harness.PeakRss() as rss:
            details["anchor_start"] = harness.anchor()
            phase("anchor_start")
            wl = wl or WORKLOADS[workload](seed, os.path.join(harness.WORK, "cache"), run_dir)
            wl.inputs()
            phase("inputs")
            # the run's one cold start: JVM launch, session, package import
            # and the workload's first job
            t = time.perf_counter()
            spark, start_s = harness.start_session(cpus)
            wl.warmup(spark)
            setup_s = time.perf_counter() - t
            phase("setup")
            details["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
            details["prepare"] = wl.prepare(spark)
            phase("prepare")
            _, _, details["iterations"] = measure(wl, spark, seconds, Tracer(False, workload))
            e2e, named = wl.summary()
            details["samples"] = wl.samples
            phase("measure")
            if trace:
                log_dir = os.path.join(run_dir, "eventlog")
                spark, _ = harness.start_session(cpus, spark, event_log=log_dir)
                wl.warmup(spark)
                tr = Tracer(True, workload)
                tr.sc = spark.sparkContext
                t0, t1, n = measure(wl, spark, seconds, tr)
                traced_e2e = wl.summary()[0]
                details["census"] = wl.census(spark, tr)
                spark.stop()
                phase("traced_measure_and_census")
                layers = per_layer(wl, tr, log_dir, (t0, t1), n, start_s, e2e["iter_s"],
                                   traced_e2e["iter_s"])
                details["traced"] = traced_e2e
                tr.dump(os.path.join(harness.WORK, f"spans-{workload}-{seed}.jsonl"))
            else:
                spark.stop()
            harness.stop_jvm()
            phase("stop")
            details["anchor_end"] = harness.anchor()
            phase("anchor_end")
        details["phase_s"] = phase.times
        details["degraded"] = harness.degraded(details["anchor_start"], details["anchor_end"])
        e2e.update(setup_s=setup_s, peak_rss_mb=rss.peak / 2**20)
        details["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
        details["errors"] = wl.errors
        details["fail_frac"] = len(wl.errors) / max(1, wl.attempted)
        details["end_to_end"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        if trace:
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = details["end_to_end"]
        result = {"correct": not wl.errors, "attempted": wl.attempted, "failed": len(wl.errors),
                  "metrics": metrics}
        return result, details
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    result, details = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"details": details}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
