"""Benchmark driver: one workload, one seed, one closed loop of batch jobs.

    python3 perfbench/run.py --workload {real_pages,crawl_sink} --seed N \
        --seconds S --trace {0,1}

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` (output rows checked / wrong) and ``metrics``: the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
The line before it carries ``error_ratio``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import spark_env  # noqa: E402
from perfbench.tracing import REPLAY_HOOKS  # noqa: E402


END_TO_END = {
    "docs_per_s": "docs/s",
    "input_mb_per_s": "MB/s",
    "setup_s": "s",
    "py_worker_rss_peak_mb": "MB",
}

#: the replay's spans: extract_one and the public functions it calls
_REPLAY_SPANS = ["extract.extract_one", *dict.fromkeys(name for name, _, _ in REPLAY_HOOKS)]

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_extract_s": "s",
    "session.jvm_rss_peak_mb": "MB",
    "scan.s": "s",
    "scan.input_partitions": "count",
    "scan.sql_scan_time_s": "s",
    "scan.sql_files_mb_read": "MB",
    "job.python_total_s": "s",
    "job.python_boot_s": "s",
    "job.python_init_s": "s",
    "job.arrow_mb_to_python": "MB",
    "job.arrow_mb_from_python": "MB",
    "job.rows_from_python": "count",
    "job.exchanges": "count",
    "job.shuffle_mb_written": "MB",
    "job.payload_shuffle_ratio": "ratio",
    "job.extract_ms_p50": "ms",
    "job.extract_ms_p99": "ms",
    "job.extract_ms_max": "ms",
    "job.ok_ratio": "ratio",
    **{f"{s}_us": "us" for s in _REPLAY_SPANS},
    **{f"{s}_self_us": "us" for s in _REPLAY_SPANS},
    "extract.replay_coverage": "ratio",
    "singlepage.resolve_s": "s",
    "multipage.resolve_s": "s",
    "multipage.hops": "count",
    "manifest.write_s": "s",
    "manifest.buckets": "count",
    "manifest.output_mb": "MB",
    "manifest.resume_s": "s",
    "manifest.resume_rows_left": "count",
    "textstats.gopher_quality_filter_s": "s",
    "dedup.exact_duplicates_s": "s",
    "dedup.minhash_lsh_pairs_s": "s",
    "dedup.semantic_dedup_s": "s",
    "similarity.ivfpq_topk_s": "s",
    "similarity.ivf_sq8_topk_s": "s",
    "graph.pagerank_s": "s",
    "dedup.minhash_lsh_shuffle_mb": "MB",
    "trace.docs_per_s_untraced": "docs/s",
    "trace.docs_per_s_traced": "docs/s",
    "trace.overhead_ratio": "ratio",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, with seconds since start."""
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def timed_loop(workload, spark, tracer, seconds: float, min_jobs: int, interleave: bool = False):
    """Closed loop: the next job starts when the previous one has finished
    and been checked.  Runs until ``seconds`` of job time are spent and at
    least ``min_jobs`` jobs have run.  With ``interleave``, jobs run in
    untraced, traced, traced, untraced blocks, so that both kinds see the
    same warming, and the loop ends on a whole block."""
    from perfbench.tracing import last_execution_id, sql_metrics

    block = 4 if interleave else 1
    results, spent, i = [], 0.0, 1
    while spent < seconds or len(results) < min_jobs or len(results) % block:
        os.sync()  # the previous job's write-back must not land in this job's time
        traced = interleave and i % 4 in (2, 3)
        tracer.enabled = traced
        before = last_execution_id(spark) if traced else None
        tracer.run_id = f"job-{i}"
        res = workload.run_job(spark, tracer, i)
        res.traced = traced
        if traced:
            res.layers["sql"] = sql_metrics(spark, before, res.last_execution)
        results.append(res)
        log(f"job {i}{' traced' if traced else ''}: {res.wall_s:.2f}s, "
            f"{res.failed} of {res.rows} rows failed")
        spent += res.wall_s
        i += 1
    tracer.enabled = interleave
    return results


def rates(results) -> tuple[float, float]:
    """Documents and input MB completed per second of timed job wall time."""
    wall = sum(r.wall_s for r in results)
    return sum(r.docs for r in results) / wall, sum(r.input_bytes for r in results) / 1e6 / wall


def layer_metrics(workload, spark, tracer, seed: int, traced_jobs, untraced_docs: float):
    """Per-layer numbers for a traced run (values per job, or per document
    for the ``_us`` replay spans)."""
    from perfbench import curation
    from perfbench.tracing import metric_sum, replay

    m = {name: 0.0 for name in PER_LAYER}
    n = len(traced_jobs)
    sql = [r.layers["sql"] for r in traced_jobs]

    def per_job(node: str, metric: str) -> float:
        return sum(metric_sum(s, node, metric) for s in sql) / n

    m["job.python_total_s"] = per_job("MapInPandas", "time to run Python workers")
    m["job.python_boot_s"] = per_job("MapInPandas", "time to start Python workers")
    m["job.python_init_s"] = per_job("MapInPandas", "time to initialize Python workers")
    m["job.arrow_mb_to_python"] = per_job("MapInPandas", "data sent to Python workers") / 1e6
    m["job.arrow_mb_from_python"] = per_job("MapInPandas", "data returned from Python workers") / 1e6
    m["job.rows_from_python"] = per_job("MapInPandas", "number of output rows")
    m["scan.sql_scan_time_s"] = per_job("Scan", "scan time")
    m["scan.sql_files_mb_read"] = per_job("Scan", "size of files read") / 1e6
    m["job.exchanges"] = sum(s.get(("Exchange", "#nodes"), 0.0) for s in sql) / n
    m["job.shuffle_mb_written"] = per_job("Exchange", "shuffle bytes written") / 1e6
    m["job.payload_shuffle_ratio"] = m["job.shuffle_mb_written"] * 1e6 / workload.input_bytes
    traced_docs, _ = rates(traced_jobs)
    m["trace.docs_per_s_untraced"] = untraced_docs
    m["trace.docs_per_s_traced"] = traced_docs
    m["trace.overhead_ratio"] = untraced_docs / traced_docs
    for key in ("manifest.buckets", "manifest.output_mb", "manifest.resume_rows_left", "multipage.hops"):
        if key in traced_jobs[-1].layers:
            m[key] = traced_jobs[-1].layers[key]

    # scan-only pass over the columns the extraction reads
    needed = ["url", "warc_ts", "html", "lang", "content_type", "http_status"]
    scan = spark.read.parquet(workload.path)
    scan = scan.select(*[c for c in needed if c in scan.columns])
    m["scan.input_partitions"] = float(scan.rdd.getNumPartitions())
    walls = []
    for _ in range(3):
        started = time.perf_counter()
        with tracer.span("scan.read"):
            scan.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - started)
    m["scan.s"] = statistics.median(walls)
    log("scan pass done")

    # per-row outcome from the emitted extract_ms column
    tracer.run_id = "outcome"
    out = workload.extraction(spark, ["is_success", "extract_ms"]).toPandas()
    ms = out["extract_ms"].astype(float)
    m["job.extract_ms_p50"] = float(ms.quantile(0.5))
    m["job.extract_ms_p99"] = float(ms.quantile(0.99))
    m["job.extract_ms_max"] = float(ms.max())
    m["job.ok_ratio"] = float(out["is_success"].mean())
    log("outcome pass done")

    attempted = failed = 0
    # layer split with each stage's input materialized first
    if hasattr(workload, "staged_pass"):
        staged = workload.staged_pass(spark, tracer)
        m.update({k: v for k, v in staged.layers.items() if k in m})
        attempted, failed = staged.rows, staged.failed
        log("staged pass done")

    # single-threaded extract_one replay
    rows = workload.replay_rows(spark, seed)
    replay(tracer, rows, workload.ruleset, workload.options)
    totals = tracer.totals(prefix="replay-")
    log(f"replay of {len(rows)} pages done")
    for name in _REPLAY_SPANS:
        agg = totals.get(name, {"total": 0.0, "self": 0.0})
        m[f"{name}_us"] = agg["total"] / len(rows) * 1e6
        m[f"{name}_self_us"] = agg["self"] / len(rows) * 1e6
    if m["job.python_total_s"] > 0:
        m["extract.replay_coverage"] = (
            m["extract.extract_one_us"] * 1e-6 * workload.docs / m["job.python_total_s"]
        )

    if getattr(workload, "curation", False):
        cur, cur_attempted, cur_failed = curation.run(spark, tracer, seed)
        m.update(cur)
        log("curation operators done")
        attempted += cur_attempted
        failed += cur_failed
    return m, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spark_env.check_checkout()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    spark_env.prepare_env()
    from perfbench.tracing import ProcSampler, Tracer

    # one cold set-up per run: see perfbench/README.md for why not several
    spark, get_spark_s, first_extract_s = spark_env.start_session()
    log(f"set-up {get_spark_s:.2f}s + {first_extract_s:.2f}s")
    sampler = ProcSampler()
    sampler.start()
    tracer = Tracer()  # end-to-end numbers are taken untraced
    try:
        workload = WORKLOADS[args.workload]()
        workload.generate(spark, args.seed)
        log(f"generated {workload.docs} docs, {workload.input_bytes / 1e6:.1f} MB")
        # the first jobs absorb worker imports, JIT and per-worker caches;
        # they are checked, not timed
        attempted = failed = 0
        for k in range(workload.warm_jobs):
            warm = workload.run_job(spark, tracer, f"warm-{k}")
            log(f"warm-up job {k}: {warm.wall_s:.2f}s")
            attempted += warm.rows
            failed += warm.failed
        if args.trace:
            jobs = timed_loop(workload, spark, tracer, args.seconds, 4, interleave=True)
            plain = [r for r in jobs if not r.traced]
            metrics, cur_attempted, cur_failed = layer_metrics(
                workload, spark, tracer, args.seed, [r for r in jobs if r.traced], rates(plain)[0]
            )
            metrics["session.get_spark_s"] = get_spark_s
            metrics["session.first_extract_s"] = first_extract_s
            attempted += cur_attempted
            failed += cur_failed
        else:
            jobs = timed_loop(workload, spark, tracer, args.seconds, workload.min_jobs)
            docs_per_s, mb_per_s = rates(jobs)
            metrics = {
                "docs_per_s": docs_per_s,
                "input_mb_per_s": mb_per_s,
                "setup_s": get_spark_s + first_extract_s,
            }
        attempted += sum(r.rows for r in jobs)
        failed += sum(r.failed for r in jobs)
    finally:
        sampler.stop()
        spark_env.stop_session(spark)
        log(f"session stopped; {sum(k == 'worker' for k, _ in sampler.hwm_kb.values())} Python workers seen")
        spark_env.wait_gone(sampler.pids())
    if args.trace:
        metrics["session.jvm_rss_peak_mb"] = sampler.peak_mb("jvm")
        tracer.write(os.path.join(spark_env.WORK, "spans.jsonl"))
        units = PER_LAYER
    else:
        metrics["py_worker_rss_peak_mb"] = sampler.peak_mb("worker")
        units = END_TO_END
    print(json.dumps({"error_ratio": {"value": failed / attempted, "unit": "ratio"}}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
