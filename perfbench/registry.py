"""The registry workload: a fixed list of registered batch queries, each
built and written to the ``noop`` sink, pass after pass.

The first full passes are warm-up and count as set-up.  Timed passes follow
until the run's seconds are spent; each query's time is its build
(``QUERIES[name]``) plus its write.  Afterwards, outside any timed region,
every query is run through ``tools/selfcheck.check_query`` against its
DuckDB oracle over the same generated corpus.
"""

from __future__ import annotations

import os
import sys
import time
import uuid

from perfbench import common, corpus

#: One pass: every query family of the registry, at most two queries each,
#: so that a warm pass takes under ten seconds on four cores.
QUERIES = [
    # covid family
    "covid_predict",
    "covid_windowed_stats",
    # short relational queries
    "pricing_summary",
    "revenue_by_nation",
    # events
    "user_sessions",
    # driver-local graph
    "purchase_graph_pagerank",
    # Arrow Python kernel
    "embedding_semantic_dedup",
]

#: Passes before timing starts.  The JVM is still warming after one pass:
#: on four cores the second pass took about 1.17x the third, and the third
#: 1.1x the fourth.
WARMUP_PASSES = 2
#: A query's time is its median over the timed passes; with three passes
#: that is its middle sample, which one slow sample cannot move.
MIN_TIMED_PASSES = 3


def _check_pass(spark, corpus_dir: str) -> tuple[list[str], dict[str, list[str]]]:
    """Run every query against its oracle; returns the failures and the
    tables each query loaded."""
    import duckdb

    sys.path.insert(0, os.path.join(common.REPO, "tools"))
    from selfcheck import check_query

    from bigdata_covid19_real_time_spark.plans import ORACLES, QUERIES as REGISTRY
    from bigdata_covid19_real_time_spark.sources.batch import TABLES

    duck = duckdb.connect()
    try:
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
            )
        failures = []
        loaded: dict[str, list[str]] = {}
        for name in QUERIES:
            tracer = common.LoadTableTracer(spark.sparkContext)
            with tracer:
                rec = check_query(spark, duck, REGISTRY, ORACLES, name, corpus_dir)
            loaded[name] = tracer.tables
            if rec["err"] or not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
                failures.append(f"{name}: {rec['err'] or 'differs from its oracle'}")
    finally:
        duck.close()
    return failures, loaded


def _timed_pass(spark, corpus_dir: str, trace: dict | None = None) -> dict[str, float]:
    """One pass; returns seconds by query.  With ``trace``, build and write
    each run under their own job group and their splits are appended."""
    from bigdata_covid19_real_time_spark.plans import QUERIES as REGISTRY

    sc = spark.sparkContext
    times = {}
    for name in QUERIES:
        if trace is None:
            t0 = time.perf_counter()
            REGISTRY[name](spark, corpus_dir).write.mode("overwrite").format("noop").save()
            times[name] = time.perf_counter() - t0
        else:
            tracer = common.LoadTableTracer(sc)
            sc.setJobGroup(f"perfbench-build-{uuid.uuid4().hex}", name)
            t0 = time.perf_counter()
            with tracer:
                df = REGISTRY[name](spark, corpus_dir)
            t1 = time.perf_counter()
            # load_table's jobs run under their own groups inside the build
            build_jobs = tracer.jobs + common.jobs_in_group(
                sc, sc.getLocalProperty("spark.jobGroup.id")
            )
            sc.setJobGroup(f"perfbench-write-{uuid.uuid4().hex}", name)
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            write_jobs = common.jobs_in_group(sc, sc.getLocalProperty("spark.jobGroup.id"))
            sc.setLocalProperty("spark.jobGroup.id", None)
            times[name] = t2 - t0
            trace["build_s"].append(t1 - t0)
            trace["build_jobs"].append(build_jobs)
            trace["write_s"].append(t2 - t1)
            trace["write_jobs"].append(write_jobs)
            trace["load_calls"].append(tracer.calls)
            trace["load_s"].append(tracer.seconds)
            trace["load_jobs"].append(tracer.jobs)
            trace["query_s"].append(t2 - t0)
        spark.catalog.clearCache()
    return times


def _passes_for(spark, corpus_dir: str, seconds: float, trace: dict | None = None) -> list[dict]:
    """Whole passes, at least ``MIN_TIMED_PASSES``, while another pass
    would end nearer to ``seconds`` than stopping now."""
    passes = []
    t0 = time.perf_counter()
    while True:
        passes.append(_timed_pass(spark, corpus_dir, trace))
        elapsed = time.perf_counter() - t0
        if len(passes) >= MIN_TIMED_PASSES and elapsed + elapsed / len(passes) / 2 >= seconds:
            return passes


def end_to_end(passes: list[dict], rows_per_pass: int) -> dict[str, float]:
    """``total_s`` is the pass, the batch a user submits and waits for;
    ``op_p50_s`` and ``op_p75_s`` are percentiles over the queries, each
    at its median time over the passes."""
    totals = [sum(p.values()) for p in passes]
    queries = [common.p50([p[name] for p in passes]) for name in QUERIES]
    return {
        "rows_per_s": rows_per_pass * len(passes) / sum(totals),
        "op_p50_s": common.p50(queries),
        "op_p75_s": common.p75(queries),
        "total_s": common.p50(totals),
    }


def run(seed: int, seconds: float, trace: bool, work: str) -> dict:
    corpus_dir = os.path.join(work, "corpus")
    rows = corpus.write(seed, corpus_dir)

    t0 = time.perf_counter()
    spark, session_s = common.start_spark(work)
    try:
        for _ in range(WARMUP_PASSES):
            _timed_pass(spark, corpus_dir)
        setup_s = time.perf_counter() - t0
        passes = _passes_for(spark, corpus_dir, seconds)
        peak_rss_mb = common.peak_rss_mb(spark)
        if trace:
            split = {
                k: []
                for k in (
                    "build_s", "build_jobs", "write_s", "write_jobs",
                    "load_calls", "load_s", "load_jobs", "query_s",
                )
            }
            traced = _passes_for(spark, corpus_dir, seconds, split)
        failures, loaded = _check_pass(spark, corpus_dir)
        # input rows of one pass: every table each query loads, as often as
        # it loads it
        rows_per_pass = sum(rows[t] for name in QUERIES for t in loaded[name])
        # each query ran in the warm-up, every timed pass and the check
        runs = WARMUP_PASSES + 1 + len(passes) + (len(traced) if trace else 0)
        result = {
            "correct": not failures,
            "attempted": len(QUERIES) * runs,
            "failed": len(failures) * runs,
            "metrics": {
                "setup_s": setup_s,
                **end_to_end(passes, rows_per_pass),
                "peak_rss_mb": peak_rss_mb,
            },
            "samples": {"passes": len(passes), "queries": len(QUERIES) * len(passes)},
            "failures": failures,
            "corpus_rows": rows,
            "rows_per_pass": rows_per_pass,
        }
        if trace:
            result["layers"] = layers(
                split, len(traced), passes, traced, rows_per_pass, session_s, setup_s - session_s
            )
        return result
    finally:
        common.stop_spark(spark)


def layers(split, n_passes, untraced, traced, rows_per_pass, session_s, warmup_s) -> dict:
    """Per-layer metrics of the traced passes, as per-pass totals."""

    def per_pass(key):
        return sum(split[key]) / n_passes

    base = end_to_end(untraced, rows_per_pass)["total_s"]
    return {
        "session.get_spark_s": session_s,
        "setup.warmup_s": warmup_s,
        "sources.load_table_calls": per_pass("load_calls"),
        "sources.load_table_s": per_pass("load_s"),
        "sources.load_table_jobs": per_pass("load_jobs"),
        "plans.build_s": per_pass("build_s"),
        "plans.build_jobs": per_pass("build_jobs"),
        "exec.write_s": per_pass("write_s"),
        "exec.write_jobs": per_pass("write_jobs"),
        "share.load_table": common.p50(
            [l / q for l, q in zip(split["load_s"], split["query_s"])]
        ),
        "trace.overhead_share": (end_to_end(traced, rows_per_pass)["total_s"] - base) / base,
    }
