"""Benchmark harness (driver contract: prints ONE JSON line).

Times (a) the flagship pages parse→enrich→score→route pipeline over a
cached deterministic synthetic pages corpus, and (b) every driver-
contract query at $SPARK_GRAFT_SF_DIR.  A warmup pass absorbs Python
worker cold-start; the e2e figure is best-of-N.

Env knobs:
  SPARK_GRAFT_SF_DIR     (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS       (default 32)
  SPARK_GRAFT_PAGES_ROWS (default 400000)
  SPARK_GRAFT_BENCH_RUNS (default 2)
  SPARK_GRAFT_SKIP_QUERIES=1  → pipeline only (used by bench_scaling.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")


def ensure_pages(spark, n_rows: int) -> str:
    from ai_log_analyzer_spark.sources import pages as P
    path = os.path.join(CACHE, f"pages_{n_rows}")
    marker = os.path.join(path, "_SUCCESS_GEN")
    if not os.path.exists(marker):
        P.generate_and_write(spark, path, n_rows)
        with open(marker, "w") as f:
            f.write("ok")
    return path


def run_pipeline(spark, pages_path: str):
    """One full parse→windows→score→route pass; returns (wall_s, counts)."""
    from ai_log_analyzer_spark.operators import fit as fit_op
    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import route as route_op
    from ai_log_analyzer_spark.operators import windows as win_op

    pages = spark.read.parquet(pages_path)
    cat_path = pages_path + "_catalog"
    if not os.path.exists(cat_path):
        fit_op.write_catalog(fit_op.fit_catalog(pages), cat_path)
    cat = fit_op.read_catalog(spark, cat_path)

    t0 = time.time()
    # projection pushdown into the parse UDF: the scoring branch prunes
    # extracted_text, so only template_id crosses Arrow (parse.py)
    parsed = parse_op.parse_template_ids(pages, cat)
    # carry=(): url/warc_ts are count-only downstream here, so they never
    # enter the Arrow hop; n_urls comes from the 1:1 (host, seq_no) key.
    # host_lookup=pages: compact shuffle (int host key) with the host
    # dictionary rebuilt from the raw pages scan — never via the parse UDF
    scored = win_op.window_score_grouped(parse_op.matched(parsed), len(cat),
                                         carry=(), host_lookup=pages)
    routed = route_op.with_severity(scored)
    counts = route_op.sink_counts(routed).collect()
    return time.time() - t0, {r.severity: r.n_rows for r in counts}


def sweep_queries(spark, qs: dict, sf_dir: str, q_runs: int = 2):
    """Time every query with per-query fault isolation (round-4 verdict
    item 2: one raising query must never erase the whole sweep).
    Returns (q_times, q_walls, q_errs); a failed query appears only in
    q_errs and every other query is still timed."""
    q_times: dict[str, float] = {}
    q_walls: dict[str, list[float]] = {}
    q_errs: dict[str, str] = {}
    for name in sorted(qs):
        walls = []
        try:
            for _ in range(q_runs):
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                walls.append(time.time() - t0)
        except Exception as exc:  # noqa: BLE001 — harness boundary
            tail = f"{type(exc).__name__}: {exc}"[-400:]
            q_errs[name] = tail
            print(f"bench: query {name!r} failed: {tail}", file=sys.stderr)
        if walls:
            q_times[name] = round(min(walls), 3)
            q_walls[name] = [round(w, 3) for w in walls]
    return q_times, q_walls, q_errs


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_rows = int(os.environ.get("SPARK_GRAFT_PAGES_ROWS", "400000"))
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    skip_queries = os.environ.get("SPARK_GRAFT_SKIP_QUERIES") == "1"

    from ai_log_analyzer_spark.conf import build_session
    spark = build_session(app="bench", cores=cores)

    q_errs: dict[str, str] = {}
    os.makedirs(CACHE, exist_ok=True)

    # warmup: python-worker cold start, JIT/codegen, OS page cache —
    # measured to take SEVERAL runs to stabilize (214→68s over 4 runs at
    # local[32]); converge mode loops until the improvement flattens
    best = None
    try:
        pages_path = ensure_pages(spark, n_rows)
        if os.environ.get("SPARK_GRAFT_BENCH_CONVERGE") == "1":
            prev = run_pipeline(spark, pages_path)[0]
            best = prev
            for _ in range(9):
                cur = run_pipeline(spark, pages_path)[0]
                best = min(best, cur)
                if cur > prev * 0.92:   # <8% improvement → converged
                    break
                prev = cur
        else:
            run_pipeline(spark, pages_path)
            best = min(run_pipeline(spark, pages_path)[0]
                       for _ in range(n_runs))
    except Exception as exc:  # noqa: BLE001 — harness boundary
        q_errs["pipeline_e2e"] = f"{type(exc).__name__}: {exc}"[-400:]
        print(f"bench: pipeline failed: {q_errs['pipeline_e2e']}",
              file=sys.stderr)

    q_times: dict[str, float] = {}
    if best is not None:
        q_times["pipeline_e2e"] = round(best, 3)
    # raw per-run walls alongside the min-of-N headline (round-3 verdict
    # item 8: min-of-N rejects co-tenant outliers but conflates code wins
    # with methodology round-over-round; the walls vectors let future
    # rounds compare like-for-like without prose)
    q_walls: dict[str, list[float]] = {}
    if not skip_queries:
        import __spark_entry__ as E
        # min-of-N per query: single-pass sweeps on this co-tenanted VM
        # show 10-20x outliers (doc_fingerprint measured 93 s in one
        # sweep, 0.43 s warm — BENCH/BASELINE.md round-3 caveat)
        q_runs = int(os.environ.get("SPARK_GRAFT_QUERY_RUNS", "2"))
        qt, q_walls, qe = sweep_queries(spark, E.queries(), sf_dir, q_runs)
        q_times.update(qt)
        q_errs.update(qe)

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    print(json.dumps({
        "metric": "pages_parse_route_e2e",
        "value": round(best, 3) if best is not None else None,
        "unit": "sec",
        "queries": q_times,
        "walls": q_walls,
        "errors": q_errs,
        "sf": sf,
        "pages_rows": n_rows,
        "docs_per_sec": round(n_rows / best, 1) if best else None,
        "cores": cores,
    }))


if __name__ == "__main__":
    main()
