"""Per-stage scaling probe (round 2): isolate WHERE 8->32 efficiency
dies.  One (stage, cores) measurement per process, taskset-pinned by the
caller.  Stages:

  scan      - parquet scan of text column + JVM-side length sum (no Python)
  arrow     - identity pandas UDF (text in, length out): Arrow + worker RT
  parse     - the real parse UDF, result counted (no downstream)
  parseids  - the id-only parse UDF, result counted
  winscore2 - windows + scorer (full carry) from a pre-parsed parquet table
  winscore3 - windows + scorer with carry=() (the flagship shape)
  winscoreZ - winscore2's Python work with a 1-row-per-host output
  grouparrow, shufonly, scanparsed - host-shuffle / Arrow / scan
              isolation stages over the pre-parsed table
  cpuburn   - corpus-free pure-CPU control
  pytask    - corpus-free fixed Python cost per task: cores * 8 one-row
              identity mapInPandas tasks; also prints wall * cores / tasks
  e2e2      - full parse->windows->score->route pipeline
  runner    - full PipelineRunner.run() into a fresh workdir; also
              prints the median warm wall and the median per-stage walls
              of the runner's manifest

Usage: python scripts/stage_probe.py STAGE N_ROWS [RUNS]
Prints one JSON line; cores from SPARK_GRAFT_CPUS.
"""
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, ".bench_cache")


def main():
    stage = sys.argv[1]
    n_rows = int(sys.argv[2])
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from ai_log_analyzer_spark.conf import build_session
    from ai_log_analyzer_spark.operators import fit as fit_op
    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import route as route_op
    from ai_log_analyzer_spark.operators import windows as win_op

    spark = build_session(app=f"probe-{stage}", cores=cores)
    sys.path.insert(0, REPO)
    import bench
    if stage in ("cpuburn", "pytask"):     # corpus-free control stages
        pages_path = cat = pages = None
    else:
        pages_path = bench.ensure_pages(spark, n_rows)
        cat_path = pages_path + "_catalog"
        if not os.path.exists(cat_path):
            fit_op.write_catalog(fit_op.fit_catalog(
                spark.read.parquet(pages_path)), cat_path)
        cat = fit_op.read_catalog(spark, cat_path)
        pages = spark.read.parquet(pages_path)

    parsed_path = (pages_path or "") + "_parsed"
    if stage in ("winscore2", "winscore3", "winscoreZ", "grouparrow", "shufonly", "scanparsed") and not os.path.exists(parsed_path + "/_SUCCESS"):
        parse_op.parse_pages(pages, cat).write.mode("overwrite").parquet(parsed_path)

    py_tasks = cores * 8
    stage_walls = []            # runner: the manifest's wall_s per run

    def job():
        if stage == "scan":
            pages.select(F.sum(F.length("text"))).collect()
        elif stage == "arrow":
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("long")
            def _ident(it):
                for s in it:
                    yield s.str.len().astype("int64")
            pages.select(F.sum(_ident(F.col("text")))).collect()
        elif stage == "parse":
            parsed = parse_op.parse_pages(pages, cat)
            parsed.select(F.count("template_id")).collect()
        elif stage == "winscore2":
            parsed = spark.read.parquet(parsed_path)
            scored = win_op.window_score_grouped(parse_op.matched(parsed),
                                                 len(cat), host_lookup=parsed)
            scored.select(F.sum(F.col("anomaly_score"))).collect()
        elif stage == "winscore3":
            # production shape: carry=() — int host key through the
            # exchange, string restored via broadcast after scoring
            parsed = spark.read.parquet(parsed_path)
            scored = win_op.window_score_grouped(parse_op.matched(parsed),
                                                 len(cat), carry=(),
                                                 host_lookup=parsed)
            scored.select(F.sum(F.col("anomaly_score"))).collect()
        elif stage == "cpuburn":
            # pure-CPU control: numpy work with negligible memory traffic;
            # shows what the harness itself scales to on this box when the
            # bottleneck is CPU (separates scheduler/Arrow overhead from
            # memory-bandwidth saturation)
            import numpy as np
            import pandas as pd

            def _burn(batches):
                for pdf in batches:
                    a = np.random.default_rng(1).standard_normal((128, 128))
                    acc = 0.0
                    for _ in range(len(pdf) * 24):
                        acc += float((a @ a).trace())
                        a[0, 0] = acc % 3.0
                    yield pd.DataFrame({"s": [acc]})
            n_tasks = cores * 4
            (spark.range(n_rows // 2000).repartition(n_tasks)
             .mapInPandas(_burn, schema="s double")
             .agg(F.sum("s")).collect())
        elif stage == "pytask":
            def _ident(batches):
                # import the package, as every engine UDF's closure does
                import ai_log_analyzer_spark  # noqa: F401
                yield from batches
            (spark.range(py_tasks, numPartitions=py_tasks)
             .mapInPandas(_ident, schema="id long")
             .agg(F.count("id")).collect())
        elif stage == "parseids":
            # round-2 production shape: id-only parse (no extraction,
            # 8 bytes/row out of Python)
            parsed = parse_op.parse_template_ids(pages, cat)
            parsed.select(F.count("template_id")).collect()
        elif stage == "grouparrow":
            # scan + shuffle-by-host + Arrow group transfer, trivial python
            import pandas as pd
            parsed = spark.read.parquet(parsed_path)

            def _count(pdf: pd.DataFrame) -> pd.DataFrame:
                return pd.DataFrame({"host": [pdf["host"].iloc[0]],
                                     "n": [len(pdf)]})
            (parse_op.matched(parsed)
             .select("host", "seq_no", "url", "warc_ts", "template_id")
             .groupBy("host").applyInPandas(_count, "host string, n long")
             .select(F.sum("n")).collect())
        elif stage == "shufonly":
            # scan + shuffle-by-host + JVM-side count (no python at all)
            parsed = spark.read.parquet(parsed_path)
            (parse_op.matched(parsed)
             .select("host", "seq_no", "url", "warc_ts", "template_id")
             .repartition(F.col("host"))
             .select(F.count("*")).collect())
        elif stage == "scanparsed":
            parsed = spark.read.parquet(parsed_path)
            (parse_op.matched(parsed)
             .select("host", "seq_no", "url", "warc_ts", "template_id")
             .select(F.sum(F.length("url"))).collect())
        elif stage == "winscoreZ":
            # full python work, but 1-row output per group: isolates the
            # Arrow-out + JVM-decode cost of winscore2
            import numpy as np
            import pandas as pd
            from ai_log_analyzer_spark import scorer as SC
            parsed = spark.read.parquet(parsed_path)
            nc = len(cat)

            def _fz(pdf: pd.DataFrame) -> pd.DataFrame:
                w, lead = SC.WINDOW_SIZE, SC.LABEL_LEAD
                n = len(pdf)
                if n < w + lead:
                    return pd.DataFrame({"host": [], "s": []})
                order = np.argsort(pdf["seq_no"].to_numpy(), kind="stable")
                ids = pdf["template_id"].to_numpy(dtype=np.int64)[order]
                ends = np.arange(w - 1, n - lead)
                win = np.lib.stride_tricks.sliding_window_view(ids, w)[:len(ends)]
                labels = ids[ends + lead]
                err, anom = SC.score(win, labels, nc)
                take = order[ends]
                u = pdf["url"].to_numpy()[take]   # still gather strings
                return pd.DataFrame({"host": [pdf["host"].iloc[0]],
                                     "s": [float(err.sum())]})
            (parse_op.matched(parsed)
             .select("host", "seq_no", "url", "warc_ts", "template_id")
             .groupBy("host").applyInPandas(_fz, "host string, s double")
             .select(F.sum("s")).collect())
        elif stage == "e2e2":
            parsed = parse_op.parse_pages(pages, cat)
            scored = win_op.window_score_grouped(parse_op.matched(parsed),
                                                 len(cat), host_lookup=pages)
            routed = route_op.with_severity(scored)
            route_op.sink_counts(routed).collect()
        elif stage == "runner":
            from ai_log_analyzer_spark.plans.pipeline import PipelineRunner
            work = pages_path + "_runner"
            shutil.rmtree(work, ignore_errors=True)
            runner = PipelineRunner(spark, pages_path, work)
            runner.run()
            stage_walls.append({k: v["wall_s"]
                                for k, v in runner.manifest.entries.items()})
        else:
            raise SystemExit(f"unknown stage {stage}")

    job()  # warmup (worker cold start, codegen)
    del stage_walls[:]
    walls = [(lambda t0: (job(), time.time() - t0)[1])(time.time())
             for _ in range(runs)]
    best = min(walls)
    out = {"stage": stage, "cores": cores, "rows": n_rows,
           "wall_s": round(best, 3), "rows_per_s": round(n_rows / best, 1)}
    if stage == "runner":
        out.update(median_wall_s=round(statistics.median(walls), 3),
                   stage_wall_s={k: round(statistics.median(w[k] for w in stage_walls), 3)
                                 for k in stage_walls[0]})
    if stage == "pytask":
        out.update(tasks=py_tasks, s_per_task=round(best * cores / py_tasks, 3))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
    sys.stdout.flush()
    os._exit(0)             # the session is stopped; interpreter exit can hang after it
