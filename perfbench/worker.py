"""One measured process: SparkSession set-up, a cold run, warm runs for
the requested seconds, an optional traced run, then output checks.

Started by ``run.py`` as a fresh process so that set-up and the cold run
are what a spark-submit user pays.  Prints ``@@`` phase markers on
stdout (``run.py`` samples memory only between ``@@measure-begin`` and
``@@measure-end``) and writes its results as JSON to the path given.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import reference, session, tracing  # noqa: E402
from perfbench.workloads import (WORKLOADS, CheckpointedSinks,  # noqa: E402
                                 StreamStateful, host_series_over,
                                 stream_batch_of)

WARMUP_RUNS = 1         # first runs of the window, timed and checked but not in
                        # the median: the first warm run is ~15% slower than later ones
MIN_WARM = 2            # warm runs in the median, however short --seconds is


class Ctx:
    def __init__(self, spark, corpus_dir, scratch, listener):
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.scratch = scratch
        self.listener = listener


def emit(marker: str):
    print(f"@@{marker}", flush=True)


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def guarded(out: dict, step) -> dict:
    """Apply ``step`` to ``out``; an exception marks the run failed."""
    try:
        out.update(step())
        out.setdefault("error", None)
    except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
        traceback.print_exc()
        out["error"] = traceback.format_exc(limit=3)
    return out


def attempt(wl, ctx, tr, follow_up: bool = False) -> dict:
    """One run and, with ``follow_up``, the workload's follow-up
    operation on its output."""
    out = guarded({}, lambda: wl.run(ctx, tr))
    if follow_up and not out["error"]:
        guarded(out, lambda: wl.after(ctx, tr, out))
    return out


def catalog_of(out, spark):
    if out.get("catalog") is None:
        from ai_log_analyzer_spark.operators import fit as fit_op
        out["catalog"] = fit_op.read_catalog(spark, out["catalog_path"])
    return out["catalog"]


def run_checks(wl, ctx, runs, ref) -> list[list[str]]:
    """Problems per run; the last good run also gets the row-level check."""
    token = None
    problems = []
    for out in runs:
        if out["error"]:
            problems.append(["raised: " + out["error"].splitlines()[-1]])
            continue
        got = []
        tok = reference.catalog_token(catalog_of(out, ctx.spark))
        token = token or tok
        if tok != token:
            got.append("catalog differs between runs")
        if isinstance(wl, CheckpointedSinks):
            got += reference.check_checkpointed(out, ref)
        elif out["n_rows"] != len(ref.scored):
            got.append(f"stream rows {out['n_rows']} != {len(ref.scored)}")
        problems.append(got)
    last = max((i for i, o in enumerate(runs) if not o["error"]), default=None)
    if last is not None:
        out = runs[last]
        if isinstance(wl, CheckpointedSinks):
            problems[last] += reference.check_checkpointed_rows(out, ref, ctx.spark)
        else:
            problems[last] += reference.check_stream_rows(out, ref, ctx.spark)
    return problems


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def lineage_skew(work: str) -> float:
    """Worst per-stage max ÷ median partition rows in the run's lineage."""
    import pyarrow.parquet as pq
    lin = pq.read_table(os.path.join(work, "lineage")).to_pandas()
    worst = 0.0
    for _stage, g in lin.groupby("stage"):
        med = statistics.median(g["rows"])
        if med:
            worst = max(worst, float(g["rows"].max()) / med)
    return worst


def dead_letter_share(wl, spark, out) -> float:
    """Share of input pages the engine's parse matched to no template,
    read from the engine's own output."""
    if isinstance(wl, CheckpointedSinks):
        from pyspark.sql import functions as F
        parsed = spark.read.parquet(out["paths"]["parsed_path"])
        row = parsed.agg(F.count("*").alias("n"),
                         F.count("template_id").alias("matched")).first()
        return 1.0 - row["matched"] / row["n"]
    # the stream scores matched rows only
    return 1.0 - out["n_rows"] / wl.n_docs()


def per_layer(wl, tr, ev, out, ref, cores, samples) -> dict:
    """Per-layer metrics of a traced run.  A metric of a layer the
    workload does not run reads 0.  Resume and micro-batch times pool
    ``samples`` from every warm and traced run of the process."""
    from ai_log_analyzer_spark.operators import parse as parse_op

    cat = out["catalog"]
    n = wl.n_docs()
    m = {"sources.scan_s": ev.input_scan_s(),
         "sources.bytes_read": ev.input_bytes_read(),
         "fit.templates": len(cat),
         "fit.oracle_template_diff": ref.template_diff(),
         "parse.dead_letter_share": out["dead_letter_share"],
         "parse.path_jvm": int(parse_op.jvm_parse_eligible(cat)),
         "enrich.s": 0.0, "route.s": 0.0,
         "route.bytes_written": 0, "route.files_written": 0,
         "plans.lineage_skew": 0.0, "plans.resume_stages_rerun": 0,
         "plans.resume_s": 0.0, "plans.resume_noop_s": 0.0,
         "stream.batches": 0, "stream.state_rows": 0, "stream.state_bytes": 0,
         "stream.add_batch_share": 0.0,
         "stream.microbatch_p50_s": 0.0, "stream.microbatch_p90_s": 0.0}
    if isinstance(wl, CheckpointedSinks):
        st = out["stage_s"]
        m["fit.s"], m["parse.s"], m["windows.s"] = st["fit"], st["parse"], st["score"]
        m["enrich.s"], m["route.s"] = st["enrich"], st["route"]
        m["parse.path_jvm"] = 0          # parse_pages always runs the Arrow UDF
        parse_ids = ev.stage_ids("plans.parse")
        win_ids = ev.stage_ids("plans.score")
        win_wall = tr.duration("plans.score")
        m["route.bytes_written"], m["route.files_written"] = \
            dir_bytes_files(out["paths"]["routed_path"])
        m["plans.lineage_skew"] = lineage_skew(out["work"])
        m["plans.resume_stages_rerun"] = len(out["executed"][1])
        m["plans.resume_s"] = statistics.median(samples["resume_s"])
        m["plans.resume_noop_s"] = statistics.median(samples["resume_noop_s"])
    else:
        sids = ev.stage_ids("stream")
        reduce_ids = ev.shuffle_read_stages(sids)
        parse_ids = [s for s in sids if s not in reduce_ids]
        m["fit.s"] = tr.duration("fit")
        m["parse.s"] = ev.stage_wall_s(parse_ids)
        m["windows.s"] = ev.stage_wall_s(reduce_ids)
        win_ids, win_wall = sids, tr.duration("stream")
        m["route.bytes_written"], m["route.files_written"] = dir_bytes_files(out["out"])
        batches = out["batches"]
        trig = batch_walls(out)
        mb = samples["microbatch_s"]
        m["stream.batches"] = len(batches)
        if batches:
            m["stream.state_rows"] = batches[-1]["state_rows"]
            m["stream.state_bytes"] = batches[-1]["state_bytes"]
            m["stream.add_batch_share"] = (
                sum(b["duration_ms"].get("addBatch", 0) for b in batches)
                / 1000.0 / max(sum(trig), 1e-9))
            m["stream.microbatch_p50_s"] = statistics.median(mb)
            m["stream.microbatch_p90_s"] = p90(mb)
    reduce_ids = ev.shuffle_read_stages(win_ids)
    win = ev.layer_counters(win_ids)
    m.update({
        "parse.rows_per_s": n / m["parse.s"] if m["parse.s"] > 0 else 0.0,
        "parse.arrow_bytes": ev.layer_counters(parse_ids)["arrow_bytes"],
        "windows.shuffle_bytes": win["shuffle_bytes"],
        "windows.spill_bytes": win["spill_bytes"],
        "windows.task_skew": ev.task_skew(reduce_ids),
        "windows.core_util": (ev.run_time_s(win_ids) / (win_wall * cores)
                              if win_wall > 0 else 0.0),
        "windows.scorer_chunked": scorer_chunked(wl, ref),
    })
    return m


def scorer_chunked(wl, ref) -> int:
    """Scorer calls that take the sparse path: host series (per
    micro-batch on the stream) longer than ``scorer.SCORE_CHUNK``."""
    from ai_log_analyzer_spark import scorer
    sc = ref.scored
    if isinstance(wl, StreamStateful):
        return host_series_over(
            sc.assign(_b=stream_batch_of(sc["seq_no"].to_numpy(), wl.n_docs())),
            scorer.SCORE_CHUNK, by=("host", "_b"))
    return host_series_over(sc, scorer.SCORE_CHUNK)


def batch_walls(out) -> list[float]:
    """Duration of each micro-batch of a stream run, in seconds."""
    return [b["duration_ms"].get("triggerExecution", 0) / 1000.0
            for b in out["batches"]]


def p90(values) -> float:
    return statistics.quantiles(values, n=10)[-1] if len(values) > 1 else values[0]


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    wl = WORKLOADS[spec["workload"]]
    traced = bool(spec["trace"])
    scratch = spec["scratch"]
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    spark = session.build(scratch, event_log=traced)
    ready = time.time()
    emit(f"ready {ready:.6f}")
    listener = None
    if isinstance(wl, StreamStateful):
        listener = tracing.stream_listener_class()()
        spark.streams.addListener(listener)
    ctx = Ctx(spark, spec["corpus_dir"], scratch, listener)
    off = tracing.Tracer(spark, None)

    gc0 = gc_seconds(spark)
    emit("measure-begin")
    # closed loop: the cold run, then warm runs, each starting when the
    # previous one ends, while the next is expected to end within
    # --seconds (at least WARMUP_RUNS + MIN_WARM of them); the follow-up
    # runs once, on the last warm run's output, after the timed window
    runs = [attempt(wl, ctx, off)]
    loop_start = time.time()
    while True:
        t0 = time.time()
        runs.append(attempt(wl, ctx, off))
        now = time.time()
        if (len(runs) - 1 >= WARMUP_RUNS + MIN_WARM
                and now - loop_start + (now - t0) > spec["seconds"]):
            break
    if not runs[-1]["error"]:
        guarded(runs[-1], lambda: wl.after(ctx, off, runs[-1]))
    tr = tracing.Tracer(spark, uuid.uuid4().hex[:8]) if traced else None
    if tr is not None:
        runs.append(attempt(wl, ctx, tr, follow_up=True))
    gc_s = gc_seconds(spark) - gc0
    emit("measure-end")
    measured = time.time()

    if spec.get("inject_failure") and len(runs) > 1 and not runs[1]["error"]:
        runs[1]["counts"] = runs[1].get("counts", [])[:-1]
        runs[1]["n_rows"] = -1
    good = next((o for o in runs if not o["error"]), None)
    problems = [["no run succeeded"]] if good is None else None
    ref = None
    if good is not None:
        ref = reference.Reference(wl.oracle_pages(spec["corpus_dir"]),
                                  catalog_of(good, spark))
        problems = run_checks(wl, ctx, runs, ref)

    checked = time.time()
    warm = [o for o in runs[1 + WARMUP_RUNS:len(runs) - (tr is not None)]
            if not o["error"]]
    result = {
        "ready_time": ready,
        "n_docs": wl.n_docs(),
        "cores": spark.sparkContext.defaultParallelism,
        "warmup_runs": WARMUP_RUNS,
        "attempted": len(runs),
        "failed": sum(1 for p in problems if p),
        "problems": [p for p in problems if p],
        "cold_run_s": runs[0].get("wall_s"),
        "warm_s": [o["wall_s"] for o in warm],
        "extra": {},
        "per_layer": {},
        "spans": [],
    }
    if good is not None:
        from ai_log_analyzer_spark import scorer
        from ai_log_analyzer_spark.operators import parse as parse_op
        cat = catalog_of(good, spark)
        result["code_path"] = {
            "parse": ("arrow (parse_pages)" if isinstance(wl, CheckpointedSinks)
                      else "jvm" if parse_op.jvm_parse_eligible(cat) else "arrow"),
            "templates": len(cat),
            "jvm_parse_cap": parse_op.JVM_PARSE_MAX_TEMPLATES,
            "scorer_chunked_series": scorer_chunked(wl, ref),
            "score_chunk": scorer.SCORE_CHUNK,
        }
    if isinstance(wl, CheckpointedSinks):
        result["extra"]["resume_s"] = [o["resume_s"] for o in warm if "resume_s" in o]
        result["extra"]["resume_noop_s"] = [o["resume_noop_s"] for o in warm
                                            if "resume_noop_s" in o]
    else:
        result["extra"]["microbatch_s"] = [t for o in warm for t in batch_walls(o)]
    traced_out = runs[-1] if tr is not None else None
    traced_ok = traced_out is not None and not traced_out["error"]
    if traced_ok:
        result["traced_wall_s"] = traced_out["wall_s"]
        result["spans"] = tr.spans
        result["same_output_traced"] = not problems[-1] and all(
            o.get("counts") == traced_out.get("counts")
            and o.get("n_rows") == traced_out.get("n_rows") for o in warm)
        catalog_of(traced_out, spark)
        traced_out["dead_letter_share"] = dead_letter_share(wl, spark, traced_out)
    if traced:
        spark.stop()        # flushes the event log
    if traced_ok:
        ev = tracing.EventLog(os.path.join(scratch, "eventlog"),
                              os.path.join(spec["corpus_dir"], wl.layout),
                              (traced_out.get("batches") or [{}])[0].get("run_id"))
        samples = dict(result["extra"])
        if isinstance(wl, CheckpointedSinks):
            for k in ("resume_s", "resume_noop_s"):
                samples[k] = samples[k] + [traced_out[k]]
        else:
            samples["microbatch_s"] = samples["microbatch_s"] + batch_walls(traced_out)
        m = per_layer(wl, tr, ev, traced_out, ref, result["cores"], samples)
        m["jvm.gc_s"] = gc_s
        m["trace.overhead_s"] = (traced_out["wall_s"] - statistics.median(result["warm_s"])
                                 if result["warm_s"] else 0.0)
        result["per_layer"] = m
    result["phase_s"] = {"measure": measured - ready, "check": checked - measured,
                         "stop": time.time() - checked}
    with open(spec["result_path"], "w") as f:
        json.dump(result, f, default=str)


if __name__ == "__main__":
    main(sys.argv[1])
    sys.stdout.flush()
    os._exit(0)             # the session is stopped; the harness stops the JVM
