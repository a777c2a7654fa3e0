"""The workloads: corpus, one full run, and what a run must output.

Each workload is a closed loop with one client: ``worker.py`` starts
the next run when the previous one returns.  A run calls only public
entry points of the engine (``sources``, ``operators``, ``plans``,
``streaming``); a ``Tracer`` wraps each layer call in a span when the
run is traced and is inert otherwise.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from . import corpora

LOG_ROWS = 20_000       # small enough that an invocation (corpus, set-up, cold run,
                        # warm runs, checks) stays near one minute on 4 cores
STREAM_FILES = 2        # micro-batches per drain with maxFilesPerTrigger=1


def _clock() -> float:
    return time.perf_counter()


def counts_records(df: pd.DataFrame) -> list:
    """Per-sink (severity, n_rows, n_urls), sorted by severity."""
    return sorted((str(r.severity), int(r.n_rows), int(r.n_urls))
                  for r in df.itertuples(index=False))


class Workload:
    name = ""
    layout = ""         # sub-directory of the corpus this workload reads
    why = ""

    def prepare(self, corpus_dir: str) -> None:
        """Derive this workload's layout from the generated ``pages``."""

    def n_docs(self) -> int:
        return LOG_ROWS

    def input_path(self, ctx) -> str:
        return os.path.join(ctx.corpus_dir, self.layout)

    def pages(self, ctx):
        """The workload's input as a batch DataFrame."""
        return (ctx.spark.read.option("recursiveFileLookup", "true")
                .parquet(self.input_path(ctx)))

    def oracle_pages(self, corpus_dir: str) -> pd.DataFrame:
        return corpora.read_sorted(os.path.join(corpus_dir, self.layout))

    def run(self, ctx, tr) -> dict:
        """One full run; returns at least its ``wall_s`` and outputs."""
        raise NotImplementedError

    def after(self, ctx, tr, out) -> dict:
        """Follow-up operation on a run's output (none by default)."""
        return {}


class CheckpointedSinks(Workload):
    name = "checkpointed_sinks"
    layout = "pages"
    why = ("PipelineRunner with extraction, enrich joins, parquet sinks, "
           "lineage and manifest, then a resume after the routed output is lost")

    def run(self, ctx, tr):
        from ai_log_analyzer_spark.plans.pipeline import PipelineRunner

        work = os.path.join(ctx.scratch, "runner")
        shutil.rmtree(work, ignore_errors=True)
        runner = PipelineRunner(ctx.spark, self.input_path(ctx), work)
        tr.instrument_stages(runner)
        t0 = _clock()
        with tr.span("plans"):
            full = runner.run()
        wall = _clock() - t0
        stage_s = {k: v["wall_s"] for k, v in runner.manifest.entries.items()}
        return {"wall_s": wall, "catalog": None,
                "catalog_path": full["catalog_path"],
                "counts": counts_records(pd.DataFrame(full["sink_counts"])),
                "executed": [full["executed"]], "stage_s": stage_s,
                "paths": full, "work": work}

    def after(self, ctx, tr, out) -> dict:
        """Lose the routed output of ``out``'s run and resume, then resume
        once more with nothing lost."""
        from ai_log_analyzer_spark.plans.pipeline import PipelineRunner

        shutil.rmtree(out["paths"]["routed_path"])
        runner = PipelineRunner(ctx.spark, self.input_path(ctx), out["work"])
        tr.instrument_stages(runner, "plans.resume")
        t0 = _clock()
        with tr.span("plans.resume"):
            resumed = runner.run()
        resume_s = _clock() - t0
        t0 = _clock()
        noop = PipelineRunner(ctx.spark, self.input_path(ctx), out["work"]).run()
        return {"resume_s": resume_s, "resume_noop_s": _clock() - t0,
                "resume_counts": counts_records(pd.DataFrame(resumed["sink_counts"])),
                "executed": out["executed"] + [resumed["executed"], noop["executed"]]}


class StreamStateful(Workload):
    name = "stream_stateful"
    layout = f"files{STREAM_FILES}"
    why = ("log pages as ascending seq_no files drained one file per "
           "micro-batch through the applyInPandasWithState scorer into parquet")

    def prepare(self, corpus_dir):
        pages = corpora.read_sorted_table(
            os.path.join(corpus_dir, CheckpointedSinks.layout))
        corpora.write_stream_files(pages, os.path.join(corpus_dir, self.layout),
                                   STREAM_FILES)

    def run(self, ctx, tr):
        from ai_log_analyzer_spark.operators import fit as fit_op
        from ai_log_analyzer_spark.streaming import stream_pipeline as SP

        out = os.path.join(ctx.scratch, "stream_out")
        ckpt = os.path.join(ctx.scratch, "stream_ckpt")
        for d in (out, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        ctx.listener.reset()
        t0 = _clock()
        with tr.span("fit"):
            cat = fit_op.fit_catalog(self.pages(ctx))
        with tr.span("stream"):
            SP.run_stateful_scores_to_parquet(
                ctx.spark, self.input_path(ctx), cat, len(cat), out, ckpt,
                max_files_per_trigger=1)
        wall = _clock() - t0
        if not ctx.listener.terminated.wait(30):
            raise RuntimeError("stream listener saw no termination event")
        return {"wall_s": wall, "catalog": cat,
                "n_rows": ctx.spark.read.parquet(out).count(),
                "batches": ctx.listener.batches(), "out": out}


WORKLOADS = {w.name: w for w in (CheckpointedSinks(), StreamStateful())}


def host_series_over(scored: pd.DataFrame, limit: int, by=("host",)) -> int:
    """Number of scorer calls whose window count exceeds ``limit``."""
    if scored.empty:
        return 0
    return int((scored.groupby(list(by)).size() > limit).sum())


def stream_batch_of(seq_no: np.ndarray, n_rows: int) -> np.ndarray:
    cuts = np.linspace(0, n_rows, STREAM_FILES + 1).astype(int)
    return np.searchsorted(cuts, seq_no, side="right") - 1
