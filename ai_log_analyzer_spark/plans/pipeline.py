"""Flagship DAG runner: parse → enrich → window/score → route → sinks,
with checkpoint manifest, resume, and per-partition lineage + metrics
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").

Every stage materializes a complete parquet table under ``workdir``;
a JSON manifest records (stage, input_fingerprint, rows, wall_s,
status).  Resume = skip stages whose manifest entry is ``done`` with a
matching input fingerprint and whose output still exists — the parquet
snapshot plays the role Iceberg snapshots would on a cluster
(SURVEY.md §4.6).

Each stage launches only the Spark jobs that read or write its data:
- every read of the input or of a stage output passes the schema
  ``schemas`` declares for it (an inferred read costs one job); a
  driver-side footer check keeps a pages table that lacks a contract
  column failing instead of reading it as NULLs;
- lineage is one row per writing task of each stage, and the route
  stage's per-sink counts are sums per ``severity=`` directory, both
  read on the driver from the parquet footers the stage's write just
  produced (route.py states why the footer counts give ``n_urls``);
- enrich is one projection with literal dims (operators/enrich.py);
- the fit stage's catalog snapshot is written by the driver with
  pyarrow (operators/fit.py): the driver already holds the rows.
The workdir must therefore be visible to the driver's file system, as
it already is for the manifest and the fingerprints.

The critical path is fit → parse → score → route.  Nothing reads the
``enriched`` table (score reads ``parsed``, route reads ``scored``), so
``enrich`` runs on one extra driver thread beside score → route, still
through ``_stage``.  The thread is a ``pyspark.InheritableThread``: it
starts with the caller's job group, description and tags, and its own
``setJobGroup``/``setJobDescription`` calls stay its own.  ``run()``
joins it before returning or raising, so no Spark job of a run outlives
``run()``; manifest saves are serialized and ``executed`` is reported
in ``STAGES`` order.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import SparkSession

from .. import schemas
from ..operators import enrich as enrich_op
from ..operators import fit as fit_op
from ..operators import parse as parse_op
from ..operators import route as route_op
from ..operators import windows as win_op


def _data_files(path: str):
    """(relative name, full path) of every data file under a parquet dir,
    skipping ``_``/``.`` files (``_SUCCESS``, ``.crc``, ``_sink_counts.json``)
    the way Spark's readers do."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                yield os.path.relpath(p, path), p


def _footer_rows(path: str):
    """(relative name, footer ``num_rows``) of every parquet data file
    under ``path``; reads only the footers, on the driver."""
    for rel, p in _data_files(path):
        if p.endswith(".parquet"):
            yield rel, pq.read_metadata(p).num_rows


def _read_pages(spark: SparkSession, path: str):
    """The pages table read with the declared ``schemas.PAGES``.  A
    declared read would give NULLs for a missing column, so the footer
    of one data file must name every contract column."""
    first = next((p for _rel, p in _data_files(path) if p.endswith(".parquet")),
                 None)
    if first is None:
        raise ValueError(f"{path}: no parquet data file")
    missing = set(schemas.PAGES.names) - set(pq.read_schema(first).names)
    if missing:
        raise ValueError(f"{first}: pages table lacks columns {sorted(missing)}")
    return spark.read.schema(schemas.PAGES).parquet(path)


def _fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet dir: relative names + sizes."""
    acc = sorted(f"{rel}:{os.path.getsize(p)}" for rel, p in _data_files(path))
    return hashlib.md5("|".join(acc).encode()).hexdigest()


# Per-sink counts live inside the routed output: losing the output loses
# them too, and the leading "_" hides them from Spark readers and from
# _fingerprint.
SINK_COUNTS = "_sink_counts.json"
_LINEAGE_SCHEMA = pa.schema([("stage", pa.string()), ("partition_id", pa.int32()),
                             ("rows", pa.int64()), ("run_id", pa.string())])
_PART_TASK = re.compile(r"part-(\d+)-")   # Spark's part-<task id>-<job uuid>...


@dataclass
class Manifest:
    path: str
    entries: dict = field(default_factory=dict)
    # enrich marks its entry from its own thread: one writer at a time
    # of the dict and of the shared ``.tmp`` file
    _lock: threading.Lock = field(default_factory=threading.Lock,
                                  repr=False, compare=False)

    @classmethod
    def load(cls, path: str) -> "Manifest":
        m = cls(path=path)
        if os.path.exists(path):
            with open(path) as f:
                m.entries = json.load(f)
        return m

    def save(self):
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1)
        os.replace(tmp, self.path)

    def is_done(self, stage: str, fp: str) -> bool:
        e = self.entries.get(stage)
        return bool(e and e.get("status") == "done" and e.get("input_fp") == fp)

    def mark(self, stage: str, fp: str, rows: int, wall_s: float):
        with self._lock:
            self.entries[stage] = {"status": "done", "input_fp": fp,
                                   "rows": rows, "wall_s": round(wall_s, 3)}
            self.save()


class PipelineRunner:
    STAGES = ["fit", "parse", "enrich", "score", "route"]

    def __init__(self, spark: SparkSession, pages_path: str, workdir: str,
                 run_id: str | None = None, fit_sample: float | None = None):
        self.spark = spark
        self.pages_path = pages_path
        self.workdir = workdir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.fit_sample = fit_sample
        os.makedirs(workdir, exist_ok=True)
        self.manifest = Manifest.load(os.path.join(workdir, "manifest.json"))
        self.executed: list[str] = []   # stages actually run (not resumed)

    # -- lineage ----------------------------------------------------------
    def _lineage(self, stage: str, out_path: str) -> int:
        """Append one lineage row per writing task of the stage's output
        to ``workdir/lineage`` and return the stage's total row count
        (what the manifest records).

        Rows come from the ``num_rows`` of each part file's parquet
        footer, summed per task id ``NNNNN`` of ``part-NNNNN-*.parquet``
        (a partitioned write gives one task several files).  Only the
        footers are read, on the driver: no Spark job runs."""
        rows = Counter()
        for rel, n in _footer_rows(out_path):
            task = _PART_TASK.match(os.path.basename(rel))
            if task is None:
                raise ValueError(f"{out_path}/{rel}: not a part-NNNNN- parquet file")
            rows[int(task.group(1))] += n
        parts = sorted(rows)
        table = pa.table({"stage": [stage] * len(parts), "partition_id": parts,
                          "rows": [rows[t] for t in parts],
                          "run_id": [self.run_id] * len(parts)},
                         schema=_LINEAGE_SCHEMA)
        lin_dir = os.path.join(self.workdir, "lineage")
        os.makedirs(lin_dir, exist_ok=True)
        name = f"part-{self.run_id}-{stage}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(lin_dir, "." + name)   # hidden until complete
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(lin_dir, name))
        return sum(rows.values())

    def _stage(self, name: str, fp: str, build, out_name: str | None = None,
               done_file: str = ""):
        """Run ``build(out)`` unless the manifest marks the stage done for
        ``fp`` and its output is still there.  ``done_file`` names a file
        inside the output that ``build`` writes last; without it the
        output counts as lost and the stage reruns."""
        out = os.path.join(self.workdir, out_name or name)
        if self.manifest.is_done(name, fp) and \
                os.path.exists(os.path.join(out, done_file)):
            return out
        t0 = time.time()
        build(out)
        rows = self._lineage(name, out)
        self.manifest.mark(name, fp, rows, time.time() - t0)
        self.executed.append(name)
        return out

    # -- stages -----------------------------------------------------------
    def run(self) -> dict:
        pages_fp = _fingerprint(self.pages_path)
        pages = _read_pages(self.spark, self.pages_path)

        # fit: frozen catalog snapshot, written by the driver
        fitted = []

        def _fit(out):
            cat = fit_op.fit_catalog(pages, sample_fraction=self.fit_sample)
            fit_op.write_catalog(cat, out)
            fitted.append(cat)
        cat_path = self._stage("fit", pages_fp, _fit, "catalog")
        # the snapshot is read back only on resume; a fit that ran here
        # already holds the same rows
        catalog_rows = fitted[0] if fitted else \
            fit_op.read_catalog(self.spark, cat_path)
        num_classes = len(catalog_rows)

        # parse: map-side only; html pruned by column selection
        def _parse(out):
            parsed = parse_op.parse_pages(pages, catalog_rows)
            parsed.write.mode("overwrite").parquet(out)
        parse_fp = pages_fp + ":" + _fingerprint(cat_path)
        parsed_path = self._stage("parse", parse_fp, _parse, "parsed")

        # enrich: one projection, literal dims; nothing downstream reads
        # it, so it runs on its own thread beside score -> route
        def _enrich(out):
            parsed = self.spark.read.schema(schemas.PARSED).parquet(parsed_path)
            enrich_op.enrich(parsed, catalog_rows) \
                .write.mode("overwrite").parquet(out)
        enr_fp = _fingerprint(parsed_path)
        enrich_err: list[BaseException] = []

        def _enrich_branch():
            try:
                self._stage("enrich", enr_fp, _enrich, "enriched")
            except BaseException as e:  # noqa: BLE001 — re-raised by run()
                enrich_err.append(e)
        branch = InheritableThread(target=_enrich_branch, session=self.spark)

        # windows + frozen scorer (shuffle #1: by host)
        def _score(out):
            parsed = self.spark.read.schema(schemas.PARSED).parquet(parsed_path)
            win_op.window_score_grouped(parse_op.matched(parsed), num_classes,
                                        host_lookup=parsed) \
                .write.mode("overwrite").parquet(out)

        # route: severity + fan-out sinks; per-sink counts from footers
        def _route(out):
            scored = self.spark.read.schema(schemas.SCORED).parquet(scored_path)
            route_op.write_sinks(route_op.with_severity(scored), out)
            counts = route_op.footer_sink_counts(_footer_rows(out))
            tmp = os.path.join(out, "." + SINK_COUNTS)   # done_file: written last
            with open(tmp, "w") as f:
                json.dump(counts, f)
            os.replace(tmp, os.path.join(out, SINK_COUNTS))

        # started before score, not after it (overlapping route only):
        # both measured the same at local[2], and this way enrich hides
        # behind score, the branch that grows fastest with data
        branch.start()
        try:
            scored_path = self._stage("score", enr_fp, _score, "scored")
            routed_path = self._stage("route", _fingerprint(scored_path),
                                      _route, "routed", done_file=SINK_COUNTS)
        finally:
            branch.join()   # a failing branch raises only after the other ends
        if enrich_err:
            raise enrich_err[0]
        self.executed.sort(key=self.STAGES.index)

        with open(os.path.join(routed_path, SINK_COUNTS)) as f:
            counts = json.load(f)
        return {
            "run_id": self.run_id,
            "catalog_path": cat_path, "parsed_path": parsed_path,
            "enriched_path": os.path.join(self.workdir, "enriched"),
            "scored_path": scored_path, "routed_path": routed_path,
            "num_classes": num_classes,
            "sink_counts": counts,
            "executed": list(self.executed),
        }
