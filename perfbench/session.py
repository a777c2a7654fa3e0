"""SparkSession for the benchmark: the engine's own ``conf.build_session``
sized for this host by the environment ``run.py`` sets (cores, driver
heap, local dirs), with every file Spark writes kept inside the
checkout."""

from __future__ import annotations

import os


def build(work: str, event_log: bool = False):
    from ai_log_analyzer_spark.conf import build_session

    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false",
                      # full scan locations in the logged plans, so scan
                      # counters can be keyed to the workload's input
                      "spark.sql.maxMetadataStringLength": "100000"})
    return build_session(app="perfbench", extra=extra)
