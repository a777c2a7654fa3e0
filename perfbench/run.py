"""sparklog benchmark: one seeded workload, end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload checkpointed_sinks --seed 1 --seconds 20 --trace 0

Run from the root of a checkout; ``perfbench/DESIGN.md`` describes the
workloads, metrics and checks.  The harness (this process, no JVM) has
``generate.py`` write the workload's corpus from the seed (once per
seed; a fresh Spark process, untimed), takes set-up samples in fresh
processes, then starts ``worker.py`` -- a fresh process that
builds the SparkSession (``local[nproc / 2]``), makes a cold run,
repeats warm runs for ``--seconds`` (closed loop, one client) and
checks every run's output against ``oracle.pipeline``.  The harness samples the worker's process
tree (driver JVM and Python workers) for peak resident memory.

Human-readable lines go first; the last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``.  Everything the process writes stays
under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_SAMPLES = 2           # fresh processes timed to a ready SparkSession
DRIVER_MEM = "2g"           # fits a 15 GB host; conf.py defaults to 48g
# The small benchmark corpus mines ~180 templates, under the all-JVM
# parse's 200-template cap; corpora of 80k rows and more mine ~231 and
# take the Arrow parse (from 40k rows the count straddles the cap, so
# the path flips with the seed).  A cap of 0 pins the Arrow parse that
# full-size corpora run.
JVM_PARSE_CAP = "0"
DEADLINE_S = 170            # the whole invocation must end within 180 s
RSS_POLL_S = 0.25           # the sampler scans /proc; keep it light

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s"}
PER_LAYER = {
    "sources.scan_s": "s", "sources.bytes_read": "bytes",
    "fit.s": "s", "fit.templates": "count", "fit.oracle_template_diff": "count",
    "parse.s": "s", "parse.rows_per_s": "rows/s",
    "parse.dead_letter_share": "share", "parse.arrow_bytes": "bytes",
    "parse.path_jvm": "count",
    "windows.s": "s", "windows.shuffle_bytes": "bytes",
    "windows.spill_bytes": "bytes", "windows.task_skew": "ratio",
    "windows.core_util": "share", "windows.scorer_chunked": "count",
    "enrich.s": "s", "route.s": "s",
    "route.bytes_written": "bytes", "route.files_written": "count",
    "plans.lineage_skew": "ratio", "plans.resume_stages_rerun": "count",
    "plans.resume_s": "s", "plans.resume_noop_s": "s",
    "stream.batches": "count", "stream.state_rows": "count",
    "stream.state_bytes": "bytes", "stream.add_batch_share": "share",
    "stream.microbatch_p50_s": "s", "stream.microbatch_p90_s": "s",
    "jvm.gc_s": "s", "process.cold_run_s": "s",
    "mem.peak_rss_mb": "MB", "mem.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _proc_stats():
    """(pid, session id, rss bytes, command) of every live process on the
    host; zombies have ended and are left out."""
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
        except (OSError, IndexError):
            continue
        fields = rest.split()
        if fields[0] == "Z":
            continue
        yield int(name), int(fields[3]), int(fields[21]) * page, comm


def session_pids(sid: int) -> list[int]:
    return [pid for pid, s, _rss, _comm in _proc_stats() if s == sid]


def session_rss(sid: int) -> tuple[int, int]:
    """Resident bytes of the session's processes: (all, JVM only)."""
    procs = [(rss, comm) for _pid, s, rss, comm in _proc_stats() if s == sid]
    return (sum(rss for rss, _c in procs),
            sum(rss for rss, comm in procs if comm == "java"))


def stop_session(sid: int):
    """Kill what is left of the child's session (the driver JVM outlives
    its Python process) and wait until every process has ended."""
    for sig_wait in (5.0, 5.0):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        end = time.time() + sig_wait
        while session_pids(sid) and time.time() < end:
            time.sleep(0.1)


class Child:
    """A fresh process in its own session, with @@ markers read from its
    stdout and its tree's resident memory sampled between the
    ``@@measure-begin`` and ``@@measure-end`` markers.  The child
    leaves with ``os._exit`` once its work is done; ``wait`` then kills
    the rest of its session instead of waiting for a graceful JVM
    shutdown, which costs seconds per process."""

    def __init__(self, argv, env, log_path):
        self.ready = None
        self.peak_rss = self.peak_jvm_rss = 0
        self._measuring = False
        self._log = open(log_path, "ab")
        self.spawned = time.time()
        self.proc = subprocess.Popen(argv, env=env, cwd=ROOT, text=True,
                                     stdout=subprocess.PIPE, stderr=self._log,
                                     start_new_session=True)
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._reader.start()
        self._sampler.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@ready "):
                self.ready = float(line.split()[1])
            elif line.startswith("@@measure-begin"):
                self._measuring = True
            elif line.startswith("@@measure-end"):
                self._measuring = False

    def _sample(self):
        while self.proc.poll() is None:
            if self._measuring:
                total, jvm = session_rss(self.proc.pid)
                self.peak_rss = max(self.peak_rss, total)
                self.peak_jvm_rss = max(self.peak_jvm_rss, jvm)
            time.sleep(RSS_POLL_S)

    def wait(self, timeout: float) -> int:
        try:
            code = self.proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            code = None
        stop_session(self.proc.pid)
        if code is None:
            self.proc.wait()
            code = -9
        self._reader.join(5)
        self._sampler.join(5)
        self._log.close()
        return code


def spark_cores() -> int:
    """Half the host's cores: every task of these workloads feeds a
    Python worker beside its JVM thread, so ``local[nproc]`` keeps about
    twice as many threads busy as there are cores, and the figures then
    follow the scheduler more than the engine."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def child_env(cores: int, proc_dir: str) -> dict:
    """Environment of the fresh processes; their temp files and Spark
    local dirs go under ``proc_dir``, which the caller removes."""
    tmp = os.path.join(proc_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_JVM_PARSE": JVM_PARSE_CAP,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(proc_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def prepare_corpus(wl, seed: int, env, log) -> tuple[str, float, float | None]:
    """Corpus directory for the seed, generated once and reused by later
    runs with the same seed: (dir, generator seconds, set-up sample of
    the generator's process or None)."""
    from perfbench.workloads import LOG_ROWS
    out = os.path.join(WORK, "corpora", f"logs{LOG_ROWS}-seed{seed}")
    t0 = time.perf_counter()
    setup = None
    if not os.path.exists(os.path.join(out, "_DONE_pages")):
        shutil.rmtree(out, ignore_errors=True)
        gen = Child([sys.executable, os.path.join(HERE, "generate.py"),
                     os.path.join(out, "pages"), str(LOG_ROWS), str(seed)], env, log)
        if gen.wait(120) != 0:
            raise RuntimeError("corpus generator failed")
        setup = gen.ready - gen.spawned
        open(os.path.join(out, "_DONE_pages"), "w").close()
    done = os.path.join(out, f"_DONE_{wl.layout}")
    if not os.path.exists(done):
        wl.prepare(out)
        open(done, "w").close()
    return out, time.perf_counter() - t0, setup


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="corrupt one run's output (benchmark self-check)")
    args = ap.parse_args(argv)
    started = time.time()

    if not os.path.isfile(os.path.join(ROOT, "ai_log_analyzer_spark", "__init__.py")):
        print("perfbench: the engine package ai_log_analyzer_spark is not in "
              f"{ROOT}; run from the root of a sparklog checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{wl.name}-seed{args.seed}-trace{args.trace}")
    proc_dir = os.path.join(run_dir, "proc")
    shutil.rmtree(proc_dir, ignore_errors=True)
    try:
        return measure(wl, args, run_dir, proc_dir, started)
    finally:
        shutil.rmtree(proc_dir, ignore_errors=True)


def measure(wl, args, run_dir, proc_dir, started) -> int:
    env = child_env(spark_cores(), proc_dir)
    log = os.path.join(run_dir, "stderr.log")
    if os.path.exists(log):
        os.remove(log)
    corpus_dir, gen_s, gen_setup = prepare_corpus(wl, args.seed, env, log)

    # every fresh process that builds the session is a set-up sample:
    # the generator's (when it ran), probes, and the worker's own
    setups = [] if gen_setup is None else [gen_setup]
    for i in range(SETUP_SAMPLES - 1 - len(setups)):
        probe = Child([sys.executable, os.path.join(HERE, "setup_probe.py"),
                       os.path.join(run_dir, f"probe{i}")], env, log)
        if probe.wait(60) != 0 or probe.ready is None:
            print("perfbench: set-up probe failed", file=sys.stderr)
            return 1
        setups.append(probe.ready - probe.spawned)

    spec = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "corpus_dir": corpus_dir,
            "scratch": os.path.join(run_dir, "worker"),
            "result_path": os.path.join(run_dir, "result.json"),
            "inject_failure": args.inject_failure}
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    if os.path.exists(spec["result_path"]):
        os.remove(spec["result_path"])
    worker = Child([sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                   env, log)
    code = worker.wait(DEADLINE_S - (time.time() - started))
    exited = time.time()
    if code != 0 or not os.path.exists(spec["result_path"]):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: worker exited with {code}", file=sys.stderr)
        return 1
    with open(spec["result_path"]) as f:
        res = json.load(f)
    setups.append(res["ready_time"] - worker.spawned)
    peak_mb = {"mem.peak_rss_mb": worker.peak_rss / 2**20,
               "mem.jvm_peak_rss_mb": worker.peak_jvm_rss / 2**20}
    if res["per_layer"]:
        res["per_layer"].update(peak_mb)
        res["per_layer"]["process.cold_run_s"] = res["cold_run_s"]

    warm = res["warm_s"]
    e2e = {}
    if warm:
        e2e = {"docs_per_s": res["n_docs"] / statistics.median(warm),
               "setup_s": statistics.median(setups)}
    attempted, failed = res["attempted"], res["failed"]

    print(f"perfbench workload={wl.name} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={res['cores']} driver_mem={DRIVER_MEM} "
          f"docs={res['n_docs']}")
    print(f"  generator_s {gen_s:.3f} s (load generator, not an end-to-end metric; "
          "0 when the seed's corpus was cached)")
    print(f"  phases_s {json.dumps({k: round(v, 2) for k, v in res['phase_s'].items()})} "
          f"teardown {exited - res['ready_time'] - sum(res['phase_s'].values()):.2f} "
          f"total {time.time() - started:.1f}")
    print(f"  code_path {json.dumps(res.get('code_path', {}))}")
    print(f"  runs: 1 cold + {res['warmup_runs']} warm-up + {len(warm)} warm in the median"
          f"{' + 1 traced' if args.trace else ''}; setup samples {len(setups)}")
    for k, unit in END_TO_END.items():
        if k in e2e:
            print(f"  {k:<22} {fmt(e2e[k])} {unit}")
    extra = res["extra"]
    if extra.get("resume_s"):
        rs = extra["resume_s"]
        print(f"  {'resume_s':<22} {fmt(statistics.median(rs))} s ({len(rs)} resumes; "
              f"no-op resume {fmt(statistics.median(extra['resume_noop_s']))} s)")
    if extra.get("microbatch_s"):
        mb = extra["microbatch_s"]
        print(f"  {'microbatch_p50_s':<22} {fmt(statistics.median(mb))} s "
              f"({len(mb)} micro-batches)")
        print(f"  {'microbatch_p90_s':<22} {fmt(statistics.quantiles(mb, n=10)[-1])} s")
    print(f"  {'cold_run_s':<22} {fmt(res['cold_run_s'])} s")
    print(f"  {'peak_rss_mb':<22} {fmt(peak_mb['mem.peak_rss_mb'])} MB "
          f"(JVM {fmt(peak_mb['mem.jvm_peak_rss_mb'])} MB)")
    print(f"  {'failed_share':<22} {failed / attempted:.6g} ({failed}/{attempted})")
    for p in res["problems"]:
        print(f"  problem: {p}")

    metrics = {}
    if args.trace:
        for k, unit in PER_LAYER.items():
            if k in res["per_layer"]:
                metrics[k] = {"value": res["per_layer"][k], "unit": unit}
                print(f"  {k:<26} {fmt(res['per_layer'][k])} {unit}")
        trace_path = os.path.join(run_dir, "trace.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": res["spans"], "per_layer": res["per_layer"]},
                      f, indent=1)
        print(f"  spans and counters written to {os.path.relpath(trace_path, ROOT)}")
        wanted = PER_LAYER
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        wanted = END_TO_END
    correct = (failed == 0 and not res["problems"] and set(metrics) == set(wanted)
               and (not args.trace or res.get("same_output_traced", False)))
    if set(metrics) != set(wanted):
        print("perfbench: metrics missing: "
              f"{sorted(set(wanted) - set(metrics))}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
