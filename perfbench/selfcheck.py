"""The benchmark's checks on itself.

    python3 perfbench/selfcheck.py [--seed 7]

Run from the root of a checkout; takes a few minutes.  Checks that

1. the same seed writes the same corpus: two generator processes, and
   every bucket file holds the same rows in the same order, with the
   same schema and key-value metadata.  The files are not byte-identical:
   Spark's parquet writer lists each column chunk's encodings in its
   footer in set order, which differs between JVM processes;
2. a deliberately corrupted run is counted: ``--inject-failure`` makes
   ``failed`` rise above 0 and ``correct`` false;
3. a traced run reports the same outputs as the untraced runs and
   passes the same output checks (``correct`` with ``--trace 1``).

Exits 0 only if all three hold.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", "selfcheck")

sys.path.insert(0, ROOT)
from perfbench.run import Child, child_env, spark_cores  # noqa: E402
from perfbench.workloads import LOG_ROWS  # noqa: E402


def corpus_files(root: str) -> dict[str, list]:
    """Every parquet file's table, keyed by its directory (Spark names
    each file with a fresh id on every write)."""
    import pyarrow.parquet as pq
    out = {}
    for d, _subdirs, names in sorted(os.walk(root)):
        for n in sorted(names):
            if n.endswith(".parquet"):
                out.setdefault(os.path.relpath(d, root), []).append(
                    pq.read_table(os.path.join(d, n)))
    return out


def same_tables(a: dict, b: dict) -> bool:
    return (bool(a) and a.keys() == b.keys()
            and all(len(a[k]) == len(b[k])
                    and all(x.equals(y, check_metadata=True)
                            for x, y in zip(a[k], b[k])) for k in a))


def same_seed_same_corpus(seed: int) -> bool:
    env = child_env(spark_cores(), os.path.join(WORK, "proc"))
    corpora = []
    for copy in ("a", "b"):
        out = os.path.join(WORK, copy, "pages")
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        os.makedirs(os.path.dirname(out))
        gen = Child([sys.executable, os.path.join(HERE, "generate.py"), out,
                     str(LOG_ROWS), str(seed)], env, os.path.join(WORK, "generate.log"))
        if gen.wait(120) != 0:
            return False
        corpora.append(corpus_files(out))
    shutil.rmtree(os.path.join(WORK, "proc"), ignore_errors=True)
    return same_tables(*corpora)


def bench(*args) -> dict:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        return {}
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    seed = str(ap.parse_args().seed)
    common = ["--workload", "checkpointed_sinks", "--seed", seed, "--seconds", "1"]
    checks = {
        "same seed, same corpus": same_seed_same_corpus(int(seed)),
    }
    injected = bench(*common, "--trace", "0", "--inject-failure")
    checks["injected failure is counted"] = (
        injected.get("failed", 0) > 0 and injected.get("correct") is False)
    traced = bench(*common, "--trace", "1")
    checks["traced run reports the same outputs"] = (
        traced.get("correct") is True and traced.get("failed") == 0)
    for name, ok in checks.items():
        print(f"{'PASS' if ok else 'FAIL'}  {name}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
