"""One set-up sample: a fresh process builds the engine's SparkSession
(package zip and addPyFile included), prints the wall-clock time at
which the session is ready, and leaves; the harness stops the rest of
its process session."""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import session  # noqa: E402

if __name__ == "__main__":
    spark = session.build(sys.argv[1])
    print(f"@@ready {time.time():.6f}", flush=True)
    os._exit(0)             # the harness stops the JVM
