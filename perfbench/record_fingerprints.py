"""Record the fingerprint of every benchmark corpus in fingerprints.json.

    python3 perfbench/record_fingerprints.py

Run from the root of a checkout after a deliberate change to the corpus
generator; the benchmark refuses to run on a corpus whose fingerprint
differs from the recorded one.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    sys.path.insert(0, ROOT)
    from run import DRIVER_MEM, stop_spark
    os.environ.update(PYTHONPATH=ROOT, SPARK_DRIVER_MEM=DRIVER_MEM)
    from anomaly_detection_spark.session import get_spark
    from tracing import Tracer
    from workloads import (FINGERPRINTS, N_CORPORA, fingerprint,
                           write_corpus)

    work = os.path.join(ROOT, ".perfbench_runs", "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    spark = get_spark("perfbench-fingerprints", master="local[4]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        out = {}
        for seed in range(N_CORPORA):
            path = os.path.join(work, str(seed))
            write_corpus(spark, seed, path, Tracer(spark, False))
            out[str(seed)] = fingerprint(spark.read.parquet(path))
            print(seed, out[str(seed)], flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
