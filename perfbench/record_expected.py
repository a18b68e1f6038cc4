"""Record the catalog panel's row counts and fingerprints.

    python3 perfbench/record_expected.py

Writes ``catalog_expected.json``, which the ``catalog`` workload's warm
pass checks against. Re-record only when a query's result is meant to
change, and say so in the change that does it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from catalog import DATA, EXPECTED, PANEL, fingerprint, load_table_hash
from common import ROOT
from run import prepare_env, stop_spark


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_env(work, trace=False)
    sys.path.insert(0, ROOT)
    from etly_spark.queries import REGISTRY
    from etly_spark.session import get_spark

    try:
        spark = get_spark("perfbench-record")
        try:
            table_hash = load_table_hash()
            got = {q: list(fingerprint(REGISTRY[q].spark(spark, DATA), table_hash)) for q in PANEL}
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # a benchmark run still owns a directory there
    with open(EXPECTED, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(got))
    return 0


if __name__ == "__main__":
    sys.exit(main())
