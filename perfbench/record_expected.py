"""Record the expected output of every query the query workloads run.

    python3 perfbench/record_expected.py

Generates each workload's tables, runs every query twice and writes the
row count and order-insensitive hash sum of its output (see
``workloads.checksum_frame``) to ``expected.json``, keyed by scale
factor. A query whose two checksums differ is reported and not
recorded. Run it from the root of a checkout of a commit whose outputs
are known to be right, and again whenever ``datagen.py`` changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
import workloads


def main() -> int:
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench", f"record-{os.getpid()}")
    out: dict[str, dict[str, list]] = {}
    unstable = []
    try:
        conf = run.prepare_env(work)
        spark = None
        for name, wl in sorted(workloads.WORKLOADS.items()):
            if not isinstance(wl, workloads.QueryWorkload):
                continue
            sf_dir = os.path.join(work, name)
            run.datagen.write(wl.sf, sf_dir)
            if spark is None:
                spark, _, _ = run.set_up(conf, sf_dir)
            from kaspi_etl_spark.registry import QUERIES

            rec = out.setdefault(str(wl.sf), {})
            for q in wl.queries:
                a, b = (workloads.read_checksum(QUERIES[q](spark, sf_dir)) for _ in range(2))
                if a != b:
                    unstable.append(q)
                    print(f"{q}: unstable {a} vs {b}", file=sys.stderr)
                    continue
                rec[q] = [a[0], str(a[1])]
                print(f"{wl.sf} {q}: {a}", file=sys.stderr)
        if spark is not None:
            spark.stop()
        run.stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if unstable else 0


if __name__ == "__main__":
    sys.exit(main())
