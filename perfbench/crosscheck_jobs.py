"""Cross-check the benchmark's per-operation job attribution against the
event-log profiler (tools/profile_query.py) on the benchmark's tables.

    python3 perfbench/crosscheck_jobs.py [query ...]

For each query (default: pipeline_dump_release, dedup_components_star) it
counts the jobs of one run under the benchmark's own job group, read from
the status store, and the jobs profile_query.py parses from its event log
for a warm plus one timed run (halved). Exits 1 when they differ.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from run import DATA_DIR, run_env  # noqa: E402

DEFAULT = ("pipeline_dump_release", "dedup_components_star")


def main() -> int:
    names = sys.argv[1:] or list(DEFAULT)
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="crosscheck-", dir=os.path.join(HERE, "work"))
    os.environ.update(run_env(work))
    for d in (os.environ["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"]):
        os.makedirs(d)
    try:
        profiled = {}
        for name in names:
            out = subprocess.run(
                [sys.executable, os.path.join(ROOT, "tools", "profile_query.py"), name, DATA_DIR,
                 "--runs=1"],
                check=True, capture_output=True, text=True, cwd=work,
            ).stdout
            m = re.search(r"over (\d+) jobs \(warm\+timed\)", out)
            profiled[name] = int(m.group(1)) / 2

        import sdc_spark.plans.all  # noqa: F401
        from sdc_spark.plans.registry import QUERIES
        from sdc_spark.session import get_spark
        from tracing import read_jobs
        from worker import stop_spark

        spark = get_spark("crosscheck", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
        bad = 0
        for name in names:
            QUERIES[name](spark, DATA_DIR).write.format("noop").mode("overwrite").save()  # warm
            spark.sparkContext.setJobGroup(f"xc-{name}", name)
            QUERIES[name](spark, DATA_DIR).write.format("noop").mode("overwrite").save()
            ours = len(read_jobs(spark, f"xc-{name}"))
            same = ours == profiled[name]
            bad += not same
            print(f"{name}: benchmark {ours} jobs, profile_query {profiled[name]:g} jobs"
                  f" -> {'match' if same else 'MISMATCH'}")
        stop_spark(spark)
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
