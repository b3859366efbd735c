"""spark-submit entry of the ``stream_sketch`` workload.

    spark-submit ... --py-files bistro_spark.zip perfbench/stream_driver.py \
        <check spec.json> bistro_spark/jobs/stream_pipeline.py <job args...>

Runs the job file unchanged as ``__main__`` with its own arguments, exactly
as spark-submit would, then checks the job's committed output with
``workloads.stream_check`` on a new SparkSession in the same JVM, so the
check pays no second JVM start. ``bistro_spark`` is imported from the
``--py-files`` zip in both parts.
"""

from __future__ import annotations

import json
import runpy
import sys

import workloads


def main() -> None:
    spec_path, job = sys.argv[1], sys.argv[2]
    sys.argv = [job, *sys.argv[3:]]
    runpy.run_path(job, run_name="__main__")
    with open(spec_path) as f:
        spec = json.load(f)
    with open(spec["metrics"]) as f:
        progress = [e for e in map(json.loads, f) if e.get("event") == "progress"]
    spec["watermark"] = progress[-1]["watermark"]
    workloads.run("stream_check", spec)


if __name__ == "__main__":
    main()
