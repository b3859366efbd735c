"""Record the small event log ``test_eventlog.py`` reads.

    python3 perfbench/tests/record_eventlog.py

Runs on ``local[2]`` with the event log on: a parquet write of 2,000 rows,
the read of its schema, a scan of it through a ``mapInArrow`` stage into a
grouped aggregate (one shuffle), and a ``noop`` write of the scan. Writes the log,
gzipped, to ``data/small_eventlog.json.gz`` and the action spans (epoch
seconds) to ``data/small_spans.json``.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))


def main() -> None:
    from bistro_spark.session import get_spark

    tmp = tempfile.mkdtemp(dir=HERE)
    try:
        logs = os.path.join(tmp, "eventlog")
        os.makedirs(logs)
        spark = get_spark(master="local[2]", app_name="small_eventlog", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        spans = {}

        def timed(name, fn):
            t0 = time.time()
            fn()
            spans[name] = [t0, time.time()]

        path = os.path.join(tmp, "t.parquet")
        timed("write", lambda: spark.range(2000).selectExpr("id", "id % 7 AS k")
              .repartition(2).write.parquet(path))

        def double(batches):
            import pyarrow.compute as pc

            for b in batches:
                yield b.set_column(0, "id", pc.multiply(b.column(0), 2))

        t0 = time.time()
        scan = spark.read.parquet(path).mapInArrow(double, "id long, k long")
        spans["read"] = [t0, time.time()]
        timed("aggregate", lambda: scan.groupBy("k").count().collect())
        timed("noop", lambda: scan.write.format("noop").mode("overwrite").save())
        spark.stop()
        (log,) = [p for p in glob.glob(os.path.join(logs, "**", "*"), recursive=True)
                  if os.path.isfile(p) and not os.path.basename(p).startswith(".")]
        data = os.path.join(HERE, "data")
        os.makedirs(data, exist_ok=True)
        with open(log, "rb") as src, gzip.open(os.path.join(data, "small_eventlog.json.gz"), "wb") as dst:
            shutil.copyfileobj(src, dst)
        with open(os.path.join(data, "small_spans.json"), "w") as f:
            json.dump(spans, f, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
