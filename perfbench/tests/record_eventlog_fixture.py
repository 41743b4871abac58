"""Re-record the event-log fixture that ``test_eventlog.py`` reads.

    python3 perfbench/tests/record_eventlog_fixture.py

Runs two small traced jobs and a two-batch ``foreachBatch`` stream in a
local Spark session with an uncompressed event log, keeps only the
events and properties the parser reads, and splits the log into two
rolling parts under ``fixtures/eventlog``.
"""

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench.eventlog import ACCUMS, log_files  # noqa: E402

OUT = os.path.join(HERE, "fixtures", "eventlog", "eventlog_v2_fixture")
KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted")
PROPS = ("spark.job.description", "streaming.sql.batchId")


def record(log_dir: str, work: str) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setJobDescription("perfbench:0")
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    sc.setJobDescription("perfbench:1")
    spark.range(10).count()
    sc.setJobDescription(None)

    src = os.path.join(work, "src")
    os.makedirs(src)
    for i in range(2):
        with open(os.path.join(src, f"f{i}.json"), "w") as f:
            f.write(json.dumps({"x": i}) + "\n")

    def each(df, batch_id):
        sc.setJobDescription(f"perfbench:{2 + batch_id}")
        df.count()

    q = (
        spark.readStream.schema("x long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(each)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark.stop()


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        log_dir = os.path.join(tmp, "log")
        os.makedirs(log_dir)
        record(log_dir, tmp)
        lines = []
        for path in log_files(log_dir):
            with open(path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    ev = json.loads(line)
                    if ev.get("Event") not in KEEP:
                        continue
                    if "Properties" in ev:
                        ev["Properties"] = {
                            k: v for k, v in ev["Properties"].items() if k in PROPS
                        }
                    ev.pop("Stage Infos", None)
                    if "Stage Info" in ev:
                        info = ev["Stage Info"]
                        ev["Stage Info"] = {
                            "Stage ID": info["Stage ID"],
                            "Number of Tasks": info["Number of Tasks"],
                            "Accumulables": [
                                {"Name": a["Name"], "Value": a["Value"]}
                                for a in info.get("Accumulables", [])
                                if a.get("Name") in ACCUMS
                            ],
                        }
                    lines.append(json.dumps(ev))
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    half = len(lines) // 2
    for part, chunk in ((1, lines[:half]), (2, lines[half:])):
        with open(os.path.join(OUT, f"events_{part}_fixture"), "w") as f:
            f.write("\n".join(chunk) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
