"""Probe: does `transformWithStateInPandas` complete under an
availableNow file-source run on this Spark build? Round 7 observed a
hang; re-probed each round per VERDICT (r7 item 6). Run standalone
with a watchdog: `timeout 180 python tools/probe_tws.py`.
Exit 0 = migration viable; nonzero/timeout = keep
`applyInPandasWithState` pinned (SCALE.md).
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StructField,
    StructType,
)

OUT_SCHEMA = StructType(
    [StructField("user_id", LongType(), True), StructField("n", LongType(), True)]
)


class CountProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._count = handle.getValueState(
            "count", StructType([StructField("n", LongType(), True)])
        )

    def handleInputRows(self, key, rows, timerValues):
        n = 0
        for pdf in rows:
            n += len(pdf)
        prev = self._count.get()
        total = (prev[0] if prev else 0) + n
        self._count.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

    def close(self) -> None:
        pass


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("probe-tws")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
        spark.range(100).selectExpr("id % 7 AS user_id", "id AS v").write.parquet(src)
        stream = spark.readStream.schema("user_id BIGINT, v BIGINT").parquet(src)
        out = stream.groupBy("user_id").transformWithStateInPandas(
            CountProcessor(),
            outputStructType=OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("tws_probe")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        except Exception as exc:  # StreamingQueryException -> blocked, not hung
            msg = str(exc)
            if (
                "google.protobuf" in msg
                or "ModuleNotFoundError" in msg
                or "driver worker exited unexpectedly" in msg
            ):
                # surface error is the worker crash; the driver log shows
                # the root cause: ImportError: cannot import name
                # 'descriptor' from 'google.protobuf' — the TWS state
                # server speaks protobuf and the package is absent here
                print(
                    "PROBE RESULT: BLOCKED — transformWithStateInPandas needs the "
                    "`protobuf` Python package (state-server wire protocol) and this "
                    "environment has none; applyInPandasWithState stays the pinned API"
                )
                return 4
            print(f"PROBE RESULT: ERROR {msg[:500]}")
            return 5
        if q.isActive:
            q.stop()
            print("PROBE RESULT: HANG (availableNow did not terminate in 120s)")
            return 2
        rows = {r["user_id"]: r["n"] for r in spark.sql("SELECT * FROM tws_probe").collect()}
        expect = {u: sum(1 for i in range(100) if i % 7 == u) for u in range(7)}
        ok = rows == expect
        print(f"PROBE RESULT: {'PASS' if ok else 'WRONG'} rows={rows}")
        return 0 if ok else 3


if __name__ == "__main__":
    raise SystemExit(main())
