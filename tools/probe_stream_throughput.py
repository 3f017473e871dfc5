"""Streaming-throughput decade probe for the §3.4 traffic column
(SCALE.md §21).

Question: is per-EVENT cost flat as input volume decades — i.e. do the
micro-batch fixed overheads amortize so the three-hop streaming graph
(log split → UV detail → channel DWS MERGE) scales with data, not with
trigger count? Method: two corpora spanning the SAME two event-time
hours (so window counts and watermark advances are identical) at 10×
density, each as 4 files → 4 micro-batches at the raw source, and so at
the UV hop, which reads the page log one upstream batch per trigger (the
DWS hop reads every committed UV file per trigger); the graph is drained
twice in topological order (pass 2 lets stage N+1 consume what stage N
committed in pass 1) and the wall covers both passes. Distinct
devices (UV state keys) also scale 10× — state growth is part of the
law being measured. Emits one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_datawarehouse_spark.session import build_session  # noqa: E402
from realtime_datawarehouse_spark.streaming import pipelines  # noqa: E402

BASE_TS = 1704067200000  # 2024-01-01T00:00Z
SPAN_MS = 2 * 3600 * 1000  # both corpora cover the same two hours


def gen_log_files(spark, d: str, n_events: int, n_files: int) -> None:
    per = n_events // n_files
    mids = max(n_events // 10, 1)  # UV state keys scale with the corpus
    for f in range(n_files):
        lo = f * per
        (
            spark.range(lo, lo + per)
            .select(
                F.format_string(
                    '{"common":{"mid":"m%s","vc":"v%s","ch":"%s",'
                    '"ar":"%s","is_new":"%s"},'
                    '"page":{"page_id":"home"},"ts":%s}',
                    (F.col("id") % mids).cast("string"),
                    (F.col("id") % 3).cast("string"),
                    F.when(F.col("id") % 2 == 0, "app").otherwise("web"),
                    (F.lit(110000) + (F.col("id") % 5) * 10000).cast(
                        "string"
                    ),
                    (F.col("id") % 2).cast("string"),
                    (
                        F.lit(BASE_TS)
                        + (F.col("id") * SPAN_MS / n_events).cast("bigint")
                    ).cast("string"),
                ).alias("value")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(d)
        )


def drain(qs) -> None:
    for _ in range(2):
        for q in qs:
            q.processAllAvailable()


def main() -> None:
    spark = build_session(app_name="probe_stream_throughput")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    work = tempfile.mkdtemp(prefix="probe_stream_")
    try:
        # warmup (unreported): the first streaming run pays one-time JVM/
        # codegen/checkpoint-machinery costs that would otherwise land on
        # whichever scale runs first and invert the ratio
        for n in (3_000, 30_000, 300_000):
            in_dir = os.path.join(work, f"in_{n}")
            gen_log_files(spark, in_dir, n, n_files=4)
            raw = (
                spark.readStream.schema("value string")
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            qs = pipelines.traffic_stream_graph(
                raw,
                os.path.join(work, f"wk_{n}"),
                store_path=os.path.join(work, f"store_{n}"),
            )
            t0 = time.perf_counter()
            try:
                drain(qs)
            finally:
                for q in qs:
                    q.stop()
            wall = time.perf_counter() - t0
            if n > 3_000:
                out[str(n)] = {
                    "wall_s": round(wall, 2),
                    "events_per_s": int(n / wall),
                }
        r = out["300000"]["wall_s"] / out["30000"]["wall_s"]
        print(
            json.dumps(
                {
                    "traffic_three_hop": out,
                    "decade_wall_ratio": round(r, 2),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
