"""Per-session streaming-machinery setup, as an explicit step.

A session's FIRST Python-DataSource streaming query pays a stack of
one-time costs that have nothing to do with that query's data: the
``docrange`` source registration (the DataSource class is pickled and
shipped to the JVM), the driver-side Python planner worker spawn for
the ``DataSourceStreamReader`` contract, Structured Streaming's
query-machinery init (offset WAL, state-store provider, first stateful
codegen). In r16's bench those ~3 s landed on whichever docrange
consumer ran first in registry order (q236) — a registry-order
accident, not a q236 cost (VERDICT r16 item 3).

Production posture: a source is registered once per session and the
streaming runtime is warm for the session's lifetime. ``bench.py``
calls this once, billed as its own ``stream_machinery_setup`` line item
(the pair-store discipline: visible in the suite total, not hidden in
a query), so per-query rows show per-query costs.

The warm stream reads a 2-row synthetic parquet written here — never
the corpus — so no query result or corpus-derived intermediate is
precomputed; only session machinery is initialized. It drains through
the same ``drain`` as the twins, and the parquet's temp dir is removed
on exit.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def warm_streaming_machinery(spark: SparkSession) -> None:
    """Register the docrange source and drain one 2-row synthetic
    micro-batch through a stateful operator."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.pystreamsource import STREAM_SCHEMA, register_docrange
    from .events_stream import drain

    register_docrange(spark)
    with tempfile.TemporaryDirectory(prefix="dmrs_stream_warm_") as d:
        path = os.path.join(d, "warm.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([0, 1], pa.int64()),
                    "source": pa.array(["w", "w"], pa.string()),
                    "lang": pa.array(["x", "x"], pa.string()),
                    "n_chars": pa.array([1, 1], pa.int64()),
                }
            ),
            path,
        )
        src = (
            spark.readStream.schema(STREAM_SCHEMA)
            .format("docrange")
            .option("path", path)
            .load()
        )
        # The q236 operator shape in miniature: key projection, event
        # time, watermark, dropDuplicatesWithinWatermark — warms the
        # stateful codegen + state-store path a real drain uses.
        warmed = (
            src.select((F.col("doc_id") % 2).alias("k"))
            .withColumn(
                "ets",
                F.expr("timestamp_micros(CAST((86400 + k) * 1000000 AS BIGINT))"),
            )
            .withWatermark("ets", "3600 seconds")
            .dropDuplicatesWithinWatermark(["k"])
        )
        drain(warmed, "append")
