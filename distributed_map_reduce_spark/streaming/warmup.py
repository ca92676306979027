"""Per-session streaming-machinery setup, as two explicit steps.

A session's first streaming query pays one-time costs that have nothing
to do with that query's data. They split into two machineries, and
each step warms one:

- ``warm_streaming_machinery`` warms the JVM stream path every twin
  runs: the parquet file-stream source, the micro-batch engine (offset
  WAL, commit log), the state-store provider and the first stateful
  codegen. ~5.5–7.5 s on a fresh JVM at ``local[4]``.
- ``warm_python_stream_source`` warms the Python DataSource path only
  the ``docrange`` consumers (q212, q219, q236) run: the source's
  registration (the DataSource class is pickled and shipped to the JVM,
  1.4–2.4 s), then the Python processes the JVM spawns for a Python
  stream (source lookup, source creation, the streaming planner and a
  ``pyspark.worker``), which stay alive for the session. ~6–7 s.

A session that drains no Python source runs only the first step: on
``perfbench``'s ``stream_drain`` (the q14 and q99 file-stream twins)
that cut the traced ``streaming.warmup_s`` 10.9 → 6.4 s and
``spark.python.rss_peak_mb`` 641 → 0 MB (one seeded run, ``local[4]``
on 4 vCPUs).

In r16's bench these costs landed on whichever docrange consumer ran
first in registry order (q236) — a registry-order accident, not a q236
cost (VERDICT r16 item 3). Production posture: a source is registered
once per session and the streaming runtime is warm for the session's
lifetime. ``bench.py`` runs both steps once, billed as its own
``stream_machinery_setup`` line item (the pair-store discipline:
visible in the suite total, not hidden in a query), so per-query rows
show per-query costs.

Each warm stream reads a 2-row synthetic parquet written here — never
the corpus — so no query result or corpus-derived intermediate is
precomputed; only session machinery is initialized. It drains through
the same ``drain`` as the twins, and the parquet's temp dir is removed
on exit.
"""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pystreamsource import STREAM_SCHEMA, register_docrange
from .events_stream import drain


@contextlib.contextmanager
def _warm_file():
    """Path of a 2-row synthetic ``STREAM_SCHEMA`` parquet file, alone
    in a temp dir that is removed on exit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

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
        yield path


def _drain_stateful(src: DataFrame) -> None:
    """The q236 operator shape in miniature: key projection, event time,
    watermark, dropDuplicatesWithinWatermark — warms the stateful
    codegen + state-store path a real drain uses."""
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


def warm_streaming_machinery(spark: SparkSession) -> None:
    """Drain one 2-row synthetic micro-batch from the parquet
    file-stream source through a stateful operator."""
    with _warm_file() as path:
        _drain_stateful(
            spark.readStream.schema(STREAM_SCHEMA).parquet(os.path.dirname(path))
        )


def warm_python_stream_source(spark: SparkSession) -> None:
    """Register the docrange source and drain one 2-row synthetic
    micro-batch from it through a stateful operator."""
    register_docrange(spark)
    with _warm_file() as path:
        _drain_stateful(
            spark.readStream.schema(STREAM_SCHEMA)
            .format("docrange")
            .option("path", path)
            .load()
        )
