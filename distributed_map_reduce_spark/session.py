"""SparkSession factory.

One place to encode the execution posture of the engine so every entry
point (driver contract, bench, tests) runs with the same configuration.

Scale notes (the configs below are chosen for a 1000-executor / 100 TB
deployment and merely *also* work on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion are the main levers that keep the
  declared query suite healthy when the input grows 1000x.
- Arrow on: every Pandas-UDF path (similarity search, multimodal decode)
  moves batches over Arrow instead of pickled rows.
- UTC session timezone: timestamp semantics must not depend on the host.
- shuffle.partitions is a *default*, not a schema property; at cluster
  scale it should be ~2-3x total cores, and AQE coalesces the excess.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# applicationId -> the scratch dirs handed out to that application.
_APP_SCRATCH: dict[str, set[str]] = {}
_APP_SCRATCH_LOCK = threading.Lock()


def get_spark(
    app_name: str = "distributed-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is supplied — on a real cluster the deploy
    environment sets the master and this factory only applies SQL conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE (r16 optimization round): a global
        # coalescePartitions.minPartitionSize=64k was tried to stop AQE
        # serializing compute-heavy post-shuffle stages (it sizes by
        # shuffle BYTES, so q104's 310k-candidate array_intersect
        # verify compressed to ~3 MB and ran on 3 tasks). It fixed the
        # hot queries but taxed the ~240-item tail with extra tasks
        # (~+0.3-1 s on many small queries in the full bench). Reverted
        # in favour of explicit repartition at the few measured-hot
        # sites (dedup._verify_band_candidates et al).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet scans: vectorized reader + pushdown are on by default,
        # keep them pinned so a cluster-side conf can't silently regress.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # TIMESTAMP(NANOS) parquet (events.ts) reads as int64; sources/
        # tables.py truncates ns->us. An engine-level posture, declared
        # here — NOT flipped as a read side effect — because Spark
        # consults it again at execution time, so a set/restore scoped
        # to the (lazy) read would break the later action.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: don't spam the console
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def app_scratch_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Stable per-(sf dir, Spark application) scratch path
    ``<tmp>/dmrs_<kind>_<tag>`` for a query that writes and re-reads its
    own files (q206's variant store, q214's and q219's persistent
    checkpoints, q217's XML files). Repeated invocations in one
    application reuse the same path; the applicationId in the tag keeps
    concurrent processes over the same sf dir apart and makes the name
    unpredictable to other users. The application's dirs are removed
    when the interpreter exits (one ``atexit`` hook per application)."""
    app = spark.sparkContext.applicationId
    tag = hashlib.md5(f"{sf_dir}|{app}".encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"dmrs_{kind}_{tag}")
    with _APP_SCRATCH_LOCK:
        if app not in _APP_SCRATCH:
            _APP_SCRATCH[app] = set()
            atexit.register(remove_app_scratch_dirs, app)
        _APP_SCRATCH[app].add(path)
    return path


def remove_app_scratch_dirs(app_id: str) -> None:
    """Remove every scratch dir ``app_scratch_dir`` handed out to the
    application (the exit hook)."""
    with _APP_SCRATCH_LOCK:
        paths = _APP_SCRATCH.pop(app_id, ())
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)
