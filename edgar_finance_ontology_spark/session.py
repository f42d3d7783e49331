"""SparkSession construction tuned for the engine.

Defaults are sized for the sandbox (local[N]) but every setting is the
one you'd ship to a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), Arrow on (all our Python is pandas-UDF batched),
partition sizes bounded so a 100 TB scan yields sane tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "efin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("EFIN_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones, and
        # convert to broadcast joins at runtime — all critical at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas UDF / mapInPandas stage.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Bound scan tasks: 128 MiB splits keep 100 TB ≈ 800k tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Generated classes are a per-process working set: a kg build, a
        # cold incremental store and two late-page patches compile 711
        # distinct classes (1,487 loaded, ~3.5 KB bytecode each, ~5 MB
        # in all), bounded by plan shapes, not by data. Spark's default
        # 100-entry LRU evicts them all between calls, so every patch
        # recompiled ~380 classes and ran them un-JITted. 2,000 is ~3x
        # the measured set, with room for the registry and CQ plans.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # The cache is keyed by source text. With the stage id in the
        # class name, the same pipeline gets a new key whenever AQE
        # finishes sibling stages in another order (a run_pipeline
        # repeated in one session missed 14-22 of ~230 entries); the id
        # still shows in explain() and in the generated code's comment.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark 4 captures a Python call-site string (an inspect stack
        # walk + a py4j round trip) on EVERY DataFrame/Column API call to
        # decorate error messages. The engine builds ~50k Column
        # expressions per KG run, where this instrumentation alone was
        # ~60% of plan-construction wall (cProfile: _capture_call_site +
        # the extra py4j traffic; 5.2s -> 2.1s on a 96-entry emission
        # build). Debug-only metadata, zero effect on results or on
        # cluster execution — turn it off (guide §7.3: very large plans
        # make driver-side construction a real cost).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Permissive null-on-error semantics (matches the reference's
        # try/except-swallowing Python); formulas still guard /0 explicitly.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("EFIN_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout/stderr machine-readable: the bench harness prints
        # ONE JSON line that automation parses; progress-bar \r frames
        # interleaved into captured output corrupted the round-3 record
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def get_or_create(app_name: str = "efin-spark") -> SparkSession:
    return build_session(app_name)
