"""SparkSession factory.

Defaults are tuned for the local[32] test harness but chosen so the same
code is correct on a 1000-executor cluster:

- AQE on (runtime coalescing + skew-join splitting) so shuffle partition
  counts self-correct at any scale factor.
- ``spark.sql.shuffle.partitions`` defaults to 2x local cores; on a real
  cluster this should be ~2-3x total executor cores (or left to AQE).
- Session timezone pinned to UTC: the reference mixes naive datetimes,
  ISO strings and epoch seconds (see SURVEY.md §7.5); we standardize on
  UTC TimestampType end-to-end, and UTC is required for DuckDB-oracle
  value parity.
- Arrow enabled for every pandas interchange (pandas UDFs, toPandas).
- Codegen cache sized to the working set
  (``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``).
  Spark's default of 100 entries is smaller than one warm micro-batch of
  the streaming body (``ingest_batch`` + ``assign_batch_to_stories``
  generate ~240 whole-stage classes) or one warm ``run_pipeline`` (~180),
  so at the default every call misses on every class and pays the
  Janino compile and a fresh JIT again. With 1000 entries a warm batch
  compiles 2-20 classes and a warm pipeline 20-36 (perfbench inputs,
  ``local[4]``). The conf is STATIC:
  it takes effect only when the JVM (the first session) starts, never on
  a session this factory hands back from ``getOrCreate``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# generated classes kept compiled per JVM; see the module docstring
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "newsify_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the session.

    On a real cluster, drop the ``master`` call and submit with
    ``spark-submit``; every other conf below is scale-agnostic.
    ``extra_conf`` is applied last, so it can override any of them
    (the codegen cache size included).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # files.maxPartitionBytes left at 128m: right for both local fixtures
        # and TB-scale scans (more splits = more parallelism, AQE coalesces).
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (Spark's
    ``CodegenMetrics`` compilation histogram). The delta over a call is
    the number of codegen-cache misses it paid for: a structural count
    that host load cannot move."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@dataclass
class RoundTrips:
    """Python→JVM commands counted by :func:`round_trips`."""

    count: int = 0


@contextmanager
def round_trips(spark: SparkSession) -> Iterator[RoundTrips]:
    """Count the py4j call and reflection commands the driver sends to
    the JVM inside the block::

        with round_trips(spark) as rt:
            ...
        rt.count

    Each is one blocking round trip over the gateway socket. Building a
    plan node by node through the Column API costs one per node and
    member lookup, so this is the driver-side cost of constructing
    DataFrames, apart from the jobs they run. Memory-detach commands are
    not counted: the gateway sends them when Python's garbage collector
    frees a JVM reference, so their number follows GC timing, while the
    counted commands repeat exactly for the same code path. Wraps the
    connection class of the session's gateway (py4j's pinned-thread
    ``ClientServer`` or the classic ``JavaGateway``), in every thread,
    for the duration of the block; blocks nest."""
    from py4j import protocol
    from py4j.clientserver import ClientServer, ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    gateway = spark.sparkContext._gateway
    conn = ClientServerConnection if isinstance(gateway, ClientServer) else GatewayConnection
    counted = (protocol.CALL_COMMAND_NAME, protocol.REFLECTION_COMMAND_NAME)
    rt = RoundTrips()
    send = conn.send_command

    def counting_send(self, command):
        if command.startswith(counted):
            rt.count += 1
        return send(self, command)

    conn.send_command = counting_send
    try:
        yield rt
    finally:
        conn.send_command = send
