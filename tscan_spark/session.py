"""SparkSession construction and runtime tuning.

Each engine conf is set in exactly one place, chosen by when Spark lets
it change:

- **Launch-time confs** (static SQL confs, JVM options, driver heap, UI)
  only take effect when the context starts, so only :func:`builder` sets
  them. :func:`get_spark` and ``jobs/run_features.py`` build through it.
- **Runtime confs** are set only by :func:`tune`, which every registered
  query applies to the session it is given. Shuffle parallelism is
  derived there from the session's ``defaultParallelism`` unless the
  launch conf already carries it (``spark-submit --conf``).

A session built elsewhere (the driver contract, a host notebook) gets
the runtime confs from :func:`tune` but keeps its own launch-time confs,
including PySpark's per-op DataFrame-debugging wrapper if it left it on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LAUNCH_CONF = {
    # PySpark 4's DataFrame debugging wraps EVERY DataFrame/Column op to
    # capture its Python call site for error context — ~4 py4j round
    # trips + a stack walk per op. The wide-vector builders here issue
    # thousands of ops per query, and profiling showed this wrapper as
    # ~half of tscan_doc_profile's 14s driver-side construction time
    # (guide §5: the driver should do almost no work). Error messages
    # lose only the Python call-site decoration. A static conf: setting
    # it on a running session raises CANNOT_MODIFY_STATIC_CONFIG.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # release dropped broadcast/shuffle state between queries in
    # long-lived benchmark/driver sessions — 30min, NOT 1min: each
    # trigger is a stop-the-world full GC of the 32g heap, and at
    # 1min the pauses landed on random queries (5-20s inflation
    # moving between runs)
    "spark.cleaner.periodicGC.interval": "30min",
    # whole-stage codegen across ~60 wide queries fills the default
    # ~240m JIT code cache; once full the JVM stops compiling and
    # late queries run interpreted (measured 3-10x, later 10-45x
    # slowdowns as the query battery grew) — reserve big and keep
    # flushing enabled so cold compiled methods can be evicted
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
    "spark.ui.enabled": "false",
}

# AQE gives shuffle-coalescing + skew-join splitting at 100 TB scale;
# Arrow is mandatory for the pandas-UDF kernels (vectorized, never
# per-row Python); UTC pins timestamp semantics so results are
# independent of driver locale.
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # broadcast anything under 64 MB — every lexicon dimension in this
    # engine is far below that (reference lexicons are ~3.5 MB each,
    # /root/reference/data/prevalence_nl.data)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def tune(spark: SparkSession) -> SparkSession:
    """Apply the runtime engine confs to an existing session.

    Shuffle parallelism is one partition per core (at least 8): every
    stage stays fully parallel without tiny-partition overhead at test
    scale, and AQE coalesces from there. A value in the launch conf
    wins; ``SparkContext._conf.contains`` checks that without copying
    the whole conf (``getConf()``), since this runs once per query.
    """
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    sc = spark.sparkContext
    if not sc._conf.contains(_SHUFFLE_PARTITIONS):
        spark.conf.set(_SHUFFLE_PARTITIONS, str(max(sc.defaultParallelism, 8)))
    _tune_gateway_sockets()
    return spark


def _tune_gateway_sockets() -> None:
    """Set TCP_NODELAY on the py4j command sockets.

    py4j leaves Nagle's algorithm on; every DataFrame/Column call is a
    small synchronous request/response, and wide-vector query
    construction issues tens of thousands of them. Measured: ~0.8ms ->
    ~0.6ms per round trip on this host. Driver-side only; best effort.
    """
    import socket as _socket

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        for conn in list(getattr(gw._gateway_client, "deque", [])):
            sock = getattr(conn, "socket", None)
            if sock is not None:
                sock.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    except Exception:
        pass


def _default_driver_mem() -> str:
    """8g library default; 32g only when the host clearly has headroom.

    Long bench/driver sessions on the 128 GiB sandbox need the big heap
    (see :func:`builder`), but baking 32g into the library default
    would swap or OOM-kill smaller hosts.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) / (1024 * 1024)
                    return "32g" if gib >= 96 else "8g"
    except OSError:
        pass
    return "8g"


def builder(app_name: str) -> SparkSession.Builder:
    """A session builder carrying every launch-time conf.

    The driver heap is a deployment setting: derived from host RAM,
    overridden by ``TSCAN_SPARK_DRIVER_MEM``. A single-JVM local session
    hosts driver, executors and every broadcast; 8g thrashed GC after
    ~50 sequential queries in one session (late queries measured 3-10x
    their isolated cost).
    """
    mem = os.environ.get("TSCAN_SPARK_DRIVER_MEM", _default_driver_mem())
    return SparkSession.builder.appName(app_name).config(
        map={"spark.driver.memory": mem, **_LAUNCH_CONF}
    )


def get_spark(app_name: str = "tscan_spark", master: str = "local[*]") -> SparkSession:
    """Build (or reuse) a tuned local session.

    On a cluster spark-submit owns the master; ``jobs/run_features.py``
    builds through :func:`builder` without one and applies :func:`tune`.
    """
    return tune(builder(app_name).master(master).getOrCreate())
