"""Shared tuned-session defaults — ONE definition for bench, tools,
CLI, and the engine (VERDICT r8 item 7: the measured codegen-fallback
win lived only in bench.py, so the engine's sessions and library users
never got it).

The knobs, all measured and scale-independent:

- ``spark.sql.codegen.hugeMethodLimit=8000``: HotSpot refuses to JIT
  methods over 8 KB of bytecode (-XX:-DontCompileHugeMethods default),
  so whole-stage-generated methods between 8 KB and Spark's 64 KB
  default limit run in the JVM *bytecode interpreter* — measured 12.6x
  slower than Spark's own interpreted expression path on the embedding
  pair-scoring stage (round 8). 8000 makes Spark fall back exactly
  where the JIT stops compiling. A JVM property, not a local[32] tune.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` (STATIC conf —
  builder time only): PySpark 4's per-Column-op call-site capture
  (_with_origin) costs ~4 py4j round trips + a Python stack walk on
  EVERY Column method — measured round 9: a binop 2100 µs with it, 160
  µs without — in exchange for a user-code line number in error
  messages. For a library whose expression trees are built in library
  code that context is noise; results are unaffected (error-message
  metadata only). pyspark caches the flag at the first Column op, so it
  only takes effect set before the session's first use. See
  py4j_cache.py for the companion reflection-cache half of this fix.
- ``-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing``: dozens of
  large generated classes (128-col aggs, unrolled dots) can exhaust the
  default 240 MB code cache, silently disabling JIT compilation for
  every later query in the session.

Both entry points below also install py4j_cache's reflection caches,
and that patch is PROCESS-GLOBAL: it replaces py4j's ``JVMView`` /
``JavaClass`` attribute lookups for every gateway and every session in
the Python process — including sessions this library never built —
and stays installed for the life of the process. There is no opt-out.

``hugeMethodLimit`` is a dynamic SQL conf — apply_tuned_sql_confs() can
retrofit it onto an existing session (the engine does this for the
sessions it owns; note newSession() shares the parent context's static
confs, so a tuned_builder parent hands the static conf down). The
code-cache flags are JVM launch options and only take effect through
tuned_builder() before the driver JVM starts.
"""
from __future__ import annotations

from pyspark.sql import SparkSession

#: dynamic SQL confs — safe to set on a live session
TUNED_SQL_CONFS: dict[str, str] = {
    "spark.sql.codegen.hugeMethodLimit": "8000",
}

#: static SQL confs — builder time only (Spark raises
#: CANNOT_MODIFY_STATIC_CONFIG on a live session)
TUNED_STATIC_CONFS: dict[str, str] = {
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

#: driver JVM launch options — only effective before the JVM starts
DRIVER_JAVA_OPTIONS = "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"


def apply_tuned_sql_confs(spark: SparkSession) -> SparkSession:
    """Set the dynamic tuned confs on an existing session (idempotent).

    Static confs can't be modified on a live session; they arrive via
    tuned_builder() (and newSession() inheritance from a tuned parent).
    Also installs the process-global py4j reflection patch (see the
    module docstring).
    """
    from . import py4j_cache

    py4j_cache.install()
    for k, v in TUNED_SQL_CONFS.items():
        spark.conf.set(k, v)
    return spark


def tuned_builder(
    master: str, app_name: str = "nsdb-spark"
) -> "SparkSession.Builder":
    """A SparkSession builder carrying the shared tuned defaults.

    Callers layer their own workload confs (shuffle partitions, AQE,
    memory) on top; this only owns the session-independent knobs
    documented above. Like apply_tuned_sql_confs(), it installs the
    process-global py4j reflection patch.
    """
    from . import py4j_cache

    py4j_cache.install()
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    for k, v in {**TUNED_SQL_CONFS, **TUNED_STATIC_CONFS}.items():
        b = b.config(k, v)
    return b
