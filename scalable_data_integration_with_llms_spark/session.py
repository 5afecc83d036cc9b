"""SparkSession factory tuned for the engine.

One session, all state in DataFrames (SURVEY §7).  Local testing runs
``local[N]``; the confs below are the ones that matter at cluster scale too:
AQE for runtime re-planning/skew joins, Arrow for every pandas-UDF boundary,
and a shuffle-partition count sized for the test scale factors (the driver's
sf0.1 has ~600k-row lineitem; 32 partitions keeps per-task state small while
using all local cores — at 100 TB you'd let AQE coalesce from a few thousand).
Python workers start from ``pyworker``, Spark's daemon importing pyspark from
its unpacked install rather than ``pyspark.zip``, whenever the workers can
import this package.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
PYWORKER = f"{__package__}.pyworker"


def parse_extra_conf(spec: str) -> list[tuple[str, str]]:
    """Parse the ``SDI_EXTRA_CONF`` sweep hook: ``"k=v;k=v"`` → pairs.
    Empty segments are skipped; whitespace around keys/values is trimmed;
    values may contain ``=`` (only the first splits).  A non-empty segment
    WITHOUT ``=`` is a malformed sweep spec — raise rather than silently
    setting the conf to an empty string (ADVICE r9: a typo'd sweep must
    fail loudly, not run with an unintended conf)."""
    out = []
    for pair in filter(None, (p.strip() for p in spec.split(";"))):
        k, sep, v = pair.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"malformed SDI_EXTRA_CONF segment {pair!r}: expected 'key=value'"
            )
        out.append((k.strip(), v.strip()))
    return out


def workers_import_package(master: str, extra: list[tuple[str, str]]) -> bool:
    """Whether the Python workers of a session on ``master`` with the extra
    confs ``extra`` find this package's parent directory on their path: the
    driver's ``PYTHONPATH`` (inherited by local and local-cluster workers),
    ``spark.executorEnv.PYTHONPATH``, the site directories, or, for a
    ``local`` master, the working directory."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    dirs = [
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *dict(extra).get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    if master == "local" or master.startswith("local["):
        dirs.append(os.getcwd())
    return any(d and os.path.realpath(d) == root for d in dirs)


def get_spark(app_name: str = "sdi-spark") -> SparkSession:
    """Return (or create) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (bench contract) and,
    for adversarial correctness sweeps, ``SDI_SESSION_TZ`` (session
    timezone; default UTC — results must NOT depend on it: every
    date-bucket / sessionization query does its epoch math explicitly) and
    ``SDI_ANSI`` (``spark.sql.ansi.enabled`` override; Spark 4 defaults
    this to true, the sweep re-proves the registry with it toggled off).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = int(os.environ.get("SDI_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
    session_tz = os.environ.get("SDI_SESSION_TZ", "UTC")
    ansi = os.environ.get("SDI_ANSI")
    # recomputation-under-retry adversary (SURVEY §4 determinism trap):
    # local mode ignores spark.task.maxFailures — retries require the
    # ``local[N,F]`` master form, so the sweep sets SDI_TASK_MAX_FAILURES
    # and pairs it with SDI_FLAKY_SOURCES (sources/readers.py) to force
    # first-attempt task failures that Spark then recomputes
    max_failures = os.environ.get("SDI_TASK_MAX_FAILURES")
    master = f"local[{cpus},{int(max_failures)}]" if max_failures else f"local[{cpus}]"
    # multi-JVM execution axis (VERDICT r10 task #1): SDI_MASTER overrides
    # the master string entirely — e.g. ``local-cluster[2,4,4096]`` spawns
    # two SEPARATE executor JVMs, exercising real closure serialization,
    # broadcast over RPC, and shuffle through the block manager, none of
    # which the single-JVM local[N] master can prove
    master = os.environ.get("SDI_MASTER", master)
    # generic adversarial-sweep hook: "key=value;key=value" pairs applied
    # last, so a sweep can toggle any conf (codegen, AQE, ...) without a
    # dedicated env var per knob
    extra = parse_extra_conf(os.environ.get("SDI_EXTRA_CONF", ""))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", session_tz)
        # events.ts has shipped as parquet TIMESTAMP(NANOS): read it as long
        # (sources/readers.py converts) instead of failing the scan.  Set
        # here once so no read changes session config mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SDI_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if ansi is not None:
        builder = builder.config("spark.sql.ansi.enabled", ansi)
    if workers_import_package(master, extra):
        builder = builder.config("spark.python.daemon.module", PYWORKER)
    for k, v in extra:
        builder = builder.config(k, v)
    return builder.getOrCreate()
