"""SparkSession factory with the engine's standard configuration.

Arrow execution is mandatory (every Python crossing is a pandas/Arrow UDF —
the north rule forbids per-row Python), AQE is on for runtime re-planning
(skew joins, coalescing the shrinking edge lists of the connected-components
loop), ANSI mode is pinned on (integer overflow fails the query instead of
wrapping; Spark 4's default, stated so that a cluster default cannot turn it
off, and checked by ``require_ansi`` where an operator's exact-integer
arithmetic relies on it), Tungsten pages are a fixed ``PAGE_SIZE``
instead of Spark's heap-derived size (64 MiB at the 8g heap and 2-4
slots, committed by every sorting or aggregating task however small its
partition), and shuffle partitions default to a local-mode-friendly count
that callers override for cluster runs.  ``extra_conf`` overrides any of
these.  The Python workers' per-task import cost is handled where the
crossings are made (``operators/arrow_groups``), not by a session option.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_SHUFFLE_PARTITIONS = 32

# Tungsten page size (``spark.buffer.pageSize``) for every sort and
# aggregate.  Spark's default derives it from the heap (execution memory /
# slots / 16, clamped to 1-64 MiB): 64 MiB at the 8g heap and 2-4 slots, so
# every sorting task zero-filled a 64 MiB page (a G1 humongous object that
# goes straight into RSS) for a partition of a few MB.  A fixed size keeps
# that cost the same on every box; the 8192-entry page table still lets a
# task address 32 GiB.  4 MiB less the 16-byte long[] header, as Spark
# trims its own default under G1 (but not a configured size): a page then
# fits one 4 MiB region of the 8g heap instead of taking two.
PAGE_SIZE = f"{(4 << 20) - 16}b"

# Longest wait for an Observation after its action returned.  The metrics
# arrive through the asynchronous listener bus, normally within
# milliseconds; a listener that never fires must fail the caller, not hang it.
OBSERVATION_TIMEOUT_S = 300.0


def get_spark(
    app_name: str = "kie-kg-engine",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes ``None`` with master supplied by spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow: the only JVM<->Python boundary we allow, batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime coalescing + skew-join splitting. The CC loop's edge
        # list shrinks geometrically; AQE right-sizes each round.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions from COMPRESSED shuffle bytes,
        # so a compute-dense but byte-light stage (a candidate-pair table
        # is ~16 B/row however big the corpus is; the per-row work is a
        # 64-dim dot or a set intersection) coalesces to 1-4 partitions at
        # the default 1 MB floor and serializes the verify compute.  A
        # 256k floor keeps those stages parallel; stages with real volume
        # are governed by advisoryPartitionSizeInBytes as before (the
        # floor only ever binds when a stage's TOTAL bytes are tiny).
        # Interleaved A/Bs at sf0.1: the verify-heavy set
        # (dd_ngram_jaccard, dd_embedding_cosine, ss_topk_docs,
        # dd_contamination) sums 11.8 s at the 1MB default vs 7.2-8.3 s
        # at 256k (dd_ngram alone 3.2->1.1 s at 128k), while the
        # latency-bound graph family is flat at 256k but pays 8-13% at
        # 128k (many tiny sequential stages x more tasks) — 256k is the
        # measured optimum of that trade.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # ANSI mode (Spark 4's default, pinned): integer overflow and invalid
        # casts fail the query instead of wrapping or yielding null.
        .config("spark.sql.ansi.enabled", "true")
        # Deterministic session timezone so ts-derived values hash stably.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.buffer.pageSize", PAGE_SIZE)
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill dir: prefer tmpfs when available (models the per-executor
    # NVMe a real cluster node has; keeps single-box shuffle off the shared
    # slow disk).  Override with SPARK_LOCAL_DIRS.
    if os.environ.get("SPARK_LOCAL_DIRS") is None and os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def require_ansi(spark: SparkSession) -> None:
    """Raise ``RuntimeError`` unless ``spark.sql.ansi.enabled`` is true.

    The exact-integer operators leave overflow to the engine: under ANSI a
    bigint multiply, ``sum`` or narrowing cast that overflows raises
    ``ARITHMETIC_OVERFLOW`` / ``CAST_OVERFLOW``, while with ANSI off it
    wraps silently into wrong values.  A session not built by ``get_spark``
    (or built with ``extra_conf`` turning ANSI off) must fail here, before
    any job runs, rather than return wrapped results."""
    if spark.conf.get("spark.sql.ansi.enabled").strip().lower() != "true":
        raise RuntimeError(
            "spark.sql.ansi.enabled must be true: this operator relies on "
            "ANSI mode to raise on integer overflow instead of wrapping"
        )


def observation_get(obs: Observation) -> dict:
    """``obs.get`` with a deadline: polls the JVM Observation's future and
    raises ``TimeoutError`` after ``OBSERVATION_TIMEOUT_S`` instead of
    blocking forever (``Observation.get`` itself waits without a bound)."""
    future = obs._jo.future()
    deadline = time.monotonic() + OBSERVATION_TIMEOUT_S
    pause = 0.001
    while not future.isCompleted():
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"Observation not resolved after {OBSERVATION_TIMEOUT_S} s: "
                "its action never ran or its listener never fired"
            )
        time.sleep(pause)
        pause = min(2 * pause, 0.01)
    return obs.get


def checkpoint_or_fetch(
    df: DataFrame, driver_rows: int
) -> tuple[DataFrame, int, pa.Table | None]:
    """The driver-path gate: ``df`` materialized once by ``localCheckpoint``
    with its row count observed on the same job.  Returns ``(checkpoint, n,
    table)``; ``table`` is the checkpoint read once with ``toArrow()`` when
    ``n <= driver_rows``, else ``None`` and the caller stays in Spark."""
    obs = Observation()
    cur = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    n = int(observation_get(obs)["n"])
    return cur, n, cur.toArrow() if n <= driver_rows else None
