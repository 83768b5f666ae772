"""Sources and sinks (SURVEY.md §2.1).

Reference parity:
- src_parquet_scan — runner row-stream consumption + declared
  parquet-avro deps (Main.scala:197-198; build.sbt:30-33).
- sink_avro — TRUE Avro container-file sink (Main.scala:205-215):
  sources/avro_sink.py drives org.apache.avro.file.DataFileWriter
  (on Spark's own classpath) over py4j for driver-sized reports —
  real OCF files, no external jar needed. Spark's ``avro`` DATASOURCE
  (fact-scale, distributed) still needs the spark-avro jar;
  write_avro_or_parquet detects its absence and falls back to parquet
  (documented swap, SURVEY §7d).
- sink_json / sink_json_direct — JSON-lines sinks (Main.scala:219-246).
- result cache keyed on exact query text (Main.scala:67-104): hash(query)
  → parquet staging dir; a hit replays the staged bytes instead of
  re-running the query (src_cache_replay / sink_cache_write /
  filter_cache_hit).

Scale notes: the cache staging dir is parquet (columnar, splittable,
predicate-pushdown-able on replay) rather than the reference's base64
line file — a 100 TB result replay stays distributed.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """src_parquet_scan: columnar scan; filters/column pruning push down
    via Catalyst (check ``.explain``: PushedFilters / ReadSchema).

    Split sizing is Spark's own. The parquet timestamps (events ``ts``,
    ``o_orderdate``, ``l_shipdate``) are stored without a zone, so they
    read as timestamp_ntz: the wall clock DuckDB's TIMESTAMP holds, and
    no cast, date rendering or truncation of them reads the session
    timezone.
    """
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ensure_min_parallelism width-probe memo (r12 VERDICT #7):
# df.rdd.getNumPartitions() forces a plan->RDD conversion PER CALL — a
# driver-side planning cost paid at every plan build (entries composing
# several parallelized operators, e.g. ext_ann_recall, paid it 2+
# times per invocation, and the bench pays it again every pass). The
# probe's answer for a semantically identical plan in the same Spark
# application is stable (same files, same split conf), so memoize on
# (applicationId, semanticHash(plan), target). Bounded: entries are
# kept for the current application only (a new applicationId drops
# the rest), so the key space is the registry's distinct scan plans.
# A wrong answer costs performance only — one extra exchange, or one
# missing exchange on a plan that already has >= target partitions —
# never values. It can come from the SAME application re-reading
# CHANGED input files under an identical plan (the bench/oracle inputs
# are immutable parquet fixtures), or from two distinct plans
# colliding on the 32-bit semanticHash.
_WIDTH_MEMO: dict[tuple[str, int, int], bool] = {}


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the plan currently has fewer
    partitions than the session's core count.

    Why: parquet can only split at row-group boundaries, and the
    testdata tables are single-row-group files — every scan is ONE real
    task regardless of the split size (verified: all 600k
    lineitem rows in one spark_partition_id). Any CPU-heavy expression
    fused into such a scan stage serializes on one core. Calling this
    between the read and the heavy projection detaches the work into a
    parallel stage for the cost of shuffling the (tiny, local) input.
    On a real lake the scan has hundreds of splits, the condition is
    false, and this is a no-op — no exchange enters the 100 TB plan.
    """
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    try:
        app = sess.sparkContext.applicationId
        if _WIDTH_MEMO and next(iter(_WIDTH_MEMO))[0] != app:
            _WIDTH_MEMO.clear()  # a new application: drop the old one's entries
        key = (app, df.semanticHash(), target)
        needs = _WIDTH_MEMO.get(key)
        if needs is None:
            needs = df.rdd.getNumPartitions() < target
            _WIDTH_MEMO[key] = needs
    except Exception:  # noqa: BLE001 — probe directly if hashing fails
        needs = df.rdd.getNumPartitions() < target
    if needs:
        return df.repartition(target)
    return df


def avro_supported(spark: SparkSession) -> bool:
    """True if the spark-avro data source is on the classpath."""
    try:
        spark.read.format("avro").schema("x int").load(
            os.path.join(os.sep, "nonexistent-avro-probe")
        ).schema
        return True
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        if "Failed to find" in msg or "avro" in msg.lower() and "provider" in msg.lower():
            return False
        # Path errors etc. mean the format itself resolved.
        return True


def write_avro_or_parquet(df: DataFrame, path: str) -> str:
    """sink_avro with offline fallback. Returns the format used."""
    if avro_supported(df.sparkSession):
        df.write.mode("overwrite").format("avro").save(path)
        return "avro"
    df.write.mode("overwrite").parquet(path)
    return "parquet"


def sink_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink via the engine schema (avro→json analog,
    Main.scala:234-246)."""
    df.write.mode("overwrite").json(path)


def sink_json_direct(df: DataFrame) -> DataFrame:
    """Comparison JSON pass (Main.scala:219-232): serialize each row to a
    single JSON string column without writing — ``to_json(struct(*))``."""
    return df.select(F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("json"))


class QueryCache:
    """Query-text-keyed result cache (Main.scala:67-104).

    ``run(query_text, producer)`` returns the staged result if the exact
    query text was seen before, else executes ``producer()``, stages it
    as parquet under ``hash(query_text)``, and returns the replay scan.
    "If you change the query then the report will also be rerun"
    (runner README:29-31) falls out of exact-text hashing.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _key(self, query_text: str) -> str:
        return hashlib.sha256(query_text.encode("utf-8")).hexdigest()[:32]

    def path_for(self, query_text: str) -> str:
        return os.path.join(self.root, self._key(query_text))

    def hit(self, query_text: str) -> bool:
        """filter_cache_hit: equality on exact query text (Main.scala:69-77)."""
        return os.path.exists(os.path.join(self.path_for(query_text), "_SUCCESS"))

    def run(self, query_text: str, producer: Callable[[], DataFrame]) -> DataFrame:
        path = self.path_for(query_text)
        if not self.hit(query_text):
            producer().write.mode("overwrite").parquet(path)
        # src_cache_replay: lazy distributed re-read of the staged result.
        return self.spark.read.parquet(path)
