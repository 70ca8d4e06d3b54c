"""Schema registry + path-based warehouse catalog (medallion layout).

The reference keeps four Snowflake schemas — ADMIN / BRONZE / SILVER /
GOLD — with fixed DDL as the source of truth, introspected at runtime
(reference sql/reset_schemas.sql:14-292; ingestion_logic.py:39-45
DESC TABLE). Here the registry is a dict of explicit StructTypes and the
warehouse is a directory tree of parquet tables:

    <root>/<schema>/<table>/           (load_id=N/ partitions for facts)

Path-based tables (instead of a Hive metastore) keep the engine
dependency-free and make the DELETE+INSERT idempotent sink a dynamic
partition overwrite — the scalable equivalent of the reference's
``DELETE FROM t WHERE load_id IN (...)`` + append (utils.py:12-46).
A table written by that sink has one layout: every part file sits in a
``load_id=N/`` partition, and a silver table whose first batch was
empty keeps a zero-row schema footer in ``load_id=0/`` (ledger ids
start at 1). A crash mid-write leaves only staging files that readers
ignore; the retry overwrites the same partitions (``write_idempotent``).

Bronze business columns are all strings (schema-on-read, matching
reset_schemas.sql:65-161 where even AMOUNT is VARCHAR); four lineage
columns are appended at load time (reset_schemas.sql:68-71).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _strings(*names: str) -> list[T.StructField]:
    return [T.StructField(n, T.StringType()) for n in names]


LINEAGE_FIELDS = [
    T.StructField("_ingestion_time", T.TimestampType()),
    T.StructField("_source_file", T.StringType()),
    T.StructField("load_id", T.LongType()),
    T.StructField("row_id", T.LongType()),
]

# Bronze: business columns exactly as the reference lands them (strings).
# reference sql/reset_schemas.sql:65-161.
BRONZE_SCHEMAS: dict[str, T.StructType] = {
    "fitbit_heart_rate": T.StructType(
        _strings("timestamp", "beats_per_minute", "data_source") + LINEAGE_FIELDS
    ),
    "fitbit_sleep_score": T.StructType(
        _strings(
            "sleep_log_entry_id",
            "timestamp",
            "overall_score",
            "composition_score",
            "revitalization_score",
            "duration_score",
            "deep_sleep_in_minutes",
            "resting_heart_rate",
            "restlessness",
        )
        + LINEAGE_FIELDS
    ),
    "fitbit_steps": T.StructType(
        _strings("timestamp", "steps", "data_source") + LINEAGE_FIELDS
    ),
    "flight_logs": T.StructType(
        _strings(
            "date",
            "flight_number",
            "from",
            "to",
            "dep_time",
            "arr_time",
            "duration",
            "airline",
            "aircraft",
            "registration",
            "seat_number",
            "seat_type",
            "flight_class",
            "flight_reason",
            "note",
            "dep_id",
            "arr_id",
            "airline_id",
            "aircraft_id",
        )
        + LINEAGE_FIELDS
    ),
    # single `country` column; gold aliases it `county` for the consumer
    # surface (SURVEY §7.4-6 COUNTY/COUNTRY resolution).
    "manual_logs": T.StructType(
        _strings(
            "day",
            "date",
            "flag",
            "country",
            "city",
            "description",
            "comments",
            "food",
            "travel",
            "hotel",
        )
        + LINEAGE_FIELDS
    ),
    "transactions": T.StructType(
        _strings("country", "date", "name", "type", "amount", "comments") + LINEAGE_FIELDS
    ),
    # whole-document JSON lands as one raw string per file (VARIANT
    # analog — reset_schemas.sql:127-133).
    "google_timeline": T.StructType(
        [T.StructField("raw_data", T.StringType())] + LINEAGE_FIELDS
    ),
}

# Admin ledgers (reference sql/admin_*.sql). Append-only; latest row per
# key wins on read (no in-place UPDATE needed — SURVEY §2 A-08).
ADMIN_SCHEMAS: dict[str, T.StructType] = {
    "file_details": T.StructType(
        [
            T.StructField("file_id", T.LongType()),
            T.StructField("container", T.StringType()),
            T.StructField("stage_name", T.StringType()),
            T.StructField("source_path", T.StringType()),
            T.StructField("file_pattern", T.StringType()),
            T.StructField("target_schema", T.StringType()),
            T.StructField("target_table", T.StringType()),
            T.StructField("file_format", T.StringType()),
        ]
    ),
    "ingestion_logs": T.StructType(
        [
            T.StructField("load_id", T.LongType()),
            T.StructField("file_id", T.LongType()),
            T.StructField("file_name", T.StringType()),
            T.StructField("target_table", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("rows_loaded", T.LongType()),
            T.StructField("error_message", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    ),
    "transformation_logs": T.StructType(
        [
            T.StructField("transformation_id", T.LongType()),
            T.StructField("transformation_name", T.StringType()),
            T.StructField("load_id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("rows_written", T.LongType()),
            T.StructField("error_message", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    ),
}

SCHEMAS = ("admin", "bronze", "silver", "gold")


@dataclass
class Warehouse:
    """Path-based medallion warehouse rooted at ``root``."""

    root: str

    def path(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema, table)

    def exists(self, schema: str, table: str) -> bool:
        """True once the table holds a committed part file; the staging
        trees of an uncommitted write ('.spark-staging-*', '_temporary')
        do not count."""
        for _, dirs, files in os.walk(self.path(schema, table)):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            if any(f.endswith(".parquet") and not f.startswith((".", "_")) for f in files):
                return True
        return False

    def registered_schema(self, schema: str, table: str) -> T.StructType | None:
        if schema == "bronze":
            return BRONZE_SCHEMAS.get(table)
        if schema == "admin":
            return ADMIN_SCHEMAS.get(table)
        return None

    def read(self, spark: SparkSession, schema: str, table: str) -> DataFrame:
        """DESC TABLE + scan analog: empty typed frame when absent. A
        registered table is read with its schema, which skips Spark's
        schema-inference job."""
        st = self.registered_schema(schema, table)
        if self.exists(schema, table):
            reader = spark.read if st is None else spark.read.schema(st)
            return reader.parquet(self.path(schema, table))
        if st is None:
            raise FileNotFoundError(f"table {schema}.{table} does not exist")
        return spark.createDataFrame([], st)

    def append(self, spark: SparkSession, df: DataFrame, schema: str, table: str) -> None:
        df.write.mode("append").parquet(self.path(schema, table))

    def overwrite(self, spark: SparkSession, df: DataFrame, schema: str, table: str) -> None:
        """CTAS / truncate-insert sink (reference sp_full_travel_costs.sql:8
        CREATE OR REPLACE TABLE; sp_travel_tax_report.sql:8-25)."""
        df.write.mode("overwrite").parquet(self.path(schema, table))

    def write_idempotent(
        self,
        spark: SparkSession,
        df: DataFrame,
        schema: str,
        table: str,
    ) -> int:
        """DELETE-by-load_id + INSERT as dynamic partition overwrite;
        returns the rows written, observed in the write itself.

        The reference deletes the batch's rows then appends
        (utils.py:12-46 save_idempotent). With the table partitioned by
        load_id, overwriting exactly the incoming partitions is the same
        contract with no row-level delete — and at 100 TB it touches only
        the affected partitions' files.

        Every file lives under ``load_id=N/``, none at the table root. An
        unregistered (silver) table whose first batch is empty gets a
        zero-row footer in ``load_id=0/`` so it reads as an empty typed
        table; ledger ids start at 1, so no batch ever overwrites that
        partition. Registered (bronze/admin) tables get no footer: ``read``
        returns their registered schema. Nothing is moved or deleted
        outside the overwritten partitions, so a crash mid-write leaves
        only uncommitted files under ``.spark-staging-*``/``_temporary``,
        which readers ignore, and the retried write lands exactly once.
        """
        if "load_id" not in df.columns:
            raise ValueError("idempotent write requires a load_id column")
        p = self.path(schema, table)
        # root part files mean the table was written unpartitioned (e.g.
        # via overwrite()): partition discovery cannot mix them with
        # load_id= dirs, so refuse rather than bury them
        if os.path.isdir(p) and any(
            f.endswith(".parquet") and not f.startswith((".", "_")) for f in os.listdir(p)
        ):
            raise ValueError(
                f"{schema}.{table} holds unpartitioned data files; "
                "write_idempotent requires the load_id-partitioned "
                "layout — rewrite the table (overwrite) before "
                "switching sinks"
            )
        # writer-level option only — mutating the SESSION conf here would
        # silently flip every later partitioned overwrite in the session
        # to dynamic semantics (stale-partition hazard export.py has to
        # pin 'static' against)
        seen = Observation()
        (
            df.observe(seen, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .partitionBy("load_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(p)
        )
        rows = int(seen.get["rows"])
        if not rows and self.registered_schema(schema, table) is None and not self.exists(schema, table):
            spark.createDataFrame([], df.drop("load_id").schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(p, "load_id=0"))
        return rows

    def init(self) -> None:
        """Reset/DDL bootstrap analog (reference reset_database_dag.py:13-41)."""
        for s in SCHEMAS:
            os.makedirs(os.path.join(self.root, s), exist_ok=True)
