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

The admin tables (``ADMIN_SCHEMAS``) are the exception to Spark-written
tables: they hold a few rows per file and per dataset, so ``ledger``
reads and writes them on the driver with pyarrow, one parquet file per
write, committed by renaming a hidden temp file. They stay ordinary
parquet that ``read`` (and DuckDB) scans with the registered schema.
That relies on the warehouse being a local path written by a single
driver, as the ``os.walk``/``os.listdir`` checks here already do
(SURVEY §7.4-4). A crash while ``file_details`` is replaced can leave
old and new rows side by side; the next run's ``save_config`` rewrites
the table.

A silver or gold table is read with the schema Spark stored in the
footer of one of its committed part files (the
``org.apache.spark.sql.parquet.row.metadata`` key, read on the driver
with pyarrow), made nullable and with ``load_id`` added as an int
partition column for a ``load_id=N/`` table: exactly what Spark's own
inference returns, without the one-task Spark job it runs per read.

``overwrite``, the CTAS sink of the gold builders, skips its write when
the table's ``_build_key`` file matches the key of the query: a sha256
of the Spark version, the session time zone and ANSI flag, the analyzed
plan (``_plan_form``) and the path, size and mtime of every input
file. Only a deterministic plan over file scans is keyed; any other
query is written on every call. Spark's overwrite deletes the table
directory, key included, before it writes, and the key is committed by
rename after the write, so a crash leaves no matching key. Readers skip
``_``-prefixed files. Delete the key (or the table) to force a rebuild,
for instance after a change outside the plan such as the parquet codec.

Bronze business columns are all strings (schema-on-read, matching
reset_schemas.sql:65-161 where even AMOUNT is VARCHAR); four lineage
columns are appended at load time (reset_schemas.sql:68-71).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
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

# Admin tables (reference sql/admin_*.sql), driver-written by ``ledger``.
# The two logs are append-only; latest row per key wins on read (no
# in-place UPDATE needed — SURVEY §2 A-08).
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

# the key of the last committed overwrite, next to the table's part files
BUILD_KEY = "_build_key"
# the footer key under which Spark stores the schema of the rows it wrote
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# expressions whose value the plan's JSON does not pin down: the clock,
# and user functions, whose body it renders as null
_UNKEYED = re.compile(
    r'"class":"[\w.$]*\.(?:\w*UDA?T?F|CurrentTimestamp|CurrentDate|CurrentTime|Now|LocalTimestamp)"'
)


def _empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A zero-row frame of ``schema``, every column nullable, planned in
    the JVM: ``spark.createDataFrame([], schema)`` builds a Python RDD,
    and running it starts Python workers."""
    return spark.range(0).select([F.lit(None).cast(f.dataType).alias(f.name) for f in schema])


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable: how Spark
    reads a parquet schema back."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _plan_form(plan) -> str:
    """The analyzed plan's JSON with what differs between processes made
    equal: each attribute's id, drawn from the JVM's global counter, is
    renumbered in order of first appearance, and the JVM's UUID goes. A
    renumbering changes no plan's meaning, and two plans that differ in
    more than their ids keep different forms. (The canonicalized plan is
    no stable form: it orders commutative operands by hash codes that mix
    in those ids.)"""
    ids: dict[int, int] = {}

    def walk(node) -> None:
        if isinstance(node, list):
            for child in node:
                walk(child)
        elif isinstance(node, dict):
            if node.get("product-class", "").endswith(".ExprId"):
                node.pop("jvmId", None)
                node["id"] = ids.setdefault(node["id"], len(ids))
            for child in node.values():
                walk(child)

    tree = json.loads(plan.toJSON())
    walk(tree)
    return json.dumps(tree, separators=(",", ":"))


def build_key(spark: SparkSession, df: DataFrame) -> str | None:
    """The key of what writing ``df`` would produce, or None when its plan
    is not keyed: a leaf other than a file scan or a ``Range`` (no plan
    form shows a local frame's rows), or an expression whose value the
    form does not fix (random, clock, user function). The plan's JSON
    renders an expression's ANSI mode as null, so the session's flag is
    keyed with its time zone. The input files come from the plan."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    if not plan.deterministic() or any(
        leaves.apply(i).getClass().getSimpleName() not in ("LogicalRelation", "Range")
        for i in range(leaves.size())
    ):
        return None
    form = _plan_form(plan)
    if _UNKEYED.search(form):
        return None
    h = hashlib.sha256()
    for part in (
        spark.version,
        spark.conf.get("spark.sql.session.timeZone"),
        spark.conf.get("spark.sql.ansi.enabled"),
        form,
    ):
        h.update(part.encode() + b"\0")
    for path in sorted(unquote(urlparse(u).path) for u in df.inputFiles()):
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


@dataclass
class Warehouse:
    """Path-based medallion warehouse rooted at ``root``."""

    root: str

    def path(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema, table)

    def _part_file(self, schema: str, table: str) -> str | None:
        """One committed part file of the table; the staging trees of an
        uncommitted write ('.spark-staging-*', '_temporary') do not count."""
        for d, dirs, files in os.walk(self.path(schema, table)):
            dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    return os.path.join(d, f)
        return None

    def exists(self, schema: str, table: str) -> bool:
        """True once the table holds a committed part file."""
        return self._part_file(schema, table) is not None

    def _footer_schema(self, schema: str, table: str, part: str) -> T.StructType | None:
        """The schema Spark infers for the table, from the footer of its
        part file ``part``; None for a file Spark did not write or a
        layout other than the table root or ``load_id=N/``."""
        raw = (pq.read_metadata(part).metadata or {}).get(_ROW_METADATA)
        where = os.path.relpath(os.path.dirname(part), self.path(schema, table))
        if raw is None or not (where == "." or re.fullmatch(r"load_id=\d+", where)):
            return None
        st = _nullable(T.StructType.fromJson(json.loads(raw)))
        return st if where == "." else st.add("load_id", T.IntegerType())

    def registered_schema(self, schema: str, table: str) -> T.StructType | None:
        if schema == "bronze":
            return BRONZE_SCHEMAS.get(table)
        if schema == "admin":
            return ADMIN_SCHEMAS.get(table)
        return None

    def read(self, spark: SparkSession, schema: str, table: str) -> DataFrame:
        """DESC TABLE + scan analog: empty typed frame when absent. A
        registered table is read with its schema and any other with its
        footer's, which skips Spark's schema-inference job."""
        st = self.registered_schema(schema, table)
        part = self._part_file(schema, table)
        if part is not None:
            st = st or self._footer_schema(schema, table, part)
            reader = spark.read if st is None else spark.read.schema(st)
            return reader.parquet(self.path(schema, table))
        if st is None:
            raise FileNotFoundError(f"table {schema}.{table} does not exist")
        return _empty_frame(spark, st)

    def append(self, spark: SparkSession, df: DataFrame, schema: str, table: str) -> None:
        df.write.mode("append").parquet(self.path(schema, table))

    def overwrite(self, spark: SparkSession, df: DataFrame, schema: str, table: str) -> None:
        """CTAS / truncate-insert sink (reference sp_full_travel_costs.sql:8
        CREATE OR REPLACE TABLE; sp_travel_tax_report.sql:8-25), a no-op
        when its query and input files are unchanged: the table exists and
        its ``_build_key`` equals ``build_key(spark, df)``. An unkeyed
        query is written on every call and leaves no key."""
        p = self.path(schema, table)
        marker = os.path.join(p, BUILD_KEY)
        key = build_key(spark, df)
        if key is not None and self.exists(schema, table):
            try:
                with open(marker) as fh:
                    if fh.read() == key:
                        return
            except FileNotFoundError:
                pass
        df.write.mode("overwrite").parquet(p)
        if key is not None:
            tmp = os.path.join(p, f".{BUILD_KEY}.{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                fh.write(key)
            os.replace(tmp, marker)

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
        # to dynamic semantics, leaving stale partitions behind
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
            _empty_frame(spark, df.drop("load_id").schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(p, "load_id=0"))
        return rows

    def init(self) -> None:
        """Reset/DDL bootstrap analog (reference reset_database_dag.py:13-41)."""
        for s in SCHEMAS:
            os.makedirs(os.path.join(self.root, s), exist_ok=True)
