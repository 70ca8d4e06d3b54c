"""End-to-end golden test: landing files -> bronze -> silver -> gold,
with the gold layer verified against a DuckDB oracle running the
reference's literal SQL semantics (sp_full_travel_costs.sql /
sp_travel_tax_report.sql, adapted token-for-token to DuckDB dialect)
over OUR silver tables. Also covers ingestion idempotency (A-07) and
silver incremental re-runs (A-10/C-05).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from tests.fixtures_gen import generate_landing
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.pipeline import run_pipeline

# slow lane (full ingest->silver->gold e2e vs the reference SQL); default gate covers the area via faster tests
pytestmark = pytest.mark.slow

# DuckDB rendering of the reference gold SQL (sp_full_travel_costs.sql).
FULL_COST_ORACLE = """
WITH spending_file_filter AS (
  SELECT * FROM all_spending
  QUALIFY load_id = MAX(load_id) OVER (PARTITION BY _source_file)
),
logs_date_filter AS (
  SELECT * FROM manual_logs
  QUALIFY ROW_NUMBER() OVER (PARTITION BY date ORDER BY load_id DESC) = 1
),
spending_pivot AS (
  SELECT TRY_CAST(date AS DATE) AS join_date,
    SUM(CASE WHEN UPPER(TRIM(type)) = 'HOTEL' THEN amount ELSE 0 END) AS hotel_cost,
    SUM(CASE WHEN UPPER(TRIM(type)) = 'FOOD' THEN amount ELSE 0 END) AS food_cost,
    SUM(CASE WHEN UPPER(TRIM(type)) = 'ACTIVITY' THEN amount ELSE 0 END) AS activity_cost,
    SUM(CASE WHEN UPPER(TRIM(type)) = 'TRAVEL' THEN amount ELSE 0 END) AS travel_cost,
    SUM(CASE WHEN UPPER(TRIM(type)) = 'MISC' THEN amount ELSE 0 END) AS misc_cost,
    string_agg(comments, '; ' ORDER BY comments) AS cost_comment
  FROM spending_file_filter
  WHERE TRY_CAST(date AS DATE) IS NOT NULL
  GROUP BY 1
),
joined_data AS (
  SELECT CAST(l.day AS BIGINT) AS day, l.date,
         TRY_CAST(l.date AS DATE) AS order_date,
         l.city, l.country AS county, l.description,
         l.comments AS log_comment, l.food AS food_desc,
         l.travel AS travel_desc, l.hotel AS hotel_desc,
         COALESCE(s.hotel_cost, 0) AS hotel, COALESCE(s.food_cost, 0) AS food,
         COALESCE(s.activity_cost, 0) AS activity,
         COALESCE(s.travel_cost, 0) AS travel, COALESCE(s.misc_cost, 0) AS misc,
         s.cost_comment,
         (COALESCE(s.hotel_cost,0) + COALESCE(s.food_cost,0) +
          COALESCE(s.activity_cost,0) + COALESCE(s.travel_cost,0) +
          COALESCE(s.misc_cost,0)) AS total
  FROM logs_date_filter l
  LEFT JOIN spending_pivot s ON TRY_CAST(l.date AS DATE) = s.join_date
)
SELECT day, date, city, county, description, hotel, food, activity, travel,
       misc, total,
       SUM(total) OVER (ORDER BY order_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total,
       CASE WHEN day > 0 THEN
         SUM(total) OVER (ORDER BY order_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / day
       ELSE 0 END AS daily_avg,
       cost_comment, log_comment AS comments, food_desc, travel_desc, hotel_desc
FROM joined_data
ORDER BY order_date ASC
"""

# sp_travel_tax_report.sql in DuckDB dialect (TRY_TO_TIME -> split math;
# LISTAGG DISTINCT -> sorted string_agg, matching our declared contract).
TAX_ORACLE = """
WITH clean_flights AS (
  SELECT CAST(date AS DATE) AS flight_date, "to" AS arrival_airport,
    CASE WHEN length(string_split(trim(duration), ':')) IN (2, 3)
              AND TRY_CAST(string_split(trim(duration), ':')[1] AS INT) BETWEEN 0 AND 23
              AND TRY_CAST(string_split(trim(duration), ':')[2] AS INT) BETWEEN 0 AND 59
              AND (length(string_split(trim(duration), ':')) = 2
                   OR TRY_CAST(string_split(trim(duration), ':')[3] AS INT) BETWEEN 0 AND 59)
         THEN TRY_CAST(string_split(trim(duration), ':')[1] AS INT)
              + TRY_CAST(string_split(trim(duration), ':')[2] AS INT) / 60.0
    END AS duration_hours
  FROM flight_logs
  QUALIFY ROW_NUMBER() OVER (PARTITION BY date, flight_number ORDER BY load_id DESC) = 1
),
daily_flights AS (
  SELECT flight_date, SUM(duration_hours) AS total_flight_hours,
         COUNT(*) AS flight_count,
         string_agg(DISTINCT arrival_airport, ', ' ORDER BY arrival_airport) AS destinations
  FROM clean_flights GROUP BY flight_date
),
clean_sleep AS (
  SELECT CAST(timestamp AS DATE) AS wake_up_date, overall_score,
         deep_sleep_in_minutes, resting_heart_rate
  FROM sleep_log
  QUALIFY ROW_NUMBER() OVER (PARTITION BY sleep_log_entry_id ORDER BY load_id DESC) = 1
),
hr_dedup AS (
  SELECT date, hour, hourly_min_hr, hourly_max_hr, hourly_avg_hr
  FROM heart_rate_hourly_summary
  QUALIFY ROW_NUMBER() OVER (PARTITION BY date, hour ORDER BY load_id DESC) = 1
),
daily_hr AS (
  SELECT CAST(date AS DATE) AS hr_date, MIN(hourly_min_hr) AS daily_min_hr,
         MAX(hourly_max_hr) AS daily_max_hr, AVG(hourly_avg_hr) AS daily_avg_hr
  FROM hr_dedup GROUP BY 1
)
SELECT COALESCE(f.flight_date, (s.wake_up_date - 1)) AS report_date,
  CASE WHEN f.total_flight_hours > 0 THEN TRUE ELSE FALSE END AS is_travel_day,
  CAST(COALESCE(f.total_flight_hours, 0) AS DOUBLE) AS total_flight_hours,
  CAST(COALESCE(f.flight_count, 0) AS BIGINT) AS flight_count,
  COALESCE(f.destinations, 'No Travel') AS destination_city,
  s.overall_score AS next_day_sleep_score,
  s.deep_sleep_in_minutes AS next_day_deep_sleep_min,
  s.resting_heart_rate AS next_day_resting_hr,
  (h.daily_max_hr - h.daily_min_hr) AS next_day_hr_variability,
  CASE WHEN f.total_flight_hours > 4 AND s.overall_score < 70 THEN 'High Strain'
       WHEN s.overall_score > 85 THEN 'Well Recovered'
       ELSE 'Normal' END AS recovery_status
FROM daily_flights f
FULL OUTER JOIN clean_sleep s ON f.flight_date = (s.wake_up_date - 1)
LEFT JOIN daily_hr h ON s.wake_up_date = h.hr_date
"""


@pytest.fixture(scope="module")
def pipeline_wh(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("e2e")
    landing = str(root / "landing")
    generate_landing(landing)
    wh = run_pipeline(spark, str(root / "warehouse"), landing)
    return wh


def _ddb_on_silver(wh: Warehouse):
    con = duckdb.connect()
    for t in (
        "all_spending", "manual_logs", "flight_logs", "sleep_log",
        "heart_rate_hourly_summary", "google_timeline", "hourly_step_count",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{wh.path('silver', t)}/**/*.parquet', hive_partitioning=true)"
        )
    return con


def _compare(spark_rows, oracle_rows, cols, float_tol=1e-9):
    assert len(spark_rows) == len(oracle_rows)

    def canon(rows):
        out = []
        for r in rows:
            vals = []
            for v in r:
                if isinstance(v, float):
                    vals.append(round(v, 6))
                elif v is None:
                    vals.append(None)
                else:
                    vals.append(str(v))
            out.append(tuple(vals))
        return sorted(out, key=lambda t: tuple(str(x) for x in t))

    assert canon(spark_rows) == canon(oracle_rows)


def test_bronze_has_all_tables(spark, pipeline_wh):
    for t in ("transactions", "manual_logs", "flight_logs", "fitbit_steps",
              "fitbit_sleep_score", "fitbit_heart_rate", "google_timeline"):
        n = pipeline_wh.read(spark, "bronze", t).count()
        assert n > 0, f"bronze.{t} empty"


def test_silver_rows_written_is_batch_total(spark, pipeline_wh):
    """Each SUCCESS transformation row records its batch total: every
    silver row of the dataset's output tables carrying the batch's
    load_ids (the writes' observed counts, not a re-read)."""
    from pyspark.sql import functions as F

    from travel_data_ingestion_spark.silver.runner import SILVER_TRANSFORMS

    batches: dict[int, tuple[str, set[int], int]] = {}
    for r in pipeline_wh.read(spark, "admin", "transformation_logs").collect():
        if r.status == "SUCCESS":
            _, ids, _ = batches.setdefault(
                r.transformation_id, (r.transformation_name, set(), r.rows_written))
            ids.add(r.load_id)
    assert {name for name, _, _ in batches.values()} == set(SILVER_TRANSFORMS)
    for name, ids, rows_written in batches.values():
        bronze_table, fn = SILVER_TRANSFORMS[name]
        outputs = fn(pipeline_wh.read(spark, "bronze", bronze_table).limit(0))
        total = sum(
            pipeline_wh.read(spark, "silver", t).filter(F.col("load_id").isin(list(ids))).count()
            for t in outputs
        )
        assert rows_written == total > 0, (name, ids)


def test_ingestion_idempotent(spark, pipeline_wh, tmp_path):
    """Re-running ingestion must load nothing new (A-07 filename ledger)."""
    from travel_data_ingestion_spark.config import load_config
    from travel_data_ingestion_spark.ingest import ingest_all

    before = pipeline_wh.read(spark, "bronze", "transactions").count()
    new_loads = ingest_all(spark, pipeline_wh, load_config(spark, pipeline_wh))
    assert all(not v for v in new_loads.values())
    assert pipeline_wh.read(spark, "bronze", "transactions").count() == before


def test_silver_rerun_idempotent(spark, pipeline_wh):
    """Reprocessing the same load_ids must not duplicate silver rows
    (A-10 delete+insert as dynamic partition overwrite)."""
    from travel_data_ingestion_spark.silver import run_silver

    before = pipeline_wh.read(spark, "silver", "all_spending").count()
    run_silver(spark, pipeline_wh, datasets=["transactions"], reprocess=True)
    assert pipeline_wh.read(spark, "silver", "all_spending").count() == before


def test_gold_full_travel_cost_matches_reference_sql(spark, pipeline_wh):
    gold = spark.read.parquet(pipeline_wh.path("gold", "full_travel_cost"))
    con = _ddb_on_silver(pipeline_wh)
    oracle = con.execute(FULL_COST_ORACLE)
    ocols = [d[0] for d in oracle.description]
    orows = oracle.fetchall()
    assert sorted(gold.columns) == sorted(ocols)
    srows = [[r[c] for c in ocols] for r in gold.collect()]
    _compare(srows, orows, ocols)


def test_gold_tax_report_matches_reference_sql(spark, pipeline_wh):
    gold = spark.read.parquet(pipeline_wh.path("gold", "travel_tax_report"))
    con = _ddb_on_silver(pipeline_wh)
    oracle = con.execute(TAX_ORACLE)
    ocols = [d[0] for d in oracle.description]
    orows = oracle.fetchall()
    assert sorted(gold.columns) == sorted(ocols)
    srows = [[r[c] for c in ocols] for r in gold.collect()]
    _compare(srows, orows, ocols)


def test_timeline_segments_parsed(spark, pipeline_wh):
    tl = pipeline_wh.read(spark, "silver", "google_timeline")
    rows = tl.collect()
    # 7 visits + 6 activities; the neither-branch segment is dropped and
    # the malformed document contributes zero rows
    assert len(rows) == 13
    visits = [r for r in rows if r.segment_type == "VISIT"]
    acts = [r for r in rows if r.segment_type == "ACTIVITY"]
    assert len(visits) == 7 and len(acts) == 6
    v = sorted(visits, key=lambda r: r.place_id)[0]
    assert v.place_id == "ChIJ0000"
    assert abs(v.visit_latitude - 35.650) < 1e-6
    assert v.activity_type is None
    # string-form placeLocation parses identically to the dict form
    vs = next(r for r in visits if r.place_id == "ChIJSTR")
    assert vs.visit_latitude == pytest.approx(35.9)
    assert vs.visit_longitude == pytest.approx(139.9)
    assert vs.confidence == pytest.approx(0.5)
    a = acts[0]
    assert a.activity_type in ("IN_TRAIN", "WALKING", "FLYING")
    assert abs(a.activity_start_latitude - 35.65) < 1e-6
    assert a.confidence == pytest.approx(0.91)


def test_transport_mode_and_summary(spark, pipeline_wh):
    tm = spark.read.parquet(pipeline_wh.path("gold", "transport_mode_analysis"))
    modes = {r["mode"] for r in tm.collect()}
    assert modes == {"IN_TRAIN", "WALKING", "FLYING"}
    from travel_data_ingestion_spark.gold import daily_travel_summary

    doc = daily_travel_summary(spark, pipeline_wh, "2026-02-02")
    assert doc["date"] == "2026-02-02"
    assert doc["total_steps"] >= 0
    assert isinstance(doc["spending_items"], list)
    assert isinstance(doc["timeline_segments"], list)
    assert len(doc["timeline_segments"]) == 2  # one visit + one activity


def test_footer_schemas_equal_spark_inference(spark, pipeline_wh):
    """Warehouse.read takes an unregistered table's schema from a footer:
    it must be exactly what Spark's inference gives, for every silver and
    gold table of the pipeline."""
    wh = pipeline_wh
    for schema in ("silver", "gold"):
        for table in sorted(os.listdir(wh.path(schema, ""))):
            inferred = spark.read.parquet(wh.path(schema, table)).schema
            assert wh.read(spark, schema, table).schema == inferred, (schema, table)


# a fresh Python and JVM: builds every gold report, prints its job count
_FRESH_GOLD = """
import sys
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.gold import build_all_gold
from travel_data_ingestion_spark.session import get_spark

spark = get_spark(app_name="fresh_gold")
sc = spark.sparkContext
sc.setJobGroup("gold", "gold")
build_all_gold(spark, Warehouse(sys.argv[1]))
sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
print(len(sc.statusTracker().getJobIdsForGroup("gold")))
spark.stop()
"""


def test_fresh_process_skips_unchanged_gold(spark, pipeline_wh):
    """The build key holds across processes: after this process builds
    gold, a new Python+JVM over the same warehouse runs no Spark job for
    any of the three reports and leaves their files as they were."""
    import subprocess
    import sys

    from travel_data_ingestion_spark.gold import build_all_gold

    def gold_files():
        return {os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
                for d, _, fs in os.walk(pipeline_wh.path("gold", "")) for f in fs}

    build_all_gold(spark, pipeline_wh)
    before = gold_files()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", _FRESH_GOLD, pipeline_wh.root], cwd=repo,
                         env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "0", out.stdout
    assert gold_files() == before


def test_interleaved_disjoint_writers_keep_ledger_consistent(spark, pipeline_wh):
    """Two 'drivers' with STALE batch selections writing DISJOINT
    load_ids of the same dataset (the interleave the single-driver
    design note worries about): each pinned run overwrites only its own
    load_id partition, so the table keeps every load exactly once, the
    append-only ledger stays consistent (replayed SUCCESS rows are
    harmless — run_silver reads the ledger's SUCCESS pairs as a set), and an
    unpinned follow-up run sees no pending work. True same-instant
    concurrency remains out of scope (SURVEY §7.4-4: one driver per
    warehouse); this pins the sequential-interleave contract.

    NOTE: mutates the shared module fixture (lands a second
    transactions load) — keep this test LAST in the module so the
    gold-vs-silver comparisons above it see the original state."""
    from pyspark.sql import functions as F

    from travel_data_ingestion_spark.silver import run_silver
    from travel_data_ingestion_spark import ledger
    from travel_data_ingestion_spark.silver.runner import bronze_load_ids

    from tests.fixtures_gen import _w
    from travel_data_ingestion_spark.config import load_config
    from travel_data_ingestion_spark.ingest import ingest_all

    wh = pipeline_wh
    # the base fixture ships ONE transactions load; land a second file
    # (matching the config glob) and ingest it as a fresh load_id
    cfg = load_config(spark, wh)["transactions"]
    _w(
        os.path.join(cfg.source_path, "transactions_2026_03.csv"),
        ["country", "date", "name", "type", "amount", "comments"],
        [["Japan", "2026-03-01", "merchant_x", "Hotel", "$120.00", "Dinner"],
         ["Japan", "2026-03-02", "merchant_y", "food", "55.50", "Train ticket"]],
    )
    ingest_all(spark, wh, {"transactions": cfg})
    bronze_ids = sorted(
        int(r.load_id)
        for r in wh.read(spark, "bronze", "transactions")
        .select("load_id")
        .distinct()
        .collect()
    )
    assert len(bronze_ids) >= 2, "fixture must span two loads"
    a, b = bronze_ids[0], bronze_ids[1]

    def rows_by_load():
        df = spark.read.parquet(wh.path("silver", "all_spending"))
        return {
            int(r.load_id): r.n
            for r in df.groupBy("load_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    # interleave: A pins load a (already processed by the pipeline — a
    # stale selection), B pins the fresh load b; both selections were
    # made before either wrote (pinned runs ignore the ledger)
    before_a = rows_by_load()[a]
    run_silver(spark, wh, datasets=["transactions"], load_id=a)
    run_silver(spark, wh, datasets=["transactions"], load_id=b)
    after = rows_by_load()
    assert after[a] == before_a  # A's overwrite touched only its own partition
    assert after.get(b, 0) > 0  # B's load landed

    # replay BOTH with stale selections — data must not change
    run_silver(spark, wh, datasets=["transactions"], load_id=b)
    run_silver(spark, wh, datasets=["transactions"], load_id=a)
    assert rows_by_load() == after

    # ledger: no pending work afterwards, and an unpinned run is a no-op
    done = {(r.transformation_name, r.load_id)
            for r in ledger.snapshot(wh, "transformation_logs").rows
            if r.status == "SUCCESS"}
    assert all(("transactions", i) in done for i in bronze_load_ids(spark, wh, "transactions"))
    assert run_silver(spark, wh, datasets=["transactions"]) == {}
