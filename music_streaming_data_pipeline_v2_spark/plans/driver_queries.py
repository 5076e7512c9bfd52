"""Driver-contract queries: every operator from SURVEY.md §2, expressed on
the /root/testdata tables, each with a DuckDB oracle-SQL twin.

Role mapping (FIXTURES.md §B): ``events`` stands in for the streams fact
(``event_type`` = genre-like key, ``to_date(ts)`` = daily grain), and
``customer`` for the users dimension (``user_id = c_custkey``); the
TPC-H-ish tables exercise the relational operators at bench scale.

Cross-engine exactness strategy (SURVEY.md §7 hard parts (a)/(c)):
Spark and DuckDB must hash-identically, so every aggregated numeric is
either (1) an integer count, (2) a sum over DECIMAL-cast inputs —
exact and order-independent in both engines (the source doubles are
2-decimal money values, so the cast loses nothing) — optionally cast to
double at the end (one deterministic conversion), or (3) a ratio of
those computed by one IEEE double division (deterministic given equal
operands). Nondeterministic row_number ties are broken with explicit
key columns in BOTH engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.sources import load_table


@dataclass
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a rows-only check


REGISTRY: dict[str, Q] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = Q(fn, oracle)
        return fn

    return deco


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# Enrichment + daily KPIs (reference J1/J2, P11, A1/A2/A5 — SURVEY §2.3/§2.4)
# ---------------------------------------------------------------------------

def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events fact with its timestamp made Spark-native.

    Handles both testdata vintages: ``ts`` stored as TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects — read as a nanos long via
    the legacy conf and downcast, the same ns→µs downcast the reference
    does in pandas, dags/tasks/utils.py:73-75) and ``ts`` stored as
    TIMESTAMP(MICROS) (reads natively as TIMESTAMP_NTZ).
    """
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = load_table(spark, sf_dir, "events")
    ts_type = events.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        # `ts div 1000`: INTEGER division. Epoch nanos (~1.7e18) exceed
        # double's 2^53 integer range, so a float division here silently
        # corrupts the microsecond digit. NTZ cast keeps result timestamps
        # naive (wall-clock UTC), matching the parquet source and DuckDB.
        return events.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return events.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def _enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 analog: fact ⋈ broadcast dim, inner (unknown users dropped,
    music-streaming-transform.py:65-76), plus the P11 date column."""
    events = load_events(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    ).withColumn("date", F.to_date("ts"))


def _dec_sum(col: str = "value") -> F.Column:
    """Order-independent exact sum: decimal-cast the 2-decimal doubles."""
    return F.sum(F.col(col).cast("decimal(18,2)"))


_ORACLE_DAILY_KPIS = """
SELECT event_type,
       CAST(ts AS DATE) AS date,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(DISTINCT user_id)
           AS avg_value_per_user
FROM events JOIN customer ON user_id = c_custkey
GROUP BY event_type, CAST(ts AS DATE)
"""


@q("daily_kpis", _ORACLE_DAILY_KPIS)
def daily_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A5 analog of daily genre KPIs
    (music-streaming-transform.py:100-106)."""
    return (
        _enriched_events(spark, sf_dir)
        .groupBy("event_type", "date")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dec_sum().cast("double").alias("total_value"),
        )
        .withColumn("avg_value", F.col("total_value") / F.col("n_events"))
        .withColumn("avg_value_per_user", F.col("total_value") / F.col("n_users"))
        .select(
            "event_type", "date", "n_events", "n_users",
            "total_value", "avg_value", "avg_value_per_user",
        )
    )


_ORACLE_TOP_USERS = """
WITH plays AS (
    SELECT event_type, CAST(ts AS DATE) AS date, user_id,
           COUNT(*) AS play_count
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY event_type, CAST(ts AS DATE), user_id
)
SELECT event_type, date, rank, user_id, play_count
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY event_type, date
        ORDER BY play_count DESC, user_id ASC) AS INTEGER) AS rank
    FROM plays
)
WHERE rank <= 3
"""


@q("top_users_per_type_day", _ORACLE_TOP_USERS)
def top_users_per_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+A3+P7 analog of top-3 songs per genre-day
    (music-streaming-transform.py:115-133), tie-broken by user_id."""
    plays = (
        _enriched_events(spark, sf_dir)
        .groupBy("event_type", "date", "user_id")
        .agg(F.count("*").alias("play_count"))
    )
    w = Window.partitionBy("event_type", "date").orderBy(
        F.desc("play_count"), F.asc("user_id")
    )
    return (
        plays.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "date", "rank", "user_id", "play_count")
    )


_ORACLE_TOP_TYPES = """
WITH totals AS (
    SELECT CAST(ts AS DATE) AS date, event_type, COUNT(*) AS total_plays
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY CAST(ts AS DATE), event_type
)
SELECT date, rank, event_type, total_plays
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY date ORDER BY total_plays DESC, event_type ASC) AS INTEGER) AS rank
    FROM totals
)
WHERE rank <= 5
"""


@q("top_types_per_day", _ORACLE_TOP_TYPES)
def top_types_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+A4+P7 analog of top-5 genres per day
    (music-streaming-transform.py:139-160), tie-broken by event_type."""
    totals = (
        _enriched_events(spark, sf_dir)
        .groupBy("date", "event_type")
        .agg(F.count("*").alias("total_plays"))
    )
    w = Window.partitionBy("date").orderBy(
        F.desc("total_plays"), F.asc("event_type")
    )
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("date", "rank", "event_type", "total_plays")
    )


# ---------------------------------------------------------------------------
# KV projection + serving patterns (reference R1/R2, F9, §2.12)
# ---------------------------------------------------------------------------

def _plays_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-(type, date, user) grain: ONE shuffle that every KV
    branch re-aggregates from. Because the three branches of the kv
    union contain this identical exchange, Spark's ReuseExchange runs
    the shuffle once and replays its output — the DataFrame-API
    equivalent of a WITH-clause CTE (check ``.explain`` for
    ``ReusedExchange``). Re-aggregating per-user partials is also
    exactly how countDistinct executes internally, so the values are
    unchanged."""
    return (
        _enriched_events(spark, sf_dir)
        .groupBy("event_type", "date", "user_id")
        .agg(
            F.count("*").alias("play_count"),
            _dec_sum().cast("decimal(18,2)").alias("user_value"),
        )
    )


def _kpis_decimal(
    spark: SparkSession, sf_dir: str, plays: DataFrame | None = None
) -> DataFrame:
    """Daily KPIs with decimal-typed measures (string-stable for KV),
    derived from the shared plays grain: n_events = Σ play_count,
    n_users = count of user rows (≡ exact countDistinct)."""
    plays = plays if plays is not None else _plays_grain(spark, sf_dir)
    return (
        plays.groupBy("event_type", "date")
        .agg(
            F.sum("play_count").alias("n_events"),
            F.count("*").alias("n_users"),
            F.sum("user_value").cast("decimal(18,2)").alias("total_value"),
        )
        .withColumn(
            "avg_value",
            (F.col("total_value").cast("double") / F.col("n_events")).cast(
                "decimal(18,6)"
            ),
        )
    )


#: Shared oracle CTEs: the decimal KPI grain and its KV projections.
_ORACLE_KV_CTE = """
WITH kpis AS (
    SELECT event_type,
           CAST(ts AS DATE) AS date,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_value,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS avg_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY event_type, CAST(ts AS DATE)
),
kv_metrics AS (
    SELECT 'TYPE#' || event_type || '#DATE#' || CAST(date AS VARCHAR) AS pk,
           'METRIC#' || metric_type AS sk,
           value, metric_type,
           CAST(date AS VARCHAR) AS date, event_type
    FROM (
        SELECT event_type, date, 'n_events' AS metric_type,
               CAST(n_events AS VARCHAR) AS value FROM kpis
        UNION ALL
        SELECT event_type, date, 'n_users', CAST(n_users AS VARCHAR) FROM kpis
        UNION ALL
        SELECT event_type, date, 'total_value', CAST(total_value AS VARCHAR) FROM kpis
        UNION ALL
        SELECT event_type, date, 'avg_value', CAST(avg_value AS VARCHAR) FROM kpis
    )
),
top_users AS (
    SELECT event_type, date, rank, user_id, play_count
    FROM (
        SELECT event_type, CAST(ts AS DATE) AS date, user_id,
               COUNT(*) AS play_count,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type, CAST(ts AS DATE)
                   ORDER BY COUNT(*) DESC, user_id ASC) AS INTEGER) AS rank
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY event_type, CAST(ts AS DATE), user_id
    )
    WHERE rank <= 3
),
kv_top_users AS (
    SELECT 'TYPE#' || event_type || '#DATE#' || CAST(date AS VARCHAR) AS pk,
           'USER#' || CAST(rank AS VARCHAR) || '#' || CAST(user_id AS VARCHAR) AS sk,
           CAST(play_count AS VARCHAR) AS play_count,
           CAST(rank AS VARCHAR) AS rank,
           CAST(date AS VARCHAR) AS date, event_type,
           'top_user' AS record_type
    FROM top_users
),
top_types AS (
    SELECT date, rank, event_type, total_plays
    FROM (
        SELECT CAST(ts AS DATE) AS date, event_type,
               COUNT(*) AS total_plays,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY CAST(ts AS DATE)
                   ORDER BY COUNT(*) DESC, event_type ASC) AS INTEGER) AS rank
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY CAST(ts AS DATE), event_type
    )
    WHERE rank <= 5
),
kv_top_types AS (
    SELECT 'DATE#' || CAST(date AS VARCHAR) AS pk,
           'TYPE_RANK#' || CAST(rank AS VARCHAR) AS sk,
           event_type,
           CAST(total_plays AS VARCHAR) AS total_plays,
           CAST(rank AS VARCHAR) AS rank,
           CAST(date AS VARCHAR) AS date,
           'top_type' AS record_type
    FROM top_types
),
kv AS (
    SELECT pk, sk, value, metric_type, date, event_type,
           NULL AS play_count, NULL AS rank, NULL AS record_type,
           NULL AS total_plays
    FROM kv_metrics
    UNION ALL
    SELECT pk, sk, NULL, NULL, date, event_type,
           play_count, rank, record_type, NULL
    FROM kv_top_users
    UNION ALL
    SELECT pk, sk, NULL, NULL, date, event_type,
           NULL, rank, record_type, total_plays
    FROM kv_top_types
)
"""


def _kv_metrics_df(
    spark: SparkSession, sf_dir: str, plays: DataFrame | None = None
) -> DataFrame:
    """R1 analog: unpivot the KPI grain into METRIC# records
    (dynamodb-ingestion.py:46-79), distributed instead of iterrows."""
    kpis = _kpis_decimal(spark, sf_dir, plays)
    metrics = ["n_events", "n_users", "total_value", "avg_value"]
    long = kpis.select(
        "event_type",
        "date",
        *[F.col(c).cast("string").alias(c) for c in metrics],
    ).unpivot(["event_type", "date"], metrics, "metric_type", "value")
    return long.select(
        F.concat_ws(
            "#", F.lit("TYPE"), "event_type", F.lit("DATE"),
            F.col("date").cast("string"),
        ).alias("pk"),
        F.concat_ws("#", F.lit("METRIC"), "metric_type").alias("sk"),
        "value",
        "metric_type",
        F.col("date").cast("string").alias("date"),
        "event_type",
    )


@q("kv_metrics", _ORACLE_KV_CTE + "SELECT * FROM kv_metrics")
def kv_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 unpivot: KPI grain melted into METRIC# KV records with
    composite keys and stringified values (dynamodb-ingestion.py:46-79,
    distributed instead of iterrows)."""
    return _kv_metrics_df(spark, sf_dir)


def _kv_top_users_df(
    spark: SparkSession, sf_dir: str, plays: DataFrame | None = None
) -> DataFrame:
    """R2 analog: top-user rows → one KV item each
    (dynamodb-ingestion.py:81-106). Ranks over the shared plays grain
    so the kv union's branches reuse one exchange."""
    plays = plays if plays is not None else _plays_grain(spark, sf_dir)
    w = Window.partitionBy("event_type", "date").orderBy(
        F.desc("play_count"), F.asc("user_id")
    )
    ranked = (
        plays.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "date", "rank", "user_id", "play_count")
    )
    return ranked.select(
        F.concat_ws(
            "#", F.lit("TYPE"), "event_type", F.lit("DATE"),
            F.col("date").cast("string"),
        ).alias("pk"),
        F.concat_ws(
            "#", F.lit("USER"), F.col("rank").cast("string"),
            F.col("user_id").cast("string"),
        ).alias("sk"),
        F.col("play_count").cast("string").alias("play_count"),
        F.col("rank").cast("string").alias("rank"),
        F.col("date").cast("string").alias("date"),
        "event_type",
        F.lit("top_user").alias("record_type"),
    )


@q("kv_top_users", _ORACLE_KV_CTE + "SELECT * FROM kv_top_users")
def kv_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 projection: top-user rows as USER# KV items
    (dynamodb-ingestion.py:81-106)."""
    return _kv_top_users_df(spark, sf_dir)


def _kv_top_types_df(
    spark: SparkSession, sf_dir: str, plays: DataFrame | None = None
) -> DataFrame:
    """R2 analog: top-type rows → one KV item each
    (dynamodb-ingestion.py:108-131). Totals come from the KPI grain
    (A4 ≡ A1's listen_count — computed once, not twice like the
    reference, music-streaming-transform.py:145-147)."""
    totals = _kpis_decimal(spark, sf_dir, plays).select(
        "date", "event_type", F.col("n_events").alias("total_plays")
    )
    w = Window.partitionBy("date").orderBy(
        F.desc("total_plays"), F.asc("event_type")
    )
    ranked = (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("date", "rank", "event_type", "total_plays")
    )
    return ranked.select(
        F.concat_ws("#", F.lit("DATE"), F.col("date").cast("string")).alias("pk"),
        F.concat_ws("#", F.lit("TYPE_RANK"), F.col("rank").cast("string")).alias("sk"),
        "event_type",
        F.col("total_plays").cast("string").alias("total_plays"),
        F.col("rank").cast("string").alias("rank"),
        F.col("date").cast("string").alias("date"),
        F.lit("top_type").alias("record_type"),
    )


@q("kv_top_types", _ORACLE_KV_CTE + "SELECT * FROM kv_top_types")
def kv_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 projection: top-type rows as TYPE_RANK# KV items
    (dynamodb-ingestion.py:108-131)."""
    return _kv_top_types_df(spark, sf_dir)


#: persist the shared kv grain only when the fact input exceeds this
#: (bytes). Below it, recomputation is measurably cheaper than cache
#: materialization (see kv_table docstring for the sf0.1 numbers).
_KV_PERSIST_MIN_BYTES = 2 << 30


def _events_input_bytes(sf_dir: str) -> int:
    import os

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _kv_union(
    spark: SparkSession, sf_dir: str, persist: bool | str = False
) -> DataFrame:
    """The unified serving relation (sparse single-table design).

    ``persist=True`` materializes the shared plays grain once so the
    three projection branches read it from memory instead of each
    re-running the enrichment + first shuffle — the rebuild of the
    reference's cache-the-shared-subplan fix (SURVEY.md §3.2).
    ``persist='auto'`` (what kv_table uses) takes that path only when
    the fact input is big enough for recompute to dominate the cache
    write — the same cost-probe pattern as jaccard_pairs and
    dedup_clusters_auto; see kv_table for the measurements."""
    if persist == "auto":
        persist = _events_input_bytes(sf_dir) >= _KV_PERSIST_MIN_BYTES
    plays = _plays_grain(spark, sf_dir)
    if persist:
        plays = plays.persist()
    a = _kv_metrics_df(spark, sf_dir, plays)
    b = _kv_top_users_df(spark, sf_dir, plays)
    c = _kv_top_types_df(spark, sf_dir, plays)
    cols = [
        "pk", "sk", "value", "metric_type", "date", "event_type",
        "play_count", "rank", "record_type", "total_plays",
    ]
    def pad(df: DataFrame) -> DataFrame:
        out = df
        for col in cols:
            if col not in df.columns:
                out = out.withColumn(col, F.lit(None).cast("string"))
        return out.select(cols)
    return pad(a).unionByName(pad(b)).unionByName(pad(c))


@q("kv_table", _ORACLE_KV_CTE + "SELECT * FROM kv")
def kv_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified sparse single-table KV serving relation (union of
    the three projections, reference §2.12).

    persist='auto' — a cost-based switch, because the round-4 claim
    that recompute vs persist is "a wall-time wash" was wrong on BOTH
    counts when re-measured (r5, sf0.1, cache-cold min-of-2):

    - no persist: 1.31 s. The r3 audit's "14 exchanges, AQE doesn't
      dedupe" read the pre-finalization plan; the FINAL adaptive plan
      shows the grain exchange (the scan→broadcast-join→partial-agg
      map work) is a ReusedExchange between the two value-bearing
      branches — shuffle files already act as a disk-backed cache.
      Only top_users re-scans, because column pruning drops
      user_value from its grain copy, making its exchange
      non-identical. Net: 2 fact scans, zero cache writes.
    - persist plays: 2.35 s (cache materialization costs ~1 s here);
      MEMORY_ONLY 1.99 s; persist the small post-agg kpis grain only
      1.87 s; persist both 2.07 s. All slower at this scale.

    At cluster scale the balance flips: one fact scan + a user-grain
    cache (tiny relative to raw events) beats scanning the fact
    twice, so past _KV_PERSIST_MIN_BYTES of fact input the grain is
    persisted. Spark's CacheManager keys entries by canonicalized
    plan, so repeated kv_table invocations in one session share a
    single entry rather than leaking copies."""
    return _kv_union(spark, sf_dir, persist="auto")


# The 9 DynamoDB key-condition shapes (queries/dynamo_query.txt:6-70),
# parameterized on values that exist in the testdata.
_SERVING_PK = "TYPE#click#DATE#2024-01-15"


@q(
    "serving_metrics_prefix",
    _ORACLE_KV_CTE
    + f"SELECT * FROM kv WHERE pk = '{_SERVING_PK}' AND sk LIKE 'METRIC#%'",
)
def serving_metrics_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pk equality + sk begins_with (dynamo_query.txt:6-9)."""
    from ..operators.serving import query_pk_prefix

    return query_pk_prefix(_kv_union(spark, sf_dir), _SERVING_PK, "METRIC#")


@q(
    "serving_metric_exact",
    _ORACLE_KV_CTE
    + f"SELECT * FROM kv WHERE pk = '{_SERVING_PK}' AND sk = 'METRIC#n_events'",
)
def serving_metric_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pk equality + sk exact (dynamo_query.txt:12-17)."""
    from ..operators.serving import query_pk_sk

    return query_pk_sk(_kv_union(spark, sf_dir), _SERVING_PK, "METRIC#n_events")


@q(
    "serving_user_range",
    _ORACLE_KV_CTE
    + f"SELECT * FROM kv WHERE pk = '{_SERVING_PK}' "
    + "AND sk BETWEEN 'USER#1#' AND 'USER#2#z'",
)
def serving_user_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pk equality + sk between (dynamo_query.txt:42-47)."""
    from ..operators.serving import query_pk_sk_between

    return query_pk_sk_between(
        _kv_union(spark, sf_dir), _SERVING_PK, "USER#1#", "USER#2#z"
    )


@q(
    "serving_rank_between",
    _ORACLE_KV_CTE
    + "SELECT * FROM kv WHERE pk = 'DATE#2024-01-15' "
    + "AND sk BETWEEN 'TYPE_RANK#1' AND 'TYPE_RANK#3'",
)
def serving_rank_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pk equality + sk between on rank (dynamo_query.txt:65-70)."""
    from ..operators.serving import query_pk_sk_between

    return query_pk_sk_between(
        _kv_union(spark, sf_dir), "DATE#2024-01-15", "TYPE_RANK#1", "TYPE_RANK#3"
    )


# ---------------------------------------------------------------------------
# Relational analogs on the TPC-H-ish tables (A1-A5, J1/J2, W1, P3/P6,
# plus semi/anti joins and set ops — SURVEY §2.3/§2.4/§2.7)
# ---------------------------------------------------------------------------

def _dec(col: str, typ: str = "decimal(12,2)") -> F.Column:
    return F.col(col).cast(typ)


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))
            * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(18,6)))
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@q("pricing_summary", _ORACLE_PRICING)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-measure hash aggregate with
    decimal-exact money math (A1/A5, P3 range predicate pushed to scan)."""
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    charge = (disc_price * (F.lit(1) + _dec("l_tax"))).cast("decimal(18,6)")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
            F.sum(_dec("l_discount")).cast("double").alias("_sum_disc"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
        .withColumn("avg_disc", F.col("_sum_disc") / F.col("count_order"))
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "sum_charge", "avg_qty", "avg_price",
            "avg_disc", "count_order",
        )
    )


_ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
GROUP BY n_name
"""


@q("revenue_by_nation", _ORACLE_REVENUE_BY_NATION)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped snowflake join chain: big⋈big shuffle join on
    orderkey, then broadcast dims up the geography hierarchy."""
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date")
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc_price = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_ORACLE_ARGMAX_ORDER = """
SELECT n_name,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
       MAX_BY(o_orderkey,
              CAST(o_totalprice AS DECIMAL(12,2)) * 10000000000 - o_orderkey)
           AS best_orderkey,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@q("argmax_order_by_nation", _ORACLE_ARGMAX_ORDER)
def argmax_order_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin/argmax aggregate (``max_by``) — the single-pass form of
    "the row that attains the group max" (vs the window/self-join
    rewrites): one shuffled hash aggregate, no second pass over the
    fact. Deterministic under price ties: the ordering value is
    ``decimal(price)·1e10 − orderkey``, so equal prices resolve to the
    lowest orderkey, exactly in both engines (pure decimal arithmetic;
    orderkeys ≪ the 1e8 one-cent step)."""
    _utc(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    price = _dec("o_totalprice")
    ordv = price * F.lit(10000000000) - F.col("o_orderkey")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max(price).cast("double").alias("max_price"),
            F.max_by("o_orderkey", ordv).alias("best_orderkey"),
            F.count("*").alias("n_orders"),
        )
    )


_ORACLE_TOP_PARTS = """
WITH part_rev AS (
    SELECT p_brand, l_partkey, p_name,
           SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)))
               AS revenue_dec,
           COUNT(*) AS n_orders
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, l_partkey, p_name
)
SELECT p_brand, rank, l_partkey, p_name,
       CAST(revenue_dec AS DOUBLE) AS revenue, n_orders
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY p_brand
        ORDER BY revenue_dec DESC, l_partkey ASC) AS INTEGER) AS rank
    FROM part_rev
)
WHERE rank <= 3
"""


@q("top_parts_per_brand", _ORACLE_TOP_PARTS)
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 on relational data: top-3 parts per brand by revenue. The
    window ORDERS BY the exact decimal (not the double) so cross-engine
    ordering is identical; ties break on partkey."""
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    part_rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey", "p_name")
        .agg(
            F.sum(disc_price).alias("revenue_dec"),
            F.count("*").alias("n_orders"),
        )
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("revenue_dec"), F.asc("l_partkey")
    )
    return (
        part_rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "p_brand", "rank", "l_partkey", "p_name",
            F.col("revenue_dec").cast("double").alias("revenue"), "n_orders",
        )
    )


_ORACLE_PRIORITY_SEMI = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
"""


@q("order_priority_semi", _ORACLE_PRIORITY_SEMI)
def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS) — beyond the reference's inner joins
    (SURVEY §2.3 'not present'), native left_semi here."""
    _utc(spark)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


_ORACLE_INACTIVE_CUSTOMERS = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
"""


@q("inactive_customers_anti", _ORACLE_INACTIVE_CUSTOMERS)
def inactive_customers_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/J3: anti join — the manifest set-difference pattern
    (validate.py:193) as a distributed left_anti."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_events(spark, sf_dir)
    return customer.join(
        events, customer.c_custkey == events.user_id, "left_anti"
    ).select("c_custkey", "c_name")


_ORACLE_OUTER_ORDER_COUNTS = """
WITH per_cust AS (
    SELECT c_custkey, c_nationkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_nationkey
)
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive,
       CAST(SUM(n_orders) AS BIGINT) AS total_orders
FROM per_cust
GROUP BY c_nationkey
"""


@q("customer_order_counts_outer", _ORACLE_OUTER_ORDER_COUNTS)
def customer_order_counts_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left OUTER join — the join shape the reference lacks (SURVEY
    §2.3 "not present"): zero-order customers survive with NULL order
    keys, counted via COUNT(col)'s ignore-nulls semantics, then rolled
    up per nation. At scale this is a shuffle join on custkey with the
    per-customer count as a partial aggregate."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") == 0, 1).otherwise(0)).alias("n_inactive"),
        F.sum("n_orders").alias("total_orders"),
    )


_ORACLE_EXCEPT_ENTITIES = """
SELECT c_custkey AS entity_id FROM customer
EXCEPT
SELECT user_id FROM events
"""


@q("except_entities", _ORACLE_EXCEPT_ENTITIES)
def except_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 as an explicit EXCEPT (distinct) set operation — the
    manifest difference (validate.py:193) in relational form; Spark
    plans it as an aggregate + left-anti under the hood, so it scales
    the same as the blocking-free anti join."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_events(spark, sf_dir)
    return customer.select(F.col("c_custkey").alias("entity_id")).subtract(
        events.select(F.col("user_id").alias("entity_id"))
    )


_ORACLE_UNION_DEDUP = """
SELECT DISTINCT entity_id FROM (
    SELECT user_id AS entity_id FROM events
    UNION ALL
    SELECT c_custkey AS entity_id FROM customer
)
"""


@q("union_dedup", _ORACLE_UNION_DEDUP)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union + distinct — the manifest merge pattern
    (utils.py:61) distributed."""
    events = load_events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id")
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id")
    )
    return events.union(customer).distinct()


# ---------------------------------------------------------------------------
# Validation / scalar-function analogs on events (P2-P5, F1-F12, JSON)
# ---------------------------------------------------------------------------

_ORACLE_VALIDATE_EVENTS = """
SELECT event_id, user_id,
       LOWER(TRIM(event_type)) AS event_type,
       value,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
WHERE event_type IS NOT NULL
  AND value BETWEEN 1 AND 50
  AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
  AND CAST(json_extract_string(props, '$.k') AS INTEGER) BETWEEN 10 AND 90
"""


@q("validate_events", _ORACLE_VALIDATE_EVENTS)
def validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coerce-and-drop composite: null-drop (P2), range predicate (P3),
    coercibility predicate on a JSON field (P4/F6), genre-style string
    normalization (F4) — validate.py semantics on the events table."""
    events = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        events.filter(F.col("event_type").isNotNull())
        .filter(F.col("value").between(1, 50))
        .filter(k.isNotNull() & k.between(10, 90))
        .select(
            "event_id",
            "user_id",
            F.lower(F.trim("event_type")).alias("event_type"),
            "value",
            k.alias("k"),
        )
    )


_ORACLE_JSON_AGG = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


@q("json_extract_agg", _ORACLE_JSON_AGG)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (get_json_object) feeding an integer
    aggregate — exact across engines."""
    events = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


_ORACLE_HOURLY = """
SELECT CAST(ts AS DATE) AS date,
       CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
       strftime(ts, '%Y-%m') AS month_str,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2, 3
"""


@q("hourly_activity", _ORACLE_HOURLY)
def hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal scalar functions (F3/F12: to_date, hour, date_format)
    over the event-time column at sub-daily grain."""
    events = load_events(spark, sf_dir)
    return (
        events.withColumn("date", F.to_date("ts"))
        .withColumn("hour", F.hour("ts"))
        .withColumn("month_str", F.date_format("ts", "yyyy-MM"))
        .groupBy("date", "hour", "month_str")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Extension operators: dedup / text analysis / similarity search
# (SURVEY.md §7 phase 6 — training-data pipeline surface)
# ---------------------------------------------------------------------------

from ..operators import dedup as _dedup
from ..operators import similarity as _sim
from ..operators import text as _text

#: whitespace-normalized lowered text, expressed identically in DuckDB
_NORM_SQL = r"LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'))"


@q(
    "dedup_exact_docs",
    f"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY {_NORM_SQL}
""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized content
    (operators/dedup.py:exact_dedup)."""
    return _dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@q(
    "doc_fingerprints",
    f"""
SELECT doc_id, MD5({_NORM_SQL}) AS fingerprint_md5
FROM documents
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting (MD5 of normalized text) — deterministic
    across engines (operators/text.py:fingerprint)."""
    return _text.fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint_md5"
    )


@q(
    "token_stats",
    r"""
SELECT doc_id,
       CAST(LENGTH(text) AS INTEGER) AS n_chars,
       CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS INTEGER) AS n_tokens_ws,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
            AS INTEGER) AS n_tokens_bpe
FROM documents
""",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting — whitespace + BPE-ish regex
    (operators/text.py:with_token_counts)."""
    docs = load_table(spark, sf_dir, "documents")
    return _text.with_token_counts(docs).select(
        "doc_id", F.length("text").alias("n_chars"), "n_tokens_ws", "n_tokens_bpe"
    )


_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in _text.LANG_MARKERS.items()
}

_ORACLE_LANG = rf"""
WITH scored AS (
    SELECT doc_id,
           LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'),
               x -> LIST_CONTAINS({_MARKER_SQL['de']}, x))) AS h_de,
           LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'),
               x -> LIST_CONTAINS({_MARKER_SQL['en']}, x))) AS h_en,
           LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'),
               x -> LIST_CONTAINS({_MARKER_SQL['es']}, x))) AS h_es,
           LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'),
               x -> LIST_CONTAINS({_MARKER_SQL['fr']}, x))) AS h_fr
    FROM documents
)
SELECT detected_lang, COUNT(*) AS n_docs
FROM (
    SELECT CASE
        WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
        WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
        WHEN h_es >= h_fr THEN 'es'
        ELSE 'fr' END AS detected_lang
    FROM scored
)
GROUP BY detected_lang
"""


@q("lang_detect_counts", _ORACLE_LANG)
def lang_detect_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID distribution
    (operators/text.py:detect_language). Ties resolve to the
    alphabetically-first language in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _text.detect_language(docs)
        .groupBy("detected_lang")
        .agg(F.count("*").alias("n_docs"))
    )


_ORACLE_QUALITY = r"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'))) AS BIGINT)
           AS sum_tokens,
       CAST(SUM(CASE WHEN
            CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')))
                 AS DOUBLE)
            / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) >= 0.5
            THEN 1 ELSE 0 END) AS BIGINT) AS n_high_unique,
       CAST(MIN(LENGTH(text)) AS INTEGER) AS min_chars,
       CAST(MAX(LENGTH(text)) AS INTEGER) AS max_chars
FROM documents
GROUP BY source
"""


@q("quality_by_source", _ORACLE_QUALITY)
def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-feature rollup per source: token volume, high-uniqueness
    doc counts, char-length extrema (operators/text.py:quality_features
    feeding integer-exact aggregates)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _text.tokens("text")
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    return (
        docs.withColumn("_n_tok", F.size(toks))
        .withColumn("_high", (uniq_ratio >= 0.5).cast("int"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n_tok").alias("sum_tokens"),
            F.sum("_high").alias("n_high_unique"),
            F.min(F.length("text")).alias("min_chars"),
            F.max(F.length("text")).alias("max_chars"),
        )
    )


def cos_sql(a: str, b: str) -> str:
    """The engine-portable DuckDB cosine(a, b) expression — identical
    op order (per-element double casts, sequential list_aggregate sum,
    sqrt-product denominator) to operators/similarity.py:cosine, which
    is what makes every ANN oracle hash-exact. THE single copy: the
    ann/near-dup oracles here and the round-4 LSH/IVF replay oracles
    all interpolate this helper."""
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') "
        f"/ (SQRT(list_aggregate(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) "
        f"* SQRT(list_aggregate(list_transform({b}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
    )


_ORACLE_ANN = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {cos_sql('q.qv', 'e.embedding')} AS cos
    FROM embeddings e CROSS JOIN q
)
SELECT query_id, rank, neighbor_id, cosine
FROM (
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank,
           ROUND(cos, 6) AS cosine
    FROM scored
)
WHERE rank <= 10
"""


@q("ann_cosine_topk", _ORACLE_ANN)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for 5 query vectors
    (operators/similarity.py:cosine_topk). Cosine rounded to 6 dp for
    the cross-engine hash; ordering uses the unrounded value."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _sim.cosine_topk(emb, queries, k=10, dims=64)
    return out.withColumn("cosine", F.round("cosine", 6))


@q("minhash_lsh_pairs_docs")  # no SQL oracle: hash-seeded LSH (rows-only)
def minhash_lsh_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs with exact-Jaccard verify
    (operators/dedup.py:minhash_lsh_pairs); validated against
    brute-force ground truth in tests/test_extensions.py.

    Same single-file-scan spread as simhash_pairs_docs below: the
    testdata parquet is one row group → one partition, which would
    serialize the shingle build on one core."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return _dedup.minhash_lsh_pairs(
        docs, num_hashes=32, bands=16, shingle_k=3, jaccard_threshold=0.3
    )


@q("simhash_pairs_docs")  # no SQL oracle: xxhash64-based signatures
def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming radius 3
    (operators/dedup.py:simhash_pairs).

    The testdata documents table is a single parquet file (one row
    group), so the scan yields one partition and the token-hash
    aggregation would run on one core; spread it across the cluster
    before the CPU-heavy signature build. Unconditional: a redundant
    rebalance of the pre-explode narrow rows costs far less than the
    signature stage it feeds, and avoids probing the RDD API for a
    partition count from an otherwise DataFrame-pure plan."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return _dedup.simhash_pairs(docs, max_hamming=3)


@q(
    "ngram_jaccard_pairs",
    r"""
WITH toks AS (
    SELECT doc_id, lang,
           LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS tok
    FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(LEN(LIST_INTERSECT(a.tok, b.tok)) AS DOUBLE)
           / LEN(LIST_DISTINCT(LIST_CONCAT(a.tok, b.tok))) AS jaccard
FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(LEN(LIST_INTERSECT(a.tok, b.tok)) AS DOUBLE)
      / LEN(LIST_DISTINCT(LIST_CONCAT(a.tok, b.tok))) >= 0.8
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ 0.8, blocked by lang
    (operators/dedup.py:jaccard_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return _dedup.jaccard_pairs(docs, "lang", threshold=0.8)


from .oracle_shared import _CC_CTES as _CC  # noqa: E402

_ORACLE_DEDUP_CLUSTERS = f"""{_CC}
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size,
       CAST(doc_id = component AS BIGINT) AS keep
FROM alldocs
"""


@q("dedup_clusters", _ORACLE_DEDUP_CLUSTERS)
def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS → per-document keep/drop:
    connected components (operators/clustering.py) — the canonical
    iterative algorithm a one-shot SQL engine can't express (the
    DuckDB oracle needs a recursive-CTE transitive closure).
    Physical strategy is cost-based twice over: pair mining picks
    bitmask/prefix/all-pairs from measured vocabulary and candidate
    stats (operators/dedup.py:jaccard_pairs), and components run as
    driver union-find below a broadcast-sized edge threshold or
    O(diameter)-round distributed min-label propagation above it.
    ``component`` = min doc_id reachable, so results are
    deterministic under any partitioning. A third probe (corpus rows
    vs distinct token sets) routes duplicate-heavy corpora through
    identical-set contraction, whose runtime is duplication-invariant
    where the pair list grows quadratically (SCALE.md 10× stress)."""
    from ..operators.clustering import dedup_clusters_auto

    docs = load_table(spark, sf_dir, "documents")
    out = dedup_clusters_auto(docs, "lang", "text", "doc_id", 0.8)
    return out.withColumn("keep", F.col("keep").cast("bigint"))


# ---------------------------------------------------------------------------
# Aggregation/window breadth beyond the reference surface (SURVEY §2.4
# "not present: grouping sets / percentiles"; §2.5 "no analytics/frames"
# — all trivially expressible in Spark, included for completeness)
# ---------------------------------------------------------------------------

_ORACLE_ROLLUP = """
SELECT r_name, n_name,
       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@q("rollup_revenue", _ORACLE_ROLLUP)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total) with a
    grouping-id disambiguator — subtotal rows carry null keys."""
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    disc_price = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping_id().alias("gid"),
        F.sum(disc_price).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    ).select("r_name", "n_name", "gid", "revenue", "n_items")


_ORACLE_CUBE = """
SELECT event_type, CAST(ts AS DATE) AS date,
       CAST(GROUPING(event_type, CAST(ts AS DATE)) AS BIGINT) AS gid,
       COUNT(*) AS n_events
FROM events
GROUP BY CUBE (event_type, CAST(ts AS DATE))
"""


@q("cube_activity", _ORACLE_CUBE)
def cube_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (type, date): all four grouping-set grains in one
    pass (Spark expands to a union of aggregates internally)."""
    events = load_events(spark, sf_dir)
    return (
        events.withColumn("date", F.to_date("ts"))
        .cube("event_type", "date")
        .agg(F.grouping_id().alias("gid"), F.count("*").alias("n_events"))
        .select("event_type", "date", "gid", "n_events")
    )


_ORACLE_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS median_value,
       ROUND(quantile_cont(value, 0.9), 6) AS p90_value,
       ROUND(quantile_cont(value, 0.25), 6) AS p25_value
FROM events
GROUP BY event_type
"""


@q("percentiles_by_type", _ORACLE_PERCENTILES)
def percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``), rounded to 6 dp for the cross-engine hash."""
    events = load_events(spark, sf_dir)
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_value"),
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25_value"),
    )


_ORACLE_DAY_OVER_DAY = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS date, COUNT(*) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, date, n,
       LAG(n) OVER w AS prev_n,
       n - LAG(n) OVER w AS delta,
       LEAD(n) OVER w AS next_n,
       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS running_total,
       ROUND(AVG(n) OVER (PARTITION BY event_type ORDER BY date
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY date)
"""


@q("day_over_day", _ORACLE_DAY_OVER_DAY)
def day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows the reference lacks: lag/lead deltas, a
    running total, and a 7-row moving average over event-time order.
    Integer inputs keep lag/lead/sums exact; the moving average is a
    single deterministic division (sum of ≤7 ints / count)."""
    events = load_events(spark, sf_dir)
    daily = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("event_type", "date")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("date")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ma = w.rowsBetween(-6, Window.currentRow)
    return daily.select(
        "event_type",
        "date",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        (F.col("n") - F.lag("n").over(w)).alias("delta"),
        F.lead("n").over(w).alias("next_n"),
        F.sum("n").over(frame).alias("running_total"),
        F.round(F.avg("n").over(ma), 6).alias("ma7"),
    )


_ORACLE_ROLLING_RANGE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS date, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type, date, n,
       CAST(SUM(n) OVER (
           PARTITION BY event_type
           ORDER BY (date - DATE '1970-01-01')
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_7d
FROM daily
"""


@q("rolling_7d_range", _ORACLE_ROLLING_RANGE)
def rolling_7d_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame windowed aggregate — the value-based frame form
    (vs day_over_day's ROWS frames): sum over the trailing 7 calendar
    DAYS, not 7 rows, so date gaps shrink the window instead of
    silently widening it. Ordered by integer day number so the frame
    bounds are engine-portable."""
    events = load_events(spark, sf_dir)
    daily = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("event_type", "date")
        .agg(F.count("*").alias("n"))
    )
    daynum = F.datediff(F.col("date"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(daynum)
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type", "date", "n", F.sum("n").over(w).alias("n_7d")
    )


_ORACLE_VALUE_STATS = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
       ROUND(SQRT(GREATEST(
           (COUNT(*) * CAST(SUM(CAST(value AS DECIMAL(18,2))
                * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
           / (COUNT(*) * (COUNT(*) - 1)), 0)), 6) AS stddev_v
FROM events
GROUP BY event_type
"""


@q("value_stats_by_type", _ORACLE_VALUE_STATS)
def value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment-based sample stddev from decimal-exact sums — an
    order-independent formulation that hashes identically across
    engines (native ``stddev`` folds doubles in partition order, which
    does not)."""
    events = load_events(spark, sf_dir)
    v = F.col("value").cast("decimal(18,2)")
    agg = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).cast("double").alias("sum_v"),
        F.min(v).cast("double").alias("min_v"),
        F.max(v).cast("double").alias("max_v"),
        F.sum(v * v).cast("double").alias("_sum_sq"),
    )
    var = (
        (F.col("n") * F.col("_sum_sq") - F.col("sum_v") * F.col("sum_v"))
        / (F.col("n") * (F.col("n") - 1))
    )
    return agg.withColumn(
        "stddev_v", F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)
    ).select("event_type", "n", "sum_v", "min_v", "max_v", "stddev_v")


@q("approx_distinct_users")  # no SQL oracle: HLL++ sketch is engine-specific
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 scale variant: approx_count_distinct (HLL++, rsd 1%) — the
    100 TB substitute for the exact expand-based distinct
    (SURVEY §4 optional rewrite rule)."""
    events = load_events(spark, sf_dir)
    return (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
    )


_ORACLE_EMB_NEAR_DUP = f"""
WITH pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 6) AS cosine
FROM pairs WHERE cos >= 0.4
"""


@q("embedding_near_dups_exact", _ORACLE_EMB_NEAR_DUP)
def embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline
    (operators/similarity.py:embedding_near_dup_pairs). The LSH-blocked
    scale path is exercised in tests; this oracle checks the exact
    variant's values. Threshold 0.4 ≈ the 99.9th percentile of pairwise
    cosine in this corpus (no true near-dups planted at sf0.01) so the
    result is non-empty but selective."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = _sim.embedding_near_dup_pairs(emb, threshold=0.4, exact=True)
    return out.withColumn("cosine", F.round("cosine", 6))


_ORACLE_SALTED = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v
FROM events
GROUP BY event_type
"""


@q("salted_agg_equivalence", _ORACLE_SALTED)
def salted_agg_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation proof: the two-phase SALTED aggregation
    (operators/skew.py:salted_aggregate) hash-matches the plain
    single-phase oracle — salting only changes placement, never
    results. The production move for hot group keys at 100 TB."""
    from ..operators.skew import salted_aggregate

    events = load_events(spark, sf_dir).withColumn(
        "_v", F.col("value").cast("decimal(18,2)")
    )
    out = salted_aggregate(
        events,
        ["event_type"],
        {"n_events": ("*", "count"), "min_v": ("_v", "min"), "max_v": ("_v", "max")},
        n_salts=8,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
    )


_ORACLE_SALTED_JOIN = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@q("salted_join_equivalence", _ORACLE_SALTED_JOIN)
def salted_join_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation proof for JOINS: the replicate-and-salt join
    (operators/skew.py:salted_join) hash-matches the plain inner-join
    oracle. The shuffle key becomes (key, salt) so one hot user cannot
    pin a single task; the small side pays n_salts× replication. The
    explicit form of what AQE skew-split does at runtime."""
    from ..operators.skew import salted_join

    events = load_events(spark, sf_dir)
    customer = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    joined = salted_join(events, customer, "user_id", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        _dec_sum().cast("double").alias("total_value"),
    )


_ORACLE_GROUPING_SETS = """
SELECT event_type,
       CAST(ts AS DATE) AS date,
       CASE WHEN event_type IS NULL THEN 2 ELSE 0 END
         + CASE WHEN CAST(ts AS DATE) IS NULL THEN 1 ELSE 0 END AS gid,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)))
"""


@q("grouping_sets_marginals", _ORACLE_GROUPING_SETS)
def grouping_sets_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with NON-hierarchical sets — the two independent
    marginals (by type, by date) in ONE pass over the fact (Spark
    expands to a union of aggregates sharing the scan). Distinct from
    the rollup/cube queries, whose sets are prefix-hierarchical. The
    grain id is derived from key nullness in both engines (source keys
    are never null), sidestepping engine-specific grouping_id() bit
    conventions."""
    events = load_events(spark, sf_dir).select(
        "event_type", F.to_date("ts").alias("date"), "value"
    )
    events.createOrReplaceTempView("gs_events")
    return spark.sql(
        """
        SELECT event_type, date,
               CASE WHEN event_type IS NULL THEN 2 ELSE 0 END
                 + CASE WHEN date IS NULL THEN 1 ELSE 0 END AS gid,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM gs_events
        GROUP BY GROUPING SETS ((event_type), (date))
        """
    )


_ORACLE_GAPFILL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS date,
           COUNT(*) FILTER (value >= 200) AS n
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS mn, MAX(CAST(ts AS DATE)) AS mx FROM events
),
spine AS (
    SELECT CAST(UNNEST(generate_series(CAST(mn AS TIMESTAMP),
                                       CAST(mx AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS date
    FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, s.date, COALESCE(d.n, 0) AS n_events
FROM types t CROSS JOIN spine s
LEFT JOIN daily d ON d.event_type = t.event_type AND d.date = s.date
"""


@q("daily_gapfill", _ORACLE_GAPFILL)
def daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (gap fill): a complete daily spine per
    event type with zero-filled counts for absent (type, day) combos —
    the shape every downstream charting/forecast consumer wants, and a
    LEFT join the reference (inner-joins only) never exercises. The
    spine is ``sequence(min_date, max_date)`` exploded — generated, not
    scanned — and both spine and type list are tiny, so the fill join
    broadcasts regardless of fact size. The counted measure is a
    sparse predicate (value >= 200) so the zero-fill path is real at
    sf0.01 (46 of 150 output rows are filled zeros)."""
    events = load_events(spark, sf_dir).select(
        "event_type", F.to_date("ts").alias("date"), "value"
    )
    daily = events.groupBy("event_type", "date").agg(
        F.count_if(F.col("value") >= 200).alias("n")
    )
    bounds = events.agg(F.min("date").alias("mn"), F.max("date").alias("mx"))
    spine = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("date")
    )
    types = events.select("event_type").distinct()
    return (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "date"], "left")
        .select(
            "event_type",
            "date",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


_ORACLE_MULTIMODAL = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
       END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash
FROM documents
"""


@q("multimodal_features", _ORACLE_MULTIMODAL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal plumbing (operators/multimodal.py) end-to-end on
    driver testdata: documents' text bytes stand in for media blobs
    (media_id, modality, content binary, meta struct), the Arrow-batched
    ``mapInPandas`` kernel computes per-blob size + content hash, and
    BOTH kernel outputs hash-match the oracle (octet_length/md5 over the
    same bytes) — proving the binary-column schema contract and batch
    iteration, not just the built-in expressions around them."""
    from ..operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode("text", "utf-8").cast("binary").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit("utf8-text").alias("format"),
        ).alias("meta"),
    )
    return extract_features(media).select(
        "media_id", "modality", "n_bytes", "content_hash"
    )


_ORACLE_SESSIONS = """
WITH ordered AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
tagged AS (
    SELECT user_id, ts,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
    FROM ordered
)
SELECT user_id, session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(FLOOR((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000) AS BIGINT) AS duration_sec
FROM tagged
GROUP BY user_id, session_id
"""


@q("user_sessions", _ORACLE_SESSIONS)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) with per-session stats
    (operators/sessions.py:session_stats) — the batch window-function
    form, oracle-checked; the streaming session_window twin is
    exercised in tests."""
    from ..operators.sessions import session_stats

    events = load_events(spark, sf_dir)
    return session_stats(events, gap_minutes=30)


_ORACLE_ASOF = """
WITH clicks AS (
    SELECT user_id, ts,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events WHERE event_type = 'click'
),
views AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
)
SELECT v.event_id, v.user_id, c.k AS k_asof
FROM views v ASOF LEFT JOIN clicks c
  ON v.user_id = c.user_id AND v.ts >= c.ts
"""


@q("asof_user_setting", _ORACLE_ASOF)
def asof_user_setting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each view event picks up the
    user's most recent click value at-or-before its timestamp —
    checked against DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import as_of_join

    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = as_of_join(
        views, clicks, on="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["k"],
    )
    return out.select("event_id", "user_id", F.col("k").alias("k_asof"))


_ORACLE_BRAND_HAVING = """
SELECT p_brand,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM part
WHERE p_type LIKE '%ECO%' AND p_name NOT LIKE '%green%'
GROUP BY p_brand
HAVING COUNT(*) >= 2
"""


@q("brand_stats_having", _ORACLE_BRAND_HAVING)
def brand_stats_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / NOT LIKE string predicates + post-aggregation HAVING
    filter — string-predicate coverage beyond the reference's equality
    filters."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").like("%ECO%") & ~F.col("p_name").like("%green%"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .filter(F.col("n_parts") >= 2)
    )


_ORACLE_SHARE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS date, COUNT(*) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, date, n,
       CAST(n AS DOUBLE)
           / SUM(n) OVER (PARTITION BY date) AS share_of_day,
       CAST(SUM(n) OVER (PARTITION BY date) AS BIGINT) AS day_total
FROM daily
"""


@q("type_share_of_day", _ORACLE_SHARE)
def type_share_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-window (share of partition total) — a frame
    shape the reference lacks; the ratio is one deterministic double
    division of two exact ints."""
    events = load_events(spark, sf_dir)
    daily = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("event_type", "date")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("date")
    return daily.select(
        "event_type",
        "date",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("share_of_day"),
        F.sum("n").over(w).alias("day_total"),
    )


_ORACLE_INTERSECT = """
SELECT user_id AS entity_id FROM events
INTERSECT
SELECT c_custkey FROM customer
"""


@q("intersect_entities", _ORACLE_INTERSECT)
def intersect_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — the set operation SURVEY §2.7 notes as absent from
    the reference; native ``DataFrame.intersect`` here."""
    events = load_events(spark, sf_dir).select(F.col("user_id").alias("entity_id"))
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id")
    )
    return events.intersect(customer)


_ORACLE_TFIDF = r"""
WITH tf AS (
    SELECT doc_id, LOWER(t.tok) AS token, COUNT(*) AS tf
    FROM documents, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS t(tok)
    GROUP BY 1, 2
),
dfreq AS (
    SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, token, tf, doc_freq,
       ROUND(tf * LN(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS tfidf,
       rank
FROM (
    SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq, n.n_docs,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * CAST(ROUND(LN(CAST(n.n_docs AS DOUBLE)
                   / dfreq.doc_freq) * 1e6) AS BIGINT) DESC,
                   tf.token ASC
           ) AS INTEGER) AS rank
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
WHERE rank <= 3
"""


@q("tfidf_top_terms", _ORACLE_TFIDF)
def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 characteristic terms per document
    (operators/text.py:tfidf_top_terms): tokenize once, aggregate
    twice (term freq, then document freq over it), broadcast the
    corpus-size scalar, rank with an integer-exact ordering."""
    from ..operators.text import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


_ORACLE_TOKEN_FREQ = r"""
WITH toks AS (
    SELECT LOWER(t.tok) AS token
    FROM documents, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS t(tok)
)
SELECT token, rank, n
FROM (
    SELECT token, COUNT(*) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS INTEGER)
               AS rank
    FROM toks GROUP BY token
)
WHERE rank <= 20
"""


@q("token_frequencies", _ORACLE_TOKEN_FREQ)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UNNEST) → corpus-wide token frequencies →
    global deterministic top-20. Explode is the workhorse of every
    text pipeline; the global top-K runs as partial counts then a
    single-partition TakeOrdered on the tiny aggregate."""
    from ..operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.transform(_tokens("text"), F.lower)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("token", "rank", "n")
    )


_ORACLE_BAND_JOIN = """
WITH clicks AS (
    SELECT event_id, ts FROM events WHERE event_type = 'click'
),
views AS (
    SELECT ts FROM events WHERE event_type = 'view'
)
SELECT c.event_id,
       CAST(COUNT(v.ts) AS BIGINT) AS n_views_nearby
FROM clicks c LEFT JOIN views v
  ON ABS(epoch_us(c.ts) - epoch_us(v.ts)) <= 300000000
GROUP BY c.event_id
"""


@q("views_near_clicks", _ORACLE_BAND_JOIN)
def views_near_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (operators/rangejoin.py): for every click,
    count view events within ±5 minutes. The oracle is the naive theta
    join (fine at sf0.01); the engine plan is the chunk-bucketed hash
    equi-join — no BroadcastNestedLoop/Cartesian node."""
    from ..operators.rangejoin import band_join

    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "ts")
    views = events.filter(F.col("event_type") == "view").select(
        F.col("ts").alias("vts")
    )
    pairs = band_join(clicks, views, "ts", "vts", band_seconds=300)
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("n_views_nearby"))
    # LEFT semantics: clicks with zero nearby views keep count 0
    return (
        clicks.join(counts, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_views_nearby", F.lit(0).cast("long")).alias(
                "n_views_nearby"
            ),
        )
    )


_ORACLE_SPLIT = """
WITH bucketed AS (
    SELECT lang,
           (INSTR('0123456789abcdef', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (INSTR('0123456789abcdef', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS b
    FROM documents
)
SELECT lang,
       CASE WHEN b < 204 THEN 'train'
            WHEN b < 230 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM bucketed
GROUP BY 1, 2
"""


@q("dataset_split_counts", _ORACLE_SPLIT)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split
    (operators/sampling.py:dataset_split) — the contamination-safe
    split whose assignment is a pure function of the key, identical in
    any engine (hex-digit arithmetic on md5)."""
    from ..operators.sampling import dataset_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        dataset_split(docs, "doc_id")
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Fully-oracled MinHash-LSH: md5-derived hash functions that DuckDB can
# evaluate identically, so the ENTIRE LSH pipeline (shingle → minhash →
# band → bucket join → exact-jaccard verify) hash-checks end-to-end.
# The production operator (operators/dedup.py) uses xxhash64 for speed;
# this variant proves the pipeline's semantics against SQL.
# ---------------------------------------------------------------------------

_MH_HASHES = 8
_MH_BANDS = 4


def _md5int16_sql(expr: str, seed: int) -> str:
    """SQL: int in [0, 16^4) from the first 4 hex chars of
    md5('{seed}|' || expr) — engine-portable hash function."""
    h = f"MD5('{seed}|' || {expr})"
    parts = [
        f"(INSTR('0123456789abcdef', SUBSTRING({h}, {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
        for j in range(4)
    ]
    return "(" + " + ".join(parts) + ")"


def _md5int16_col(c: F.Column, seed: int) -> F.Column:
    """Spark twin of ``_md5int16_sql`` — identical hex-digit arithmetic."""
    h = F.md5(F.concat(F.lit(f"{seed}|"), c))
    out = F.lit(0)
    for j in range(4):
        hv = F.instr(F.lit("0123456789abcdef"), F.substring(h, j + 1, 1)) - 1
        out = out + hv * (16 ** (3 - j))
    return out


#: The shared md5-LSH front half (shingles → minhash → band postings)
#: — consumed by _ORACLE_MINHASH here and the drop-stats oracle in
#: round6_queries.
_MINHASH_CTES = rf"""
WITH sh AS (
    SELECT doc_id,
           LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, LEN(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) - 1),
               i -> ARRAY_TO_STRING(
                   REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')[i:i+2], ' ')
           )) AS shingles
    FROM documents
    WHERE LEN(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) >= 3
),
e AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
minh AS (
    SELECT doc_id,
           {", ".join(f"MIN({_md5int16_sql('s', i)}) AS h{i}" for i in range(_MH_HASHES))}
    FROM e GROUP BY doc_id
),
banded AS (
    {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"MD5(CAST(h{2 * b} AS VARCHAR) || ',' || CAST(h{2 * b + 1} AS VARCHAR)) AS band_hash "
        f"FROM minh"
        for b in range(_MH_BANDS)
    )}
)"""

_ORACLE_MINHASH = rf"""{_MINHASH_CTES},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(LEN(LIST_INTERSECT(x.shingles, y.shingles)) AS DOUBLE)
           / LEN(LIST_DISTINCT(LIST_CONCAT(x.shingles, y.shingles))) AS jaccard
FROM cand
JOIN sh x ON x.doc_id = id_a
JOIN sh y ON y.doc_id = id_b
WHERE CAST(LEN(LIST_INTERSECT(x.shingles, y.shingles)) AS DOUBLE)
      / LEN(LIST_DISTINCT(LIST_CONCAT(x.shingles, y.shingles))) >= 0.5
"""


def _md5_banded(docs: DataFrame):
    """(base, banded) relations of the md5-seeded LSH family — the
    shared front half of minhash_lsh_oracle and
    minhash_drop_stats_oracle (round6_queries): word 3-shingles →
    8 md5 minhashes → 4 two-hash band postings.

    The md5 chains (1 md5 + 4 hex-digit instr/conv steps per seed, 8
    seeds) are a pure function of the shingle STRING, so they run once
    per DISTINCT shingle (a map-side-combined distinct, Heaps-law
    sublinear) and per-occurrence rows pick their hashes up via an
    equi-join — at sf0.1 that is 27k hash rows instead of 260k (9.6×
    fewer md5 chains; the collapse grows with corpus size). Same
    duplicate-collapse-before-hash algebra as the count-min/HLL
    builders: MIN per doc is invariant to where the hash is computed.

    The persist is load-bearing for the collapse: the shingle-string
    assembly (the other dominant cost) must materialize ONCE — without
    it the dict side and the probe side each re-run the corpus
    shingling (measured 10.1 → 13.6 s at sf0.1, a net regression
    despite 9.6× fewer md5 chains)."""
    from ..operators.dedup import word_shingles

    base = docs.select(
        F.col("doc_id").alias("_id"), word_shingles("text", 3).alias("_sh")
    ).filter(F.size("_sh") > 0).persist()

    exploded = base.select("_id", F.explode("_sh").alias("_s"))
    sdict = exploded.select("_s").distinct().select(
        "_s",
        *[_md5int16_col(F.col("_s"), i).alias(f"_h{i}") for i in range(_MH_HASHES)],
    )
    hashed = exploded.join(sdict, "_s")
    sig = hashed.groupBy("_id").agg(
        *[F.min(f"_h{i}").alias(f"_h{i}") for i in range(_MH_HASHES)]
    )
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.col(f"_h{2 * b}").cast("string"),
                                F.col(f"_h{2 * b + 1}").cast("string"),
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_band.band_id", "_band.band_hash")
    return base, banded


@q("minhash_lsh_oracle", _ORACLE_MINHASH)
def minhash_lsh_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end oracled MinHash-LSH near-dup pipeline (md5-based
    hash family, 8 hashes × 4 bands, word 3-shingles, jaccard ≥ 0.5).
    Same plan shape as operators/dedup.py:minhash_lsh_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    base, banded = _md5_banded(docs)

    cand = (
        banded.select("band_id", "band_hash", F.col("_id").alias("id_a"))
        .join(
            banded.select("band_id", "band_hash", F.col("_id").alias("id_b")),
            ["band_id", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = cand.join(
        base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a")), "id_a"
    ).join(
        base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b")), "id_b"
    )
    jac = F.size(F.array_intersect("_sh_a", "_sh_b")) / F.size(
        F.array_union("_sh_a", "_sh_b")
    )
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Fully-oracled SimHash (16-bit md5-based variant, hamming ≤ 3, 4-bit
# chunk blocking) — same generator-built-for-both-dialects approach as
# minhash_lsh_oracle. Production operator keeps 63-bit xxhash64.
# ---------------------------------------------------------------------------

def _bit_sql(v: str, i: int, dialect: str) -> str:
    div = "//" if dialect == "duck" else "div"
    return f"(({v} {div} {2 ** i}) % 2)"


_SIMHASH_BITS = 16


def _simhash_oracle_sql() -> str:
    hv = _md5int16_sql("t", 0)
    votes = ", ".join(
        f"SUM(CASE WHEN {_bit_sql('hv', i, 'duck')} = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
    )
    chunks = " UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS chunk_id, (sig // {16 ** c}) % 16 AS chunk_val FROM sigs"
        for c in range(4)
    )
    hamming = " + ".join(
        f"(CASE WHEN {_bit_sql('a.sig', i, 'duck')} <> {_bit_sql('b.sig', i, 'duck')} "
        f"THEN 1 ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return rf"""
WITH toks AS (
    SELECT doc_id, UNNEST(LIST_DISTINCT(
        REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'))) AS t
    FROM documents
),
hashed AS (SELECT doc_id, {hv} AS hv FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS sig FROM votes),
chunks AS ({chunks}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a,
                    b.doc_id AS id_b, b.sig AS sig_b
    FROM chunks a JOIN chunks b
      ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
         AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM (
    SELECT a.id_a, a.id_b, ({hamming.replace("a.sig", "a.sig_a").replace("b.sig", "a.sig_b")}) AS hamming
    FROM cand a
) WHERE hamming <= 3
"""


@q("simhash_oracle", _simhash_oracle_sql())
def simhash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end oracled SimHash near-dup pipeline: 16-bit md5-based
    signatures, per-bit majority votes, 4-bit chunk blocking
    (pigeonhole covers radius ≤ 3), Hamming-verified pairs. Same plan
    shape as operators/dedup.py:simhash_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.array_distinct(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            )
        ).alias("_t"),
    )
    hashed = toks.select("_id", _md5int16_col(F.col("_t"), 0).alias("_hv"))
    votes = hashed.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(_hv div {2 ** i}) % 2") == 1, 1).otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(_SIMHASH_BITS):
        sig = sig + F.when(F.col(f"_v{i}") > 0, F.lit(2 ** i)).otherwise(0)
    sigs = votes.select("_id", sig.alias("_sig"))
    chunks = sigs.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.expr(f"(_sig div {16 ** c}) % 16").alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select("_id", "_sig", "_c.chunk_id", "_c.chunk_val")
    cand = (
        chunks.select(
            "chunk_id", "chunk_val",
            F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"),
        )
        .join(
            chunks.select(
                "chunk_id", "chunk_val",
                F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"),
            ),
            ["chunk_id", "chunk_val"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.lit(0)
    for i in range(_SIMHASH_BITS):
        hamming = hamming + F.when(
            F.expr(f"(sig_a div {2 ** i}) % 2") != F.expr(f"(sig_b div {2 ** i}) % 2"),
            1,
        ).otherwise(0)
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


_ORACLE_FUNNEL = """
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS next_type
    FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' AND next_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions
FROM seq
GROUP BY user_id
"""


@q("click_purchase_funnel", _ORACLE_FUNNEL)
def click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (applyInPandas): per-user ordered
    sequence scan counting immediate click→purchase transitions
    (operators/funnel.py) — integer-exact against a lead-window SQL
    twin."""
    from ..operators.funnel import transition_counts

    return transition_counts(load_events(spark, sf_dir))


@q("click_purchase_funnel_native", _ORACLE_FUNNEL)
def click_purchase_funnel_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native twin of click_purchase_funnel: lead window + sum,
    whole-stage codegen end to end (operators/funnel.py:
    transition_counts_native). Same oracle, identical results — this is
    the production path; the grouped-map Pandas kernel above is the
    extensibility demo for sequence logic window functions can't
    express."""
    from ..operators.funnel import transition_counts_native

    return transition_counts_native(load_events(spark, sf_dir))


_ORACLE_PIVOT_USERS = """
SELECT CAST(ts AS DATE) AS date,
       COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS click,
       COUNT(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS error,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchase,
       COUNT(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS signup,
       COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS view
FROM events
GROUP BY CAST(ts AS DATE)
"""


@q("pivot_daily_types", _ORACLE_PIVOT_USERS)
def pivot_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a DISTINCT aggregate: daily active users per event
    type (long→wide). Complements pivot_event_type_matrix — that one
    is the conditional-count pivot (one hash aggregate); a distinct
    aggregate inside a pivot expands to per-column count_distinct,
    which Spark plans as expand + two-level aggregate — a genuinely
    different physical shape worth pinning separately. The explicit
    value list still keeps it single-pass (no value-discovery scan)."""
    events = load_events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date")
        .pivot("event_type", types)
        .agg(F.count_distinct("user_id"))
        .na.fill(0, types)
    )


# ---------------------------------------------------------------------------
# The real music pipeline (plans/music.py:run_music_pipeline), oracle-
# checked end-to-end: music-shaped tables are derived deterministically
# from the driver testdata (events.props.k → track, customer → user),
# then the ACTUAL pipeline runs and its outputs hash-match SQL twins.
# ---------------------------------------------------------------------------

_GENRES = ["rock", "jazz", "pop", "hiphop", "classical"]


def _music_tables(spark: SparkSession, sf_dir: str):
    events = load_events(spark, sf_dir)
    streams = events.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.get_json_object("props", "$.k").alias("track_id"),
        F.col("ts").alias("listen_time"),
    )
    genre = F.element_at(
        F.array(*[F.lit(g) for g in _GENRES]),
        (F.col("track_id").cast("int") % 5 + 1).cast("int"),
    )
    songs = (
        streams.select("track_id").distinct()
        .withColumn("track_name", F.concat(F.lit("track "), "track_id"))
        .withColumn("artists", F.concat(F.lit("artist "), (F.col("track_id").cast("int") % 7).cast("string")))
        .withColumn("duration_ms", (F.lit(60000) + F.col("track_id").cast("int") * 1000))
        .withColumn("track_genre", genre)
    )
    users = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("user_id"),
        F.col("c_name").alias("user_name"),
        F.lit(30).alias("user_age"),
        F.col("c_mktsegment").alias("user_country"),
    )
    return streams, songs, users


_ORACLE_MUSIC_CTE = """
WITH streams AS (
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           json_extract_string(props, '$.k') AS track_id,
           ts AS listen_time
    FROM events
),
songs AS (
    SELECT track_id,
           'track ' || track_id AS track_name,
           'artist ' || CAST(CAST(track_id AS INTEGER) % 7 AS VARCHAR) AS artists,
           60000 + CAST(track_id AS INTEGER) * 1000 AS duration_ms,
           ['rock', 'jazz', 'pop', 'hiphop', 'classical'][CAST(track_id AS INTEGER) % 5 + 1]
               AS track_genre
    FROM (SELECT DISTINCT track_id FROM streams)
),
users AS (
    SELECT CAST(c_custkey AS VARCHAR) AS user_id FROM customer
),
enriched AS (
    SELECT s.user_id, s.track_id, s.listen_time,
           g.track_name, g.track_genre, g.artists, g.duration_ms,
           CAST(s.listen_time AS DATE) AS date
    FROM streams s
    JOIN songs g USING (track_id)
    JOIN users u USING (user_id)
)
"""

_ORACLE_MUSIC_KPIS = _ORACLE_MUSIC_CTE + """
SELECT track_genre, date,
       COUNT(*) AS listen_count,
       COUNT(DISTINCT user_id) AS unique_listeners,
       CAST(SUM(duration_ms) AS BIGINT) AS total_listening_time_ms,
       CAST(CAST(SUM(duration_ms) AS BIGINT) AS DOUBLE) / COUNT(*)
           AS avg_listening_time_ms,
       CAST(CAST(SUM(duration_ms) AS BIGINT) AS DOUBLE) / COUNT(DISTINCT user_id)
           AS avg_listening_time_per_user
FROM enriched
GROUP BY track_genre, date
"""


@q("music_pipeline_kpis", _ORACLE_MUSIC_KPIS)
def music_pipeline_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE music pipeline itself (plans/music.py:run_music_pipeline),
    not an analog: genre_kpis output on derived music-shaped tables,
    hash-checked against the SQL restatement."""
    from .music import run_music_pipeline

    streams, songs, users = _music_tables(spark, sf_dir)
    out = run_music_pipeline(streams, songs, users)
    return out.genre_kpis


_ORACLE_MUSIC_TOP_SONGS = _ORACLE_MUSIC_CTE + """
, plays AS (
    SELECT track_genre, date, track_id, track_name, artists,
           COUNT(*) AS play_count
    FROM enriched
    GROUP BY track_genre, date, track_id, track_name, artists
)
SELECT track_genre, date, rank, track_id, track_name, artists, play_count
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY track_genre, date
        ORDER BY play_count DESC, track_id ASC) AS INTEGER) AS rank
    FROM plays
)
WHERE rank <= 3
"""


@q("music_pipeline_top_songs", _ORACLE_MUSIC_TOP_SONGS)
def music_pipeline_top_songs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_music_pipeline's top_songs output (W1 with the engine's
    deterministic track_id tie-break), hash-checked end-to-end."""
    from .music import run_music_pipeline

    streams, songs, users = _music_tables(spark, sf_dir)
    out = run_music_pipeline(streams, songs, users)
    return out.top_songs


@q("ann_lsh_topk")  # rows-only: hyperplane bucketing is engine-seeded
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via hyperplane LSH + exact re-rank
    (operators/similarity.py:lsh_topk); recall vs the exact oracle
    query is pinned in tests/test_extensions.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return _sim.lsh_topk(emb, queries, k=10, bits=16, bands=4, dims=64)


@q("ann_ivf_topk")  # rows-only: centroid codebook is engine-computed
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF two-stage ANN: k-means-lite codebook, nprobe nearest cells,
    exact cosine within cells (operators/similarity.py:ivf_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = _sim.kmeans_lite(emb, n_centroids=8, seed=7)
    return _sim.ivf_topk(emb, queries, centroids, k=10, nprobe=3, dims=64)


_ORACLE_CURATION = r"""
WITH feat AS (
    SELECT doc_id, lang, text,
           LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g')) AS norm,
           LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS n_tokens,
           CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')))
                AS DOUBLE)
           / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS uniq_ratio
    FROM documents
),
quality AS (
    SELECT * FROM feat WHERE n_tokens >= 20 AND uniq_ratio >= 0.3
),
deduped AS (
    SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY norm) AS canonical
        FROM quality
    ) WHERE doc_id = canonical
),
split AS (
    SELECT lang, n_tokens,
           CASE WHEN b < 204 THEN 'train'
                WHEN b < 230 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT lang, n_tokens,
               (INSTR('0123456789abcdef',
                      SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
               + (INSTR('0123456789abcdef',
                        SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
        FROM deduped
    )
)
SELECT lang, split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM split
GROUP BY lang, split
"""


@q("corpus_curation", _ORACLE_CURATION)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition of the training-data operators: quality
    gate (token count + uniqueness ratio) → exact dedup (canonical =
    min doc_id per normalized text) → deterministic train/val/test
    split → per-(lang, split) corpus stats. Every stage is the engine
    operator (text.quality features, dedup normalization, sampling
    split) and the whole chain hash-matches one SQL restatement."""
    from ..functions.scalar import normalize_text
    from ..operators.sampling import dataset_split
    from ..operators.text import tokens as _toks

    docs = load_table(spark, sf_dir, "documents")
    toks = _toks("text")
    feat = docs.select(
        "doc_id",
        "lang",
        normalize_text("text").alias("norm"),
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(F.transform(toks, F.lower))).cast("double")
         / F.size(toks)).alias("uniq_ratio"),
    )
    quality = feat.filter((F.col("n_tokens") >= 20) & (F.col("uniq_ratio") >= 0.3))
    w = Window.partitionBy("norm")
    deduped = quality.withColumn("canonical", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canonical")
    )
    split = dataset_split(deduped, "doc_id")
    return split.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


# ---------------------------------------------------------------------------
# Distribution windows, exact moments, SCD2, merge-upsert (beyond reference:
# SURVEY §2.4 "not present: median/percentile" neighbors; §2.5 "no analytic")
# ---------------------------------------------------------------------------

_ORACLE_QUARTILES = """
WITH totals AS (
    SELECT c_mktsegment AS segment, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, user_id
)
SELECT segment, user_id, total_value,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume_dist,
       FIRST_VALUE(user_id) OVER w AS segment_top_user,
       LAST_VALUE(user_id) OVER (PARTITION BY segment
           ORDER BY total_value DESC, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS segment_bottom_user
FROM totals
WINDOW w AS (PARTITION BY segment ORDER BY total_value DESC, user_id)
"""


@q("user_value_quartiles", _ORACLE_QUARTILES)
def user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows — ntile / percent_rank / cume_dist /
    first_value / last_value-with-explicit-frame — over per-user spend
    within a market segment. percent_rank and cume_dist are ratios of
    small integers, so one IEEE double division each is bit-identical
    across engines; the ordering is made deterministic with a user_id
    tie-break (SURVEY §2.5 note on row_number nondeterminism applies to
    every ordered window). last_value needs the full-partition ROWS
    frame in both engines (the default frame stops at CURRENT ROW)."""
    totals = (
        _enriched_events(spark, sf_dir)
        .groupBy(F.col("c_mktsegment").alias("segment"), "user_id")
        .agg(_dec_sum().cast("double").alias("total_value"))
    )
    w = Window.partitionBy("segment").orderBy(
        F.desc("total_value"), F.asc("user_id")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return totals.select(
        "segment", "user_id", "total_value",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
        F.first("user_id").over(w).alias("segment_top_user"),
        F.last("user_id").over(w_full).alias("segment_bottom_user"),
    )


# Exact cross-engine statistical moments: stddev/corr accumulate doubles
# in shuffle order, so calling the built-ins directly would drift between
# engines. Instead every sufficient statistic (Σx, Σx², Σy, Σy², Σxy, n)
# is an EXACT decimal/integer sum (value has 2 decimals, hour is an int),
# and the textbook formulas are then evaluated in double with the SAME
# operation tree in both engines — deterministic IEEE arithmetic on equal
# operands gives bit-equal results.
_ORACLE_MOMENTS = """
WITH stats AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
                AS DOUBLE) AS sxx,
           CAST(SUM(hour(ts)) AS DOUBLE) AS sy,
           CAST(SUM(hour(ts) * hour(ts)) AS DOUBLE) AS syy,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * hour(ts)) AS DOUBLE) AS sxy
    FROM events
    GROUP BY event_type
)
SELECT event_type, n,
       sx / n AS mean_value,
       sqrt((sxx - (sx * sx) / n) / (n - 1)) AS stddev_value,
       ((sxy - (sx * sy) / n) / (n - 1))
           / (sqrt((sxx - (sx * sx) / n) / (n - 1))
              * sqrt((syy - (sy * sy) / n) / (n - 1))) AS corr_value_hour
FROM stats
"""


@q("value_moments_by_type", _ORACLE_MOMENTS)
def value_moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / sample stddev / Pearson corr(value, hour-of-day) per event
    type, hash-exact across engines via exact sufficient statistics
    (see comment above). At 100 TB this is also the RIGHT plan shape:
    one partial+final hash aggregate of six sums — the same shuffle the
    built-in stddev/corr would do, with none of their merge-order
    nondeterminism."""
    events = load_events(spark, sf_dir)
    x = F.col("value").cast("decimal(18,2)")
    y = F.hour("ts")
    stats = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var_x = (sxx - (sx * sx) / n) / (n - 1)
    var_y = (syy - (sy * sy) / n) / (n - 1)
    cov = (sxy - (sx * sy) / n) / (n - 1)
    return stats.select(
        "event_type", "n",
        (sx / n).alias("mean_value"),
        F.sqrt(var_x).alias("stddev_value"),
        (cov / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_value_hour"),
    )


_ORACLE_SCD2 = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
    SELECT user_id, event_type, ts AS valid_from
    FROM ordered
    WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to,
       CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id
                ORDER BY valid_from) IS NULL THEN 1 ELSE 0 END AS is_current
FROM changes
"""


@q("scd2_user_state", _ORACLE_SCD2)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval build from an event
    log: lag-based change detection collapses runs of the same
    event_type, lead supplies each interval's exclusive end, the last
    interval per user stays open (is_current). The standard dimension-
    history pattern a warehouse derives from a CDC/event stream; both
    windows shuffle once on user_id — at 100 TB the log is date-
    partitioned and the rebuild runs per user-id range with no
    cross-partition state."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", F.col("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    lead = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id", "event_type", "valid_from",
        lead.alias("valid_to"),
        F.when(lead.isNull(), 1).otherwise(0).alias("is_current"),
    )


_ORACLE_MERGE = """
WITH updates AS (
    SELECT o_custkey AS custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spend,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
)
SELECT COALESCE(c_custkey, custkey) AS custkey,
       CASE WHEN c_custkey IS NULL THEN 'insert'
            WHEN custkey IS NULL THEN 'keep'
            ELSE 'update' END AS action,
       CASE WHEN custkey IS NULL THEN c_acctbal ELSE total_spend END
           AS new_balance,
       COALESCE(n_orders, 0) AS n_orders
FROM customer FULL OUTER JOIN updates ON c_custkey = custkey
"""


@q("dim_merge_upsert", _ORACLE_MERGE)
def dim_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics on a dimension without a table format:
    full-outer join of the current dim against an aggregated update
    feed, rows classified insert / update / keep and the new balance
    resolved per-row — exactly what Delta/Iceberg MERGE INTO compiles
    to under the hood (outer join + per-row action). At scale the join
    shuffles both sides on the key once; with the dim bucketed on
    custkey the shuffle drops to the update side only."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    updates = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
    )
    joined = customer.join(
        updates, customer.c_custkey == updates.custkey, "full_outer"
    )
    return joined.select(
        F.coalesce("c_custkey", "custkey").alias("custkey"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("custkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
        F.when(F.col("custkey").isNull(), F.col("c_acctbal"))
        .otherwise(F.col("total_spend"))
        .alias("new_balance"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Global top-K and train/test contamination (SURVEY §2.6 "no global ORDER BY
# in the reference"; training-data pipeline north star)
# ---------------------------------------------------------------------------

_ORACLE_GLOBAL_TOPK = """
SELECT o_custkey AS custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY o_custkey
ORDER BY total_spend DESC, custkey
LIMIT 20
"""


@q("global_top_spenders", _ORACLE_GLOBAL_TOPK)
def global_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT — absent from the reference (SURVEY
    §2.6) but fundamental. Spark compiles orderBy().limit(k) to
    TakeOrderedAndProject: each partition keeps its local top-k and
    only k rows per partition reach the driver-side merge — no global
    sort shuffle ever materializes, so this scales to any fact size.
    Tie-break on custkey makes the LIMIT membership deterministic."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend")
        )
        .orderBy(F.desc("total_spend"), F.asc("custkey"))
        .limit(20)
    )


_SPLIT_BUCKET_SQL = """
    (INSTR('0123456789abcdef',
           SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
    + (INSTR('0123456789abcdef',
             SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
"""

_ORACLE_CONTAMINATION = rf"""
WITH tok AS (
    SELECT doc_id, {_SPLIT_BUCKET_SQL} AS b,
           REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+') AS t
    FROM documents
),
sh AS (
    SELECT doc_id, b,
           LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, LEN(t) - 3),
               i -> ARRAY_TO_STRING(t[i:i+4], ' ')
           )) AS shingles
    FROM tok WHERE LEN(t) >= 5
),
train_sh AS (
    SELECT DISTINCT UNNEST(shingles) AS s FROM sh WHERE b < 204
),
test_e AS (
    SELECT doc_id, UNNEST(shingles) AS s FROM sh WHERE b >= 230
)
SELECT doc_id, COUNT(*) AS n_shared_shingles
FROM test_e JOIN train_sh USING (s)
GROUP BY doc_id
"""


@q("train_test_contamination", _ORACLE_CONTAMINATION)
def train_test_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check — the eval-hygiene pass every
    training-data pipeline needs: which test-split documents share a
    word 5-gram with ANY train-split document. Plan: deterministic
    hash split (operators/sampling.py:dataset_split) → shingle both
    sides → dedup the train side to a distinct-shingle relation (the
    big shrink: |distinct shingles| ≪ |doc × shingle|) → hash
    equi-join → per-test-doc count. At 100 TB the join key becomes
    xxhash64(shingle) (8-byte shuffle rows instead of strings) and the
    train side is bucketed by that hash so nightly test sweeps reuse
    the layout; here the raw shingle string keeps the DuckDB twin
    hash-exact."""
    from ..operators.dedup import word_shingles
    from ..operators.sampling import dataset_split

    docs = dataset_split(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select(
        "doc_id", "split", word_shingles("text", 5).alias("_sh")
    ).filter(F.size("_sh") > 0)
    train_sh = (
        sh.filter(F.col("split") == "train")
        .select(F.explode("_sh").alias("s"))
        .distinct()
    )
    test_e = sh.filter(F.col("split") == "test").select(
        "doc_id", F.explode("_sh").alias("s")
    )
    return test_e.join(train_sh, "s").groupBy("doc_id").agg(
        F.count("*").alias("n_shared_shingles")
    )


# ---------------------------------------------------------------------------
# Round 2 additions: pivot, histogram, inverted index, redaction, fuzzy join
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_ORACLE_PIVOT = """
SELECT CAST(ts AS DATE) AS date,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
"""


@q("pivot_event_type_matrix", _ORACLE_PIVOT)
def pivot_event_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long→wide, the inverse of the R1 unpivot): one column per
    event type, one row per day. The pivot values are DECLARED, not
    discovered — Spark's two-pass value-discovery scan is skipped and
    the whole thing is one hash aggregate with conditional counts
    (identical plan to the SUM(CASE) oracle). Missing cells fill 0."""
    events = load_events(spark, sf_dir)
    return (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )


_ORACLE_HISTOGRAM = """
SELECT LEAST(GREATEST(CAST(FLOOR(value / 25.0) AS BIGINT), 0), 23) AS bucket,
       COUNT(*) AS n,
       CAST(LEAST(GREATEST(CAST(FLOOR(value / 25.0) AS BIGINT), 0), 23) * 25.0
           AS DOUBLE) AS bucket_lo
FROM events
WHERE value IS NOT NULL
GROUP BY 1
"""


@q("value_histogram", _ORACLE_HISTOGRAM)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the event value distribution
    (operators/aggregates.py:fixed_width_histogram): 24 buckets of
    width 25 with overflow clamping. The aggregate output is
    bucket-count sized regardless of input scale — the map-side
    partial agg does all the reduction."""
    from ..operators.aggregates import fixed_width_histogram

    events = load_events(spark, sf_dir)
    return fixed_width_histogram(
        events, "value", lo=0.0, width=25.0, n_buckets=24
    ).select("bucket", "n", "bucket_lo")


_ORACLE_INVERTED_INDEX = r"""
WITH tok AS (
    SELECT doc_id, LOWER(t.tok) AS token
    FROM documents, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS t(tok)
),
per_doc AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
SELECT token,
       COUNT(*) AS doc_freq,
       CAST(SUM(tf) AS BIGINT) AS term_freq,
       ARRAY_TO_STRING(LIST_SORT(LIST(doc_id))[1:20], ',') AS postings_preview
FROM per_doc
GROUP BY token
"""


@q("inverted_index_tokens", _ORACLE_INVERTED_INDEX)
def inverted_index_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token → posting-list inverted index build
    (operators/text.py:inverted_index): explode → partial-agg collapse
    of per-doc repeats → per-token doc/term frequencies + a capped,
    sorted postings preview (collect_set bounded by the slice, so a
    stop-token entry can't blow up a reducer)."""
    from ..operators.text import inverted_index

    return inverted_index(load_table(spark, sf_dir, "documents"))


_ORACLE_REDACTION = r"""
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(customer|spark)\b')) AS BIGINT)
           AS n_redactions,
       MD5(REGEXP_REPLACE(text, '\b(customer|spark)\b', '[REDACTED]', 'g'))
           AS redacted_md5
FROM documents
"""


@q("redacted_docs", _ORACLE_REDACTION)
def redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist scrub (operators/text.py:redact_terms) — the PII-
    redaction plumbing (whole-word regexp_replace + match count),
    verified by MD5 of the scrubbed text so the oracle proves byte
    identity of the replacement, not just the counts. Map-only."""
    from ..operators.text import redact_terms

    docs = load_table(spark, sf_dir, "documents")
    out = redact_terms(docs, ["customer", "spark"])
    return out.select(
        "doc_id", "n_redactions", F.md5("text_redacted").alias("redacted_md5")
    )


_ORACLE_FUZZY_PARTS = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


@q("fuzzy_part_pairs", _ORACLE_FUZZY_PARTS)
def fuzzy_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join: edit-distance ≤ 2 name pairs within a brand
    block. The block key bounds the quadratic comparison to per-block
    n², the standard entity-resolution shape — at 100 TB the block is
    whatever cheap key keeps blocks ~10³ rows (brand, sorted-token
    prefix, LSH bucket), and the blocked join is a plain shuffle
    equi-join on it; levenshtein runs codegen'd JVM-side."""
    n_salt = spark.sparkContext.defaultParallelism
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.pmod(F.xxhash64("p_partkey"), F.lit(n_salt)).alias("_salt"),
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
    ).repartition(n_salt, "brand", "_salt")
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_salt"),
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
    )
    # bounded levenshtein: early-exits once distance exceeds the
    # threshold (returns -1), ~O(threshold*len) instead of O(len^2);
    # the length-difference prefilter kills most pairs before even that
    dist = F.levenshtein("name_a", "name_b", 2)
    return (
        a.join(b, ["brand", "_salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= 2)
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


# ---------------------------------------------------------------------------
# SQL surface: correlated subqueries (Catalyst decorrelation). These run
# through spark.sql over registered views — the engine's ANSI-SQL entry
# point — and DuckDB executes the SAME text, so the oracle doubles as a
# dialect-compatibility check.
# ---------------------------------------------------------------------------

_SQL_SCALAR_SUBQ = """
SELECT p_brand,
       COUNT(*) AS n_small_orders,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_quantity < (
      SELECT 0.5 * AVG(CAST(l2.l_quantity AS DECIMAL(12,2)))
      FROM lineitem l2
      WHERE l2.l_partkey = p_partkey
  )
GROUP BY p_brand
"""


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


@q("small_qty_orders_scalar_subq", _SQL_SCALAR_SUBQ)
def small_qty_orders_scalar_subq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (the TPC-H Q17 shape): per-part
    average quantity as the correlated threshold. Catalyst decorrelates
    it into an aggregate-then-join — check .explain: no per-row
    re-execution, one extra shuffle over lineitem grouped by partkey.
    Same SQL text runs on DuckDB as the oracle."""
    _register(spark, sf_dir, "lineitem", "part")
    return spark.sql(_SQL_SCALAR_SUBQ)


_SQL_EXISTS_SUBQ = """
SELECT c_nationkey, COUNT(*) AS n_multi_order_customers
FROM customer
WHERE EXISTS (
    SELECT 1 FROM orders o1
    WHERE o1.o_custkey = c_custkey
      AND EXISTS (
          SELECT 1 FROM orders o2
          WHERE o2.o_custkey = o1.o_custkey
            AND o2.o_orderkey <> o1.o_orderkey
            AND o2.o_orderpriority = o1.o_orderpriority
      )
)
GROUP BY c_nationkey
"""


@q("multi_order_customers_exists", _SQL_EXISTS_SUBQ)
def multi_order_customers_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested correlated EXISTS (customers with 2+ orders sharing a
    priority): both levels decorrelate to semi joins — the plan is two
    hash joins, not nested-loop re-execution."""
    _register(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_EXISTS_SUBQ)


_SQL_IN_SUBQ = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_name LIKE 'NATION_1%'
    )
)
GROUP BY o_orderpriority
"""


@q("orders_by_nation_block_in", _SQL_IN_SUBQ)
def orders_by_nation_block_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN subqueries (orders from customers in the NATION_1x
    block):
    rewritten to semi joins; the inner nation filter is a broadcast."""
    _register(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(_SQL_IN_SUBQ)


_ORACLE_EWMA = """
WITH RECURSIVE seq AS (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
    WHERE value IS NOT NULL
),
rec(user_id, event_id, rn, ewma) AS (
    SELECT user_id, event_id, rn, value FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.event_id, s.rn, 0.25 * s.value + 0.75 * rec.ewma
    FROM seq s JOIN rec ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
)
SELECT user_id, event_id, ewma FROM rec
"""


@q("ewma_per_user", _ORACLE_EWMA)
def ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (operators/funnel.py:
    ewma_by_entity) — a true recurrence no window frame expresses,
    run as a grouped-map Arrow kernel with one entity-keyed shuffle.
    The DuckDB oracle is a recursive CTE stepping the same recurrence
    in the same IEEE operation order, so the match is bit-exact —
    demonstrating that even Python-kernel operators here are held to
    the hash-exact gate, not a tolerance."""
    from ..operators.funnel import ewma_by_entity

    return ewma_by_entity(load_events(spark, sf_dir), alpha=0.25)


# Register the round-2 analytics batch (cohorts, sliding distinct,
# basket/collocation mining, winsorized means, interpolation). Imported
# last so its `from .driver_queries import q` sees a fully-built module.
from . import analytics_queries  # noqa: E402,F401
from . import pipeline_queries  # noqa: E402,F401
from . import round3_queries  # noqa: E402,F401
from . import round4_queries  # noqa: E402,F401
from . import round5_queries  # noqa: E402,F401
from . import round6_queries  # noqa: E402,F401
from . import round6b_queries  # noqa: E402,F401
from . import round7_queries  # noqa: E402,F401
from . import round8_queries  # noqa: E402,F401
from . import round9_queries  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Registry ordering. The driver's correctness gate samples the FIRST 50
# queries in registration order.
#
# WINDOW POLICY (structural, round 7 onward — VERDICT r6 task #2): a
# query's slot priority is its STALENESS — the window takes the 50
# queries whose most recent green driver row is oldest, oldest round
# first, alphabetical within a round (mechanical, so each rotation is
# the previous ledger's complement without judgment calls). Once the
# stale backlog exceeds one window (it is 88 entering r7: 45 r3-green
# + 43 r4-green), NEW oracled registrations are capped at 5 per round
# and displace only the youngest tail of the window (the newest-round
# stale entries), never the oldest block. Rationale: with 196 queries
# and a 50-slot gate, unbounded new registration grows rotation debt
# without bound — r3-green queries slipped the window in BOTH r5 and
# r6 because new queries kept outranking re-checks. Per-run pytest
# oracle parity (tests/test_oracle_parity.py) still re-proves every
# oracled query at sf0.001 regardless of window position, so windowing
# is verification freshness, not the only correctness net.
#
# ROWS-ONLY entries are EXEMPT from the staleness queue: the driver
# can only record "executes, N rows" for them (CORRECTNESS_r01/r02
# show err: no_oracle — they can never go hash-green), so a window
# slot spent on one verifies almost nothing. Each rows-only entry's
# real verification is its ORACLED SIBLING (minhash_lsh_pairs_docs /
# minhash_drop_stats → minhash_lsh_oracle r3-green + drop-stats
# oracle r6; simhash_pairs_docs → simhash_oracle r6;
# approx_distinct_users → hll_distinct_users r6; ann_lsh/ivf_topk →
# their _oracle twins r4; unigram family → unigram_encode_oracle r7 +
# the brute-force pytest pin; compression_ratio_docs → stdlib-pinned)
# plus per-run pytest execution. Ledger facts from the CORRECTNESS
# files themselves (not prior comments, one of which mislabeled
# minhash_lsh_oracle as r4): minhash_lsh_oracle's only green row is
# r3, which is why it sits in the r3 block below.
#
# Round-9 instance. Ledger source: the CORRECTNESS_r01..r08 files'
# latest-green union, recomputed from the files as the policy
# prescribes (the round-8 closing note's "47 r5 + 3 r6" split was
# computed BEFORE the two late r8 registrations landed and is wrong —
# VERDICT r8 #1). After r8 the ledger holds 50 r8 + 50 r7 + 50 r6 +
# 48 r5-green rows and zero r4. The r9 window is therefore the 48
# r5-green queries + the 2 alphabetically-first r6-green
# (asof_user_setting, blocklist_gate_docs) to fill 50, with this
# round's 5 new oracled registrations (the full per-round cap)
# displacing last slot first: blocklist_gate_docs and
# asof_user_setting (the r6 tail), then zorder_values,
# weighted_doc_sample and vocab_oov_rate (the alphabetical tail of
# the r5 pool — those three and the two r6 entries head the r10
# window).
_CHECK_FIRST = [
    # -- 45 r5-green (stalest pool; alphabetical; zorder_values,
    #    weighted_doc_sample and vocab_oov_rate ceded their slots to
    #    this round's new registrations) --
    "bigram_lm_quality",
    "bloom_decontamination",
    "bm25_hard_negatives",
    "bm25_search",
    "boilerplate_ngrams",
    "ccnet_quality_buckets",
    "char_entropy_scores",
    "cluster_representatives",
    "cm_token_counts",
    "concurrent_activity_pairs",
    "doc_length_quantiles",
    "dsir_gumbel_topk",
    "dsir_importance_weights",
    "duplicated_spans",
    "embedding_decontamination",
    "epoch_mix_plan",
    "gopher_quality_rules",
    "gopher_repetition_signals",
    "ivfpq_topk_adc",
    "kv_table",
    "leakage_safe_split",
    "length_quantiles_by_lang",
    "line_dedup_docs",
    "mmr_rerank_topk",
    "nb_domain_routing",
    "nfd_bin_packing",
    "pii_scan_counts",
    "pq_codes",
    "pq_recall",
    "pq_topk_adc",
    "recipe_epochs_unimax",
    "retrieval_mrr_ndcg",
    "rolling_7d_range",
    "rrf_hybrid_topk",
    "salted_agg_equivalence",
    "semantic_dedup_decisions",
    "sequence_packing",
    "serving_rank_between",
    "source_drift_psi",
    "source_ngram_overlap",
    "temperature_lang_sample",
    "textrank_keywords",
    "unigram_lm_quality",
    "unimax_allocation",
    "vocab_coverage_curve",
    # -- new r9 registrations (the full 5-per-round cap; displacement
    #    order above) --
    "mad_from_cells",
    "benford_source_gate",
    "column_profile_events",
    "skyline_parts",
    "length_quantiles_from_cells",
]

def finalize_registry() -> dict[str, Q]:
    """Apply the gate-window ordering (window queries first, everything
    else in registration order). Idempotent; asserts every window name
    is registered, so it must only run once ALL plans modules have
    completed their imports."""
    missing = [n for n in _CHECK_FIRST if n not in REGISTRY]
    assert not missing, f"_CHECK_FIRST names not in REGISTRY: {missing}"
    ordered = {n: REGISTRY[n] for n in _CHECK_FIRST}
    ordered.update({n: v for n, v in REGISTRY.items() if n not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY


# Import-order safety: when THIS module is imported first, the sibling
# imports above completed and the window can be applied eagerly. When a
# sibling module is imported first, it circularly pulls this module in
# BEFORE its own @q registrations have run — the sibling sitting
# partially initialized in sys.modules — so reordering (and especially
# the completeness assert) must wait; __spark_entry__ calls
# finalize_registry() once the package is fully imported.
if all(n in REGISTRY for n in _CHECK_FIRST):
    finalize_registry()
