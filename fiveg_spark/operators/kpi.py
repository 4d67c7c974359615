"""36-KPI computation — the engine's flagship operator.

Re-expresses the reference KPI pipeline (KafkaKpiPipeline.scala:63-176
``KpiComputer.compute36KPIs`` and :398-465 ``computeBatchKPIs``) as a
declarative Spark plan:

    packet view (map-only projection)
      → per-flow IAT  (ONE window shuffle on (slice, flow_id))
      → tumbling-window groupBy  (ONE agg shuffle on (slice, window_start))
      → 36 aggregates, all JVM built-ins inside WholeStageCodegen

The driver testdata has no packet captures, so the generic ``events``
table is mapped onto packet-event semantics deterministically (same CASE
arithmetic in Spark and in the DuckDB oracle):

    event_type → protocol class,  user_id → flow,  value → packet length,
    user_id % 3 → slice,  props.k → port/window/flags material.

At 100 TB both shuffles key on high-cardinality columns (flows, then
slice×hour) so partitions stay balanced; AQE skew-join/coalesce is on in
the session.  No Python runs anywhere in this plan.

Every aggregate expression exists ONCE as SQL text shared by the Spark
plan (via ``F.expr``) and the DuckDB oracle — parity by construction.
Floats are rounded to 4 decimals on both sides to absorb summation-order
noise; counts are CAST to BIGINT (DuckDB sum(int) is HUGEINT otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.functions.stats import pop_kurtosis_sql, pop_skewness_sql
from fiveg_spark.plans import registry
from fiveg_spark.sources.tables import load_table

EPS = 1e-6
# Reference thresholds (KafkaKpiPipeline.scala:25-27) are packet-scale
# (0.1 s idle, 100/1400 B); the month-long synthetic events stream is
# hour-scale, so defaults rescale while staying env-overridable.
IDLE_THRESHOLD_S = 600.0  # IAT above this = idle period
SMALL_PKT = 50.0
LARGE_PKT = 150.0


def json_k_expr(dialect: str) -> str:
    """The one JSON field used by the packet mapping — extracted ONCE in
    a pre-projection layer (JSON parsing is the most expensive scalar in
    the scan; doing it once instead of 4× saves ~½ the map time)."""
    if dialect == "spark":
        return "CAST(get_json_object(props, '$.k') AS INT)"
    if dialect == "duckdb":
        return "CAST(json_extract_string(props, '$.k') AS INT)"
    raise ValueError(dialect)  # pragma: no cover


def packet_projection(dialect: str) -> list[str]:
    """Shared events→packet-event projection over a layer that already
    extracted ``k``; only the epoch snippet differs between dialects."""
    if dialect == "spark":
        ts_sec = "(CAST(unix_micros(ts) AS DOUBLE) / 1000000.0)"
    elif dialect == "duckdb":
        # same integer micros, same division → bit-identical double
        ts_sec = "(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0)"
    else:  # pragma: no cover
        raise ValueError(dialect)
    return [
        "event_id",
        "ts",
        (
            "CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'eMBB' "
            "WHEN 1 THEN 'URLLC' ELSE 'mMTC' END AS slice"
        ),
        "user_id AS flow_id",
        f"{ts_sec} AS ts_sec",
        "value AS pkt_len",
        (
            "CASE WHEN event_type IN ('click', 'purchase') THEN 'TCP' "
            "WHEN event_type IN ('view', 'signup') THEN 'UDP' "
            "ELSE 'ICMP' END AS protocol"
        ),
        "k AS src_port",
        "CAST((user_id * 31 + k) % 1000 AS INT) AS dst_port",
        "CAST((k * 13) % 100 AS INT) AS win_size",
        "CAST(k % 32 AS INT) AS tcp_flags",
    ]


IAT_EXPR = (
    "coalesce(ts_sec - lag(ts_sec) OVER "
    "(PARTITION BY slice, flow_id ORDER BY ts_sec, event_id), 0.0) AS iat"
)


def _dbl(expr: str, alias: str) -> str:
    """Float metric, rounded to 4 decimals on BOTH engines.

    The +1e-9 nudge settles round-half ties: averages/ratios of 2-decimal
    inputs are exact rationals that frequently land ON the .00005 grid,
    where Spark (BigDecimal HALF_UP) and DuckDB (scaled-double rint) can
    disagree.  1e-9 is far above cross-engine summation noise (~1e-13
    relative) and far below the 1e-4 grid, so both engines land on the
    same side of every boundary."""
    # `+ 0.0` OUTSIDE the round erases IEEE negative zero: a tiny negative
    # input (skewness ~ -1e-7) rounds to `-0.0` in DuckDB but renders `0.0`
    # in Spark — numerically equal, string-hash different.  -0.0 + 0.0 =
    # +0.0 in IEEE 754, identically in both engines.
    return f"CAST(round(coalesce({expr}, 0.0) + 1e-9, 4) + 0.0 AS DOUBLE) AS {alias}"


def _cnt(expr: str, alias: str) -> str:
    return f"CAST({expr} AS BIGINT) AS {alias}"


def _distinct_cnt(col: str, alias: str, dialect: str) -> str:
    """Exact distinct count, Expand-free on Spark (see
    registry.distinct_cnt); DuckDB keeps count(DISTINCT)."""
    return _cnt(registry.distinct_cnt(col, dialect), alias)


def kpi_aggregates(
    idle_threshold: float = IDLE_THRESHOLD_S,
    small_pkt: float = SMALL_PKT,
    large_pkt: float = LARGE_PKT,
    dialect: str = "spark",
) -> list[str]:
    """The 36 KPI aggregate expressions (ref KafkaKpiPipeline.scala:104-164),
    as SQL snippets valid in BOTH Spark SQL and DuckDB (one median split)."""
    median = "percentile(iat, 0.5)" if dialect == "spark" else "quantile_cont(iat, 0.5)"
    idle = f"sum(CASE WHEN iat > {idle_threshold} THEN 1 ELSE 0 END)"
    return [
        # ---- Volume (4) ----
        _dbl("sum(pkt_len) * 8", "Throughput_bps"),
        _cnt("count(*)", "Total_Packets"),
        _dbl("sum(pkt_len)", "Total_Bytes"),
        _dbl(f"sum(pkt_len) / (sum(iat) + {EPS})", "Byte_Velocity"),
        # ---- Temporal (11) ----
        _dbl("avg(iat)", "Avg_IAT"),
        _dbl("stddev_samp(iat)", "Jitter"),
        _dbl(pop_skewness_sql("iat"), "IAT_Skewness"),
        _dbl(pop_kurtosis_sql("iat"), "IAT_Kurtosis"),
        _dbl("min(iat)", "Min_IAT"),
        _dbl("max(iat)", "Max_IAT"),
        _dbl(f"max(iat) / (avg(iat) + {EPS})", "IAT_PAPR"),
        _dbl("max(ts_sec) - min(ts_sec)", "Transmission_Duration"),
        _cnt(idle, "Idle_Periods"),
        _dbl(f"{idle} / count(*)", "Idle_Rate"),
        _dbl(median, "IAT_Median"),
        # ---- Packet size (9) ----
        _dbl("avg(pkt_len)", "Avg_Packet_Size"),
        _dbl("stddev_samp(pkt_len)", "Pkt_Size_StdDev"),
        _dbl(pop_skewness_sql("pkt_len"), "Pkt_Size_Skewness"),
        _dbl(pop_kurtosis_sql("pkt_len"), "Pkt_Size_Kurtosis"),
        _dbl("min(pkt_len)", "Min_Pkt_Size"),
        _dbl("max(pkt_len)", "Max_Pkt_Size"),
        _distinct_cnt("pkt_len", "Unique_Pkt_Sizes", dialect),
        _dbl(
            f"sum(CASE WHEN pkt_len < {small_pkt} THEN 1 ELSE 0 END) / count(*)",
            "Small_Pkt_Ratio",
        ),
        _dbl(
            f"sum(CASE WHEN pkt_len > {large_pkt} THEN 1 ELSE 0 END) / count(*)",
            "Large_Pkt_Ratio",
        ),
        # ---- Protocol (4) ----
        _dbl("sum(CASE WHEN protocol = 'TCP' THEN 1 ELSE 0 END) / count(*)", "TCP_Ratio"),
        _dbl("sum(CASE WHEN protocol = 'UDP' THEN 1 ELSE 0 END) / count(*)", "UDP_Ratio"),
        _distinct_cnt("protocol", "Protocol_Diversity", dialect),
        _distinct_cnt("src_port", "Unique_Src_Ports", dialect),
        # ---- TCP health (6) ----
        _dbl("avg(win_size)", "Avg_Win_Size"),
        _dbl("stddev_samp(win_size)", "Win_Size_StdDev"),
        _dbl("min(win_size)", "Min_Win_Size"),
        _dbl("max(win_size)", "Max_Win_Size"),
        _cnt("sum(CASE WHEN win_size = 0 THEN 1 ELSE 0 END)", "Zero_Win_Count"),
        # RST flag = bit 2 (0x04), ref KafkaKpiPipeline.scala:158
        _cnt("sum(CASE WHEN tcp_flags % 8 >= 4 THEN 1 ELSE 0 END)", "RST_Count"),
        # ---- Flow (2) ----
        _distinct_cnt("dst_port", "Unique_Dst_Ports", dialect),
        _dbl(f"stddev_samp(pkt_len) / (avg(pkt_len) + {EPS})", "Coeff_Variation_Size"),
    ]


def packet_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet → canonical packet-event view (map-only, codegen'd)."""
    events = load_table(spark, "events", sf_dir)
    with_k = events.selectExpr("*", f"{json_k_expr('spark')} AS k")
    return with_k.selectExpr(*packet_projection("spark"))


def with_iat(packets: DataFrame) -> DataFrame:
    """Per-flow inter-arrival time (ref KafkaKpiPipeline.scala:86-97).
    One shuffle on (slice, flow_id); event_id tiebreak keeps the order
    total so results are engine-deterministic."""
    return packets.selectExpr("*", IAT_EXPR)


def kpi36_from_packets(
    packets: DataFrame,
    window: str = "hour",
    **agg_kwargs,
) -> DataFrame:
    """36 KPIs from ANY canonical packet frame (events-mapped view, PCAP
    decode via ``sources.pcap.to_canonical_packets``, or Kafka-parsed
    records) — the single aggregation the whole ingest tier feeds."""
    flows = with_iat(packets)
    aggs = [F.expr(e) for e in kpi_aggregates(dialect="spark", **agg_kwargs)]
    return (
        flows.withColumn("window_start", F.date_trunc(window, F.col("ts")))
        .groupBy("slice", "window_start")
        .agg(*aggs)
    )


def kpi36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 36 KPIs per (slice, hour window)."""
    return kpi36_from_packets(packet_view(spark, sf_dir))


def flows_cte(dialect: str) -> str:
    """Reusable CTE prefix: events → (+k) → packets → flows (with
    per-flow IAT).  Shared by every events-derived operator in BOTH
    dialects."""
    proj = ",\n      ".join(packet_projection(dialect))
    return f"""WITH events_k AS (
      SELECT *, {json_k_expr(dialect)} AS k FROM events
    ), packets AS (
      SELECT
      {proj}
      FROM events_k
    ), flows AS (
      SELECT *, {IAT_EXPR}
      FROM packets
    )"""


def kpi36_oracle_sql() -> str:
    aggs = ",\n      ".join(kpi_aggregates(dialect="duckdb"))
    return f"""
    {flows_cte("duckdb")}
    SELECT
      slice,
      date_trunc('hour', ts) AS window_start,
      {aggs}
    FROM flows
    GROUP BY slice, date_trunc('hour', ts)
    """
