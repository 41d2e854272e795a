"""Deterministic synthesis of the reference's single fact table.

The reference stores one table ``ct.cert_domains`` with grain one row per
(certificate, domain-name) pair (reference: clickhouse/init.sql:3-18; fan-out
loop at ingestion/ct_ingestor.py:189-203). There is no real CT-log network
here, so the table is synthesized deterministically FROM the driver fixture
tables — the same construction expressed in two SQL dialects so the Spark
engine and the DuckDB oracle build the *identical* relation from the same
Parquet inputs.

Construction (seeded entirely by ``orders``):
- one certificate per order row; ``ts`` = o_orderdate + (o_orderkey % 86400) s
- ``base_domain`` = ``cust{o_custkey % 1000}.{tld}``, tld keyed by o_custkey % 5
- SAN set = base domain + 1..3 subdomain prefixes keyed by o_orderkey % 3
- ``fingerprint`` = SHA-256 hex of (base_domain | cert_id) — 64 chars, the
  FixedString(64) parity (init.sql:8)
- every SAN name becomes one row (the reference's explode, ct_ingestor.py:189-203)
- ~5% of certificates are duplicated wholesale (cert_id % 20 == 0), modelling
  the reference's at-least-once ingest which re-inserts rows after a crash
  between insert and offset write (ct_ingestor.py:205-226) — this gives the
  dedup operators (SURVEY §2.4 D1) real duplicates to remove.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import artifacts
from .catalog import load_table, table_path

_TEMPLATE = """
WITH cert_base AS (
  SELECT
    o_orderkey AS cert_id,
    {ts_expr} AS ts,
    concat('cust', CAST(o_custkey % 1000 AS {str_t}), '.',
           CASE o_custkey % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'net'
                WHEN 2 THEN 'org' WHEN 3 THEN 'rs' ELSE 'io' END) AS base_domain,
    CASE o_orderkey % 3
      WHEN 0 THEN {arr1}
      WHEN 1 THEN {arr2}
      ELSE {arr3} END AS prefixes
  FROM orders
), certs AS (
  SELECT
    cert_id,
    ts,
    base_domain,
    {san_expr} AS san,
    {fingerprint_expr} AS fingerprint,
    CASE cert_id % 4
      WHEN 0 THEN 'CN=R3,O=Lets Encrypt,C=US'
      WHEN 1 THEN 'CN=GTS CA 1P5,O=Google Trust Services LLC,C=US'
      WHEN 2 THEN 'CN=DigiCert TLS RSA SHA256 2020 CA1,O=DigiCert Inc,C=US'
      ELSE 'CN=Sectigo RSA DV,O=Sectigo Limited,C=GB' END AS issuer,
    concat('CN=', base_domain) AS subject,
    ts - INTERVAL 1 DAY AS not_before,
    ts + INTERVAL 90 DAY AS not_after,
    CASE cert_id % 3 WHEN 0 THEN 'Google_Argon2024'
         WHEN 1 THEN 'Cloudflare_Nimbus2024'
         ELSE 'DigiCert_Yeti2024' END AS log_name,
    cert_id % 20 AS dup_sel
  FROM cert_base
), exploded AS (
  {explode_select}
), duplicated AS (
  {dup_select}
)
SELECT ts, domain, base_domain, fingerprint, issuer, subject, san,
       not_before, not_after, log_name
FROM duplicated
"""

_SPARK_FRAGMENTS = {
    "ts_expr": "timestampadd(SECOND, CAST(o_orderkey % 86400 AS INT), o_orderdate)",
    "str_t": "STRING",
    "arr1": "array('www')",
    "arr2": "array('www','mail')",
    "arr3": "array('www','mail','api')",
    "san_expr": "concat(array(base_domain), transform(prefixes, p -> concat(p, '.', base_domain)))",
    "fingerprint_expr": "sha2(concat(base_domain, '|', CAST(cert_id AS STRING)), 256)",
    "explode_select": "SELECT c.*, d AS domain FROM certs c LATERAL VIEW explode(san) t AS d",
    # at-least-once duplicates in ONE pass: explode a 1- or 2-element
    # sequence instead of UNION ALL (which recomputes the whole sha2 +
    # explode chain twice in both engines)
    "dup_select": (
        "SELECT e.*, i FROM exploded e LATERAL VIEW "
        "explode(sequence(1, CASE WHEN dup_sel = 0 THEN 2 ELSE 1 END)) t AS i"
    ),
}

_DUCKDB_FRAGMENTS = {
    "ts_expr": "o_orderdate + to_seconds(o_orderkey % 86400)",
    "str_t": "VARCHAR",
    "arr1": "['www']",
    "arr2": "['www','mail']",
    "arr3": "['www','mail','api']",
    "san_expr": "list_concat([base_domain], list_transform(prefixes, p -> concat(p, '.', base_domain)))",
    "fingerprint_expr": "sha256(concat(base_domain, '|', CAST(cert_id AS VARCHAR)))",
    "explode_select": "SELECT c.*, unnest(san) AS domain FROM certs c",
    # DuckDB is faster with the two-pass UNION ALL (it materializes
    # multi-referenced CTEs) while Spark is faster with the single-pass
    # sequence explode — each dialect gets its best formulation; the
    # parity test pins both to the identical relation.
    "dup_select": (
        "SELECT e.*, 1 AS i FROM exploded e "
        "UNION ALL SELECT e.*, 2 AS i FROM exploded e WHERE dup_sel = 0"
    ),
}


def cert_domains_spark_sql() -> str:
    """The construction as Spark SQL (expects an ``orders`` view registered)."""
    return _TEMPLATE.format(**_SPARK_FRAGMENTS)


def cert_domains_duckdb_sql() -> str:
    """The identical construction as DuckDB SQL, for oracle CTE inlining."""
    return _TEMPLATE.format(**_DUCKDB_FRAGMENTS)


def oracle_with_cert_domains(select_sql: str) -> str:
    """Wrap an oracle SELECT with the cert_domains CTE (DuckDB dialect)."""
    return f"WITH cert_domains AS (\n{cert_domains_duckdb_sql()}\n)\n{select_sql}"


def build_cert_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the cert_domains DataFrame and register it as a temp view.
    The lineage is cached per (session, orders table state) so repeated
    queries skip re-parsing the construction SQL; views are re-registered
    each call so spark.sql always resolves."""

    def build() -> DataFrame:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
        # .cache(): the reference stores cert_domains as a physical table
        # (init.sql) — in-memory columnar caching is the engine's analog,
        # so the per-query cost is a cached-relation scan, not a rebuild
        # of the sha2+explode construction (~500k rows at sf0.1, ~150 MB).
        #
        # Cache width: NATURAL scan width, deliberately NOT widened (r15
        # measured both ways, interleaved in one session). The fixture
        # scan is one row group -> the cached relation is one ~472k-row
        # block at sf0.1, which puts each consumer's partial-aggregation
        # phase on one core — but widening it costs more than it buys:
        # ref-family suite (8 slots, mostly small scans) 5.5 s at width 1
        # vs 5.9 s at width 8 vs 8.1 s at width 32 (per-stage task
        # scheduling on tiny data), while the one aggregation-heavy
        # consumer (dedup exact distinct) improved only 1.70 -> 1.27 s at
        # width 8. On a real cluster the construction scan has its own
        # split parallelism, so this is purely a small-fixture trade.
        return spark.sql(cert_domains_spark_sql()).cache()

    df = artifacts.get_or_build(
        spark, "cert_domains", (sf_dir,), build,
        reads=(table_path(sf_dir, "orders"),), release=artifacts.unpersist,
    )
    df.createOrReplaceTempView("cert_domains")
    return df


def write_cert_domains(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Materialize with the reference's physical layout, Spark-style.

    MergeTree's ``PARTITION BY toYYYYMM(ts)`` (init.sql:17) becomes Hive-style
    month partitions (partition pruning by Catalyst); its sparse primary index
    ``ORDER BY (base_domain, domain, fingerprint)`` (init.sql:18) becomes
    sort-within-partitions before the Parquet write, so row-group min/max
    stats give equivalent data skipping on base_domain/domain predicates.
    At 100 TB, month partitions also bound compaction and retention units.
    """
    from pyspark.sql import functions as F

    df = build_cert_domains(spark, sf_dir)
    (
        df.withColumn("month", F.date_format("ts", "yyyyMM"))
        .repartition("month")
        .sortWithinPartitions("base_domain", "domain", "fingerprint")
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(out_path)
    )
