"""Serving layer: every endpoint driven through the Flask test client over
a real cert_domains Parquet table."""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def table_path(spark, tmp_path_factory):
    from ct_clickhouse_spark.cert_domains import write_cert_domains

    path = str(tmp_path_factory.mktemp("serve") / "cert_domains")
    write_cert_domains(spark, SF_DIR, path)
    return path


@pytest.fixture(scope="module")
def client(spark, table_path):
    from ct_clickhouse_spark.serving.app import create_app

    app = create_app(spark, table_path)
    app.config["TESTING"] = True
    return app.test_client()


def test_index_lists_endpoints(client):
    body = json.loads(client.get("/").data)
    urls = {e["url"] for e in body}
    assert {"/domain/<name>", "/subdomains/<base>", "/recent/<base>",
            "/tld/<tld>", "/stats", "/size", "/stream"} <= urls


def test_domain_lookup(client):
    rows = json.loads(client.get("/domain/www.cust1.net").data)
    assert 0 < len(rows) <= 100
    # every row is the requested domain (domain is the 2nd column)
    assert all(r[1] == "www.cust1.net" for r in rows)


def test_subdomains(client):
    rows = json.loads(client.get("/subdomains/cust1.net").data)
    domains = [r[0] for r in rows]
    assert domains == sorted(domains)
    assert "www.cust1.net" in domains


def test_recent_empty_for_historical_data(client):
    # fixture data is decades old; now()-1d lookback must be empty
    assert json.loads(client.get("/recent/cust1.net").data) == []


def test_tld_with_limit_clamp(client):
    rows = json.loads(client.get("/tld/rs?limit=7").data)
    assert len(rows) == 7
    assert all(r[0].endswith(".rs") for r in rows)
    rows = json.loads(client.get("/tld/rs?limit=notanint").data)
    assert len(rows) <= 100


def test_stats_invalid_date_is_400(client):
    resp = client.get("/stats?date=not-a-date")
    assert resp.status_code == 400
    assert "Invalid date" in resp.get_data(as_text=True)


def test_stats_with_date(client):
    body = json.loads(client.get("/stats?date=1995-06-15").data)
    assert set(body) == {"total", "subdomains", "domains", "first_seen",
                         "last_seen", "date"}
    assert body["date"] == "1995-06-15"


def test_size(client):
    body = json.loads(client.get("/size").data)
    assert body["bytes"] > 0
    assert body["human_readable"].endswith(("B", "KB", "MB", "GB"))


def test_stream_pages_without_skipping(client, spark, table_path):
    resp = client.get("/stream?poll=0&max_polls=3")
    frames = [
        json.loads(line[len("data: "):])
        for line in resp.data.decode().split("\n\n")
        if line.startswith("data: ")
    ]
    assert len(frames) == 300  # 3 polls x 100 rows each
    keys = [(f["ts"], f["fingerprint"], f["domain"]) for f in frames]
    assert keys == sorted(keys)
    # no skipping: the distinct keys emitted are exactly the smallest
    # distinct keys of the table in order (the reference's `ts > last`
    # tail CAN skip boundary rows — SURVEY §3.3 step 4; ours must not)
    emitted = sorted(set(keys))
    expected = [
        (r.ts.isoformat(sep=" "), r.fingerprint, r.domain)
        for r in spark.read.parquet(table_path)
        .select("ts", "fingerprint", "domain")
        .distinct()
        .orderBy("ts", "fingerprint", "domain")
        .limit(len(emitted))
        .collect()
    ]
    assert emitted == expected


@pytest.fixture(scope="module")
def sim_client(spark, table_path):
    from ct_clickhouse_spark.serving.app import create_app

    app = create_app(spark, table_path, embeddings_sf_dir=SF_DIR)
    app.config["TESTING"] = True
    return app.test_client()


def test_similar_routed_topk(sim_client):
    """Round-11: /similar/<vec_id> is ann_topk_auto's serving face."""
    rows = json.loads(sim_client.get("/similar/3?k=5").data)
    assert len(rows) == 5
    # (vec_id, label, cosine), descending cosine, never the query itself
    assert all(len(r) == 3 for r in rows)
    assert all(r[0] != 3 for r in rows)
    cosines = [r[2] for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_similar_k_clamped(sim_client):
    rows = json.loads(sim_client.get("/similar/3?k=99999").data)
    assert len(rows) <= 100


def test_similar_unknown_vec_is_404(sim_client):
    r = sim_client.get("/similar/999999999")
    assert r.status_code == 404


def test_similar_on_empty_embeddings_is_404(spark, table_path, tmp_path):
    """An empty embeddings table has no vector for any id: 404, not the
    router's sampling error as a 500."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ct_clickhouse_spark.serving.app import create_app

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    app = create_app(spark, table_path, embeddings_sf_dir=str(tmp_path))
    app.config["TESTING"] = True
    assert app.test_client().get("/similar/0").status_code == 404


def test_similar_unconfigured_is_404(client):
    r = client.get("/similar/3")
    assert r.status_code == 404


def test_relation_cache_serves_fresh_appends(spark, table_path, client):
    """Round-11: the staleness-checked relation cache must never serve a
    stale file listing — an append between two requests (the streaming
    ingest pattern) must be visible on the very next request."""
    import os

    from pyspark.sql import functions as F

    fresh = "fresh-append.example"
    assert json.loads(client.get(f"/domain/{fresh}").data) == []
    month_dir = next(
        d for d in os.listdir(table_path) if d.startswith("month=")
    )
    tmpl = (
        spark.read.parquet(table_path)
        .drop("month")
        .limit(1)
        .withColumn("domain", F.lit(fresh))
    )
    tmpl.write.mode("append").parquet(os.path.join(table_path, month_dir))
    rows = json.loads(client.get(f"/domain/{fresh}").data)
    assert len(rows) == 1 and rows[0][1] == fresh
