"""HTTP surface parity: POST /query validation, envelopes, budgets
(reference ``app_server.py:75-93,202-332``), offline via Flask test client."""

from __future__ import annotations

import pytest

from nlp_to_nosql_spark.api import Engine
from nlp_to_nosql_spark.server import create_app
from nlp_to_nosql_spark.sources.catalog import register_tables
from nlp_to_nosql_spark.timeout import QueryTimeoutError

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    register_tables(spark, SF_DIR)
    return Engine(spark)


@pytest.fixture(scope="module")
def client(engine):
    app = create_app(engine)
    app.config["TESTING"] = True
    return app.test_client()


def test_show_progress_toggles_stage_logging(client, caplog):
    """show_progress=true must emit per-stage progress log lines (the
    reference's semantics, app_server.py:81-82) and stay silent when
    false."""
    import logging

    with caplog.at_level(logging.INFO, logger="nlp_to_nosql_spark.server"):
        r = client.post(
            "/query",
            json={"input": "find all employees", "collection": "customer",
                  "show_progress": True},
        )
        assert r.status_code == 200
        msgs = [rec.getMessage() for rec in caplog.records]
        assert any("Processing query" in m for m in msgs)
        assert any("Query generation completed" in m for m in msgs)
        assert any("Database query completed" in m for m in msgs)

        caplog.clear()
        r = client.post("/query", json={"input": "find all employees",
                                        "collection": "customer"})
        assert r.status_code == 200
        assert not caplog.records


def test_root_and_health(client):
    root = client.get("/").get_json()
    assert root["status"] == "ok"
    assert root["timeout_info"]["max_timeout"] == 60
    health = client.get("/health").get_json()
    assert health["status"] == "healthy"
    assert health["spark_connected"] and health["compiler_connected"]


def test_health_launches_no_spark_job(client, spark):
    """GET /health is a liveness probe, not a query: it must not
    dispatch a Spark job."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    assert client.get("/health").get_json()["spark_connected"] is True
    assert dag.numTotalJobs() == before


def test_test_endpoint_round_trip(client):
    body = client.get("/test").get_json()
    assert body["status"] == "ok"
    assert body["generated_mongo"] == {"filter": {}, "projection": {}}


def test_query_happy_path_envelope(client):
    r = client.post(
        "/query",
        json={"input": "Find all employees", "collection": "customer", "limit": 5},
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["ok"] is True
    assert body["result_count"] == 5
    assert body["total_matching"] == 150
    assert body["count_exact"] is True
    assert body["mongo_query"] == {"filter": {}, "projection": {}}
    assert len(body["results"]) == 5
    assert body["timeout_used"] == 30  # default
    for key in ("execution_time", "query_generation_time", "db_execution_time"):
        assert isinstance(body[key], float)


@pytest.mark.parametrize(
    "payload",
    [
        {},  # missing input
        {"input": ""},  # min_length=1
        {"input": "x", "limit": 0},  # ge=1
        {"input": "x", "limit": 1001},  # le=1000
        {"input": "x", "timeout": 4},  # ge=5
        {"input": "x", "timeout": 61},  # le=60
    ],
)
def test_query_validation_422(client, payload):
    r = client.post("/query", json=payload)
    assert r.status_code == 422
    assert "detail" in r.get_json()  # FastAPI RequestValidationError shape


def test_query_unknown_table_is_client_error(client):
    r = client.post("/query", json={"input": "Find all employees",
                                    "collection": "no_such_table"})
    body = r.get_json()
    assert r.status_code in (400, 500)
    assert body["ok"] is False
    assert body["status_code"] == r.status_code


def test_timeout_maps_to_408_envelope(engine, monkeypatch):
    def boom(*a, **k):
        raise QueryTimeoutError("database query timed out after 2.0 seconds")

    monkeypatch.setattr(engine, "query", boom)
    app = create_app(engine)
    app.config["TESTING"] = True
    r = app.test_client().post("/query", json={"input": "Find all employees"})
    assert r.status_code == 408
    body = r.get_json()
    assert body["ok"] is False
    assert body["error_type"] == "TIMEOUT_ERROR"
    assert body["status_code"] == 408
    assert "suggestion" in body


def test_internal_error_maps_to_500_envelope(engine, monkeypatch):
    def boom(*a, **k):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(engine, "query", boom)
    app = create_app(engine)
    app.config["TESTING"] = True
    r = app.test_client().post("/query", json={"input": "Find all employees"})
    assert r.status_code == 500
    body = r.get_json()
    assert body["ok"] is False
    assert body["error_type"] == "INTERNAL_ERROR"


def test_budget_split_is_the_reference_arithmetic():
    """70 % cap / 5 s headroom / 25 s ceiling for compile; remainder minus
    1 s with a 2 s floor for the DB stage (app_server.py:218-232)."""
    from nlp_to_nosql_spark.timeout import budget_split

    gen, db = budget_split(30.0)
    assert gen == 21.0  # min(30-5, 25) capped at 0.7*30
    assert db == 8.0  # 30 - 21 - 1
    gen, db = budget_split(5.0)
    assert gen == 0.0  # min(0, 25) → 0 at the 5 s floor request
    assert db == 4.0
    gen, db = budget_split(60.0)
    assert gen == 25.0  # 25 s ceiling
    assert db == 34.0


def test_explicit_json_nulls_fall_back_to_defaults(client):
    """Optional fields sent as explicit nulls must behave like omitted
    fields (defaults), not crash into a 500."""
    r = client.post(
        "/query",
        json={"input": "Find all employees", "collection": "customer",
              "limit": None, "timeout": None},
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["ok"] is True
    assert body["result_count"] == 50  # default limit
    assert body["timeout_used"] == 30  # default timeout


def test_unknown_table_is_400_analysis_exception(client):
    r = client.post("/query", json={"input": "Find all employees",
                                    "collection": "definitely_not_a_table"})
    assert r.status_code == 400
    body = r.get_json()
    assert body["ok"] is False and body["error_type"] == "HTTP_ERROR"


def test_query_async_stub_parity(client):
    """POST /query/async mirrors the reference's not-implemented envelope
    (app_server.py:281-289) — a 200 with message+suggestion, never a 404."""
    r = client.post("/query/async", json={"input": "Find all employees"})
    assert r.status_code == 200
    body = r.get_json()
    assert body["message"] == "Async queries not implemented yet"
    assert "regular /query endpoint" in body["suggestion"]


def test_query_async_still_validates(client):
    """The stub validates the body like /query (the reference's pydantic
    model runs before the handler): bad payload → 422 detail list."""
    r = client.post("/query/async", json={"input": "", "limit": 0})
    assert r.status_code == 422
    assert isinstance(r.get_json()["detail"], list)


def test_ui_page_serves_reference_surface(client):
    """GET /ui returns the self-contained browser client (the reference's
    Streamlit surface, main.py:308-362): query form with the reference's
    validation ranges, metric tiles, generated-query pane, CSV download,
    history dashboard, and suggested queries — no external assets."""
    r = client.get("/ui")
    assert r.status_code == 200 and r.mimetype == "text/html"
    page = r.get_data(as_text=True)
    for marker in (
        "NLP to NoSQL Query Interface",
        'max="1000"',            # limit slider range
        'max="60"',              # timeout slider range
        "Execute Query",
        "Generated Query",
        "Download CSV",
        "Query History",
        "Success Rate",
        "Find employees earning more than 50000",  # suggested query
        'fetch("/query"',        # drives the real API, not a side door
        'fetch("/health")',
    ):
        assert marker in page, marker
    assert "http://" not in page and "https://" not in page  # offline


def test_cors_headers_on_every_response(client):
    """Permissive CORS parity with the reference middleware
    (app_server.py:64-70): allow-origin echoes the request Origin (the
    "*"-with-credentials behavior), credentials on, the reference's
    method list, and requested headers echoed on preflight."""
    r = client.get("/", headers={"Origin": "http://localhost:8501"})
    assert r.headers["Access-Control-Allow-Origin"] == "http://localhost:8501"
    assert r.headers["Access-Control-Allow-Credentials"] == "true"
    assert "POST" in r.headers["Access-Control-Allow-Methods"]
    assert r.headers["Vary"] == "Origin"

    # No Origin (curl, same-origin): wildcard, no Vary pollution.
    r2 = client.get("/health")
    assert r2.headers["Access-Control-Allow-Origin"] == "*"

    # Preflight: Flask auto-answers OPTIONS; the hook must still attach
    # the CORS headers and echo the requested headers back.
    r3 = client.options(
        "/query",
        headers={
            "Origin": "http://localhost:3000",
            "Access-Control-Request-Method": "POST",
            "Access-Control-Request-Headers": "content-type,x-auth",
        },
    )
    assert r3.status_code in (200, 204)
    assert r3.headers["Access-Control-Allow-Origin"] == "http://localhost:3000"
    assert r3.headers["Access-Control-Allow-Headers"] == "content-type,x-auth"

    # Error envelopes carry CORS too (a browser must be able to READ a
    # 422/408 body; without the headers it sees an opaque network error).
    r4 = client.post("/query", json={}, headers={"Origin": "http://a.example"})
    assert r4.status_code == 422
    assert r4.headers["Access-Control-Allow-Origin"] == "http://a.example"


def test_graceful_shutdown_handler_closes_engine():
    """Signal-handler parity with app_server.py:335-345: the installed
    handler calls Engine.close_connections (Spark session released,
    repeat-safe) and exits 0."""
    import signal

    from nlp_to_nosql_spark.server import install_signal_handlers

    class _FakeSpark:
        stopped = 0

        def stop(self):
            self.stopped += 1

    fake = _FakeSpark()
    eng = Engine.__new__(Engine)
    eng.spark = fake
    eng._tables = {"t": object()}

    prev_int = signal.getsignal(signal.SIGINT)
    prev_term = signal.getsignal(signal.SIGTERM)
    try:
        handler = install_signal_handlers(eng)
        assert signal.getsignal(signal.SIGINT) is handler
        assert signal.getsignal(signal.SIGTERM) is handler
        with pytest.raises(SystemExit) as exc:
            handler(signal.SIGTERM, None)
        assert exc.value.code == 0
    finally:
        signal.signal(signal.SIGINT, prev_int)
        signal.signal(signal.SIGTERM, prev_term)

    assert fake.stopped == 1
    assert eng.spark is None and eng._tables == {}
    # Idempotent like the reference's `if self._client` guard.
    eng.close_connections()
    assert fake.stopped == 1


def test_cors_origin_allowlist_and_vary_append(engine, monkeypatch):
    """NLP2NOSQL_CORS_ORIGINS narrows reflect-any-origin-with-credentials
    to an allowlist (round-6 advice): listed origins are reflected,
    unlisted ones get NO CORS headers; and the Vary hook APPENDS to an
    existing Vary instead of clobbering it."""
    monkeypatch.setenv(
        "NLP2NOSQL_CORS_ORIGINS", "http://ok.example, http://ok2.example"
    )
    app = create_app(engine)
    app.config["TESTING"] = True

    @app.get("/_vary_probe")
    def _vary_probe():
        from flask import make_response

        resp = make_response("x")
        resp.headers["Vary"] = "Accept-Encoding"
        return resp

    c = app.test_client()
    ok = c.get("/", headers={"Origin": "http://ok.example"})
    assert ok.headers["Access-Control-Allow-Origin"] == "http://ok.example"
    assert ok.headers["Access-Control-Allow-Credentials"] == "true"

    bad = c.get("/", headers={"Origin": "http://evil.example"})
    assert "Access-Control-Allow-Origin" not in bad.headers
    assert "Access-Control-Allow-Credentials" not in bad.headers

    # No Origin at all (curl): with an allowlist there is no wildcard.
    curl = c.get("/health")
    assert "Access-Control-Allow-Origin" not in curl.headers

    v = c.get("/_vary_probe", headers={"Origin": "http://ok.example"})
    assert set(p.strip() for p in v.headers["Vary"].split(",")) == {
        "Accept-Encoding",
        "Origin",
    }
