"""Web-API parity tests (pure function; transport is optional)."""

import yaml

from omop_etl_spark.api import translate_rule

RULE = """
name: person_copy
default_schema: cerner
primary_key:
  name: person_id
  sources:
    customer_pk:
      table: customer
      columns:
        c_custkey: bigint
columns:
  - name: full_name
    tables: [customer]
    expression: customer.c_name
"""


def test_translate_rule_script_and_warnings():
    out = translate_rule(
        yaml.safe_load(RULE), {"person_copy": {"full_name", "birth_year"}}
    )
    # the script is the COMPLETE executable artifact (reference
    # api.py returns table.get_script() — runnable SQL, not fragments)
    assert "CREATE TABLE mapping.person_copy" in out["script"]
    assert "CREATE TABLE omop.person_copy" in out["script"]
    assert "customer.c_name" in out["script"]
    # populated + pk columns never warn; missing required ones do
    assert out["warnings"] == [
        "required column 'birth_year' of 'person_copy' is not populated"
    ]


def test_translate_rule_no_required_no_warnings():
    out = translate_rule(yaml.safe_load(RULE))
    assert out["warnings"] == []


def test_translate_dependency_payload():
    out = translate_rule({"pre_init": [{"alias": "t", "query": "SELECT 1"}]})
    assert out["warnings"] == [] and "dependency" in out["script"]


def test_http_round_trip():
    """Serve the stdlib WSGI app on a real socket and exercise the
    reference request/response shape end-to-end (api.py:43-45)."""
    import json
    import threading
    import urllib.error
    import urllib.request
    from wsgiref.simple_server import WSGIServer, make_server

    from omop_etl_spark.api import create_wsgi_app

    class QuietServer(WSGIServer):
        def handle_error(self, request, client_address):  # pragma: no cover
            pass

    srv = make_server(
        "127.0.0.1", 0, create_wsgi_app(), server_class=QuietServer
    )
    port = srv.server_address[1]
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        body = json.dumps(yaml.safe_load(RULE)).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/translate",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            out = json.loads(resp.read())
        assert out == translate_rule(yaml.safe_load(RULE))
        assert "CREATE TABLE omop.person_copy" in out["script"]

        # invalid payload -> 400 with detail
        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/translate", data=b"[1, 2]"
        )
        try:
            urllib.request.urlopen(bad)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and "detail" in json.loads(e.read())

        # wrong path -> 404
        try:
            urllib.request.urlopen(
                urllib.request.Request(
                    f"http://127.0.0.1:{port}/nope", data=b"{}"
                )
            )
            raise AssertionError("expected HTTP 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()
        srv.server_close()


def test_fastapi_app_round_trip_when_available():
    import pytest

    pytest.importorskip("fastapi")
    from fastapi.testclient import TestClient

    from omop_etl_spark.api import create_app

    client = TestClient(create_app())
    resp = client.post("/api/translate", json=yaml.safe_load(RULE))
    assert resp.status_code == 200
    assert "CREATE TABLE omop.person_copy" in resp.json()["script"]


def test_cli_validate_and_engine_read_one_required_columns_csv(
    tmp_path, capsys, engine, spark
):
    """``cli validate``, the API and ``Engine.load_required_columns``
    read the CSV with one reader and judge it with one rule: the
    surrogate pk is populated by the skeleton phase, never missing."""
    from test_etl_fixtures import COPY_RULES, seed_cerner

    from omop_etl_spark.api import load_required_columns_csv
    from omop_etl_spark.cli import main
    from omop_etl_spark.rules.loader import load_rules_dir

    rules = tmp_path / "rules"
    rules.mkdir()
    (rules / "baz.yaml").write_text(COPY_RULES)  # pk id; populates alpha, beta
    required = tmp_path / "required.csv"
    required.write_text("table,column\nbaz,id\nBaz, gamma \n")

    assert main(["validate", "--rules", str(rules), "--required-columns", str(required)]) == 1
    out = capsys.readouterr().out
    assert "baz: WARNING missing required columns: ['gamma']" in out
    assert "'id'" not in out

    want = {"baz": {"id", "gamma"}}
    assert load_required_columns_csv(required) == want
    engine.load_required_columns(required)
    assert engine.required_columns == want
    seed_cerner(engine, spark)
    # the required filter drops rows with a NULL id (none) and skips
    # gamma, which the target table does not have
    out_df = engine.run(load_rules_dir(rules), apply_required_filter=True)["baz"]
    assert sorted(r.id for r in out_df.collect()) == [1, 2, 3]
