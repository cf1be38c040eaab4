"""Web-API parity: rule JSON → compiled artifacts + warnings.

The reference exposes ``POST /api/translate`` (reference api.py:43-45):
the body deserializes straight into a table rule, the response is
``{script, warnings}`` where warnings flag required OMOP columns the
rule does not populate (api.py:19-40, driven by
schema/required_omop_columns.csv, schema.py:44-52).

The "script" is the COMPLETE executable Spark-SQL artifact for the
posted rule (:mod:`omop_etl_spark.compile` — drop/create mapping table,
column-phase select), matching the reference's ``table.get_script()``
response shape: text another system can run or archive.

Transport: :func:`translate_rule` is a pure function;
:func:`create_wsgi_app` serves it over HTTP with the stdlib only
(``wsgiref``-compatible, tested end-to-end in-environment);
:func:`create_app` is the FastAPI variant, import-gated because fastapi
is not a dependency of this repo (reference api.py:43-45 + Dockerfile
CMD uvicorn).
"""

from __future__ import annotations

import csv
import json
from pathlib import Path
from typing import Any, Mapping

from .rules.model import TableSpec, parse_spec

__all__ = [
    "translate_rule",
    "load_required_columns_csv",
    "missing_required_columns",
    "create_app",
    "create_wsgi_app",
]


def load_required_columns_csv(path: str | Path) -> dict[str, set[str]]:
    """(table → required columns) from the reference-format CSV
    (``table,column`` header; reference schema.py:44-52)."""
    required: dict[str, set[str]] = {}
    with open(path, newline="") as f:
        for row in csv.DictReader(f):
            required.setdefault(row["table"].strip().lower(), set()).add(
                row["column"].strip().lower()
            )
    return required


def missing_required_columns(
    spec: TableSpec, required_columns: Mapping[str, set[str]]
) -> list[str]:
    """Sorted required columns of ``spec``'s table that no enabled rule
    populates (reference api.py:19-40). The surrogate pk is always
    populated by the skeleton phase, so it is never missing."""
    populated = {c.lower() for c in spec.column_order}
    populated.add(spec.primary_key.name.lower())
    return sorted(required_columns.get(spec.name.lower(), set()) - populated)


def _render_script(spec) -> str:
    from .compile import compile_script

    return compile_script([spec])


def translate_rule(
    payload: Mapping[str, Any],
    required_columns: Mapping[str, set[str]] | None = None,
) -> dict[str, Any]:
    """Translate one table-rule mapping (already-parsed JSON/YAML) into
    ``{"script": str, "warnings": [str, ...]}``.

    Warning text mirrors the reference's check (api.py:19-40): one
    entry per required column of the target table that no enabled rule
    populates (the surrogate pk itself is always populated by the
    skeleton phase and never warned about).
    """
    spec = parse_spec(dict(payload))
    if not isinstance(spec, TableSpec):
        return {
            "script": "-- dependency file (scripts/temp tables only)\n"
            + _render_script(spec),
            "warnings": [],
        }
    warnings = [
        f"required column '{col}' of '{spec.name}' is not populated"
        for col in missing_required_columns(spec, required_columns or {})
    ]
    return {"script": _render_script(spec), "warnings": warnings}


def create_app(required_columns_csv: str | Path | None = None):
    """FastAPI app exposing ``POST /api/translate`` — import-gated:
    raises ImportError with guidance when fastapi is absent."""
    try:
        from fastapi import FastAPI
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "fastapi is not installed; use omop_etl_spark.api.translate_rule "
            "directly or install fastapi to serve it"
        ) from exc

    required = (
        load_required_columns_csv(required_columns_csv)
        if required_columns_csv
        else None
    )
    app = FastAPI(title="omop-etl-spark")

    @app.post("/api/translate")
    def translate(payload: dict) -> dict:  # pragma: no cover - thin wrapper
        return translate_rule(payload, required)

    return app


def create_wsgi_app(required_columns_csv: str | Path | None = None):
    """Dependency-free WSGI app serving ``POST /api/translate``.

    Mirrors the reference endpoint's request/response shape
    (reference api.py:43-45): JSON rule body in, ``{script, warnings}``
    out; 400 with ``{detail}`` on malformed/invalid payloads, 404/405
    elsewhere. Servable by any WSGI server (stdlib
    ``wsgiref.simple_server`` included) — so the HTTP layer is testable
    in-environment without fastapi."""
    required = (
        load_required_columns_csv(required_columns_csv)
        if required_columns_csv
        else None
    )

    def app(environ, start_response):
        def respond(status: str, body: dict):
            data = json.dumps(body).encode()
            start_response(
                status,
                [
                    ("Content-Type", "application/json"),
                    ("Content-Length", str(len(data))),
                ],
            )
            return [data]

        if environ.get("PATH_INFO") != "/api/translate":
            return respond("404 Not Found", {"detail": "not found"})
        if environ.get("REQUEST_METHOD") != "POST":
            return respond("405 Method Not Allowed", {"detail": "POST only"})
        try:
            length = int(environ.get("CONTENT_LENGTH") or 0)
            payload = json.loads(environ["wsgi.input"].read(length) or b"{}")
            if not isinstance(payload, dict):
                raise ValueError("body must be a JSON object")
            return respond("200 OK", translate_rule(payload, required))
        except Exception as exc:  # noqa: BLE001 - maps to HTTP 400
            return respond("400 Bad Request", {"detail": str(exc)})

    return app
