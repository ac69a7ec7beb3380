"""Confluent-style Schema Registry client (compile-time lookup).

The reference fetches the latest Avro schema for a subject from the registry
inside enrichJson (EnrichJsonBuilder.java:191-200: GET
``{url}/subjects/{subject}/versions/latest``).  Here every command looks its
schema up through ``avro_schema.bind_schema``, once, at pipeline-compile
time — the schema binds to the frame, not to each record (SURVEY.md §7.3.1)
— so the runtime plan carries no network dependency.

Tests/offline runs register schemas in ``OVERRIDES`` instead of hitting a
server, mirroring the reference's mock-based test strategy.
"""

from __future__ import annotations

import json
import urllib.request

# subject -> Avro schema JSON string; checked before any network call.
OVERRIDES: dict[str, str] = {}

# schema id -> Avro schema JSON string (wire-format decode path); checked
# before any network call, mirroring OVERRIDES.
ID_OVERRIDES: dict[int, str] = {}


class SchemaRegistryError(RuntimeError):
    pass


def fetch_latest_schema(url: str, subject: str, timeout: float = 10.0) -> str:
    """Avro schema JSON for the subject's latest version."""
    if subject in OVERRIDES:
        return OVERRIDES[subject]
    endpoint = f"{url.rstrip('/')}/subjects/{subject}/versions/latest"
    try:
        with urllib.request.urlopen(endpoint, timeout=timeout) as resp:  # noqa: S310
            payload = json.loads(resp.read())
    except Exception as e:
        raise SchemaRegistryError(f"failed to fetch schema for subject {subject!r} from {url}: {e}") from e
    schema = payload.get("schema")
    if not schema:
        raise SchemaRegistryError(f"registry response for {subject!r} has no 'schema' field: {payload}")
    return schema


def fetch_schema_by_id(url: str, schema_id: int, timeout: float = 10.0) -> str:
    """Avro schema JSON by registry id (GET /schemas/ids/{id}) — the lookup a
    wire-format consumer performs for the id embedded in each record."""
    if schema_id in ID_OVERRIDES:
        return ID_OVERRIDES[schema_id]
    endpoint = f"{url.rstrip('/')}/schemas/ids/{int(schema_id)}"
    try:
        with urllib.request.urlopen(endpoint, timeout=timeout) as resp:  # noqa: S310
            payload = json.loads(resp.read())
    except Exception as e:
        raise SchemaRegistryError(f"failed to fetch schema id {schema_id} from {url}: {e}") from e
    schema = payload.get("schema")
    if not schema:
        raise SchemaRegistryError(f"registry response for id {schema_id} has no 'schema' field: {payload}")
    return schema
