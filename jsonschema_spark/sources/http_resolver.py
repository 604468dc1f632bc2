"""Remote HTTP `$ref` resolution — the `--http` analogue.

The reference resolves absolute `$ref` URIs over HTTP when invoked with
`--http`/`-H` (/root/reference/src/resolver.h, docs mention the flag on
every command), caching fetched documents for the run. Same shape here:
``http_resolver`` eagerly fetches a set of schema URIs into the plain
uri → schema dict that ``compile_schema(resolver=...)`` consumes, and
``resolve_remote_refs`` walks a schema, collects absolute ``$ref``
targets, and fetches any not already registered (transitively — a
fetched schema's own external refs are followed, with a fetch budget).

Driver-side and eager BY DESIGN: schema documents are tiny and compile
happens once on the driver; executors never perform network I/O (at
100 TB scale, per-task HTTP fetches would be a reliability hazard —
the compiled plan closes over the resolved registry instead).

``fetch`` is injectable for tests/air-gapped runs; the default uses
stdlib urllib with a timeout.
"""

from __future__ import annotations

import json
from typing import Callable, Optional
from urllib.parse import urljoin, urldefrag

from jsonschema_spark.plans.upgrade import subschemas


def _default_fetch(uri: str, timeout: float) -> str:
    from urllib.request import Request, urlopen

    req = Request(uri, headers={"Accept": "application/schema+json, application/json"})
    with urlopen(req, timeout=timeout) as resp:  # nosec: schema fetch is the feature
        return resp.read().decode("utf-8")


def http_resolver(
    uris,
    fetch: Optional[Callable[[str], str]] = None,
    timeout: float = 10.0,
) -> dict:
    """Fetch each URI; returns the uri → parsed-schema registry."""
    out = {}
    for uri in uris:
        base = urldefrag(uri)[0]  # fragments are resolved locally, not fetched
        text = fetch(base) if fetch else _default_fetch(base, timeout)
        out[base] = json.loads(text)
    return out


def _external_refs(schema, base: str, out: set) -> None:
    """Absolute URIs of every external $ref at schema positions."""
    if not isinstance(schema, dict):
        return
    sid = schema.get("$id")
    if isinstance(sid, str):
        base = urljoin(base or "", sid)
    ref = schema.get("$ref")
    if isinstance(ref, str) and not ref.startswith("#"):
        out.add(urldefrag(urljoin(base or "", ref))[0])
    for _, sub in subschemas(schema):
        _external_refs(sub, base, out)


def resolve_remote_refs(
    schema,
    resolver: Optional[dict] = None,
    fetch: Optional[Callable[[str], str]] = None,
    timeout: float = 10.0,
    max_fetches: int = 64,
) -> dict:
    """Transitively fetch every external ``$ref`` target not already in
    ``resolver``; returns the completed registry (input unmodified)."""
    registry = dict(resolver or {})
    frontier: set = set()
    _external_refs(schema, "", frontier)
    fetched = 0
    while frontier:
        uri = frontier.pop()
        if uri in registry:
            continue
        if fetched >= max_fetches:
            raise ValueError(f"remote $ref fetch budget ({max_fetches}) exhausted at {uri}")
        text = fetch(uri) if fetch else _default_fetch(uri, timeout)
        doc = json.loads(text)
        registry[uri] = doc
        fetched += 1
        _external_refs(doc, uri, frontier)
    return registry
