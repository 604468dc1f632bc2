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
from urllib.parse import urldefrag

from jsonschema_spark.plans.frame import Frame, locate, root_base, walk


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


def resolve_remote_refs(
    schema,
    resolver: Optional[dict] = None,
    fetch: Optional[Callable[[str], str]] = None,
    timeout: float = 10.0,
    max_fetches: int = 64,
) -> dict:
    """Transitively fetch every external ``$ref`` target that is neither
    in ``resolver`` nor a resource of the schema (an embedded `$id`), as
    plans/frame.py resolves it; returns the completed registry (input
    unmodified)."""
    registry = dict(resolver or {})
    frame = Frame(schema, root_base(schema), registry)
    pending = [(schema, root_base(schema))]
    fetched = 0
    while pending:
        doc, base = pending.pop()
        for _, node, node_base, _ in walk(doc, base):
            ref = node.get("$ref")
            if not isinstance(ref, str) or ref.startswith("#"):
                continue
            uri = locate(ref, node_base)[0]
            if frame.resource(uri) is not None:
                continue
            if fetched >= max_fetches:
                raise ValueError(f"remote $ref fetch budget ({max_fetches}) exhausted at {uri}")
            text = fetch(uri) if fetch else _default_fetch(uri, timeout)
            registry[uri] = json.loads(text)
            fetched += 1
            frame.add(registry[uri], uri)
            pending.append((registry[uri], uri))
    return registry
