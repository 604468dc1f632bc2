"""Bundling — inline external `$ref` targets into `$defs`.

The `jsonschema bundle` analogue (/root/reference/src/command_bundle.cc,
vendor/blaze bundle): given a schema whose `$ref`s point at other schemas
in a resolver registry, produce a single closed document — every external
target copied under `$defs/<slug>` and the refs rewritten to local
pointers. The compiler can then run without any resolver (the reference's
`bundle_for_evaluation` step, SURVEY.md §3.1 step 4).
"""

from __future__ import annotations

import copy
import re
from typing import Union

from jsonschema_spark.plans.upgrade import _rewrite_refs, _walk_schema


def _slug(uri: str, taken: set) -> str:
    base = re.sub(r"[^A-Za-z0-9_.-]+", "-", uri.split("://")[-1]).strip("-") or "schema"
    name, i = base, 1
    while name in taken:
        i += 1
        name = f"{base}-{i}"
    return name


def _external_refs(doc) -> set:
    out: set = set()

    def fn(node):
        ref = node.get("$ref")
        if isinstance(ref, str) and not ref.startswith("#"):
            out.add(ref.partition("#")[0])

    _walk_schema(doc, fn)
    return out


def _rewrite(doc, mapping: dict[str, str]) -> None:
    def fn(node):
        ref = node.get("$ref")
        if isinstance(ref, str) and not ref.startswith("#"):
            uri, _, frag = ref.partition("#")
            if uri in mapping:
                node["$ref"] = f"#/$defs/{mapping[uri]}{frag}"

    _walk_schema(doc, fn)


def bundle(schema: Union[dict, bool], resolver: dict) -> Union[dict, bool]:
    """Inline every reachable external `$ref` target into `$defs` and
    rewrite references to same-document pointers. Transitive: inlined
    documents' own external refs are resolved too. Unknown URIs raise."""
    if not isinstance(schema, dict):
        return schema
    out = copy.deepcopy(schema)
    mapping: dict[str, str] = {}
    taken = set((out.get("$defs") or {}).keys())
    frontier_docs = [out]
    while frontier_docs:
        doc = frontier_docs.pop()
        for uri in sorted(_external_refs(doc)):
            if uri in mapping:
                continue
            if uri not in resolver:
                raise KeyError(f"$ref target not in resolver registry: {uri}")
            slug = _slug(uri, taken)
            taken.add(slug)
            mapping[uri] = slug
            inlined = copy.deepcopy(resolver[uri])
            if isinstance(inlined, dict):
                inlined.pop("$schema", None)
                # the inlined document's own pointer refs (``#/...`` or
                # bare ``#``) now resolve inside its new home under
                # $defs/<slug>. Plain-name ``#anchor`` refs stay as they
                # are: anchors resolve document-wide, and prefixing would
                # forge a broken pointer like ``#/$defs/<slug>name``.
                _rewrite_refs(inlined, {"#": f"#/$defs/{slug}"})
            out.setdefault("$defs", {})[slug] = inlined
            frontier_docs.append(inlined)
    _rewrite(out, mapping)
    return out
