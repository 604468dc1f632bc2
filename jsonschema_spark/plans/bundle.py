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

from jsonschema_spark.plans.frame import Frame, SchemaError, locate, root_base, walk
from jsonschema_spark.plans.upgrade import _rewrite_refs


def _slug(uri: str, taken: set) -> str:
    base = re.sub(r"[^A-Za-z0-9_.-]+", "-", uri.split("://")[-1]).strip("-") or "schema"
    name, i = base, 1
    while name in taken:
        i += 1
        name = f"{base}-{i}"
    return name


def _root_uri(root: dict) -> str:
    uri = root_base(root)
    if not uri:
        raise SchemaError("bundle: an embedded resource refers outside the document, "
                          "so the root needs an `$id`")
    return uri


def bundle(schema: Union[dict, bool], resolver: dict) -> Union[dict, bool]:
    """Inline every reachable external `$ref` target into `$defs` and
    rewrite references to same-document pointers. A reference resolves
    against the base URI of the resource that holds it (plans/frame.py);
    one that lands in the document itself or in an embedded `$id`
    resource stays as it is. Transitive: inlined documents' own external
    refs are resolved too, against their own URI. Unknown URIs raise."""
    if not isinstance(schema, dict):
        return schema
    out = copy.deepcopy(schema)
    local = Frame(out, root_base(out))
    frame = Frame(out, root_base(out), resolver)
    mapping: dict[str, str] = {}
    taken = set((out.get("$defs") or {}).keys())
    pending = [(out, root_base(out))]
    while pending:
        doc, base = pending.pop()
        refs = [(node, node_base, resource) for _, node, node_base, resource in walk(doc, base)
                if isinstance(node.get("$ref"), str) and not node["$ref"].startswith("#")]
        for node, node_base, resource in refs:
            uri, frag = locate(node["$ref"], node_base)
            if local.resource(uri) is not None:
                continue
            if uri not in mapping:
                target = frame.resource(uri)
                if target is None:
                    raise KeyError(f"$ref target not in resolver registry: {uri}")
                slug = _slug(uri, taken)
                taken.add(slug)
                mapping[uri] = slug
                inlined = copy.deepcopy(target)
                if isinstance(inlined, dict):
                    # it joins the bundle's resource: its pointer refs now
                    # resolve under $defs/<slug>, its anchors in the bundle
                    inlined.pop("$schema", None)
                    inlined.pop("$id", None)
                    _rewrite_refs(inlined, {"#": f"#/$defs/{slug}"})
                out.setdefault("$defs", {})[slug] = inlined
                pending.append((inlined, uri))
            pointer = not frag or frag.startswith("/")
            # inside an embedded `$id` resource `#` is that resource: name
            # the root by its URI to reach the root's $defs
            at = "" if resource is doc else _root_uri(out)
            node["$ref"] = f"{at}#/$defs/{mapping[uri]}{frag}" if pointer else f"{at}#{frag}"
    return out
