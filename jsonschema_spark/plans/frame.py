"""The schema frame: every resource and anchor of a document, and the one
place a reference resolves.

The reference frames a schema once before it compiles (SchemaFrame,
frame.h:38-60; SURVEY.md §3.1 step 5, §3.4). Here the compiler, ``bundle``,
``resolve_remote_refs``, lint and codegen resolve every `$ref` through
``Frame``; ``plans/pyeval.py``, the independent oracle, keeps its own.
A resource is the document, each registry document and each subschema
with an `$id` (``enter``); an anchor, `$anchor` or `$dynamicAnchor`,
belongs to the nearest resource around it. Only schema positions are
walked (``upgrade.subschemas``): an `$id` or `$anchor` in `const` or
`enum` is data.
"""

from __future__ import annotations

from typing import Iterator, Optional, Union
from urllib.parse import urldefrag, urljoin

from jsonschema_spark.plans.upgrade import subschemas

Schema = Union[dict, bool]


class SchemaError(ValueError):
    pass


def root_base(doc: Schema, base: str = "") -> str:
    """The base URI of a document: its own `$id`, else ``base``."""
    sid = doc.get("$id") if isinstance(doc, dict) else None
    return sid if isinstance(sid, str) else base


def enter(node: dict, resource: Schema, base: str) -> tuple[Schema, str]:
    """``(resource, base)`` that ``node``'s keywords resolve in, given the
    resource around it and that resource's base URI: ``node`` itself when
    it has an `$id` (and is not ``resource``'s root), based at its `$id`
    joined to ``base``."""
    sid = node.get("$id")
    if node is not resource and isinstance(sid, str):
        return node, urljoin(base or "", sid)
    return resource, base


def locate(ref: str, base: str) -> tuple[str, str]:
    """``(uri, fragment)`` of a reference made at ``base``: the absolute
    URI of its resource, without fragment, and the fragment."""
    return tuple(urldefrag(urljoin(base or "", ref)))


def walk(doc: Schema, base: str = "") -> Iterator[tuple[str, dict, str, dict]]:
    """``(pointer, node, base, resource)`` for each object schema in
    ``doc``, pre-order: ``base`` is the base URI of the resource that holds
    ``node``, ``resource`` that resource's root. ``doc`` is a resource
    based at ``base``; its own `$id` is not joined again."""
    def visit(node, ptr, base, resource):
        if not isinstance(node, dict):
            return
        resource, base = enter(node, resource, base)
        yield ptr, node, base, resource
        for suffix, sub in subschemas(node):
            yield from visit(sub, ptr + suffix, base, resource)

    yield from visit(doc, "", base, doc)


def _pointer(doc, pointer: str, ref: str):
    node = doc
    if pointer:
        for raw in pointer.lstrip("/").split("/"):
            token = raw.replace("~1", "/").replace("~0", "~")
            if isinstance(node, dict) and token in node:
                node = node[token]
            elif isinstance(node, list) and token.isdigit() and int(token) < len(node):
                node = node[int(token)]
            else:
                raise SchemaError(f"cannot resolve $ref {ref}")
    return node


class Frame:
    """The resources and anchors of a document and of each registry
    document (uri → schema); ``add`` frames one more document."""

    def __init__(self, root: Schema, base: str = "", resolver: Optional[dict] = None):
        self._resources: dict[str, Schema] = {}  # URI without fragment → resource
        self._anchors: dict[int, dict] = {}      # id(resource) → name → [node]
        self.add(root, base)
        for uri, doc in (resolver or {}).items():
            self.add(doc, uri)

    def add(self, doc: Schema, uri: str) -> None:
        """Frame ``doc`` as a resource at ``uri``, with the resources and
        anchors inside it. A URI keeps the first resource framed at it."""
        self._resources.setdefault(urldefrag(uri)[0], doc)
        if id(doc) in self._anchors:
            return
        for _, node, base, resource in walk(doc, uri):
            anchors = self._anchors.setdefault(id(resource), {})
            if node is resource:
                self._resources.setdefault(urldefrag(base)[0], node)
            for name in dict.fromkeys((node.get("$anchor"), node.get("$dynamicAnchor"))):
                if isinstance(name, str):
                    anchors.setdefault(name, []).append(node)

    def resource(self, uri: str) -> Optional[Schema]:
        """The resource at an absolute URI without fragment, or None."""
        return self._resources.get(uri)

    def anchors(self, resource: Schema, name: str, dynamic: bool = False) -> list:
        """The nodes of ``resource`` that declare anchor ``name``, in
        document order; with ``dynamic``, as a `$dynamicAnchor` only."""
        hits = self._anchors.get(id(resource), {}).get(name, [])
        return [n for n in hits if n.get("$dynamicAnchor") == name] if dynamic else hits

    def resolve(self, ref: str, base: str, resource: Schema) -> tuple:
        """``(target, resource, base)`` of a reference made inside
        ``resource``, based at ``base``: a same-document reference
        (``#...``) resolves in that resource, any other in the resource at
        ``ref`` joined to ``base``. The fragment is empty, a JSON Pointer or
        a plain name. Raises SchemaError when ``ref`` does not resolve."""
        if ref.startswith("#"):
            uri, frag = base, ref[1:]
        else:
            uri, frag = locate(ref, base)
            resource = self._resources.get(uri)
            if resource is None:
                raise SchemaError(f"external $ref not in resolver registry: {ref}")
        if not frag or frag.startswith("/"):
            return _pointer(resource, frag, ref), resource, uri
        hits = self.anchors(resource, frag)
        if not hits:
            raise SchemaError(f"cannot resolve $anchor reference {ref}")
        return hits[0], resource, uri
