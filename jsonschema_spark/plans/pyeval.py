"""Driver-side reference evaluator — pure-Python 2020-12 instance checks.

The Spark engine compiles schemas into Column expressions and never needs
a row-at-a-time evaluator; but two reference features are *driver-side by
nature* and need one:

- `valid_default` / `valid_examples` lint rules
  (/root/reference/vendor/blaze/src/alterschema/linter/valid_default.h,
  valid_examples.h): each `default`/`examples` literal in the schema must
  itself satisfy the subschema it annotates — a per-keyword, compile-time
  check on the schema document, not on table rows.
- a third independent leg for the metamorphic suite (flat path ≡ tree
  path ≡ this evaluator), mirroring how the reference cross-checks its
  compiled evaluator against the official test suite.

Semantics mirror the Spark compiler (plans/compiler.py): 2020-12 keyword
set, format as an assertion over the SAME regex constants
(functions/formats.py:FormatSpec.py), deep equality via canonical JSON
(functions/canonical.py:canonical_dumps), annotation-tracking
`unevaluatedProperties`/`unevaluatedItems` (reference runtime marks,
vendor/blaze/src/evaluator/evaluator.h:217-276).

This is NOT a table-scale path — it runs on schema-embedded literals and
test fixtures only. Anything per-row stays in the compiled Column plan.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Any, Optional, Union
from urllib.parse import urldefrag, urljoin

from jsonschema_spark.functions.canonical import canonical_dumps
from jsonschema_spark.functions.formats import FORMATS

Schema = Union[dict, bool]

_MAX_DEPTH = 64


class EvalError(ValueError):
    """Unresolvable reference or runaway recursion at evaluation time."""


def _json_type(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    return "object"


def _type_ok(v: Any, t: str) -> bool:
    jt = _json_type(v)
    if t == "integer":
        return jt == "integer" or (jt == "number" and float(v).is_integer())
    if t == "number":
        return jt in ("integer", "number")
    return jt == t


def _is_num(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _multiple_of(v, m) -> bool:
    # exact decimal arithmetic — the reference's exact ladder
    # (vendor/core json_value.cc:801-857); Fraction(str(x)) avoids binary
    # float residue for decimal multipleOf like 0.01
    try:
        return (Fraction(str(v)) / Fraction(str(m))).denominator == 1
    except (ValueError, ZeroDivisionError):
        return False


# Keyword → shape of its value at a schema position: one schema, a list of
# schemas, or a map of name → schema. The evaluator's own table, kept
# apart from the compiler's so the two stay independent. Values under any
# other keyword (const, enum, default, examples, unknown keywords) are
# data: an `$id` or `$anchor` inside them identifies nothing.
_POSITIONS = {
    **dict.fromkeys(("items", "additionalItems", "contains", "additionalProperties",
                     "propertyNames", "not", "if", "then", "else",
                     "unevaluatedProperties", "unevaluatedItems"), "one"),
    **dict.fromkeys(("prefixItems", "allOf", "anyOf", "oneOf"), "list"),
    # draft-7 `dependencies` too; its property-name lists are not walked
    **dict.fromkeys(("properties", "patternProperties", "dependentSchemas",
                     "dependencies", "$defs", "definitions"), "map"),
}


def _children(node: dict):
    """The direct subschemas of ``node`` (legacy array ``items`` too)."""
    for key, shape in _POSITIONS.items():
        if key not in node:
            continue
        val = node[key]
        if shape == "map":
            if isinstance(val, dict):
                yield from val.values()
        elif isinstance(val, list):
            yield from val
        else:
            yield val


def _collect_resources(doc: Schema, base: str, anchors: dict, ids: dict,
                       dyn_anchors: dict) -> None:
    """Register every embedded $id resource, $anchor and $dynamicAnchor —
    keyed per-resource, so dynamic-scope search is boundary-aware
    (compiler analogue: embedded-resource auto-registration)."""
    def walk(node, cur_base):
        if not isinstance(node, dict):
            return
        nid = node.get("$id")
        if isinstance(nid, str):
            cur_base = urljoin(cur_base, nid)
            ids[urldefrag(cur_base)[0]] = node
        anc = node.get("$anchor")
        if isinstance(anc, str):
            anchors[(urldefrag(cur_base)[0], anc)] = node
        dyn = node.get("$dynamicAnchor")
        if isinstance(dyn, str):
            anchors.setdefault((urldefrag(cur_base)[0], dyn), node)
            dyn_anchors[(urldefrag(cur_base)[0], dyn)] = node
        for child in _children(node):
            walk(child, cur_base)

    walk(doc, base)


def _pointer(doc: Any, ptr: str) -> Any:
    cur = doc
    for raw in ptr.split("/")[1:]:
        tok = raw.replace("~1", "/").replace("~0", "~")
        try:
            if isinstance(cur, list):
                cur = cur[int(tok)]
            elif isinstance(cur, dict):
                cur = cur[tok]
            else:
                raise EvalError(f"cannot resolve pointer {ptr!r}")
        except (KeyError, IndexError, ValueError):
            # dangling pointer (missing key, bad index) must surface as
            # EvalError so callers (lint valid_default, invalid_external_ref)
            # report instead of crash
            raise EvalError(f"cannot resolve pointer {ptr!r}")
    return cur


class _Scope:
    """Resolution state: root documents keyed by URI, anchor registry."""

    def __init__(self, root: Schema, base: str, resolver: Optional[dict]):
        self.ids: dict[str, Schema] = {base: root}
        self.anchors: dict[tuple, Schema] = {}
        self.dyn_anchors: dict[tuple, Schema] = {}
        self.roots: dict[str, Schema] = {base: root}
        _collect_resources(root, base, self.anchors, self.ids, self.dyn_anchors)
        for uri, doc in (resolver or {}).items():
            u = urldefrag(uri)[0]
            self.ids.setdefault(u, doc)
            self.roots[u] = doc
            _collect_resources(doc, u, self.anchors, self.ids, self.dyn_anchors)

    def resolve(self, ref: str, base: str) -> tuple[Schema, str]:
        if ref.startswith("#"):  # same-document: robust to opaque base URIs
            uri, frag = urldefrag(base)[0], ref[1:]
        else:
            uri, frag = urldefrag(urljoin(base, ref))
        if frag.startswith("/"):
            doc = self.ids.get(uri)
            if doc is None:
                raise EvalError(f"cannot resolve $ref base {uri!r}")
            return _pointer(doc, frag), uri
        if frag:
            node = self.anchors.get((uri, frag))
            if node is None:
                raise EvalError(f"cannot resolve anchor {ref!r}")
            return node, uri
        doc = self.ids.get(uri)
        if doc is None:
            raise EvalError(f"cannot resolve $ref {ref!r}")
        return doc, uri


def _eval(schema: Schema, inst: Any, scope: _Scope, base: str, depth: int,
          fmt_assert: bool, chain: tuple = ()) -> tuple[bool, set, set]:
    """Returns (valid, evaluated_property_names, evaluated_item_indices)
    for THIS instance location (annotation semantics: only successful
    subschemas contribute). ``chain`` = dynamic scope: URIs of the
    resources entered along this evaluation path, outermost first —
    $dynamicRef/$recursiveRef resolve against it (2020-12 core §8.2.3.2),
    matching the compiler's Config.dynamic_scope."""
    if schema is True or schema == {}:
        return True, set(), set()
    if schema is False:
        return False, set(), set()
    if not isinstance(schema, dict):
        raise EvalError(f"not a schema: {schema!r}")
    if depth > _MAX_DEPTH:
        raise EvalError("evaluation recursion depth exceeded")

    if "$id" in schema and isinstance(schema["$id"], str):
        new_base = urldefrag(urljoin(base, schema["$id"]))[0]
        if new_base != base:
            base = new_base
            if base not in chain:
                chain = chain + (base,)
    if not chain:
        chain = (urldefrag(base)[0],)

    ok = True
    keys: set = set()
    idxs: set = set()

    def sub(s, v):
        return _eval(s, v, scope, base, depth + 1, fmt_assert, chain)

    def merge(r):
        nonlocal keys, idxs
        keys |= r[1]
        idxs |= r[2]

    cur_uri = urldefrag(base)[0]

    # --- reference keywords -------------------------------------------------
    if isinstance(schema.get("$ref"), str):
        target, tbase = scope.resolve(schema["$ref"], base)
        tchain = chain if urldefrag(tbase)[0] in chain else chain + (urldefrag(tbase)[0],)
        r = _eval(target, inst, scope, tbase, depth + 1, fmt_assert, tchain)
        ok &= r[0]
        if r[0]:
            merge(r)
    if isinstance(schema.get("$dynamicRef"), str):
        ref = schema["$dynamicRef"]
        target, tbase = scope.resolve(ref, base)
        name = urldefrag(urljoin(base, ref))[1]
        if name and scope.dyn_anchors.get((cur_uri, name)) is not None and (
            isinstance(target, dict) and target.get("$dynamicAnchor") == name
        ):
            # outermost resource in the dynamic scope wins
            for uri in chain:
                hit = scope.dyn_anchors.get((uri, name))
                if hit is not None:
                    target, tbase = hit, uri
                    break
        tchain = chain if urldefrag(tbase)[0] in chain else chain + (urldefrag(tbase)[0],)
        r = _eval(target, inst, scope, tbase, depth + 1, fmt_assert, tchain)
        ok &= r[0]
        if r[0]:
            merge(r)
    if isinstance(schema.get("$recursiveRef"), str):
        cur_root = scope.ids.get(cur_uri, schema)
        target, tbase = cur_root, base
        if isinstance(cur_root, dict) and cur_root.get("$recursiveAnchor") is True:
            for uri in chain:  # outermost $recursiveAnchor: true wins
                r_doc = scope.ids.get(uri)
                if isinstance(r_doc, dict) and r_doc.get("$recursiveAnchor") is True:
                    target, tbase = r_doc, uri
                    break
        r = _eval(target, inst, scope, tbase, depth + 1, fmt_assert, chain)
        ok &= r[0]
        if r[0]:
            merge(r)

    # --- type / const / enum ------------------------------------------------
    t = schema.get("type")
    if isinstance(t, str):
        ok &= _type_ok(inst, t)
    elif isinstance(t, list):
        ok &= any(_type_ok(inst, x) for x in t)
    if "const" in schema:
        ok &= canonical_dumps(inst) == canonical_dumps(schema["const"])
    if isinstance(schema.get("enum"), list):
        ci = canonical_dumps(inst)
        ok &= any(ci == canonical_dumps(e) for e in schema["enum"])

    # --- numbers ------------------------------------------------------------
    if _is_num(inst):
        if _is_num(schema.get("minimum")):
            ok &= inst >= schema["minimum"]
        if _is_num(schema.get("maximum")):
            ok &= inst <= schema["maximum"]
        if _is_num(schema.get("exclusiveMinimum")):
            ok &= inst > schema["exclusiveMinimum"]
        if _is_num(schema.get("exclusiveMaximum")):
            ok &= inst < schema["exclusiveMaximum"]
        if _is_num(schema.get("multipleOf")):
            ok &= _multiple_of(inst, schema["multipleOf"])

    # --- strings ------------------------------------------------------------
    if isinstance(inst, str):
        if isinstance(schema.get("minLength"), int):
            ok &= len(inst) >= schema["minLength"]
        if isinstance(schema.get("maxLength"), int):
            ok &= len(inst) <= schema["maxLength"]
        if isinstance(schema.get("pattern"), str):
            from jsonschema_spark.functions.strings import permissive_search_py

            # permissive-PCRE2 dialect, same as every engine route
            ok &= bool(permissive_search_py(schema["pattern"], inst))
        fmt = schema.get("format")
        if fmt_assert and isinstance(fmt, str) and fmt in FORMATS:
            ok &= FORMATS[fmt].py(inst)

    # --- arrays -------------------------------------------------------------
    if isinstance(inst, list):
        if isinstance(schema.get("minItems"), int):
            ok &= len(inst) >= schema["minItems"]
        if isinstance(schema.get("maxItems"), int):
            ok &= len(inst) <= schema["maxItems"]
        if schema.get("uniqueItems") is True:
            canon = [canonical_dumps(e) for e in inst]
            ok &= len(set(canon)) == len(canon)
        prefix = schema.get("prefixItems")
        items = schema.get("items")
        if isinstance(items, list):  # legacy tuple form
            prefix, items = items, schema.get("additionalItems")
        k = 0
        if isinstance(prefix, list):
            k = min(len(prefix), len(inst))
            for i in range(k):
                r = sub(prefix[i], inst[i])
                ok &= r[0]
                if r[0]:
                    idxs.add(i)
        if items is not None and not isinstance(items, list):
            tail_ok = True
            for i in range(k, len(inst)):
                r = sub(items, inst[i])
                tail_ok &= r[0]
            ok &= tail_ok
            if tail_ok:
                idxs |= set(range(k, len(inst)))
        if "contains" in schema:
            hits = [i for i, e in enumerate(inst) if sub(schema["contains"], e)[0]]
            lo = schema.get("minContains", 1)
            hi = schema.get("maxContains")
            c_ok = len(hits) >= lo and (hi is None or len(hits) <= hi)
            ok &= c_ok
            if c_ok:
                idxs |= set(hits)

    # --- objects ------------------------------------------------------------
    if isinstance(inst, dict):
        if isinstance(schema.get("minProperties"), int):
            ok &= len(inst) >= schema["minProperties"]
        if isinstance(schema.get("maxProperties"), int):
            ok &= len(inst) <= schema["maxProperties"]
        if isinstance(schema.get("required"), list):
            ok &= all(r in inst for r in schema["required"])
        if isinstance(schema.get("dependentRequired"), dict):
            for trig, reqs in schema["dependentRequired"].items():
                if trig in inst:
                    ok &= all(r in inst for r in reqs)
        props = schema.get("properties") or {}
        pats = schema.get("patternProperties") or {}
        for name, v in inst.items():
            matched = False
            if name in props:
                matched = True
                r = sub(props[name], v)
                ok &= r[0]
                if r[0]:
                    keys.add(name)
            for p, ps in pats.items():
                from jsonschema_spark.functions.strings import permissive_search_py

                hit = bool(permissive_search_py(p, name))
                if hit:
                    matched = True
                    r = sub(ps, v)
                    ok &= r[0]
                    if r[0]:
                        keys.add(name)
            if not matched and "additionalProperties" in schema:
                r = sub(schema["additionalProperties"], v)
                ok &= r[0]
                if r[0]:
                    keys.add(name)
        if "propertyNames" in schema:
            for name in inst:
                ok &= sub(schema["propertyNames"], name)[0]
        if isinstance(schema.get("dependentSchemas"), dict):
            for trig, ds in schema["dependentSchemas"].items():
                if trig in inst:
                    r = sub(ds, inst)
                    ok &= r[0]
                    if r[0]:
                        merge(r)

    # --- combinators --------------------------------------------------------
    if isinstance(schema.get("allOf"), list):
        for s in schema["allOf"]:
            r = sub(s, inst)
            ok &= r[0]
            if r[0]:
                merge(r)
    if isinstance(schema.get("anyOf"), list):
        results = [sub(s, inst) for s in schema["anyOf"]]
        ok &= any(r[0] for r in results)
        for r in results:
            if r[0]:
                merge(r)
    if isinstance(schema.get("oneOf"), list):
        results = [sub(s, inst) for s in schema["oneOf"]]
        ok &= sum(1 for r in results if r[0]) == 1
        for r in results:
            if r[0]:
                merge(r)
    if "not" in schema:
        ok &= not sub(schema["not"], inst)[0]
    if "if" in schema:
        cond = sub(schema["if"], inst)
        if cond[0]:
            merge(cond)
            if "then" in schema:
                r = sub(schema["then"], inst)
                ok &= r[0]
                if r[0]:
                    merge(r)
        elif "else" in schema:
            r = sub(schema["else"], inst)
            ok &= r[0]
            if r[0]:
                merge(r)

    # --- unevaluated* (after in-place applicators; reference runtime marks)
    if "unevaluatedProperties" in schema and isinstance(inst, dict):
        for name, v in inst.items():
            if name not in keys:
                r = sub(schema["unevaluatedProperties"], v)
                ok &= r[0]
                if r[0]:
                    keys.add(name)
    if "unevaluatedItems" in schema and isinstance(inst, list):
        for i, v in enumerate(inst):
            if i not in idxs:
                r = sub(schema["unevaluatedItems"], v)
                ok &= r[0]
                if r[0]:
                    idxs.add(i)

    return ok, keys, idxs


def validate_at(root: Schema, node: Schema, instance: Any,
                resolver: Optional[dict] = None,
                base_uri: str = "https://jsonschema-spark.invalid/root",
                node_base: Optional[str] = None,
                format_assertion: bool = True) -> bool:
    """Validate an instance against a SUBSCHEMA of ``root`` — `$ref`s inside
    ``node`` resolve against the whole document (lint valid_default /
    valid_examples run here: the annotated literal is checked against the
    node that carries it). ``node_base``, the base URI of the resource that
    holds ``node``, may be relative: it is joined to the document's."""
    if isinstance(root, dict) and isinstance(root.get("$id"), str):
        base_uri = urldefrag(urljoin(base_uri, root["$id"]))[0]
    scope = _Scope(root, base_uri, resolver)
    return _eval(node, instance, scope, urljoin(base_uri, node_base or ""), 0,
                 format_assertion)[0]


def validate_py(schema: Schema, instance: Any, resolver: Optional[dict] = None,
                base_uri: str = "https://jsonschema-spark.invalid/root",
                format_assertion: bool = True) -> bool:
    """Validate one in-memory JSON value against a schema, driver-side."""
    if isinstance(schema, dict) and isinstance(schema.get("$id"), str):
        base_uri = urldefrag(urljoin(base_uri, schema["$id"]))[0]
    scope = _Scope(schema, base_uri, resolver)
    return _eval(schema, instance, scope, base_uri, 0, format_assertion)[0]
