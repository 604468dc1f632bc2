"""Driver-side schema compiler: JSON Schema → Spark Column expressions.

The reference compiles a schema into an instruction tree interpreted one
instance at a time (/root/reference/vendor/blaze/src/compiler/compile.cc:202-497).
We compile the same keyword semantics into *columnar* predicates: each
keyword yields a boolean `ok` Column plus (in exhaustive mode) a violation
array Column, composed bottom-up through the logical applicators. Catalyst
then handles pushdown/pruning/codegen — no custom rules needed (SURVEY.md §4).

A violation array is meaningful only on rows where its `ok` is false (the
reference builds an error entry only when an instruction fails). No keyword
gates its own array on its `ok`; the three readers that also see passing
rows do: `_verdict` (operators/validate.py) once over the whole plan,
`_loop_body` per element, and the non-short-circuit `_and_combine` per
part. So an exhaustive plan repeats a child's condition in its parent's
`ok` and in the parent's pick of failing parts (the short-circuit chain or
the per-part gates), not again at every nesting level.

Compile-time rewrites mirrored from the reference's postprocess pass
(/root/reference/vendor/blaze/src/compiler/postprocess.h:393-630):
- `$ref` inlining (always — the analogue of jump inlining; cycles rejected)
- static type folding: on typed flat columns, `type` assertions and type
  guards constant-fold to True/False at compile time (the analogue of the
  fused `AssertionPropertyType*` instructions)
- dead-code elimination: statically-true checks vanish from the plan
- short-circuit conjunction: violation reporting follows the reference's
  LogicalAnd first-failure semantics (evaluator_dispatch.h:1254-1267) —
  the first failing child's errors are reported, then the parent's own entry
  (golden shape: /root/reference/test/validate/fail_json.sh)

Evaluation state the reference tracks per-instance (evaluate_path,
instance_location — evaluator.h:217-276) is static here: keyword locations
are compile-time strings; instance locations are strings except inside
array loops, where they are built with `concat(loc, '/', i)`.

Violation rows follow the standard Basic output shape
(/root/reference/vendor/blaze/src/output/output_standard.cc:47-100).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, replace
from functools import partial
from itertools import chain
from typing import Optional, Union

import pyspark.errors.utils as _pyspark_errors_utils
from pyspark.sql import Column, functions as F, types as T

from jsonschema_spark.functions.formats import FORMATS
from jsonschema_spark.functions.numeric import divisible_ok
from jsonschema_spark.functions.strings import code_points_between, pattern_ok
from jsonschema_spark.plans import messages as M
from jsonschema_spark.plans.context import (
    B,
    Cond,
    Ctx,
    FlatColCtx,
    S,
    VariantCtx,
    _child_loc,
    and_,
    not_,
    or_,
)
from jsonschema_spark.plans.frame import Frame, SchemaError, enter, root_base
from jsonschema_spark.plans.registry import KEYWORD_COMPILERS, KeywordCompiler
from jsonschema_spark.plans.upgrade import _ptr_escape, subschemas

VIOL_FIELDS = "keywordLocation:string,absoluteKeywordLocation:string,instanceLocation:string,error:string"
VIOL_STRUCT_DT = f"struct<{VIOL_FIELDS}>"
VIOLS_DT = f"array<{VIOL_STRUCT_DT}>"


def empty_viols() -> Column:
    return F.array().cast(VIOLS_DT)


@contextmanager
def without_call_sites():
    """Build Columns without PySpark's per-call call-site capture.

    PySpark records the Python call site of every ``Column`` method and of
    ``F.col`` in the JVM (``pyspark.errors.utils._with_origin``): about five
    py4j round trips per expression node, more than the node itself costs,
    and every site it records would point into this package. Inside this
    block the capture is off; on exit, normal or by exception, the previous
    setting is restored (``None`` included, so a nested block leaves it
    off). A no-op where PySpark has no such setting. The setting is
    process-wide: Columns other threads build meanwhile carry no call site.
    Usable as a decorator."""
    if not hasattr(_pyspark_errors_utils, "_enable_debugging_cache"):
        yield
        return
    prev = _pyspark_errors_utils._enable_debugging_cache
    _pyspark_errors_utils._enable_debugging_cache = False
    try:
        yield
    finally:
        _pyspark_errors_utils._enable_debugging_cache = prev


@dataclass
class Compiled:
    """Result of compiling one schema node against a context.

    ``viols`` is meaningful only on rows where ``ok`` is false: elsewhere
    it may hold anything, and nothing reads it there. So no keyword gates
    its own violations. Three readers also see rows where ``ok`` holds,
    and each gates there: ``_verdict`` (operators/validate.py) once over
    the whole plan, ``_loop_body`` per element, and the non-short-circuit
    ``_and_combine`` per part."""

    ok: Cond
    viols: Optional[Column] = None  # None ⇔ statically no violations

    def viols_col(self) -> Column:
        return self.viols if self.viols is not None else empty_viols()


@dataclass
class Config:
    base_uri: str = ""
    mode: str = "exhaustive"  # 'fast' skips violation building entirely
    format_assertion: bool = True
    root: dict | bool = True
    # True  = reference LogicalAnd semantics: report only the first failing
    #         conjunct's violations (evaluator_dispatch.h:1254-1267)
    # False = report every failing conjunct (SQL-oracle-friendly mode)
    short_circuit: bool = True
    # every resource and anchor of the document and of the resolver
    # registry (plans/frame.py): each reference resolves through it
    frame: Optional[Frame] = None
    # Recursive $ref unroll budget (the reference's inline-threshold
    # analogue, compile.cc:268-348 / compiler.h:98-99). A self-recursive
    # target is inlined up to this depth; instances whose data nests
    # DEEPER than the unrolled plan fail with a depth-exceeded violation
    # (conservative-reject, never a silent pass). On the flat path the
    # static column schema usually terminates recursion earlier: a
    # statically-absent child compiles to a constant pass (dead-code
    # elimination, postprocess.h:26-55 analogue).
    max_ref_depth: int = 6
    # --trace sink: when set, compile_node appends (keywordLocation,
    # instanceLocation, ok Cond) per keyword instruction in evaluation
    # order. Internal fast-mode recompiles (not/if conditions, branch-ok
    # gates) intentionally DROP the sink — only the primary plan traces.
    trace_sink: Optional[list] = None
    # Static dynamic scope: the chain of (resource, base_uri) pairs entered
    # along the current compile path, outermost first (the reference's
    # runtime resource stack, evaluator.h — statically known here because
    # every reference is inlined). Empty ⇔ just the root resource. The URI
    # rides along so a $dynamicRef that wins in an OUTER resource compiles
    # its target under THAT resource's root/base (fragment $refs inside the
    # target resolve against the right document).
    dynamic_scope: tuple = ()

    @property
    def want_viols(self) -> bool:
        return self.mode != "fast"

    def fast(self) -> "Config":
        return replace(self, mode="fast", trace_sink=None)

    def with_root(self, root, base_uri: str) -> "Config":
        scope = self.dynamic_scope or ((self.root, self.base_uri),)
        return replace(self, base_uri=base_uri, root=root,
                       dynamic_scope=scope + ((root, base_uri),))


def _viol_struct(base_uri: str, kw: str, loc: Union[str, Column], error: Column) -> Column:
    """One violation row in the standard Basic output shape."""
    return F.struct(
        F.lit(kw).alias("keywordLocation"),
        F.lit(f"{base_uri}#{kw}").alias("absoluteKeywordLocation"),
        S(loc).alias("instanceLocation"),
        error.alias("error"),
    )


def _viol(cfg: Config, kw: str, loc: Union[str, Column], error: Column) -> Column:
    return F.array(_viol_struct(cfg.base_uri, kw, loc, error)).cast(VIOLS_DT)


def _leaf(cfg: Config, cond: Cond, kw: str, ctx: Ctx, error_builder) -> Compiled:
    """A leaf assertion: violation iff cond is false."""
    if cond is True:
        return Compiled(True)
    if not cfg.want_viols:
        return Compiled(cond)
    return Compiled(cond, _viol(cfg, kw, ctx.loc, error_builder()))


def _guarded(guard: Cond, inner: Compiled) -> Compiled:
    """Apply a type/presence precondition: if guard fails, vacuous pass
    (EVALUATE_BEGIN precondition-skip, evaluator_dispatch.h:71-123)."""
    if guard is True:
        return inner
    if guard is False or inner.ok is True:
        return Compiled(True)
    return Compiled(or_(not_(guard), inner.ok), inner.viols)


def _and_combine(parts: list[Compiled], cfg: Config, own: Optional[tuple] = None) -> Compiled:
    """Conjunction with reference short-circuit violation semantics: report
    the first failing part's violations (plus the parent's own entry when
    `own=(kw, ctx, error_builder)` is given). On a failing row where no
    earlier part fails, the last one does, so it needs no test of its own.
    ``short_circuit=False`` reports every failing part, each gated on its
    own ``ok``: on a failing row the passing parts' violations are read
    too."""
    live = [p for p in parts if p.ok is not True]
    ok = and_(*[p.ok for p in live])
    if ok is True:
        return Compiled(True)
    if not cfg.want_viols:
        return Compiled(ok)
    own_v = None
    if own is not None:
        kw, ctx, error_builder = own
        own_v = _viol(cfg, kw, ctx.loc, error_builder())

    def with_own(v: Column) -> Column:
        return F.concat(v, own_v) if own_v is not None else v

    if len(live) == 1:  # failing row ⇒ the one part fails
        return Compiled(ok, with_own(live[0].viols_col()))
    if not cfg.short_circuit:
        return Compiled(ok, with_own(F.concat(*[
            F.when(not_(B(p.ok)), p.viols_col()).otherwise(empty_viols()) for p in live])))

    chain = None
    for p in live[:-1]:
        fail = not_(B(p.ok))
        v = with_own(p.viols_col())
        chain = F.when(fail, v) if chain is None else chain.when(fail, v)
    return Compiled(ok, chain.otherwise(with_own(live[-1].viols_col())))


# Dynamic-scope reference keywords (ControlDynamicAnchorJump,
# dispatch.h:1523-1549). The reference resolves these against a RUNTIME
# resource stack; because this compiler inlines every reference, the
# dynamic scope at each compile point is statically known
# (Config.dynamic_scope), so the full cross-resource semantics resolve at
# compile time:
#   $dynamicRef: "#frag" → initial resolution in the current resource;
#     if the target carries $dynamicAnchor "frag", the OUTERMOST resource
#     in the scope chain declaring that $dynamicAnchor wins (2020-12
#     core §8.2.3.2); otherwise plain-$anchor behavior.
#   $recursiveRef: "#"  → current resource root, unless it sets
#     $recursiveAnchor: true, in which case the outermost resource with
#     $recursiveAnchor: true wins (2019-09 semantics).
_DYNAMIC_KEYWORDS = ("$dynamicRef", "$recursiveRef")


def _resolve_dynamic_ref(key: str, val, cfg: Config):
    """Static resolution of $dynamicRef/$recursiveRef against the
    compile-time dynamic scope (outermost resource first). Returns
    ``(target_node, owning_resource, owning_base_uri)`` so the caller can
    compile the target under the WINNING resource's root/base — fragment
    $refs inside a cross-resource dynamic target must resolve against the
    document that declared the anchor, not the referencing one."""
    scope = cfg.dynamic_scope or ((cfg.root, cfg.base_uri),)
    if key == "$recursiveRef":
        if val != "#":
            raise SchemaError(f"$recursiveRef must be '#', got {val!r}")
        if isinstance(cfg.root, dict) and cfg.root.get("$recursiveAnchor") is True:
            for res, uri in scope:
                if isinstance(res, dict) and res.get("$recursiveAnchor") is True:
                    return res, res, uri
        return cfg.root, cfg.root, cfg.base_uri
    if not (isinstance(val, str) and val.startswith("#") and not val.startswith("#/")):
        raise SchemaError(
            f"$dynamicRef with non-fragment or pointer target {val!r} requires "
            "runtime dynamic-scope resolution — unsupported"
        )
    name = val[1:]
    initial = cfg.frame.anchors(cfg.root, name)
    if len(initial) != 1:
        raise SchemaError(
            f"$dynamicRef {val!r} needs exactly one in-document anchor for "
            f"static resolution (found {len(initial)})"
        )
    target = initial[0]
    if isinstance(target, dict) and target.get("$dynamicAnchor") == name:
        for res, uri in scope:  # outermost-first: the defining property of dynamic scope
            hits = cfg.frame.anchors(res, name, dynamic=True)
            if len(hits) > 1:
                raise SchemaError(
                    f"$dynamicRef {val!r} needs exactly one anchor per resource "
                    f"(found {len(hits)})"
                )
            if hits:
                return hits[0], res, uri
    return target, cfg.root, cfg.base_uri


_TYPE_NAMES = {"null", "boolean", "integer", "number", "string", "array", "object"}


_REF_KEYWORDS = ("$ref", *_DYNAMIC_KEYWORDS)


def _reference(key: str, val, cfg: Config, ref_stack: tuple):
    """Resolve one reference keyword (`$ref`, `$dynamicRef` or
    `$recursiveRef`) — the one place the recursion budget is applied.
    Returns ``(target, sub_cfg, sub_stack)``, or None once this reference
    has been entered ``cfg.max_ref_depth`` times along the current compile
    path. A `$ref` resolves through the frame: a same-document fragment
    in the current resource, any other reference in the resource at its
    URI. A target in another resource compiles under that resource (its
    own fragments resolve within it)."""
    if key == "$ref":
        if not isinstance(val, str):
            raise SchemaError(f"$ref must be a string, got {val!r}")
        target, res, res_uri = cfg.frame.resolve(val, cfg.base_uri, cfg.root)
        ref_key = (cfg.base_uri, val)
    else:
        target, res, res_uri = _resolve_dynamic_ref(key, val, cfg)
        ref_key = (cfg.base_uri, f"{key}:{val}")
    if ref_stack.count(ref_key) >= cfg.max_ref_depth:
        return None
    sub_cfg = cfg if res is cfg.root else cfg.with_root(res, res_uri)
    return target, sub_cfg, ref_stack + (ref_key,)


def _references(schema: dict, cfg: Config, ref_stack: tuple):
    """``(key, _reference(...))`` for each reference keyword of ``schema``,
    in evaluation order."""
    for key in _REF_KEYWORDS:
        if key in schema:
            yield key, _reference(key, schema[key], cfg, ref_stack)


def _resource_cfg(schema: dict, cfg: Config) -> Config:
    """The Config ``schema``'s keywords resolve under. An embedded schema
    resource, a non-root `$id`, opens a new resolution scope: fragment
    refs/anchors inside it resolve against THIS subdocument, and relative
    URIs against its (base-resolved) $id. (The reference frames every
    resource; SchemaFrame, frame.h:38-60.)"""
    res, base = enter(schema, cfg.root, cfg.base_uri)
    return cfg if res is cfg.root else cfg.with_root(res, base)


@without_call_sites()
def compile_node(
    schema: Union[dict, bool],
    ctx: Ctx,
    kw: str,
    cfg: Config,
    ref_stack: tuple = (),
) -> Compiled:
    """Compile one (sub)schema against a context. Assumes the value exists;
    presence gating happens at the application site."""
    if schema is True or schema == {}:
        return Compiled(True)
    if schema is False:
        return _leaf(cfg, False, kw, ctx, M.msg_false_schema)
    if not isinstance(schema, dict):
        raise SchemaError(f"invalid schema node at {kw or '<root>'}")
    cfg = _resource_cfg(schema, cfg)
    parts: list[Compiled] = []
    registered = ((k, h) for k, h in KEYWORD_COMPILERS.items() if k not in _KEYWORDS)
    for key, handler in chain(_KEYWORDS.items(), registered):
        if key not in schema:
            continue
        kwp = f"{kw}/{_ptr_escape(key)}"
        if isinstance(handler, KeywordCompiler):
            part = _assertion(handler, schema[key], ctx, kwp, cfg)
        else:
            part = handler(schema, schema[key], ctx, kwp, cfg, ref_stack)
        if part is None:
            continue
        parts.append(part)
        # --trace analogue: record each keyword instruction's location and
        # verdict in evaluation order (Pre/Post log, output_trace.cc).
        # Only STATIC instance locations are recordable: compiles inside
        # higher-order-function lambdas (per-element/per-key loops) build
        # Columns bound to lambda variables that cannot be referenced
        # outside the loop — their parent applicator entry still traces.
        if cfg.trace_sink is not None and isinstance(ctx.loc, str):
            cfg.trace_sink.append((kwp, ctx.loc, part.ok))

    return _and_combine(parts, cfg)


# --- individual keywords -----------------------------------------------------
#
# A handler takes ``(schema, value, ctx, kwp, cfg, ref_stack)`` — the node
# (for keywords that read a sibling), this keyword's value, the instance
# context, this keyword's location — and returns a Compiled, or None when
# the keyword asserts nothing here (no part, no trace step). A keyword
# that asserts on the value itself is a ``KeywordCompiler`` table entry
# instead and compiles through ``_assertion``.


def _assertion(spec: KeywordCompiler, val, ctx: Ctx, kwp: str, cfg: Config) -> Compiled:
    """``spec.build(val, ctx)`` as a leaf; values that are not of
    ``spec.type_guard`` pass vacuously, and nothing is built for a value
    that statically is not (the row has no string value to read)."""
    guard = ctx.is_type(spec.type_guard) if spec.type_guard else True
    if guard is False:
        return Compiled(True)
    return _guarded(guard, _leaf(cfg, spec.build(val, ctx), kwp, ctx, lambda: spec.message(ctx, val)))


def _k_reference(key: str, schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Optional[Compiled]:
    hit = _reference(key, val, cfg, ref_stack)
    if hit is None:
        # recursion budget exhausted: data nesting deeper than the
        # unrolled plan is conservatively REJECTED (documented limit;
        # shallower data is validated exactly)
        return _leaf(cfg, False, kwp, ctx, lambda: M.msg_ref_depth(cfg.max_ref_depth))
    target, sub_cfg, sub_stack = hit
    sub = compile_node(target, ctx, kwp, sub_cfg, sub_stack)
    if sub.ok is True:
        return None
    return _and_combine([sub], cfg, own=(kwp, ctx, lambda: M.msg_ref(ctx)))


def _k_type(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    types = [val] if isinstance(val, str) else list(val)
    for t in types:
        if not isinstance(t, str):
            # drafts 0-3 allow schema entries in a `type` union — that
            # shape must go through plans/upgrade.upgrade_schema first
            raise SchemaError(
                f"non-string type entry {t!r} at {kwp} — legacy "
                "type-union-of-schemas requires upgrade_schema()")
        if t not in _TYPE_NAMES:
            raise SchemaError(f"unknown type {t!r} at {kwp}")
    cond = or_(*[ctx.is_type(t) for t in types])
    exp = types[0] if len(types) == 1 else types
    return _leaf(cfg, cond, kwp, ctx, lambda c=ctx, e=exp: M.msg_type(c, e))


def _k_dependent_required(schema: dict, val: dict, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    parts = []
    for trigger, deps in val.items():
        trig_present = ctx.get_prop(trigger).present
        deps_present = and_(*[ctx.get_prop(d).present for d in deps])
        cond = or_(not_(trig_present), deps_present)
        missing = [d for d in deps]
        parts.append(
            _leaf(cfg, cond, kwp, ctx, lambda t=trigger, m=missing: M.msg_dependent_required(t, m))
        )
    return _guarded(ctx.is_type("object"), _and_combine(parts, cfg))


def _k_format(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Optional[Compiled]:
    if not (cfg.format_assertion and val in FORMATS):
        return None  # an annotation only
    guard = ctx.is_type("string")
    if guard is False:
        return Compiled(True)
    leaf = _leaf(cfg, ctx.format_ok(val), kwp, ctx, lambda: M.msg_format(ctx, val))
    return _guarded(guard, leaf)


def _multiple_of_ok(val, ctx: Ctx) -> Cond:
    """An integer-typed value is read exactly (``ctx.int_val()``), a real
    by its decimal digits; a typed integer column needs no real reading
    beside it."""
    return divisible_ok(None if ctx.is_type("integer") is True else ctx.num_val(), val, ctx.int_val())


def _apply_subschema(sub_schema, child: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    """Apply a subschema to a possibly-absent value (absent ⇒ vacuous pass).

    A STATICALLY absent child (no such column/field) constant-folds to a
    pass without compiling the subschema at all — the dead-code-elimination
    analogue, and what terminates recursive $ref on the flat path (the
    physical struct depth bounds the unroll)."""
    if child.present is False:
        return Compiled(True)
    sub = compile_node(sub_schema, child, kwp, cfg, ref_stack)
    return _guarded(child.present, sub)


def _loop_body(val, kwp: str, cfg: Config, ref_stack):
    """The per-element compiles of a higher-order loop body, one of each:
    ``ok(ctx)`` under ``cfg.fast()`` — an exhaustive compile would build a
    violation tree inside the predicate only to drop it — and
    ``viols(ctx)`` under ``cfg``, gated on that compile's own ``ok``: a
    failing loop still visits its passing elements."""
    fast = cfg.fast()

    def viols_of(c: Ctx) -> Column:
        body = compile_node(val, c, kwp, cfg, ref_stack)
        if isinstance(body.ok, bool):
            return empty_viols() if body.ok else body.viols_col()
        return F.when(body.ok, empty_viols()).otherwise(body.viols_col())

    return lambda c: compile_node(val, c, kwp, fast, ref_stack).ok, viols_of


def _member_names(schema, cfg: Config, ref_stack) -> tuple:
    """The member names ``schema`` reads from its instance by name:
    ``properties``, ``required``, ``dependentRequired`` and
    ``dependentSchemas`` names, through in-place applicators and reference
    targets, in schema order. A loop binds them once per element
    (``Ctx.loop_elements``); a name missed here is read by path, so the
    scan decides no verdict."""
    names: dict = {}
    seen: list = []

    def walk(node, cfg: Config, ref_stack) -> None:
        if not isinstance(node, dict) or any(node is n for n in seen):
            return
        seen.append(node)
        cfg = _resource_cfg(node, cfg)
        props, required = node.get("properties"), node.get("required")
        dep_required, dep_schemas = node.get("dependentRequired"), node.get("dependentSchemas")
        names.update(dict.fromkeys(props if isinstance(props, dict) else ()))
        names.update(dict.fromkeys(n for n in (required if isinstance(required, list) else ())
                                   if isinstance(n, str)))
        for trigger, deps in (dep_required.items() if isinstance(dep_required, dict) else ()):
            names.update(dict.fromkeys([trigger, *(d for d in deps if isinstance(d, str))]))
        dep_schemas = dep_schemas if isinstance(dep_schemas, dict) else {}
        names.update(dict.fromkeys(dep_schemas))
        subs = [*(node.get("allOf") or ()), *(node.get("anyOf") or ()), *(node.get("oneOf") or ()),
                node.get("not"), *dep_schemas.values()]
        if "if" in node:
            subs += [node["if"], node.get("then"), node.get("else")]
        for sub in subs:
            walk(sub, cfg, ref_stack)
        try:
            hits = [hit for _, hit in _references(node, cfg, ref_stack) if hit is not None]
        except SchemaError:
            return  # the compile reports it
        for hit in hits:
            walk(*hit)

    walk(schema, cfg, ref_stack)
    return tuple(names)


def _each_key(entries: Column, entry_ctx, val, kwp: str, cfg: Config, ref_stack) -> Compiled:
    """Apply ``val`` to every entry of the dynamic array ``entries`` (member
    names, or the entries of ``Ctx.loop_members``; ``entry_ctx(k)`` is the
    context an entry's subschema reads)."""
    ok_of, viols_of = _loop_body(val, kwp, cfg, ref_stack)
    ok = F.forall(entries, lambda k: B(ok_of(entry_ctx(k))))
    if not cfg.want_viols:
        return Compiled(ok)
    return Compiled(ok, F.flatten(F.transform(entries, lambda k: viols_of(entry_ctx(k)))).cast(VIOLS_DT))


def _k_properties(schema: dict, val: dict, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    parts = []
    for name, sub_schema in val.items():
        child = ctx.get_prop(name)
        parts.append(_apply_subschema(sub_schema, child, f"{kwp}/{_ptr_escape(name)}", cfg, ref_stack))
    inner = _and_combine(parts, cfg, own=(kwp, ctx, lambda c=ctx, n=len(val): M.msg_properties(n)))
    return _guarded(ctx.is_type("object"), inner)


def _name_in(k: Union[str, Column], names: list) -> Cond:
    """Whether member name ``k`` is one of ``names``; folded for a static name."""
    if isinstance(k, str):
        return k in names
    return k.isin(names) if names else False


def _name_matches(k: Union[str, Column], pattern: str) -> Cond:
    """Whether member name ``k`` matches ``pattern``; folded for a static name."""
    from jsonschema_spark.functions.strings import permissive_search_py

    return permissive_search_py(pattern, k) if isinstance(k, str) else pattern_ok(k, pattern)


def _unlisted(declared: list, patterns: list):
    """``selected`` for the members neither named in ``declared`` nor
    matching one of ``patterns``. ``declared`` keeps schema order, so the
    plan text is the same in every process (a set would follow the
    string-hash seed)."""
    return lambda k: and_(not_(_name_in(k, declared)), *[not_(_name_matches(k, p)) for p in patterns])


def _each_member(ctx: Ctx, selected, val, kwp: str, cfg: Config, ref_stack) -> Compiled:
    """Apply ``val`` — a subschema, or False to reject — to every member of
    the object at ``ctx`` that ``selected`` holds for: the member loop of
    patternProperties, additionalProperties and unevaluatedProperties.
    Static members (``ctx.prop_names()``) loop here, ``selected`` taking a
    name ``str``; otherwise ``selected`` takes a key Column inside
    ``filter``. Every failing member reports, each gated on its own ``ok``,
    as in the element loops. The caller applies the object type guard."""
    names = ctx.prop_names()
    if names is not None:
        parts = []
        for name in names:
            chosen = selected(name)
            if chosen is False:
                continue
            child = ctx.get_prop(name)
            if val is False:
                body = _leaf(cfg, False, kwp, child, lambda n=name: M.msg_additional_property(n))
            else:
                body = compile_node(val, child, kwp, cfg, ref_stack)
            parts.append(_guarded(and_(child.present, chosen), body))
        return _and_combine(parts, replace(cfg, short_circuit=False))
    entries, key_of, member_of = ctx.loop_members(() if val is False else _member_names(val, cfg, ref_stack))
    entries = F.filter(entries, lambda k: B(selected(key_of(k))))
    if val is not False:
        return _each_key(entries, member_of, val, kwp, cfg, ref_stack)
    ok = F.size(entries) == 0
    if not cfg.want_viols:
        return Compiled(ok)
    return Compiled(ok, F.transform(entries, lambda k: _viol_struct(
        cfg.base_uri, kwp, _child_loc(ctx.loc, key_of(k)), M.msg_additional_property(key_of(k)))).cast(VIOLS_DT))


def _k_pattern_properties(schema: dict, val: dict, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    parts = [_each_member(ctx, partial(_name_matches, pattern=pattern), sub_schema,
                          f"{kwp}/{_ptr_escape(pattern)}", cfg, ref_stack)
             for pattern, sub_schema in val.items()]
    return _guarded(ctx.is_type("object"), _and_combine(parts, cfg))


def _k_additional_properties(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    selected = _unlisted(list(schema.get("properties") or {}), list(schema.get("patternProperties") or {}))
    return _guarded(ctx.is_type("object"), _each_member(ctx, selected, val, kwp, cfg, ref_stack))


def _k_property_names(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    keys = ctx.obj_keys()

    def key_ctx(k: Column) -> Ctx:
        return FlatColCtx(k, T.StringType(), _child_loc(ctx.loc, k))

    return _guarded(ctx.is_type("object"), _each_key(keys, key_ctx, val, kwp, cfg, ref_stack))


def _k_dependent_schemas(schema: dict, val: dict, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    parts = []
    for trigger, sub_schema in val.items():
        child = ctx.get_prop(trigger)
        sub = compile_node(sub_schema, ctx, f"{kwp}/{_ptr_escape(trigger)}", cfg, ref_stack)
        parts.append(_guarded(child.present, sub))
    return _guarded(ctx.is_type("object"), _and_combine(parts, cfg))


def _k_unique_items(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Optional[Compiled]:
    """AssertionUnique (dispatch.h:814-818): deep distinctness.

    The context picks the test, ``array_distinct`` either way: over the
    elements of a typed scalar array (a flat column; exact, one Spark array
    holds one numeric type), over their canonical renderings for VARIANT
    arrays and container elements (``functions/canonical.py``: key order
    irrelevant, 1 == 1.0)."""
    if not val:
        return None
    if ctx.is_type("array") is False:
        return Compiled(True)  # statically non-array (e.g. flat row root)
    inner = _leaf(cfg, ctx.unique_items(), kwp, ctx, lambda c=ctx: M.msg_unique_items(c))
    return _guarded(ctx.is_type("array"), inner)


def _k_prefix_items(schema: dict, val: list, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    if ctx.is_type("array") is False:
        return Compiled(True)  # statically non-array (e.g. flat row root)
    factory = ctx.element_ctx_factory()
    arr = ctx.arr()
    parts = []
    for i, sub_schema in enumerate(val):
        elem = factory(F.try_element_at(arr, F.lit(i + 1)), F.lit(i))
        has_elem = ctx.arr_size() > i
        sub = compile_node(sub_schema, elem, f"{kwp}/{i}", cfg, ref_stack)
        parts.append(_guarded(has_elem, sub))
    inner = _and_combine(parts, cfg, own=(kwp, ctx, lambda n=len(val) + 1: M.msg_prefix_items(n)))
    return _guarded(ctx.is_type("array"), inner)


def _each_item(val, ctx: Ctx, kwp: str, cfg: Config, ref_stack, skip, own_error=None) -> Compiled:
    """Apply ``val`` to every element of the array at ``ctx`` except those
    ``skip(i, elem)`` holds for (index, element context) — the element
    loop of items and dynamic unevaluatedItems. ``own_error`` builds the
    parent's own entry, reported after the elements'."""
    if ctx.is_type("array") is False:
        return Compiled(True)  # statically non-array (e.g. flat row root)
    arr, factory = ctx.loop_elements(_member_names(val, cfg, ref_stack))
    ok_of, viols_of = _loop_body(val, kwp, cfg, ref_stack)

    def elem_ok(x: Column, i: Column) -> Column:
        elem = factory(x, i)
        return B(or_(skip(i, elem), ok_of(elem)))

    ok = F.forall(F.transform(arr, elem_ok), lambda b: b)
    if not cfg.want_viols:
        return _guarded(ctx.is_type("array"), Compiled(ok))

    def elem_viols(x: Column, i: Column) -> Column:
        elem = factory(x, i)
        skipped, v = skip(i, elem), viols_of(elem)
        return v if skipped is False else F.when(B(skipped), empty_viols()).otherwise(v)

    viols = F.flatten(F.transform(arr, elem_viols)).cast(VIOLS_DT)
    if own_error is not None:
        viols = F.concat(viols, _viol(cfg, kwp, ctx.loc, own_error()))
    return _guarded(ctx.is_type("array"), Compiled(ok, viols))


def _k_items(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    if isinstance(val, list):  # draft-7 tuple form
        return _k_prefix_items(schema, val, ctx, kwp, cfg, ref_stack)
    prefix = schema.get("prefixItems")
    return _items_from(val, ctx, kwp, cfg, len(prefix) if isinstance(prefix, list) else 0, ref_stack)


def _items_from(val, ctx: Ctx, kwp: str, cfg: Config, start: int, ref_stack) -> Compiled:
    return _each_item(val, ctx, kwp, cfg, ref_stack, lambda i, elem: i < start if start else False,
                      lambda: M.msg_items_from(start) if start else M.msg_items())


def _k_contains(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    minimum = schema.get("minContains", 1)
    maximum = schema.get("maxContains")
    if ctx.is_type("array") is False:
        return Compiled(True)  # statically non-array (e.g. flat row root)
    arr, factory = ctx.loop_elements(_member_names(val, cfg, ref_stack))
    ok_of, _ = _loop_body(val, kwp, cfg, ref_stack)
    count = F.size(F.filter(F.transform(arr, lambda x, i: B(ok_of(factory(x, i)))), lambda b: b))
    cond = count >= minimum if maximum is None else (count >= minimum) & (count <= maximum)
    if minimum == 0 and maximum is None:
        return Compiled(True)
    inner = _leaf(cfg, cond, kwp, ctx, lambda mi=minimum, ma=maximum: M.msg_contains(mi, ma))
    return _guarded(ctx.is_type("array"), inner)


def _k_all_of(schema: dict, val: list, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    parts = [compile_node(s, ctx, f"{kwp}/{i}", cfg, ref_stack) for i, s in enumerate(val)]
    return _and_combine(parts, cfg, own=(kwp, ctx, lambda c=ctx, n=len(val): M.msg_all_of(c, n)))


def _k_any_of(schema: dict, val: list, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    parts = [compile_node(s, ctx, f"{kwp}/{i}", cfg, ref_stack) for i, s in enumerate(val)]
    ok = or_(*[p.ok for p in parts])
    if ok is True or not cfg.want_viols:
        return Compiled(ok)
    own = _viol(cfg, kwp, ctx.loc, M.msg_any_of(ctx, len(val)))
    return Compiled(ok, F.concat(*[p.viols_col() for p in parts], own))


def _k_one_of(schema: dict, val: list, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    parts = [compile_node(s, ctx, f"{kwp}/{i}", cfg, ref_stack) for i, s in enumerate(val)]
    count = None
    for p in parts:
        c = B(p.ok).cast("int")
        count = c if count is None else count + c
    ok = count == 1
    if not cfg.want_viols:
        return Compiled(ok)
    own = _viol(cfg, kwp, ctx.loc, M.msg_one_of(ctx, len(val)))
    return Compiled(ok, F.when(count == 0, F.concat(*[p.viols_col() for p in parts], own)).otherwise(own))


def _k_not(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    # compile the negated child in fast mode: its violations are meaningless
    sub_cfg = cfg.fast()
    sub = compile_node(val, ctx, kwp, sub_cfg, ref_stack)
    return _leaf(cfg, not_(sub.ok), kwp, ctx, lambda c=ctx: M.msg_not(c))


def _k_conditional(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    kw = kwp[:-len("/if")]  # then/else sit beside `if`
    cond = compile_node(val, ctx, kwp, cfg.fast(), ref_stack)
    then_c = compile_node(schema["then"], ctx, f"{kw}/then", cfg, ref_stack) if "then" in schema else Compiled(True)
    else_c = compile_node(schema["else"], ctx, f"{kw}/else", cfg, ref_stack) if "else" in schema else Compiled(True)
    if isinstance(cond.ok, bool):
        # constant-condition folding (postprocess.h:601-624 analogue)
        chosen = then_c if cond.ok else else_c
        if chosen.ok is True or not cfg.want_viols:
            return Compiled(chosen.ok)
        own = _viol(cfg, kwp, ctx.loc, M.msg_conditional(ctx))
        return Compiled(chosen.ok, F.concat(chosen.viols_col(), own))
    ok = F.when(B(cond.ok), B(then_c.ok)).otherwise(B(else_c.ok))
    if not cfg.want_viols:
        return Compiled(ok)
    own = _viol(cfg, kwp, ctx.loc, M.msg_conditional(ctx))
    return Compiled(ok, F.when(B(cond.ok), F.concat(then_c.viols_col(), own))
                    .otherwise(F.concat(else_c.viols_col(), own)))


# --- unevaluatedProperties / unevaluatedItems ---------------------------------
#
# The reference needs runtime evaluation marks with checkpoint/rewind for
# these (evaluator.h:217-276); its compiler also statically analyses which
# schemas can skip tracking (unevaluated.cc, the `track` bit). Two tiers:
#
# 1. STATIC (fast path): when every property/item evaluation is CONJUNCTIVE
#    (the node itself, allOf children, $ref targets), the evaluated set is
#    known at compile time and unevaluated* reduces to
#    additionalProperties / items-from-k — zero runtime overhead.
# 2. DYNAMIC (the checkpoint/rewind analogue): disjunctive evaluation
#    (anyOf/oneOf/if-then-else/dependentSchemas branches evaluating
#    properties, contains marking items) compiles to per-key / per-item
#    "evaluated" predicates — each branch's contribution is gated on that
#    branch VALIDATING (fast-mode recompile of the branch), which is
#    exactly the annotations-only-from-successful-subschemas rule the
#    mark rollback implements. `not` contributes nothing (its annotations
#    never propagate). Branch contributions at the node's own level
#    (properties/patternProperties) are unconditioned — if they fail the
#    node fails anyway, matching the reference's conjunctive shortcut.

_BRANCHING_KEYS = ("anyOf", "oneOf", "not", "if", "then", "else", "dependentSchemas")


def _subtree_mentions(node, keys: tuple) -> bool:
    return isinstance(node, dict) and (
        any(k in node for k in keys)
        or any(_subtree_mentions(sub, keys) for _, sub in subschemas(node)))


def _branches_mention(schema: dict, keys: tuple) -> bool:
    """Whether a subschema under one of ``_BRANCHING_KEYS`` uses ``keys``."""
    return any(ptr.split("/")[1] in _BRANCHING_KEYS and _subtree_mentions(sub, keys)
               for ptr, sub in subschemas(schema))


def _conjunctive_contributors(schema, cfg: Config, ref_stack: tuple) -> list:
    """The node plus transitive allOf / reference targets — subschemas whose
    annotations are always evaluated when the node is — each listed once.
    A reference past the recursion budget is not followed: it compiles to
    a reject, so the node fails wherever that target would have applied."""
    out = [schema]
    if isinstance(schema, dict):
        for sub in schema.get("allOf") or []:
            if isinstance(sub, dict):
                out.extend(_conjunctive_contributors(sub, cfg, ref_stack))
        for _, hit in _references(schema, cfg, ref_stack):
            if hit is not None:
                out.extend(_conjunctive_contributors(*hit))
    return [c for n, c in enumerate(out) if not any(c is d for d in out[:n])]


def _branch_ok(sub_schema, ctx: Ctx, kw: str, cfg: Config, ref_stack) -> Cond:
    """Fast-mode verdict of a subschema — gates annotation contributions
    from disjunctive branches (the mark-rollback analogue)."""
    return compile_node(sub_schema, ctx, kw, cfg.fast(), ref_stack).ok


def _evaluated(schema, uneval: str, local, ctx: Ctx, cfg: Config, ref_stack,
               nested: bool = False) -> Cond:
    """Cond: one instance member — a property name or an array element —
    is evaluated by ``schema`` at this location: the runtime evaluated-set
    predicate. ``local(node, cfg, ref_stack)`` gives a node's keyword-local
    conditions; a nested ``uneval`` keyword evaluates every member. The
    walker adds what both member kinds share: allOf/anyOf/oneOf,
    if-then-else and dependentSchemas branches that validate, and
    reference targets. `not` contributes nothing: its annotations never
    propagate."""
    if not isinstance(schema, dict):
        return False
    conds = local(schema, cfg, ref_stack)
    if nested and uneval in schema:
        conds.append(True)

    def branch(sub, *gates: Cond) -> None:
        conds.append(and_(*gates, _branch_ok(sub, ctx, "", cfg, ref_stack),
                          _evaluated(sub, uneval, local, ctx, cfg, ref_stack, True)))

    for key in ("allOf", "anyOf", "oneOf"):
        for sub in schema.get(key) or []:
            branch(sub)
    if "if" in schema:
        if_ok = _branch_ok(schema["if"], ctx, "", cfg, ref_stack)
        conds.append(and_(if_ok, _evaluated(schema["if"], uneval, local, ctx, cfg, ref_stack, True)))
        if "then" in schema:
            branch(schema["then"], if_ok)
        if "else" in schema:
            branch(schema["else"], not_(if_ok))
    for trigger, sub in (schema.get("dependentSchemas") or {}).items():
        branch(sub, ctx.get_prop(trigger).present)
    # $dynamicRef/$recursiveRef targets evaluate members too — omitting
    # them would spuriously reject under dynamic unevaluated*
    for _, hit in _references(schema, cfg, ref_stack):
        if hit is not None:
            target, sub_cfg, sub_stack = hit
            conds.append(_evaluated(target, uneval, local, ctx, sub_cfg, sub_stack, True))
    return or_(*conds)


def _property_conds(k: Union[str, Column]):
    """Keyword-local evaluated-set conditions for the property named ``k``
    (a static name or a key Column)."""

    def local(node: dict, cfg: Config, ref_stack) -> list[Cond]:
        props = node.get("properties") or {}
        conds: list[Cond] = [_name_in(k, list(props))] if props else []
        conds += [_name_matches(k, p) for p in node.get("patternProperties") or {}]
        if "additionalProperties" in node:
            conds.append(True)
        return conds

    return local


def _item_conds(i: Column, elem: Ctx):
    """Keyword-local evaluated-set conditions for the element at index
    ``i`` (context ``elem``): prefixItems positions, items, contains
    matches."""

    def local(node: dict, cfg: Config, ref_stack) -> list[Cond]:
        conds: list[Cond] = []
        items = node.get("items")
        if items is not None and not isinstance(items, list):
            conds.append(True)
        pi = items if isinstance(items, list) else node.get("prefixItems")
        if isinstance(pi, list) and pi:
            conds.append(i < len(pi))
        if "contains" in node:
            # matched elements are evaluated (LoopContains annotations)
            conds.append(compile_node(node["contains"], elem, "", cfg.fast(), ref_stack).ok)
        return conds

    return local


def _k_unevaluated_properties(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    names: dict = {}  # ordered set: declared names in schema order
    patterns: list = []
    dynamic = False
    for c in _conjunctive_contributors(schema, cfg, ref_stack):
        if not isinstance(c, dict):
            continue
        if "additionalProperties" in c:
            # every remaining property is already evaluated (or rejected)
            return Compiled(True)
        names.update(dict.fromkeys(c.get("properties") or {}))
        patterns.extend((c.get("patternProperties") or {}).keys())
        if _branches_mention(
            c, ("properties", "patternProperties", "additionalProperties", "unevaluatedProperties")
        ):
            dynamic = True
    if not dynamic:
        selected = _unlisted(list(names), patterns)
    else:
        def selected(k: Union[str, Column]) -> Cond:
            return not_(_evaluated(schema, "unevaluatedProperties", _property_conds(k), ctx, cfg, ref_stack))
    return _guarded(ctx.is_type("object"), _each_member(ctx, selected, val, kwp, cfg, ref_stack))


def _k_unevaluated_items(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    prefix = 0
    dynamic = False
    for c in _conjunctive_contributors(schema, cfg, ref_stack):
        if not isinstance(c, dict):
            continue
        items = c.get("items")
        if items is not None and not isinstance(items, list):
            return Compiled(True)  # `items` already evaluates every element
        if "contains" in c:
            dynamic = True
        pi = items if isinstance(items, list) else c.get("prefixItems")
        if isinstance(pi, list):
            prefix = max(prefix, len(pi))
        if _branches_mention(c, ("items", "prefixItems", "contains", "unevaluatedItems")):
            dynamic = True
    if not dynamic:
        return _items_from(val, ctx, kwp, cfg, prefix, ref_stack)
    return _k_unevaluated_items_dynamic(schema, val, ctx, kwp, cfg, ref_stack)


def _k_unevaluated_items_dynamic(schema: dict, val, ctx: Ctx, kwp: str, cfg: Config, ref_stack) -> Compiled:
    def evaluated(i: Column, elem: Ctx) -> Cond:  # inside the element loop's lambda
        return _evaluated(schema, "unevaluatedItems", _item_conds(i, elem), ctx, cfg, ref_stack)

    return _each_item(val, ctx, kwp, cfg, ref_stack, evaluated)


# ---------------------------------------------------------------------------
# The keyword table: key order is evaluation order (a deterministic walker
# order; the reference's exact order lives in sourcemeta::core::SchemaWalker,
# its dispatch in default_compiler.cc:83-639). Registered keywords
# (plans/registry.py) follow every entry here.
# ---------------------------------------------------------------------------

_KEYWORDS: dict = {
    "$ref": partial(_k_reference, "$ref"),
    "$dynamicRef": partial(_k_reference, "$dynamicRef"),
    "$recursiveRef": partial(_k_reference, "$recursiveRef"),
    "type": _k_type,
    "const": KeywordCompiler(lambda v, c: c.eq_const(v), M.msg_const),
    "enum": KeywordCompiler(lambda v, c: c.eq_any(v), M.msg_enum),
    "required": KeywordCompiler(
        lambda v, c: and_(*[c.get_prop(n).present for n in v]), M.msg_required, "object"),
    "dependentRequired": _k_dependent_required,
    "minProperties": KeywordCompiler(lambda v, c: c.obj_size() >= v, M.msg_min_properties, "object"),
    "maxProperties": KeywordCompiler(lambda v, c: c.obj_size() <= v, M.msg_max_properties, "object"),
    "properties": _k_properties,
    "patternProperties": _k_pattern_properties,
    "additionalProperties": _k_additional_properties,
    "propertyNames": _k_property_names,
    "dependentSchemas": _k_dependent_schemas,
    "minItems": KeywordCompiler(lambda v, c: c.arr_size() >= v, M.msg_min_items, "array"),
    "maxItems": KeywordCompiler(lambda v, c: c.arr_size() <= v, M.msg_max_items, "array"),
    "uniqueItems": _k_unique_items,
    "prefixItems": _k_prefix_items,
    "items": _k_items,
    "contains": _k_contains,
    "minLength": KeywordCompiler(lambda v, c: code_points_between(c.str_val(), lo=v), M.msg_min_length, "string"),
    "maxLength": KeywordCompiler(lambda v, c: code_points_between(c.str_val(), hi=v), M.msg_max_length, "string"),
    "pattern": KeywordCompiler(lambda v, c: pattern_ok(c.str_val(), v), M.msg_regex, "string"),
    "format": _k_format,
    "minimum": KeywordCompiler(lambda v, c: c.num_val() >= float(v), M.msg_greater_equal, "number"),
    "maximum": KeywordCompiler(lambda v, c: c.num_val() <= float(v), M.msg_less_equal, "number"),
    "exclusiveMinimum": KeywordCompiler(lambda v, c: c.num_val() > float(v), M.msg_greater, "number"),
    "exclusiveMaximum": KeywordCompiler(lambda v, c: c.num_val() < float(v), M.msg_less, "number"),
    "multipleOf": KeywordCompiler(_multiple_of_ok, M.msg_multiple_of, "number"),
    "allOf": _k_all_of,
    "anyOf": _k_any_of,
    "oneOf": _k_one_of,
    "not": _k_not,
    "if": _k_conditional,
    # evaluated after every other applicator, like the reference
    "unevaluatedProperties": _k_unevaluated_properties,
    "unevaluatedItems": _k_unevaluated_items,
}


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


@dataclass
class CompiledSchema:
    """Driver-side compiled plan (the Template analogue, evaluator.h:38-44).

    Pure-Python + Column-expression object; broadcastable by closure capture
    (the schema dict is tiny — executors only ever see generated expressions).
    Like the template, a schema compiles once per session: the operators of
    ``operators/validate.py`` keep the Columns of each (schema, fields, mode,
    binding) in ``plans/plan_cache.py``. Every field here is part of that
    key, so a new compile input belongs here, or must join the key.
    ``compile_flat``/``compile_variant`` always compile anew.
    """

    schema: Union[dict, bool]
    base_uri: str = ""
    format_assertion: bool = True
    resolver: Optional[dict] = None  # uri → schema registry for external $ref
    max_ref_depth: int = 6  # recursive-$ref unroll budget (Config doc)
    # --entrypoint analogue: when set, `schema` is the compiled subschema
    # but fragments/$refs still resolve against this full document
    resolution_root: Optional[Union[dict, bool]] = None

    def __post_init__(self):
        self.base_uri = root_base(self._root(), self.base_uri)

    def _root(self) -> Union[dict, bool]:
        return self.resolution_root if self.resolution_root is not None else self.schema

    def _cfg(self, mode: str, short_circuit: bool = True) -> Config:
        """The compile Config; its frame is built on each compile (a
        plan-cache miss), so it frames the schema as it is now."""
        root = self._root()
        return Config(self.base_uri, mode, self.format_assertion, root, short_circuit,
                      Frame(root, self.base_uri, self.resolver), self.max_ref_depth)

    def compile_flat(
        self, df_schema: T.StructType, mode: str = "exhaustive", short_circuit: bool = True
    ) -> Compiled:
        """Compile against a flat DataFrame row (columns = properties). The
        result's ``viols`` is meaningful only on rows where its ``ok`` is
        false: gate it on ``ok`` before reading it elsewhere."""
        ctx = FlatColCtx.row(df_schema)
        return compile_node(self.schema, ctx, "", self._cfg(mode, short_circuit))

    def compile_variant(
        self, doc_col: Column, mode: str = "exhaustive", short_circuit: bool = True
    ) -> Compiled:
        """Compile against a VARIANT column holding parsed JSON documents.
        As with ``compile_flat``, ``viols`` is meaningful only where ``ok``
        is false."""
        ctx = VariantCtx(doc_col, "")
        return compile_node(self.schema, ctx, "", self._cfg(mode, short_circuit))


def compile_schema(
    schema: Union[dict, bool],
    base_uri: str = "",
    format_assertion: bool = True,
    resolver: Optional[dict] = None,
    max_ref_depth: int = 6,
) -> CompiledSchema:
    return CompiledSchema(schema, base_uri, format_assertion, resolver, max_ref_depth)


def compile_entrypoint(
    schema: Union[dict, bool],
    entrypoint: str,
    format_assertion: bool = True,
    resolver: Optional[dict] = None,
    max_ref_depth: int = 6,
) -> CompiledSchema:
    """The ``--entrypoint`` analogue (command_validate.cc:296,322-332):
    compile the subschema at a JSON-pointer fragment (``#/$defs/item`` or
    ``/$defs/item``) or ``#anchor``, while ``$ref``s inside it keep
    resolving against the FULL document."""
    if not isinstance(schema, dict):
        raise SchemaError("entrypoint requires an object schema")
    ref = entrypoint if entrypoint.startswith("#") else f"#{entrypoint}"
    node = Frame(schema, root_base(schema)).resolve(ref, root_base(schema), schema)[0]
    return CompiledSchema(node, "", format_assertion, resolver, max_ref_depth,
                          resolution_root=schema)
