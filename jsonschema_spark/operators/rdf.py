"""`rdf` command analogue — promote valid instances to JSON-LD.

The reference evaluates an instance against a schema annotated with
`x-jsonld-*` keywords and, when valid, prints the instance in JSON-LD
EXPANDED form (/root/reference/docs/rdf.markdown;
src/command_rdf.cc) — the schema doubles as the `@context`, so meaning
can't drift from validation.

Subset implemented (the annotation vocabulary's core):
- `x-jsonld-id`        property subschema → predicate IRI
- `x-jsonld-type`      object subschema   → node `@type` (IRI or list)
- `x-jsonld-datatype`  scalar subschema   → typed literal `@type`
- `x-jsonld-language`  string subschema   → language-tagged literal
- `x-jsonld-json`      any subschema      → opaque `@json` literal
All three output forms are supported (round-3 closure of the round-2
gap): EXPANDED (default), FLATTENED (`--flatten`: node-map extraction
with `_:bN` blank labels in depth-first encounter order) and COMPACTED
(`--compact context.json`: IRI→term substitution + single-element array
and value-object collapse, `@context` appended last) — each
golden-matched against the reference fixtures (test/rdf/pass_flatten.sh,
pass_compact.sh, pass_flatten_compact.sh). `@reverse`/`@graph`/
`@container` stay out-of-subset (the reference marks the command
experimental).

Expansion rules (JSON-LD 1.1 expanded document form): properties without
an `x-jsonld-id` mapping are dropped; scalars become `{"@value": v}`
objects (plus `@type`/`@language`); every predicate's value is an array.

Spark shape: the expansion runs row-wise over JSON documents — an
Arrow-batched pandas UDF (`jsonld_expand`), composed behind `validate`
so only valid rows are promoted (exactly the CLI's gate).
"""

from __future__ import annotations

import json
from typing import Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType


def _scalar_literal(node_schema: dict, v):
    if node_schema.get("x-jsonld-json") is True:
        return {"@value": v, "@type": "@json"}
    out = {"@value": v}
    dt = node_schema.get("x-jsonld-datatype")
    if isinstance(dt, str):
        out["@type"] = dt
    elif isinstance(v, str):
        lang = node_schema.get("x-jsonld-language")
        if isinstance(lang, str):
            out["@language"] = lang
    return out


def _expand(schema: Union[dict, bool], v):
    """Expanded form of one value under its subschema annotations; None ⇒
    dropped (no term mapping)."""
    if not isinstance(schema, dict):
        schema = {}
    if schema.get("x-jsonld-json") is True:
        return {"@value": v, "@type": "@json"}
    if isinstance(v, dict):
        node: dict = {}
        ntype = schema.get("x-jsonld-type")
        if isinstance(ntype, str):
            node["@type"] = [ntype]
        elif isinstance(ntype, list):
            node["@type"] = list(ntype)
        props = schema.get("properties") or {}
        for name, val in v.items():
            sub = props.get(name)
            if not isinstance(sub, dict):
                continue
            iri = sub.get("x-jsonld-id")
            if not isinstance(iri, str):
                continue
            if isinstance(val, list):
                items_schema = sub.get("items") if isinstance(sub.get("items"), dict) else sub
                expanded = [_expand(items_schema, x) for x in val]
                node[iri] = [e for e in expanded if e is not None]
            else:
                e = _expand(sub, val)
                if e is not None:
                    node[iri] = [e]
        return node or None
    if isinstance(v, list):
        items_schema = schema.get("items") if isinstance(schema.get("items"), dict) else {}
        return [e for e in (_expand(items_schema, x) for x in v) if e is not None]
    return _scalar_literal(schema, v)


def to_jsonld(schema: Union[dict, bool], instance) -> Optional[dict]:
    """Driver-side: one instance → JSON-LD expanded node object (or None
    when nothing maps)."""
    return _expand(schema if isinstance(schema, dict) else {}, instance)


def jsonld_flatten(node: Optional[dict]) -> list:
    """Expanded node object → flattened node array (JSON-LD 1.1 node map):
    every node object gets an `@id` (blank labels `_:b0`, `_:b1`, … in
    depth-first encounter order), nested node objects are replaced by node
    references and surface as top-level graph entries. Value objects stay
    embedded. Golden shape: test/rdf/pass_flatten.sh."""
    nodes: list = []
    counter = [0]

    def visit(n: dict) -> dict:
        if "@id" in n:
            nid = n["@id"]
        else:
            nid = f"_:b{counter[0]}"
            counter[0] += 1
        flat: dict = {"@id": nid}
        if "@type" in n:
            flat["@type"] = list(n["@type"])
        nodes.append(flat)
        for k, v in n.items():
            if k in ("@id", "@type"):
                continue
            out = []
            for item in v:
                if isinstance(item, dict) and "@value" not in item:
                    out.append(item if set(item) == {"@id"} else visit(item))
                else:
                    out.append(item)
            flat[k] = out
        return {"@id": nid}

    if isinstance(node, dict):
        visit(node)
    return nodes


def jsonld_compact(doc, context: dict):
    """Expanded node object or flattened node array → compacted form under
    `context` ({term: IRI} or {term: {"@id": IRI}}): predicate IRIs and
    `@type` IRIs become terms where mapped, single-element arrays and bare
    value objects collapse, `@context` is appended last (reference key
    order). A single-node graph compacts to the node itself; multi-node
    graphs nest under `@graph`. Golden shapes: test/rdf/pass_compact.sh,
    pass_flatten_compact.sh."""
    iri_to_term = {}
    for term, defn in (context or {}).items():
        iri = defn if isinstance(defn, str) else (
            defn.get("@id") if isinstance(defn, dict) else None)
        if isinstance(iri, str):
            iri_to_term[iri] = term

    def compact_value(item):
        if isinstance(item, dict):
            if set(item) == {"@value"}:
                return item["@value"]
            if "@value" in item:
                return dict(item)  # typed / language-tagged literal stays
            return compact_node(item)
        return item

    def compact_node(n: dict) -> dict:
        out: dict = {}
        if "@id" in n:
            out["@id"] = n["@id"]
        if "@type" in n:
            ts = [iri_to_term.get(t, t) for t in n["@type"]]
            out["@type"] = ts[0] if len(ts) == 1 else ts
        for k, v in n.items():
            if k in ("@id", "@type"):
                continue
            vals = [compact_value(x) for x in v]
            out[iri_to_term.get(k, k)] = vals[0] if len(vals) == 1 else vals
        return out

    if isinstance(doc, list):
        comp = [compact_node(n) for n in doc]
        if len(comp) == 1:
            comp[0]["@context"] = context
            return comp[0]
        return {"@graph": comp, "@context": context}
    out = compact_node(doc) if isinstance(doc, dict) else {}
    out["@context"] = context
    return out


def jsonld_expand(doc_col: Column, schema: Union[dict, bool],
                  form: str = "expanded",
                  context: Optional[dict] = None) -> Column:
    """JSON-document column → JSON-LD string column in the requested
    `form` ('expanded' | 'flattened' | 'compacted'; 'compacted' composes
    with a prior flatten when `context` is given AND form='flattened' is
    not what you want — pass form='compacted' with flatten_first=True via
    `rdf_df`)."""

    @F.pandas_udf(StringType())
    def _udf(s: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                return None
            try:
                instance = json.loads(text)
            except ValueError:
                # F.when(valid, …) does NOT short-circuit vectorized UDF
                # evaluation — unparseable rows (already invalid at the
                # validate gate) must not kill the task
                return None
            node = to_jsonld(schema, instance)
            if node is None:
                return None
            if form == "flattened":
                node = jsonld_flatten(node)
            elif form == "compacted":
                node = jsonld_compact(node, context or {})
            elif form == "flattened-compacted":
                node = jsonld_compact(jsonld_flatten(node), context or {})
            return json.dumps(node, sort_keys=True, separators=(",", ":"),
                              ensure_ascii=False)

        return s.map(one)

    return _udf(doc_col)


def rdf_df(
    df: DataFrame,
    schema: Union[dict, bool],
    doc_col: str,
    out_col: str = "jsonld",
    form: str = "expanded",
    context: Optional[dict] = None,
    **validate_kwargs,
) -> DataFrame:
    """The full command shape: validate, then promote VALID rows only
    (invalid rows carry NULL, mirroring the CLI's refuse-to-emit).
    `form` mirrors the CLI flags: 'expanded' (default), 'flattened'
    (--flatten), 'compacted' (--compact ctx), 'flattened-compacted'
    (--flatten --compact ctx)."""
    from jsonschema_spark.operators.validate import validate

    val = validate(df, schema, doc_col=doc_col, **validate_kwargs)
    return val.withColumn(
        out_col,
        F.when(F.col(validate_kwargs.get("valid_col", "valid")),
               jsonld_expand(F.col(doc_col), schema, form=form, context=context)),
    )
