"""Evaluation contexts — how a compiled schema node reads its instance value.

The reference evaluates one JSON document at a time against a compiled
instruction tree (/root/reference/vendor/blaze/src/evaluator/evaluator.h:109).
We invert that: a *context* describes where a value lives inside a DataFrame
row, and every schema keyword compiles to a boolean Column over that context.

Two families:

- ``FlatColCtx`` — a typed column viewed as a JSON value. The instance is
  the row itself: ``FlatColCtx.row`` views it as an object whose members
  are the DataFrame's columns, as a struct column's members are its
  fields. JSON types are static (from the Spark schema), so type
  assertions constant-fold at compile time and the whole plan stays
  inside whole-stage codegen. A NULL column or struct field is an absent
  member; a NULL array element or map value is JSON null, so type tests
  on those read the value at run time.

- ``VariantCtx`` — the instance is a JSON document in a string column,
  parsed once via Spark 4 ``parse_json`` into a VARIANT. Each type test
  reads the value once (the reference tests one type tag against a set,
  ``AssertionTypeAny``): object and array by a cast that reads no member
  or the array read a loop makes anyway, null by ``is_variant_null``, and
  a scalar type by one ``schema_of_variant`` of the scalar; never by
  rendering a container's schema. Members come from variant path
  extraction, ``map<string,variant>`` casts, or, for a loop element, one
  cast per element to a struct of the member names its loop body reads
  (the reference reads an object once and dispatches its members,
  ``LoopPropertiesMatch``). Missing key → SQL NULL variant; JSON null →
  VOID variant — exactly the distinction the reference's evaluator makes
  between an absent property and a null value.

JSON type names follow the reference's ``type_name``
(/root/reference/vendor/blaze/src/evaluator/evaluator_describe.cc:33-53):
null, boolean, integer, number, string, array, object.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Callable, Optional, Union

from pyspark.sql import Column, functions as F, types as T

from jsonschema_spark.functions.canonical import canonical, canonical_const
from jsonschema_spark.functions.formats import format_ok

Cond = Union[bool, Column]  # static-foldable boolean

_INT64 = range(-(2**63), 2**63)  # integers a bigint literal can hold

# [0001-01-01T00:00Z, 9999-12-31T00:00Z) in microseconds, and [0001-01-01,
# 9999-12-31) in days: `str_val` renders these in any session timezone (Java
# offsets reach ±18 h) with a year from 0000 to 9999, which `date-time` and
# `date` accept (their regexes take any four-digit year and Feb 29)
_SAFE_MICROS = (-62135596800 * 10**6, 253402214400 * 10**6)
_SAFE_DAYS = (-719162, 2932896)


def B(x: Cond) -> Column:
    """Lift a static bool to a Column."""
    return F.lit(x) if isinstance(x, bool) else x


def S(x: Union[str, Column]) -> Column:
    return F.lit(x) if isinstance(x, str) else x


def and_(*conds: Cond) -> Cond:
    """Conjunction with static folding."""
    cols: list[Column] = []
    for c in conds:
        if c is False:
            return False
        if c is True:
            continue
        cols.append(c)
    if not cols:
        return True
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def or_(*conds: Cond) -> Cond:
    cols: list[Column] = []
    for c in conds:
        if c is True:
            return True
        if c is False:
            continue
        cols.append(c)
    if not cols:
        return False
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def not_(c: Cond) -> Cond:
    if isinstance(c, bool):
        return not c
    return ~c


def json_escape_col(col: Column) -> Column:
    """JSON-escape a string Column (quotes + backslashes; control chars are
    left as-is — the reference's message escaping is similarly minimal, see
    escape_string in evaluator_describe.cc:63-84)."""
    return F.concat(
        F.lit('"'),
        F.replace(
            F.replace(col, F.lit("\\"), F.lit("\\\\")),
            F.lit('"'),
            F.lit('\\"'),
        ),
        F.lit('"'),
    )


_IDENT_SAFE = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")


class Ctx:
    """Abstract instance-value context.

    ``loc`` is the JSON-pointer instance location (str when static, Column
    inside a loop over array elements or object keys). ``present`` is
    whether the value exists at all (absent property → keywords are
    vacuously satisfied, but ``required`` on the parent fails).
    """

    loc: Union[str, Column]
    present: Cond

    def loc_col(self) -> Column:
        return S(self.loc)

    # --- type system -------------------------------------------------
    def tag(self) -> Union[str, Column]:
        """JSON type name of the value (reference type_name semantics;
        reals/decimals → 'number', never 'integer' even when integral —
        integer unification happens in is_type)."""
        raise NotImplementedError

    def is_type(self, t: str) -> Cond:
        """Loose JSON Schema type test: 'integer' accepts reals with zero
        fraction; 'number' accepts integers (evaluator_dispatch.h:828-837)."""
        raise NotImplementedError

    # --- scalar accessors (only meaningful under the right type guard) ---
    def str_val(self) -> Column:
        raise NotImplementedError

    def num_val(self) -> Column:
        raise NotImplementedError

    def int_val(self) -> Optional[Column]:
        """The value read exactly as an integer (bigint or decimal(p,0))
        where it is integer-typed, NULL elsewhere; None when it never is."""
        return None

    def bool_val(self) -> Column:
        raise NotImplementedError

    def format_ok(self, fmt: str) -> Column:
        """Whether the value, read as a string, is valid under ``format: fmt``."""
        return format_ok(fmt, self.str_val())

    # --- containers ---------------------------------------------------
    def arr(self) -> Column:
        """array column (elements as VARIANT in the tree path)."""
        raise NotImplementedError

    def arr_size(self) -> Column:
        return F.size(self.arr())

    def element_ctx_factory(self) -> Callable[[Column, Column], "Ctx"]:
        """(element, index) -> Ctx of an element read by index."""
        raise NotImplementedError

    def loop_elements(self, names: tuple):
        """``(array, factory)`` of an element loop: the array a higher-order
        function runs over, and ``factory(element, index)`` -> the
        element's Ctx inside its lambda. ``names`` are the member names the
        loop body reads from each element by name; a context may bind them
        once per element."""
        return self.arr(), self.element_ctx_factory()

    def obj_keys(self) -> Column:
        raise NotImplementedError

    def obj_size(self) -> Column:
        return F.size(self.obj_keys())

    def get_prop(self, name: str) -> "Ctx":
        raise NotImplementedError

    def prop_names(self) -> Optional[list[str]]:
        """The object's member names when they are static (a NULL member
        is absent at run time), or None when only ``loop_members`` lists
        them."""
        return None

    def loop_members(self, names: tuple):
        """``(entries, key_of, member_of)`` of a member loop over an object
        whose members are known per row: the array a higher-order function
        runs over, and an entry's key Column and member Ctx inside its
        lambda. ``names`` as for ``loop_elements``."""
        raise NotImplementedError

    def unique_items(self) -> Column:
        """Whether the array's elements are pairwise distinct (deep
        equality, AssertionUnique)."""
        raise NotImplementedError

    def item_reprs(self) -> Column:
        """The array's elements rendered as JSON strings."""
        raise NotImplementedError

    # --- equality & rendering -----------------------------------------
    def eq_const(self, value) -> Cond:
        """Deep structural equality to a python JSON constant
        (AssertionEqual, evaluator_dispatch.h:697-712)."""
        return self.eq_any([value])

    def eq_any(self, values: list) -> Cond:
        """Deep equality to one of ``values`` (``enum``): scalars compare
        one by one, and the containers as one IN list over a single
        canonical rendering of the value."""
        containers = [x for x in values if isinstance(x, (dict, list))]
        return or_(*[self._eq_scalar(x) for x in values if not isinstance(x, (dict, list))],
                   self._eq_structured(containers) if containers else False)

    def _eq_scalar(self, value) -> Cond:
        """Equality to a scalar constant: null, a boolean, a number or a string."""
        raise NotImplementedError

    def _eq_structured(self, values: list) -> Cond:
        """Deep equality to one of the object and array constants ``values``."""
        return False

    def json_repr(self) -> Column:
        """Stringified JSON of the value, for error messages
        (describe_stringify)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# Flat path: instance = the DataFrame row, properties = typed columns
# ---------------------------------------------------------------------------


def _exact_double(value: int):
    """``value`` as a float when the double holds it exactly, else None."""
    try:
        as_double = float(value)
    except OverflowError:
        return None
    return as_double if int(as_double) == value else None


def _integral(d: Column) -> Column:
    """A double with zero fraction. ``floor`` would cast to bigint and
    saturate, so 2^70 would read as fractional."""
    return d % F.lit(1.0) == F.lit(0.0)


def _dtype_tag(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.StringType, T.TimestampType, T.DateType, T.BinaryType)):
        # timestamps/dates surface as their RFC 3339 string rendering;
        # binary surfaces as its base64 string rendering
        return "string"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, T.NullType):
        return "null"
    return "string"


class MissingCtx(Ctx):
    """A property that statically does not exist (no such column)."""

    def __init__(self, loc: Union[str, Column]):
        self.loc = loc
        self.present: Cond = False

    def tag(self):
        return "null"

    def is_type(self, t: str) -> Cond:
        return False

    def prop_names(self) -> list[str]:
        return []

    def _eq_scalar(self, value) -> Cond:
        return False

    def json_repr(self) -> Column:
        return F.lit("null")


def _quoted_col(name: str) -> Column:
    """The column named ``name``: quoted, so a dot is part of the name
    rather than struct-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


class FlatColCtx(Ctx):
    """A single typed column viewed as a JSON value. ``member(name)`` reads
    a struct's member column: a field, or a column of the row. A
    ``nullable`` value (an array element or map value, which is present
    whether or not it is NULL) reads NULL as JSON null."""

    def __init__(self, col: Optional[Column], dtype: T.DataType, loc: Union[str, Column],
                 present: Cond | None = None, member: Callable[[str], Column] | None = None,
                 nullable: bool = False):
        self._col = col
        self.dtype = dtype
        self.loc = loc
        self.present = col.isNotNull() if present is None else present
        self.member = member or col.getField
        self._tag = _dtype_tag(dtype)
        self.nullable = nullable and self._tag != "null"

    @classmethod
    def row(cls, schema: T.StructType) -> "FlatColCtx":
        """The whole row as a JSON object: its members are the columns."""
        return cls(None, schema, "", present=True, member=_quoted_col)

    @classmethod
    def value(cls, col: Column, dtype: T.DataType, loc: Union[str, Column]) -> "FlatColCtx":
        """An array element or map value: always present, JSON null when NULL."""
        return cls(col, dtype, loc, present=True, nullable=True)

    @property
    def col(self) -> Column:
        if self._col is None:  # the row: a struct of its columns, built only when read
            self._col = F.struct(*[self.member(n).alias(n) for n in self.prop_names()])
        return self._col

    def tag(self):
        if self.nullable:
            return F.when(self.col.isNull(), F.lit("null")).otherwise(F.lit(self._tag))
        return self._tag

    def is_type(self, t: str) -> Cond:
        if self.nullable:
            if t == "null":
                return self.col.isNull()
            return and_(self.col.isNotNull(), self._is_static_type(t))
        return self._is_static_type(t)

    def _is_static_type(self, t: str) -> Cond:
        """``is_type`` of a value that is not NULL."""
        if t == self._tag:
            return True
        if t == "number" and self._tag == "integer":
            return True
        if t == "integer" and self._tag == "number":
            # real with zero fraction counts as integer
            return _integral(self.col.cast("double"))
        return False

    def str_val(self) -> Column:
        if isinstance(self.dtype, T.TimestampType):
            return F.date_format(self.col, "yyyy-MM-dd'T'HH:mm:ss'Z'")
        if isinstance(self.dtype, T.DateType):
            return F.date_format(self.col, "yyyy-MM-dd")
        if isinstance(self.dtype, T.BinaryType):
            return F.base64(self.col)
        return self.col.cast("string")

    def format_ok(self, fmt: str) -> Column:
        """A timestamp under `date-time`, or a date under `date`, is valid
        by a range test inside the safe interval; only outside it is the
        rendering matched."""
        if fmt == "date-time" and isinstance(self.dtype, T.TimestampType):
            at, (lo, hi) = F.unix_micros(self.col), _SAFE_MICROS
        elif fmt == "date" and isinstance(self.dtype, T.DateType):
            at, (lo, hi) = F.unix_date(self.col), _SAFE_DAYS
        else:
            return super().format_ok(fmt)
        return F.when((at >= lo) & (at < hi), F.lit(True)).otherwise(super().format_ok(fmt))

    def num_val(self) -> Column:
        return self.col.cast("double")

    def int_val(self) -> Optional[Column]:
        integral = self._tag == "integer" or (isinstance(self.dtype, T.DecimalType) and self.dtype.scale == 0)
        return self.col if integral else None

    def bool_val(self) -> Column:
        return self.col.cast("boolean")

    def arr(self) -> Column:
        return self.col

    def element_ctx_factory(self):
        et = self.dtype.elementType if isinstance(self.dtype, T.ArrayType) else T.StringType()
        loc = self.loc

        def factory(x: Column, i: Column) -> Ctx:
            return FlatColCtx.value(x, et, F.concat(S(loc), F.lit("/"), i.cast("string")))

        return factory

    def obj_keys(self) -> Column:
        if isinstance(self.dtype, T.MapType):
            return F.map_keys(self.col)
        if isinstance(self.dtype, T.StructType):
            return F.filter(
                F.array(*[F.when(self.member(n).isNotNull(), F.lit(n)) for n in self.prop_names()]),
                lambda x: x.isNotNull(),
            )
        return F.array()

    def prop_names(self) -> Optional[list[str]]:
        if isinstance(self.dtype, T.StructType):
            return [f.name for f in self.dtype.fields]
        return None if isinstance(self.dtype, T.MapType) else []

    def loop_members(self, names: tuple):
        col, vt, loc = self.col, self.dtype.valueType, self.loc
        return (F.map_keys(col), lambda key: key,
                lambda key: FlatColCtx.value(F.element_at(col, key), vt, _child_loc(loc, key)))

    def get_prop(self, name: str) -> Ctx:
        child_loc = _child_loc(self.loc, name)
        if isinstance(self.dtype, T.StructType):
            names = {f.name: f for f in self.dtype.fields}
            if name not in names:
                return MissingCtx(child_loc)
            return FlatColCtx(self.member(name), names[name].dataType, child_loc)
        if isinstance(self.dtype, T.MapType):
            key = F.lit(name)
            return FlatColCtx(F.element_at(self.col, key), self.dtype.valueType, child_loc,
                              present=F.map_contains_key(self.col, key), nullable=True)
        return MissingCtx(child_loc)

    def _eq_scalar(self, value) -> Cond:
        if self.nullable:
            return self.col.isNull() if value is None else and_(self.col.isNotNull(), self._eq_value(value))
        return self._eq_value(value)

    def _eq_value(self, value) -> Cond:
        """``_eq_scalar`` of a value that is not NULL."""
        if value is None:
            return self._tag == "null"
        if isinstance(value, bool):
            return self.bool_val() == F.lit(value) if self._tag == "boolean" else False
        if isinstance(value, (int, float)):
            if self._tag not in ("integer", "number"):
                return False
            if isinstance(value, int):
                # integer constants compare exactly (AssertionEqual,
                # dispatch.h:697): the double path collides values beyond
                # 2^53. No integer column holds a constant beyond int64, no
                # decimal one a constant with more integral digits than it
                # has, and a real equals one only when it is a double.
                if self._tag == "integer":
                    return self.col.cast("long") == F.lit(value) if value in _INT64 else False
                if isinstance(self.dtype, T.DecimalType):
                    fits = abs(value) < 10 ** (self.dtype.precision - self.dtype.scale)
                    return self.col == F.lit(Decimal(value)) if fits else False
                if _exact_double(value) is None:
                    return False
            return self.num_val() == F.lit(float(value))
        return self.str_val() == F.lit(value) if self._tag == "string" else False

    def _eq_structured(self, values: list) -> Cond:
        if isinstance(self.dtype, T.StructType):
            eq = or_(*[self._eq_struct(v) for v in values])
        elif self._tag in ("array", "object"):  # an array or a map
            eq = _flat_canonical(self.col).isin(*[canonical_const(v) for v in values])
        else:
            return False
        return and_(self.col.isNotNull(), eq) if self.nullable else eq

    def _eq_struct(self, value) -> Cond:
        """Member by member: a NULL member is an absent one, never a JSON null."""
        names = self.prop_names()
        if not isinstance(value, dict) or any(k not in names for k in value):
            return False
        conds: list[Cond] = []
        for name in names:
            child = self.get_prop(name)
            if name in value:
                conds.append(and_(child.present, child.eq_const(value[name])))
            else:
                conds.append(not_(B(child.present)))
        return and_(*conds)

    def json_repr(self) -> Column:
        if self.nullable:
            return F.when(self.col.isNull(), F.lit("null")).otherwise(self._value_repr())
        return self._value_repr()

    def _value_repr(self) -> Column:
        """``json_repr`` of a value that is not NULL."""
        if self._tag == "string":
            return json_escape_col(self.str_val())
        if self._tag == "boolean":
            return self.col.cast("string")
        if self._tag in ("integer", "number"):
            return self.col.cast("string")
        if self._tag in ("array", "object"):
            return F.to_json(self.col)
        return F.lit("null")

    def unique_items(self) -> Column:
        # a Spark array holds one element type, so scalar elements compare
        # exactly; container elements compare by canonical rendering
        if isinstance(self.dtype.elementType, (T.StructType, T.MapType, T.ArrayType)):
            return _all_distinct(self.col, _flat_canonical)
        return F.size(F.array_distinct(self.col)) == F.size(self.col)

    def item_reprs(self) -> Column:
        et = self.dtype.elementType
        return F.transform(self.col, lambda x: FlatColCtx.value(x, et, "").json_repr())


def _flat_canonical(col: Column) -> Column:
    """Canonical rendering of a flat array, map or struct value: through a
    VARIANT, whose ``to_json`` sorts object keys."""
    return canonical(F.parse_json(F.to_json(col)))


def _all_distinct(arr: Column, key: Callable[[Column], Column]) -> Column:
    """Whether no two elements of ``arr`` have the same ``key``."""
    return F.size(F.array_distinct(F.transform(arr, key))) == F.size(arr)


def _child_loc(loc: Union[str, Column], name: Union[str, Column]) -> Union[str, Column]:
    """The location of member ``name`` (a static name or a key Column) of
    the value at ``loc``, escaped per RFC 6901."""
    if isinstance(name, Column):
        return F.concat(S(loc), F.lit("/"), F.replace(F.replace(name, F.lit("~"), F.lit("~0")),
                                                      F.lit("/"), F.lit("~1")))
    token = name.replace("~", "~0").replace("/", "~1")
    if isinstance(loc, str):
        return f"{loc}/{token}"
    return F.concat(loc, F.lit("/" + token))


# ---------------------------------------------------------------------------
# Tree path: instance = a VARIANT value (parsed JSON document)
# ---------------------------------------------------------------------------

# ``schema_of_variant`` renderings of JSON scalars. A numeric type is named
# by its first three letters (DECIMAL carries its precision and scale).
# parse_json stores an integer within int64 as BIGINT, and an integer
# beyond it, or a real without a fraction such as 1.0 or
# 9007199254740993.0, as DECIMAL(p,0); both read exactly as decimal(38,0).
_REAL3 = ("DOU", "FLO", "DEC")
_NUM3 = ("BIG", "INT", "SMA", "TIN") + _REAL3
_INT_TYPES = ("BIGINT", "INT", "SMALLINT", "TINYINT")
_WIDE_INT_TYPES = tuple(f"DECIMAL({p},0)" for p in range(1, 39))
_SCALAR_TAGS = {"STRING": "string", "BOOLEAN": "boolean", "BIGINT": "integer", "INT": "integer",
                "SMALLINT": "integer", "TINYINT": "integer"}


def _struct_ddl(names: tuple) -> str:
    """``struct<`n1`: variant, ...>``: the object of a loop element cast so
    that each name is one field read."""
    return "struct<" + ", ".join("`" + n.replace("`", "``") + "`: variant" for n in names) + ">"


def _struct_names(names) -> tuple:
    """``names`` less those equal to an earlier one but for case: the cast
    matches names case-sensitively, but a struct with both ``sku`` and
    ``Sku`` cannot be read by field name, so the later one is read by path."""
    first: dict = {}
    for n in names:
        first.setdefault(n.lower(), n)
    return tuple(first.values())


def _loop_ctx(value: Column, loc: Column, names: tuple, bound: Column) -> "VariantCtx":
    """The Ctx of loop element ``value``; with ``names``, ``bound`` is its
    binding, whose field ``o`` is the element cast to their struct."""
    if not names:
        return VariantCtx(value, loc)
    return VariantCtx(value, loc, obj=bound.getField("o"), names=names)


class VariantCtx(Ctx):
    """A VARIANT value (Spark 4) viewed as a JSON value.

    Each JSON type test reads the value once:

    - object: ``try_variant_get(v, '$', 'struct<>') IS NOT NULL``, a cast
      that reads no member; array: ``arr() IS NOT NULL``, the array read
      the loop over it makes anyway; null: ``is_variant_null(v)``. None of
      them renders the subtree, as ``schema_of_variant`` does.
    - string, boolean, number and integer compare one ``schema_of_variant``
      of the scalar as a whole: ``STRING``, ``BOOLEAN``, or its first three
      letters against the numeric types. DECIMAL/DOUBLE/FLOAT are 'number';
      'integer' is a number whose double has no fraction.

    A loop element (``loop_elements``/``loop_members``) can be *bound*:
    cast once per element to ``struct<n1: variant, ...>`` over the member
    names its loop body reads (``obj``, ``names``), so each of those members
    is a field read instead of a path read that rebuilds the value, and
    ``obj IS NOT NULL`` is its object test. The cast matches names
    case-sensitively (``Sku`` is not ``sku``); a JSON-null member is a
    VOID variant and an absent one SQL NULL, as for a path read; a
    non-object casts to a NULL struct. A name outside ``names`` is read by
    path. Loop bodies run inside higher-order functions, which Spark
    evaluates without generated code and without sharing repeated reads;
    the root is left unbound, since its projection's generated code shares
    them already.
    """

    def __init__(self, v: Column, loc: Union[str, Column], present: Cond | None = None,
                 obj: Column | None = None, names: tuple = ()):
        self.v = v
        self.loc = loc
        self.present = v.isNotNull() if present is None else present
        self.obj = obj
        self.names = names

    def _schema(self) -> Column:
        return F.schema_of_variant(self.v)

    def _object(self) -> Column:
        """The value as a struct (of the bound names), NULL for a non-object."""
        return self.obj if self.obj is not None else F.try_variant_get(self.v, "$", "struct<>")

    def tag(self) -> Column:
        tags = F.create_map(*[F.lit(x) for kv in _SCALAR_TAGS.items() for x in kv])
        scalar = F.coalesce(F.try_element_at(tags, self._schema()), F.lit("number"))
        return (F.when(self.is_type("object"), "object").when(self.is_type("array"), "array")
                .when(self.is_type("null"), "null").otherwise(scalar))

    def is_type(self, t: str) -> Cond:
        if t == "object":
            return self._object().isNotNull()
        if t == "array":
            return self.arr().isNotNull()
        if t == "null":
            return F.is_variant_null(self.v)
        if t in ("string", "boolean"):
            return self._schema() == F.lit(t.upper())
        number = F.substring(self._schema(), 1, 3).isin(*_NUM3)
        if t == "number":
            return number
        if t == "integer":
            return number & _integral(self.num_val())
        raise ValueError(f"unknown type {t}")

    def str_val(self) -> Column:
        return F.try_variant_get(self.v, "$", "string")

    def num_val(self) -> Column:
        return F.try_variant_get(self.v, "$", "double")

    def int_val(self) -> Column:
        return F.when(self._schema().isin(*_INT_TYPES, *_WIDE_INT_TYPES), self._exact_int())

    def _exact_int(self) -> Column:
        return F.try_variant_get(self.v, "$", "decimal(38,0)")

    def bool_val(self) -> Column:
        return F.try_variant_get(self.v, "$", "boolean")

    def arr(self) -> Column:
        return F.try_variant_get(self.v, "$", "array<variant>")

    def element_ctx_factory(self):
        loc = self.loc

        def factory(x: Column, i: Column) -> Ctx:
            return VariantCtx(x, F.concat(S(loc), F.lit("/"), i.cast("string")))

        return factory

    def loop_elements(self, names):
        loc, names = self.loc, _struct_names(names)
        arr = self.arr()
        if names:
            ddl = _struct_ddl(names)
            arr = F.transform(arr, lambda x: F.struct(
                x.alias("v"), F.try_variant_get(x, "$", ddl).alias("o")))

        def factory(b: Column, i: Column) -> Ctx:
            x = b.getField("v") if names else b
            return _loop_ctx(x, F.concat(S(loc), F.lit("/"), i.cast("string")), names, b)

        return arr, factory

    def _as_map(self) -> Column:
        return F.try_variant_get(self.v, "$", "map<string,variant>")

    def obj_keys(self) -> Column:
        return F.map_keys(self._as_map())

    def get_prop(self, name: str) -> Ctx:
        child_loc = _child_loc(self.loc, name)
        if name in self.names:
            child = self.obj.getField(name)
        elif all(c in _IDENT_SAFE for c in name) and name and not name[0].isdigit():
            child = F.try_variant_get(self.v, f"$.{name}", "variant")
        else:
            child = F.element_at(self._as_map(), F.lit(name))
        return VariantCtx(child, child_loc)

    def loop_members(self, names):
        loc, names = self.loc, _struct_names(names)
        entries = F.map_entries(self._as_map())
        if names:
            ddl = _struct_ddl(names)
            entries = F.transform(entries, lambda e: F.struct(
                e.getField("key").alias("key"), e.getField("value").alias("value"),
                F.try_variant_get(e.getField("value"), "$", ddl).alias("o")))

        def member(e: Column) -> Ctx:
            return _loop_ctx(e.getField("value"), _child_loc(loc, e.getField("key")), names, e)

        return entries, lambda e: e.getField("key"), member

    def _eq_scalar(self, value) -> Cond:
        if value is None:
            return self.is_type("null")
        if isinstance(value, bool):
            return self.is_type("boolean") & (self.bool_val() == F.lit(value))
        if isinstance(value, int):
            # within int64 an integer-typed instance compares exactly, and
            # beyond it a DECIMAL(p,0) one; a real equals the constant only
            # when the double holds the constant exactly, and beyond int64
            # only when it is a double (a decimal with a fraction may round
            # onto it)
            exact_types = _INT_TYPES if value in _INT64 else _WIDE_INT_TYPES
            exact = (self._schema().isin(*exact_types) & (self._exact_int() == F.lit(Decimal(value)))
                     if abs(value) < 10**38 else False)
            as_double = _exact_double(value)
            if as_double is None:
                return exact
            reals = _REAL3 if value in _INT64 else _REAL3[:2]
            real = F.substring(self._schema(), 1, 3).isin(*reals) & (self.num_val() == F.lit(as_double))
            return or_(exact, real)
        if isinstance(value, float):
            return B(self.is_type("number")) & (self.num_val() == F.lit(float(value)))
        return B(self.is_type("string")) & (self.str_val() == F.lit(value))

    def _eq_structured(self, values: list) -> Cond:
        return canonical(self.v).isin(*[canonical_const(v) for v in values])

    def json_repr(self) -> Column:
        return F.to_json(self.v)

    def unique_items(self) -> Column:
        return _all_distinct(self.arr(), canonical)

    def item_reprs(self) -> Column:
        return F.transform(self.arr(), lambda x: F.to_json(x))
