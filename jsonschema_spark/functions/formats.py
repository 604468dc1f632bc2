"""`format` keyword validators (SURVEY.md §2.4; reference: vendor/core
format modules, dispatched at evaluator_dispatch.h:893-965).

Each format is declared ONCE, as data (``FormatSpec``): a regex, an
optional rejecting regex, length bounds and a forbidden suffix. The three
evaluators are derived from those fields: ``build`` (a Spark Column, pure
JVM expressions), ``duckdb`` (the same predicate in DuckDB SQL, used by
``__spark_entry__.oracle_sql``) and ``py`` (driver-side, for
``plans/pyeval.py``), so engine, oracle and lint cannot drift.

The regexes carry explicit `^...$` anchors and use the Java∩RE2 common
subset (no lookaround, no backrefs). ``duckdb`` and ``py`` search them
unanchored (`regexp_matches` / `re.search`) and count code points with
`length` / `len`, as plain readings of the declaration. ``build`` gives
the same verdicts more cheaply: it bounds lengths by byte count first
(``strings.code_points_between``) and runs the rejecting regex only on
values that hold its leading literal (``strings.leading_literal``: `%`
for the URI formats). A typed column can skip the regex altogether
(``plans/context.py`` ``FlatColCtx.format_ok``).

Fidelity notes vs the reference: `uri`/`email`/`hostname` etc. are validated
by full RFC parsers in vendor/core; we use tight regex approximations
(documented per-format below; `iri`, `idn-hostname` and `idn-email` accept
ASCII only). The `regex` format is the one validator that needs Python: a
value is valid iff it compiles as a `pattern` does
(``functions/strings.py`` ``regex_compiles``), in an Arrow-batched pandas
UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column

from jsonschema_spark.functions.strings import code_points_between, leading_literal, regex_compiles, regex_ok

# --- component regexes (shared text between Spark and DuckDB) ---------------

# month-aware day ranges; Feb admits 29 every year (leap-year arithmetic is
# the one RFC 3339 full-date rule a regex can't carry — documented approx.)
_DATE = (
    r"\d{4}-((0[13578]|1[02])-(0[1-9]|[12]\d|3[01])"
    r"|(0[469]|11)-(0[1-9]|[12]\d|30)"
    r"|02-(0[1-9]|1\d|2\d))"
)
_TIME = r"([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?"
_TZ = r"([Zz]|[+-]([01]\d|2[0-3]):[0-5]\d)"
RE_DATE_TIME = f"^{_DATE}[Tt]{_TIME}{_TZ}$"
RE_DATE = f"^{_DATE}$"
RE_TIME = f"^{_TIME}{_TZ}$"
RE_PARTIAL_TIME = r"^([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)$"
RE_IPV4 = r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$"
# IPv6: full, compressed (::), and IPv4-suffixed forms, lookahead-free
_H16 = r"[0-9A-Fa-f]{1,4}"
RE_IPV6 = (
    "^("
    + f"({_H16}:){{7}}{_H16}"
    + f"|({_H16}:){{1,7}}:"
    + f"|:(:{_H16}){{1,7}}"
    + f"|({_H16}:){{1,6}}:{_H16}"
    + f"|({_H16}:){{1,5}}(:{_H16}){{2}}"
    + f"|({_H16}:){{1,4}}(:{_H16}){{3}}"
    + f"|({_H16}:){{1,3}}(:{_H16}){{4}}"
    + f"|({_H16}:){{1,2}}(:{_H16}){{5}}"
    + "|::"
    + f"|({_H16}:){{1,4}}:{RE_IPV4[1:-1]}"
    + f"|::({_H16}:){{0,4}}{RE_IPV4[1:-1]}"
    + ")$"
)
RE_UUID = r"^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$"
_LABEL = r"[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
RE_HOSTNAME = f"^{_LABEL}(\\.{_LABEL})*$"
RE_EMAIL = r"^[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+(\.[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+)*@" + f"{_LABEL}(\\.{_LABEL})*$"
RE_JSON_POINTER = r"^(/([^/~]|~[01])*)*$"
RE_REL_JSON_POINTER = r"^(0|[1-9]\d*)(#|(/([^/~]|~[01])*)*)$"
# RFC 3986: scheme ":" then chars from the URI charset; percent-escapes checked separately
_URI_CHARS = r"[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=%]*"
RE_URI = f"^[A-Za-z][A-Za-z0-9+.-]*:{_URI_CHARS}$"
RE_URI_REF = f"^{_URI_CHARS}$"
RE_BAD_PCT = r"%([^0-9A-Fa-f]|[0-9A-Fa-f][^0-9A-Fa-f]|[0-9A-Fa-f]?$)"
RE_DURATION = r"^P(\d+W|(\d+Y)?(\d+M)?(\d+D)?(T(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?)$"
RE_URI_TEMPLATE = r"^([^{}]|\{[+#./;?&=,!@|]?[A-Za-z0-9_%.]+(:[1-9]\d{0,3}|\*)?(,[A-Za-z0-9_%.]+(:[1-9]\d{0,3}|\*)?)*\})*$"
RE_CSS_COLOR = (
    r"^(#[0-9A-Fa-f]{3}|#[0-9A-Fa-f]{6}|aqua|black|blue|fuchsia|gray|green|lime|maroon|navy|olive|orange|purple|red|silver|teal|white|yellow)$"
)


def _sql(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


@dataclass(frozen=True)
class FormatSpec:
    """A value is valid iff it matches ``pattern``, does not match
    ``reject``, is between ``min_len`` and ``max_len`` code points long and
    does not end with ``no_suffix``. ``in_python``: valid iff it compiles
    as a `pattern` (the `regex` format), in a pandas UDF."""

    pattern: str = ""
    reject: Optional[str] = None
    min_len: Optional[int] = None
    max_len: Optional[int] = None
    no_suffix: Optional[str] = None
    in_python: bool = False

    def build(self, c: Column) -> Column:
        """Boolean Column over the string Column ``c``."""
        if self.in_python:
            return regex_ok(c)
        ok = c.rlike(self.pattern)
        if self.reject:
            lead = leading_literal(self.reject)
            ok = ok & ~(c.rlike(self.reject) if lead is None else c.contains(lead) & c.rlike(self.reject))
        if self.max_len is not None or self.min_len is not None:
            ok = ok & code_points_between(c, self.min_len, self.max_len)
        if self.no_suffix:
            ok = ok & ~c.endswith(self.no_suffix)
        return ok

    def duckdb(self, c: str) -> str:
        """The same predicate in DuckDB SQL over the expression ``c``. The
        oracle cannot compile-try a regex: `regex` is TRUE there."""
        if self.in_python:
            return "TRUE"
        parts = [f"regexp_matches({c}, {_sql(self.pattern)})"]
        if self.reject:
            parts.append(f"NOT regexp_matches({c}, {_sql(self.reject)})")
        if self.max_len is not None:
            parts.append(f"length({c}) <= {self.max_len}")
        if self.min_len is not None:
            parts.append(f"length({c}) >= {self.min_len}")
        if self.no_suffix:
            parts.append(f"NOT {c} LIKE {_sql('%' + self.no_suffix)}")
        return "(" + " AND ".join(parts) + ")"

    def py(self, v: str) -> bool:
        """The same predicate over a Python string."""
        if self.in_python:
            return regex_compiles(v)
        return (re.search(self.pattern, v) is not None
                and not (self.reject and re.search(self.reject, v))
                and (self.max_len is None or len(v) <= self.max_len)
                and (self.min_len is None or len(v) >= self.min_len)
                and not (self.no_suffix and v.endswith(self.no_suffix)))


_URI = FormatSpec(RE_URI, reject=RE_BAD_PCT)  # and every '%' is a valid escape
_URI_REF = FormatSpec(RE_URI_REF, reject=RE_BAD_PCT)
_HOSTNAME = FormatSpec(RE_HOSTNAME, max_len=253)
_EMAIL = FormatSpec(RE_EMAIL)

FORMATS: dict[str, FormatSpec] = {
    "uri": _URI,
    "uri-reference": _URI_REF,
    "iri": _URI,  # approximation: ASCII validation of IRIs
    "iri-reference": _URI_REF,
    "uri-template": FormatSpec(RE_URI_TEMPLATE),
    "date-time": FormatSpec(RE_DATE_TIME),
    "date": FormatSpec(RE_DATE),
    "time": FormatSpec(RE_TIME),
    "partial-time": FormatSpec(RE_PARTIAL_TIME),
    # RFC 3339 appendix-A duration: shape regex, a non-empty designator
    # list and no dangling 'T'
    "duration": FormatSpec(RE_DURATION, min_len=2, no_suffix="T"),
    "ipv4": FormatSpec(RE_IPV4),
    "ipv6": FormatSpec(RE_IPV6),
    "hostname": _HOSTNAME,
    "idn-hostname": _HOSTNAME,  # approximation: ASCII labels
    "email": _EMAIL,
    "idn-email": _EMAIL,  # approximation
    "uuid": FormatSpec(RE_UUID),
    "json-pointer": FormatSpec(RE_JSON_POINTER),
    "relative-json-pointer": FormatSpec(RE_REL_JSON_POINTER),
    "color": FormatSpec(RE_CSS_COLOR),
    "regex": FormatSpec(in_python=True),
}


def format_ok(fmt: str, col: Column) -> Column:
    return FORMATS[fmt].build(col)


def format_duckdb(fmt: str, col_sql: str) -> str:
    return FORMATS[fmt].duckdb(col_sql)
