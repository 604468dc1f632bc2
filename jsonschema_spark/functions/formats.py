"""`format` keyword validators (SURVEY.md §2.4; reference: vendor/core
format modules, dispatched at evaluator_dispatch.h:893-965).

Each format is defined ONCE as a spec carrying:
- a Spark Column builder (pure JVM expressions — regex + length conditions,
  no Python in the hot path), and
- a DuckDB SQL template (`{c}` = column) expressing the *same* predicate,
  used by ``__spark_entry__.oracle_sql`` so engine and oracle cannot drift.

Both sides use unanchored regex search (`rlike` / `regexp_matches`) with
explicit `^...$` anchors, and regex syntax in the Java∩RE2 common subset
(no lookaround, no backrefs).

Fidelity notes vs the reference: `uri`/`email`/`hostname` etc. are validated
by full RFC parsers in vendor/core; we use tight regex approximations
(documented per-format below). `regex` format (compile-try) is the one
validator that needs Python — an Arrow-batched pandas UDF.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import Column, functions as F


@dataclass(frozen=True)
class FormatSpec:
    name: str
    build: Callable[[Column], Column]  # string Column -> boolean Column
    duckdb: str  # SQL template over {c}
    in_python: bool = False  # build is a pandas UDF


def _rx(col: Column, pattern: str) -> Column:
    return col.rlike(pattern)


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
RE_EMAIL = r"^[A-Za-z0-9.!#$%&'*+/=?^_`{|}~-]+@" + _LABEL[0:]
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


def _simple(name: str, pattern: str) -> FormatSpec:
    return FormatSpec(
        name=name,
        build=lambda c, p=pattern: _rx(c, p),
        duckdb=f"regexp_matches({{c}}, '{pattern.replace(chr(39), chr(39) * 2)}')",
    )


def _uri_spec(name: str, pattern: str) -> FormatSpec:
    # charset/shape regex AND every '%' is a valid escape
    dd_pat = pattern.replace("'", "''")
    dd_bad = RE_BAD_PCT.replace("'", "''")
    return FormatSpec(
        name=name,
        build=lambda c, p=pattern: _rx(c, p) & ~_rx(c, RE_BAD_PCT),
        duckdb=f"(regexp_matches({{c}}, '{dd_pat}') AND NOT regexp_matches({{c}}, '{dd_bad}'))",
    )


def _hostname_spec(name: str) -> FormatSpec:
    return FormatSpec(
        name=name,
        build=lambda c: _rx(c, RE_HOSTNAME) & (F.length(c) <= 253),
        duckdb=f"(regexp_matches({{c}}, '{RE_HOSTNAME}') AND length({{c}}) <= 253)",
    )


def _duration_spec() -> FormatSpec:
    # RFC 3339 appendix-A duration: shape regex, non-empty designator list,
    # and no dangling 'T'
    return FormatSpec(
        name="duration",
        build=lambda c: _rx(c, RE_DURATION) & (F.length(c) > 1) & ~c.endswith("T"),
        duckdb=(
            f"(regexp_matches({{c}}, '{RE_DURATION}') AND length({{c}}) > 1 "
            f"AND NOT {{c}} LIKE '%T')"
        ),
    )


def _regex_format_spec() -> FormatSpec:
    # compile-try needs Python: Arrow-batched pandas UDF (slow path by design)
    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def _is_valid_regex(s: pd.Series) -> pd.Series:
        import re

        def ok(p):
            if p is None:
                return None
            try:
                re.compile(p)
                return True
            except re.error:
                return False

        return s.map(ok)

    return FormatSpec(
        name="regex",
        build=lambda c: _is_valid_regex(c),
        # oracle approximation: DuckDB can't compile-try; balanced-ish check
        duckdb="TRUE",
        in_python=True,
    )


FORMATS: dict[str, FormatSpec] = {
    s.name: s
    for s in [
        _uri_spec("uri", RE_URI),
        _uri_spec("uri-reference", RE_URI_REF),
        _uri_spec("iri", RE_URI),  # approximation: ASCII validation of IRIs
        _uri_spec("iri-reference", RE_URI_REF),
        _simple("uri-template", RE_URI_TEMPLATE),
        _simple("date-time", RE_DATE_TIME),
        _simple("date", RE_DATE),
        _simple("time", RE_TIME),
        _simple("partial-time", RE_PARTIAL_TIME),
        _duration_spec(),
        _simple("ipv4", RE_IPV4),
        _simple("ipv6", RE_IPV6),
        _hostname_spec("hostname"),
        _hostname_spec("idn-hostname"),  # approximation: ASCII labels
        _simple("email", RE_EMAIL),
        _simple("idn-email", RE_EMAIL),  # approximation
        _simple("uuid", RE_UUID),
        _simple("json-pointer", RE_JSON_POINTER),
        _simple("relative-json-pointer", RE_REL_JSON_POINTER),
        _simple("color", RE_CSS_COLOR),
        _regex_format_spec(),
    ]
}


def format_ok(fmt: str, col: Column) -> Column:
    return FORMATS[fmt].build(col)


def format_py(fmt: str, value: str) -> bool:
    """Driver-side (pure-Python) twin of ``format_ok`` over the SAME
    regex constants — used by the lint-time instance evaluator
    (plans/pyeval.py) so `valid_default`/`valid_examples` agree with the
    Spark-side assertion. Unknown formats are annotations → True."""
    import re as _re

    if fmt not in FORMATS or not isinstance(value, str):
        return True
    if fmt == "regex":
        try:
            _re.compile(value)
            return True
        except _re.error:
            return False
    base = {
        "uri": RE_URI, "uri-reference": RE_URI_REF,
        "iri": RE_URI, "iri-reference": RE_URI_REF,
        "uri-template": RE_URI_TEMPLATE, "date-time": RE_DATE_TIME,
        "date": RE_DATE, "time": RE_TIME, "partial-time": RE_PARTIAL_TIME,
        "duration": RE_DURATION, "ipv4": RE_IPV4, "ipv6": RE_IPV6,
        "hostname": RE_HOSTNAME, "idn-hostname": RE_HOSTNAME,
        "email": RE_EMAIL, "idn-email": RE_EMAIL, "uuid": RE_UUID,
        "json-pointer": RE_JSON_POINTER,
        "relative-json-pointer": RE_REL_JSON_POINTER, "color": RE_CSS_COLOR,
    }[fmt]
    if not _re.search(base, value):
        return False
    if fmt in ("uri", "uri-reference", "iri", "iri-reference"):
        return not _re.search(RE_BAD_PCT, value)
    if fmt in ("hostname", "idn-hostname"):
        return len(value) <= 253
    if fmt == "duration":
        return len(value) > 1 and not value.endswith("T")
    return True


# --- strict (parser-grade) variants -----------------------------------------
# The reference validates uri/iri/idn-* with full RFC parsers
# (vendor/core/src/core/uri, core/idna, core/email). The default Spark path
# keeps the documented ASCII regex approximations (pure JVM, oracle-safe);
# `format_strict=True` at compile time routes these four formats through an
# Arrow-batched pandas UDF running the parser-grade checks below (stdlib
# IDNA ToASCII for internationalized hostnames, RFC 3987 ucschar handling
# for IRIs). The slow path by design — only these formats pay it.

_STRICT_FORMATS = frozenset({"idn-hostname", "idn-email", "iri", "iri-reference"})


def _idna_ascii(host: str):
    """IDNA ToASCII of a full hostname (stdlib encodings.idna), or None."""
    if not host or host.endswith(".") or host.startswith("."):
        return None
    try:
        return host.encode("idna").decode("ascii")
    except UnicodeError:
        return None


def format_py_strict(fmt: str, value: str) -> bool:
    import re as _re

    if not isinstance(value, str):
        return True
    if fmt == "idn-hostname":
        a = _idna_ascii(value)
        return a is not None and len(a) <= 253 and bool(_re.search(RE_HOSTNAME, a))
    if fmt == "idn-email":
        local, sep, dom = value.rpartition("@")
        if not sep or not local:
            return False
        if any(c.isspace() or c == "@" or ord(c) < 0x21 for c in local):
            return False
        a = _idna_ascii(dom)
        return a is not None and len(a) <= 253 and bool(_re.search(RE_HOSTNAME, a))
    if fmt in ("iri", "iri-reference"):
        # RFC 3987: the ASCII grammar of RFC 3986 plus ucschar (non-ASCII,
        # excluding control/space/specials); validate the ASCII projection
        # against the URI regex with ucschars mapped to an unreserved char
        for c in value:
            o = ord(c)
            if o < 0x20 or (0x7F <= o < 0xA0) or c in ' <>"{}|\\^`' or c == "�":
                return False
        projected = "".join(c if ord(c) < 128 else "x" for c in value)
        base = RE_URI if fmt == "iri" else RE_URI_REF
        return bool(_re.search(base, projected)) and not _re.search(RE_BAD_PCT, value)
    return format_py(fmt, value)


_STRICT_UDFS: dict = {}


def format_ok_strict(fmt: str, col: Column) -> Column:
    """Strict builder: parser-grade pandas UDF for the four approximated
    formats, the standard JVM expression for everything else."""
    if fmt not in _STRICT_FORMATS:
        return format_ok(fmt, col)
    if fmt not in _STRICT_UDFS:
        from pyspark.sql.types import BooleanType

        def _make(f):  # close over the format name (pandas_udf rejects extra params)
            @F.pandas_udf(BooleanType())
            def _udf(s: pd.Series) -> pd.Series:
                return s.map(lambda v: None if v is None else format_py_strict(f, v))

            return _udf

        _STRICT_UDFS[fmt] = _make(fmt)
    return _STRICT_UDFS[fmt](col)


def format_duckdb(fmt: str, col_sql: str) -> str:
    # plain replace, NOT str.format: the templates embed regex quantifier
    # braces ({1,4}) that str.format would treat as replacement fields
    return FORMATS[fmt].duckdb.replace("{c}", col_sql)
