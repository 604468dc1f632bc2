"""String helpers: regex fast-path classification and code-point lengths.

The reference classifies compiled regexes into Prefix / NonEmpty / Range /
general-PCRE2 variants so common patterns skip the regex engine entirely
(/root/reference/vendor/core/src/core/regex/include/sourcemeta/core/regex.h:31-69).
We reproduce the same strategy: `^literal` → `startswith` (stays in codegen
with no regex state machine), `.+`-likes → `length >= 1`, `^.{a,b}$` →
`length between`, everything else → `rlike` after translation to the
reference's permissive-PCRE2 dialect (see the dialect-translation note
below), residuals → a Python `regex` pudf under the same translation.

String lengths are Unicode code points, not bytes, matching
`JSON::size(String)` (/root/reference/vendor/core/src/core/json/json_value.cc:509-524).
Spark's `length` on StringType already counts code points; the trap the
survey flags (byte-length in Arrow UDFs) is avoided by keeping length checks
JVM-side.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache, partial

import pandas as pd
from pyspark.sql import Column, functions as F

_META = set(".^$*+?()[]{}|\\")


@dataclass(frozen=True)
class RegexPlan:
    kind: str  # 'prefix' | 'nonempty' | 'range' | 'general'
    prefix: str | None = None
    lo: int | None = None
    hi: int | None = None


def classify_pattern(pattern: str) -> RegexPlan:
    if pattern in (".*", "^.*$", "", "^", "$"):
        return RegexPlan("range", lo=0, hi=None)
    if pattern in (".+", "^.+$", "^.+", ".+$"):
        return RegexPlan("nonempty")
    m = re.fullmatch(r"\^\.\{(\d+)(?:,(\d+))?\}\$", pattern)
    if m:
        lo = int(m.group(1))
        hi = int(m.group(2)) if m.group(2) else lo
        return RegexPlan("range", lo=lo, hi=hi)
    if pattern.startswith("^"):
        body = pattern[1:]
        if body.endswith(".*"):
            body = body[:-2]
        if body and not any(ch in _META for ch in body):
            return RegexPlan("prefix", prefix=body)
    return RegexPlan("general")


# --- dialect translation --------------------------------------------------
#
# The reference compiles `pattern` with PCRE2 under
# PCRE2_UTF | PCRE2_UCP | PCRE2_DOTALL | PCRE2_DOLLAR_ENDONLY |
# PCRE2_NEVER_BACKSLASH_C | PCRE2_ALLOW_EMPTY_CLASS
# (/root/reference/vendor/core/src/core/regex/regex.cc:45-47). Those flags
# are the AUTHORITATIVE semantics, and every execution route — Java rlike,
# the Python-regex pudf fallback, and the DuckDB RE2 oracle — is translated
# to reproduce them:
#   DOTALL          → prepend (?s); `.` matches line terminators
#   UCP             → Java: (?U); Python regex: Unicode default;
#                     RE2: \d→\p{Nd}, \w→[\p{L}\p{N}_], \s→Unicode ws class
#   DOLLAR_ENDONLY  → unescaped `$` outside classes → \z (Java/RE2) / \Z (Py)
#   ALLOW_EMPTY_CLASS → `[]` never matches → (?!) ; `[^]` any char → `.`
#                     (valid under the prepended (?s))
# plus two SILENT Java-vs-PCRE2 class divergences:
#   in-class `[`    → Java nested-class union; PCRE2 literal → escape for Java
#   in-class `&&`   → Java intersection; PCRE2 literal       → escape for Java
# A POSIX class (`[[:alpha:]]`) is neither: Java has no such class, and
# escaping its `[` would make it literal characters, so such a pattern
# takes the Python route (RE2's are ASCII where UCP's are Unicode: no
# oracle form either).
# Patterns carrying an inline multiline flag keep `$` untranslated (PCRE2
# ignores DOLLAR_ENDONLY under (?m), and so do Java/RE2 with (?m)).
_RISKY_RE = re.compile(r"\\c[A-Za-z]")  # PCRE2_NEVER_BACKSLASH_C: \c rejected
_QUANT_RE = re.compile(r"\{\d+(,\d*)?\}")
_POSIX_CLASS_RE = re.compile(r"\[:\^?[A-Za-z]+:\]")
_INLINE_M_RE = re.compile(r"\(\?[a-zA-Z-]*m[a-zA-Z-]*[):]")


def _translate_permissive(pattern: str, target: str) -> str | None:
    """Rewrite `pattern` from the reference's permissive PCRE2 dialect to an
    equivalent pattern for `target` ('java' | 'python' | 're2').
    Returns None when no faithful translation exists for the target."""
    if target == "re2":
        # constructs RE2 cannot express at all: backreferences, lookaround,
        # atomic groups / Java-style named groups, possessive quantifiers.
        # Detection must not fire on ESCAPED metachars ('\\1' is a literal
        # backslash + digit, not a backref): drop '\\\\' pairs before the
        # backref scan, then all remaining escapes before the construct
        # scans — deletion can only create false positives (conservative
        # fallback), never hide a real unescaped construct.
        no_bs_pairs = pattern.replace("\\\\", "")
        if re.search(r"\\[1-9]", no_bs_pairs):
            return None
        unescaped = re.sub(r"\\.", "", no_bs_pairs)
        if re.search(r"\(\?[=!<>]", unescaped):
            return None
        if re.search(r"[*+?}]\+", unescaped) or _POSIX_CLASS_RE.search(pattern):
            return None
    dollar = {"java": r"\z", "python": r"\Z", "re2": r"\z"}[target]
    keep_dollar = bool(_INLINE_M_RE.search(pattern))
    out = []
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            if target == "re2":
                if nxt == "u" and re.match(r"u[0-9a-fA-F]{4}", pattern[i + 1:]):
                    out.append("\\x{" + pattern[i + 2:i + 6] + "}")
                    i += 6
                    continue
                if nxt in "dD":
                    out.append("\\p{Nd}" if nxt == "d" else "\\P{Nd}")
                    i += 2
                    continue
                if nxt == "w":
                    out.append(r"\p{L}\p{N}_" if in_class else r"[\p{L}\p{N}_]")
                    i += 2
                    continue
                if nxt == "W":
                    if in_class:
                        return None
                    out.append(r"[^\p{L}\p{N}_]")
                    i += 2
                    continue
                if nxt == "s":
                    ws = "\\t\\n\\x0B\\f\\r\\x{85}\\p{Z}"
                    out.append(ws if in_class else "[" + ws + "]")
                    i += 2
                    continue
                if nxt == "S":
                    if in_class:
                        return None
                    out.append("[^\\t\\n\\x0B\\f\\r\\x{85}\\p{Z}]")
                    i += 2
                    continue
                if nxt in "bB":  # RE2 \b is ASCII-only; PCRE2 UCP is Unicode
                    return None
            out.append(c)
            out.append(nxt)
            i += 2
            continue
        if not in_class:
            if c == "[":
                # PCRE2_ALLOW_EMPTY_CLASS: '[]' / '[^]' are complete tokens
                if pattern.startswith("[]", i):
                    out.append("(?!)" if target != "re2" else "[^\\x{0}-\\x{10FFFF}]")
                    i += 2
                    continue
                if pattern.startswith("[^]", i):
                    out.append(".")  # (?s) is prepended — '.' is any char
                    i += 3
                    continue
                in_class = True
                out.append(c)
                i += 1
                continue
            if c == "$" and not keep_dollar:
                out.append(dollar)
                i += 1
                continue
            out.append(c)
            i += 1
            continue
        # inside a character class
        if c == "]":
            in_class = False
        elif target == "java" and c == "[":
            out.append("\\[")
            i += 1
            continue
        elif target == "java" and c == "&":
            out.append("\\&")
            i += 1
            continue
        out.append(c)
        i += 1
        continue
    prefix = {"java": "(?sU)", "python": "(?s)", "re2": "(?s)"}[target]
    return prefix + "".join(out)


def _java_dialect_safe(pattern: str) -> bool:
    if _RISKY_RE.search(pattern) or _POSIX_CLASS_RE.search(pattern):
        return False
    # a '{' that does not open a valid quantifier is a PCRE2 literal but a
    # Java syntax hazard
    for m in re.finditer(r"(?<!\\)\{", pattern):
        if not _QUANT_RE.match(pattern, m.start()):
            return False
    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # e.g. '[a&&b]' set-op FutureWarning
            re.compile(pattern.replace("[^]", ".").replace("[]", "(?!)"))
    except re.error:
        return False
    return True


@lru_cache(maxsize=4096)
def _compiled_permissive_py(pattern: str):
    """Translate + compile once per distinct pattern: callers invoke
    permissive_search_py per instance / per property name in driver-side
    loops (pyeval, lint valid_default/valid_examples), so re-translation
    per call dominated their cost. None = pattern does not compile."""
    try:
        import regex as _re_mod
    except ImportError:  # pragma: no cover
        import re as _re_mod
    translated = _translate_permissive(pattern, "python")
    try:
        return _re_mod.compile(translated)
    except Exception:
        return None


def permissive_search_py(pattern: str, value: str | None) -> bool | None:
    """Driver-side reference evaluator: unanchored search with the Python
    `regex` module under the translated permissive-PCRE2 semantics. This is
    the oracle the divergence corpus (tests/test_regex_dialect.py) holds
    every execution route to."""
    if value is None:
        return None
    rx = _compiled_permissive_py(pattern)
    if rx is None:
        return False
    return bool(rx.search(value))


def regex_compiles(pattern: str) -> bool:
    """Whether ``pattern`` is a valid regular expression: it compiles under
    the permissive-PCRE2 dialect, as `pattern` does. The one validity rule
    for `pattern`, `patternProperties` keys, `format: "regex"`, lint and
    the metaschema check."""
    return _compiled_permissive_py(pattern) is not None


def _pandas_predicate(fn, col: Column) -> Column:
    """Boolean Column: ``fn`` of each non-NULL value of ``col``, in an
    Arrow-batched pandas UDF. The one Python route of compiled plans."""
    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def probe(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else fn(v))

    return probe(col)


def regex_ok(col: Column) -> Column:
    """Boolean Column: the string ``col`` is a valid regular expression
    (``regex_compiles``)."""
    return _pandas_predicate(regex_compiles, col)


def pattern_ok(col: Column, pattern: str) -> Column:
    """Boolean Column: `col` matches `pattern` (unanchored search,
    permissive-PCRE2 semantics — see the dialect-translation note above).

    Classification ladder (regex.h:31-69 analogue): prefix/nonempty/range
    fast paths stay in codegen (exactly correct under DOTALL +
    DOLLAR_ENDONLY, the same flags that make the reference's own
    NonEmpty/Range classes sound); general Java-safe patterns use `rlike`
    with the (?sU)+`\\z` translation; residuals route to a PCRE pudf."""
    plan = classify_pattern(pattern)
    if plan.kind == "prefix":
        return col.startswith(plan.prefix)
    if plan.kind == "nonempty":
        return F.length(col) >= 1
    if plan.kind == "range":
        if plan.hi is None:
            return col.isNotNull()
        return F.length(col).between(plan.lo, plan.hi)
    if pattern_in_python(pattern):
        # the Python `regex` module: PCRE2-compatible, the reference's
        # engine family, under the same translation as the JVM route
        return _pandas_predicate(partial(permissive_search_py, pattern), col)
    return col.rlike(_translate_permissive(pattern, "java"))


def pattern_in_python(pattern: str) -> bool:
    """Whether ``pattern_ok`` routes ``pattern`` to the Python-regex pandas
    UDF: a general pattern that is not Java-safe."""
    return classify_pattern(pattern).kind == "general" and not _java_dialect_safe(pattern)


def pattern_duckdb(col_sql: str, pattern: str) -> str:
    """The same predicate in DuckDB SQL (for oracle queries), under the
    same permissive-dialect translation (RE2 target). Patterns RE2 cannot
    express faithfully (\\b/\\B under UCP) have no oracle form — raises so
    the query author picks an RE2-expressible fixture pattern."""
    plan = classify_pattern(pattern)
    if plan.kind == "prefix":
        esc = plan.prefix.replace("'", "''").replace("%", "\\%").replace("_", "\\_")
        return f"({col_sql} LIKE '{esc}%' ESCAPE '\\')"
    if plan.kind == "nonempty":
        return f"(length({col_sql}) >= 1)"
    if plan.kind == "range":
        if plan.hi is None:
            return f"({col_sql} IS NOT NULL)"
        return f"(length({col_sql}) BETWEEN {plan.lo} AND {plan.hi})"
    translated = _translate_permissive(pattern, "re2")
    if translated is None:
        raise ValueError(f"pattern {pattern!r} has no faithful RE2 oracle form")
    return f"regexp_matches({col_sql}, '{translated.replace(chr(39), chr(39)*2)}')"
