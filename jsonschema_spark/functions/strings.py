"""String helpers: regex fast-path classification and code-point lengths.

The reference classifies compiled regexes into Prefix / NonEmpty / Range /
general-PCRE2 variants so common patterns skip the regex engine entirely
(/root/reference/vendor/core/src/core/regex/include/sourcemeta/core/regex.h:31-69).
We reproduce the same strategy: `^` and literal tokens (each at most
optional) → `startswith` of each spelling (stays in codegen with no regex
state machine), `.+`-likes → a non-empty test, `^.{a,b}$` → a length
bound, everything else → one PCRE2 tokenizer whose token table (see the
note below) renders it for `rlike`, or, where a token has no Java form,
for a Python `regex` pandas UDF.

String lengths are Unicode code points, not bytes, matching
`JSON::size(String)` (/root/reference/vendor/core/src/core/json/json_value.cc:509-524).
Spark's `length` on StringType counts code points by walking the UTF-8
bytes; `code_points_between` decides from the O(1) byte count first, as a
code point takes one to four bytes, and counts only where that leaves the
answer open. The trap the survey flags (byte-length in Arrow UDFs) is
avoided by keeping length checks JVM-side.
"""

from __future__ import annotations

import math
import operator
import re
from dataclasses import dataclass
from functools import lru_cache, partial, reduce

import pandas as pd
from pyspark.sql import Column, functions as F

_META = set(".^$*+?()[]{}|\\")


@dataclass(frozen=True)
class RegexPlan:
    kind: str  # 'prefix' | 'nonempty' | 'range' | 'general'
    prefixes: tuple = ()  # 'prefix': a value matches iff it starts with one of them
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
    prefixes = _literal_prefixes(pattern)
    return RegexPlan("prefix", prefixes=prefixes) if prefixes else RegexPlan("general")


def _literal_prefixes(pattern: str) -> tuple | None:
    """The spellings a value must start with to match ``pattern`` when its
    tokens are `^`, then literals, each with at most a greedy or lazy `?`,
    then an optional `.*` (DOTALL: it matches any rest); at most four
    spellings, not all empty. None for any other token, a flag included."""
    try:
        toks = list(_tokens(pattern))
    except ValueError:
        return None
    if toks[-2:] == [(".", "."), ("q", "*", False, True)]:
        del toks[-2:]
    if toks[:1] != [("^", "^")]:
        return None
    out = [""]
    for prev, tok in zip(toks, toks[1:]):
        if tok[0] == "lit":
            out = [p + tok[1] for p in out]
        elif tok[0] == "q" and tok[1] in ("?", "??") and prev[0] == "lit":
            out = [p[:-1] for p in out] + out
        else:
            return None
    out = tuple(dict.fromkeys(out))
    return out if len(out) <= 4 and out != ("",) else None


# --- the PCRE2 token table ---------------------------------------------------
#
# PCRE2 compiles `pattern` under UTF | UCP | DOTALL | DOLLAR_ENDONLY | NEVER_BACKSLASH_C |
# ALLOW_EMPTY_CLASS (/root/reference/vendor/core/src/core/regex/regex.cc:45-47). `_tokens`
# reads a pattern as PCRE2 does (`_LEX`: the syntax of each token kind) or raises RegexError
# (`\C`, `\1` with no group, `x{2,1}`); `_TABLE` renders each token for Java `rlike`, the
# Python `regex` module and RE2, None where a target has no form.
# - An escape (`\x{41}`, `\Q…\E`, `\e`, `\cJ`, `\0`, `\101`, ECMA's `\uXXXX`) is one character;
#   `\NN` refers back only when that many groups precede it, else it is octal. `a{,3}` is
#   `a{0,3}` (PCRE2 10.43). `\d \w \s \h \v`, POSIX classes and `\p{Xan}` are `_UCP` sets;
#   a `\p{…}` script or binary property (not a general category) is a Python-only item.
# - Flags m, s, x are read here and dropped (`$` is `\z`, a newline is LF); n U J xx ^ raise.
#   A change of `i` lasts to the end of its group, across `|`, on every target: the `regex`
#   module runs as VERSION1 (scoped flags, backreferences into an open group) without full
#   case folding, and a class escapes its set operators. Named groups render numbered, as
#   Java names are ASCII alphanumerics.
# - Java has no form for recursion, subroutine calls, conditionals, `\K`, `(*PRUNE)`,
#   `(*SKIP)`, branch reset, or a lookbehind holding an unbounded quantifier, a
#   backreference or `\X`: those take the pandas UDF.


class RegexError(ValueError):
    """PCRE2 rejects the pattern."""


_CATEGORIES = set("C Cc Cf Cn Co Cs L Ll Lm Lo Lt Lu M Mc Me Mn N Nd Nl No P Pc Pd Pe Pf Pi Po Ps "
                  "S Sc Sk Sm So Z Zl Zp Zs".split())
_UCP = {  # PCRE2 under UCP, as class bodies: shorthands, POSIX classes, special properties
    "d": r"\p{Nd}", "w": r"\p{L}\p{N}_", "s": r"\t\n\x0b\f\r\x85\x{180e}\p{Z}",
    "h": r"\t\x20\xa0\x{1680}\x{180e}\x{2000}-\x{200a}\x{202f}\x{205f}\x{3000}",
    "v": r"\n-\r\x85\x{2028}\x{2029}", "[:alpha:]": r"\p{L}", "[:digit:]": r"\d", "[:alnum:]": r"\p{L}\p{N}",
    "[:space:]": r"\s", "[:word:]": r"\w", "[:blank:]": r"\h", "[:upper:]": r"\p{Lu}", "[:lower:]": r"\p{Ll}",
    "[:cntrl:]": r"\p{Cc}", "[:xdigit:]": "0-9A-Fa-f", "[:ascii:]": r"\x00-\x7f",
    "[:punct:]": r"\p{P}$+<=>^`|~\xa2-\xa6\xa8\xa9\xac\xae-\xb1\xb4\xb8\xd7\xf7",
    "[:graph:]": r"\p{L}\p{M}\p{N}\p{P}\p{S}\p{Cf}", "[:print:]": r"\p{L}\p{M}\p{N}\p{P}\p{S}\p{Cf}\p{Zs}",
    "Any": r"\x00-\x{10ffff}", "L&": r"\p{Lu}\p{Ll}\p{Lt}", "LC": r"\p{Lu}\p{Ll}\p{Lt}", "Xan": r"\p{L}\p{N}",
    "Xps": r"\s", "Xsp": r"\s", "Xwd": r"\w"}
_SIMPLE = {"a": "\x07", "b": "\b", "e": "\x1b", "f": "\f", "n": "\n", "r": "\r", "t": "\t"}
_CHR = (r"\\(?:x\{[0-9a-fA-F]+\}|x[0-9a-fA-F]{0,2}|o\{[0-7]+\}|u[0-9a-fA-F]{4}|c[ -~]|[aefnrt]|0[0-7]{0,2}"
        r"|N\{U\+[0-9a-fA-F]+\}|[^A-Za-z0-9])")
_SET = r"\\[dDwWsShHvV]|\\[pP](?:\{\^?[\w&]+\}|[A-Z])"
_ONE = rf"{_CHR}|\\[b89]|\\[0-7]{{1,3}}|[^\\]"  # one character of a class
_ITEM = re.compile(rf"(?P<range>({_ONE})-({_ONE}))|(?P<posix>\[[:.=]\^?\w+[:.=]\])|(?P<quote>\\Q.*?(?:\\E|$))"
                   rf"|(?P<skip>\\E)|(?P<set>{_SET})|(?P<chr>{_ONE})|(?P<bad>\\.?)", re.S | re.A)
_LEX = re.compile("|".join(f"(?P<{k}>{v})" for k, v in (  # the syntax of each token kind; first match wins
    ("ws", r"\s+|\#[^\n]*"), ("quote", r"\\Q.*?(?:\\E|$)"), ("skip", r"\\E|\(\?\#[^)]*\)"),
    ("chr", _CHR), ("num", r"\\[1-9][0-9]*"), ("set", _SET), ("bound", r"\\[bBAzZGXR]|\\N(?!\{)|[.^$|]"),
    ("cls", r"\[\^?(?:\]|(?:\[[:.=]\^?\w+[:.=]\]|\\Q.*?\\E|\\.|[^\]\\])+\])"),
    ("never", r"\(\*(?:F|FAIL)\)"), ("py", r"\\K|\(\*(?:PRUNE|SKIP)(?::[^)]*)?\)"),
    ("call", r"\(\?(?:R|[+-]?\d+|&\w+|P>\w+)\)|\\g(?:<[^>]*>|'[^']*')"),
    ("ref", r"\\g(?:\{-?\d+\}|-?\d+|\{\w+\})|\\k(?:<\w+>|'\w+'|\{\w+\})|\(\?P=\w+\)"),
    ("flags", r"\(\?[imsx]*(?:-[imsx]*)?[:)]"), ("named", r"\(\?(?:P?<\w+>|'\w+')"),
    ("open", r"\((?:\?(?:[>=!|]|<[=!]|(?=\(\?)|\([^)]*\)))?"), ("close", r"\)"),
    ("q", r"(?:[*+?]|\{(?:\d+(?:,\d*)?|,\d+)\})[+?]?"), ("bad", r"\\.?|\(\*|\["), ("lit", "."))), re.S | re.A)
_REF_KEY = re.compile(r"^\\[gk]?|^\(\?(?:P[=>]|&)?|[{}<>'()]")  # the text around a ref's or call's key
_REPEATABLE = {"lit", "cls", "pycls", ".", r"\N", ")", "ref", "call", "never", r"\X", r"\R"}


def _char(t: str) -> str:
    """The character an escape (or a plain character) stands for."""
    if len(t) == 1 or not t[1].isalnum() or t[1] in "89":
        return t[-1]
    k = t[1]
    if k == "c":  # \cX: X's upper case with bit 0x40 flipped
        return chr(ord(t[2].upper()) ^ 0x40)
    if k in _SIMPLE:
        return _SIMPLE[k]
    if k.isdigit():
        v = int(t[1:], 8)
    else:  # \x, \o, \u, \N{U+…}
        v = int(t[2:].strip("{}").removeprefix("U+") or "0", 8 if k == "o" else 16)
    if v > 0x10FFFF or 0xD800 <= v <= 0xDFFF:
        raise RegexError(f"no character {v:#x}")
    return chr(v)


def _items(body: str) -> tuple:
    """A class body as ``("c", ch)``, ``("r", lo, hi)``, ``("p", property)``, ``("n", complemented)``."""
    items: list = []
    for m in _ITEM.finditer(body):
        t, kind = m.group(), m.lastgroup
        if kind == "bad" or kind == "posix" and (t[1] != ":" or t.replace("^", "") not in _UCP):
            raise RegexError(f"PCRE2 rejects {t} in a class")
        if kind in ("posix", "set"):
            items += _set(t)
        elif kind == "range":
            lo, hi = _char(m.group(2)), _char(m.group(3))
            if hi < lo:
                raise RegexError(f"PCRE2 rejects the range {t}")
            items.append(("r", lo, hi))
        elif kind == "quote":
            items += [("c", ch) for ch in t[2:].removesuffix("\\E")]
        elif kind == "chr":
            items.append(("c", _char(t)))
    return tuple(items)


@lru_cache(maxsize=None)
def _set(t: str) -> tuple:
    """The class items of a shorthand, a POSIX class or a property."""
    name = t.replace("^", "") if t[0] == "[" else t[2:].strip("{}^") if t[1] in "pP" else t[1].lower()
    if t[1] in "pP" and name not in _CATEGORIES and not (name[:1].isupper() and name in _UCP):
        import regex  # a script or binary property: the `regex` module's tables name it, the pandas UDF runs it

        try:
            regex.compile(rf"\p{{{name}}}")
        except regex.error:
            raise RegexError(f"unknown property {t}") from None
        items = (("s", name),)
    elif name in _CATEGORIES:
        items = (("p", name),)
    else:
        items = _items(_UCP[name])
    return (("n", items),) if (t[1] in "DWSHVP") != ("^" in t) else items


@lru_cache(maxsize=4096)
def _tokens(p: str) -> tuple:
    """``p`` as PCRE2 reads it: ``(kind, text, *value)`` per atom, group edge or quantifier."""
    toks, stack, names, groups, i = [], [], {}, 0, 0  # stack: (options, opener index) per open group
    fs = {"i": False, "m": False, "s": True, "x": False}  # the options in force
    while i < len(p):
        mt = _LEX.match(p, i)
        kind, t, i = mt.lastgroup, mt.group(), mt.end()
        if kind == "ws" and not fs["x"]:  # white space is literal outside (?x)
            kind, t, i = "lit", t[0], mt.start() + 1
        if kind == "num":  # \N refers back if N < 10, starts with 8 or 9, or N groups precede it
            n = int(t[1:]) if len(t) <= 6 else 1 << 16
            if n > 65535 or not (n < 10 or t[1] in "89" or n <= groups):
                t = t[:2] if t[1] in "89" else "\\" + re.match("[0-7]{1,3}", t[1:]).group()
                kind, i = "chr", mt.start() + len(t)
        if kind in ("quote", "chr", "lit"):
            chars = t[2:].removesuffix("\\E") if kind == "quote" else _char(t)
            toks += [("lit", ch) for ch in chars]
        elif kind in ("set", "cls"):
            neg = t[:2] == "[^"
            items = _set(t) if kind == "set" else _items(t[1 + neg:-1])
            script = any(leaf[0] == "s" for it in items for leaf in (it[1] if it[0] == "n" else [it]))
            toks.append(("pycls" if script else "cls", None, neg, items))
        elif kind == "bound":
            t = {r"\G": r"\A", ".": "." if fs["s"] else r"\N"}.get(t, t)
            toks.append((t + "m" * (fs["m"] and t in ("^", "$")), t))
        elif kind in ("ref", "call", "num"):
            key = _REF_KEY.sub("", t)  # a group's name or number, a relative number, or R
            if key == "R":
                key = 0
            elif key[:1] in ("+", "-"):
                key = groups + int(key) + (key[0] == "-")
                if key < 1:
                    raise RegexError(f"reference to non-existent group {t}")
            elif key.isdigit():
                key = int(key)
            if key == 0:
                text = "(?R)"
            elif isinstance(key, int):
                text = f"(?{key})"
            else:
                text = f"(?&{key})"
            toks.append(("call" if kind == "call" else "ref", text, key))
        elif kind == "flags":
            on, _, off = t[2:-1].partition("-")
            new = {f: f not in off and (f in on or v) for f, v in fs.items()}
            text = "(?"
            if new["i"] != fs["i"]:
                text += "i" if new["i"] else "-i"
            if t[-1] == ":":
                stack.append((fs, len(toks)))
                toks.append(("grp", text + ":"))
            elif text != "(?":
                toks.append(("flag", text + ")"))
            fs = new
        elif kind in ("named", "open"):
            name = None
            if kind == "named":
                name = t[3 + (t[2] == "P"):-1]
                if not name.isidentifier() or len(name) > 32 or name in names:
                    raise RegexError(f"bad group name {name!r}")
                names[name] = groups + 1
            if t == "(" or name:
                groups += 1
                sort = "("
            elif t[:3] == "(?(" or t == "(?":  # a conditional
                sort = "py"
            else:
                sort = {"(?:": "grp", "(?>": "atomic", "(?|": "py"}.get(t, "lb" if "<" in t else "look")
            toks.append((sort, t, name))
            stack.append((fs, len(toks) - 1))
        elif kind == "close":
            if not stack:
                raise RegexError("unmatched )")
            fs, _ = stack.pop()
            toks.append((")", ")"))
        elif kind == "q":
            if t[0] == "{":
                lo, comma, hi = t[1:t.find("}")].partition(",")
            else:
                lo, comma, hi = {"*": "0,", "+": "1,", "?": "0,1"}[t[0]].partition(",")
            lo, hi = int(lo or 0), int(hi) if hi else None
            if not comma:
                hi = lo
            if not toks or toks[-1][0] not in _REPEATABLE or hi is not None and hi < lo or max(lo, hi or 0) > 65535:
                raise RegexError(f"bad quantifier {t}")
            if t[:2] == "{,":
                t = "{0" + t[1:]
            toks.append(("q", t, t[1:].endswith("+") or max(lo, hi or 0) > 1000, hi is None))
        elif kind == "bad":
            raise RegexError(f"PCRE2 rejects {t!r} here")
        elif kind not in ("ws", "skip"):
            toks.append((kind, t))
        if toks and (toks[-1][0] in ("ref", r"\X") or toks[-1][0] == "q" and toks[-1][3]):
            for _, k in stack:  # java.util.regex needs a lookbehind of bounded length
                if toks[k][0] == "lb":
                    toks[k] = ("py",) + toks[k][1:]
    if stack:
        raise RegexError("missing )")
    out = []
    for tok in toks:
        if tok[0] in ("ref", "call"):
            num = names.get(tok[2], tok[2])
            if not isinstance(num, int) or not (tok[0] == "ref") <= num <= groups:
                raise RegexError(f"reference to non-existent group {tok[2]}")
            tok = ("ref", None, num) if tok[0] == "ref" else tok
        out.append(tok)
    return tuple(out)


def _item(it: tuple, t: str, meta: str = "\\]^-[&|~") -> str:
    """A class item, or with ``meta=_META`` a literal, rendered for ``t``."""
    if it[0] in ("p", "s", "n"):
        return f"\\{'P' if it[0] == 'n' else 'p'}{{{(it[1][0] if it[0] == 'n' else it)[1]}}}"
    return "-".join("\\" + c if c in meta else c if c.isprintable() and not c.isspace()
                    else f"\\U{ord(c):08x}" if t == "python" else f"\\x{{{ord(c):x}}}" for c in it[1:])


def _cls(tok: tuple, t: str) -> str | None:
    """A bracket class; the complement of a many-item set (`\\W`) joins by | or lookahead."""
    sets = [it[1] for it in tok[3] if it[0] == "n" and (len(it[1]) > 1 or it[1][0][0] not in "ps")]
    body = "".join(_item(it, t) for it in tok[3] if it[0] != "n" or it[1] not in sets)
    nots = ["".join(_item(i, t) for i in n) for n in sets]
    if not nots:
        return f"[{'^' * tok[2]}{body}]" if body else "(?s:.)" if tok[2] else _TABLE["never"][_T.index(t)]
    if not tok[2]:
        return "(?:" + "|".join([f"[{body}]"] * bool(body) + [f"[^{b}]" for b in nots]) + ")"
    ahead = "".join(f"(?=[{b}])" for b in nots)
    return None if t == "re2" else f"(?:{ahead}{f'[^{body}]' if body else '(?s:.)'})"


_W = "[" + _UCP["w"] + "]"  # \w under UCP, the same class in all three targets: \b and \B look around it
_T = ("java", "python", "re2")
_TABLE = {  # token kind: its (java, python, re2) rendering; True: the token's text, None: no form
    "prefix": ("(?sU)", "(?V1s-f)", "(?s)"),
    "lit": (lambda tok, t: _item(tok, t, _META),) * 3, "cls": (_cls,) * 3, "pycls": (None, _cls, None),
    **dict.fromkeys((".", "|", ")", "grp", "flag", "^", r"\A"), (True,) * 3), r"\N": (r"[^\n]",) * 3,
    "(": ("(", lambda tok, t: f"(?P<{tok[2]}>" if tok[2] else "(", "("),
    "look": (True, True, None), "lb": (True, True, None), "atomic": (True, True, None),
    "q": (True, True, lambda tok, t: None if tok[2] else tok[1]),
    "ref": (lambda tok, t: f"(?:\\{tok[2]})",) * 2 + (None,),
    "call": (None, True, None), "py": (None, True, None), "never": ("(?!)", "(?!)", r"[^\x00-\x{10ffff}]"),
    r"\b": (f"(?:(?<={_W})(?!{_W})|(?<!{_W})(?={_W}))",) * 2 + (None,),
    r"\B": (f"(?:(?<={_W})(?={_W})|(?<!{_W})(?!{_W}))",) * 2 + (None,),
    r"\X": (r"\X", r"\X", None), r"\R": (r"(?>\r\n|[\n\x0b\f\r\x85\u2028\u2029])",) * 2 + (None,),
    "$": (r"\z", r"\Z", r"\z"), r"\z": (r"\z", r"\Z", r"\z"), r"\Z": (r"(?=\n?\z)", r"(?=\n?\Z)", None),
    "^m": (r"(?:^|(?<=\n)(?!\z))", r"(?:^|(?<=\n)(?!\Z))", None), "$m": (r"(?=\n|\z)", r"(?=\n|\Z)", "(?m:$)"),
}


@lru_cache(maxsize=4096)
def _render(pattern: str, target: str) -> str | None:
    """``pattern`` for ``target``; None if PCRE2 rejects it or a token has no form there."""
    try:
        toks = _tokens(pattern)
    except ValueError:  # a RegexError, or a number too long for int()
        return None
    col = _T.index(target)
    out = [r(tok, target) if callable(r) else tok[1] if r is True else r
           for tok in toks for r in [_TABLE[tok[0]][col]]]
    return None if None in out else _TABLE["prefix"][col] + "".join(out)


@lru_cache(maxsize=4096)
def _compiled_py(pattern: str):
    """The Python rendering of ``pattern``, compiled once: driver-side loops (pyeval, lint)
    and the pandas UDF search it per value. None if PCRE2 rejects the pattern."""
    import regex

    rendered = _render(pattern, "python")
    return None if rendered is None else regex.compile(rendered)


def permissive_search_py(pattern: str, value: str | None) -> bool | None:
    """Driver-side reference evaluator: unanchored search of the Python
    rendering of ``pattern`` with the `regex` module. This is the oracle
    the divergence corpus (tests/test_regex_dialect.py) holds every
    execution route to; a pattern PCRE2 rejects matches nothing."""
    if value is None:
        return None
    rx = _compiled_py(pattern)
    return rx is not None and bool(rx.search(value))


def leading_literal(pattern: str) -> str | None:
    """A character every match of ``pattern`` starts with: its first token
    when that is an unquantified literal and no `|` splits the top level."""
    toks, depth = _tokens(pattern), 0
    for tok in toks:
        if tok[0] in ("(", "grp", "atomic", "look", "lb") or tok[0] == "py" and tok[1][:2] == "(?":
            depth += 1
        elif tok[0] == ")":
            depth -= 1
        elif tok[0] == "|" and not depth:
            return None
    quantified = len(toks) > 1 and toks[1][0] == "q"
    return toks[0][1] if toks and toks[0][0] == "lit" and not quantified else None


def regex_compiles(pattern: str) -> bool:
    """Whether PCRE2 compiles ``pattern``: the tokenizer reads it. The
    one validity rule for `pattern`, `patternProperties` keys,
    `format: "regex"`, lint and the metaschema check."""
    return _render(pattern, "python") is not None


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


def _count(bound: int) -> int:
    """``bound`` clamped to [-1, 2^31]. A Spark string holds fewer than
    2^31 bytes, so a count compares with it as with ``bound``, and the
    clamped value fits an integer literal."""
    return max(-1, min(bound, 1 << 31))


def code_points_between(col: Column, lo=None, hi=None) -> Column:
    """Boolean Column: the string ``col`` is at least ``lo`` and at most
    ``hi`` code points long (a bound of None is open); NULL on NULL, as
    `length` is. A code point is one to four UTF-8 bytes (and Spark's
    `length` steps one to four bytes per character even over malformed
    bytes), so the O(1) byte count settles ``hi`` when it is at most
    ``hi``, and ``lo`` unless it is between ``lo`` and ``4·lo−4``; only
    there are the code points counted."""
    n, parts = F.octet_length(col), []
    if lo is not None:
        lo = _count(math.ceil(lo))
        parts.append(n >= lo if lo <= 1 else (n >= lo) & ((n >= 4 * lo - 3) | (F.length(col) >= lo)))
    if hi is not None:
        hi = _count(math.floor(hi))
        parts.append((n <= hi) | (F.length(col) <= hi))
    return reduce(operator.and_, parts)


def pattern_ok(col: Column, pattern: str) -> Column:
    """Boolean Column: `col` matches `pattern` (unanchored search,
    permissive-PCRE2 semantics — see the token table note above).

    Classification ladder (regex.h:31-69 analogue): a prefix plan is
    `startswith` of each spelling, a nonempty or range plan a
    ``code_points_between`` bound; all stay in codegen and are exactly
    correct under DOTALL + DOLLAR_ENDONLY, the same flags that make the
    reference's own NonEmpty/Range classes sound. A pattern PCRE2 rejects
    matches nothing; the rest use `rlike` of the Java rendering, or the
    pandas UDF where a token has no Java form."""
    plan = classify_pattern(pattern)
    if plan.kind == "prefix":
        return reduce(operator.or_, [col.startswith(p) for p in plan.prefixes])
    if plan.kind == "nonempty":
        return code_points_between(col, lo=1)
    if plan.kind == "range":
        if plan.hi is None:
            return col.isNotNull()
        return code_points_between(col, plan.lo, plan.hi)
    if not regex_compiles(pattern):
        return F.when(col.isNotNull(), F.lit(False))
    if pattern_in_python(pattern):
        return _pandas_predicate(partial(permissive_search_py, pattern), col)
    return col.rlike(_render(pattern, "java"))


def pattern_in_python(pattern: str) -> bool:
    """Whether ``pattern_ok`` routes ``pattern`` to the Python-regex pandas
    UDF: a general pattern PCRE2 compiles that holds a token Java lacks."""
    return classify_pattern(pattern).kind == "general" and regex_compiles(pattern) and not _render(pattern, "java")


def pattern_duckdb(col_sql: str, pattern: str) -> str:
    """The same predicate in DuckDB SQL (for oracle queries), rendered for
    RE2 from the same tokens. Patterns RE2 cannot express faithfully
    (\\b/\\B under UCP, backreferences, lookaround) have no oracle form —
    raises so the query author picks an RE2-expressible fixture pattern."""
    plan = classify_pattern(pattern)
    if plan.kind == "prefix" and len(plan.prefixes) == 1:  # several spellings: RE2, below
        esc = plan.prefixes[0].replace("\\", "\\\\").replace("'", "''").replace("%", "\\%").replace("_", "\\_")
        return f"({col_sql} LIKE '{esc}%' ESCAPE '\\')"
    if plan.kind == "nonempty":
        return f"(length({col_sql}) >= 1)"
    if plan.kind == "range":
        if plan.hi is None:
            return f"({col_sql} IS NOT NULL)"
        return f"(length({col_sql}) BETWEEN {plan.lo} AND {plan.hi})"
    translated = _render(pattern, "re2")
    if translated is None:
        raise ValueError(f"pattern {pattern!r} has no faithful RE2 oracle form")
    return f"regexp_matches({col_sql}, '{translated.replace(chr(39), chr(39)*2)}')"
