"""Regex dialect divergence corpus (round-2 verdict directive #4).

The reference compiles `pattern` with PCRE2 under
PCRE2_UTF | PCRE2_UCP | PCRE2_DOTALL | PCRE2_DOLLAR_ENDONLY |
PCRE2_NEVER_BACKSLASH_C | PCRE2_ALLOW_EMPTY_CLASS
(/root/reference/vendor/core/src/core/regex/regex.cc:45-47). Java's
`rlike` dialect silently diverges from those flags in many ways: `.` vs
line terminators (DOTALL), `$` before a trailing newline
(DOLLAR_ENDONLY), ASCII-default or Java-Unicode \\d/\\w/\\s/\\b (UCP),
in-class `[` and `&&`, `\\0` and `\\101` (octal in PCRE2). One PCRE2
tokenizer (functions/strings.py `_tokens`) reads every pattern, and one
token table renders it for Java `rlike`, the Python `regex` module and
RE2. This suite is the committed evidence that the table is right:

1. a hand-derived corpus pins the PERMISSIVE-dialect expected verdicts
   (each case annotated with the flag or token kind it exercises; none is
   copied from an oracle, since the oracles share the tokenizer);
2. the engine (pattern_ok through a real Spark plan — fast paths, the
   Java rendering, and the pandas UDF alike) must reproduce every corpus
   verdict, and so must the Python and RE2 renderings;
3. a generated pattern grammar (anchors × atoms × quantifiers) is swept
   against the driver-side permissive evaluator (permissive_search_py) —
   a Java rendering that diverges from the Python one shows up here.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.functions.formats import RE_BAD_PCT
from jsonschema_spark.functions.strings import (
    classify_pattern,
    leading_literal,
    pattern_ok,
    permissive_search_py,
)

# (pattern, input, expected-under-permissive-PCRE2, which flag/divergence)
CORPUS = [
    # DOTALL: `.` matches every char including line terminators
    ("a.b", "a\nb", True, "DOTALL"),
    ("a.b", "a b", True, "DOTALL"),
    ("a.b", "ab", True, "DOTALL"),
    ("a.b", "axb", True, "DOTALL-plain"),
    ("a.b", "ab", False, "DOTALL-plain"),
    # DOLLAR_ENDONLY: `$` matches at the very end only — NOT before a
    # trailing newline (Java's raw `$` would say True on "a\n")
    ("a$", "a", True, "DOLLAR_ENDONLY"),
    ("a$", "a\n", False, "DOLLAR_ENDONLY"),
    ("a$", "ba", True, "DOLLAR_ENDONLY-search"),
    (r"a\$", "a$b", True, "escaped-dollar-literal"),
    (r"a\$", "a", False, "escaped-dollar-literal"),
    ("[$]", "$", True, "dollar-in-class-literal"),
    # UCP: \d/\w/\s are Unicode (Java raw would say False on all three)
    (r"x\d", "x٣", True, "UCP-d"),
    (r"x\d", "x3", True, "UCP-d"),
    (r"x\d", "xa", False, "UCP-d"),
    (r"x\w", "xé", True, "UCP-w"),
    (r"x\s", "x ", True, "UCP-s"),
    (r"x\S", "x ", False, "UCP-S"),
    (r"[\d]y", "٥y", True, "UCP-d-in-class"),
    # ALLOW_EMPTY_CLASS: [] never matches, [^] matches anything
    ("a[]b", "ab", False, "ALLOW_EMPTY_CLASS"),
    ("[]", "anything", False, "ALLOW_EMPTY_CLASS"),
    ("a[^]b", "a\nb", True, "ALLOW_EMPTY_CLASS"),
    ("[^]", "x", True, "ALLOW_EMPTY_CLASS"),
    # in-class `[` is a LITERAL in PCRE2; Java would parse a nested union
    ("x[[]y", "x[y", True, "class-open-bracket"),
    ("x[a[]y", "x[y", True, "class-open-bracket"),
    ("x[a[]y", "xay", True, "class-open-bracket"),
    # in-class `&&` is LITERAL in PCRE2; Java would intersect (empty → never)
    ("[a&&b]", "&", True, "class-ampersand"),
    ("[a&&b]", "a", True, "class-ampersand"),
    ("[a&&b]", "c", False, "class-ampersand"),
    # dangling brace is a PCRE2 literal; Java alone would fail to compile
    ("a{", "a{", True, "dangling-brace"),
    ("a{2", "a{2", True, "dangling-brace"),
    ("a}", "a}", True, "dangling-close-brace"),
    # PCRE2 extensions Java shares: possessive / atomic groups
    ("a*+b", "aaab", True, "possessive"),
    ("(?>a+)b", "aaab", True, "atomic"),
    # inline flags (PCRE2-style) — route wherever, semantics must hold
    ("(?i)abc", "xABCy", True, "inline-i"),
    ("(?i)abc", "xyz", False, "inline-i"),
    # multiline flag turns DOLLAR_ENDONLY off — $ matches at line ends
    ("(?m)^b$", "a\nb\nc", True, "inline-m"),
    # lookarounds
    ("(?<=ab)c", "xabc", True, "lookbehind"),
    ("(?<=ab)c", "xac", False, "lookbehind"),
    ("a(?!b)", "ac", True, "neg-lookahead"),
    ("a(?!b)", "ab", False, "neg-lookahead"),
    # fast paths stay exactly correct under DOTALL + DOLLAR_ENDONLY
    ("^foo", "foobar", True, "prefix-fast-path"),
    ("^foo", "xfoo", False, "prefix-fast-path"),
    (".+", "\n", True, "nonempty-fast-path-DOTALL"),
    (".+", "", False, "nonempty-fast-path"),
    ("^.{2}$", "😀😀", True, "range-fast-path-codepoints"),
    ("^.{2}$", "a\n", True, "range-fast-path-DOTALL"),
    ("^.{2}$", "abc", False, "range-fast-path"),
    # anchored general patterns: ^...$ becomes ^...\z on the Java route
    ("^src[0-9]$", "src1", True, "anchored-class"),
    ("^src[0-9]$", "src1\n", False, "anchored-class-DOLLAR_ENDONLY"),
    # \b under UCP is a Unicode word boundary
    (r"\bfoo\b", "a foo b", True, "UCP-b"),
    (r"\bfoo\b", "afoo", False, "UCP-b"),
    (r"é\b", "é!", True, "UCP-b-unicode"),
    # unicode escapes
    (r"éx", "éx", True, "unicode-escape"),
    # a POSIX class inside a class is a class (Unicode under UCP); Java has
    # none, and its escaped `[` would read the class as literal characters
    ("^[[:alpha:]]+$", "abc", True, "posix-class"),
    ("^[[:alpha:]]+$", "a]", False, "posix-class"),
    ("^[[:alpha:]]+$", "ÄB", True, "posix-class-UCP"),
    ("[[:^alpha:]]", "ab", False, "posix-class-negated"),
    ("[[:^alpha:]]", "a1", True, "posix-class-negated"),
    # octal versus backreference, by PCRE2's rule: \1-\9 refer back, \NN only
    # when that many groups precede it (else octal), \0dd is octal
    ("\\0", "\u0000", True, "octal-NUL"),
    ("\\0", "0", False, "octal-NUL"),
    ("^\\101$", "A", True, "octal-not-backref"),
    ("^\\101$", "x", False, "octal-not-backref"),
    ("\\12", "\n", True, "octal-no-groups"),
    ("\\12", "12", False, "octal-no-groups"),
    ("(a)\\1", "aa", True, "backref"),
    ("(a)\\1", "ab", False, "backref"),
    # one UCP table: \w and \b count \p{N} (U+00B2 is No); [[:digit:]] is
    # \p{Nd} and [[:alpha:]] is \p{L} (U+216B is Nl)
    (r"^x\w$", "x²", True, "UCP-w-No"),
    (r"x\b", "x²", False, "UCP-b-No"),
    ("^[[:digit:]]+$", "٣", True, "posix-digit-UCP"),
    ("^[[:alpha:]]+$", "Ⅻ", False, "posix-alpha-UCP"),
    (r"^\p{Lu}\p{Ll}+$", "Abc", True, "property"),
    (r"^\p{Lu}\p{Ll}+$", "ABc", False, "property"),
    (r"^\p{Greek}+$", "αβ", True, "script-property"),
    (r"^\p{Greek}+$", "ab", False, "script-property"),
    # one row per token kind
    (r"\x{41}", "A", True, "hex-brace"),
    (r"\Q.+\E", ".+", True, "quote"),
    (r"\Q.+\E", "ab", False, "quote"),
    (r"\e", "\x1b", True, "escape-char"),
    (r"\cJ", "\n", True, "control-char"),
    (r"\N", "\n", False, "not-newline"),
    (r"\N", "a", True, "not-newline"),
    (r"(?<n>a)\k<n>", "aa", True, "named-backref"),
    (r"(?<n>a)\k<n>", "ab", False, "named-backref"),
    (r"(?<a_b>x)\k<a_b>", "xx", True, "named-backref-underscore"),
    ("a{,3}", "b", True, "brace-upper-only"),
    ("^a{,3}$", "aaaa", False, "brace-upper-only"),
    ("a{", "a", False, "dangling-brace"),
    (r"\C", "C", False, "NEVER_BACKSLASH_C-invalid"),
    # \cX is X's upper case with bit 0x40 flipped, for any printable ASCII X
    (r"\c{", ";", True, "control-char-brace"),
    (r"\c{", "{", False, "control-char-brace"),
    (r"\c}", "=", True, "control-char-brace"),
    # a mid-pattern option lasts to the end of its group, and into the
    # group's later alternatives
    (r"a(?i)b", "Ab", False, "inline-i-scoped"),
    (r"a(?i)b", "aB", True, "inline-i-scoped"),
    (r"(?i)a(?-i)b", "Ab", True, "inline-i-unset"),
    (r"(?i)a(?-i)b", "AB", False, "inline-i-unset"),
    (r"(a(?i)b|c)d", "Cd", True, "inline-i-across-alternatives"),
    (r"(a(?i)b|c)d", "cD", False, "inline-i-ends-with-group"),
    # a backreference inside its own group matches the previous iteration's capture
    (r"^(a|b\1)+$", "aba", True, "backref-into-open-group"),
    (r"^(a|b\1)+$", "ab", False, "backref-into-open-group"),
    # `^` and literal tokens, each at most optional, are `startswith` of each spelling
    ("^https?://", "http://", True, "prefix-optional"),
    ("^https?://", "https://", True, "prefix-optional"),
    ("^https?://", "httpss://", False, "prefix-optional"),
    ("^https?://", "ftp://", False, "prefix-optional"),
    (r"^a\.b", "axb", False, "prefix-escaped-dot"),
    (r"^\Qa.b\E", "a.b", True, "prefix-quoted"),
    (r"^\Qa.b\E", "axb", False, "prefix-quoted"),
    (r"^a\\b", "a\\bc", True, "prefix-escaped-backslash"),
    (r"^a\\b", "ab", False, "prefix-escaped-backslash"),
    # a possessive `?+` gives nothing back, so `b?+b` needs two b's
    (r"^ab?+b", "ab", False, "possessive-optional"),
    ("(?i)^https?://", "HTTP://", True, "prefix-under-flag"),
]


def test_prefix_plans_come_from_tokens():
    """The prefix plan reads the token stream: escapes and quoting are
    literals, an optional literal doubles the spellings; a possessive
    quantifier or a flag keeps the pattern general."""
    assert classify_pattern("^https?://").prefixes == ("http://", "https://")
    assert classify_pattern(r"^a\.b").prefixes == classify_pattern(r"^\Qa.b\E.*").prefixes == ("a.b",)
    for pattern in (r"^ab?+b", "(?i)^https?://", "(?i:^a)", "^a?b?c?", "^.*", "^a$", "^a*"):
        assert classify_pattern(pattern).kind == "general", pattern
    # the literal a `format` reject regex is gated on starts every match
    assert leading_literal(RE_BAD_PCT) == "%" and leading_literal("%(a|b)") == "%"
    for pattern in ("%a|b", "%?x", "(%)", "(?i)%", ""):
        assert leading_literal(pattern) is None, pattern


def test_corpus_against_driver_evaluator():
    """permissive_search_py IS the semantics oracle — pin it first."""
    for pattern, value, expected, tag in CORPUS:
        got = permissive_search_py(pattern, value)
        assert got is expected, f"{tag}: {pattern!r} on {value!r}: {got} != {expected}"


def test_corpus_through_spark_engine(spark):
    """Every corpus verdict must survive the real engine route —
    fast path, translated rlike, or pudf fallback — in ONE Spark job."""
    values = sorted({v for _, v, _, _ in CORPUS})
    df = spark.createDataFrame([(v,) for v in values], "s string")
    pats = sorted({p for p, _, _, _ in CORPUS})
    cols = [pattern_ok(F.col("s"), p).alias(f"p{i}") for i, p in enumerate(pats)]
    rows = {r["s"]: r for r in df.select(F.col("s"), *cols).collect()}
    pidx = {p: i for i, p in enumerate(pats)}
    for pattern, value, expected, tag in CORPUS:
        got = rows[value][f"p{pidx[pattern]}"]
        assert got is expected, (
            f"{tag}: engine said {got} for {pattern!r} on {value!r}, "
            f"permissive dialect says {expected}")


# -- generated divergence sweep ------------------------------------------------

_PREFIXES = ["", "^"]
_ATOMS = ["a", ".", r"\d", r"\w", r"\s", "[ab]", "[a-z]", r"[\w-]", "(ab)",
          "a|b.", r"\S"]
_QUANTS = ["", "*", "+", "{1,2}", "?"]
_SUFFIXES = ["", "$", "b"]

_INPUTS = ["", "a", "ab", "aab", "b", "a\n", "a\nb", "\n", "٣", "é",
           " ", "a-b", "A", "ab\n", "x[y", "&", "😀", "a b"]


def _grammar_patterns():
    out = []
    for pre in _PREFIXES:
        for atom in _ATOMS:
            for q in _QUANTS:
                if q and atom in ("a|b.",):  # quantified alternation nonsense
                    continue
                for suf in _SUFFIXES:
                    out.append(f"{pre}{atom}{q}{suf}")
    return sorted(set(out))


def test_generated_sweep_engine_matches_permissive(spark):
    """Sweep the pattern grammar: engine verdicts == permissive dialect on
    every (pattern, input) pair. A wrongly-routed Java-dialect divergence
    (ASCII classes, $-before-newline, non-DOTALL dot) fails here."""
    pats = _grammar_patterns()
    df = spark.createDataFrame([(v,) for v in _INPUTS], "s string")
    # batches of 80 columns keep each generated projection reasonable
    results = {}
    for lo in range(0, len(pats), 80):
        chunk = pats[lo:lo + 80]
        cols = [pattern_ok(F.col("s"), p).alias(f"p{i}") for i, p in enumerate(chunk)]
        for r in df.select(F.col("s"), *cols).collect():
            for i, p in enumerate(chunk):
                results[(p, r["s"])] = r[f"p{i}"]
    bad = []
    for p in pats:
        for v in _INPUTS:
            want = permissive_search_py(p, v)
            got = results[(p, v)]
            if got is not want:
                bad.append((p, v, got, want))
    assert not bad, f"{len(bad)} divergences, first 10: {bad[:10]}"


@pytest.mark.parametrize("pattern", ["\\0", "^\\101$"])
def test_octal_escapes_validate_like_validate_py(spark, pattern):
    """An octal escape neither aborts a `validate` job nor reads as a
    backreference: flat and tree verdicts equal ``validate_py``."""
    from jsonschema_spark import validate, validate_py

    schema = {"type": "string", "pattern": pattern}
    values = ["\u0000", "A", "x"]
    want = [validate_py(schema, v) for v in values]
    flat = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, s string")
    tree = spark.createDataFrame([(i, json.dumps(v)) for i, v in enumerate(values)], "i long, doc string")
    got_flat = [r.valid for r in validate(flat, {"properties": {"s": schema}}).orderBy("i").collect()]
    got_tree = [r.valid for r in validate(tree, schema, doc_col="doc").orderBy("i").collect()]
    assert got_flat == got_tree == want == [v == {"\\0": "\u0000", "^\\101$": "A"}[pattern] for v in values]


def test_duckdb_oracle_translation_matches():
    """The RE2 oracle translation agrees with the permissive dialect on the
    corpus (skipping \\b/\\B patterns, which pattern_duckdb refuses)."""
    duckdb = pytest.importorskip("duckdb")
    from jsonschema_spark.functions.strings import pattern_duckdb

    con = duckdb.connect()
    for pattern, value, expected, tag in CORPUS:
        if "\\b" in pattern or "\\B" in pattern or classify_pattern(pattern).kind in ("nonempty", "range"):
            continue
        try:
            sql = pattern_duckdb("s", pattern)
        except ValueError:
            continue
        got = con.execute(f"SELECT {sql} FROM (SELECT ? AS s)", [value]).fetchone()[0]
        assert got is expected, f"{tag}: duckdb {sql} on {value!r}: {got} != {expected}"


def test_pattern_duckdb_refuses_ucp_word_boundary():
    from jsonschema_spark.functions.strings import pattern_duckdb

    with pytest.raises(ValueError):
        pattern_duckdb("s", r"\bfoo\b")


def test_posix_class_tree_matches_validate_py(spark):
    """A `pattern` with a POSIX class gives the tree path the verdicts of
    ``validate_py``: the class is not read as literal characters."""
    from jsonschema_spark import validate, validate_py

    schema = {"type": "string", "pattern": "^[[:alpha:]]+$"}
    values = ["abc", "a]", "ÄB", "1", ":"]
    df = spark.createDataFrame([(json.dumps(v),) for v in values], "doc string")
    got = {json.loads(r.doc): r.valid for r in validate(df, schema, doc_col="doc").collect()}
    assert got == {v: validate_py(schema, v) for v in values} == {
        "abc": True, "a]": False, "ÄB": True, "1": False, ":": False}


# (regex, valid): valid iff PCRE2 compiles it, as the tokenizer
# (`strings.regex_compiles`) reads it for every route
VALIDITY = [
    ("^a(b|c)*$", True),
    (r"\p{L}+", True),
    (r"^\p{Lu}+$", True),
    ("(?<name>x)", True),
    ("[]", True),
    ("^[[:alpha:]]+$", True),
    ("(unclosed", False),
    ("a)bad", False),
    ("[[:foo:]]", False),
    ("x{2,1}", False),
    (r"\c{", True),
    (r"\c}", True),
    ("a{" + "9" * 5000 + "}", False),
    ("a(?i)b", True),
    ("(?i)a(?-i)b", True),
]


def test_regex_validity_is_one_rule(spark):
    """The metaschema check, lint, `format: "regex"` (driver-side, in
    ``validate_py`` and through the Spark UDF) and `pattern` itself agree
    on which regexes are valid."""
    from jsonschema_spark import lint_schema, metaschema_errors, validate, validate_py
    from jsonschema_spark.functions.formats import FORMATS

    df = spark.createDataFrame([(json.dumps(p),) for p, _ in VALIDITY], "doc string")
    udf = {json.loads(r.doc): r.valid
           for r in validate(df, {"format": "regex"}, doc_col="doc").collect()}
    for p, valid in VALIDITY:
        rules = {f["rule"] for f in lint_schema({"pattern": p, "patternProperties": {p: {}}})}
        assert (not metaschema_errors({"pattern": p})) is valid, p
        assert ("pattern_non_ecma_regex" not in rules) is valid, p
        assert ("pattern_properties_non_ecma_regex" not in rules) is valid, p
        assert FORMATS["regex"].py(p) is valid, p
        assert validate_py({"format": "regex"}, p) is valid, p
        assert udf[p] is valid, p


def test_lint_closed_object_reads_keys_as_patterns():
    """``required_undeclared_property`` matches required names against the
    `patternProperties` keys by `pattern`'s rule: ``\\p{L}`` is a class,
    and ``$`` does not match before a trailing newline."""
    from jsonschema_spark import lint_schema, validate_py

    def undeclared(schema):
        return [f for f in lint_schema(schema) if f["rule"] == "required_undeclared_property"]

    unicode_key = {"additionalProperties": False, "required": ["x"], "patternProperties": {r"\p{L}": {}}}
    assert undeclared(unicode_key) == []
    newline = {"additionalProperties": False, "required": ["a\n"], "patternProperties": {"^a$": {}}}
    assert len(undeclared(newline)) == 1
    assert validate_py(newline, {"a\n": 1}) is False
