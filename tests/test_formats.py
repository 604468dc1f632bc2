"""All 21 `format` validators (SURVEY.md §2.4): positive/negative cases
evaluated in ONE pass (one boolean column per (format, case))."""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.functions.formats import FORMATS, format_duckdb, format_ok

# percent-escapes: every `%` starts two hex digits
_PCT_REL = [("%41", True), ("%4", False), ("a%", False), ("%%41", False)]
_PCT_ABS = [("http://x/" + v, ok) for v, ok in _PCT_REL]

CASES = {
    "uri": [("https://example.com/a?b=c#d", True), ("ftp://x/y", True),
            ("not a uri", False), ("/relative/only", False), ("http://x/%zz", False), *_PCT_ABS],
    "uri-reference": [("/relative/path", True), ("a b", False), *_PCT_REL],
    # iri, iri-reference, idn-hostname and idn-email accept ASCII only
    "iri": [("https://example.com/x", True), ("nope nope", False),
            ("mailto:user@example.com", True), ("https://例え.jp/パス?q=値", False),
            ("https://exa mple.com/", False), ("no-scheme-iri", False), *_PCT_ABS],
    "iri-reference": [("frag#x", True), ("sp ace", False), ("/путь/к/файлу", False), ("%2", False), *_PCT_REL],
    "uri-template": [("/users/{id}", True), ("/u{", False)],
    "date-time": [("2021-06-01T12:00:00Z", True), ("2021-06-01t12:00:00+05:30", True),
                  ("2021-13-01T12:00:00Z", False), ("2021-06-01 12:00:00", False)],
    "date": [("2021-02-28", True), ("2021-02-30", False), ("21-02-28", False)],
    "time": [("23:59:60Z", True), ("12:00:00+01:00", True), ("24:00:00Z", False)],
    "partial-time": [("12:34:56", True), ("12:34:56Z", False)],
    "duration": [("P1Y2M3DT4H5M6S", True), ("PT0.5S", True), ("P3W", True),
                 ("P", False), ("P1YT", False)],
    "ipv4": [("192.168.0.1", True), ("255.255.255.255", True),
             ("256.1.1.1", False), ("1.2.3", False)],
    "ipv6": [("2001:db8::1", True), ("::1", True), ("::ffff:192.0.2.1", True),
             ("2001:db8::1::2", False), ("g::1", False)],
    "hostname": [("example-host.co", True), ("a" * 64 + ".com", False), ("-bad.com", False)],
    "idn-hostname": [("example.com", True), ("bad_host", False), ("xn--bcher-kva.example", True),
                     ("bücher.example", False), ("-bad.example", False),
                     ("a" * 64 + ".com", False), ("trailing.dot.", False)],
    "email": [("a.b+c@example.com", True), ("no-at-sign", False), ("a@b@c", False)],
    "idn-email": [("x@example.org", True), ("@missing", False), ("user@bücher.example", False),
                  ("no-at-sign", False), ("u@-bad.example", False)],
    "uuid": [("123e4567-e89b-12d3-a456-426614174000", True),
             ("123e4567e89b12d3a456426614174000", False)],
    "json-pointer": [("/a/b~0c/0", True), ("", True), ("no-slash", False), ("/bad~2", False)],
    "relative-json-pointer": [("0#", True), ("2/a/b", True), ("01/a", False), ("-1/a", False)],
    "color": [("#abc", True), ("#AABBCC", True), ("orange", True), ("#ab", False), ("magenta", False)],
    # valid iff it compiles as a `pattern` does (permissive PCRE2)
    "regex": [("^a(b|c)*$", True), ("a{1,2}", True), ("(unclosed", False), ("a)bad", False),
              ("\\p{L}+", True), ("(?<name>x)", True), ("[]", True), ("[[:foo:]]", False)],
}


def test_all_formats_one_pass(spark):
    assert set(CASES) == set(FORMATS), "every format spec needs cases"
    flat = [(fmt, i, v, exp) for fmt, pairs in CASES.items() for i, (v, exp) in enumerate(pairs)]
    df = spark.createDataFrame(flat, "fmt string, i int, value string, expected boolean")
    cols = [
        F.when(F.col("fmt") == fmt, format_ok(fmt, F.col("value"))).alias(fmt)
        for fmt in CASES
    ]
    rows = df.select("fmt", "i", "value", "expected", *cols).collect()
    bad = []
    for r in rows:
        got = r[r["fmt"]]
        if bool(got) != r["expected"]:
            bad.append((r["fmt"], r["value"], r["expected"], got))
    assert not bad, f"format mismatches: {bad}"
    # the driver-side predicate is derived from the same declaration
    bad_py = [(f, v, e) for f, pairs in CASES.items() for v, e in pairs if FORMATS[f].py(v) != e]
    assert not bad_py, f"FormatSpec.py mismatches: {bad_py}"


def test_duckdb_predicates_match_cases():
    """The DuckDB oracle predicate of each format (all but `regex`, which
    DuckDB cannot compile-try) agrees with the cases."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    bad = []
    for f, pairs in CASES.items():
        if FORMATS[f].in_python:
            continue
        for v, e in pairs:
            got = con.execute(f"SELECT {format_duckdb(f, 's')} FROM (SELECT ? AS s)", [v]).fetchone()[0]
            if got is not e:
                bad.append((f, v, e, got))
    assert not bad, f"duckdb format mismatches: {bad}"
