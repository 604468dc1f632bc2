"""Instance-position tracking: JSON-pointer → [line, col, line, col] spans.

The reference's Basic output carries ``instancePosition`` — the 1-based
[startLine, startColumn, endLine, endColumn] source span of each error's
instance location (output_standard.cc:85; position tracker attached at
parse, command_validate.cc:272-280; golden: test/validate/fail_json.sh
``[1, 3, 1, 10]`` for ``/foo`` in ``{ "foo": 1 }`` — an object member's
span STARTS AT ITS KEY and ends at the last character of its value).

We re-derive spans with a single-pass position-tracking scanner over the
original document text. ``instance_spans`` is the one Arrow-batched UDF
that runs it: one scan per document, for all of that document's entries
at once, on the cold path only (report and violation-row output) — the
hot validate path never touches it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, IntegerType

_WS = " \t\n\r"
_ESC = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f", '"': '"', "\\": "\\", "/": "/"}


def scan_spans(text: str) -> dict[str, tuple[int, int]]:
    """JSON pointer → (start_offset, end_offset_inclusive) for every value
    in ``text``. Object-member spans start at the member KEY's opening
    quote (reference golden behavior)."""
    spans: dict[str, tuple[int, int]] = {}
    n = len(text)
    i = 0

    def skip_ws() -> None:
        nonlocal i
        while i < n and text[i] in _WS:
            i += 1

    def parse_string() -> str:
        nonlocal i
        i += 1  # opening quote
        buf: list[str] = []
        while i < n:
            c = text[i]
            if c == "\\":
                e = text[i + 1]
                if e == "u":
                    buf.append(chr(int(text[i + 2:i + 6], 16)))
                    i += 6
                else:
                    buf.append(_ESC.get(e, e))
                    i += 2
            elif c == '"':
                i += 1
                return "".join(buf)
            else:
                buf.append(c)
                i += 1
        raise ValueError("unterminated string")

    def parse_value(pointer: str, span_start: int | None = None) -> None:
        nonlocal i
        skip_ws()
        start = i if span_start is None else span_start
        c = text[i]
        if c == "{":
            i += 1
            skip_ws()
            if text[i] == "}":
                i += 1
            else:
                while True:
                    skip_ws()
                    key_start = i
                    key = parse_string()
                    skip_ws()
                    if text[i] != ":":
                        raise ValueError("expected ':'")
                    i += 1
                    token = key.replace("~", "~0").replace("/", "~1")
                    parse_value(f"{pointer}/{token}", span_start=key_start)
                    skip_ws()
                    if text[i] == ",":
                        i += 1
                        continue
                    if text[i] != "}":
                        raise ValueError("expected '}'")
                    i += 1
                    break
        elif c == "[":
            i += 1
            skip_ws()
            if text[i] == "]":
                i += 1
            else:
                idx = 0
                while True:
                    parse_value(f"{pointer}/{idx}")
                    idx += 1
                    skip_ws()
                    if text[i] == ",":
                        i += 1
                        continue
                    if text[i] != "]":
                        raise ValueError("expected ']'")
                    i += 1
                    break
        elif c == '"':
            parse_string()
        else:
            while i < n and text[i] not in ",]}" + _WS:
                i += 1
        spans[pointer] = (start, i - 1)

    parse_value("")
    return spans


def _line_col(text: str, off: int) -> tuple[int, int]:
    line = text.count("\n", 0, off) + 1
    last_nl = text.rfind("\n", 0, off)
    return line, off - last_nl if last_nl >= 0 else off + 1


def _positions(doc: str | None, locs) -> list | None:
    """The span of each pointer in ``locs`` within ``doc`` (None where the
    scan misses it); None for a NULL document."""
    if doc is None or locs is None:
        return None
    try:
        spans = scan_spans(doc) if len(locs) else {}
    except (ValueError, IndexError):
        spans = {}
    return [[*_line_col(doc, spans[p][0]), *_line_col(doc, spans[p][1])] if p in spans else None
            for p in locs]


@F.pandas_udf(ArrayType(ArrayType(IntegerType())))
def _spans_udf(doc: pd.Series, locs: pd.Series) -> pd.Series:
    return pd.Series([_positions(d, ls) for d, ls in zip(doc, locs)])


def instance_spans(doc: Column, parsed: Column, locs: Column) -> Column:
    """Column ``array<array<int>>``: the [startLine, startCol, endLine,
    endCol] span of each JSON pointer in ``locs`` (an array of instance
    locations) within the source text ``doc``, aligned with ``locs``.
    NULL for the whole row unless ``parsed`` — a document Spark could not
    parse has no positions, however much of it the scanner would read."""
    return _spans_udf(F.when(parsed, doc), locs)
