"""Hypothesis property tests: escaping safety of the shipped SQL literal
(run through the session SparkSession, a few dozen batched examples),
and — with no SparkSession — codec exactness, unsigned
reinterpretation and sampling thresholds, fuzzed over thousands of
cases."""

from __future__ import annotations

import decimal

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bingo2sql_spark.functions.render import sql_literal
from bingo2sql_spark.functions.sampling import threshold_hex
from bingo2sql_spark.sources import codecs as C
from bingo2sql_spark.sources.decode import unsigned_fixup

TEXT = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF), max_size=200
)


def _unescape(s: str) -> str:
    """Inverse of the MySQL backslash escape set (what the server does
    when parsing the literal)."""
    out, i = [], 0
    mapping = {"\\": "\\", "'": "'", '"': '"', "n": "\n", "r": "\r", "0": "\x00", "Z": "\x1a"}
    while i < len(s):
        ch = s[i]
        if ch == "\\" and i + 1 < len(s) and s[i + 1] in mapping:
            out.append(mapping[s[i + 1]])
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


@given(st.lists(st.none() | TEXT, min_size=1, max_size=40))
@settings(max_examples=25, deadline=None)
def test_escape_roundtrip_and_safety(spark, values):
    """sql_literal, the escape render_sql ships: one DataFrame per
    example, one literal per value."""
    df = spark.createDataFrame([(v,) for v in values], "v string")
    lits = [r["lit"] for r in df.select(sql_literal(F.col("v")).alias("lit")).collect()]
    for s, lit in zip(values, lits, strict=True):
        if s is None:
            assert lit == "NULL"
            continue
        assert lit[0] == lit[-1] == "'" and len(lit) >= 2
        esc = lit[1:-1]
        # no raw quote/NUL/Ctrl-Z/newline survives unescaped -> the
        # literal can never terminate early or corrupt the file
        assert not any(ch in esc for ch in "\x00\x1a\n\r")
        i = 0
        while i < len(esc):
            if esc[i] == "\\":
                i += 2
                continue
            assert esc[i] not in ("'", '"'), f"unescaped quote in {esc!r}"
            i += 1
        # MySQL's unescape recovers the original bytes exactly
        assert _unescape(esc) == s


@given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1), st.sampled_from([8, 16, 24, 32]))
@settings(max_examples=300, deadline=None)
def test_unsigned_fixup_matches_reference_semantics(v, bits):
    # reference processValue: negative -> 1<<bits + v, else unchanged
    got = unsigned_fixup(pd.Series([v], dtype="Int64"), bits).iloc[0]
    want = (1 << bits) + v if v < 0 else v
    assert got == want


@given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
@settings(max_examples=300, deadline=None)
def test_unsigned_fixup_u64_exact(v):
    got = unsigned_fixup(pd.Series([v], dtype="Int64"), 64).iloc[0]
    want = decimal.Decimal(v % (1 << 64))  # two's-complement reinterpretation
    assert got == want and 0 <= int(got) < (1 << 64)


@given(
    st.decimals(
        min_value=-(10 ** 20), max_value=10 ** 20, allow_nan=False, allow_infinity=False, places=8
    )
)
@settings(max_examples=300, deadline=None)
def test_decimal_codec_value_preserving(d):
    s = format(d, "f")
    out = C.decimal_codec(pd.Series([s], dtype="object")).iloc[0]
    # exact value preserved; no trailing fraction zeros; never float
    assert decimal.Decimal(out) == decimal.Decimal(s)
    if "." in out:
        assert not out.endswith("0") and not out.endswith(".")


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_threshold_hex_monotone(f):
    t = threshold_hex(f)
    # monotone in f and comparable against 8-hex draws
    assert threshold_hex(0.0) <= t <= threshold_hex(1.0)
    if f < 1.0:
        assert len(t) == 8 and t <= "ffffffff"


@given(st.integers(min_value=0, max_value=(1 << 64) - 1))
@settings(max_examples=200, deadline=None)
def test_bit_codec_bytes(v):
    raw = v.to_bytes(8, "big")
    assert C.bit_codec(pd.Series([raw], dtype="object")).iloc[0] == str(v)


# --- JSONB binary decode round-trip -----------------------------------------
# The test-side encoder (tests/test_codecs.py) and decode_jsonb are
# independent implementations of the public json_binary layout; random
# JSON values must round-trip to the canonical text python produces.

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.text(max_size=40),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(min_size=1, max_size=10), children, max_size=5),
    ),
    max_leaves=12,
)


def _canon(v) -> str:
    import json as _json

    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return _json.dumps(v, ensure_ascii=True)
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        import json as _j

        return (
            "{"
            + ",".join(_j.dumps(k, ensure_ascii=True) + ":" + _canon(v[k])
                       for k in sorted(v))
            + "}"
        )
    raise TypeError(type(v))


@settings(max_examples=150, deadline=None)
@given(_json_values)
def test_jsonb_roundtrip_random_values(v):
    from tests.test_codecs import _blob

    assert C.decode_jsonb(_blob(v)) == _canon(v)


@settings(max_examples=60, deadline=None)
@given(_json_values)
def test_jsonb_roundtrip_large_format(v):
    from tests.test_codecs import _blob

    if not isinstance(v, (list, dict)):
        return
    assert C.decode_jsonb(_blob(v, force_large=True)) == _canon(v)
