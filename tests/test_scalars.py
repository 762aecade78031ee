"""Scalar function goldens, including the reference's own fixture
values (FIXTURES.md F9 / reference lib/crypto.go doc examples)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mito_spark.functions import crypto, strings, timefns, tryfns
from mito_spark.functions.regexpfns import RegexpRegistry
from mito_spark.functions.timefns import go_layout_to_jdk


@pytest.fixture(scope="module")
def one(spark):
    return spark.createDataFrame([("hello world",)], "s string")


def test_reference_crypto_goldens(one):
    # golden values from FIXTURES.md F9 (reference crypto.go:100-157)
    row = one.select(
        crypto.md5_hex("s").alias("md5"),
        crypto.sha1_hex("s").alias("sha1"),
        crypto.sha256_hex("s").alias("sha256"),
        crypto.hmac_bytes("s", "sha256", b"key").alias("hmac"),
        crypto.base64("s").alias("b64"),
        crypto.hex_lower(F.encode(F.col("s"), "UTF-8")).alias("hex"),
    ).first()
    assert row.md5 == "5eb63bbbe01eeed093cb22bb8f5acdc3"
    assert row.sha1.startswith("2aae6c35")
    assert row.sha256.startswith("b94d27b9")
    assert row.hmac.hex().startswith("0ba06f1f")
    assert row.b64 == "aGVsbG8gd29ybGQ="
    assert row.hex == "68656c6c6f20776f726c64"


def test_base64_raw_roundtrip(one):
    row = one.select(
        crypto.base64_raw("s").alias("raw"),
        crypto.base64_raw_decode(crypto.base64_raw("s")).cast("string").alias("back"),
    ).first()
    assert "=" not in row.raw
    assert row.back == "hello world"


def test_string_semantics(one):
    row = one.select(
        strings.index_of("s", "world").alias("idx"),  # 0-based like Go
        strings.index_of("s", "zzz").alias("missing"),
        strings.last_index_of("s", "l").alias("lidx"),
        strings.count_substr("s", "l").alias("cnt"),
        strings.substring("s", 0, 5).alias("sub"),  # [start,end) code points
        strings.fields(F.lit("  a  b\tc ")).alias("fields"),
        strings.fields(F.lit("")).alias("fields_empty"),
        strings.fields(F.lit(" \t\n ")).alias("fields_blank"),
        strings.fields(F.lit("\tFoo  bar")).alias("fields_tab"),
        strings.fields(F.lower(F.lit("\tFoo  bar"))).alias("fields_lower"),
        strings.replace_n("s", "l", "L", 2).alias("rep"),
        strings.trim(F.lit("xxhixx"), "x").alias("trimmed"),
    ).first()
    assert row.idx == 6
    assert row.missing == -1
    assert row.lidx == 9
    assert row.cnt == 3
    assert row.sub == "hello"
    assert row.fields == ["a", "b", "c"]
    assert row.fields_empty == []
    assert row.fields_blank == []
    assert row.fields_tab == ["Foo", "bar"]
    assert row.fields_lower == ["foo", "bar"]
    assert row.rep == "heLLo world"
    assert row.trimmed == "hi"


def test_index_any_and_split_after_n(one):
    # one.s == "hello world"
    row = one.select(
        strings.index_any("s", "wol").alias("ia"),       # first of {w,o,l} → 'l' @2
        strings.index_any("s", "zq").alias("ia_miss"),
        strings.last_index_any("s", "wol").alias("la"),  # last → 'l' @9
        strings.last_index_any("s", "zq").alias("la_miss"),
        strings.split_after("s", "o").alias("sa"),
        strings.split_after_n("s", "o", 2).alias("san"),
    ).first()
    assert row.ia == 2
    assert row.ia_miss == -1
    assert row.la == 9
    assert row.la_miss == -1
    assert row.sa == ["hello", " wo", "rld"]
    assert row.san == ["hello", " world"]  # last piece keeps remainder


def test_unicode_substring(spark):
    # reference strings.go:857-902 slices by code point
    df = spark.createDataFrame([("零一二三四五",)], "s string")
    assert df.select(strings.substring("s", 1, 4).alias("r")).first().r == "一二三"


def test_go_layout_translation():
    assert go_layout_to_jdk("2006-01-02") == "yyyy-MM-dd"
    assert go_layout_to_jdk("2006-01-02 15:04:05") == "yyyy-MM-dd HH:mm:ss"
    assert go_layout_to_jdk("Kitchen") == "h:mma"
    assert go_layout_to_jdk("RFC3339") == "yyyy-MM-dd'T'HH:mm:ssXXX"


def test_parse_format_roundtrip(spark):
    df = spark.createDataFrame([("2024-03-05T06:07:08Z",)], "t string")
    row = df.select(
        timefns.parse_time("t", ["Kitchen", "RFC3339"]).alias("ts"),
        timefns.format_time(timefns.parse_time("t", "RFC3339"), "DateTime").alias("s"),
        timefns.format_time(timefns.parse_time("t", "RFC3339"), "Kitchen").alias("k"),
    ).first()
    assert row.s == "2024-03-05 06:07:08"
    assert row.k == "6:07AM"
    assert row.ts is not None


def test_parse_time_first_success_wins(spark):
    df = spark.createDataFrame([("3:04PM",)], "t string")
    row = df.select(timefns.parse_time("t", ["RFC3339", "Kitchen"]).alias("ts")).first()
    assert row.ts is not None and row.ts.hour == 15


def test_regexp_registry_rejects_non_portable():
    with pytest.raises(ValueError):
        RegexpRegistry({"bad": r"(a)\1"})  # backreference: not RE2
    with pytest.raises(ValueError):
        RegexpRegistry({"bad": r"(?=x)y"})  # lookahead: not RE2
    reg = RegexpRegistry({"named": r"(?P<word>[a-z]+)"})  # RE2 name syntax translated
    assert "(?<word>" in reg.patterns["named"]


def test_regexp_functions(spark):
    reg = RegexpRegistry({"num": r"[0-9]+"})
    df = spark.createDataFrame([("a1 b22 c333",), ("none",)], "s string")
    rows = df.select(
        reg.re_match("num", "s").alias("m"),
        reg.re_find("num", "s").alias("f"),
        reg.re_find_all("num", "s").alias("fa"),
        reg.re_replace_all("num", "s", "#").alias("r"),
    ).collect()
    assert (rows[0].m, rows[0].f, rows[0].fa, rows[0].r) == (True, "1", ["1", "22", "333"], "a# b# c#")
    assert (rows[1].m, rows[1].f, rows[1].fa, rows[1].r) == (False, None, [], "none")


def test_try_error_as_value(spark):
    df = spark.createDataFrame([(1, 0), (6, 3)], "a int, b int")
    rows = df.select(
        tryfns.try_divide("a", "b").alias("d"),
        tryfns.try_result(
            F.col("a") / F.col("b"), F.col("b") == 0, "division by zero"
        ).alias("r"),
    ).collect()
    assert rows[0].d is None  # error absorbed, no task failure
    assert rows[0].r.error == "division by zero" and rows[0].r.value is None
    assert rows[1].d == 2.0
    assert rows[1].r.error is None and rows[1].r.value == 2.0
    err = df.select(
        tryfns.is_error(
            tryfns.try_result(F.col("a") / F.col("b"), F.col("b") == 0, "e")
        ).alias("e")
    ).collect()
    assert [r.e for r in err] == [True, False]


def test_equal_fold_unicode_simple_fold(spark):
    """Go strings.EqualFold parity on the fold classes where
    lower()==lower() diverges (VERDICT r2 #1): Kelvin sign K=U+212A,
    long s ſ=U+017F, micro µ=U+00B5, final sigma ς, Cherokee. Golden
    values = Go strings.EqualFold (lib/strings.go:636)."""
    cases = [
        ("K", "k", True),        # KELVIN SIGN vs k
        ("K", "K", True),
        ("ſ", "s", True),        # LONG S vs s
        ("ſ", "S", True),
        ("µ", "μ", True),   # MICRO SIGN vs GREEK MU
        ("µ", "Μ", True),   # vs capital Mu
        ("ς", "σ", True),   # final sigma vs sigma
        ("ς", "Σ", True),   # vs capital Sigma
        ("Ꭰ", "ꭰ", True),   # Cherokee A vs small a
        ("straße", "STRAẞE", True),  # ß vs ẞ (S-fold pair)
        ("ß", "ss", False),      # simple fold does NOT expand ß
        ("abc", "ABD", False),
        ("", "", True),
    ]
    df = spark.createDataFrame(cases, "a string, b string, want boolean")
    rows = df.select("a", "b", "want", strings.equal_fold("a", F.col("b")).alias("got")).collect()
    for r in rows:
        assert r.got == r.want, (r.a, r.b)


def test_remaining_string_functions(spark):
    df = spark.createDataFrame(
        [("Hello World", "HELLO WORLD", b"ok\xffbad")], "a string, b string, bin binary"
    )
    row = df.select(
        strings.equal_fold("a", F.col("b")).alias("fold"),
        strings.to_title(F.lit("hello world")).alias("title"),
        strings.contains_any("a", "xyzW").alias("any"),
        strings.contains_any("a", "xyz").alias("none"),
        strings.split_n(F.lit("a,b,c,d"), ",", 2).alias("sn"),
        strings.trim_left(F.lit("xxhixx"), "x").alias("tl"),
        strings.trim_right(F.lit("xxhixx"), "x").alias("tr"),
        strings.trim_suffix(F.lit("file.txt"), ".txt").alias("ts"),
        strings.trim_suffix(F.lit("file.txt"), ".csv").alias("ts_noop"),
        strings.valid_utf8("bin").alias("valid"),
        strings.valid_utf8(F.encode(F.lit("fine"), "UTF-8")).alias("valid_ok"),
        strings.to_valid_utf8("bin").alias("repaired"),
        strings.compare("a", F.col("b")).alias("cmp"),
        strings.compare("a", F.col("a")).alias("cmp_eq"),
    ).first()
    assert row.fold is True       # case-insensitive equality (Go EqualFold)
    assert row.title == "HELLO WORLD"
    assert row.any is True and row.none is False
    assert row.sn == ["a", "b,c,d"]  # n-limited split keeps remainder
    assert row.tl == "hixx" and row.tr == "xxhi"
    assert row.ts == "file" and row.ts_noop == "file.txt"
    assert row.valid is False and row.valid_ok is True
    assert "�" in row.repaired and row.repaired.startswith("ok")
    assert row.cmp == 1 or row.cmp == -1  # 'H' vs 'E' ordering is definite
    assert row.cmp_eq == 0
