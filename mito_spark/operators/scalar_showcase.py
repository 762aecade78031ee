"""Oracle-checked showcase queries for the scalar function modules
(strings / crypto / time / regexp / collections). Each runs the
mito-parity builders from mito_spark.functions over the synthetic
tables and has a DuckDB twin — so the per-function semantics
(0-based indexing, lower-case hex, Go layout translation, sorted map
keys, …) are continuously verified, not just unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.functions import collections as C
from mito_spark.functions import crypto, strings, timefns
from mito_spark.functions.regexpfns import RegexpRegistry


def strings_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions over documents.text (reference
    lib/strings.go semantics: 0-based index, Fields whitespace split,
    trim cutsets)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        strings.to_upper(strings.substring(F.col("text"), 0, 12)).alias("head_upper"),
        F.size(strings.fields(F.col("text"))).alias("n_fields"),
        strings.index_of(F.col("text"), "data").alias("idx_data"),
        strings.count_substr(F.col("text"), "the").alias("n_the"),
        strings.has_prefix(F.col("text"), "the ").alias("starts_the"),
        strings.contains_substr(F.col("text"), "join").alias("has_join"),
        strings.trim_prefix(strings.substring(F.col("text"), 0, 10), "the ").alias("trimmed"),
        strings.repeat(F.lit("ab"), 3).alias("rep"),
        strings.join(F.slice(strings.fields(F.col("text")), 1, 3), "-").alias("first3"),
        strings.index_any(F.col("text"), "xq").alias("idx_any_xq"),
        strings.last_index_any(F.col("text"), "xq").alias("last_any_xq"),
    )


STRINGS_SQL = r"""
SELECT doc_id,
       upper(substr(text, 1, 12)) AS head_upper,
       len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_fields,
       CAST(strpos(text, 'data') - 1 AS INTEGER) AS idx_data,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the,
       starts_with(text, 'the ') AS starts_the,
       contains(text, 'join') AS has_join,
       CASE WHEN starts_with(substr(text, 1, 10), 'the ')
            THEN substr(substr(text, 1, 10), 5) ELSE substr(text, 1, 10) END AS trimmed,
       repeat('ab', 3) AS rep,
       array_to_string(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')[1:3], '-') AS first3,
       CAST(COALESCE(LEAST(NULLIF(strpos(text,'x'),0), NULLIF(strpos(text,'q'),0)), 0) - 1 AS INTEGER) AS idx_any_xq,
       CAST(length(text) - COALESCE(LEAST(NULLIF(strpos(reverse(text),'x'),0), NULLIF(strpos(reverse(text),'q'),0)), length(text)+1) AS INTEGER) AS last_any_xq
FROM documents WHERE doc_id < 200
"""


def crypto_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/encoding functions over documents.text (lib/crypto.go:
    lower-case hex, unpadded base64 variants)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        crypto.md5_hex(F.col("text")).alias("md5_hex"),
        crypto.sha256_hex(F.col("text")).alias("sha256_hex"),
        crypto.base64(F.substring(F.col("text"), 1, 30)).alias("b64"),
        crypto.base64_raw(F.substring(F.col("text"), 1, 30)).alias("b64_raw"),
        crypto.hex_lower(F.encode(F.substring(F.col("text"), 1, 10), "UTF-8")).alias("hex"),
    )


CRYPTO_SQL = """
SELECT doc_id,
       md5(text) AS md5_hex,
       sha256(text) AS sha256_hex,
       to_base64(encode(substr(text, 1, 30))) AS b64,
       rtrim(to_base64(encode(substr(text, 1, 30))), '=') AS b64_raw,
       lower(hex(encode(substr(text, 1, 10)))) AS hex
FROM documents WHERE doc_id < 200
"""


def time_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Go-layout time formatting/parsing round-trip over events.ts
    (lib/time.go:201-248): format with Go layouts via the translation
    table, parse back, extract parts."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 500)
    return ev.select(
        "event_id",
        timefns.format_time(F.col("ts"), "2006-01-02 15:04:05").alias("dt"),
        timefns.format_time(F.col("ts"), "Kitchen").alias("kitchen"),
        timefns.format_time(F.col("ts"), "Jan _2 15:04:05").alias("stamp"),
        timefns.parse_time(
            timefns.format_time(F.col("ts"), "2006-01-02 15:04:05"), "DateTime"
        ).alias("roundtrip"),
        F.year("ts").alias("y"),
        F.hour("ts").alias("h"),
    )


TIME_SQL = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt,
       strftime(ts, '%-I:%M%p') AS kitchen,
       strftime(ts, '%b %-d %H:%M:%S') AS stamp,
       CAST(date_trunc('second', ts) AS TIMESTAMP) AS roundtrip,
       year(ts) AS y, hour(ts) AS h
FROM events WHERE event_id < 500
"""


_REGISTRY = RegexpRegistry(
    {
        "word_num": r"[a-z]+[0-9]+",
        "vowel_run": r"[aeiou]{2,}",
    }
)


def regexp_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-regexp functions over documents (lib/regexp.go): match,
    find, find_all count, replace_all — patterns restricted to the
    RE2∩Java dialect by the registry."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    r = _REGISTRY
    return docs.select(
        "doc_id",
        r.re_match("vowel_run", F.col("text")).alias("has_vowel_run"),
        r.re_find("vowel_run", F.col("text")).alias("first_vowel_run"),
        F.size(r.re_find_all("vowel_run", F.col("text"))).alias("n_vowel_runs"),
        r.re_replace_all("vowel_run", F.substring(F.col("text"), 1, 40), "_").alias("replaced"),
        r.re_match("word_num", F.col("source")).alias("src_has_num"),
    )


REGEXP_SQL = """
SELECT doc_id,
       regexp_matches(text, '[aeiou]{2,}') AS has_vowel_run,
       CASE WHEN regexp_matches(text, '[aeiou]{2,}')
            THEN regexp_extract(text, '([aeiou]{2,})', 1) END AS first_vowel_run,
       len(regexp_extract_all(text, '([aeiou]{2,})', 1)) AS n_vowel_runs,
       regexp_replace(substr(text, 1, 40), '[aeiou]{2,}', '_', 'g') AS replaced,
       regexp_matches(source, '[a-z]+[0-9]+') AS src_has_num
FROM documents WHERE doc_id < 200
"""


def collections_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collections ops in a grouped setting: per source, collect docs
    as an array of structs, then collate('lang') over the nested value
    (path-through-array gather, collections.go:911-971), flatten-style
    aggregation, sorted keys of a map built with zip.

    The shuffle here is the grouped collect_list; collate itself is a
    projection over the collected array — zero extra shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    grouped = (
        docs.select("source", F.struct("doc_id", "lang", "n_chars").alias("doc"))
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
    )
    langs = C.collate(grouped, "docs", "lang")
    ids = C.collate(grouped, "docs", "doc_id")
    # List-typed outputs are serialized (array_join) in the FINAL
    # projection only: the collate/zip/keys ops above stay array-typed;
    # the driver's pandas canonicalizer cannot sort/hash python lists.
    return grouped.select(
        "source",
        F.array_join(F.array_sort(F.array_distinct(langs)), ",").alias("langs"),
        C.arr_min(ids).alias("min_doc"),
        C.arr_max(ids).alias("max_doc"),
        F.size(ids).alias("n_docs"),
        F.array_join(
            C.keys_sorted(C.zip_map(F.array_distinct(langs), F.transform(F.array_distinct(langs), F.length))),
            ",",
        ).alias("zip_keys"),
    )


COLLECTIONS_SQL = """
SELECT source,
       COALESCE(array_to_string(list_sort(list_distinct(list(lang))), ','), '') AS langs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       COUNT(*) AS n_docs,
       COALESCE(array_to_string(list_sort(list_distinct(list(lang))), ','), '') AS zip_keys
FROM documents GROUP BY source
"""


def collections_showcase2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining §2.2 ops under oracle: flatten_deep over built
    nesting, drop_empty pruning an empty inner list, and the three map
    merge variants (with / with_update / with_replace) read back
    through values_sorted. The oracle computes each expected value
    independently, so Spark must reproduce the op semantics exactly."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = strings.fields(F.col("text"))
    nested = F.array(F.slice(toks, 1, 3), F.slice(toks, 4, 3))
    df = docs.select("doc_id", "n_chars", nested.alias("nested"), toks.alias("toks"))
    flat = C.flatten_deep(df, "nested")

    long_words = F.filter(F.col("toks"), lambda t: F.length(t) > 3)
    none_words = F.filter(F.col("toks"), lambda t: t == F.lit("zzzzqq"))
    pair = F.array(long_words, none_words)
    df = df.withColumn("pair", pair)
    pruned = C.drop_empty(df, "pair")

    m1 = F.create_map(
        F.lit("a"), F.col("n_chars").cast("bigint"),
        F.lit("b"), F.col("doc_id").cast("bigint"),
    )
    m2 = F.create_map(F.lit("b"), F.lit(0).cast("bigint"), F.lit("c"), F.lit(1).cast("bigint"))
    def _join(arr):
        # serialize for the driver canonicalizer; ops stay array-typed
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")

    return df.select(
        "doc_id",
        _join(flat).alias("flat"),
        F.size(pruned).alias("n_nonempty_lists"),
        _join(C.values_sorted(C.map_with(m1, m2))).alias("with_vals"),
        _join(C.values_sorted(C.map_with_update(m1, m2))).alias("update_vals"),
        _join(C.values_sorted(C.map_with_replace(m1, m2))).alias("replace_vals"),
    )


COLLECTIONS2_SQL = r"""
WITH t AS (
  SELECT doc_id, n_chars,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       COALESCE(array_to_string(toks[1:6], ','), '') AS flat,
       CAST(CASE WHEN len(list_filter(toks, t -> length(t) > 3)) > 0 THEN 1 ELSE 0 END
            + CASE WHEN len(list_filter(toks, t -> t = 'zzzzqq')) > 0 THEN 1 ELSE 0 END AS INT) AS n_nonempty_lists,
       COALESCE(array_to_string([n_chars, CAST(0 AS BIGINT), CAST(1 AS BIGINT)], ','), '') AS with_vals,
       COALESCE(array_to_string([n_chars, doc_id, CAST(1 AS BIGINT)], ','), '') AS update_vals,
       COALESCE(array_to_string([n_chars, CAST(0 AS BIGINT)], ','), '') AS replace_vals
FROM t
"""
