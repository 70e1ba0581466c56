"""ClickHouse function names as Spark SQL UDFs (SURVEY.md §2.8, §7 Phase 1).

Each function the reference course exercises is registered under its
ClickHouse name so queries written in the reference dialect run
unchanged. They are **SQL-defined UDFs** (``CREATE TEMPORARY FUNCTION …
RETURN <expr>``) — Catalyst inlines the body into the plan, so these
cost nothing at runtime (no Python round-trip, stays inside
whole-stage codegen).

A function is registered the first time a statement or expression
names it, in the session that analyzes the text
(:func:`ensure_functions`): a session pays one ``CREATE`` per function
it uses, not one per function in the table. No ClickHouse name is also
a Spark builtin, so a text that misses registration fails with
``UNRESOLVED_ROUTINE`` instead of resolving to another function.

Citations are to the reference usage site under /root/reference/.
"""

from __future__ import annotations

import random
import re
import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# name -> (args, return type, body). All bodies are plain Spark SQL
# expressions: they inline into the logical plan.
# C/MySQL-style datetime format specifiers (formatDateTime/
# parseDateTime) → Java date_format patterns, applied longest-first so
# %Y never half-matches %y. Unlisted specifiers pass through verbatim.
_C_FORMAT_SPECS = [
    ("%F", "yyyy-MM-dd"), ("%T", "HH:mm:ss"), ("%D", "MM/dd/yy"),
    ("%R", "HH:mm"), ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"),
    ("%d", "dd"), ("%e", "d"), ("%H", "HH"), ("%I", "hh"), ("%M", "mm"),
    ("%S", "ss"), ("%p", "a"), ("%j", "DDD"), ("%a", "EEE"),
    ("%b", "MMM"), ("%W", "EEEE"), ("%G", "yyyy"), ("%%", "%"),
]


def _nested_replace(var: str, pairs: list[tuple[str, str]]) -> str:
    expr = var
    for frm, to in pairs:
        expr = f"replace({expr}, '{frm}', '{to}')"
    return expr


_C_FORMAT_TO_JAVA = _nested_replace("fmt", _C_FORMAT_SPECS)

_SQL_FUNCTIONS: list[tuple[str, str, str, str]] = [
    # --- date/time (lectures/lecture_07.md:178-193, homeworks/hw04.md, hw11.md:34)
    ("toDate", "x TIMESTAMP", "DATE", "CAST(x AS DATE)"),
    # the TIMESTAMP parameter lets Spark's coercion read an integer as
    # epoch seconds, a DATE as midnight and a string as a timestamp
    ("toDateTime", "x TIMESTAMP", "TIMESTAMP", "x"),
    ("toYYYYMM", "x TIMESTAMP", "INT", "CAST(date_format(x, 'yyyyMM') AS INT)"),
    ("toYYYYMMDD", "x TIMESTAMP", "INT", "CAST(date_format(x, 'yyyyMMdd') AS INT)"),
    ("toYYYYMMDDhhmmss", "x TIMESTAMP", "BIGINT",
     "CAST(date_format(x, 'yyyyMMddHHmmss') AS BIGINT)"),
    ("substringIndex", "s STRING, d STRING, n INT", "STRING",
     "substring_index(s, d, n)"),
    ("tokens", "s STRING", "ARRAY<STRING>",
     "filter(split(s, '[^\\\\p{L}\\\\p{N}_]+'), t -> t != '')"),
    ("toStartOfISOYear", "x TIMESTAMP", "DATE",
     # ISO year = year of this week's Thursday (weekday(): 0=Monday);
     # its first day = Monday of the week containing Jan 4
     """date_sub(make_date(year(date_add(CAST(x AS DATE), 3 - weekday(x))), 1, 4),
                 weekday(make_date(year(date_add(CAST(x AS DATE), 3 - weekday(x))), 1, 4)))"""),
    ("toRelativeDayNum", "x TIMESTAMP", "INT",
     "CAST(floor(unix_timestamp(x) / 86400) AS INT)"),
    ("makeDate", "y INT, m INT, d INT", "DATE", "make_date(y, m, d)"),
    ("makeDateTime", "y INT, m INT, d INT, h INT, mi INT, s INT", "TIMESTAMP",
     "make_timestamp(y, m, d, h, mi, s)"),
    ("toStartOfMonth", "x TIMESTAMP", "DATE", "CAST(date_trunc('MONTH', x) AS DATE)"),
    ("toStartOfDay", "x TIMESTAMP", "TIMESTAMP", "date_trunc('DAY', x)"),
    ("toStartOfHour", "x TIMESTAMP", "TIMESTAMP", "date_trunc('HOUR', x)"),
    ("toStartOfMinute", "x TIMESTAMP", "TIMESTAMP", "date_trunc('MINUTE', x)"),
    # toStartOfWeek(d, 1) = Monday-start week (lecture_06.md:13)
    ("toStartOfWeek", "x TIMESTAMP, mode INT", "DATE", "CAST(date_trunc('WEEK', x) AS DATE)"),
    # toStartOfInterval(t, INTERVAL n SECOND) (lecture_20.md:29)
    (
        "toStartOfIntervalSecond",
        "x TIMESTAMP, n INT",
        "TIMESTAMP",
        "timestamp_seconds(CAST(floor(unix_timestamp(x) / n) AS BIGINT) * n)",
    ),
    ("toHour", "x TIMESTAMP", "INT", "hour(x)"),
    ("toIntervalDay", "n INT", "INTERVAL DAY", "make_dt_interval(n)"),
    ("toIntervalHour", "n INT", "INTERVAL HOUR", "make_dt_interval(0, n)"),
    ("toIntervalMinute", "n INT", "INTERVAL MINUTE", "make_dt_interval(0, 0, n)"),
    ("toIntervalSecond", "n INT", "INTERVAL SECOND", "make_dt_interval(0, 0, 0, n)"),
    ("toIntervalWeek", "n INT", "INTERVAL DAY", "make_dt_interval(n * 7)"),
    ("toIntervalMonth", "n INT", "INTERVAL MONTH", "make_ym_interval(0, n)"),
    ("toIntervalQuarter", "n INT", "INTERVAL MONTH", "make_ym_interval(0, n * 3)"),
    ("toIntervalYear", "n INT", "INTERVAL YEAR", "make_ym_interval(n)"),
    ("countMatches", "s STRING, pat STRING", "INT",
     "size(regexp_extract_all(s, pat, 0))"),
    ("regexpExtract", "s STRING, pat STRING, grp INT", "STRING",
     "regexp_extract(s, pat, grp)"),
    ("bitHammingDistance", "a BIGINT, b BIGINT", "INT", "bit_count(a ^ b)"),
    # byte-set Jaccard over the two strings' distinct characters
    ("stringJaccardIndex", "a STRING, b STRING", "DOUBLE",
     "size(array_intersect("
     "  array_distinct(transform(sequence(1, length(a)), i -> substring(a, i, 1))), "
     "  array_distinct(transform(sequence(1, length(b)), i -> substring(b, i, 1))))) "
     "/ CAST(size(array_distinct(concat("
     "  transform(sequence(1, length(a)), i -> substring(a, i, 1)), "
     "  transform(sequence(1, length(b)), i -> substring(b, i, 1))))) AS DOUBLE)"),
    ("parseDateTimeBestEffort", "x STRING", "TIMESTAMP", "CAST(x AS TIMESTAMP)"),
    ("parseDateTimeBestEffortOrZero", "x STRING", "TIMESTAMP",
     "coalesce(try_cast(x AS TIMESTAMP), TIMESTAMP '1970-01-01 00:00:00')"),
    # US variants (hw07.md usage): prefer MM/DD/YYYY before ISO
    ("parseDateTimeBestEffortUS", "x STRING", "TIMESTAMP",
     "coalesce(try_to_timestamp(x, 'M/d/yyyy H:m:s'), try_to_timestamp(x, 'M/d/yyyy'), "
     "try_cast(x AS TIMESTAMP))"),
    ("parseDateTimeBestEffortUSOrZero", "x STRING", "TIMESTAMP",
     "coalesce(try_to_timestamp(x, 'M/d/yyyy H:m:s'), try_to_timestamp(x, 'M/d/yyyy'), "
     "try_cast(x AS TIMESTAMP), TIMESTAMP '1970-01-01 00:00:00')"),
    # --- type conversion (lecture_07.md:519-522, homeworks/hw07.md:62-64)
    ("toString", "x STRING", "STRING", "x"),
    ("toUInt64", "x DOUBLE", "BIGINT", "CAST(x AS BIGINT)"),
    ("toUInt32", "x DOUBLE", "BIGINT", "CAST(x AS BIGINT)"),
    ("toUInt16", "x DOUBLE", "INT", "CAST(x AS INT)"),
    ("toUInt8", "x DOUBLE", "SMALLINT", "CAST(x AS SMALLINT)"),
    ("toInt64", "x DOUBLE", "BIGINT", "CAST(x AS BIGINT)"),
    ("toInt32", "x DOUBLE", "INT", "CAST(x AS INT)"),
    ("toInt16", "x DOUBLE", "SMALLINT", "CAST(x AS SMALLINT)"),
    ("toInt8", "x DOUBLE", "TINYINT", "CAST(x AS TINYINT)"),
    ("toFloat64", "x STRING", "DOUBLE", "CAST(x AS DOUBLE)"),
    ("toFloat32", "x STRING", "FLOAT", "CAST(x AS FLOAT)"),
    # --- math (homeworks/hw04.md:67, hw08.md:31-33, lecture_09.md:761)
    ("intDiv", "a BIGINT, b BIGINT", "BIGINT", "CAST(a / b AS BIGINT) - CASE WHEN a % b != 0 AND (a < 0) != (b < 0) THEN 1 ELSE 0 END"),
    ("modulo", "a BIGINT, b BIGINT", "BIGINT", "a % b"),
    ("plus", "a DOUBLE, b DOUBLE", "DOUBLE", "a + b"),
    ("minus", "a DOUBLE, b DOUBLE", "DOUBLE", "a - b"),
    ("multiply", "a DOUBLE, b DOUBLE", "DOUBLE", "a * b"),
    ("divide", "a DOUBLE, b DOUBLE", "DOUBLE", "a / b"),
    ("randUniform", "lo DOUBLE, hi DOUBLE", "DOUBLE", "lo + rand() * (hi - lo)"),
    # --- string (lecture_07.md:44, lecture_03.md:306, lecture_18.md:213)
    ("splitByChar", "sep STRING, s STRING", "ARRAY<STRING>", "split(s, concat('\\\\Q', sep, '\\\\E'))"),
    ("splitByString", "sep STRING, s STRING", "ARRAY<STRING>", "split(s, concat('\\\\Q', sep, '\\\\E'))"),
    ("extractAll", "s STRING, pat STRING", "ARRAY<STRING>", "regexp_extract_all(s, pat, 0)"),
    ("match", "s STRING, pat STRING", "BOOLEAN", "s RLIKE pat"),
    (
        # lectures/lecture_09.md:326, lecture_16.md:65
        "formatReadableSize",
        "x DOUBLE",
        "STRING",
        """CASE
             WHEN x >= 1024.0*1024*1024*1024 THEN concat(format_number(x/1024.0/1024/1024/1024, 2), ' TiB')
             WHEN x >= 1024.0*1024*1024 THEN concat(format_number(x/1024.0/1024/1024, 2), ' GiB')
             WHEN x >= 1024.0*1024 THEN concat(format_number(x/1024.0/1024, 2), ' MiB')
             WHEN x >= 1024.0 THEN concat(format_number(x/1024.0, 2), ' KiB')
             ELSE concat(format_number(x, 2), ' B')
           END""",
    ),
    # --- JSON (homeworks/hw11.md:38-41, clusters/ch_and_kafka/db/init.sql:59-62)
    ("JSONExtractString", "j STRING, k STRING", "STRING", "get_json_object(j, concat('$.', k))"),
    ("JSONExtractInt", "j STRING, k STRING", "BIGINT", "CAST(get_json_object(j, concat('$.', k)) AS BIGINT)"),
    ("JSONExtractFloat", "j STRING, k STRING", "DOUBLE", "CAST(get_json_object(j, concat('$.', k)) AS DOUBLE)"),
    ("visitParamExtractString", "j STRING, k STRING", "STRING", "get_json_object(j, concat('$.', k))"),
    ("JSONExtractBool", "j STRING, k STRING", "BOOLEAN",
     "CAST(get_json_object(j, concat('$.', k)) AS BOOLEAN)"),
    ("JSONHas", "j STRING, k STRING", "TINYINT",
     "CAST(get_json_object(j, concat('$.', k)) IS NOT NULL AS TINYINT)"),
    # 1-arg form: length of the top-level object/array
    ("JSONLength", "j STRING", "INT",
     "coalesce(json_array_length(j), size(json_object_keys(j)))"),
    ("JSONExtractKeys", "j STRING", "ARRAY<STRING>", "json_object_keys(j)"),
    ("JSONExtractRaw", "j STRING, k STRING", "STRING",
     "get_json_object(j, concat('$.', k))"),
    # guard len=0: sequence(0, -1) in Spark is the DESCENDING [0, -1],
    # not empty — an empty/missing array must yield []
    ("JSONExtractArrayRaw", "j STRING, k STRING", "ARRAY<STRING>",
     """CASE
          WHEN coalesce(json_array_length(
                 get_json_object(j, concat('$.', k))), 0) = 0
          THEN array()
          ELSE transform(
            sequence(0, json_array_length(
              get_json_object(j, concat('$.', k))) - 1),
            __i -> get_json_object(j, concat('$.', k, '[', __i, ']')))
        END"""),
    # JSONType classifies the extracted value's shape. get_json_object
    # unquotes strings, so a string spelled like a number/bool
    # classifies as that type — documented approximation
    ("JSONType", "j STRING, k STRING", "STRING",
     """CASE
          WHEN get_json_object(j, concat('$.', k)) IS NULL THEN 'Null'
          WHEN get_json_object(j, concat('$.', k)) LIKE '{%' THEN 'Object'
          WHEN get_json_object(j, concat('$.', k)) LIKE '[%' THEN 'Array'
          WHEN get_json_object(j, concat('$.', k)) IN ('true', 'false') THEN 'Bool'
          WHEN get_json_object(j, concat('$.', k)) RLIKE '^-?[0-9]+$' THEN 'Int64'
          WHEN get_json_object(j, concat('$.', k)) RLIKE '^-?[0-9.eE+-]+$' THEN 'Double'
          ELSE 'String'
        END"""),
    # simpleJSON*/visitParam* aliases (same fast-path family in CH)
    ("simpleJSONExtractString", "j STRING, k STRING", "STRING",
     "get_json_object(j, concat('$.', k))"),
    ("simpleJSONExtractInt", "j STRING, k STRING", "BIGINT",
     "CAST(get_json_object(j, concat('$.', k)) AS BIGINT)"),
    ("simpleJSONExtractFloat", "j STRING, k STRING", "DOUBLE",
     "CAST(get_json_object(j, concat('$.', k)) AS DOUBLE)"),
    ("simpleJSONHas", "j STRING, k STRING", "TINYINT",
     "CAST(get_json_object(j, concat('$.', k)) IS NOT NULL AS TINYINT)"),
    ("visitParamExtractInt", "j STRING, k STRING", "BIGINT",
     "CAST(get_json_object(j, concat('$.', k)) AS BIGINT)"),
    ("visitParamHas", "j STRING, k STRING", "TINYINT",
     "CAST(get_json_object(j, concat('$.', k)) IS NOT NULL AS TINYINT)"),
    # conditional/null: ifNull/coalesce/nullIf are Spark builtins already
    # (lecture_06.md:12, lecture_21.md:108-124) — no registration needed.
    # --- array (lecture_06.md:15-41, lecture_08.md:187, lecture_21.md:348)
    ("has", "arr ARRAY<STRING>, x STRING", "BOOLEAN", "array_contains(arr, x)"),
    ("arrayStringConcat", "arr ARRAY<STRING>, sep STRING", "STRING", "array_join(arr, sep)"),
    ("arrayEnumerate", "arr ARRAY<STRING>", "ARRAY<INT>", "transform(arr, (x, i) -> i + 1)"),
    ("arraySum", "arr ARRAY<DOUBLE>", "DOUBLE", "aggregate(arr, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"),
    ("arrayAvg", "arr ARRAY<DOUBLE>", "DOUBLE",
     "aggregate(arr, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / size(arr)"),
    # --- map (CH Map(K,V) ≈ Spark MapType)
    ("mapKeys", "m MAP<STRING, STRING>", "ARRAY<STRING>", "map_keys(m)"),
    ("mapValues", "m MAP<STRING, STRING>", "ARRAY<STRING>", "map_values(m)"),
    ("mapContains", "m MAP<STRING, STRING>, k STRING", "BOOLEAN",
     "array_contains(map_keys(m), k)"),
    # --- date/time extras
    # toTime: keep the time of day on CH's fixed anchor date 1970-01-02
    ("toTime", "x TIMESTAMP", "TIMESTAMP",
     "to_timestamp(concat('1970-01-02 ', date_format(x, 'HH:mm:ss')))"),
    # --- geo: geoDistance differs from the haversine greatCircleDistance
    # (registered further down, CH sphere radius 6372797.560856 m; CH arg
    # order is lon1, lat1, lon2, lat2) only by CH's ellipsoid correction
    # (<0.5% at mid-latitudes) — mapped to the same sphere formula.
    ("geoDistance",
     "lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE", "DOUBLE",
     "2 * 6372797.560856 * asin(sqrt(pow(sin(radians(lat2 - lat1) / 2), 2) + "
     "cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2)))"),
    # --- misc/system (homeworks/hw10.md:74, hw02.md:13)
    ("hostName", "", "STRING", "'localhost'"),
    # version() is a Spark builtin (returns the Spark version) — kept as-is.
    ("yesterday", "", "DATE", "date_sub(current_date(), 1)"),
    ("today", "", "DATE", "current_date()"),
    ("now64", "", "TIMESTAMP", "current_timestamp()"),
    # --- extended date/time parts (CH docs; same family as lecture_07/hw04)
    ("toYear", "x TIMESTAMP", "INT", "year(x)"),
    ("toMonth", "x TIMESTAMP", "INT", "month(x)"),
    ("toQuarter", "x TIMESTAMP", "INT", "quarter(x)"),
    ("toDayOfMonth", "x TIMESTAMP", "INT", "day(x)"),
    # CH numbering: Monday=1 … Sunday=7
    ("toDayOfWeek", "x TIMESTAMP", "INT",
     "CASE WHEN dayofweek(x) = 1 THEN 7 ELSE dayofweek(x) - 1 END"),
    ("toDayOfYear", "x TIMESTAMP", "INT", "dayofyear(x)"),
    ("toMinute", "x TIMESTAMP", "INT", "minute(x)"),
    ("toSecond", "x TIMESTAMP", "INT", "second(x)"),
    ("toMonday", "x TIMESTAMP", "DATE", "CAST(date_trunc('WEEK', x) AS DATE)"),
    ("toStartOfQuarter", "x TIMESTAMP", "DATE", "CAST(date_trunc('QUARTER', x) AS DATE)"),
    ("toStartOfYear", "x TIMESTAMP", "DATE", "CAST(date_trunc('YEAR', x) AS DATE)"),
    ("toUnixTimestamp", "x TIMESTAMP", "BIGINT", "unix_timestamp(x)"),
    ("fromUnixTimestamp", "n BIGINT", "TIMESTAMP", "timestamp_seconds(n)"),
    ("addSeconds", "x TIMESTAMP, n INT", "TIMESTAMP", "x + make_dt_interval(0, 0, 0, n)"),
    ("addMinutes", "x TIMESTAMP, n INT", "TIMESTAMP", "x + make_dt_interval(0, 0, n, 0)"),
    ("addHours", "x TIMESTAMP, n INT", "TIMESTAMP", "x + make_dt_interval(0, n, 0, 0)"),
    ("addDays", "x TIMESTAMP, n INT", "TIMESTAMP", "x + make_dt_interval(n, 0, 0, 0)"),
    ("addWeeks", "x TIMESTAMP, n INT", "TIMESTAMP", "x + make_dt_interval(n * 7, 0, 0, 0)"),
    ("addMonths", "x TIMESTAMP, n INT", "TIMESTAMP", "x + make_ym_interval(0, n)"),
    ("addYears", "x TIMESTAMP, n INT", "TIMESTAMP", "x + make_ym_interval(n, 0)"),
    ("subtractSeconds", "x TIMESTAMP, n INT", "TIMESTAMP", "x - make_dt_interval(0, 0, 0, n)"),
    ("subtractMinutes", "x TIMESTAMP, n INT", "TIMESTAMP", "x - make_dt_interval(0, 0, n, 0)"),
    ("subtractHours", "x TIMESTAMP, n INT", "TIMESTAMP", "x - make_dt_interval(0, n, 0, 0)"),
    ("subtractDays", "x TIMESTAMP, n INT", "TIMESTAMP", "x - make_dt_interval(n, 0, 0, 0)"),
    ("subtractMonths", "x TIMESTAMP, n INT", "TIMESTAMP", "x - make_ym_interval(0, n)"),
    ("subtractYears", "x TIMESTAMP, n INT", "TIMESTAMP", "x - make_ym_interval(n, 0)"),
    # (dateDiff collides with the Spark builtin name `datediff`; handled
    # as a structural rewrite in dialect._rewrite_datediff instead.)
    # %-style format → Spark pattern (common subset), lecture-era MySQL style
    ("formatDateTime", "x TIMESTAMP, fmt STRING", "STRING",
     f"date_format(x, {_C_FORMAT_TO_JAVA})"),
    # parseDateTime(s, fmt): the strict C-format parser (MySQL-style
    # specifiers, same table as formatDateTime)
    ("parseDateTime", "s STRING, fmt STRING", "TIMESTAMP",
     f"to_timestamp(s, {_C_FORMAT_TO_JAVA})"),
    # --- extended string
    ("lengthUTF8", "s STRING", "INT", "char_length(s)"),
    ("replaceAll", "s STRING, f STRING, t STRING", "STRING", "replace(s, f, t)"),
    ("replaceRegexpAll", "s STRING, p STRING, r STRING", "STRING", "regexp_replace(s, p, r)"),
    ("trimBoth", "s STRING", "STRING", "trim(s)"),
    ("trimLeft", "s STRING", "STRING", "ltrim(s)"),
    ("trimRight", "s STRING", "STRING", "rtrim(s)"),
    ("base64Encode", "s STRING", "STRING", "base64(s)"),
    ("base64Decode", "s STRING", "STRING", "CAST(unbase64(s) AS STRING)"),
    # --- hashes. NOTE: mapped to Spark's xxhash64 — same role (64-bit
    # fast non-crypto hash for sharding/sampling/fingerprints), NOT the
    # same bit-values as ClickHouse cityHash64/sipHash64.
    ("cityHash64", "s STRING", "BIGINT", "xxhash64(s)"),
    ("sipHash64", "s STRING", "BIGINT", "xxhash64(s)"),
    ("farmHash64", "s STRING", "BIGINT", "xxhash64(s)"),
    # --- public-CH-surface extras (not used by the course, kept for
    # switch-over completeness)
    ("topLevelDomain", "u STRING", "STRING",
     "element_at(split(parse_url(u, 'HOST'), '\\\\.'), -1)"),
    ("isIPv4String", "s STRING", "BOOLEAN",
     r"s RLIKE '^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}"
     r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$'"),
    ("toUUID", "s STRING", "STRING", "lower(s)"),
    # rand64/randCanonical: CH's 64-bit and [0,1) uniform generators
    ("rand64", "", "BIGINT", "CAST(floor(rand() * 9.223372036854775e18) AS BIGINT)"),
    ("randCanonical", "", "DOUBLE", "rand()"),
    ("levenshteinDistance", "a STRING, b STRING", "INT", "levenshtein(a, b)"),
    ("editDistance", "a STRING, b STRING", "INT", "levenshtein(a, b)"),
    ("farmFingerprint64", "s STRING", "BIGINT", "xxhash64(s)"),
    ("halfMD5", "s STRING", "BIGINT", "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"),
    # CH's SHA*/MD5 return raw bytes (FixedString(N)) so the idiomatic
    # `hex(SHA256(x))` renders hex — return BINARY to keep that
    # composition exact. MD5/SHA1 collide with Spark builtins (which
    # return hex strings and cannot be shadowed by SQL UDFs), so those
    # two are handled by a textual rewrite in dialect.py instead.
    ("SHA224", "s STRING", "BINARY", "unhex(sha2(s, 224))"),
    ("SHA256", "s STRING", "BINARY", "unhex(sha2(s, 256))"),
    ("SHA512", "s STRING", "BINARY", "unhex(sha2(s, 512))"),
    ("generateUUIDv4", "", "STRING", "uuid()"),
    # --- URL functions
    ("domain", "url STRING", "STRING", "parse_url(url, 'HOST')"),
    ("protocol", "url STRING", "STRING", "parse_url(url, 'PROTOCOL')"),
    ("path", "url STRING", "STRING", "parse_url(url, 'PATH')"),
    ("queryString", "url STRING", "STRING", "parse_url(url, 'QUERY')"),
    ("extractURLParameter", "url STRING, k STRING", "STRING", "parse_url(url, 'QUERY', k)"),
    ("cutQueryString", "url STRING", "STRING",
     "CASE WHEN instr(url, '?') > 0 THEN substring(url, 1, instr(url, '?') - 1) ELSE url END"),
    ("domainWithoutWWW", "u STRING", "STRING",
     "regexp_replace(parse_url(u, 'HOST'), '^www\\\\.', '')"),
    ("pathFull", "u STRING", "STRING", "parse_url(u, 'FILE')"),
    ("fragment", "u STRING", "STRING", "parse_url(u, 'REF')"),
    ("extractURLParameters", "u STRING", "ARRAY<STRING>",
     "filter(split(coalesce(parse_url(u, 'QUERY'), ''), '&'), x -> x != '')"),
    # CH's firstSignificantSubdomain heuristic: the label left of a
    # generic second-level domain (com/net/org/co/gov/edu/mil), else
    # the second-to-last label
    ("firstSignificantSubdomain", "u STRING", "STRING",
     "CASE WHEN size(split(parse_url(u, 'HOST'), '\\\\.')) >= 3 "
     "     AND element_at(split(parse_url(u, 'HOST'), '\\\\.'), -2) "
     "         IN ('com', 'net', 'org', 'co', 'gov', 'edu', 'mil') "
     "THEN element_at(split(parse_url(u, 'HOST'), '\\\\.'), -3) "
     "ELSE element_at(split(parse_url(u, 'HOST'), '\\\\.'), -2) END"),
    # CH percent-encodes spaces as %20 (not form-encoding's '+'); on
    # decode, '+' stays a literal plus
    ("encodeURLComponent", "s STRING", "STRING", "replace(url_encode(s), '+', '%20')"),
    ("decodeURLComponent", "s STRING", "STRING", "url_decode(replace(s, '+', '%2B'))"),
    ("tryBase64Decode", "s STRING", "STRING",
     "coalesce(CAST(try_to_binary(s, 'base64') AS STRING), '')"),
    # ray-casting point-in-polygon over the vertex array — a pure
    # aggregate fold, codegen'd, no UDF (CH geo family)
    ("pointInPolygon", "p STRUCT<x: DOUBLE, y: DOUBLE>, poly ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>",
     "INT",
     "aggregate(sequence(0, size(poly) - 1), 0, (acc, i) -> acc + "
     "  (CASE WHEN (poly[i].y > p.y) != (poly[pmod(i + 1, size(poly))].y > p.y) "
     "             AND p.x < (poly[pmod(i + 1, size(poly))].x - poly[i].x) "
     "                       * (p.y - poly[i].y) "
     "                       / (poly[pmod(i + 1, size(poly))].y - poly[i].y) "
     "                       + poly[i].x "
     "        THEN 1 ELSE 0 END)) % 2"),
    # geohash: fold 5*precision interval-halving bits (lon first), one
    # base32 char per 5 bits — the standard algorithm as an expression
    # phase 1 folds 5*prec interval-halving bits (lon first) into a
    # '0'/'1' string; phase 2 maps each 5-bit group to its base32 char
    ("geohashEncode", "lon DOUBLE, lat DOUBLE, prec INT", "STRING",
     "array_join(transform(sequence(1, prec), g -> substring("
     "  '0123456789bcdefghjkmnpqrstuvwxyz', "
     "  CAST(conv(substring("
     "    aggregate(sequence(1, 5 * prec), "
     "      named_struct('lo1', CAST(-180.0 AS DOUBLE), 'lo2', CAST(180.0 AS DOUBLE), "
     "                   'la1', CAST(-90.0 AS DOUBLE), 'la2', CAST(90.0 AS DOUBLE), "
     "                   'bits', CAST('' AS STRING)), "
     "      (acc, i) -> CASE WHEN i % 2 = 1 THEN "
     "        (CASE WHEN lon >= (acc.lo1 + acc.lo2) / 2 "
     "         THEN named_struct('lo1', (acc.lo1 + acc.lo2) / 2, 'lo2', acc.lo2, "
     "                           'la1', acc.la1, 'la2', acc.la2, 'bits', concat(acc.bits, '1')) "
     "         ELSE named_struct('lo1', acc.lo1, 'lo2', (acc.lo1 + acc.lo2) / 2, "
     "                           'la1', acc.la1, 'la2', acc.la2, 'bits', concat(acc.bits, '0')) END) "
     "      ELSE "
     "        (CASE WHEN lat >= (acc.la1 + acc.la2) / 2 "
     "         THEN named_struct('lo1', acc.lo1, 'lo2', acc.lo2, "
     "                           'la1', (acc.la1 + acc.la2) / 2, 'la2', acc.la2, 'bits', concat(acc.bits, '1')) "
     "         ELSE named_struct('lo1', acc.lo1, 'lo2', acc.lo2, "
     "                           'la1', acc.la1, 'la2', (acc.la1 + acc.la2) / 2, 'bits', concat(acc.bits, '0')) END) "
     "      END, "
     "      acc -> acc.bits), "
     "    (g - 1) * 5 + 1, 5), 2, 10) AS INT) + 1, 1)), '')"),
    ("cutToFirstSignificantSubdomain", "u STRING", "STRING",
     "CASE WHEN size(split(parse_url(u, 'HOST'), '\\\\.')) >= 3 "
     "     AND element_at(split(parse_url(u, 'HOST'), '\\\\.'), -2) "
     "         IN ('com', 'net', 'org', 'co', 'gov', 'edu', 'mil') "
     "THEN array_join(slice(split(parse_url(u, 'HOST'), '\\\\.'), -3, 3), '.') "
     "ELSE array_join(slice(split(parse_url(u, 'HOST'), '\\\\.'), -2, 2), '.') END"),
    ("cutWWW", "u STRING", "STRING", "regexp_replace(u, '(://)www\\\\.', '$1')"),
    ("normalizeQuery", "q STRING", "STRING",
     # literals → placeholders (system.query_log normalization role):
     # quoted strings first, then standalone numbers
     "regexp_replace(regexp_replace(q, \"'[^']*'\", '?'), "
     "'(^|[^\\\\w])[-+]?[0-9]+(\\\\.[0-9]+)?', '$1?')"),
    # --- IPv4 (lecture_15.md:286 IPv4 type helpers)
    ("IPv4NumToString", "n BIGINT", "STRING",
     "concat(CAST(CAST(floor(n / 16777216) AS BIGINT) % 256 AS STRING), '.', "
     "CAST(CAST(floor(n / 65536) AS BIGINT) % 256 AS STRING), '.', "
     "CAST(CAST(floor(n / 256) AS BIGINT) % 256 AS STRING), '.', "
     "CAST(n % 256 AS STRING))"),
    ("IPv4StringToNum", "s STRING", "BIGINT",
     "CAST(split(s, '\\\\.')[0] AS BIGINT) * 16777216 + CAST(split(s, '\\\\.')[1] AS BIGINT) * 65536 + "
     "CAST(split(s, '\\\\.')[2] AS BIGINT) * 256 + CAST(split(s, '\\\\.')[3] AS BIGINT)"),
    # loose structural IPv6 check (full/compressed forms) — documented
    # approximation, like the ngram fuzzy-match family
    ("isIPv6String", "s STRING", "BOOLEAN",
     "s RLIKE '^(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
     "|(([0-9A-Fa-f]{1,4}:)+|:)((:[0-9A-Fa-f]{1,4})+|:))$'"),
    # IPv4 CIDR membership / range (SQL-UDF composition over
    # IPv4StringToNum — power-of-two arithmetic instead of bit masks)
    ("isIPAddressInRange", "addr STRING, cidr STRING", "BOOLEAN",
     "CASE WHEN instr(addr, ':') > 0 OR instr(cidr, ':') > 0 THEN FALSE ELSE "
     "  CAST(floor(IPv4StringToNum(addr) "
     "             / power(2, 32 - CAST(split(cidr, '/')[1] AS INT))) AS BIGINT) = "
     "  CAST(floor(IPv4StringToNum(split(cidr, '/')[0]) "
     "             / power(2, 32 - CAST(split(cidr, '/')[1] AS INT))) AS BIGINT) END"),
    ("IPv4CIDRToRange", "ip STRING, p INT", "STRUCT<lo: STRING, hi: STRING>",
     "named_struct("
     "  'lo', IPv4NumToString(CAST(floor(IPv4StringToNum(ip) / power(2, 32 - p)) "
     "                             * power(2, 32 - p) AS BIGINT)), "
     "  'hi', IPv4NumToString(CAST(floor(IPv4StringToNum(ip) / power(2, 32 - p)) "
     "                             * power(2, 32 - p) + power(2, 32 - p) - 1 AS BIGINT)))"),
    # arrayAUC: average-rank formulation with tie handling — O(n²) over
    # the array, which is the in-row regime this function exists for
    ("arrayAUC", "scores ARRAY<DOUBLE>, labels ARRAY<INT>", "DOUBLE",
     "(aggregate(zip_with(transform(scores, s -> "
     "     size(filter(scores, t -> t < s)) "
     "     + (size(filter(scores, t -> t = s)) + 1) / 2.0), "
     "   labels, (r, l) -> IF(l = 1, r, CAST(0.0 AS DOUBLE))), "
     "   CAST(0.0 AS DOUBLE), (a, x) -> a + x) "
     " - size(filter(labels, l -> l = 1)) "
     "   * (size(filter(labels, l -> l = 1)) + 1) / 2.0) "
     "/ (size(filter(labels, l -> l = 1)) "
     "   * (size(labels) - size(filter(labels, l -> l = 1))))"),
    # timeSlots(start, duration, size): the half-open slot starts
    # covering [start, start+duration] (lecture timeSlot's array form)
    ("timeSlots", "start TIMESTAMP, dur BIGINT, sz BIGINT", "ARRAY<TIMESTAMP>",
     "transform(sequence(CAST(floor(unix_timestamp(start) / sz) * sz AS BIGINT), "
     "                   unix_timestamp(start) + dur, sz), "
     "          t -> to_timestamp(t))"),
    ("randNormal", "mean DOUBLE, variance DOUBLE", "DOUBLE",
     "mean + sqrt(variance) * randn()"),
    ("sigmoid", "x DOUBLE", "DOUBLE", "1.0 / (1.0 + exp(-x))"),
    ("dateTrunc", "unit STRING, ts TIMESTAMP", "TIMESTAMP", "date_trunc(unit, ts)"),
    # decimal (1000-based) readable size, two decimals like the KiB twin
    ("formatReadableDecimalSize", "b DOUBLE", "STRING",
     "CASE WHEN b < 1000 THEN concat(replace(format_number(b, 2), ',', ''), ' B') "
     "WHEN b < 1e6 THEN concat(format_number(b / 1e3, 2), ' KB') "
     "WHEN b < 1e9 THEN concat(format_number(b / 1e6, 2), ' MB') "
     "WHEN b < 1e12 THEN concat(format_number(b / 1e9, 2), ' GB') "
     "ELSE concat(replace(format_number(b / 1e12, 2), ',', ''), ' TB') END"),
    ("bitPositionsToArray", "n BIGINT", "ARRAY<INT>",
     "transform(filter(sequence(0, 62), i -> "
     "CAST(floor(n / power(2, i)) AS BIGINT) % 2 = 1), i -> CAST(i AS INT))"),
    # Abramowitz & Stegun 7.1.26 rational approximation, |err| < 1.5e-7
    ("erf", "x DOUBLE", "DOUBLE",
     "sign(x) * (1.0 - (0.254829592 / (1.0 + 0.3275911 * abs(x)) "
     "- 0.284496736 * power(1.0 / (1.0 + 0.3275911 * abs(x)), 2) "
     "+ 1.421413741 * power(1.0 / (1.0 + 0.3275911 * abs(x)), 3) "
     "- 1.453152027 * power(1.0 / (1.0 + 0.3275911 * abs(x)), 4) "
     "+ 1.061405429 * power(1.0 / (1.0 + 0.3275911 * abs(x)), 5)) "
     "* exp(-x * x))"),
    ("UUIDStringToNum", "s STRING", "BINARY", "unhex(replace(s, '-', ''))"),
    ("UUIDNumToString", "b BINARY", "STRING",
     "concat(substring(lower(hex(b)), 1, 8), '-', substring(lower(hex(b)), 9, 4), '-', "
     "substring(lower(hex(b)), 13, 4), '-', substring(lower(hex(b)), 17, 4), '-', "
     "substring(lower(hex(b)), 21, 12))"),
    ("reverseUTF8", "s STRING", "STRING", "reverse(s)"),
    ("toDecimalString", "x DOUBLE, p INT", "STRING",
     "replace(format_number(x, p), ',', '')"),
    ("alphaTokens", "s STRING", "ARRAY<STRING>",
     "filter(split(s, '[^A-Za-z]+'), x -> x != '')"),
    ("ngrams", "s STRING, n INT", "ARRAY<STRING>",
     "CASE WHEN length(s) < n THEN CAST(array() AS ARRAY<STRING>) "
     "ELSE transform(sequence(1, length(s) - n + 1), i -> substring(s, i, n)) END"),
    # DateTime64 epoch conversions (lecture_05.md DateTime64 precision)
    ("toUnixTimestamp64Milli", "ts TIMESTAMP", "BIGINT", "unix_millis(ts)"),
    ("toUnixTimestamp64Micro", "ts TIMESTAMP", "BIGINT", "unix_micros(ts)"),
    ("toUnixTimestamp64Nano", "ts TIMESTAMP", "BIGINT", "unix_micros(ts) * 1000"),
    ("fromUnixTimestamp64Milli", "n BIGINT", "TIMESTAMP", "timestamp_millis(n)"),
    ("fromUnixTimestamp64Micro", "n BIGINT", "TIMESTAMP", "timestamp_micros(n)"),
    ("fromUnixTimestamp64Nano", "n BIGINT", "TIMESTAMP",
     "timestamp_micros(CAST(n / 1000 AS BIGINT))"),
    # vector arithmetic family (CH distance functions; the SQL twin of
    # pipeline/similarity's column helpers)
    ("arrayDotProduct", "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
     "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"),
    ("arrayL1Distance", "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
     "aggregate(zip_with(a, b, (x, y) -> abs(x - y)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"),
    ("arrayL2Distance", "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
     "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), "
     "CAST(0.0 AS DOUBLE), (s, v) -> s + v))"),
    ("arrayLinfDistance", "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
     "array_max(zip_with(a, b, (x, y) -> abs(x - y)))"),
    ("cosineDistance", "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
     "1.0 - aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v) "
     "/ (sqrt(aggregate(a, CAST(0.0 AS DOUBLE), (s, v) -> s + v * v)) "
     "   * sqrt(aggregate(b, CAST(0.0 AS DOUBLE), (s, v) -> s + v * v)))"),
    ("L1Norm", "a ARRAY<DOUBLE>", "DOUBLE",
     "aggregate(a, CAST(0.0 AS DOUBLE), (s, v) -> s + abs(v))"),
    ("L2Norm", "a ARRAY<DOUBLE>", "DOUBLE",
     "sqrt(aggregate(a, CAST(0.0 AS DOUBLE), (s, v) -> s + v * v))"),
    ("LinfNorm", "a ARRAY<DOUBLE>", "DOUBLE", "array_max(transform(a, v -> abs(v)))"),
    # --- extended math
    ("exp2", "x DOUBLE", "DOUBLE", "power(2, x)"),
    ("exp10", "x DOUBLE", "DOUBLE", "power(10, x)"),
    ("intDivOrZero", "a BIGINT, b BIGINT", "BIGINT",
     "CASE WHEN b = 0 THEN 0 ELSE CAST(a / b AS BIGINT) - CASE WHEN a % b != 0 AND (a < 0) != (b < 0) THEN 1 ELSE 0 END END"),
    ("moduloOrZero", "a BIGINT, b BIGINT", "BIGINT", "CASE WHEN b = 0 THEN 0 ELSE a % b END"),
    # (roundBankers → bround is a dialect alias: bround needs a foldable
    # scale literal, which a UDF parameter is not)
    # bar(x, min, max, width) — the text histogram from system dashboards
    ("bar", "x DOUBLE, lo DOUBLE, hi DOUBLE, w INT", "STRING",
     "repeat('█', greatest(0, CAST(round((x - lo) / (hi - lo) * w) AS INT)))"),
    # --- extended array
    ("arrayUniq", "arr ARRAY<STRING>", "INT", "size(array_distinct(arr))"),
    ("indexOf", "arr ARRAY<STRING>, x STRING", "INT", "array_position(arr, x)"),
    ("arrayPushBack", "arr ARRAY<STRING>, x STRING", "ARRAY<STRING>", "concat(arr, array(x))"),
    ("arrayPopBack", "arr ARRAY<STRING>", "ARRAY<STRING>", "slice(arr, 1, size(arr) - 1)"),
    ("arrayResize", "arr ARRAY<STRING>, n INT", "ARRAY<STRING>", "slice(arr, 1, n)"),
    # position(haystack, needle) — CH arg order (reverse of Spark locate)
    ("positionUTF8", "h STRING, n STRING", "INT", "locate(n, h)"),
    ("toFixedString", "s STRING, n INT", "STRING", "rpad(s, n, chr(0))"),
    ("countSubstrings", "h STRING, n STRING", "INT",
     "CASE WHEN length(n) = 0 THEN 0 ELSE CAST((length(h) - length(replace(h, n, ''))) / length(n) AS INT) END"),
    # --- long-tail scalar surface (public CH function reference) ---
    ("formatReadableQuantity", "x DOUBLE", "STRING",
     """CASE
          WHEN abs(x) >= 1e12 THEN concat(format_number(x / 1e12, 2), ' trillion')
          WHEN abs(x) >= 1e9 THEN concat(format_number(x / 1e9, 2), ' billion')
          WHEN abs(x) >= 1e6 THEN concat(format_number(x / 1e6, 2), ' million')
          WHEN abs(x) >= 1e3 THEN concat(format_number(x / 1e3, 2), ' thousand')
          ELSE format_number(x, 2)
        END"""),
    ("formatReadableTimeDelta", "s BIGINT", "STRING",
     """concat_ws(', ',
          IF(s >= 86400, concat(CAST(s DIV 86400 AS STRING), ' days'), NULL),
          IF(s % 86400 >= 3600, concat(CAST((s % 86400) DIV 3600 AS STRING), ' hours'), NULL),
          IF(s % 3600 >= 60, concat(CAST((s % 3600) DIV 60 AS STRING), ' minutes'), NULL),
          IF(s % 60 > 0 OR s = 0, concat(CAST(s % 60 AS STRING), ' seconds'), NULL))"""),
    ("ifNotFinite", "a DOUBLE, b DOUBLE", "DOUBLE",
     "CASE WHEN isnan(a) OR a = double('inf') OR a = double('-inf') THEN b ELSE a END"),
    ("bitmaskToArray", "n BIGINT", "ARRAY<BIGINT>",
     """filter(transform(sequence(0, 62),
               __i -> IF((n >> __i) & 1 = 1, shiftleft(CAST(1 AS BIGINT), __i), NULL)),
              __x -> __x IS NOT NULL)"""),
    ("bitmaskToList", "n BIGINT", "STRING",
     """array_join(filter(transform(sequence(0, 62),
               __i -> IF((n >> __i) & 1 = 1, shiftleft(CAST(1 AS BIGINT), __i), NULL)),
              __x -> __x IS NOT NULL), ',')"""),
    ("roundToExp2", "x DOUBLE", "BIGINT",
     "IF(x < 1, 0, shiftleft(CAST(1 AS BIGINT), CAST(floor(log2(x)) AS INT)))"),
    ("roundDown", "x DOUBLE, arr ARRAY<DOUBLE>", "DOUBLE",
     "coalesce(array_max(filter(arr, __e -> __e <= x)), array_min(arr))"),
    # 64 Euclid iterations cover any pair of 64-bit ints (Fibonacci
    # worst case needs < 92 steps only past 64-bit range)
    ("gcd", "a BIGINT, b BIGINT", "BIGINT",
     """aggregate(sequence(1, 64),
          named_struct('x', abs(a), 'y', abs(b)),
          (acc, __i) -> IF(acc.y = 0, acc,
                           named_struct('x', acc.y, 'y', acc.x % acc.y))).x"""),
    ("lcm", "a BIGINT, b BIGINT", "BIGINT",
     """IF(a = 0 OR b = 0, 0, abs(a * b) DIV
        aggregate(sequence(1, 64),
          named_struct('x', abs(a), 'y', abs(b)),
          (acc, __i) -> IF(acc.y = 0, acc,
                           named_struct('x', acc.y, 'y', acc.x % acc.y))).x)"""),
    ("truncate", "x DOUBLE, n INT", "DOUBLE",
     "sign(x) * floor(abs(x) * power(10, n)) / power(10, n)"),
    ("bitTest", "x BIGINT, i INT", "TINYINT", "CAST((x >> i) & 1 AS TINYINT)"),
    ("bitShiftLeft", "x BIGINT, i INT", "BIGINT", "x << i"),
    ("bitShiftRight", "x BIGINT, i INT", "BIGINT", "x >> i"),
    ("bitAnd", "a BIGINT, b BIGINT", "BIGINT", "a & b"),
    ("bitOr", "a BIGINT, b BIGINT", "BIGINT", "a | b"),
    ("bitXor", "a BIGINT, b BIGINT", "BIGINT", "a ^ b"),
    ("bitNot", "a BIGINT", "BIGINT", "~a"),
    # haversine great-circle distance in meters (CH geo family)
    ("greatCircleDistance",
     "lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE", "DOUBLE",
     """2 * 6372797.560856 * asin(sqrt(
          power(sin(radians(lat2 - lat1) / 2), 2) +
          cos(radians(lat1)) * cos(radians(lat2)) *
          power(sin(radians(lon2 - lon1) / 2), 2)))"""),
    ("toLastDayOfMonth", "x TIMESTAMP", "DATE", "last_day(x)"),
    ("toStartOfFiveMinutes", "x TIMESTAMP", "TIMESTAMP",
     "timestamp_seconds(CAST(floor(unix_timestamp(x) / 300) AS BIGINT) * 300)"),
    ("toStartOfTenMinutes", "x TIMESTAMP", "TIMESTAMP",
     "timestamp_seconds(CAST(floor(unix_timestamp(x) / 600) AS BIGINT) * 600)"),
    ("toStartOfFifteenMinutes", "x TIMESTAMP", "TIMESTAMP",
     "timestamp_seconds(CAST(floor(unix_timestamp(x) / 900) AS BIGINT) * 900)"),
    ("toStartOfSecond", "x TIMESTAMP", "TIMESTAMP", "date_trunc('second', x)"),
    # CH/MySQL default mode 0: Sunday-start weeks, week 1 begins at the
    # year's first Sunday, earlier days are week 0 (Spark 3 bans the
    # 'w' format pattern, so the week number is pure date arithmetic)
    ("toWeek", "x TIMESTAMP", "INT",
     """IF(CAST(x AS DATE) < date_add(make_date(year(x), 1, 1),
                pmod(8 - dayofweek(make_date(year(x), 1, 1)), 7)), 0,
         CAST(datediff(CAST(x AS DATE),
              date_add(make_date(year(x), 1, 1),
                pmod(8 - dayofweek(make_date(year(x), 1, 1)), 7))) DIV 7
              AS INT) + 1)"""),
    # yearweek mode 0: a week-0 date belongs to the PREVIOUS year's
    # final week (MySQL YEARWEEK semantics)
    ("toYearWeek", "x TIMESTAMP", "INT",
     """IF(CAST(x AS DATE) >= date_add(make_date(year(x), 1, 1),
                pmod(8 - dayofweek(make_date(year(x), 1, 1)), 7)),
         year(x) * 100
           + CAST(datediff(CAST(x AS DATE),
                  date_add(make_date(year(x), 1, 1),
                    pmod(8 - dayofweek(make_date(year(x), 1, 1)), 7))) DIV 7
                  AS INT) + 1,
         (year(x) - 1) * 100
           + CAST(datediff(CAST(x AS DATE),
                  date_add(make_date(year(x) - 1, 1, 1),
                    pmod(8 - dayofweek(make_date(year(x) - 1, 1, 1)), 7))) DIV 7
                  AS INT) + 1)"""),
    ("toModifiedJulianDay", "s STRING", "INT",
     "CAST(datediff(CAST(s AS DATE), DATE '1858-11-17') AS INT)"),
    ("YYYYMMDDToDate", "n BIGINT", "DATE",
     "make_date(CAST(n DIV 10000 AS INT), CAST((n DIV 100) % 100 AS INT), "
     "CAST(n % 100 AS INT))"),
    ("YYYYMMDDhhmmssToDateTime", "n BIGINT", "TIMESTAMP",
     "make_timestamp(CAST(n DIV 10000000000 AS INT), "
     "CAST((n DIV 100000000) % 100 AS INT), CAST((n DIV 1000000) % 100 AS INT), "
     "CAST((n DIV 10000) % 100 AS INT), CAST((n DIV 100) % 100 AS INT), "
     "CAST(n % 100 AS INT))"),
    ("timeSlot", "x TIMESTAMP", "TIMESTAMP",
     "timestamp_seconds(CAST(floor(unix_timestamp(x) / 1800) AS BIGINT) * 1800)"),
    ("dateName", "part STRING, x TIMESTAMP", "STRING",
     """CASE lower(part)
          WHEN 'year' THEN CAST(year(x) AS STRING)
          WHEN 'quarter' THEN CAST(quarter(x) AS STRING)
          WHEN 'month' THEN date_format(x, 'MMMM')
          WHEN 'week' THEN CAST(weekofyear(x) AS STRING)
          WHEN 'dayofyear' THEN CAST(dayofyear(x) AS STRING)
          WHEN 'day' THEN CAST(day(x) AS STRING)
          WHEN 'weekday' THEN date_format(x, 'EEEE')
          WHEN 'hour' THEN CAST(hour(x) AS STRING)
          WHEN 'minute' THEN CAST(minute(x) AS STRING)
          WHEN 'second' THEN CAST(second(x) AS STRING)
        END"""),
    ("toISOWeek", "x TIMESTAMP", "INT", "weekofyear(x)"),
    ("multiSearchAny", "h STRING, needles ARRAY<STRING>", "TINYINT",
     "CAST(exists(needles, n -> instr(h, n) > 0) AS TINYINT)"),
    ("multiSearchAllPositions", "h STRING, needles ARRAY<STRING>", "ARRAY<INT>",
     "transform(needles, n -> instr(h, n))"),
    # index (1-based) of the first needle that occurs; 0 when none does
    ("multiSearchFirstIndex", "h STRING, needles ARRAY<STRING>", "INT",
     "coalesce(array_position(transform(needles, n -> instr(h, n) > 0), true), 0)"),
    # subsequence test: fold needle chars left-to-right, each search
    # resuming after the previous hit (acc = next start pos, 0 = failed)
    ("hasSubsequence", "h STRING, n STRING", "TINYINT",
     """CAST(aggregate(filter(split(n, ''), c -> c != ''), 1,
          (acc, c) -> CASE WHEN acc = 0 THEN 0
                           WHEN locate(c, h, acc) = 0 THEN 0
                           ELSE locate(c, h, acc) + 1 END) != 0 AS TINYINT)"""),
    # token = maximal run of letters/digits/underscore, same tokenizer
    # as tokens() and the tokenbf index analogue
    ("hasToken", "h STRING, t STRING", "TINYINT",
     "CAST(array_contains(filter(split(h, '[^\\\\p{L}\\\\p{N}_]+'), x -> x != ''), t)"
     " AS TINYINT)"),
    ("replaceOne", "s STRING, a STRING, b STRING", "STRING",
     """CASE WHEN locate(a, s) = 0 THEN s
          ELSE concat(substring(s, 1, locate(a, s) - 1), b,
                      substring(s, locate(a, s) + length(a))) END"""),
    # ngramSearch/ngramDistance: CH's fuzzy 4-gram match, set-based here
    # (CH hashes a multiset; identical for strings without repeated
    # 4-grams, documented approximation otherwise)
    ("ngramSearch", "h STRING, n STRING", "DOUBLE",
     """size(array_intersect(
          array_distinct(transform(sequence(1, greatest(length(n) - 3, 1)),
                                   i -> substring(n, i, 4))),
          array_distinct(transform(sequence(1, greatest(length(h) - 3, 1)),
                                   i -> substring(h, i, 4)))))
        / size(array_distinct(transform(sequence(1, greatest(length(n) - 3, 1)),
                                        i -> substring(n, i, 4))))"""),
    ("ngramDistance", "a STRING, b STRING", "DOUBLE",
     """1.0 - 2.0 * size(array_intersect(
          array_distinct(transform(sequence(1, greatest(length(a) - 3, 1)),
                                   i -> substring(a, i, 4))),
          array_distinct(transform(sequence(1, greatest(length(b) - 3, 1)),
                                   i -> substring(b, i, 4)))))
        / (size(array_distinct(transform(sequence(1, greatest(length(a) - 3, 1)),
                                         i -> substring(a, i, 4))))
           + size(array_distinct(transform(sequence(1, greatest(length(b) - 3, 1)),
                                           i -> substring(b, i, 4)))))"""),
    ("isFinite", "x DOUBLE", "BOOLEAN", "NOT (isnan(x) OR x = double('inf') OR x = double('-inf'))"),
    ("isInfinite", "x DOUBLE", "BOOLEAN", "x = double('inf') OR x = double('-inf')"),
    # isNaN / MD5 / SHA1 / hex / repeat / left / right / sign / pi / e
    # resolve to the case-insensitive Spark builtins — no registration
    ("intExp2", "x INT", "BIGINT", "CAST(1 AS BIGINT) << x"),
    ("intExp10", "x INT", "BIGINT", "CAST(power(10, x) AS BIGINT)"),
    ("arrayCumSum", "arr ARRAY<DOUBLE>", "ARRAY<DOUBLE>",
     """slice(aggregate(arr, array(CAST(0.0 AS DOUBLE)),
        (acc, x) -> concat(acc, array(element_at(acc, -1) + x))), 2, size(arr))"""),
    ("arrayDifference", "arr ARRAY<DOUBLE>", "ARRAY<DOUBLE>",
     "transform(arr, (x, i) -> IF(i = 0, CAST(0.0 AS DOUBLE), x - arr[i - 1]))"),
    ("arrayCompact", "arr ARRAY<STRING>", "ARRAY<STRING>",
     "filter(arr, (x, i) -> i = 0 OR NOT (x <=> arr[i - 1]))"),
    ("arrayReduceSum", "arr ARRAY<DOUBLE>", "DOUBLE",
     "aggregate(arr, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"),
    # --- sweep batch 11 (completeness audit, round 7) ---
    ("lowerUTF8", "s STRING", "STRING", "lower(s)"),
    ("upperUTF8", "s STRING", "STRING", "upper(s)"),
    ("notLike", "s STRING, p STRING", "BOOLEAN", "NOT (s LIKE p)"),
    # first-occurrence regexp replace, spliced POSITIONALLY (prefix +
    # r + suffix via regexp_instr/regexp_extract) instead of through a
    # '$1'-group rewrite. ADVICE r7: concat('$1', r) read '$'/'\\' in
    # `r` as Java group references — a digit-leading replacement became
    # group $1<digit> (IndexOutOfBounds or wrong group) — and Spark's
    # replacement parser drops ${named} groups, so escaping alone can't
    # fix the digit case. The splice treats `r` fully literally, which
    # is CH's plain-replacement semantics ('\\1' backrefs in `r` are
    # not remapped, as before); '.' keeps re2's default
    # no-newline-match behavior (the old (?s) prefix diverged from CH).
    ("replaceRegexpOne", "s STRING, re STRING, r STRING", "STRING",
     "CASE WHEN regexp_instr(s, re) = 0 THEN s ELSE concat("
     "substring(s, 1, regexp_instr(s, re) - 1), r, "
     "substring(s, regexp_instr(s, re) + length(regexp_extract(s, re, 0)))) END"),
    ("multiSearchFirstPosition", "s STRING, needles ARRAY<STRING>", "INT",
     "CAST(coalesce(array_min(filter(transform(needles, n -> instr(s, n)),"
     " p -> p > 0)), 0) AS INT)"),
    # contiguous-subsequence test; the size guard keeps sequence() from
    # descending when |a| < |b| (Spark's sequence(a,b) counts DOWN there)
    ("hasSubstr", "a ARRAY<STRING>, b ARRAY<STRING>", "BOOLEAN",
     "CASE WHEN size(b) = 0 THEN true WHEN size(a) < size(b) THEN false "
     "ELSE exists(sequence(1, size(a) - size(b) + 1),"
     " i -> slice(a, i, size(b)) == b) END"),
    ("arrayProduct", "arr ARRAY<DOUBLE>", "DOUBLE",
     "aggregate(arr, CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)"),
    # ISO-8601 year = calendar year of the week's Thursday
    # (weekday() is 0-based Monday)
    ("toISOYear", "d DATE", "INT", "year(date_add(d, 3 - weekday(d)))"),
    ("max2", "a DOUBLE, b DOUBLE", "DOUBLE", "greatest(a, b)"),
    ("min2", "a DOUBLE, b DOUBLE", "DOUBLE", "least(a, b)"),
    ("negate", "x DOUBLE", "DOUBLE", "-x"),
    ("arrayWithConstant", "n INT, x DOUBLE", "ARRAY<DOUBLE>",
     "array_repeat(x, n)"),
    # randConstant: CH returns ONE value for the whole block/query; a
    # bare rand() redraws per row. Its body is a literal drawn when a
    # session registers it (see _FUNCTIONS below), so independent
    # engines/sessions in one Python process do not share a value.
    # Remaining documented divergence: CH redraws per query/block,
    # this draws once per session (SQL UDF bodies inline at
    # registration, so a per-query draw would need a scalar subquery,
    # which UDF bodies can't host).
    ("nowInBlock", "", "TIMESTAMP", "now()"),
    ("fromModifiedJulianDay", "n INT", "DATE",
     "date_add(DATE'1858-11-17', n)"),
    # map arithmetic over the key UNION (map_zip_with unions keys;
    # absent keys read as 0)
    ("mapAdd", "a MAP<STRING, DOUBLE>, b MAP<STRING, DOUBLE>",
     "MAP<STRING, DOUBLE>",
     "map_zip_with(a, b, (k, x, y) -> coalesce(x, 0D) + coalesce(y, 0D))"),
    ("mapSubtract", "a MAP<STRING, DOUBLE>, b MAP<STRING, DOUBLE>",
     "MAP<STRING, DOUBLE>",
     "map_zip_with(a, b, (k, x, y) -> coalesce(x, 0D) - coalesce(y, 0D))"),
    # fill integer-key gaps min..max with 0-valued entries
    ("mapPopulateSeries", "m MAP<INT, DOUBLE>", "MAP<INT, DOUBLE>",
     "map_from_arrays(sequence(array_min(map_keys(m)), array_max(map_keys(m))),"
     " transform(sequence(array_min(map_keys(m)), array_max(map_keys(m))),"
     " k -> coalesce(element_at(m, k), 0D)))"),
    # parse_url has no PORT part — take the :port after the (possibly
    # userinfo-prefixed) host; CH defaults to 0 when absent
    ("port", "u STRING", "INT",
     "CAST(coalesce(nullif(regexp_extract(u,"
     " '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?[^/:]*:([0-9]+)', 1), ''),"
     " '0') AS INT)"),
    ("cutFragment", "u STRING", "STRING", "regexp_replace(u, '#.*$', '')"),
    ("pointInEllipses",
     "x DOUBLE, y DOUBLE, x0 DOUBLE, y0 DOUBLE, a DOUBLE, b DOUBLE",
     "BOOLEAN",
     "((x - x0) * (x - x0)) / (a * a) + ((y - y0) * (y - y0)) / (b * b)"
     " <= 1.0"),
    # rebound to the live user name by set_current_user
    ("currentUser", "", "STRING", "'default'"),
]

# typed empty-array constructors (emptyArrayUInt8() … emptyArrayDate()):
# one registration per CH type name, typed via CAST so downstream
# array functions see the declared element type
for _ch, _sql in [
    ("UInt8", "INT"), ("UInt16", "INT"), ("UInt32", "BIGINT"),
    ("UInt64", "BIGINT"), ("Int8", "INT"), ("Int16", "INT"),
    ("Int32", "INT"), ("Int64", "BIGINT"), ("Float32", "DOUBLE"),
    ("Float64", "DOUBLE"), ("String", "STRING"), ("Date", "DATE"),
]:
    _SQL_FUNCTIONS.append(
        (f"emptyArray{_ch}", "", f"ARRAY<{_sql}>",
         f"CAST(array() AS ARRAY<{_sql}>)")
    )

# ClickHouse aggregate names that are direct aliases of Spark builtins —
# handled by the dialect translator (functions/dialect.py), since SQL
# UDFs cannot wrap aggregates. Kept here as the single source of truth.
AGGREGATE_ALIASES = {
    # lectures/lecture_06.md:62 (uniq / uniqExact), lecture_13.md:60-94
    "uniq": "approx_count_distinct",
    # uniqExact → count(DISTINCT …): handled structurally in dialect.py
    "uniqCombined": "approx_count_distinct",
    # lectures/lecture_06.md:51-70 — "argMax is a great window replacement"
    "argMax": "max_by",
    "argMin": "min_by",
    # lectures/lecture_16.md:62-70, homeworks/hw06.md:117-123
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "quantile": "percentile_approx",
    "median": "median",
    "anyLast": "last",
    "any": "first",
    "sumIf": "sum_if",  # expanded by dialect translator to sum(CASE …)
    "countIf": "count_if",
    "avgIf": "avg_if",
    "maxIf": "max_if",
    "minIf": "min_if",
    # statistics family (CH camelCase → Spark snake_case, same semantics)
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    # CH skewPop = population skewness = Spark's skewness
    # (kurtPop differs by the +3 excess offset — structural rewrite in
    # dialect._rewrite_kurtpop, not a name alias)
    "skewPop": "skewness",
    "anyHeavy": "mode",
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
}

# Scalar renames handled by the dialect translator (arg-compatible 1:1).
# (arrayMap/arrayFilter/... lambda-first forms are swapped structurally
# by dialect._rewrite_array_lambda, not listed here.)
SCALAR_ALIASES = {
    "arrayJoin": "explode",  # lectures/lecture_06.md:15-28
    "lcase": "lower",
    "ucase": "upper",
    "currentDatabase": "current_database",
    "rand": "rand",
    "arrayDistinct": "array_distinct",
    "arraySort": "array_sort",
    "arrayReverse": "reverse",
    "arrayFlatten": "flatten",
    "arrayConcat": "concat",
    "arraySlice": "slice",
    "arrayZip": "arrays_zip",
    "arrayIntersect": "array_intersect",
    "hasAny": "arrays_overlap",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "substringUTF8": "substring",
    "concatWithSeparator": "concat_ws",
    "toTypeName": "typeof",
    "bitCount": "bit_count",
    "roundBankers": "bround",
    "startsWith": "startswith",
    "endsWith": "endswith",
    "arrayMin": "array_min",
    "arrayElement": "element_at",
    "arrayMax": "array_max",
    "tuple": "struct",
}

# lower-cased name -> (name, args, return type, body). Spark resolves
# function names case-insensitively, so the lookup is too. The body of
# randConstant is None: a literal drawn once per session replaces it.
_FUNCTIONS: dict[str, tuple[str, str, str, str | None]] = {
    f[0].lower(): f for f in [*_SQL_FUNCTIONS, ("randConstant", "", "DOUBLE", None)]
}
_CALL_RE = re.compile(r"([A-Za-z_]\w*)\s*\(")


def called_functions(text: str) -> set[str]:
    """The lower-cased names of the table's functions that ``text`` calls."""
    return {n for n in map(str.lower, _CALL_RE.findall(text)) if n in _FUNCTIONS}


# the functions a body calls, registered before it
_DEPENDENCIES = {
    key: sorted(called_functions(body) - {key})
    for key, (_name, _args, _rtype, body) in _FUNCTIONS.items()
    if body
}

# JVM session UUID -> names registered there. Temporary functions live
# in the JVM session, which every Engine of the process may share, so
# the record of them is per process too. A set is replaced, never
# mutated, so the lock-free read in ensure_functions sees a whole one.
_registered: dict[str, frozenset[str]] = {}
_lock = threading.Lock()


def ensure_functions(spark: SparkSession, text: str) -> None:
    """Register in ``spark`` each ClickHouse function that ``text``
    calls and the session lacks, after the functions its body calls.

    ``spark`` is the session that will analyze ``text``. Sessions are
    told apart by their JVM session, not by the Python wrapper:
    Structured Streaming hands ``foreachBatch`` a frame of a cloned
    session with its own temporary functions."""
    wanted = called_functions(text)
    if not wanted:
        return
    key = spark._jsparkSession.sessionUUID()
    if wanted <= _registered.get(key, frozenset()):
        return
    with _lock:
        done = set(_registered.get(key, ()))
        for name in sorted(wanted):
            _register(spark, name, done)
        _registered[key] = frozenset(done)


def _register(spark: SparkSession, key: str, done: set[str]) -> None:
    if key in done:
        return
    for dep in _DEPENDENCIES.get(key, ()):
        _register(spark, dep, done)
    name, args, rtype, body = _FUNCTIONS[key]
    _create(spark, name, args, rtype, body or repr(random.random()))
    done.add(key)


def _create(spark: SparkSession, name: str, args: str, rtype: str, body: str) -> None:
    spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) RETURNS {rtype} RETURN {body}")


def set_current_user(spark: SparkSession, user: str) -> None:
    """Rebind ``currentUser()`` in ``spark`` to ``user`` and mark it
    registered, so a later first use cannot rebind it to ``'default'``."""
    key = spark._jsparkSession.sessionUUID()
    with _lock:
        _create(spark, "currentUser", "", "STRING", f"'{user}'")
        _registered[key] = _registered.get(key, frozenset()) | {"currentuser"}


def frame_expr(frame: DataFrame, text: str) -> Column:
    """``F.expr(text)`` to use over ``frame``, with the ClickHouse
    functions ``text`` calls registered in ``frame``'s session."""
    ensure_functions(frame.sparkSession, text)
    return F.expr(text)
