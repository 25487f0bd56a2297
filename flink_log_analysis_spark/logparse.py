"""Apache combined-log parsing as vectorized Catalyst expressions.

Reproduces the observable semantics of the reference's parser layer
(``/root/reference/src/main/java/com/jmx/analysis/LogParse.java:25-132``
and the map/filter operators in ``LogAnalysis.java:264-322``) with zero
per-row Python: every step is a built-in column expression, so the whole
parse stage stays inside whole-stage codegen and scales linearly on a
cluster — a 100 TB log scan is just a text scan + projections.

Pipeline (SURVEY §2.A):

  raw line (STRING)
    -> parse_combined_log:    9 fields from one regex pass (A2), null-out
       on regex miss
    -> drop unparseable (A3)
    -> status filter (A4; the reference's *documented intent* is
       status == 200 — its code has an inverted comparison, which we
       expose via ``keep_non_200`` for literal parity; SURVEY §2.E.1)
    -> project_log_fields:    (clientIP, accessDate, sectionId,
       articleId) with the sentinel row on date-parse failure (A5-A8)

The line regex (A2) and the date parse + id regexes (A5-A7) each sit
behind a pushdown barrier (:func:`_computed_once`), so a query's own
filters never copy them: each runs once per line, not once per predicate.

Semantics notes implemented exactly (SURVEY §2.E):
  - request split requires exactly 3 tokens (method, uri, proto);
  - date normalize drops the timezone offset (naive local time);
  - fid/tid extracted only from the request URI (never the referer),
    anchored on ``?mod=forumdisplay&fid=`` / ``?mod=viewthread&tid=``;
  - sentinel row ('0.0.0.0', '0000-00-00 00:00:00', 0, 0) iff the
    date fails to parse; otherwise missing fid/tid default to 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Apache *combined* log format: 9 space-delimited fields, with the
# request / referer / user-agent quoted and the timestamp bracketed.
# Public format spec: https://httpd.apache.org/docs/2.4/logs.html
COMBINED_LOG_REGEX = (
    r'^(\S+) (\S+) (\S+) \[([^\]]*)\] "([^"]*)" (\d{3}) (\S+) "([^"]*)" "([^"]*)"\s*$'
)

# Field names mirror the reference's AccessLogRecord POJO
# (AccessLogRecord.java:17-27) so a reference user finds the same names.
LOG_FIELDS = (
    "clientIpAddress",
    "clientIdentity",
    "remoteUser",
    "dateTime",
    "request",
    "httpStatusCode",
    "bytesSent",
    "referer",
    "userAgent",
)

SECTION_ID_REGEX = r"\?mod=forumdisplay&fid=(\d+)"
ARTICLE_ID_REGEX = r"\?mod=viewthread&tid=(\d+)"

SENTINEL_IP = "0.0.0.0"
SENTINEL_DATE = "0000-00-00 00:00:00"


# regexp_replace template that packs the 9 groups of a matched line into
# one string. A group is cut out of it by counting delimiters it cannot
# contain (see _field): the status $6 (``\d{3}``) and the ``\S+`` fields
# $1/$2/$3/$7 hold no space and lead, so they are the first five
# space-separated fields; $5/$8/$9 (``[^"]*``) hold no '"' and trail, so
# they are the 4th-, 3rd- and 2nd-last '"'-separated fields; the date $4
# (``[^\]]*``) follows the fifth space and ends at the next ']'. The
# closing '"' fences off the one piece of a matched line the regex does
# not consume: Java's ``$`` may match before a final line terminator that
# ``\s*`` cannot eat (U+0085, U+2028, U+2029), and that terminator is
# copied after the template.
_PACK_TEMPLATE = '$6 $1 $2 $3 $7 $4]"$5"$8"$9"'


def _field(s: Column, delim: str, n: int) -> Column:
    """The n-th ``delim``-separated field of ``s``, counted from the left
    (n > 0) or from the right (n < 0)."""
    return F.substring_index(F.substring_index(s, delim, n), delim, -1 if n > 0 else 1)


def _computed_once(df: DataFrame, *cols: Column) -> DataFrame:
    """``df.select(*cols)``, read back out of a one-element ``inline``.

    Catalyst pushes a filter below a projection by substituting the
    projected expressions into the predicate, so over a plain projection
    every filter on a parsed column carries its own copy of the parse.
    Nothing is pushed through generator output, so columns selected here
    are computed once per row whatever filters callers add above them.
    """
    return df.select(F.inline(F.array(F.struct(*cols))))


def parse_combined_log(df: DataFrame, line_col: str = "line") -> DataFrame:
    """A2: raw line -> 9 string columns; regex miss -> all-null fields.

    The combined-log regex runs once per line (behind
    :func:`_computed_once`): ``regexp_replace`` packs the 9 groups into
    one string (:data:`_PACK_TEMPLATE`), and the fields are cut out of it
    with ``substring_index``. A miss leaves the line unchanged, so
    ``packed != line`` is exactly "matched": a match has 16 literal
    characters around its groups and the template 10, so its packed form
    is at least 6 characters shorter.
    """
    line = F.col(line_col)
    packed = _computed_once(
        df,
        line.alias(line_col),
        F.regexp_replace(line, COMBINED_LOG_REGEX, _PACK_TEMPLATE).alias("_packed"),
    )
    p = F.nullif(F.col("_packed"), line)  # null on a regex miss
    # '$4]"$5"$8"$9"': everything after the fifth space
    bracketed = F.substr(p, F.length(F.substring_index(p, " ", 5)) + 2)
    groups = (  # $1 .. $9
        _field(p, " ", 2), _field(p, " ", 3), _field(p, " ", 4),
        F.substring_index(bracketed, "]", 1), _field(p, '"', -4),
        _field(p, " ", 1), _field(p, " ", 5), _field(p, '"', -3),
        _field(p, '"', -2),
    )
    return packed.select(
        line, *(g.alias(name) for g, name in zip(groups, LOG_FIELDS))
    )


def drop_unparseable(df: DataFrame) -> DataFrame:
    """A3: drop lines the combined-log regex rejected (null struct)."""
    return df.filter(F.col("clientIpAddress").isNotNull())


def filter_status(df: DataFrame, keep_non_200: bool = False) -> DataFrame:
    """A4: status filter.

    Default = the documented intent (keep HTTP 200). ``keep_non_200``
    mirrors the reference code's literal (inverted) comparison at
    ``LogAnalysis.java:318`` for byte-parity experiments.
    """
    if keep_non_200:
        return df.filter(F.col("httpStatusCode") != "200")
    return df.filter(F.col("httpStatusCode") == "200")


def request_uri(request: Column) -> Column:
    """A5: '"GET /uri HTTP/1.1"' -> uri; null unless exactly 3 tokens."""
    parts = F.split(request, " ")
    return F.when(F.size(parts) == 3, parts.getItem(1))


def normalized_date(date_time: Column) -> Column:
    """A6: '21/Jul/2009:02:48:13 -0700' -> timestamp, zone DISCARDED.

    The reference keeps only the pre-space part of the bracketed field
    and parses it as naive local time (LogParse.java:79-101). We return
    a real TimestampType; callers needing the reference's string format
    apply :func:`formatted_date`.
    """
    naive = F.substring_index(date_time, " ", 1)
    # try_to_timestamp: null (not ANSI error) on unparseable input —
    # the parser's contract is "sentinel row on bad date", never a crash.
    return F.try_to_timestamp(naive, F.lit("dd/MMM/yyyy:HH:mm:ss"))


def formatted_date(ts: Column) -> Column:
    """The reference's output format: 'yyyy-MM-dd HH:mm:ss' string."""
    return F.date_format(ts, "yyyy-MM-dd HH:mm:ss")


def section_id(uri: Column) -> Column:
    """A7: section id from the URI query string; 0 when absent."""
    return _id_from_uri(uri, SECTION_ID_REGEX)


def article_id(uri: Column) -> Column:
    """A7: article id from the URI query string; 0 when absent."""
    return _id_from_uri(uri, ARTICLE_ID_REGEX)


def _id_from_uri(uri: Column, pattern: str) -> Column:
    # try_cast: a hostile URI with an overlong id (> INT_MAX digits)
    # must degrade to 0 ("not a hit"), never ANSI-abort a 100 TB scan.
    # nullif keeps the '' of a miss away from try_cast, whose failure
    # path is several times slower, and evaluates the regex once (Spark
    # computes nullif's operand as a common expression).
    return F.coalesce(
        F.nullif(F.regexp_extract(uri, pattern, 1), F.lit("")).try_cast("int"),
        F.lit(0),
    )


def project_log_fields(df: DataFrame) -> DataFrame:
    """A8: 9-field record -> (clientIP, accessDate, accessTs, sectionId,
    articleId) with the reference's sentinel semantics.

    Sentinel row iff the date fails to parse (SURVEY §2.E.2 — the
    reference's tuple-equality branch is dead code; only the date check
    is live). ``accessDate`` keeps the reference's string format for
    output parity; ``accessTs`` is the typed timestamp twin used for
    event-time operations.
    """
    uri = request_uri(F.col("request"))
    # The date parse and the URI regexes run once per row, ahead of the
    # sentinel CASEs (Catalyst shares no subexpression across their
    # branches) and of the filters the queries add on the ids.
    typed = _computed_once(
        df,
        F.col("clientIpAddress"),
        normalized_date(F.col("dateTime")).alias("ts"),
        section_id(uri).alias("sid"),
        article_id(uri).alias("aid"),
    )
    ts = F.col("ts")
    bad_date = ts.isNull()
    return typed.select(
        F.when(bad_date, F.lit(SENTINEL_IP))
        .otherwise(F.col("clientIpAddress"))
        .alias("clientIP"),
        F.when(bad_date, F.lit(SENTINEL_DATE))
        .otherwise(formatted_date(ts))
        .alias("accessDate"),
        ts.alias("accessTs"),
        F.when(bad_date, F.lit(0)).otherwise(F.col("sid")).alias("sectionId"),
        F.when(bad_date, F.lit(0)).otherwise(F.col("aid")).alias("articleId"),
    )


def parse_access_logs(
    df: DataFrame, line_col: str = "line", keep_non_200: bool = False
) -> DataFrame:
    """Full A2-A8 chain: raw lines -> the reference's ``logs`` view shape.

    Works identically on batch DataFrames and streaming DataFrames
    (all steps are stateless projections, filters and one-row
    generators), which is what makes the engine's batch/stream
    dual-mode possible.
    """
    parsed = drop_unparseable(parse_combined_log(df, line_col))
    filtered = filter_status(parsed, keep_non_200=keep_non_200)
    return project_log_fields(filtered)


def with_proctime(df: DataFrame) -> DataFrame:
    """A9: processing-time attribute ≈ current_timestamp per micro-batch.

    Spark evaluates ``current_timestamp()`` once per micro-batch plan,
    which matches the reference's PROCTIME() use: it exists only to
    select the dim-table snapshot for the lookup join (stream-static
    joins already re-evaluate the static side per micro-batch).
    """
    return df.withColumn("proctime", F.current_timestamp())
