"""Parser unit tests (SURVEY §5 plan item 1).

Covers the edge-case classes of the reference's fixture
(access_log.txt) with our own synthetic lines, plus hand-written lines
that pin the exact semantics the reference's manual test checks
(TestLogparse.java:19 — referer fid must NOT be extracted)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_log_analysis_spark import logparse
from flink_log_analysis_spark.sources.synthetic import generate_log_lines

# Same shape as the line unit-tested by the reference (not copied —
# reconstructed from the documented combined format).
ARTICLE_LINE = (
    '192.168.10.1 - - [27/Aug/2020:10:20:53 +0800] '
    '"GET /forum.php?mod=viewthread&tid=9&extra=page%3D1 HTTP/1.1" 200 39913 '
    '"http://kms-4/forum.php?mod=forumdisplay&fid=41" "Mozilla/5.0"'
)
SECTION_LINE = (
    '10.0.0.7 - - [01/Jan/2021:00:00:01 -0700] '
    '"GET /forum.php?mod=forumdisplay&fid=2 HTTP/1.1" 200 1024 "-" "curl/8.0.1"'
)
AJAX_LINE = (
    '10.0.0.8 - - [01/Jan/2021:00:00:02 +0000] '
    '"GET /forum.php?mod=ajax&action=forumchecknew&fid=40&inajax=yes HTTP/1.1" '
    '200 54 "-" "Mozilla/5.0"'
)
ABORTED_LINE = '10.0.0.9 - - [01/Jan/2021:00:00:03 +0000] "-" 408 - "-" "-"'
NON200_LINE = (
    '10.0.0.10 - - [01/Jan/2021:00:00:04 +0000] '
    '"GET /forum.php?mod=viewthread&tid=5 HTTP/1.1" 404 321 "-" "Mozilla/5.0"'
)
GARBAGE_LINE = "not a log line at all"
BAD_DATE_LINE = (
    '10.0.0.11 - - [99/Xxx/2021:99:99:99 +0000] '
    '"GET /forum.php?mod=viewthread&tid=7 HTTP/1.1" 200 10 "-" "Mozilla/5.0"'
)


def _lines_df(spark, lines):
    return spark.createDataFrame([Row(line=ln) for ln in lines])


def test_parse_nine_fields(spark):
    df = logparse.parse_combined_log(_lines_df(spark, [ARTICLE_LINE]))
    row = df.first()
    assert row.clientIpAddress == "192.168.10.1"
    assert row.clientIdentity == "-"
    assert row.remoteUser == "-"
    assert row.dateTime == "27/Aug/2020:10:20:53 +0800"
    assert row.request == "GET /forum.php?mod=viewthread&tid=9&extra=page%3D1 HTTP/1.1"
    assert row.httpStatusCode == "200"
    assert row.bytesSent == "39913"
    assert row.referer == "http://kms-4/forum.php?mod=forumdisplay&fid=41"
    assert row.userAgent == "Mozilla/5.0"


def test_garbage_dropped(spark):
    df = logparse.drop_unparseable(
        logparse.parse_combined_log(_lines_df(spark, [GARBAGE_LINE, SECTION_LINE]))
    )
    assert df.count() == 1


def test_referer_fid_not_extracted(spark):
    """The reference's own manual test pin: tid=9 from the URI; the
    referer's fid=41 must NOT populate sectionId."""
    out = logparse.parse_access_logs(_lines_df(spark, [ARTICLE_LINE])).first()
    assert out.articleId == 9
    assert out.sectionId == 0


def test_section_and_date_normalization(spark):
    out = logparse.parse_access_logs(_lines_df(spark, [SECTION_LINE])).first()
    assert out.sectionId == 2
    assert out.articleId == 0
    # zone (-0700) discarded, naive local time kept
    assert out.accessDate == "2021-01-01 00:00:01"
    assert out.clientIP == "10.0.0.7"


def test_ajax_fid_not_extracted(spark):
    out = logparse.parse_access_logs(_lines_df(spark, [AJAX_LINE])).first()
    assert out.sectionId == 0 and out.articleId == 0


def test_aborted_request_ids_zero(spark):
    """'"-" 408 -' parses as a 9-field record but is dropped by the
    default status filter (!=200)."""
    parsed = logparse.drop_unparseable(
        logparse.parse_combined_log(_lines_df(spark, [ABORTED_LINE]))
    )
    assert parsed.count() == 1
    assert logparse.parse_access_logs(_lines_df(spark, [ABORTED_LINE])).count() == 0
    # with the literal-reference flag it *is* kept (inverted filter)
    kept = logparse.parse_access_logs(
        _lines_df(spark, [ABORTED_LINE]), keep_non_200=True
    ).first()
    assert kept.sectionId == 0 and kept.articleId == 0


def test_status_filter_modes(spark):
    lines = [ARTICLE_LINE, NON200_LINE]
    intent = logparse.parse_access_logs(_lines_df(spark, lines))
    assert intent.count() == 1 and intent.first().articleId == 9
    literal = logparse.parse_access_logs(_lines_df(spark, lines), keep_non_200=True)
    assert literal.count() == 1 and literal.first().articleId == 5


def test_sentinel_on_bad_date(spark):
    out = logparse.parse_access_logs(_lines_df(spark, [BAD_DATE_LINE])).first()
    assert out.clientIP == logparse.SENTINEL_IP
    assert out.accessDate == logparse.SENTINEL_DATE
    assert out.sectionId == 0 and out.articleId == 0


def test_hostile_lines_never_crash(spark):
    """ANSI-mode regression: an overlong fid, unicode, and a 5-token
    request line must degrade (ids 0), never abort the scan."""
    hostile = [
        '1.1.1.1 - - [27/Aug/2020:10:20:53 +0800] '
        '"GET /forum.php?mod=forumdisplay&fid=99999999999999999999 HTTP/1.1" '
        '200 1 "-" "UA"',
        '1.1.1.2 - - [27/Aug/2020:10:20:53 +0800] "GET /föö.php HTTP/1.1" 200 1 "-" "Mö é"',
        '1.1.1.3 - - [27/Aug/2020:10:20:53 +0800] "GET /a b c d HTTP/1.1" 200 1 "-" "UA"',
    ]
    out = logparse.parse_access_logs(_lines_df(spark, hostile)).collect()
    assert len(out) == 3
    assert all(r.sectionId == 0 and r.articleId == 0 for r in out)


def test_synthetic_corpus_roundtrip(spark):
    lines = generate_log_lines(500, seed=7)
    df = _lines_df(spark, lines)
    parsed = logparse.drop_unparseable(logparse.parse_combined_log(df))
    # malformed garbage dropped, everything else kept
    n_garbage = sum(1 for ln in lines if '"' not in ln)
    assert parsed.count() == len(lines) - n_garbage
    out = logparse.parse_access_logs(df)
    # no sentinel rows in well-formed corpus; ids within generator ranges
    agg = out.agg(
        F.max("sectionId").alias("max_fid"),
        F.max("articleId").alias("max_tid"),
        F.sum((F.col("clientIP") == logparse.SENTINEL_IP).cast("int")).alias("bad"),
    ).first()
    assert agg.bad == 0
    assert 0 < agg.max_fid <= 40
    assert 0 < agg.max_tid <= 1000
    # a row is never both a section and an article hit
    assert out.filter((F.col("sectionId") != 0) & (F.col("articleId") != 0)).count() == 0


def test_combined_log_regex_once_per_query_plan(spark):
    """Plan guard: each reference query's optimized plan holds the
    combined-log regex exactly once; without the parse's barriers,
    filter pushdown substitutes it into every predicate (18 / 18 / 28
    copies). The date parse must not be copied into the queries' own
    filters either."""
    from flink_log_analysis_spark.streaming.runner import (
        client_ip_access_agg,
        hot_article_agg,
        hot_section_agg,
        parsed_log_stream,
    )

    logs = parsed_log_stream(_lines_df(spark, [SECTION_LINE]))
    sections = spark.createDataFrame([(2, "s")], "fid int, name string")
    articles = spark.createDataFrame([(9, "a")], "tid int, subject string")
    for agg in (
        hot_section_agg(logs, sections),
        hot_article_agg(logs, articles),
        client_ip_access_agg(logs),
    ):
        plan = agg._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count(logparse.COMBINED_LOG_REGEX) == 1, plan
        assert plan.count("try_to_timestamp") == 1, plan


def test_packed_cut_matches_group_extract(spark):
    """The one-pass cut equals a ``regexp_extract`` per group, in Java
    regex semantics, on lines whose fields hold the delimiters the cut
    counts, and on lines ending in a line terminator Java's ``$`` stops
    before but ``\\s*`` cannot consume."""
    lines = [
        ARTICLE_LINE,
        ABORTED_LINE,
        GARBAGE_LINE,
        'a]"$\\ b]" c"[ [d "q" x] "GET /a]b\\ HTTP/1.1" 200 "[$1] "r]f" "u]a"',
        '1.1.1.1 - - [] "" 200 - "" ""',
        '1.1.1.1 - - [ 27/Aug/2020:10:20:53] "GET / HTTP/1.1" 200 1 "-" "UA" \t ',
        '1.1.1.1 - - [27/Aug/2020:10:20:53 +0800] "GET / HTTP/1.1" 200 1 "-" "UA" ',
        '1.1.1.1 - - [27/Aug/2020:10:20:53 +0800] "GET / HTTP/1.1" 200 1 "-" "UA" \u0085',
        '1.1.1.1 - - [27/Aug/2020:10:20:53 +0800] "GET / HTTP/1.1" 200 1 "-" "UA" x',
        '1.1.1.1  - - [27/Aug/2020:10:20:53 +0800] "GET / HTTP/1.1" 200 1 "-" "UA"',
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    line = F.col("line")
    matched = line.rlike(logparse.COMBINED_LOG_REGEX)
    want = df.select(
        line,
        *(
            F.when(matched, F.regexp_extract(line, logparse.COMBINED_LOG_REGEX, i + 1))
            .alias(name)
            for i, name in enumerate(logparse.LOG_FIELDS)
        ),
    )
    got = logparse.parse_combined_log(df)
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.filter(F.col("clientIpAddress").isNotNull()).count() == 7
