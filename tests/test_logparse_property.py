"""Property-based parser testing: the Catalyst parse chain must agree
with an independent pure-Python model of the documented semantics
(SURVEY §2.A A2-A8 + §2.E decisions) on arbitrary generated input —
well-formed, edge-case, and garbage lines alike.
"""

from __future__ import annotations

import re
from datetime import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_log_analysis_spark import logparse

MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()


# ---------------------------------------------------------------- model
def py_parse(line: str):
    """Pure-Python reference implementation (independent of Spark)."""
    m = re.match(logparse.COMBINED_LOG_REGEX, line)
    if not m:
        return None  # dropped (A3)
    (ip, _ident, _user, ts, request, status, _nbytes, _ref, _ua) = m.groups()
    if status != "200":
        return None  # status filter, documented intent (A4)
    # date normalize (A6): pre-space part, naive, zone dropped
    naive = ts.split(" ")[0]
    try:
        dt = datetime.strptime(naive, "%d/%b/%Y:%H:%M:%S")
        date_str = dt.strftime("%Y-%m-%d %H:%M:%S")
    except ValueError:
        return ("0.0.0.0", "0000-00-00 00:00:00", 0, 0)  # sentinel (A8)
    # request split (A5): exactly 3 tokens
    parts = request.split(" ")
    uri = parts[1] if len(parts) == 3 else None
    sid = aid = 0
    if uri is not None:
        ms = re.search(r"\?mod=forumdisplay&fid=(\d+)", uri)
        ma = re.search(r"\?mod=viewthread&tid=(\d+)", uri)
        if ms:
            try_int = int(ms.group(1)) if len(ms.group(1)) < 10 else 0
            sid = try_int
        if ma:
            aid = int(ma.group(1)) if len(ma.group(1)) < 10 else 0
    return (ip, date_str, sid, aid)


# ------------------------------------------------------------ strategies
octet = st.integers(0, 255)
ip_s = st.builds(lambda a, b, c, d: f"{a}.{b}.{c}.{d}", octet, octet, octet, octet)

ts_valid = st.builds(
    lambda d, mo, y, h, mi, s, z: f"{d:02d}/{MONTHS[mo]}/{y}:{h:02d}:{mi:02d}:{s:02d} {z}",
    st.integers(1, 28), st.integers(0, 11), st.integers(1995, 2030),
    st.integers(0, 23), st.integers(0, 59), st.integers(0, 59),
    st.sampled_from(["+0800", "-0700", "+0000"]),
)
ts_garbage = st.sampled_from(
    ["99/Zzz/20x0:99:99:99 +0800", "not-a-date", "31/Feb/2020:10:00:00 +0000",
     "", " 27/Aug/2020:10:20:53 +0800"]
)
# A date whose zone part holds the '"' and '[' the request side counts.
ts_quoted = st.builds(lambda t: t.replace(" ", ' "[', 1), ts_valid)
ts_s = st.one_of(ts_valid, ts_garbage, ts_quoted)

# Hostile ASCII content: every field may hold each delimiter its regex
# group allows, which is what the one-pass parse cuts around. ASCII
# only, because Python's \s and \d are Unicode-aware and Java's are not.
token_s = st.text(alphabet='ab.-]["$\\', min_size=1, max_size=6)  # \S+
quoted_s = st.text(alphabet='ab /?=&]$\\[\t', max_size=12)      # [^"]*

uri_s = st.one_of(
    st.builds(lambda n: f"/forum.php?mod=forumdisplay&fid={n}", st.integers(1, 9999)),
    st.builds(lambda n: f"/forum.php?mod=viewthread&tid={n}&extra=x", st.integers(1, 9999)),
    st.builds(lambda n: f"/forum.php?mod=ajax&fid={n}", st.integers(1, 99)),
    st.builds(lambda n: f"/f]$\\.php?mod=viewthread&tid={n}]", st.integers(1, 99)),
    st.sampled_from(["/index.php", "/a%20b", "/x?y=z"]),
    # overlong id that must degrade to 0, never ANSI-crash
    st.just("/forum.php?mod=viewthread&tid=99999999999999999999"),
)
request_s = st.one_of(
    st.builds(lambda u: f"GET {u} HTTP/1.1", uri_s),
    st.builds(lambda u: f"POST {u} HTTP/1.0", uri_s),
    st.just("-"),                       # aborted request
    st.builds(lambda u: f"GET {u}", uri_s),  # 2 tokens -> no uri
    st.builds(lambda u: f"GET  {u} HTTP/1.1", uri_s),  # double space
    st.builds(lambda u: f"GET\t{u} HTTP/1.1]", uri_s),
    quoted_s,
)
status_s = st.sampled_from(["200", "404", "403", "500", "408"])
referer_s = st.one_of(
    st.sampled_from(
        ["-", "http://kms-4/forum.php?mod=forumdisplay&fid=46", "http://x/y?tid=9"]
    ),
    quoted_s,
)
ua_s = st.one_of(
    st.sampled_from(["Mozilla/5.0 (X11; Linux)", "curl/8.0.1", "-", "a] b"]),
    quoted_s,
)
sep_s = st.sampled_from([" ", " ", " ", "  "])  # a double space never matches
tail_s = st.sampled_from(["", "", " ", "\t", " \t ", "  "])

wellformed = st.builds(
    lambda ip, ident, user, ts, rq, stc, nb, ref, ua, sep, tail:
        f'{ip}{sep}{ident} {user} [{ts}] "{rq}" {stc} {nb} "{ref}" "{ua}"{tail}',
    st.one_of(ip_s, token_s),
    st.one_of(st.just("-"), token_s),
    st.one_of(st.just("-"), token_s),
    ts_s, request_s, status_s,
    st.one_of(st.integers(0, 10 ** 6).map(str), st.just("-"), token_s),
    referer_s, ua_s, sep_s, tail_s,
)
garbage = st.one_of(
    st.text(max_size=80).filter(lambda s: '"' not in s and "\n" not in s),
    st.just(""),
    st.builds(lambda ip: f"{ip} broken line without quotes", ip_s),
)
line_s = st.one_of(wellformed, garbage)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(line_s, min_size=1, max_size=60))
def test_parser_matches_python_model(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    got = [
        (r.clientIP, r.accessDate, r.sectionId, r.articleId)
        for r in logparse.parse_access_logs(df).collect()
    ]
    exp = [p for p in (py_parse(ln) for ln in lines) if p is not None]
    assert sorted(got) == sorted(exp)
