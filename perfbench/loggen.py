"""Seeded access-log generator with its own ground truth.

The benchmark owns its inputs: this module does not import the engine,
so an engine change can never change the workload. Every line is drawn
from a small set of kinds whose effect on the reference job's three
queries is known when the line is made:

- ``section``   200 GET ``?mod=forumdisplay&fid=N``          -> Q1, Q3
- ``article``   200 GET ``?mod=viewthread&tid=N``, referer    -> Q2, Q3
  carrying a fid that must not be extracted
- ``non200``    a section or article hit with 403/404/408     -> none
- ``ajax``      ``mod=ajax&...&fid=N`` (must match no id rule) -> none
- ``plain``     a URI without ids                              -> none
- ``aborted``   ``"-" 408 -``                                  -> none
- ``bad_date``  200 section hit with an unparseable timestamp  -> none
- ``malformed`` a line the combined-log format rejects         -> none

Section and article ids are drawn from a Zipf law over a seeded
permutation, so hot keys land on random ids. A few ids lie outside the
dimension tables, so the inner dim join has rows to drop. The expected
final sink state (:func:`expected_sinks`) is computed from these counts,
never by running the parser.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
ZONES = ("+0800", "-0700", "+0000", "+0530")
AGENTS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "curl/8.0.1",
)
PLAIN_URIS = ("/index.php", "/favicon.ico", "/robots.txt", "/misc.php?mod=faq")
KINDS = (
    "section", "article", "non200", "ajax", "plain", "aborted", "bad_date", "malformed",
)
KIND_WEIGHTS = (0.34, 0.26, 0.10, 0.10, 0.12, 0.03, 0.02, 0.03)
TOP_K = 10


@dataclass(frozen=True)
class Shape:
    """Key cardinalities of one workload."""

    sections: int
    articles: int
    ips: int
    zipf_s: float
    # Share of section/article ids drawn just past the dim's key range.
    off_dim: float = 0.01


REFERENCE_LIKE = Shape(sections=40, articles=1_000, ips=3_000, zipf_s=0.9)
WIDE = Shape(sections=40, articles=100_000, ips=300_000, zipf_s=0.8)


@dataclass
class Truth:
    """Ground-truth counts of what the reference job must produce."""

    section_pv: Counter = field(default_factory=Counter)
    article_pv: Counter = field(default_factory=Counter)
    ip_cnt: Counter = field(default_factory=Counter)
    lines: int = 0
    kept: int = 0  # lines that survive parse + status filter

    def add(self, other: "Truth") -> None:
        self.section_pv.update(other.section_pv)
        self.article_pv.update(other.article_pv)
        self.ip_cnt.update(other.ip_cnt)
        self.lines += other.lines
        self.kept += other.kept


def section_dim(shape: Shape) -> list[tuple[int, str]]:
    return [(fid, f"section-{fid}") for fid in range(1, shape.sections + 1)]


def article_dim(shape: Shape) -> list[tuple[int, str]]:
    return [(tid, f"subject {tid}") for tid in range(1, shape.articles + 1)]


class ZipfKeys:
    """Ids 1..n drawn by a Zipf(s) law over a fixed seeded rank -> id
    permutation, so the hot keys are random ids that stay hot; an
    ``off_dim`` share is pushed just past ``n`` (absent from the dim)."""

    def __init__(self, rng, n: int, s: float, off_dim: float):
        cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
        self.cdf = cdf / cdf[-1]
        self.ids = rng.permutation(n) + 1
        self.n, self.off_dim = n, off_dim

    def draw(self, rng, size: int) -> list[int]:
        ranks = np.searchsorted(self.cdf, rng.random(size), side="right")
        ids = self.ids[np.minimum(ranks, self.n - 1)]
        off = rng.random(size) < self.off_dim
        ids[off] = self.n + 1 + rng.integers(0, max(1, self.n // 10), int(off.sum()))
        return ids.tolist()


class LogGenerator:
    """Deterministic stream of log-line chunks for one seed and shape."""

    def __init__(self, seed: int, shape: Shape):
        self.rng = np.random.default_rng(seed)
        self.shape = shape
        # Client IPs: a fixed seeded pool, drawn Zipf-skewed per line.
        pool = self.rng.integers(1, 255, size=(shape.ips, 4))
        self.ip_pool = [f"{a}.{b}.{c}.{d}" for a, b, c, d in pool.tolist()]
        self.ips = ZipfKeys(self.rng, shape.ips, shape.zipf_s, 0.0)
        self.sections = ZipfKeys(self.rng, shape.sections, shape.zipf_s, shape.off_dim)
        self.articles = ZipfKeys(self.rng, shape.articles, shape.zipf_s, shape.off_dim)
        self.clock = 1_598_522_400  # 2020-08-27 10:00:00 UTC

    def chunk(self, n: int) -> tuple[list[str], Truth]:
        """Next ``n`` lines plus the ground truth they contribute."""
        rng, sh = self.rng, self.shape
        # Draw every random column first, as plain lists: indexing numpy
        # scalars per line would dominate generation time.
        kinds = rng.choice(len(KINDS), size=n, p=KIND_WEIGHTS).tolist()
        ips = self.ips.draw(rng, n)
        fids = self.sections.draw(rng, n)
        tids = self.articles.draw(rng, n)
        statuses = rng.choice((403, 404, 408), size=n).tolist()
        nbytes = rng.integers(200, 60_000, size=n).tolist()
        is_article = (rng.random(n) < 0.5).tolist()
        steps = rng.integers(0, 3, size=n).tolist()
        zones = rng.integers(0, len(ZONES), size=n).tolist()
        agents = rng.integers(0, len(AGENTS), size=n).tolist()
        plain = rng.integers(0, len(PLAIN_URIS), size=n).tolist()

        truth = Truth(lines=n)
        lines: list[str] = []
        ts_cache: dict[int, str] = {}
        t = self.clock
        for i in range(n):
            t += steps[i]
            k = KINDS[kinds[i]]
            ip = self.ip_pool[ips[i] - 1]
            stamp = ts_cache.get(t)
            if stamp is None:
                stamp = _apache_time(t)
                ts_cache[t] = stamp
            ts = f"{stamp} {ZONES[zones[i]]}"
            ua = AGENTS[agents[i]]
            fid, tid = fids[i], tids[i]
            status, ref = 200, "-"
            if k == "section" or k == "bad_date":
                uri = f"/forum.php?mod=forumdisplay&fid={fid}"
                if k == "bad_date":
                    ts = f"{stamp.replace('/', '-', 1)} {ZONES[zones[i]]}"
            elif k == "article":
                uri = f"/forum.php?mod=viewthread&tid={tid}&extra=page%3D1"
                ref = f"http://kms-4/forum.php?mod=forumdisplay&fid={fid}"
            elif k == "non200":
                uri = (
                    f"/forum.php?mod=viewthread&tid={tid}"
                    if is_article[i]
                    else f"/forum.php?mod=forumdisplay&fid={fid}"
                )
                status = statuses[i]
            elif k == "ajax":
                uri = f"/forum.php?mod=ajax&action=forumchecknew&fid={fid}&time={t}"
            elif k == "plain":
                uri = PLAIN_URIS[plain[i]]
            elif k == "aborted":
                lines.append(f'{ip} - - [{ts}] "-" 408 - "-" "{ua}"')
                continue
            else:
                lines.append(f"{ip} broken line without quotes {fid}")
                continue
            lines.append(
                f'{ip} - - [{ts}] "GET {uri} HTTP/1.1" {status} {nbytes[i]} "{ref}" "{ua}"'
            )
            if status == 200:
                truth.kept += 1  # a bad date is kept, as the sentinel row
            if k == "section":
                truth.ip_cnt[ip] += 1
                if fid <= sh.sections:
                    truth.section_pv[fid] += 1
            elif k == "article":
                truth.ip_cnt[ip] += 1
                if tid <= sh.articles:
                    truth.article_pv[tid] += 1
        self.clock = t
        return lines, truth


def _apache_time(epoch: int) -> str:
    days, rem = divmod(epoch, 86_400)
    y, m, d = _civil_from_days(days)
    return f"{d:02d}/{MONTHS[m - 1]}/{y}:{rem // 3600:02d}:{rem % 3600 // 60:02d}:{rem % 60:02d}"


def _civil_from_days(z: int) -> tuple[int, int, int]:
    # Days since 1970-01-01 -> (year, month, day), proleptic Gregorian.
    z += 719_468
    era = z // 146_097
    doe = z - era * 146_097
    yoe = (doe - doe // 1460 + doe // 36_524 - doe // 146_096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return y + (m <= 2), m, d


def total(truths: list[Truth]) -> Truth:
    out = Truth()
    for t in truths:
        out.add(t)
    return out


def write_files(gen: LogGenerator, out_dir: str, n_files: int,
                lines_per_file: int) -> tuple[list[str], list[Truth]]:
    """Write ``n_files`` chunks as ``part-00000.log``...; returns their
    paths and their truths, in order."""
    os.makedirs(out_dir, exist_ok=True)
    truths = []
    paths = []
    for i in range(n_files):
        lines, truth = gen.chunk(lines_per_file)
        path = os.path.join(out_dir, f"part-{i:05d}.log")
        with open(path, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        paths.append(path)
        truths.append(truth)
    return paths, truths


def expected_sinks(truth: Truth, shape: Shape) -> dict:
    """Final sink state the job must reach.

    ``client_ip_access`` is an update-mode upsert, so its table must
    equal the counts exactly. The two top-10 sinks upsert each batch's
    top 10, so rows that left the top 10 stay with an older count: the
    table's own top 10 must equal the expected top 10, and no row may
    name an unknown key or exceed its key's final count.
    """
    def top(counter: Counter, names: dict) -> list[tuple]:
        ranked = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        return [(k, names[k], v) for k, v in ranked]

    sections = dict(section_dim(shape))
    articles = {tid: f"subject {tid}" for tid in truth.article_pv}
    return {
        "hot_section": {"top": top(truth.section_pv, sections),
                        "counts": dict(truth.section_pv)},
        "hot_article": {"top": top(truth.article_pv, articles),
                        "counts": dict(truth.article_pv)},
        "client_ip_access": {"counts": dict(truth.ip_cnt)},
    }
