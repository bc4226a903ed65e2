"""Seeded input generator with pure-Python expected answers.

Everything here is standard library plus pyarrow (for writing parquet); no
Spark.  The same seed gives byte-identical files and identical expected
answers:

* ``LogStream`` drops one RealServer style-5 ``rmaccess.log.<n>`` file and
  one Caudium ``log.<n>`` file per cron cycle, with planted malformed lines,
  watermark ties, late lines and non-media web lines.  It models the
  loader's watermark and returns the per-table insert and quarantine counts
  that ``load_style5`` / ``load_weblog`` (``latest=2``) must report, and
  keeps the loaded fact rows so report answers can be computed.
* ``ReportDims`` generates the ``customers`` / ``project`` /
  ``project_file`` reporting dims and computes ``pull_report`` rows for any
  customer subset.
* ``write_corpus`` writes ``documents.parquet`` (exact-dup and near-dup
  families, several langs and sources, Zipf vocabulary) and
  ``embeddings.parquet`` (planted clusters) and returns the planted truth.
"""

from __future__ import annotations

import bisect
import calendar
import itertools
import os
import random
import re
import time
from dataclasses import dataclass, field

_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

# 2002-10-13 00:00:00 UTC: the epoch of the reference's sample logs
T0 = calendar.timegm((2002, 10, 13, 0, 0, 0))
CYCLE_SECONDS = 2 * 3600

ACCESS_TABLES = ("access", "file", "client", "network",
                 "stats_mask1", "stats_mask2", "stats_mask3")
WEB_TABLES = ("access", "file", "client")

REAL_FAMILIES = ("news", "promo", "clip", "lecture", "concert")
WEB_MEDIA = (("intro", "wmv"), ("song", "wma"), ("talk", "wmv"))
WEB_OTHER = (("page", "html"), ("logo", "gif"))
_WEB_MEDIA_RE = re.compile(r"\.wma|\.wmv")


def clf_time(epoch: int) -> str:
    """'DD/Mon/YYYY:HH:MM:SS' for a UTC epoch, locale-independent."""
    t = time.gmtime(epoch)
    return (f"{t.tm_mday:02d}/{_MONTHS[t.tm_mon - 1]}/{t.tm_year:04d}:"
            f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d}")


def like_regex(pattern: str) -> re.Pattern:
    """SQL LIKE (``%``, ``_``; no escapes in generated patterns) as a regex."""
    out = []
    for ch in pattern:
        out.append(".*" if ch == "%" else "." if ch == "_" else re.escape(ch))
    return re.compile("".join(out), re.DOTALL)


def duration_hms(seconds: int | None) -> str | None:
    """The report's H:MM:SS / M:SS duration form (NULL stays NULL)."""
    if seconds is None:
        return None
    if seconds >= 3600:
        return f"{seconds // 3600}:{seconds % 3600 // 60:02d}:{seconds % 60:02d}"
    return f"{seconds // 60}:{seconds % 60:02d}"


@dataclass
class NameAgg:
    """Report partial aggregate over the loaded fact rows of one file name."""

    n_views: int = 0
    clip: int | None = None
    sent_sum: int = 0
    sent_n: int = 0
    longest: int | None = None

    def add(self, file_time: int | None, sent_time: int | None) -> None:
        self.n_views += 1
        if file_time is not None and file_time != 0:
            self.clip = file_time if self.clip is None else max(self.clip, file_time)
        if (sent_time is not None and file_time is not None
                and sent_time != 0 and sent_time <= file_time):
            self.sent_sum += sent_time
            self.sent_n += 1
            self.longest = sent_time if self.longest is None else max(self.longest, sent_time)

    def merge(self, other: "NameAgg") -> None:
        self.n_views += other.n_views
        if other.clip is not None:
            self.clip = other.clip if self.clip is None else max(self.clip, other.clip)
        self.sent_sum += other.sent_sum
        self.sent_n += other.sent_n
        if other.longest is not None:
            self.longest = other.longest if self.longest is None else max(self.longest, other.longest)


@dataclass
class CycleExpect:
    """What one cron cycle must report, and what it added."""

    real: dict[str, int]
    web: dict[str, int]
    new_log_bytes: int
    new_lines: int


@dataclass
class LogStream:
    """Rotated log files for a sequence of cron cycles, plus the loader model."""

    seed: int
    log_dir: str
    real_lines: int
    web_lines: int
    cycle: int = 0
    wm_real: int | None = None
    wm_web: int | None = None
    # report partials per loaded file name (internal 192.168.* IPs excluded,
    # as the report excludes them)
    by_name: dict[str, NameAgg] = field(default_factory=dict)
    loaded_rows: int = 0
    _prev_bad: tuple[int, int] = (0, 0)

    def __post_init__(self) -> None:
        os.makedirs(self.log_dir, exist_ok=True)

    # -- line builders -----------------------------------------------------

    @staticmethod
    def _ip(rng: random.Random) -> str:
        if rng.random() < 0.1:
            return f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}"
        return f"10.{rng.randrange(4)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"

    @staticmethod
    def _real_name(rng: random.Random) -> str:
        fam = REAL_FAMILIES[min(int(rng.paretovariate(1.2)) - 1, len(REAL_FAMILIES) - 1)]
        ext = "mov" if rng.random() < 0.12 else "rm"
        return f"{fam}_{min(int(rng.paretovariate(0.9)), 99):02d}.{ext}"

    def _real_line(self, rng: random.Random, epoch: int) -> tuple[str, tuple]:
        ip = self._ip(rng)
        name = self._real_name(rng)
        file_time = 0 if rng.random() < 0.05 else rng.randrange(30, 5400)
        r = rng.random()
        if r < 0.05:
            sent_time = 0
        elif r < 0.15:
            sent_time = file_time + rng.randrange(1, 300)
        else:
            sent_time = rng.randrange(0, file_time + 1)
        if rng.random() < 0.8:
            info = (f"Win_{rng.choice(('5.0', '5.1', '6.0'))}_6.0.9.{rng.randrange(100, 999)}"
                    f"_play32_RN01_{rng.choice(('EN', 'DE', 'FR'))}_586_0")
        else:
            info = "QT (qtver=6.0;os=Mac OS X)"
        guid = "%08x-%04x-%04x-%04x-%012x" % (
            rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(16),
            rng.getrandbits(16), rng.getrandbits(48))
        stats = []
        n1 = n2 = n3 = 0
        if rng.random() < 0.7:
            stats.append(f"[Stat1: {rng.randrange(100, 5000)} {rng.randrange(10)} {rng.randrange(10)} "
                         f"{rng.randrange(5)} {rng.randrange(5)} audio/x-pn-realaudio]")
            n1 = 1
        if rng.random() < 0.5:
            stats.append(f"[Stat2: {rng.randrange(20000, 90000)} 64000 80000 16000 60000 "
                         f"{rng.randrange(500, 1500)} {rng.randrange(400, 1500)} {rng.randrange(10)} "
                         f"{rng.randrange(1, 9)}.{rng.randrange(10)} 1 {rng.randrange(1, 9)}"
                         f"{' audio/x-pn-realaudio' if rng.random() < 0.5 else ''}]")
            n2 = 1
        if rng.random() < 0.2:
            stats.append(f"[Stat3: {rng.randrange(100)} {rng.randrange(100)} raw]")
            n3 = 1
        if rng.random() < 0.1:
            stats.insert(rng.randrange(len(stats) + 1), "[UNKNOWN]")
        status = rng.choice((200, 200, 200, 304, 404))
        line = (
            f'{ip} - - [{clf_time(epoch)} -0800] "GET /media/{name.split("_")[0]}/{name} RTSP/1.0" '
            f"{status} {rng.randrange(1000, 9_000_000)} [{info}] [{guid}]"
            + "".join(" " + s for s in stats)
            + f" {rng.randrange(10_000, 90_000_000)} {file_time} {sent_time} "
            f"{rng.randrange(20)} {rng.randrange(5)} {rng.randrange(1, 500)}"
        )
        return line, (ip, name, file_time, sent_time, n1, n2, n3)

    def _web_line(self, rng: random.Random, epoch: int, media: bool) -> tuple[str, tuple]:
        ip = self._ip(rng)
        stem, ext = rng.choice(WEB_MEDIA if media else WEB_OTHER)
        name = f"{stem}_{rng.randrange(20):02d}.{ext}"
        ua = rng.choice(("Mozilla/4.0 (compatible; Windows Media Player 7.1)",
                         "NSPlayer/9.0.0.2980", "Mozilla/5.0 (X11; Linux)"))
        line = (f'{ip} - - [{clf_time(epoch)} -0800] "GET /web/{stem}/{name} HTTP/1.1" '
                f'{rng.choice((200, 304))} {rng.randrange(100, 900_000)} "-" "{ua}"')
        return line, (ip, name, None, None, 0, 0, 0)

    @staticmethod
    def _malformed(rng: random.Random, line: str) -> str:
        if rng.random() < 0.5:  # unparseable timestamp
            return re.sub(r"\[[^\]]*\]", "[31/Foo/2002:25:61:61 -0800]", line, count=1)
        cut = line.index("[") + rng.randrange(1, 12)  # truncated before the ']'
        return line[:cut]

    # -- one cycle ---------------------------------------------------------

    def _file(self, rng: random.Random, n: int, wm: int | None, web: bool):
        """Lines of one rotated file.  Returns (text, loaded rows, bad count,
        max loaded epoch)."""
        lo = T0 + self.cycle * CYCLE_SECONDS
        epochs = sorted(rng.randrange(lo, lo + CYCLE_SECONDS) for _ in range(n))
        out: list[str] = []
        rows: list[tuple] = []
        n_bad = 0
        hi = None
        for ep in epochs:
            media = (not web) or rng.random() < 0.75
            line, row = (self._web_line(rng, ep, media) if web else self._real_line(rng, ep))
            r = rng.random()
            if r < 0.03:
                bad = self._malformed(rng, line)
                out.append(bad)
                # the web loader keeps only .wma/.wmv lines, before its quarantine
                n_bad += (not web) or bool(_WEB_MEDIA_RE.search(bad))
                continue
            out.append(line)
            if media:
                rows.append(row)
                hi = ep if hi is None else max(hi, ep)
        if wm is not None:
            # planted lines the strict '>' watermark must drop: ties and late
            for k in range(max(2, n // 50)):
                ep = wm if k % 2 == 0 else wm - rng.randrange(1, CYCLE_SECONDS)
                media = True
                line, _ = (self._web_line(rng, ep, media) if web else self._real_line(rng, ep))
                out.insert(rng.randrange(len(out) + 1), line)
        return "\n".join(out) + "\n", rows, n_bad, hi

    def next_cycle(self) -> CycleExpect:
        """Write this cycle's two files; return the counts the loads must report."""
        rng = random.Random(f"{self.seed}:logs:{self.cycle}")
        real_text, real_rows, real_bad, real_hi = self._file(rng, self.real_lines, self.wm_real, False)
        web_text, web_rows, web_bad, web_hi = self._file(rng, self.web_lines, self.wm_web, True)
        n = self.cycle + 1
        new_bytes = 0
        for name, text in ((f"rmaccess.log.{n}", real_text), (f"log.{n}", web_text)):
            data = text.encode()
            with open(os.path.join(self.log_dir, name), "wb") as fh:
                fh.write(data)
            new_bytes += len(data)
        prev_real_bad, prev_web_bad = self._prev_bad
        real = {t: len(real_rows) for t in ACCESS_TABLES}
        real["stats_mask1"] = sum(r[4] for r in real_rows)
        real["stats_mask2"] = sum(r[5] for r in real_rows)
        real["stats_mask3"] = sum(r[6] for r in real_rows)
        # latest=2 re-reads the previous file, so its bad lines quarantine again
        real["quarantine"] = real_bad + prev_real_bad
        web = {t: len(web_rows) for t in WEB_TABLES}
        web["quarantine"] = web_bad + prev_web_bad
        self._prev_bad = (real_bad, web_bad)
        self.wm_real = real_hi if self.wm_real is None else max(self.wm_real, real_hi)
        self.wm_web = web_hi if self.wm_web is None else max(self.wm_web, web_hi)
        for ip, name, ft, st, *_ in itertools.chain(real_rows, web_rows):
            if not ip.startswith("192.168."):
                self.by_name.setdefault(name, NameAgg()).add(ft, st)
        self.loaded_rows += len(real_rows) + len(web_rows)
        self.cycle += 1
        return CycleExpect(real, web, new_bytes,
                           len(real_text.splitlines()) + len(web_text.splitlines()))


# ---------------------------------------------------------------------------
# reporting dims
# ---------------------------------------------------------------------------

_F9 = re.compile(r"\.(wmv|wma|mov)")


def _pattern_pool() -> list[str]:
    pool = []
    for fam in REAL_FAMILIES:
        pool.append(f"{fam}_%")
        pool += [f"{fam}_{d}%" for d in range(4)]
        pool.append(f"{fam}_0_.rm")
    pool += ["%.mov", "%_01.%", "%.wmv", "song_%", "intro_1_.wmv", "talk_%"]
    return pool


@dataclass
class ReportDims:
    """customers / project / project_file rows plus the report oracle."""

    customers: list[tuple[int, str, str]]
    projects: list[tuple[int, int, str]]
    project_files: list[tuple[int, str]]

    @classmethod
    def generate(cls, seed: int, n_customers: int) -> "ReportDims":
        rng = random.Random(f"{seed}:dims")
        pool = _pattern_pool()
        customers, projects, pfiles = [], [], []
        pid = 0
        for cid in range(1, n_customers + 1):
            hosting = "No" if rng.random() < 0.15 else "Yes"
            customers.append((cid, f"Company {cid:03d}", hosting))
            for _ in range(rng.randrange(1, 4)):
                pid += 1
                projects.append((pid, cid, f"project {pid}"))
                for pat in rng.sample(pool, rng.randrange(1, 4)):
                    pfiles.append((pid, pat))
        return cls(customers, projects, pfiles)

    def write(self, out_dir: str) -> dict[str, str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        paths = {}
        tables = {
            "customers": pa.table({
                "id": pa.array([c[0] for c in self.customers], pa.int64()),
                "company_name": [c[1] for c in self.customers],
                "hosting": [c[2] for c in self.customers],
            }),
            "project": pa.table({
                "project_id": pa.array([p[0] for p in self.projects], pa.int64()),
                "customer_id": pa.array([p[1] for p in self.projects], pa.int64()),
                "project_name": [p[2] for p in self.projects],
            }),
            "project_file": pa.table({
                "project_id": pa.array([p[0] for p in self.project_files], pa.int64()),
                "pattern": [p[1] for p in self.project_files],
            }),
        }
        os.makedirs(out_dir, exist_ok=True)
        for name, table in tables.items():
            paths[name] = os.path.join(out_dir, f"{name}.parquet")
            pq.write_table(table, paths[name])
        return paths

    def request_subsets(self, seed: int, n: int, size: int) -> list[tuple[int, ...]]:
        """``n`` distinct seeded customer subsets, each with at least one
        reportable row (hosting customer with a project)."""
        rng = random.Random(f"{seed}:requests")
        ids = [c[0] for c in self.customers]
        seen: set[tuple[int, ...]] = set()
        out = []
        while len(out) < n:
            sub = tuple(sorted(rng.sample(ids, size)))
            if sub not in seen:
                seen.add(sub)
                out.append(sub)
        return out

    def report_rows(self, by_name: dict[str, NameAgg], subset: tuple[int, ...]) -> set[tuple]:
        """``pull_report`` rows for the customers in ``subset``."""
        names = list(by_name)
        per_pattern: dict[str, NameAgg | None] = {}
        wanted = set(subset)
        company = {c[0]: c[1] for c in self.customers if c[2] == "Yes" and c[0] in wanted}
        proj_owner = {p[0]: p[1] for p in self.projects if p[1] in company}
        rows = set()
        for pid, pat in self.project_files:
            cid = proj_owner.get(pid)
            if cid is None:
                continue
            if pat not in per_pattern:
                rx = like_regex(pat)
                agg = None
                for nm in names:
                    if rx.fullmatch(nm):
                        agg = agg or NameAgg()
                        agg.merge(by_name[nm])
                per_pattern[pat] = agg
            agg = per_pattern[pat]
            if agg is None or agg.n_views == 0:
                continue
            if _F9.search(pat):
                clip = avg = longest = "N/A"
            else:
                avg_s = (2 * agg.sent_sum + agg.sent_n) // (2 * agg.sent_n) if agg.sent_n else None
                clip = duration_hms(agg.clip) or "N/A"
                avg = duration_hms(avg_s) or "N/A"
                longest = duration_hms(agg.longest) or "N/A"
            rows.add((cid, pid, pat, company[cid], agg.n_views, clip, avg, longest))
        return rows


# ---------------------------------------------------------------------------
# corpus for the curation workload
# ---------------------------------------------------------------------------

_STOP = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "on"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "fr": ("le", "de", "la", "et", "les", "des", "en", "un", "du", "une"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
}
_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "po", "si", "ve", "da", "go", "fu",
        "ba", "ri", "zo", "me", "xa", "qui", "ter", "son", "lan", "dor", "mis", "pel")


@dataclass
class CorpusTruth:
    docs: int
    corpus_bytes: int
    # planted pairs whose word-shingle sets (case-sensitive, whitespace-
    # split) are equal or nearly so: what MinHash dedup must cluster
    minhash_pairs: list[tuple[int, int]]
    # per document, its planted family: docs MinHash may put in one cluster
    # (a base, its case-preserving copies and near-dup edits, or equal
    # shingle sets); docs of different families must stay apart
    dup_family: list[int]
    exact_groups: int                     # planted exact-dup families
    emb_labels: list[int]


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randrange(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int, dim: int = 64) -> CorpusTruth:
    """Write documents.parquet + embeddings.parquet; return planted truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"{seed}:corpus")
    vocab = _vocab(rng, 3000)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(len(vocab))))
    langs = tuple(_STOP)

    def zipf_words(k: int, lang: str) -> list[str]:
        out = []
        for _ in range(k):
            if rng.random() < 0.25:
                out.append(rng.choice(_STOP[lang]))
            else:
                out.append(vocab[bisect.bisect_left(cum, rng.random() * cum[-1])])
        return out

    texts: list[tuple[str, str, str]] = []  # (text, lang, source)
    family: list[int] = []
    minhash_pairs: list[tuple[int, int]] = []
    exact_groups = 0
    while len(texts) < n_docs:
        lang = langs[min(int(rng.paretovariate(1.5)) - 1, len(langs) - 1)]
        source = f"src{rng.randrange(5)}"
        r = rng.random()
        if r < 0.04:  # boilerplate-ish / short junk
            toks = [rng.choice(_STOP[lang])] * rng.randrange(3, 8)
        else:
            toks = zipf_words(rng.randrange(40, 220), lang)
        base_id = len(texts)
        texts.append((" ".join(toks), lang, source))
        family.append(base_id)
        fam = rng.random()
        if fam < 0.06:  # exact-dup family: same text up to case and spacing
            exact_groups += 1
            for _ in range(rng.randrange(1, 4)):
                if len(texts) >= n_docs:
                    break
                variant = " ".join(toks)
                if rng.random() < 0.5:
                    variant = "  " + variant.replace(" ", "  ", 3) + " "
                if rng.random() < 0.5:
                    variant = variant.upper()  # exact dedup lowercases, MinHash does not
                    family.append(-1 - base_id)  # the upper-case copies' own family
                else:
                    minhash_pairs.append((base_id, len(texts)))
                    family.append(base_id)
                texts.append((variant, lang, f"src{rng.randrange(5)}"))
        elif fam < 0.12 and len(toks) >= 80:  # near-dup family: a few token edits
            for _ in range(rng.randrange(1, 3)):
                if len(texts) >= n_docs:
                    break
                edited = list(toks)
                for _ in range(rng.randrange(1, 3)):
                    edited[rng.randrange(len(edited))] = rng.choice(vocab)
                minhash_pairs.append((base_id, len(texts)))
                family.append(base_id)
                texts.append((" ".join(edited), lang, source))

    docs = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": [t[0] for t in texts],
        "lang": [t[1] for t in texts],
        "source": [t[2] for t in texts],
        "n_chars": pa.array([len(t[0]) for t in texts], pa.int64()),
    })

    # the junk docs repeat one stop word: equal shingle sets across bases
    by_shingles: dict[frozenset, int] = {}
    for i, (text, _lang, _src) in enumerate(texts):
        toks = text.split()
        key = frozenset(zip(toks, toks[1:], toks[2:]))
        j = by_shingles.setdefault(key, i)
        if family[j] != family[i]:
            old = family[i]
            family[:] = [family[j] if f == old else f for f in family]

    n_clusters = max(4, n_vecs // 25)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)]
    labels, vectors = [], []
    for _ in range(n_vecs):
        c = rng.randrange(n_clusters)
        v = [x + rng.gauss(0.0, 0.08) for x in centers[c]]
        labels.append(c)
        vectors.append(v)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return CorpusTruth(
        docs=len(texts),
        corpus_bytes=sum(len(t[0].encode()) for t in texts),
        minhash_pairs=minhash_pairs,
        dup_family=family,
        exact_groups=exact_groups,
        emb_labels=labels,
    )

