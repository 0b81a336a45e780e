"""Seeded Debezium-envelope generator for the stream workloads, and the
pure-Python references the benchmark checks the engine against.

Everything here is deterministic in the seed.  Files are written to a
staging directory and renamed into the watched directory, so the file
source never lists a half-written file.  The engine never sees this
module: it only reads the JSON-lines files.

Event-time model (what the engine's watermark and windows see):

- each published file advances event time by ``FILE_SPAN_MS``, so a
  run crosses several 30-minute windows and the 10-minute watermark
  evicts window state while the query runs;
- a share of events is stamped up to ``MAX_DISORDER_MS`` behind its
  file's time (out of order, but always inside the watermark, so no
  event is dropped as late and the reference needs no lateness rule);
- ``stored_date`` (the replica's partition column) is the article's
  publication day, spread over ``N_DAYS`` days.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import re
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

BASE_MS = int(datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp() * 1000)
FILE_SPAN_MS = 90_000
MAX_DISORDER_MS = 240_000
WINDOW_MS = 30 * 60_000
MIN_MENTIONS = 10
N_DAYS = 14
MALFORMED = 0.03  # truncated JSON
MEDIA = 0.02  # events for the media table
BARE = 0.4  # payload without the {"payload": ...} wrapper
DISORDER = 0.1  # events stamped up to MAX_DISORDER_MS before their file

CATEGORIES = ["정치", "경제", "사회", "생활문화", "세계", "IT과학"]
SOURCES = [f"media{i}" for i in range(12)]

# Noun syllables.  Final syllables avoid every character a josa suffix
# can end in, so a bare noun survives strip_josa unchanged and the
# keyword counts stay readable; the reference applies the same regex
# chain anyway.
_HEAD = "경정사시기금부교환문과주선외국보의산전통물개인공대학도서"
_TAIL = "제치회장업융동육경화술식거방건료업권률협약책망령행원품폭"
_JOSA = ["을", "를", "이", "가", "은", "는", "에서", "에게", "으로", "와", "의", "도", "까지"]
_FILLER = ["그리고", "하지만", "관련", "최근", "발표했다", "밝혔다", "2024", "AI", "기자", "전했다"]

# Mirrors cdc_pipeline_with_kafka_spark.functions.text (KOREAN_STOPWORDS,
# _JOSA_PATTERNS, is_valid_keyword) so the reference is written against
# the documented semantics, not by calling the engine.
_STOPWORDS = set(
    "그리고 하지만 그러나 따라서 그래서 또한 이를 통해 위해 대해 관련 이번 지난 오늘 "
    "내일 어제 올해 작년 내년 현재 최근 이후 이전 당시 동안 통한 대한 위한 있는 없는 "
    "같은 다른 새로운 기자 뉴스 기사 사진 영상 제공 무단 전재 재배포 금지 저작권 연합뉴스".split()
)
_JOSA_RES = [
    re.compile(p)
    for p in (
        r"(을|를|이|가|은|는|에|에서|에게|한테|께|으로|로|와|과|랑|이랑)$",
        r"(의|도|만|까지|부터|마저|조차|밖에|뿐|라도|라서)$",
        r"(에서|에게|한테서|로부터|으로부터)$",
        r"(다가|면서|지만|거나|든지)$",
    )
]
_HANGUL_RUN = re.compile(r"([가-힣]{2,8})")
_DIGITS = re.compile(r"^\d+$")
_VERB_END = re.compile(r"(하다|되다|있다|없다)$")


def _vocab() -> list[str]:
    words, seen = [], set()
    for i, h in enumerate(_HEAD):
        for j, t in enumerate(_TAIL):
            w = h + t if (i + j) % 3 else h + _HEAD[(i * 7 + j) % len(_HEAD)] + t
            if w not in seen and w not in _STOPWORDS:
                seen.add(w)
                words.append(w)
    return words


VOCAB = _vocab()


def _zipf_cum(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return out


# ---------------------------------------------------------------- reference
def _strip_josa(tok: str) -> str:
    for rx in _JOSA_RES:
        tok = rx.sub("", tok, count=1)
    return tok.strip()


def keywords_of(row: dict) -> list[str]:
    """keyword_stream's keyword list for one after-image: the CSV column
    when non-empty, else validated Hangul nouns of title x3 + content."""
    kw = row.get("keywords")
    if kw:
        return [p.strip() for p in kw.split(",") if p.strip()]
    title, content = row.get("title") or "", (row.get("content") or "")[:1000]
    text = " ".join([title, title, title, content])
    out = []
    for raw in _HANGUL_RUN.findall(text):
        tok = _strip_josa(raw)
        if (
            2 <= len(tok) <= 8
            and not _DIGITS.match(tok)
            and tok not in _STOPWORDS
            and not _VERB_END.search(tok)
        ):
            out.append(tok)
    return out


def passes_quality(row: dict) -> bool:
    title, content = row.get("title"), row.get("content")
    return bool(title) and content is not None and len(content) >= 50


# ---------------------------------------------------------------- generator
@dataclass
class Spec:
    """Shape of one stream workload's input."""

    drain_files: int
    drain_events: int  # per drain file
    paced_files: int
    paced_events: int  # per paced file
    ops: dict[str, float]  # share of c/r/u/d among well-formed article events
    replica_rows: int = 0  # initial replica ('r' snapshot); updates and deletes hit its keys


@dataclass
class Stream:
    """Generated input: file bodies (with a ``@TS@`` placeholder for the
    publication stamp), per-file event counts, and the references."""

    drain: list[str] = field(default_factory=list)
    paced: list[str] = field(default_factory=list)
    drain_counts: list[int] = field(default_factory=list)
    paced_counts: list[int] = field(default_factory=list)
    snapshot: str = ""  # initial replica as 'r' envelopes (the MERGE pass)
    trending: dict[tuple[int, str], int] = field(default_factory=dict)
    replica: dict[int, dict] = field(default_factory=dict)
    n_malformed: int = 0
    n_articles_out: int = 0  # rows after upsert_ops/for_table/after_image
    n_quality: int = 0  # of those, rows quality_filter keeps
    n_keywords: int = 0
    # per file, for the sink metrics: articles-table events applied, and
    # stored_date -> rows the file adds to that replica partition (0 when
    # it only updates or deletes there)
    file_applied: list[int] = field(default_factory=list)
    file_touch: list[dict[str, int]] = field(default_factory=list)
    snapshot_parts: dict[str, int] = field(default_factory=dict)

    @property
    def n_events(self) -> int:
        return sum(self.drain_counts) + sum(self.paced_counts)


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.kw_cum = _zipf_cum(len(VOCAB), 1.05)
        self.next_id = 1

    def _kw(self) -> str:
        return self.rng.choices(VOCAB, cum_weights=self.kw_cum)[0]

    def article(self, day: int, at_ms: int) -> dict:
        rng = self.rng
        aid, self.next_id = self.next_id, self.next_id + 1
        n_title, n_words = rng.randint(2, 4), rng.randint(10, 24)
        kws = rng.choices(VOCAB, cum_weights=self.kw_cum, k=n_title + n_words + 1)
        title_kws = kws[:n_title]
        words = []
        for w in kws[n_title:-1]:
            r = rng.random()  # 20% filler, 40% noun + josa, 40% bare noun
            if r < 0.2:
                words.append(_FILLER[int(r * 5 * len(_FILLER))])
            elif r < 0.6:
                words.append(w + _JOSA[int((r - 0.2) * 2.5 * len(_JOSA))])
            else:
                words.append(w)
        content = " ".join(words)
        if rng.random() < 0.05:
            content = content[:30]  # dropped by quality_filter (< 50 chars)
        day_ms = BASE_MS - (N_DAYS - day) * 86_400_000
        return {
            "id": aid,
            "title": " ".join(title_kws),
            "content": content,
            "link": f"https://news.example/{aid}",
            "category_id": rng.randint(1, 6),
            "category": CATEGORIES[rng.randrange(len(CATEGORIES))],
            "source": SOURCES[rng.randrange(len(SOURCES))],
            "author": f"기자{aid % 7} 기자",
            "published_at": _iso(day_ms + rng.randrange(86_400_000)),
            "stored_date": _day(day_ms),
            "views_count": int(10 ** (rng.random() * 4)),
            "sentiment_score": round(rng.uniform(-1, 1), 3),
            "article_text_length": len(content),
            # 70% carry the comma-joined keywords column; the rest go
            # through regex noun extraction
            "keywords": ",".join(title_kws[::-1] + kws[-1:]) if rng.random() < 0.7 else None,
            "created_at": _iso(at_ms),
            "updated_at": _iso(at_ms),
            "version": 1,
            "is_deleted": False,
        }

    def updated(self, row: dict, at_ms: int) -> dict:
        new = dict(row)
        new["version"] = row["version"] + 1
        new["views_count"] = row["views_count"] + self.rng.randint(1, 500)
        new["title"] = row["title"] + " " + self._kw()
        new["updated_at"] = _iso(at_ms)
        return new


def _iso(ms: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + ".%03d" % (ms % 1000)


def _day(ms: int) -> str:
    return time.strftime("%Y%m%d", time.gmtime(ms // 1000))


def _envelope(op: str, before, after, ts_ms: int, table: str, bare: bool) -> str:
    payload = {
        "op": op,
        "before": before,
        "after": after,
        "source": {"table": table, "db": "news", "lsn": ts_ms},
        "ts_ms": ts_ms,
    }
    return json.dumps(payload if bare else {"payload": payload}, ensure_ascii=False)


def _line(key: str, value: str) -> str:
    # kafka_ts is filled in at publication (see publish)
    return json.dumps({"key": key, "value": value}, ensure_ascii=False)[:-1] + ', "kafka_ts": "@TS@"}\n'


def generate(spec: Spec, seed: int) -> Stream:
    """Generate every file of one run up front (outside any timed region)
    together with the references for the events that will be processed."""
    g = _Gen(seed)
    rng = g.rng
    out = Stream()
    live: dict[int, dict] = {}  # replica reference: id -> row (incl. is_deleted)
    deleted: set[int] = set()
    last_ts: dict[int, int] = {}

    if spec.replica_rows:
        lines = []
        for _ in range(spec.replica_rows):
            row = g.article(rng.randrange(N_DAYS), BASE_MS - 3_600_000)
            live[row["id"]] = row
            last_ts[row["id"]] = BASE_MS - 3_600_000
            out.snapshot_parts[row["stored_date"]] = out.snapshot_parts.get(row["stored_date"], 0) + 1
            lines.append(_line(str(row["id"]), _envelope("r", None, row, BASE_MS - 3_600_000, "articles", False)))
        out.snapshot = "".join(lines)
    hot = list(live)
    hot_cum = _zipf_cum(len(hot), 1.1) if hot else []
    ops = list(spec.ops)
    op_cum = []
    acc = 0.0
    for k in ops:
        acc += spec.ops[k]
        op_cum.append(acc)

    def one_file(n: int, file_no: int) -> str:
        file_ms = BASE_MS + file_no * FILE_SPAN_MS
        lines = []
        touch: dict[str, int] = {}
        applied = 0
        for _ in range(n):
            roll = rng.random()
            ts = file_ms + rng.randint(0, FILE_SPAN_MS - 1)
            if rng.random() < DISORDER:
                ts = file_ms - rng.randint(1, MAX_DISORDER_MS)
            if roll < MALFORMED:
                good = _envelope("c", None, g.article(N_DAYS - 1, ts), ts, "articles", False)
                lines.append(_line("bad", good[: len(good) // 2]))
                out.n_malformed += 1
                continue
            if roll < MALFORMED + MEDIA:
                media = {"id": rng.randint(1, 10**6), "article_id": rng.randint(1, 10**6),
                         "stored_date": _day(ts), "type": "image", "url": "https://img.example/x.jpg"}
                lines.append(_line("m", _envelope("c", None, media, ts, "media", rng.random() < BARE)))
                continue
            op = ops[bisect.bisect_left(op_cum, rng.random() * op_cum[-1])]
            key = None
            if op in ("u", "d"):
                if hot:  # Zipf-skewed changes to the initial replica's keys
                    key = hot[bisect.bisect_left(hot_cum, rng.random() * hot_cum[-1])]
                if key is None or key in deleted:
                    op, key = "c", None
            if key is None:
                row = g.article(rng.randrange(N_DAYS), ts)
                before, after = None, row
                key = row["id"]
            else:
                ts = max(ts, last_ts[key] + 1)  # per-key event time strictly increases
                before = live[key]
                after = None if op == "d" else g.updated(before, ts)
            last_ts[key] = ts
            applied += 1
            part = (before or after)["stored_date"]
            touch[part] = touch.get(part, 0) + (before is None)
            if op == "d":
                deleted.add(key)
                live[key] = dict(before, is_deleted=True)
            else:
                live[key] = after
                out.n_articles_out += 1
                if passes_quality(after):
                    out.n_quality += 1
                    kws = keywords_of(after)
                    out.n_keywords += len(kws)
                    w = ts - ts % WINDOW_MS
                    for kw in kws:
                        out.trending[(w, kw)] = out.trending.get((w, kw), 0) + 1
            lines.append(_line(str(key), _envelope(op, before, after, ts, "articles", rng.random() < BARE)))
        out.file_applied.append(applied)
        out.file_touch.append(touch)
        return "".join(lines)

    file_no = 0
    for _ in range(spec.drain_files):
        out.drain.append(one_file(spec.drain_events, file_no))
        out.drain_counts.append(spec.drain_events)
        file_no += 1
    for _ in range(spec.paced_files):
        out.paced.append(one_file(spec.paced_events, file_no))
        out.paced_counts.append(spec.paced_events)
        file_no += 1
    out.trending = {k: v for k, v in out.trending.items() if v >= MIN_MENTIONS}
    out.replica = live
    return out


def publish(body: str, stamp_ms: int, staging: str, watched: str, name: str, mtime_ms: int | None = None) -> None:
    """Write one file outside the watched directory, then rename it in
    (atomic on one filesystem), stamping kafka_ts with ``stamp_ms``.

    The file source reads files in modification-time order at millisecond
    resolution, so a backlog published at once passes ``mtime_ms`` values
    one millisecond apart to keep publication order."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(body.replace("@TS@", _iso(stamp_ms)))
    if mtime_ms is not None:
        os.utime(tmp, ns=(mtime_ms * 1_000_000, mtime_ms * 1_000_000))
    os.rename(tmp, os.path.join(watched, name))
