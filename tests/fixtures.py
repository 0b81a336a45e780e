"""Deterministic domain fixtures mirroring FIXTURES.md — articles,
media, and a Debezium-envelope CDC event log (seed=42, fixed base
timestamp, never wall-clock)."""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

BASE_TS = datetime(2024, 3, 1, 0, 0, 0)
CATEGORIES = ["정치", "경제", "사회", "생활문화", "세계", "IT과학"]
SOURCES = [f"media{i}" for i in range(10)]
KEYWORDS = ["대통령", "경제", "금리", "부동산", "선거", "태풍", "화재", "올림픽", "반도체", "인공지능"]


def make_articles(n: int = 200, seed: int = 42) -> list[dict]:
    rng = random.Random(seed)
    rows = []
    for i in range(1, n + 1):
        published = BASE_TS + timedelta(minutes=rng.randint(0, 60 * 9))
        content_len = 20 if rng.random() < 0.05 else rng.randint(60, 800)
        kws = rng.sample(KEYWORDS, rng.randint(0, 4))
        rows.append(
            {
                "id": i,
                "title": ("속보 " if rng.random() < 0.05 else "") + f"기사 제목 {i} " + " ".join(kws),
                "content": "내용 " * (content_len // 3),
                "link": f"https://news.example/{i}",
                "category_id": rng.randint(1, 6),
                "category": rng.choice(CATEGORIES) if rng.random() > 0.02 else None,
                "source": rng.choice(SOURCES) if rng.random() > 0.05 else None,
                "author": f"기자{i % 7} 기자" if rng.random() > 0.2 else None,
                "published_at": published.isoformat(),
                "stored_date": published.strftime("%Y%m%d"),
                "views_count": int(10 ** (rng.random() * 4.5)),
                "sentiment_score": round(rng.uniform(-1, 1), 3),
                "article_text_length": content_len,
                "keywords": ",".join(kws) if kws and rng.random() > 0.3 else None,
                "created_at": published.isoformat(),
                "updated_at": published.isoformat(),
                "version": 1,
                "is_deleted": rng.random() < 0.05,
            }
        )
    return rows


def make_cdc_events(articles: list[dict], seed: int = 42) -> list[dict]:
    """Ordered Debezium-ish event log: 70% c, 10% r, 12% u, 5% d,
    3% malformed; ~20% bare payload (no wrapper)."""
    rng = random.Random(seed)
    events = []
    for art in articles:
        ts = datetime.fromisoformat(art["published_at"])
        ts_ms = int((ts - datetime(1970, 1, 1)).total_seconds() * 1000)
        roll = rng.random()
        if roll < 0.03:
            events.append({"key": str(art["id"]), "value": "{not json", "kafka_ts": ts.isoformat()})
            continue
        if roll < 0.73:
            op = "c"
        elif roll < 0.83:
            op = "r"
        elif roll < 0.95:
            op = "u"
        else:
            op = "d"
        payload = {
            "op": op,
            "before": art if op in ("u", "d") else None,
            "after": None if op == "d" else art,
            "source": {"table": "articles"},
            "ts_ms": ts_ms,
        }
        envelope = payload if rng.random() < 0.2 else {"payload": payload}
        events.append(
            {"key": str(art["id"]), "value": json.dumps(envelope, ensure_ascii=False),
             "kafka_ts": ts.isoformat()}
        )
    return events


OP_RANK = {"c": 1, "r": 1, "u": 2, "d": 3}


def cdc_events_of(batch) -> list[tuple]:
    """A parsed CDC DataFrame as (op, before, after, ts) tuples."""
    rows = batch.select("op", "before", "after", "ts").collect()
    return [(r.op, r.before and r.before.asDict(), r.after and r.after.asDict(), r.ts) for r in rows]


def replay_cdc(state: dict, events: list[tuple], soft_delete: bool = True) -> dict:
    """Sequential-replay reference for the MERGE sink: apply (op,
    before, after, ts) events one at a time in (ts, op rank) order to
    `state` ({id: row}) with SyncService's rules — c/r/u stores the
    after-image; d flags the stored row is_deleted (soft) or removes it
    (hard), and writes nothing for a key that holds no row."""
    state = dict(state)
    for op, before, after, _ in sorted(events, key=lambda e: (e[3], OP_RANK[e[0]])):
        key = (after or before)["id"]
        if op != "d":
            state[key] = after
        elif not soft_delete:
            state.pop(key, None)
        elif key in state:
            state[key] = dict(state[key], is_deleted=True)
    return state
