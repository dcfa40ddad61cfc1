"""Seeded input generator shared by every perfbench workload.

One seed fixes every input byte: the daily news drops behind the
serving table (re-crawls of earlier URLs with changed comments and
keywords, plus a small share of dirty rows the silver row gate drops)
and the near-duplicate document chains of the curation corpus. The
engine only ever sees the files and frames made here; the generator
also keeps what the output checks' models are built from.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random

TOPICS = {
    "thoi-su": ["chinh-tri", "dan-sinh", "giao-thong"],
    "the-gioi": ["quan-su", "tu-lieu"],
    "kinh-doanh": ["chung-khoan", "bat-dong-san", "vi-mo"],
    "the-thao": ["bong-da", "tennis"],
    "giai-tri": ["phim", "nhac"],
    "khoa-hoc": ["vu-tru", "cong-nghe"],
}
AUTHORS = [f"Author {i:02d}" for i in range(24)]
KEYWORDS = [f"kw{i:03d}" for i in range(80)]
REFERENCES = [f"source-{i:02d}" for i in range(12)]
INTERACTIONS = ["like", "love", "haha", "wow"]
BASE_DAY = dt.date(2025, 1, 1)

#: kinds of dirty bronze row a drop carries; the first two fail the
#: silver row gate, the third is a valid article whose comment
#: interaction map is not JSON (it parses to no interaction rows)
DIRTY_KINDS = ("blank_url", "bad_date", "non_json_interactions")


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("bcdghklmnprstvxy") + rng.choice("aeiou") for _ in range(3))


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add(_word(rng))
    return sorted(words)


def day_key(day: int) -> int:
    """Gold ``PublicationDateKey`` (yyyymmdd) of publication day ``day``."""
    d = BASE_DAY + dt.timedelta(days=day)
    return d.year * 10000 + d.month * 100 + d.day


def article_nk(url: str) -> str:
    """Silver ``ArticleID`` / gold ``Article_NK``: sha2-256 of the trimmed URL."""
    return hashlib.sha256(url.strip().encode()).hexdigest()


def is_valid(row: dict) -> bool:
    """Whether a bronze row passes the silver row gate."""
    return bool(row["url"].strip()) and row["publish_date"] != "not a date"


class NewsGenerator:
    """Bronze article rows, one drop at a time, plus the latest valid
    crawl of every URL (the model the news checks compare against).

    Every drop is a deterministic function of the seed and the drops
    before it, so the same seed and the same sequence of calls give
    byte-identical rows."""

    def __init__(self, seed: int, stream: str):
        self.rng = random.Random(f"{seed}:{stream}")
        self.stream = stream
        self.seed = seed
        self.vocab = _vocabulary(random.Random(f"{seed}:vocab"), 600)
        self.latest: dict[str, dict] = {}  # url -> latest valid bronze row
        self.urls: list[str] = []  # valid urls in first-seen order
        self.next_id = 0

    def _url(self) -> str:
        self.next_id += 1
        return f"https://news.example/{self.stream}/{self.seed}/{self.next_id:07d}"

    def _comments(self) -> list[dict]:
        rng = self.rng
        out = []
        for c in range(rng.randint(0, 4)):
            details = {k: str(rng.randint(0, 40)) for k in rng.sample(INTERACTIONS, rng.randint(1, 3))}
            out.append(
                {
                    "commenter_name": f"reader{rng.randint(0, 999)}",
                    "comment_content": " ".join(rng.choices(self.vocab, k=rng.randint(3, 12))),
                    "total_likes": rng.randint(0, 300),
                    "interaction_details": json.dumps(details, sort_keys=True),
                }
            )
        return out

    def _article(self, url: str, day: int, topic_i: int | None = None) -> dict:
        rng = self.rng
        topics = sorted(TOPICS)
        topic = topics[topic_i % len(topics)] if topic_i is not None else rng.choice(topics)
        subs = TOPICS[topic]
        sub = subs[(topic_i // len(topics)) % len(subs)] if topic_i is not None else rng.choice(subs)
        author = AUTHORS[topic_i % len(AUTHORS)] if topic_i is not None else rng.choice(AUTHORS)
        d = BASE_DAY + dt.timedelta(days=day)
        # +07:00 between 08:00 and 22:59 stays on the same UTC date
        ts = f"{d.isoformat()}T{rng.randint(8, 22):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}+07:00"
        comments = self._comments()
        return {
            "title": " ".join(rng.choices(self.vocab, k=rng.randint(4, 9))).capitalize(),
            "url": url,
            "author": author,
            "topic": topic,
            "sub_topic": sub,
            "publish_date": ts,
            "description": " ".join(rng.choices(self.vocab, k=rng.randint(8, 20))),
            "main_content": " ".join(rng.choices(self.vocab, k=rng.randint(40, 160))),
            "keywords": rng.sample(KEYWORDS, rng.randint(1, 5)),
            "references": rng.sample(REFERENCES, rng.randint(0, 2)),
            "comment_count": len(comments) + rng.randint(0, 60),
            "top_comments": comments,
            "ingested_at": f"{d.isoformat()}T23:00:00",
            "year": d.year,
            "month": d.month,
            "day": d.day,
        }

    def _recrawl(self, old: dict) -> dict:
        """Same URL and publication time; new comments, keywords and
        comment count (the count always changes, so every re-crawl is a
        real row change in gold)."""
        rng = self.rng
        row = dict(old)
        row["top_comments"] = self._comments()
        row["keywords"] = rng.sample(KEYWORDS, rng.randint(1, 5))
        row["comment_count"] = old["comment_count"] + rng.randint(1, 25)
        return row

    def drop(
        self,
        day: int,
        n: int,
        recrawl_share: float = 0.2,
        dirty_share: float = 0.02,
    ) -> list[dict]:
        """One crawl drop landing on ``day``: about ``recrawl_share`` of
        the rows re-crawl earlier URLs and about ``dirty_share`` are
        dirty. New articles publish on ``day``."""
        rng = self.rng
        n_re = min(round(n * recrawl_share), len(self.urls))
        n_dirty = round(n * dirty_share)
        rows = []
        for url in rng.sample(self.urls, n_re):
            rows.append(self._recrawl(self.latest[url]))
        for i in range(n - n_re - n_dirty):
            # the first rows of the first drop cycle through every
            # topic / subtopic / author so each dimension member exists
            cover = i if not self.urls and i < 2 * len(AUTHORS) else None
            rows.append(self._article(self._url(), day, cover))
        for i in range(n_dirty):
            kind = DIRTY_KINDS[i % len(DIRTY_KINDS)]
            row = self._article(self._url(), day)
            if kind == "blank_url":
                row["url"] = "   "
            elif kind == "bad_date":
                row["publish_date"] = "not a date"
            else:
                row["top_comments"] = (row["top_comments"] or self._comments() or [
                    {"commenter_name": "reader0", "comment_content": "hmm",
                     "total_likes": 0, "interaction_details": "{}"}
                ])
                row["top_comments"][0] = dict(row["top_comments"][0], interaction_details="not json")
            rows.append(row)
        rng.shuffle(rows)
        for row in rows:
            if not is_valid(row):
                continue
            url = row["url"].strip()
            if url not in self.latest:
                self.urls.append(url)
            self.latest[url] = row
        return rows


def to_jsonl(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows).encode()


def write_drop(path: str, rows: list[dict]) -> int:
    """Write one drop as a JSON-lines file; returns its size in bytes."""
    data = to_jsonl(rows)
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set of already-normalized text (lowercase words
    joined by single spaces, which is all the corpus ever holds)."""
    ws = text.split(" ")
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def edit_size(n_words: int, threshold: float = 0.8) -> int:
    """Words one chain hop substitutes in an ``n_words`` document: the
    fewest that put two hops (at disjoint positions) clearly below the
    Jaccard threshold, so only parent and child are near duplicates and
    every cluster is a path."""
    s = n_words - 2  # word 3-grams
    return next(k for k in range(1, s) if (s - 6 * k) / (s + 6 * k) < threshold - 0.02)


def corpus(seed: int, n_docs: int, dup_share: float = 0.3, max_hops: int = 10):
    """Curation corpus: ``(docs, planted)``. ``docs`` is a list of
    ``(doc_id, text)``; about ``dup_share`` of them are light edits of
    the tip of an earlier chain. A few chains grow at a time and each
    closes after ``max_hops`` edits. Each hop substitutes ``edit_size``
    words at positions no earlier hop of its chain touched, at least 3
    apart and off the ends, so each substitution changes 3 distinct
    3-grams: a child keeps Jaccard >= 0.82 with its parent and falls
    under 0.78 with its grandparent. Duplicate clusters are therefore
    paths of the same length for every seed. ``planted`` lists every
    (parent, edit) pair."""
    rng = random.Random(f"{seed}:corpus")
    vocab = _vocabulary(random.Random(f"{seed}:corpus-vocab"), 4000)
    docs: list[tuple[int, str]] = []
    planted: list[tuple[int, int]] = []
    open_chains: list[dict] = []
    chained: set[int] = set()
    words_of: dict[int, list[str]] = {}
    for doc_id in range(n_docs):
        if len(docs) > 50 and rng.random() < dup_share:
            while len(open_chains) < 4:
                root = rng.choice([d for d, _ in docs[-50:] if d not in chained])
                n = len(words_of[root])
                slots = list(range(2, n - 2, 3))
                rng.shuffle(slots)
                open_chains.append({"ids": [root], "slots": slots, "k": edit_size(n)})
                chained.add(root)
            chain = rng.choice(open_chains)
            parent = chain["ids"][-1]
            ws = list(words_of[parent])
            for _ in range(chain["k"]):
                pos = chain["slots"].pop()
                ws[pos] = rng.choice([w for w in rng.sample(vocab, 2) if w != ws[pos]])
            chain["ids"].append(doc_id)
            chained.add(doc_id)
            planted.append((parent, doc_id))
            if len(chain["ids"]) > max_hops:
                open_chains.remove(chain)
        else:
            ws = rng.choices(vocab, k=rng.randint(80, 150))
        words_of[doc_id] = ws
        docs.append((doc_id, " ".join(ws)))
    return docs, planted
