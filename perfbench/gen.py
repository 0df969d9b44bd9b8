"""Seeded input generators for the benchmark workloads.

Everything here runs outside the program under test: inputs are written
with pyarrow, and the program only ever sees the resulting paths.  The
same seed always gives the same files (content and layout), so two runs
of one seed measure identical work.  Sizes do not depend on the seed;
only the content does, so different seeds measure comparable work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START_DAY = dt.date(2024, 1, 1)
EVENT_TYPES = ["view", "click", "cart", "buy", "share"]
#: region -> rows per events partition (skewed on purpose: 6 : 2.5 : 1)
REGION_ROWS = {"na": 1800, "eu": 750, "ap": 300}
N_USERS = 20_000
ZIPF_A = 1.3


def day_str(i: int) -> str:
    return (START_DAY + dt.timedelta(days=i)).strftime("%Y-%m-%d")


def _events_table(rng: np.random.Generator, n: int, day_index: int, id_base: int) -> pa.Table:
    users = np.minimum(rng.zipf(ZIPF_A, n), N_USERS).astype(np.int64)
    day0 = dt.datetime.combine(START_DAY, dt.time(), tzinfo=dt.timezone.utc)
    base_us = int(day0.timestamp() * 1_000_000) + day_index * 86_400_000_000
    ts = base_us + np.sort(rng.integers(0, 86_400_000_000, n))
    etype = rng.choice(len(EVENT_TYPES), n, p=[0.5, 0.25, 0.12, 0.08, 0.05])
    return pa.table(
        {
            "event_id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64)),
            "user_id": pa.array(users),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype], type=pa.string()),
            "amount": pa.array(rng.integers(1, 10_000, n, dtype=np.int64)),
        }
    )


def write_events(root: str, seed: int, n_days: int) -> dict:
    """Write ``root/{region}/{day}/part-00000.parquet`` and a
    ``_SUCCESS`` marker for every region and day.  Returns the input
    properties."""
    rng = np.random.default_rng(seed)
    rows = 0
    id_base = 0
    per_region: dict[str, int] = {}
    for d in range(n_days):
        for region, n in REGION_ROWS.items():
            path = os.path.join(root, region, day_str(d))
            os.makedirs(path, exist_ok=True)
            pq.write_table(_events_table(rng, n, d, id_base), os.path.join(path, "part-00000.parquet"))
            open(os.path.join(path, "_SUCCESS"), "w").close()
            id_base += n
            rows += n
            per_region[region] = per_region.get(region, 0) + n
    return {
        "rows": rows,
        "partitions": n_days * len(REGION_ROWS),
        "files_per_partition": 1.0,
        "region_skew": max(per_region.values()) / min(per_region.values()),
        "days": n_days,
        "regions": len(REGION_ROWS),
    }


def delivery_schedule(seed: int, first_day: int, n_days: int, late_every: int = 10) -> tuple[list, float]:
    """Order in which the event partitions of days ``first_day ..
    n_days - 1`` are announced: day by day, region by region, except
    that one partition in every ``late_every`` (at a seeded position in
    each block) lands 1-3 days late.  Stratifying the late partitions
    keeps every stretch of the schedule equally late, so a run's timed
    window does not depend on where the seed happened to cluster them.
    Returns ``([(region, day_index), ...], late share)``."""
    rng = np.random.default_rng(seed + 1)
    parts = [(d, r_i, region) for d in range(first_day, n_days) for r_i, region in enumerate(REGION_ROWS)]
    keyed = []
    late = 0
    for block in range(0, len(parts), late_every):
        chosen = block + int(rng.integers(0, late_every))
        for i in range(block, min(block + late_every, len(parts))):
            d, r_i, region = parts[i]
            delay = 1 + late % 3 if i == chosen else 0
            late += i == chosen
            keyed.append((d + delay, d, r_i, region))
    keyed.sort()
    return [(region, d) for _, d, _, region in keyed], late / len(keyed)


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------
#: stop words the engine's language gate scores (operators.text_analysis)
STOP_WORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
}
LANG_MIX = {"en": 0.7, "es": 0.1, "fr": 0.1, "de": 0.1}
#: low-quality kinds: short + punctuation-heavy, and repetitive
QUALITY_MIX = {"good": 0.8, "short": 0.1, "repetitive": 0.1}
SOURCE_MIX = {"web": 0.55, "news": 0.2, "books": 0.15, "forum": 0.1}
EXACT_WITHIN = 0.06
EXACT_ACROSS = 0.04
NEAR_DUP = 0.06
_SYLLABLES = ["ka", "lo", "mi", "ser", "tan", "vor", "qui", "ble", "dra", "nox", "pel", "ru", "zin", "ta", "gor", "vel"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), k)))
    return sorted(words)


def _doc_text(rng: np.random.Generator, vocab: list[str], lang: str, quality: str) -> str:
    stops = STOP_WORDS[lang]
    if quality == "short":
        n = int(rng.integers(8, 16))
        words = [vocab[int(i)] + "!?;" for i in rng.integers(0, len(vocab), n)]
        return " ".join(words)
    n = int(rng.integers(90, 160))
    if quality == "repetitive":
        pool = [vocab[int(i)] for i in rng.integers(0, len(vocab), 6)] + stops[:3]
        return " ".join(pool[int(i)] for i in rng.integers(0, len(pool), n))
    content = rng.zipf(1.2, n) % len(vocab)
    is_stop = rng.random(n) < 0.25
    stop_pick = rng.integers(0, len(stops), n)
    words = [stops[int(s)] if st else vocab[int(c)] for c, st, s in zip(content, is_stop, stop_pick)]
    # sentence punctuation keeps the punctuation ratio realistic but low
    for i in range(12, n, 15):
        words[i] += "."
    return " ".join(words)


def _near_copy(rng: np.random.Generator, vocab: list[str], text: str) -> str:
    words = text.split(" ")
    for i in rng.choice(len(words), size=max(1, len(words) // 40), replace=False):
        words[int(i)] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(words)


def write_documents(root: str, seed: int, n_snapshots: int, docs_per_snapshot: int) -> dict:
    """Write ``root/{snapshot_day}/part-00000.parquet`` document
    snapshots (doc_id, text, source, snapshot) with the stated shares of
    exact duplicates (within and across snapshots), near duplicates,
    languages and quality kinds.  Returns the input properties."""
    rng = np.random.default_rng(seed + 3)
    vocab = _vocab(rng, 3000)
    langs, lang_p = list(LANG_MIX), list(LANG_MIX.values())
    quals, qual_p = list(QUALITY_MIX), list(QUALITY_MIX.values())
    sources, source_p = list(SOURCE_MIX), list(SOURCE_MIX.values())
    counts = {"exact_within": 0, "exact_across": 0, "near": 0}
    all_texts: list[str] = []
    doc_id = 0
    for s in range(n_snapshots):
        texts: list[str] = []
        for _ in range(docs_per_snapshot):
            r = rng.random()
            if texts and r < EXACT_WITHIN:
                t = texts[int(rng.integers(0, len(texts)))].upper()
                counts["exact_within"] += 1
            elif all_texts and r < EXACT_WITHIN + EXACT_ACROSS:
                t = "  " + all_texts[int(rng.integers(0, len(all_texts)))]
                counts["exact_across"] += 1
            elif texts and r < EXACT_WITHIN + EXACT_ACROSS + NEAR_DUP:
                t = _near_copy(rng, vocab, texts[int(rng.integers(0, len(texts)))])
                counts["near"] += 1
            else:
                lang = langs[int(rng.choice(len(langs), p=lang_p))]
                qual = quals[int(rng.choice(len(quals), p=qual_p))]
                t = _doc_text(rng, vocab, lang, qual)
            texts.append(t)
        n = len(texts)
        src = rng.choice(len(sources), n, p=source_p)
        path = os.path.join(root, day_str(s))
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(doc_id + 1, doc_id + n + 1, dtype=np.int64)),
                    "text": pa.array(texts, type=pa.string()),
                    "source": pa.array([sources[int(i)] for i in src], type=pa.string()),
                    "snapshot": pa.array([day_str(s)] * n, type=pa.string()),
                }
            ),
            os.path.join(path, "part-00000.parquet"),
        )
        open(os.path.join(path, "_SUCCESS"), "w").close()
        doc_id += n
        all_texts.extend(texts)
    total = n_snapshots * docs_per_snapshot
    return {
        "rows": total,
        "partitions": n_snapshots,
        "files_per_partition": 1.0,
        "exact_dup_within_share": counts["exact_within"] / total,
        "exact_dup_across_share": counts["exact_across"] / total,
        "near_dup_share": counts["near"] / total,
        "lang_mix": LANG_MIX,
        "quality_mix": QUALITY_MIX,
    }
