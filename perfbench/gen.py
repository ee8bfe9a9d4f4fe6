"""Seeded input generators for the benchmark workloads.

Everything here is plain Python plus pyarrow: no Spark, no import of the
program under test. The same seed always yields byte-identical inputs,
and every generator also returns the ground truth the output checks
need (planted labels, planted duplicates) and the input properties each
run records (document count, token-length quantiles, planted shares).

Words are synthetic consonant-vowel strings ending in ``q``, so they
never collide with an English word of the sentiment lexicon, the
emotion cues or the stopword list; the only lexicon words in a text are
the ones planted on purpose.
"""

from __future__ import annotations

import math
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bdfgklmnprstvz"
VOWELS = "aeiou"

# Planted sentiment words: members of the program's valence lexicon with
# the listed sign (checked by the benchmark's own tests).
POSITIVE_WORDS = ("great", "success", "hope", "progress", "wonderful", "celebrate", "benefit")
NEGATIVE_WORDS = ("crisis", "disaster", "failure", "terrible", "conflict", "damage", "collapse")

NEWS_TOPICS = 8
NEWS_START_DAY = 1  # articles are dated 2024-03-01 .. 2024-03-14
NEWS_DAYS = 14


def synth_words(rng: random.Random, n: int, min_syll: int = 2, max_syll: int = 4) -> list[str]:
    """``n`` distinct synthetic words, in generation order."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(
            rng.choice(CONSONANTS) + rng.choice(VOWELS)
            for _ in range(rng.randint(min_syll, max_syll))
        ) + "q"
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Zipf:
    """Sampler over ``words`` with weight 1/rank**s."""

    def __init__(self, words: list[str], s: float):
        self.words = words
        acc, self.cum = 0.0, []
        for r in range(1, len(words) + 1):
            acc += 1.0 / r**s
            self.cum.append(acc)

    def sample(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.words, cum_weights=self.cum, k=k)


def lognormal_lengths(rng: random.Random, n: int, median: float, sigma: float,
                      lo: int, hi: int) -> list[int]:
    """``n`` lengths at the evenly spaced quantiles of a lognormal, in a
    seeded order: every seed gets the same length profile (so the same
    cost profile), and the seed decides which document gets which."""
    norm = statistics.NormalDist(0.0, sigma)
    out = [max(lo, min(hi, round(median * math.exp(norm.inv_cdf((i + 0.5) / n)))))
           for i in range(n)]
    rng.shuffle(out)
    return out


def kinds(rng: random.Random, n: int, shares: dict[str, float], rest: str) -> list[str]:
    """Exactly ``round(share * n)`` of each kind, ``rest`` for the others,
    in a seeded order."""
    out: list[str] = []
    for kind, share in shares.items():
        out += [kind] * round(share * n)
    out += [rest] * (n - len(out))
    rng.shuffle(out)
    return out


def quantiles(values: list[int]) -> dict[str, float]:
    """p10/p50/p90/p99/max of a list of token counts."""
    s = sorted(values)

    def q(p: float) -> float:
        return float(s[min(len(s) - 1, int(p * len(s)))])

    return {"p10": q(0.10), "p50": q(0.50), "p90": q(0.90), "p99": q(0.99), "max": float(s[-1])}


def write_parquet(path: str, columns: dict[str, list], schema: pa.Schema) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)


# --------------------------------------------------------------------------
# news_batch: BBC-shaped article pages plus a sitemap


def _article_html(title: str | None, date: str, subtitle: str, words: list[str]) -> str:
    paras = "".join(
        f"<p>{' '.join(words[i:i + 14])}</p>" for i in range(0, len(words), 14)
    )
    head = f'<h1 data-testid="headline">{title}</h1>' if title is not None else ""
    return (
        f"<html><body><article>{head}"
        f'<p class="sub-headline">{subtitle}</p>'
        f'<time datetime="{date}">{date[:10]}</time>'
        f'<span class="byline-name">Staff reporter</span>'
        f'<a class="topic-link" href="/news/topics/t">Topic</a>'
        f"{paras}</article></body></html>"
    )


def news_inputs(seed: int, n_articles: int) -> dict:
    """Article pages, one sitemap document, and the expected outcome.

    Each article draws ~40% of its words from one of ``NEWS_TOPICS``
    topic vocabularies and the rest from a shared Zipf vocabulary.
    A third are planted positive, a third negative (five to eight
    lexicon words of one sign) and a third neutral. Some pages are
    invalid on purpose: no headline (dropped by extraction) or a body
    of at most 50 words (dropped by preparation). The sitemap also
    lists news pages that are not articles and non-news pages, which
    link discovery and the crawl filter must drop.
    """
    rng = random.Random(f"news-{seed}")
    common = Zipf(synth_words(rng, 3000), 1.0)
    topic_vocab = [synth_words(rng, 60, 3, 4) for _ in range(NEWS_TOPICS)]
    page_kinds = kinds(rng, n_articles, {"short": 0.03, "no_title": 0.03}, "valid")
    lengths = iter(lognormal_lengths(rng, n_articles, 260, 0.35, 80, 900))

    pages_url, pages_html, labels, valid_lengths = [], [], {}, []
    entries: list[str] = []
    for i, kind in enumerate(page_kinds):
        url = f"https://www.bbc.com/news/articles/c{seed % 997:03d}{i:07d}o"
        day = NEWS_START_DAY + rng.randrange(NEWS_DAYS)
        date = f"2024-03-{day:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00.000Z"
        # a short body fails preparation's n_words > 50 filter
        n_words = rng.randint(10, 45) if kind == "short" else next(lengths)
        topic = rng.randrange(NEWS_TOPICS)
        n_topic = int(0.4 * n_words)
        words = rng.choices(topic_vocab[topic], k=n_topic) + common.sample(rng, n_words - n_topic)
        label = ("positive", "negative", "neutral")[i % 3]
        if label != "neutral" and kind != "short":
            pool = POSITIVE_WORDS if label == "positive" else NEGATIVE_WORDS
            for _ in range(rng.randint(5, 8)):
                words[rng.randrange(len(words))] = rng.choice(pool)
        title = None if kind == "no_title" else f"Headline {i}"
        pages_url.append(url)
        pages_html.append(_article_html(title, date, f"Summary {i}", words))
        entries.append(f"<url><loc>{url}</loc><lastmod>{date}</lastmod></url>")
        if kind == "valid":
            labels[url] = label
            valid_lengths.append(n_words)
    n_no_title, n_short = page_kinds.count("no_title"), page_kinds.count("short")
    n_live = n_articles // 20
    for j in range(n_live):
        entries.append(f"<url><loc>https://www.bbc.com/news/live/l{j:07d}</loc></url>")
    for j in range(n_articles // 20):
        entries.append(f"<url><loc>https://www.bbc.com/sport/s{j:07d}</loc></url>")
    rng.shuffle(entries)
    return {
        "sitemap_xml": "<urlset>" + "".join(entries) + "</urlset>",
        "pages": {"url": pages_url, "html": pages_html},
        "expect": {
            "discover_links": n_articles + n_live,
            "crawl_articles": n_articles - n_no_title,
            "prepare": n_articles - n_no_title - n_short,
            "labels": labels,
        },
        "props": {
            "docs": n_articles,
            "valid_docs": len(labels),
            "topics": NEWS_TOPICS,
            "token_len": quantiles(valid_lengths),
            "no_title_share": round(n_no_title / n_articles, 4),
            "short_share": round(n_short / n_articles, 4),
        },
    }


def write_news(inputs: dict, root: str) -> dict[str, str]:
    paths = {"sitemap": f"{root}/sitemap.parquet", "pages": f"{root}/pages.parquet"}
    write_parquet(paths["sitemap"], {"xml": [inputs["sitemap_xml"]]},
                  pa.schema([("xml", pa.string())]))
    write_parquet(paths["pages"], inputs["pages"],
                  pa.schema([("url", pa.string()), ("html", pa.string())]))
    return paths


# --------------------------------------------------------------------------
# corpus_dedup: a curation corpus with planted duplicates

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def near_copy(rng: random.Random, words: list[str], vocab: Zipf) -> list[str]:
    """A near-duplicate: one word in ~60 replaced (at least one)."""
    out = list(words)
    for _ in range(max(1, len(out) // 60)):
        out[rng.randrange(len(out))] = vocab.sample(rng, 1)[0]
    return out


def corpus_inputs(seed: int, n_docs: int) -> dict:
    """Documents over a 40k-word Zipf vocabulary with news-like lengths
    (lognormal, median 165 tokens, long tail up to 1,200).

    The first tenth are fresh documents (and 4% spam), so that copies
    have originals to point at; of the rest, 9% are exact copies and
    11% near copies of a random earlier fresh document, and 4% are
    low-quality spam (a four-word phrase repeated) for the gate to drop.
    """
    rng = random.Random(f"corpus-{seed}")
    vocab = Zipf(synth_words(rng, 40_000, 2, 4), 0.9)
    head = n_docs // 10
    doc_kinds = kinds(rng, head, {"spam": 0.04}, "fresh") + kinds(
        rng, n_docs - head, {"exact": 0.09, "near": 0.11, "spam": 0.04}, "fresh")
    fresh_lengths = iter(lognormal_lengths(rng, doc_kinds.count("fresh"), 165, 0.55, 30, 1200))
    originals: list[tuple[int, list[str]]] = []
    texts, lengths = [], []
    exact: dict[int, int] = {}
    near: dict[int, int] = {}
    spam: list[int] = []
    for doc_id, kind in enumerate(doc_kinds):
        if kind == "exact":
            exact[doc_id], words = rng.choice(originals)
        elif kind == "near":
            near[doc_id], base = rng.choice(originals)
            words = near_copy(rng, base, vocab)
        elif kind == "spam":
            words = vocab.sample(rng, 4) * rng.randint(10, 40)
            spam.append(doc_id)
        else:
            words = vocab.sample(rng, next(fresh_lengths))
            originals.append((doc_id, words))
        texts.append(" ".join(words))
        lengths.append(len(words))
    return {
        "docs": {"doc_id": list(range(n_docs)), "text": texts},
        "truth": {"exact": exact, "near": near, "spam": spam},
        "props": {
            "docs": n_docs,
            "token_len": quantiles(lengths),
            "exact_dup_share": round(len(exact) / n_docs, 4),
            "near_dup_share": round(len(near) / n_docs, 4),
            "spam_share": round(len(spam) / n_docs, 4),
        },
    }
