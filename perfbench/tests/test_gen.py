"""The seeded generators: same seed, same inputs; planted words carry
the sentiment they are planted for; no accidental lexicon words."""

import random

from perfbench import gen


def test_news_same_seed_same_inputs():
    assert gen.news_inputs(7, 120) == gen.news_inputs(7, 120)


def test_corpus_same_seed_same_inputs():
    assert gen.corpus_inputs(7, 200) == gen.corpus_inputs(7, 200)


def test_different_seeds_differ_but_keep_the_length_profile():
    a, b = gen.corpus_inputs(1, 200), gen.corpus_inputs(2, 200)
    assert a["docs"]["text"] != b["docs"]["text"]
    fresh_a = sorted(len(t.split()) for i, t in enumerate(a["docs"]["text"])
                     if i not in a["truth"]["exact"] and i not in a["truth"]["near"]
                     and i not in a["truth"]["spam"])
    fresh_b = sorted(len(t.split()) for i, t in enumerate(b["docs"]["text"])
                     if i not in b["truth"]["exact"] and i not in b["truth"]["near"]
                     and i not in b["truth"]["spam"])
    assert fresh_a == fresh_b


def test_lognormal_lengths_median_and_bounds():
    lengths = gen.lognormal_lengths(random.Random(0), 1001, 165, 0.55, 30, 1200)
    assert sorted(lengths)[500] == 165
    assert min(lengths) >= 30 and max(lengths) <= 1200


def test_planted_words_have_the_planted_sign():
    from bbc_news_data_pipeline_spark.nlp.sentiment import VALENCE

    assert all(VALENCE[w] > 0 for w in gen.POSITIVE_WORDS)
    assert all(VALENCE[w] < 0 for w in gen.NEGATIVE_WORDS)


def test_synthetic_words_avoid_lexicons_and_stopwords():
    from bbc_news_data_pipeline_spark.nlp.sentiment import EMOTION_CUES, VALENCE
    from bbc_news_data_pipeline_spark.nlp.stopwords import EN_STOPWORDS

    words = set(gen.synth_words(random.Random(3), 40_000, 2, 4))
    assert not words & (set(VALENCE) | set(EMOTION_CUES) | set(EN_STOPWORDS))


def test_news_expectations_are_consistent():
    inp = gen.news_inputs(3, 300)
    e, p = inp["expect"], inp["props"]
    assert e["prepare"] == len(e["labels"]) == p["valid_docs"]
    assert e["crawl_articles"] == 300 - round(0.03 * 300)
    assert set(e["labels"].values()) == {"positive", "negative", "neutral"}
    assert p["topics"] == gen.NEWS_TOPICS


def test_corpus_truth_points_backwards():
    t = gen.corpus_inputs(5, 400)["truth"]
    assert t["exact"] and t["near"] and t["spam"]
    assert all(src < d for d, src in {**t["exact"], **t["near"]}.items())
