"""Ring-1 tests: langid accuracy, perplexity monotonicity, scrub
idempotence/exactness, MAD/quantile vs exact numpy."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from bdqc_spark.functions import langid, lm
from bdqc_spark.functions.scrub import scrub_python


def test_langid_accuracy_on_synthetic():
    rng = np.random.default_rng(99)
    texts, labels = [], []
    for lang in langid.LANGS:
        for _ in range(100):
            texts.append(langid.synth_sentence(rng, lang))
            labels.append(lang)
    res = langid.predict_batch(pd.Series(texts))
    acc = float((res["pred"].to_numpy() == np.array(labels)).mean())
    assert acc >= 0.98


def test_langid_short_and_empty():
    res = langid.predict_batch(pd.Series(["", "ab", None]))
    assert list(res["pred"]) == [langid.UNKNOWN] * 3
    assert list(res["conf"]) == [0.0] * 3


def test_ppl_gibberish_higher_than_clean():
    rng = np.random.default_rng(5)
    clean = pd.Series([langid.synth_sentence(rng, "en") for _ in range(40)])
    gib = pd.Series(
        ["".join(chr(int(c)) for c in rng.integers(33, 126, size=80)) for _ in range(40)]
    )
    assert lm.perplexity_batch(clean).mean() * 10 < lm.perplexity_batch(gib).mean()


def test_ppl_empty_is_inf():
    assert np.isinf(lm.perplexity_batch(pd.Series([""]))).all()


def test_batch_scores_do_not_depend_on_the_batch():
    """A string's langid conf and perplexity are its own, to the last
    bit: neither its place in a batch (a batch boundary falls anywhere
    in a scan) nor empty or null strings after it may change them."""
    rng = np.random.default_rng(9)
    texts = [langid.synth_sentence(rng, lang) for lang in ("en", "de", "fr", "es", "en")]
    conf = [langid.predict_batch(pd.Series([t]))["conf"].iloc[0] for t in texts]
    ppl = [lm.perplexity_batch(pd.Series([t]))[0] for t in texts]
    for i in range(len(texts)):  # every string last once
        for tail in ([], [""], [None], ["", None, ""], ["ab", ""]):
            batch = pd.Series(texts[i + 1 :] + texts[: i + 1] + tail)
            order = list(range(i + 1, len(texts))) + list(range(i + 1))
            got = langid.predict_batch(batch)["conf"][: len(texts)]
            assert list(got) == [conf[j] for j in order]
            assert list(lm.perplexity_batch(batch)[: len(texts)]) == [ppl[j] for j in order]


def test_scrub_rules_fire():
    s = "email a@b.co, phone 555-123-4567, ssn 123-45-6789, ip 10.0.0.1, card 1234567890123456, you frak"
    out, edits, hits = scrub_python(s)
    assert "<EMAIL>" in out and "<PHONE>" in out and "<SSN>" in out
    assert "<IP>" in out and "<ID>" in out and "<TOX>" in out
    assert edits == 6
    assert hits == sorted(["pii.email", "pii.phone", "pii.ssn", "pii.ip", "pii.id16", "tox.lexicon"])


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
def test_scrub_idempotent(s):
    once, _, _ = scrub_python(s)
    twice, _, _ = scrub_python(once)
    assert once == twice


def test_scrub_clean_text_untouched():
    s = "a perfectly ordinary sentence with no secrets"
    out, edits, hits = scrub_python(s)
    assert out == s and edits == 0 and hits == []


def test_langid_out_of_domain_returns_und():
    """VERDICT r3 ask #8: genuinely out-of-lexicon text (random a-z,
    random printable gibberish) must return `und` via the absolute-
    evidence floor, while in-domain and even 50/50 mixed-language text
    keeps its argmax prediction (the lang_conf_low rule needs it)."""
    rng = np.random.default_rng(5)
    rand_az = pd.Series(
        ["".join(chr(int(c)) for c in rng.integers(97, 123, size=60)) for _ in range(50)]
    )
    gibberish = pd.Series(
        ["".join(chr(int(c)) for c in rng.integers(33, 126, size=80)) for _ in range(50)]
    )
    assert (langid.predict_batch(rand_az)["pred"] == langid.UNKNOWN).mean() >= 0.95
    assert (langid.predict_batch(gibberish)["pred"] == langid.UNKNOWN).mean() >= 0.95

    # in-domain accuracy is untouched by the floor
    texts, labels = [], []
    for lang in langid.LANGS:
        for _ in range(40):
            texts.append(langid.synth_sentence(rng, lang))
            labels.append(lang)
    res = langid.predict_batch(pd.Series(texts))
    assert (res["pred"].to_numpy() == np.array(labels)).mean() >= 0.98

    # mixed-language stays in-domain: argmax kept, never und
    mixed = pd.Series(
        [
            langid.synth_sentence(rng, "en", 8) + " " + langid.synth_sentence(rng, "es", 8)
            for _ in range(40)
        ]
    )
    assert (langid.predict_batch(mixed)["pred"] != langid.UNKNOWN).all()


def test_unicode_scrub_twin_and_idempotence(spark):
    """VERDICT r3 #5: Unicode chain (regex pkg, pandas UDF) must
    exact-match its single-node twin, be idempotent, and catch
    non-ASCII PII the ASCII chain misses."""
    from bdqc_spark.functions.scrub import (
        scrub_python,
        scrub_unicode_columns,
        scrub_unicode_python,
    )

    rows = [
        ("a", "écrivez à rené.müller@exämple.de s'il vous plaît"),
        ("b", "appelez le ٠١٢-٣٤٥-٦٧٨٩ avant midi"),
        ("c", "guten Tag Herr Müller, frak nochmal"),
        ("d", "plain bob@x.com and 555-123-4567 and 123-45-6789"),
        ("e", "nothing to scrub here"),
        ("f", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r for r in scrub_unicode_columns(df, "text").collect()}

    for doc_id, text in rows:
        exp_text, exp_edits, exp_hits = scrub_unicode_python(text)
        assert got[doc_id].scrubbed_text == exp_text, doc_id
        assert got[doc_id].n_scrub_edits == exp_edits, doc_id
        assert got[doc_id].scrub_hits == exp_hits, doc_id
        # idempotence: scrubbing the scrubbed text is a no-op
        again, n2, _ = scrub_unicode_python(exp_text)
        assert again == exp_text and n2 == 0, doc_id

    # the ASCII chain does NOT catch the non-ASCII email; unicode does
    ascii_out, _, _ = scrub_python(rows[0][1])
    assert "@" in ascii_out          # missed by ASCII chain
    assert "<EMAIL>" in got["a"].scrubbed_text


def _brute_repetition(text: str):
    """Single-node reference for the Gopher repetition signals."""
    import re

    nc = len(text)
    words = re.findall(r"[a-z]+", text.lower())

    def grams(n):
        return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]

    def top_cover(n):
        from collections import Counter

        c = Counter(grams(n))
        return max((cnt * len(g) for g, cnt in c.items()), default=0)

    def dup_cover(n):
        from collections import Counter

        c = Counter(grams(n))
        return sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)

    lines = [ln for ln in text.split("\n") if ln]
    dlf = (len(lines) - len(set(lines))) / len(lines) if lines else 0.0
    f = lambda x: round(x / nc, 6) if nc else 0.0  # noqa: E731
    return (f(top_cover(2)), f(top_cover(3)), f(dup_cover(5)), round(dlf, 6))


def test_repetition_struct_matches_brute_force(spark):
    """Gopher-style repetition signals (top-{2,3}-gram / dup-5gram
    char coverage, dup-line fraction) vs a from-scratch single-node
    reference, including degenerate shapes (empty, <n words, all-
    identical words, multiline with repeated lines)."""
    from pyspark.sql import functions as F

    from bdqc_spark.functions import text as TX

    cases = [
        "a b a b a b c",
        "the cat sat on the mat the cat sat on the mat",
        "x " * 50,
        "one two three four five six seven",
        "w",
        "",
        "line one\nline two\nline one\nline one\n",
        "spark spark spark spark spark spark",
        "a b c d e a b c d e a b c d e unique tail words here now",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i int, text string")
    got = {
        r.i: (
            r.rep.top_bigram_char_frac,
            r.rep.top_trigram_char_frac,
            r.rep.dup_5gram_char_frac,
            r.rep.dup_line_frac,
        )
        for r in df.select("i", TX.repetition_struct(F.col("text")).alias("rep")).collect()
    }
    for i, t in enumerate(cases):
        exp = _brute_repetition(t)
        assert got[i] == exp, (i, t, got[i], exp)


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR semantics (not just oracle parity): documents in the
    target slice (lang = 'en') must average a HIGHER importance
    weight than the rest — the whole point of the likelihood-ratio
    weighting — and the selected top-k must be enriched for them."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = entry.queries()["doc_dsir_weights"](spark, sf).cache()
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", (F.col("lang") == "en").alias("tgt")
    )
    j = out.join(docs, "doc_id").cache()
    rows = j.groupBy("tgt").agg(F.avg("log_weight").alias("m")).collect()
    means = {r.tgt: r.m for r in rows}
    assert means[True] > means[False], means
    # top-100 enrichment: the selected set's target rate beats base rate
    base = j.agg(F.avg(F.col("tgt").cast("double"))).collect()[0][0]
    sel = j.where("selected").agg(F.avg(F.col("tgt").cast("double"))).collect()[0][0]
    assert sel > base, (sel, base)
    j.unpersist(); out.unpersist()


def test_gopher_rules_planted(spark):
    """Gopher rule table (Rae et al. 2021 Table A1): each rule fires
    on a doc planted to violate exactly it, and a clean doc passes
    all five."""
    from pyspark.sql import functions as F

    from bdqc_spark.functions import text as TX

    clean = "the cat sat near a mat and then the dog ran out to find " * 5  # 70 words
    rows = [
        ("clean", clean),
        ("short", "that cat sat with that mat"),  # 6 words -> gr_word_count only
        ("longwords", " ".join(["pneumonoultramicroscopicsilicovolcanoconiosis the"] * 25)),  # mwl>10
        ("tinywords", " ".join(["a b c d e f g h i j the of"] * 5)),  # mwl<3
        ("numeric", ("12 34 56 78 90 " * 12) + "the a " + "word " * 44),  # alpha<0.8
        ("symbols", "the a " + "word ... # " * 30 + "word " * 30),  # symbol ratio > 0.1
        ("nostop", " ".join(["alpha beta gamma delta"] * 15)),  # no stopwords
    ]
    df = spark.createDataFrame(rows, ["k", "text"]).select(
        "k", TX.gopher_rules(F.col("text")).alias("g")
    )
    got = {r["k"]: r["g"].asDict() for r in df.collect()}
    assert got["clean"]["keep"] and got["clean"]["fail_rules"] == ""
    assert got["short"]["fail_rules"] == "gr_word_count"
    assert "gr_mean_word_len" in got["longwords"]["fail_rules"]
    assert "gr_mean_word_len" in got["tinywords"]["fail_rules"]
    assert "gr_alpha_words" in got["numeric"]["fail_rules"]
    assert "gr_symbol_ratio" in got["symbols"]["fail_rules"]
    assert got["nostop"]["fail_rules"] == "gr_stopwords"
    # signal sanity on the clean doc
    g = got["clean"]
    assert g["n_words"] == 70 and g["n_stop_types"] >= 2
    assert 3.0 <= g["mean_word_len"] <= 10.0 and g["alpha_word_frac"] == 1.0


def test_compression_ratio_signal():
    """DEFLATE ratio: repeated/templated text compresses far below
    prose; random-ish text sits near 1; deterministic; empty/null 0."""
    import numpy as np

    from bdqc_spark.functions.lm import compression_ratio_batch

    prose = (
        "the quick brown fox jumps over a lazy dog while autumn rain "
        "keeps falling on quiet rooftops and distant hills turn grey "
    ) * 4
    spam = "buy now click here " * 40
    rng = np.random.default_rng(7)
    noise = "".join(chr(33 + int(c)) for c in rng.integers(0, 90, 600))
    r = compression_ratio_batch(pd.Series([prose, spam, noise, "", None]))
    assert r[1] < 0.15 < r[0] < r[2]
    assert r[2] > 0.8
    assert r[3] == 0.0 and r[4] == 0.0
    r2 = compression_ratio_batch(pd.Series([prose, spam, noise, "", None]))
    assert np.array_equal(r, r2)


def test_doc_compression_registry_self_check(spark):
    import __spark_entry__ as entry

    pdf = entry.queries()["doc_compression"](spark, "/root/testdata/sf0.001").toPandas()
    assert len(pdf) > 0
    assert pdf["repeat_lower_ok"].all()
    assert ((pdf["ratio"] > 0) & (pdf["ratio"] < 1.5)).all()


def test_c4_rules_planted(spark):
    """C4 cleaning (Raffel et al. 2020 §2.2): line-level sentence
    filtering + page-level gates, each exercised by a planted doc."""
    from pyspark.sql import functions as F

    from bdqc_spark.functions.text import c4_rules

    good = (
        "This is a perfectly normal first sentence here. "
        "Here is another sentence with enough words too! "
        "And a third full sentence closes the page out."
    )
    docs = [
        ("clean", good + " trailing fragment without terminal punct"),
        ("short_lines", "Too short. Tiny one. No. " + good),
        ("js", "Please enable javascript to view this page now. " + good),
        ("brace", good + " if (x) { return; }"),
        ("lorem", good + " Lorem Ipsum dolor sit amet."),
        ("two_sents", "Only one good sentence lives right here. Second one is also fine here."),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select("doc_id", c4_rules(F.col("text")).alias("g"))
        .select("doc_id", "g.*")
        .collect()
    }
    c = out["clean"]
    assert c["c4_keep"] and c["n_sentences"] == 3 and c["n_kept_sentences"] == 3
    assert c["text_c4"] == good  # fragment dropped, sentences joined

    s = out["short_lines"]  # 3 short sentences dropped at line level
    assert s["c4_keep"] and s["n_sentences"] == 6 and s["n_kept_sentences"] == 3

    j = out["js"]  # the javascript line is dropped, page survives
    assert j["c4_keep"] and j["n_kept_sentences"] == 3
    assert "javascript" not in j["text_c4"]

    assert not out["brace"]["c4_keep"] and out["brace"]["text_c4"] == ""
    assert not out["lorem"]["c4_keep"]
    assert not out["two_sents"]["c4_keep"]  # < 3 surviving sentences
