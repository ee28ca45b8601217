"""C4 line filters, Gopher quality rules, temperature mixture
sampling — hand-computed expectations plus brute-force Python mirrors
on deterministic inputs."""

import math

import pytest

from xapian_spark.pipeline.heuristics import (
    GOPHER_STOPWORDS,
    TERMINAL_PUNCT,
    c4_clean,
    gopher_quality,
    mixture_rates,
    mixture_sample,
)


def _df(spark, rows, cols=("doc_id", "text")):
    return spark.createDataFrame(rows, list(cols))


# ---------------------------------------------------------------- C4

C4_DOC = (
    "This is a good first sentence.\n"
    "short.\n"                          # < 3 words -> dropped
    "no terminal punctuation here\n"    # dropped
    "Please enable JavaScript to continue.\n"  # dropped (javascript)
    "Another keeper line ends here!\n"
    'A quoted keeper ends well."'
)


def test_c4_line_rules(spark):
    out = c4_clean(_df(spark, [(1, C4_DOC)]), min_lines=3).collect()[0]
    assert out.n_lines == 6
    assert out.n_kept_lines == 3
    assert out.clean_text.split("\n") == [
        "This is a good first sentence.",
        "Another keeper line ends here!",
        'A quoted keeper ends well."',
    ]
    assert out.keep


def test_c4_doc_rules(spark):
    rows = [
        (1, C4_DOC),                                       # keep
        (2, C4_DOC + "\nlorem ipsum dolor sit."),          # lorem -> drop
        (3, C4_DOC + "\nvar x = {a: 1};"),                 # brace -> drop
        (4, "Only one keeper line stays put."),            # < min_lines
    ]
    got = {r.doc_id: r.keep for r in
           c4_clean(_df(spark, rows), min_lines=3).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}


def test_c4_brute_force_mirror(spark):
    def mirror(text, min_words=3, min_lines=3):
        kept = []
        for ln in (t.strip() for t in text.split("\n")):
            words = [w for w in ln.split() if w]
            if (ln.endswith(TERMINAL_PUNCT) and len(words) >= min_words
                    and "javascript" not in ln.lower()):
                kept.append(ln)
        keep = (len(kept) >= min_lines and "lorem ipsum" not in
                text.lower() and "{" not in text)
        return len(kept), keep

    rows = [(i, f"Sentence number {i} ends with punctuation."
                 + ("\nFiller line without end mark" * (i % 3))
                 + "\nAnother full sentence follows here!" * (i % 4))
            for i in range(20)]
    for r in c4_clean(_df(spark, rows), min_lines=2).collect():
        n_kept, keep = mirror(rows[r.doc_id][1], min_lines=2)
        assert (r.n_kept_lines, r.keep) == (n_kept, keep), r.doc_id


def test_c4_no_kept_lines_gives_empty_text(spark):
    out = c4_clean(_df(spark, [(1, "no terminal punctuation\nshort.")]),
                   min_lines=1).collect()[0]
    assert (out.n_kept_lines, out.clean_text, out.keep) == (0, "", False)


# ------------------------------------------------------------- Gopher

GOOD = ("the quick brown fox jumps over the lazy dog and keeps " * 6
        + "running with that same easy stride to the end of it all")


def test_gopher_good_doc_keeps(spark):
    row = gopher_quality(_df(spark, [(1, GOOD)])).collect()[0]
    assert row.keep
    assert row.ok_words and row.ok_mean_len and row.ok_stopwords


def test_gopher_rules_fire_individually(spark):
    words_60 = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, "too few words here."),                       # ok_words False
        (2, " ".join(["supercalifragilisticexpialidocious"] * 60)),
        (3, words_60 + " " + "#" * 40),                   # symbol ratio
        (4, "\n".join(["- bullet line"] * 10) + "\n" + GOOD),
        (5, GOOD.replace(" ", "... \n", 40)),             # ellipsis lines
        (6, " ".join(["12345"] * 60) + " the of"),        # alpha frac
        (7, " ".join(f"word{i}" for i in range(60))),     # no stopwords
    ]
    got = {r.doc_id: r for r in gopher_quality(_df(spark, rows)).collect()}
    assert not got[1].ok_words
    assert not got[2].ok_mean_len          # mean word len > 10
    assert not got[3].ok_symbol
    assert not got[4].ok_bullet            # 10 of 11 lines bulleted
    assert not got[5].ok_ellipsis          # 40 of 41 lines end in ...
    assert not got[6].ok_alpha
    assert not got[7].ok_stopwords
    for i in (1, 2, 3, 4, 5, 6, 7):
        assert not got[i].keep


def test_gopher_brute_force_mirror(spark):
    rows = [(i, " ".join(
        (f"word{j}" if (i + j) % 5 else "the")
        + ("..." if (i * j) % 11 == 0 else "")
        for j in range(40 + i * 7))) for i in range(15)]
    out = {r.doc_id: r for r in gopher_quality(_df(spark, rows)).collect()}
    for i, text in rows:
        words = text.split()
        n = len(words)
        mean_len = sum(len(w) for w in words) / n
        sym = (text.count("#") + text.count("...")) / n
        alpha = sum(1 for w in words if any(c.isalpha() for c in w)) / n
        stops = len({w.lower() for w in words} & set(GOPHER_STOPWORDS))
        r = out[i]
        assert r.n_words == n
        assert math.isclose(r.mean_word_len, round(mean_len, 6))
        assert math.isclose(r.symbol_ratio, round(sym, 6))
        assert math.isclose(r.alpha_word_frac, round(alpha, 6))
        assert r.n_stopwords == stops


# ------------------------------------------------------ mixture sample

def _domain_df(spark):
    rows = [(i, "en" if i < 160 else ("de" if i < 190 else "fi"))
            for i in range(200)]
    return spark.createDataFrame(rows, ["doc_id", "lang"])


def test_mixture_rates_sqrt(spark):
    rates = {r.domain: r for r in
             mixture_rates(_domain_df(spark), "lang", 0.5).collect()}
    assert rates["fi"].rate == 1.0                    # rarest keeps all
    assert math.isclose(rates["en"].rate, math.sqrt(10 / 160))
    assert math.isclose(rates["de"].rate, math.sqrt(10 / 30))
    assert rates["en"].n_docs == 160


def test_mixture_rates_alpha_bounds(spark):
    df = _domain_df(spark)
    with pytest.raises(ValueError):
        mixture_rates(df, "lang", 1.5)
    natural = {r.domain: r.rate for r in
               mixture_rates(df, "lang", 1.0).collect()}
    assert all(v == 1.0 for v in natural.values())    # alpha=1 natural


def test_mixture_sample_deterministic_and_skew_corrected(spark):
    df = _domain_df(spark)
    kept1 = {r.doc_id for r in mixture_sample(df, "lang").collect()}
    kept2 = {r.doc_id for r in mixture_sample(df, "lang").collect()}
    assert kept1 == kept2                              # deterministic
    by_lang = {}
    for r in mixture_sample(df, "lang").collect():
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert by_lang.get("fi") == set(range(190, 200))   # rate 1 keeps all
    # en keeps ~ sqrt(10/160)=0.25 of 160 -> binomial, just sanity-band
    assert 10 <= len(by_lang.get("en", ())) <= 80
    # different seed -> different decisions (overwhelmingly likely)
    kept3 = {r.doc_id for r in
             mixture_sample(df, "lang", seed=7).collect()}
    assert kept3 != kept1


# ---------------------------------------------------------- line stats

def test_line_stats_hand_case(spark):
    from xapian_spark.pipeline.heuristics import line_stats

    text = ("Repeated banner line.\n"
            "Repeated banner line.\n"
            "unique middle content\n"
            "\n"
            "Repeated banner line.\n"
            "final line ends well!")
    row = line_stats(_df(spark, [(1, text)])).collect()[0]
    assert (row.n_lines, row.n_distinct_lines) == (5, 3)
    assert row.dup_line_frac == round(2 / 5, 6)
    # chars: banner=21*3, unique=21, final=21 -> total 105; distinct 63
    assert row.dup_line_char_frac == round((105 - 63) / 105, 6)
    assert row.punct_line_frac == round(4 / 5, 6)   # banners + final


def test_line_stats_mirror(spark):
    from xapian_spark.pipeline.heuristics import line_stats

    rows = [(i, "\n".join(f"line {j % (i + 1)} text."
                          for j in range(6))) for i in range(8)]
    got = {r.doc_id: r for r in line_stats(_df(spark, rows)).collect()}
    for i, text in rows:
        lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
        d = list(dict.fromkeys(lines))
        chars = sum(map(len, lines))
        dchars = sum(map(len, d))
        r = got[i]
        assert (r.n_lines, r.n_distinct_lines) == (len(lines), len(d))
        assert r.dup_line_frac == round(
            (len(lines) - len(d)) / max(len(lines), 1), 6)
        assert r.dup_line_char_frac == round(
            (chars - dchars) / max(chars, 1), 6)


def test_line_stats_empty_doc(spark):
    from xapian_spark.pipeline.heuristics import line_stats

    row = line_stats(_df(spark, [(1, "")])).collect()[0]
    assert (row.n_lines, row.dup_line_frac, row.punct_line_frac) \
        == (0, 0.0, 0.0)


# ------------------------------------------------------- review fixes

def test_c4_and_line_stats_handle_crlf(spark):
    from xapian_spark.pipeline.heuristics import line_stats

    text = ("This is a good crlf sentence.\r\n"
            "Another good crlf sentence here!\r\n"
            "And a third good line.")
    out = c4_clean(_df(spark, [(1, text)]), min_lines=3).collect()[0]
    assert out.n_kept_lines == 3 and out.keep
    ls = line_stats(_df(spark, [(1, text)])).collect()[0]
    assert ls.punct_line_frac == 1.0


def test_gopher_crlf_ellipsis(spark):
    text = "see more...\r\n" * 5 + GOOD
    row = gopher_quality(_df(spark, [(1, text)])).collect()[0]
    assert not row.ok_ellipsis      # 5 of 6 lines end in ...


def test_mixture_null_domains_dropped_not_counted(spark):
    rows = [(i, "en") for i in range(40)] + [(100, None), (101, None)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {r.domain: r.rate for r in
             mixture_rates(df, "lang").collect()}
    assert rates == {"en": 1.0}     # NULL never wins the min
    kept = mixture_sample(df, "lang").collect()
    assert {r.doc_id for r in kept} == set(range(40))


def test_budget_alloc_null_domain_excluded(spark):
    from xapian_spark.pipeline.heuristics import budget_mixture_alloc

    docs = spark.createDataFrame(
        [(1, "en", 10), (2, None, 10), (3, "de", 10)],
        "doc_id long, lang string, n_chars long")
    alloc = budget_mixture_alloc(docs, budget=40, max_epochs=2)
    assert [d for d, _t, _a in alloc] == ["de", "en"]
