"""Corpus-curation operators: benchmark decontamination and Gopher-style
repetition stats (plus plan-shape assertions: the benchmark side must be
broadcast, never shuffled)."""

import pytest
from pyspark.sql import functions as F

from pygridmap_spark.operators import curation as CU


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "totally unrelated content about spark engines and catalyst plans"),
            (3, "hi"),  # too short for 3-grams
            (4, "repeat me\nrepeat me\nrepeat me\nunique line"),
        ],
        "doc_id long, text string",
    )


def test_contamination_stats(spark, docs):
    bench = spark.createDataFrame([(1, "quick brown fox runs")], "q long, text string")
    got = {r.doc_id: tuple(r)[1:] for r in CU.contamination_stats(docs, bench, n=3).collect()}
    # doc 1 has 7 shingles, one of which ("quick brown fox") is in the bench
    assert got[1] == (7, 1, pytest.approx(1 / 7))
    assert got[2][1] == 0 and got[2][2] == 0.0
    assert got[3] == (0, 0, None)  # unshingle-able: NULL, not 0/NaN


def test_decontaminate_drops_overlapping_keeps_short(spark, docs):
    bench = spark.createDataFrame([(1, "quick brown fox runs")], "q long, text string")
    kept = sorted(
        r.doc_id for r in CU.decontaminate(docs, bench, max_contamination=0.1, n=3).collect()
    )
    assert kept == [2, 3, 4]  # doc 1 dropped (1/7 > 0.1); short doc 3 kept


def test_repetition_stats(spark, docs):
    got = {r.doc_id: tuple(r)[1:] for r in CU.repetition_stats(docs).collect()}
    # doc 4: 4 non-empty lines, 2 distinct -> dup_line_frac 0.5;
    # dup chars = 3 * len("repeat me") = 27 of 27 + len("unique line") = 38
    n4 = got[4]
    assert n4[0] == 4
    assert n4[1] == pytest.approx(0.5)
    assert n4[2] == pytest.approx(27 / 38)
    # bigrams of doc 4 normalized: 8 tokens -> 7 bigrams, top "repeat me" x3
    assert n4[3] == pytest.approx(3 * 2 / 8)
    # no-repetition docs: frac 0, top-bigram 2/n_tokens
    assert got[1][1] == 0.0 and got[1][3] == pytest.approx(2 / 9)
    # single-token doc: no bigrams -> NULL
    assert got[3][3] is None


def test_repetition_filter(spark, docs):
    kept = sorted(
        r.doc_id
        for r in CU.repetition_filter(
            docs, max_dup_line_frac=0.4, max_top_bigram_frac=0.5
        ).collect()
    )
    assert kept == [1, 2, 3]  # doc 4: dup_line_frac 0.5 > 0.4


def test_contamination_benchmark_is_broadcast(spark, docs):
    bench = spark.createDataFrame([(1, "quick brown fox runs")], "q long, text string")
    plan = CU.contamination_stats(docs, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_decontaminate_empty_benchmark_keeps_all(spark, docs):
    bench = spark.createDataFrame([], "q long, text string")
    kept = sorted(r.doc_id for r in CU.decontaminate(docs, bench, n=3).collect())
    assert kept == [1, 2, 3, 4]


def test_line_dedup(spark):
    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nreal content one\nCOOKIE BANNER2"),
            (2, "COOKIE BANNER\nreal content two"),
            (3, "COOKIE BANNER\nmore text\nCOOKIE BANNER"),
            (4, "standalone doc"),
            (5, "COOKIE BANNER"),  # doc reduced to nothing
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text, r.n_lines_removed) for r in CU.line_dedup(docs, min_docs=3).collect()}
    assert got[1] == ("real content one\nCOOKIE BANNER2", 1)  # <3-doc line kept
    assert got[2] == ("real content two", 1)
    assert got[3] == ("more text", 2)  # both occurrences removed, counted
    assert got[4] == ("standalone doc", 0)
    assert got[5] == ("", 1)  # emptied doc kept as '' (not dropped)


def test_line_dedup_preserves_blank_lines_and_null_text(spark):
    """Blank lines are paragraph structure, never boilerplate (they occur
    'in every doc' trivially); NULL text stays NULL, not ''."""
    docs = spark.createDataFrame(
        [
            (1, "BOILER\n\npara one"),
            (2, "BOILER\n\npara two"),
            (3, "BOILER\n\npara three"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text, r.n_lines_removed) for r in CU.line_dedup(docs, min_docs=3).collect()}
    assert got[1] == ("\npara one", 1)  # blank line SURVIVES, BOILER removed
    assert got[4] == (None, 0)  # missing text != empty text


def test_line_dedup_hashed_equals_string_keyed(spark):
    """hash_lines=True (the lake-scale 8-byte-key exchange) must produce
    byte-identical output to the string-keyed path."""
    docs = spark.createDataFrame(
        [
            (i, f"SHARED HEADER\nbody {i}\n\nSHARED FOOTER" if i % 2 else f"only {i}")
            for i in range(1, 21)
        ],
        "doc_id long, text string",
    )
    a = sorted(
        map(tuple, CU.line_dedup(docs, min_docs=5, hash_lines=True, strategy="shuffle").collect())
    )
    b = sorted(
        map(tuple, CU.line_dedup(docs, min_docs=5, hash_lines=False, strategy="shuffle").collect())
    )
    assert a == b
    # and the hashed frequency agg really is keyed by the 8-byte hash
    plan = (
        CU.line_dedup(docs, min_docs=5, hash_lines=True, strategy="shuffle")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "__lk__" in plan


def test_line_dedup_broadcast_equals_shuffle(spark):
    """The zero-corpus-shuffle broadcast path (default) must be
    byte-identical to the pure-Catalyst shuffle twin, and its result plan
    must carry NO corpus exchange (the text never rides a shuffle)."""
    docs = spark.createDataFrame(
        [
            (
                i,
                f"SHARED HEADER\nbody {i}\n\nSHARED FOOTER"
                if i % 2
                else (None if i == 10 else f"only {i}\nSHARED HEADER"),
            )
            for i in range(1, 21)
        ],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, CU.line_dedup(docs, min_docs=5, strategy="broadcast").collect()))
    b = sorted(map(tuple, CU.line_dedup(docs, min_docs=5, strategy="shuffle").collect()))
    assert a == b
    plan = (
        CU.line_dedup(docs, min_docs=5, strategy="broadcast")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Exchange" not in plan and "Repartition" not in plan


def test_line_dedup_broadcast_limit_falls_back(spark):
    """A boilerplate set above broadcast_limit falls back to the shuffle
    plan (warning, identical answer) instead of collecting it."""
    import warnings

    docs = spark.createDataFrame(
        [(i, "B1\nB2\nbody %d" % i) for i in range(1, 9)],
        "doc_id long, text string",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = CU.line_dedup(docs, min_docs=3, broadcast_limit=1)
        got = {r.doc_id: (r.text, r.n_lines_removed) for r in out.collect()}
    assert any("broadcast_limit" in str(x.message) for x in w)
    assert got[1] == ("body 1", 2)


def test_repetition_stats_kernel_matches_exploded_twin(spark):
    """The zero-shuffle Arrow kernel must be bit-identical to the
    Catalyst explode+agg twin, including Spark's trim/split corner
    cases: \\r kept by space-only trim, tabs, repeated lines, empty and
    NULL text, whitespace-only docs, unicode punctuation."""
    rows = [
        (1, "repeat me\nrepeat me\n  repeat me  \nunique"),
        (2, ""),                      # no lines, no tokens -> all NULL/0
        (3, None),                    # NULL text
        (4, "   \n  \n\t\n"),         # "\t" survives space-only trim
        (5, "a b a b a b a b"),       # heavy bigram repetition
        (6, "line\r\nline\r\nother"), # \r kept: "line\r" == "line\r"
        (7, "Café — déjà vu! Café — déjà vu!"),  # non-[a-z0-9] stripped
        (8, "one"),                   # single token: no bigrams -> NULL
        (9, "x\n" * 500 + "y"),       # many identical lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = CU.repetition_stats(df).orderBy("doc_id").toPandas()
    b = CU._repetition_stats_exploded(df).orderBy("doc_id").toPandas()
    for c in ("n_lines", "dup_line_frac", "dup_line_char_frac", "top_bigram_frac"):
        assert (a[c].isna() == b[c].isna()).all(), c
        assert (
            a[c].fillna(-1).astype(float).to_numpy()
            == b[c].fillna(-1).astype(float).to_numpy()
        ).all(), c


def test_repetition_stats_plan_has_no_exchange(spark, docs):
    """The production path is one narrow zero-shuffle Arrow pass."""
    plan = CU.repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_paragraph_dedup_sep(spark):
    """sep='\\n\\n' = the MassiveText PARAGRAPH dedup stage: repeated
    paragraphs removed, single newlines inside paragraphs untouched,
    join(split(x, sep), sep) byte-identity below threshold."""
    docs = spark.createDataFrame(
        [(i, f"SHARED PROMO\n\nbody {i}\nsecond line\n\ntail {i}") for i in range(3)]
        + [(10, "free\n\nstanding"), (11, None)],
        "doc_id long, text string",
    )
    for strategy in ("shuffle", "broadcast"):
        got = {
            r.doc_id: (r.text, r.n_lines_removed)
            for r in CU.line_dedup(
                docs, min_docs=3, sep="\n\n", strategy=strategy
            ).collect()
        }
        assert got[0] == ("body 0\nsecond line\n\ntail 0", 1), (strategy, got[0])
        assert got[10] == ("free\n\nstanding", 0)
        assert got[11] == (None, 0)
    # below threshold: byte-identical round trip (separator structure kept)
    untouched = {
        r.doc_id: r.text
        for r in CU.line_dedup(docs, min_docs=5, sep="\n\n").collect()
    }
    src = {r.doc_id: r.text for r in docs.collect()}
    assert untouched == src


def test_paragraph_dedup_consecutive_separators_roundtrip(spark):
    """'\\n\\n\\n' splits to a unit with a leading '\\n' — reassembly must
    still be byte-exact (join(split(x, sep), sep) == x)."""
    docs = spark.createDataFrame(
        [(1, "a\n\n\nb"), (2, "x\n\n\n\ny")], "doc_id long, text string"
    )
    got = {r.doc_id: r.text for r in CU.line_dedup(docs, min_docs=9, sep="\n\n").collect()}
    assert got == {1: "a\n\n\nb", 2: "x\n\n\n\ny"}


def test_c4_clean_line_rules(spark):
    """C4 line heuristics: terminal punctuation, min words, javascript."""
    pages = spark.createDataFrame(
        [
            (1, "This is a perfectly good sentence here.\nshort.\n"
                "no terminal punctuation on this line\n"
                "This line mentions JavaScript libraries everywhere sadly.\n"
                'He said "stop right there now."'),
        ],
        "doc_id long, text string",
    )
    r = CU.c4_clean(pages).collect()[0]
    assert r.text == (
        'This is a perfectly good sentence here.\nHe said "stop right there now."'
    )
    assert r.n_lines_kept == 2 and r.n_lines_removed == 3


def test_c4_clean_page_rules(spark):
    pages = spark.createDataFrame(
        [
            # 3 sentences, clean -> kept
            (1, "One good long sentence right here. Two more decent words "
                "follow now. Three sentences close the page."),
            # curly brace page
            (2, "Code pages { get dropped entirely. Even with sentences "
                "aplenty right here. And a third one too."),
            # lorem ipsum page (case-insensitive)
            (3, "LOREM IPSUM filler text goes here. Second sentence is "
                "also present now. Third sentence finishes it off."),
            # too few sentences after cleaning
            (4, "Just one surviving sentence stands here."),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.keep_doc for r in CU.c4_clean(pages).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_c4_clean_trailing_cr_not_terminal(spark):
    """A line ending '\\r' after the punctuation must NOT count as
    terminal-punct (the literal last-char test — Java '$' would sneak
    past a final \\r, RE2 would not; we do neither)."""
    pages = spark.createDataFrame(
        [(1, "This would otherwise be kept fine.\r\nAnother good sentence stays here.")],
        "doc_id long, text string",
    )
    r = CU.c4_clean(pages, min_sentences=1).collect()[0]
    assert r.text == "Another good sentence stays here."
    assert r.n_lines_kept == 1


GOOD_GOPHER = (
    "The quick brown fox jumps over the lazy dog and then runs off "
    "to be with all of that pack that have lived with other foxes. "
) * 3


def test_gopher_quality_rules(spark):
    pages = spark.createDataFrame(
        [
            (1, GOOD_GOPHER),                      # keep
            (2, "too few words here."),            # word count
            (3, "# " * 100 + GOOD_GOPHER),         # symbol ratio
            (4, "• b\n" * 19 + GOOD_GOPHER),       # bullet flood
            (5, "preview goes on...\n" * 7 + GOOD_GOPHER),  # ellipsis
            (6, "12345 67890 " * 60),              # alpha + stopwords
            (7, None),
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in CU.gopher_quality(pages).collect()}
    assert r[1].keep_doc
    assert not r[2].keep_doc and r[2].n_words == 4
    assert not r[3].keep_doc and r[3].symbol_ratio > 0.1
    assert not r[4].keep_doc and r[4].bullet_line_frac > 0.9
    assert not r[5].keep_doc and r[5].ellipsis_line_frac > 0.3
    assert not r[6].keep_doc and r[6].alpha_word_frac == 0.0 and r[6].stop_hits == 0
    assert not r[7].keep_doc and r[7].n_words == 0 and r[7].mean_word_len is None


def test_gopher_quality_ratio_exactness(spark):
    """Ratios are single int/int divisions — check an exactly
    representable case end to end (3 bullet lines of 4)."""
    pages = spark.createDataFrame(
        [(1, "• a\n• b\n• c\n" + GOOD_GOPHER)], "doc_id long, text string"
    )
    r = CU.gopher_quality(pages).collect()[0]
    assert r.bullet_line_frac == 0.75
    assert r.keep_doc  # 0.75 <= 0.9


class TestTemplateFingerprint:
    PAGES = [
        ("https://a.com/1", "<html><Body><p>one</p></body></html>"),
        ("https://a.com/2", "<html><body><p>two words</p></body></html>"),
        ("https://b.com/1", "<HTML><body><p>three</p></body></html>"),
        ("https://c.com/1", '<div class="x"><br/><p>other</p></div>'),
        ("https://d.com/1", "plain text, no tags"),
        ("https://e.com/1", None),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.PAGES, "url string, html string")

    def test_clusters(self, spark):
        from pygridmap_spark.operators import curation as C

        out = C.template_fingerprint(self._df(spark)).collect()
        got = {r.signature: (r.n_pages, r.n_hosts, r.example_url) for r in out}
        # case-insensitive tags; text content irrelevant; 3 pages share
        # the html/body/p template across 2 hosts
        assert got["html,body,p,/p,/body,/html"] == (3, 2, "https://a.com/1")
        assert got["div,br,p,/p,/div"] == (1, 1, "https://c.com/1")
        assert len(got) == 2  # no-tag and NULL pages excluded

    def test_min_pages_and_hash_key(self, spark):
        from pygridmap_spark.operators import curation as C

        big = C.template_fingerprint(self._df(spark), min_pages=2).collect()
        assert len(big) == 1 and big[0].n_pages == 3
        hashed = C.template_fingerprint(
            self._df(spark), keep_signature=False
        ).collect()
        assert sorted(r.n_pages for r in hashed) == [1, 3]
        assert not hasattr(hashed[0], "signature")
        # hash keys match the string-keyed clusters one-to-one
        full = {r.sig_hash: r.n_pages for r in
                C.template_fingerprint(self._df(spark)).collect()}
        assert {r.sig_hash: r.n_pages for r in hashed} == full


class TestDuplicateSpanRemoval:
    def _run(self, spark, docs, **kw):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            r.doc_id: r
            for r in CU.duplicate_span_removal(df, **kw).collect()
        }

    def test_shared_span_removed_from_all_carriers(self, spark):
        out = self._run(
            spark,
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
                (2, "intro words alpha beta gamma delta epsilon zeta eta theta closing bit"),
                (3, "completely unrelated text goes here with nothing shared at all ok"),
            ],
            ngram_n=5,
            min_docs=2,
        )
        # the shared 8-token run is covered by 4 shared 5-grams -> 8 tokens
        assert out[1].n_removed == 8 and out[1].text_clean == "iota kappa"
        assert out[2].n_removed == 8
        assert out[2].text_clean == "intro words closing bit"
        assert out[3].n_removed == 0

    def test_within_doc_repetition_not_cross_doc(self, spark):
        out = self._run(
            spark,
            [
                (1, "repeat repeat repeat repeat repeat repeat repeat only here"),
                (2, "nothing in common with that other document at all today"),
            ],
        )
        assert out[1].n_removed == 0 and out[2].n_removed == 0

    def test_verbatim_clone_fully_removed_both_sides(self, spark):
        t = "one two three four five six seven eight nine ten"
        out = self._run(spark, [(1, t), (2, t)])
        for d in (1, 2):
            assert out[d].n_tokens == 10
            assert out[d].n_removed == 10
            assert out[d].text_clean == ""

    def test_short_and_null_docs_untouched(self, spark):
        out = self._run(spark, [(1, "tiny doc"), (2, None), (3, "tiny doc")])
        # 2 tokens < ngram_n: no grams, even though the docs are identical
        assert out[1].n_removed == 0 and out[1].text_clean == "tiny doc"
        assert out[2].n_tokens == 1 and out[2].text_clean == ""

    def test_interval_merge_matches_brute_force(self, spark):
        # r6 mark-back rewrite (sorted starts -> merged disjoint intervals
        # -> complement slices): pin it against a token-level brute force
        # on a fixture that exercises every interval shape — an interval
        # at position 0, multiple disjoint intervals with gaps, ADJACENT
        # intervals fusing (start == prev + n), and an interval running to
        # the document end.
        shared_a = "alpha beta gamma delta epsilon"          # 5 tokens: one gram
        shared_b = "omega psi chi phi upsilon"               # 5 tokens: one gram
        docs = [
            # doc 1: [shared_a][shared_b] adjacent (fused interval 0..10),
            # gap, then shared_a again mid-doc, unique tail
            (1, f"{shared_a} {shared_b} filler one two {shared_a} tail words"),
            # doc 2: unique head, shared_b, unique middle, shared_a at END
            (2, f"head words here {shared_b} middle bit {shared_a}"),
            (3, f"{shared_a} {shared_b} carrier document pads the threshold"),
            (4, "wholly unrelated content with no overlap at all present"),
        ]
        n = 5
        toks = {d: t.split() for d, t in docs}
        from collections import defaultdict
        gram_docs = defaultdict(set)
        for d, tl in toks.items():
            for s in range(len(tl) - n + 1):
                gram_docs[tuple(tl[s : s + n])].add(d)
        expect = {}
        for d, tl in toks.items():
            removed = set()
            for s in range(len(tl) - n + 1):
                if len(gram_docs[tuple(tl[s : s + n])]) >= 2:
                    removed.update(range(s, s + n))
            kept = [t for i, t in enumerate(tl) if i not in removed]
            expect[d] = (len(tl), len(removed), " ".join(kept))
        out = self._run(spark, docs, ngram_n=n, min_docs=2)
        for d in toks:
            assert (out[d].n_tokens, out[d].n_removed, out[d].text_clean) == expect[d], d

    def test_mostly_duplicated_long_doc_volume(self, spark):
        # adversarial ExactSubstr shape: long docs that are ~90% duplicated
        # spans. The old per-token exists() mark-back was O(tokens x starts)
        # per row (measured 19 s for 400 such docs); the interval merge is
        # linear and must chew through this without blowing up.
        from pyspark.sql import functions as F

        base = "shared span block alpha beta gamma delta epsilon zeta"
        adv = spark.range(40).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(400)),
                        lambda i: F.array(
                            F.concat_ws(" ", F.lit(base), F.pmod(i, 37).cast("string")),
                            F.concat(
                                F.lit("unique"),
                                F.col("id").cast("string"),
                                F.lit("x"),
                                i.cast("string"),
                            ),
                        ),
                    )
                ),
            ).alias("text"),
        )
        out = CU.duplicate_span_removal(adv, ngram_n=5, min_docs=2).collect()
        assert len(out) == 40
        for r in out:
            # every doc: 400 x (10-token shared block + 1 unique token)
            assert r.n_tokens == 4400
            # the shared blocks and their mod-37 suffixes repeat across all
            # docs; only the doc-unique filler tokens can survive
            assert r.n_removed >= 4000
            assert all(w.startswith("unique") for w in r.text_clean.split())

    def test_boundary_grams_do_not_bleed(self, spark):
        # shared prefix, doc-specific continuations: only tokens covered
        # by a FULLY-shared 5-gram go; the boundary grams (prefix tail +
        # unique continuation) differ per doc and must not flag
        p = "shared boiler prefix tokens here exactly"
        out = self._run(
            spark,
            [
                (1, p + " unique continuation one follows after that"),
                (2, p + " different ending for the second document now"),
            ],
        )
        # the 6 prefix tokens are covered by shared grams (starts 0,1);
        # continuation tokens survive
        assert out[1].n_removed == 6
        assert out[1].text_clean == "unique continuation one follows after that"
        assert out[2].n_removed == 6
