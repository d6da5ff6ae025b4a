"""Real-prose fixture tests (VERDICT r8 ask #7): the text operators
exercised on genuine natural-language vocabulary — langid on four
languages, quality on real paragraphs, winnowing at the PUBLISHED
k=5/window=4 parameters (the setting the synthetic lake's tiny
vocabulary drowns in gram collisions), and exact dup-span recovery
of quotations planted between real paragraphs. Expected span lengths
are DERIVED from the fixture's named quote constants, not
hand-counted."""

from __future__ import annotations

from bootcamp_stackacademy_datalake_minio_airflow_spark.suites.prose import (
    LINCOLN_QUOTE,
    MELVILLE_QUOTE,
    PROSE,
    prose_df,
    q_prose_langid_quality,
)


def test_fixture_sanity():
    # plain-ASCII, substantial paragraphs, four languages, unique ids
    assert len({i for i, *_ in PROSE}) == len(PROSE) >= 10
    assert {lang for _i, lang, *_ in PROSE} == {"en", "de", "es", "fr"}
    for _i, _lang, _title, text in PROSE:
        assert text.isascii()
        assert len(text) >= 150
        assert "  " not in text  # pre-normalized spacing


def test_langid_on_real_prose(spark):
    got = {
        r.doc_id: r.lang_guess
        for r in q_prose_langid_quality(spark, "").collect()
    }
    expected = {i: lang for i, lang, *_ in PROSE}
    assert got == expected


def test_quality_bands_on_real_prose(spark):
    rows = {r.doc_id: r for r in q_prose_langid_quality(spark, "").collect()}
    langs = {i: lang for i, lang, *_ in PROSE}
    for i, r in rows.items():
        # every paragraph is in the length band with light punctuation
        assert r.punct_ratio <= 0.2, (i, r.punct_ratio)
        assert r.quality >= 0.69, (i, r.quality)
        if langs[i] == "en":
            # real English prose carries a high stopword ratio — the
            # quality heuristic must score it near the top
            assert r.quality >= 0.85, (i, r.quality)


def test_winnow_published_params_recovers_quotations(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.text import (
        winnow_overlap_pairs,
    )

    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_overlap_pairs(
            prose_df(spark), k=5, window=4, min_shared=2, max_df=64
        ).collect()
    }
    # both planted quotation pairs recovered at the textbook k=5/w=4
    assert (5, 9) in pairs, pairs
    assert (2, 10) in pairs, pairs
    # ...and they dominate: generic shared-English fingerprints
    # ("of the", "it was") must score strictly below a 175/86-char
    # verbatim quotation
    others = [v for k, v in pairs.items() if k not in {(5, 9), (2, 10)}]
    assert min(pairs[(5, 9)], pairs[(2, 10)]) > max(others, default=0), pairs


def test_registered_prose_winnow_query_recovers_quotations(spark):
    """The REGISTERED variant (max_df=8 boilerplate cut for the 10-doc
    corpus) must keep the planted-pair dominance property of the
    max_df=64 pin above — the df cap changes which generic pairs
    survive, never the planted signal."""
    from bootcamp_stackacademy_datalake_minio_airflow_spark.suites.prose import (
        q_prose_winnow_pairs,
    )

    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in q_prose_winnow_pairs(spark, "").collect()
    }
    assert (5, 9) in pairs, pairs
    assert (2, 10) in pairs, pairs
    others = [v for k, v in pairs.items() if k not in {(5, 9), (2, 10)}]
    assert min(pairs[(5, 9)], pairs[(2, 10)]) > max(others, default=0), pairs


def test_dup_spans_recover_planted_copies_exactly(spark):
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.dedup import (
        dup_span_stats,
    )

    rows = {
        r.doc_id: r
        for r in dup_span_stats(prose_df(spark), gram_len=40).collect()
    }
    # exactly the two donor/copy pairs — no real paragraph repeats a
    # 40-char run of itself (Dickens' anaphora tops out far shorter)
    assert set(rows) == {2, 5, 9, 10}, set(rows)
    # maximal-span law: the shared region is quote + the one shared
    # flanking space (each occurrence's other flank chars are
    # distinct by construction), normalized text is lowercase of the
    # ASCII fixture so lengths carry over exactly
    for doc in (5, 9):
        assert rows[doc].n_spans == 1, rows[doc]
        assert rows[doc].dup_chars == len(LINCOLN_QUOTE) + 1, rows[doc]
    for doc in (2, 10):
        assert rows[doc].n_spans == 1, rows[doc]
        assert rows[doc].dup_chars == len(MELVILLE_QUOTE) + 1, rows[doc]
        assert 0.0 < rows[doc].dup_fraction < 1.0
