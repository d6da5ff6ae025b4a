"""Real-prose fixture + oracle-gated query (VERDICT r8 ask #7).

Every other lake in the repo is TPC-H-ish or synthetic text with a
tiny vocabulary — which is exactly why `winnow_overlap_pairs` needed
lake-tuned parameters (k=16/w=8) and why vocabulary-dependent tuning
could hide. This module checks in a small corpus of GENUINE prose:
public-domain paragraphs (pre-1929 US publications / life+70 authors
— Austen 1813, Melville 1851, Dickens 1859, Carroll 1865, Lincoln
1863, Kafka 1915, Cervantes 1605, Voltaire 1759), written out in
plain ASCII. Minor wording drift from any canonical edition is
irrelevant: every expectation is computed from THIS fixture — the
texts serve as natural-language vocabulary with realistic n-gram
statistics, not as citations.

Two planted copy relationships ride inside the corpus, composed from
the named constants below so tests can derive expected span lengths
instead of hand-counting:

- ``quoting`` (doc 9) embeds ``LINCOLN_QUOTE`` verbatim from
  ``lincoln`` (doc 5) between distinct flanks — a 175-char quotation.
- ``review`` (doc 10) embeds ``MELVILLE_QUOTE`` verbatim from
  ``melville`` (doc 2) — an 86-char partial copy.

The registered query ``prose_langid_quality`` runs the langid /
quality / token operators over this corpus on BOTH engines (the
corpus is embedded as literals, so the oracle needs no parquet
table): real-prose behaviour of the text operators is hash-gated,
not just pytest-asserted. tests/test_prose.py adds winnowing at the
PUBLISHED k=5/w=4 (quotation recovery on genuine vocabulary) and
exact dup-span recovery at gram_len=40.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.text import (
    language_id,
    punct_ratio,
    quality_score,
    token_count,
)
from ..queries import register

#: the planted quotation payloads (shared verbatim between donor and
#: quoting doc; distinct flank characters on every occurrence so the
#: maximal duplicated span equals the plant — see FIXTURES.md rule)
LINCOLN_QUOTE = (
    "Four score and seven years ago our fathers brought forth on this "
    "continent a new nation, conceived in Liberty, and dedicated to the "
    "proposition that all men are created equal."
)
MELVILLE_QUOTE = (
    "having little or no money in my purse, and nothing particular to "
    "interest me on shore"
)

#: (doc_id, expected_lang, title, text)
PROSE: list[tuple[int, str, str, str]] = [
    (
        1,
        "en",
        "Pride and Prejudice (Austen, 1813)",
        "It is a truth universally acknowledged, that a single man in "
        "possession of a good fortune, must be in want of a wife. However "
        "little known the feelings or views of such a man may be on his "
        "first entering a neighbourhood, this truth is so well fixed in "
        "the minds of the surrounding families, that he is considered as "
        "the rightful property of some one or other of their daughters.",
    ),
    (
        2,
        "en",
        "Moby-Dick (Melville, 1851)",
        "Call me Ishmael. Some years ago, never mind how long precisely, "
        + MELVILLE_QUOTE
        + ", I thought I would sail about a little and see the watery "
        "part of the world. It is a way I have of driving off the spleen "
        "and regulating the circulation.",
    ),
    (
        3,
        "en",
        "A Tale of Two Cities (Dickens, 1859)",
        "It was the best of times, it was the worst of times, it was the "
        "age of wisdom, it was the age of foolishness, it was the epoch "
        "of belief, it was the epoch of incredulity, it was the season "
        "of Light, it was the season of Darkness, it was the spring of "
        "hope, it was the winter of despair.",
    ),
    (
        4,
        "en",
        "Alice's Adventures in Wonderland (Carroll, 1865)",
        "Alice was beginning to get very tired of sitting by her sister "
        "on the bank, and of having nothing to do: once or twice she had "
        "peeped into the book her sister was reading, but it had no "
        "pictures or conversations in it, and what is the use of a book, "
        "thought Alice, without pictures or conversations?",
    ),
    (
        5,
        "en",
        "Gettysburg Address (Lincoln, 1863)",
        LINCOLN_QUOTE
        + " Now we are engaged in a great civil war, testing whether "
        "that nation, or any nation so conceived and so dedicated, can "
        "long endure.",
    ),
    (
        6,
        "de",
        "Die Verwandlung (Kafka, 1915)",
        "Als Gregor Samsa eines Morgens aus unruhigen Traeumen erwachte, "
        "fand er sich in seinem Bett zu einem ungeheueren Ungeziefer "
        "verwandelt. Er lag auf seinem panzerartig harten Ruecken und "
        "sah, wenn er den Kopf ein wenig hob, seinen gewoelbten braunen "
        "Bauch, auf dessen Hoehe sich die Bettdecke kaum noch erhalten "
        "konnte. Die vielen Beinchen flimmerten ihm hilflos vor den "
        "Augen. Was ist mit mir geschehen, dachte er. Es war kein Traum.",
    ),
    (
        7,
        "es",
        "Don Quijote (Cervantes, 1605)",
        "En un lugar de la Mancha, de cuyo nombre no quiero acordarme, "
        "no ha mucho tiempo que vivia un hidalgo de los de lanza en "
        "astillero, adarga antigua, rocin flaco y galgo corredor. Una "
        "olla de algo mas vaca que carnero, salpicon las mas noches, "
        "duelos y quebrantos los sabados, lentejas los viernes, algun "
        "palomino de anadidura los domingos, consumian las tres partes "
        "de su hacienda.",
    ),
    (
        8,
        "fr",
        "Candide (Voltaire, 1759)",
        "Il y avait en Westphalie, dans le chateau de monsieur le baron "
        "de Thunder-ten-tronckh, un jeune garcon a qui la nature avait "
        "donne les moeurs les plus douces. Sa physionomie annoncait son "
        "ame. Il avait le jugement assez droit, avec l'esprit le plus "
        "simple; c'est, je crois, pour cette raison qu'on le nommait "
        "Candide.",
    ),
    (
        9,
        "en",
        "planted quotation of doc 5",
        "The address opens with the famous words: "
        + LINCOLN_QUOTE
        + " Scholars have long admired the compression of those opening "
        "lines and the cadence they set for everything that follows.",
    ),
    (
        10,
        "en",
        "planted partial copy of doc 2",
        "One early reviewer copied the line "
        + MELVILLE_QUOTE
        + " verbatim into his notice, praising the narrator's dry wit "
        "while complaining at length about the chapters on cetology.",
    ),
]


def prose_df(spark: SparkSession) -> DataFrame:
    """The fixture as a (doc_id, text) DataFrame."""
    return spark.createDataFrame(
        [(i, t) for i, _lang, _title, t in PROSE], "doc_id int, text string"
    )


def _values_sql() -> str:
    rows = ",\n    ".join(
        "({}, '{}')".format(i, t.replace("'", "''"))
        for i, _lang, _title, t in PROSE
    )
    return rows


#: langid CASE chain + quality formula — the same specs the
#: `text_language_id` / `text_quality_score` oracles embed (they ARE
#: the spec; see operators/text.py), applied to the literal corpus.
_PROSE_ORACLE = r"""
WITH prose(doc_id, text) AS (VALUES
    {values}
), tok AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
  FROM prose
), scores AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ts) END AS tok,
         len(list_filter(ts, x -> x IN ('the','and','of','to','in','is','a'))) AS s_en,
         len(list_filter(ts, x -> x IN ('der','die','und','das','ist','ein'))) AS s_de,
         len(list_filter(ts, x -> x IN ('el','la','de','que','los','es'))) AS s_es,
         len(list_filter(ts, x -> x IN ('le','la','les','des','est','une'))) AS s_fr,
         length(text) AS n,
         CASE WHEN length(text) > 0
              THEN round(length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}-]', '', 'g'))
                         * 1.0 / length(text), 4)
              ELSE 0.0 END AS pr
  FROM tok
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
            WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_guess,
       CAST(tok AS BIGINT) AS n_tokens,
       pr AS punct_ratio,
       round(0.4 * (CASE WHEN n BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
           + 0.3 * least(CASE WHEN tok > 0 THEN s_en * 1.0 / tok ELSE 0.0 END, 0.3) / 0.3
           + 0.3 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END), 4) AS quality
FROM scores
""".format(values=_values_sql())


def _prose_dup_span_oracle() -> str:
    """The `doc_dup_span_stats` oracle retargeted at the literal
    prose corpus: same span SQL (it IS the spec — Lee et al. 40-gram
    positions merged into maximal spans), with `documents` swapped
    for the VALUES CTE. Hash-gates the exact-dedup span math on
    genuine prose with planted quotations, where the expected spans
    are known to the character (tests/test_prose.py pins them)."""
    from .breadth14 import _DUP_SPAN_ORACLE

    body = _DUP_SPAN_ORACLE.replace(
        "FROM documents WHERE text IS NOT NULL",
        "FROM prose WHERE text IS NOT NULL",
    )
    assert body != _DUP_SPAN_ORACLE, "dup-span oracle shape changed"
    head, _, tail = body.partition("WITH ")
    assert not head.strip()
    return "WITH prose(doc_id, text) AS (VALUES\n    {}\n), {}".format(
        _values_sql(), tail
    )


@register("prose_dup_spans", _prose_dup_span_oracle())
def q_prose_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans over the real-prose corpus —
    the planted 175-char Lincoln quotation and 86-char Melville copy
    must surface as maximal spans (and nothing else may). Same
    operator and gram length as `doc_dup_span_stats`; ``sf_dir`` is
    unused (literal corpus on both engines)."""
    from ..operators.dedup import dup_span_stats

    return dup_span_stats(prose_df(spark), gram_len=40)


#: winnowing at the PUBLISHED k=5/window=4 over the prose corpus —
#: the same fingerprint spec as `winnow_quotation_pairs`' oracle
#: (grams of k=5 md5-hashed, window-of-4 minima, df cap BETWEEN 2 AND
#: 8 cutting corpus-wide boilerplate), retargeted at the VALUES CTE.
_PROSE_WINNOW_ORACLE = r"""
WITH prose(doc_id, text) AS (VALUES
    {values}
), norm AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM prose WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t)-4, 1)+1),
                        i -> md5(substr(t, i, 5))) AS hg
  FROM norm
), fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(hg)-3, 1)+1),
             i -> list_aggregate(hg[i:i+3], 'min'))) AS fp
    FROM grams
  )
), keep AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 8
), r AS (
  SELECT doc_id, fp FROM fps JOIN keep USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2
""".format(values=_values_sql())


@register("prose_winnow_pairs", _PROSE_WINNOW_ORACLE)
def q_prose_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap pairs at the PUBLISHED k=5/window=4
    (Schleimer/Wilkerson/Aiken running example) over the real-prose
    corpus, md5 hash family so the oracle replays every stage. The
    two planted copy relationships — (5, 9) the 175-char Lincoln
    quotation, (2, 10) the 86-char Melville line — must surface, and
    tests/test_prose.py pins that they outscore every generic
    shared-English pair. Closes the last gap in the prose corpus's
    hash-gating: langid/quality and exact dup spans were already
    oracle-gated (`prose_langid_quality`, `prose_dup_spans`);
    winnowing on genuine vocabulary was pytest-only until now.
    max_df=8 is the boilerplate cut for a 10-doc corpus (a
    fingerprint present in >8 of 10 docs is corpus-wide glue, not a
    copy signal); ``sf_dir`` is unused (literal corpus on both
    engines)."""
    from ..operators.text import winnow_overlap_pairs

    return winnow_overlap_pairs(prose_df(spark), k=5, window=4, min_shared=2, max_df=8)


@register("prose_langid_quality", _PROSE_ORACLE)
def q_prose_langid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, token count, punctuation ratio, and quality score
    over the real-prose corpus — the text operators exercised on
    genuine natural-language vocabulary (both engines read the same
    embedded literals, so this query is sf-independent by design;
    ``sf_dir`` is unused)."""
    df = prose_df(spark)
    return df.select(
        "doc_id",
        language_id("text").alias("lang_guess"),
        token_count("text").cast("long").alias("n_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )
