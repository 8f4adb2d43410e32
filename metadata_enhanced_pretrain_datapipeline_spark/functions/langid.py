"""Character-n-gram language identification (VERDICT r11 stretch):
the Cavnar & Trenkle 1994 out-of-place method ("N-Gram-Based Text
Categorization") as a fully closed-form, oracle-checkable DataFrame
pipeline — the routing layer the reference world fills with a
fasttext-LID model (which stays a plug-in here; see
docs/model_plugins.md). Completes the language-routing stack:
script_fractions routes writing SYSTEMS, the marker-word heuristic
(q_lang_id) separates a few Latin languages, this separates Latin
languages statistically.

Method: a language's profile is its top-K character trigrams ranked by
frequency over a reference sample; a document's profile likewise; the
distance between document and language is the sum over the document's
profile trigrams of the rank displacement |rank_doc - rank_lang|, with
a maximum penalty K for trigrams absent from the language profile.
Lowest distance wins. Everything is integer counts, row_numbers with a
total deterministic tie-break (count DESC, trigram ASC) and absolute
differences — no floats, no model weights, replayable verbatim in SQL.

The LANGUAGE PROFILES are not shipped as trained constants: they are
DERIVED IN-ENGINE from the small self-authored ASCII sample paragraphs
below, through the same trigram-profile pipeline documents go through
— so the Spark query and the DuckDB oracle each build the profiles
from the same 8 string literals and must agree bit-for-bit.

Scale: profile building is over 8 tiny rows; document profiles are one
explode + count + row_number (shuffle keyed by doc); scoring joins the
K-row doc profiles against a BROADCAST 8xK profile table and reduces
— rows moved stay O(docs * K * n_langs) with ~20-byte rows, linear in
corpus size, no Python anywhere."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.functions.text import _bind

#: Self-authored reference paragraphs, one per language, ASCII-only
#: (accents stripped) so collation and lower() agree across engines.
#: Function words dominate trigram profiles, which is what makes ~80
#: words per language enough for the method to separate them.
LANG_SAMPLES: dict[str, str] = {
    "en": ("the quick brown fox jumps over the lazy dog and then the "
           "little children walk to the school because they want to "
           "learn about the world which is full of things that we can "
           "see and hear when the morning comes with the light of the "
           "sun and the people in the town begin their work for the day "
           "while the birds sing in the trees near the river"),
    "de": ("der schnelle braune fuchs springt ueber den faulen hund und "
           "dann gehen die kleinen kinder zur schule weil sie etwas "
           "ueber die welt lernen wollen die voller dinge ist die wir "
           "sehen und hoeren koennen wenn der morgen mit dem licht der "
           "sonne kommt und die menschen in der stadt mit ihrer arbeit "
           "fuer den tag beginnen waehrend die voegel in den baeumen am "
           "fluss singen"),
    "fr": ("le renard brun rapide saute par dessus le chien paresseux "
           "et puis les petits enfants marchent vers l ecole parce qu "
           "ils veulent apprendre des choses sur le monde qui est plein "
           "de choses que nous pouvons voir et entendre quand le matin "
           "arrive avec la lumiere du soleil et les gens de la ville "
           "commencent leur travail pour la journee pendant que les "
           "oiseaux chantent dans les arbres pres de la riviere"),
    "es": ("el rapido zorro marron salta sobre el perro perezoso y "
           "luego los ninos pequenos caminan a la escuela porque "
           "quieren aprender cosas sobre el mundo que esta lleno de "
           "cosas que podemos ver y escuchar cuando llega la manana con "
           "la luz del sol y la gente del pueblo comienza su trabajo "
           "del dia mientras los pajaros cantan en los arboles cerca "
           "del rio"),
    "it": ("la rapida volpe marrone salta sopra il cane pigro e poi i "
           "bambini piccoli camminano verso la scuola perche vogliono "
           "imparare delle cose sul mondo che e pieno di cose che "
           "possiamo vedere e sentire quando arriva il mattino con la "
           "luce del sole e la gente della citta comincia il suo lavoro "
           "per la giornata mentre gli uccelli cantano sugli alberi "
           "vicino al fiume"),
    "pt": ("a rapida raposa marrom salta sobre o cao preguicoso e "
           "depois as criancas pequenas caminham para a escola porque "
           "querem aprender coisas sobre o mundo que esta cheio de "
           "coisas que podemos ver e ouvir quando chega a manha com a "
           "luz do sol e as pessoas da cidade comecam o seu trabalho "
           "do dia enquanto os passaros cantam nas arvores perto do "
           "rio"),
    "nl": ("de snelle bruine vos springt over de luie hond en dan lopen "
           "de kleine kinderen naar school omdat ze iets over de wereld "
           "willen leren die vol is met dingen die we kunnen zien en "
           "horen wanneer de ochtend komt met het licht van de zon en "
           "de mensen in de stad beginnen met hun werk voor de dag "
           "terwijl de vogels zingen in de bomen bij de rivier"),
    "sv": ("den snabba bruna raven hoppar over den lata hunden och "
           "sedan gar de sma barnen till skolan eftersom de vill lara "
           "sig om varlden som ar full av saker som vi kan se och hora "
           "nar morgonen kommer med ljuset fran solen och manniskorna "
           "i staden borjar sitt arbete for dagen medan faglarna "
           "sjunger i traden nara floden"),
}


def normalized_text(text: Column) -> Column:
    """Lowercase, non-letters to spaces, whitespace collapsed, padded
    with one space each side — the canonical form trigrams are drawn
    from (Cavnar-Trenkle tokenize letters only; the pad makes word
    boundaries visible to edge trigrams)."""
    t = F.regexp_replace(F.lower(text), "[^a-z]+", " ")
    return F.concat(F.lit(" "), F.trim(t), F.lit(" "))


def trigrams(text: Column) -> Column:
    """Array of all character trigrams of the NORMALIZED text (the
    normalized string is lambda-bound once — sibling references to an
    unbound expression re-evaluate it per reference, the r10 lesson).
    The length filter drops the junk short grams Spark's sequence(1, 0)
    produces on texts shorter than one trigram — sequence infers a
    NEGATIVE step when start > stop ([1, 0], not []), unlike DuckDB's
    empty generate_series (r12 find; the two engines must agree on
    degenerate docs)."""
    return F.filter(
        _bind(normalized_text(text), lambda t:
              F.transform(F.sequence(F.lit(1),
                                     F.greatest(F.length(t) - 2, F.lit(0))),
                          lambda i: F.substring(t, i, 3))),
        lambda g: F.length(g) == 3)


def trigram_profile(df: DataFrame, id_col: str, text_col: str,
                    k: int = 64) -> DataFrame:
    """(id, tri, rank): the top-``k`` trigrams of each row's text by
    count, ranked 1..k with the deterministic tie-break
    (count DESC, trigram ASC)."""
    tri = (df.select(F.col(id_col), F.explode(trigrams(F.col(text_col)))
                     .alias("tri"))
           .filter(F.col("tri") != "   ")
           .groupBy(id_col, "tri").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy(id_col).orderBy(F.col("cnt").desc(),
                                           F.col("tri"))
    return (tri.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "tri", "rank"))


def langid_ngram(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 64,
                 out_col: str = "lang") -> DataFrame:
    """Cavnar-Trenkle LID over ``df``: returns (id_col, out_col, dist)
    — the winning language and its out-of-place distance. Ties break
    to the lexicographically smaller language code (deterministic).

    Plan shape (the r12 decade-probe fix — the first formulation
    exploded the doc profile x8 languages and measured 8.8x/decade):
    the broadcast language profiles PIVOT to one 8-slot rank array per
    trigram (rank 0 = absent), every language's contribution computes
    per doc-profile row in ONE projection, and the per-doc distances
    are 8 sums keyed by ``id_col`` — which reuses the profile window's
    hash partitioning, so scoring adds NO exchange; the winner is an
    array_min/array_position projection, not another window. The only
    data-sized shuffles are the two inside trigram_profile."""
    spark = df.sparkSession
    codes = sorted(LANG_SAMPLES)
    samples = spark.createDataFrame(
        sorted(LANG_SAMPLES.items()), "lang string, sample string")
    lang_prof = trigram_profile(samples, "lang", "sample", k)
    # <=8k tiny rows -> one row per trigram carrying all 8 ranks
    pivot = (lang_prof.groupBy("tri")
             .pivot("lang", codes).agg(F.first("rank"))
             .select("tri", F.array(
                 *[F.coalesce(F.col(c), F.lit(0)) for c in codes])
                 .alias("lranks")))
    doc_prof = trigram_profile(df, id_col, text_col, k) \
        .withColumnRenamed("rank", "drank")

    n = len(codes)
    contrib = (
        doc_prof.join(F.broadcast(pivot), "tri", "left")
        .select(id_col, F.transform(
            F.coalesce(F.col("lranks"),
                       F.array_repeat(F.lit(0), n)),
            lambda el: F.when(el == 0, F.lit(k))
            .otherwise(F.abs(F.col("drank") - el)).cast("long"))
            .alias("contrib")))
    dists = contrib.groupBy(id_col).agg(F.array(
        *[F.sum(F.element_at("contrib", i + 1)) for i in range(n)])
        .alias("dists"))
    best = dists.select(id_col, "dists",
                        F.array_min("dists").alias("dist"))
    # first index holding the min == lexicographically smallest code
    # (codes sorted), replaying the (dist, lang) window tie-break
    return best.select(
        id_col,
        F.element_at(F.array(*[F.lit(c) for c in codes]),
                     F.array_position("dists", F.col("dist"))
                     .cast("int")).alias(out_col),
        "dist")


def langid_ctes(doc_cte: str, k: int = 64,
                id_col: str = "doc_id",
                text_col: str = "text") -> str:
    """The classifier's CTE chain (no leading WITH, no final SELECT):
    ``samp`` (the sample literals), the caller's ``docs``, profile
    tables, and the result named ``lid`` — one flat scope so composed
    oracles (:func:`lang_routed_keep_oracle_sql`) can extend the chain
    and still see samp/docs."""
    values = ", ".join(
        f"('{lang}', '{text}')" for lang, text in
        sorted(LANG_SAMPLES.items()))

    def prof(src: str, idc: str, txt: str, rank_name: str) -> str:
        return (
            f"SELECT {idc}, tri, CAST(rn AS INT) AS {rank_name} FROM ("
            f"SELECT {idc}, tri, row_number() OVER (PARTITION BY {idc} "
            f"ORDER BY cnt DESC, tri) AS rn FROM ("
            f"SELECT {idc}, tri, count(*) AS cnt FROM ("
            f"SELECT {idc}, unnest(list_transform(generate_series(1, "
            f"greatest(strlen(pt) - 2, 0)), i -> substr(pt, i, 3))) "
            f"AS tri FROM (SELECT {idc}, ' ' || trim(regexp_replace("
            f"lower({txt}), '[^a-z]+', ' ', 'g')) || ' ' AS pt "
            f"FROM {src})) WHERE tri <> '   ' "
            f"GROUP BY {idc}, tri)) WHERE rn <= {k}"
        )

    return (
        # samp first: the caller's docs CTE may join it (fixtures
        # synthesize per-language text from the same samples)
        f"samp(lang, sample) AS (VALUES {values}), "
        f"{doc_cte}, "
        f"lp AS ({prof('samp', 'lang', 'sample', 'lrank')}), "
        f"dp AS ({prof('docs', id_col, text_col, 'drank')}), "
        f"sc AS (SELECT dp.{id_col}, s.lang, "
        f"CAST(SUM(COALESCE(ABS(dp.drank - lp.lrank), {k})) AS BIGINT) "
        f"AS dist FROM dp CROSS JOIN (SELECT lang FROM samp) s "
        f"LEFT JOIN lp ON lp.lang = s.lang AND lp.tri = dp.tri "
        f"GROUP BY dp.{id_col}, s.lang), "
        f"lid AS (SELECT {id_col}, lang, dist FROM (SELECT *, "
        f"row_number() OVER (PARTITION BY {id_col} "
        f"ORDER BY dist, lang) AS rn FROM sc) WHERE rn = 1)"
    )


def langid_oracle_sql(doc_cte: str, k: int = 64,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """The DuckDB replay of :func:`langid_ngram` over a CTE named
    ``docs`` (provided by ``doc_cte``): profiles are derived from the
    SAME sample literals through the same trigram/rank arithmetic."""
    return (f"WITH {langid_ctes(doc_cte, k, id_col, text_col)} "
            f"SELECT {id_col}, lang, dist FROM lid")


def lang_stopword_table(spark, n: int = 8) -> "DataFrame":
    """(lang, word): the top-``n`` most frequent words of each
    language's sample paragraph (count DESC, word ASC tie-break) — a
    derived per-language function-word list, the resource a
    language-ROUTED curation gate needs (Gopher's ">= 2 stopwords"
    rule is English-only; routing by predicted language swaps the
    list). Derived in-engine from the SAME 8 literals the classifier
    profiles come from, so the oracle rebuilds it verbatim; 8 rows in,
    8*n rows out, always broadcastable."""
    samples = spark.createDataFrame(
        sorted(LANG_SAMPLES.items()), "lang string, sample string")
    words = (samples.select(
        "lang",
        F.explode(F.split(F.trim(F.col("sample")), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang", "word").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(),
                                           F.col("word"))
    return (words.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n).select("lang", "word"))


def lang_routed_keep(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 64,
                     n_stop: int = 8, min_hits: int = 2,
                     min_words: int = 10, max_words: int = 80
                     ) -> DataFrame:
    """Language-routed quality gate: classify each doc with
    :func:`langid_ngram`, then apply the PER-LANGUAGE stopword rule —
    at least ``min_hits`` tokens from the predicted language's derived
    function-word list — plus global word-count bounds. Returns
    (id_col, lang, dist, n_words, stop_hits, keep).

    Plan shape: the classifier's own plan (profiles broadcast, one
    per-doc exchange) + ONE BroadcastHashJoin routing each doc to its
    language's stopword array (8 aggregated rows) + a codegen
    filter-count — the routing itself adds no data-sized shuffle.
    Docs the classifier drops (no trigrams) fail closed (absent from
    the output, same as the classifier)."""
    spark = df.sparkSession
    lid = langid_ngram(df, id_col, text_col, k)
    stops = (lang_stopword_table(spark, n_stop)
             .groupBy("lang")
             .agg(F.sort_array(F.collect_list("word")).alias("stops")))
    toks = F.filter(F.split(F.trim(F.col(text_col)), " "),
                    lambda t: F.length(t) > 0)
    # compute-once-then-derive: the token array materializes in its own
    # projection (it is referenced twice below; codegen does not CSE
    # across sibling expressions — the r10 lesson)
    routed = (df.select(id_col, text_col)
              .join(lid, id_col)
              .join(F.broadcast(stops), "lang")
              .select(id_col, "lang", "dist", "stops",
                      toks.alias("_toks"))
              .select(
                  id_col, "lang", "dist",
                  F.size("_toks").alias("n_words"),
                  F.size(F.filter(
                      F.col("_toks"),
                      lambda t: F.array_contains(F.col("stops"), t)))
                  .alias("stop_hits")))
    return routed.withColumn(
        "keep",
        (F.col("stop_hits") >= min_hits)
        & (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words))


def lang_routed_keep_oracle_sql(doc_cte: str, k: int = 64,
                                n_stop: int = 8, min_hits: int = 2,
                                min_words: int = 10,
                                max_words: int = 80,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> str:
    """DuckDB replay of :func:`lang_routed_keep` over a ``docs`` CTE:
    the classifier's CTE chain (:func:`langid_ctes` — samp/docs/lid in
    one flat scope) extended with the derived stopword table (same
    top-``n_stop`` (count DESC, word ASC) rank over samp) and the
    token-membership count (replayed as an explode + EXISTS count — a
    different but value-identical formulation of Spark's array
    filter). Tokens split from the RAW text (trim + single-space
    split), matching the Spark side; docs with no tokens get
    n_words=0 via the LEFT JOIN."""
    return (
        f"WITH {langid_ctes(doc_cte, k, id_col, text_col)}, "
        f"stops AS (SELECT lang, word FROM ("
        f"SELECT lang, word, row_number() OVER (PARTITION BY lang "
        f"ORDER BY cnt DESC, word) AS rn FROM ("
        f"SELECT lang, w AS word, count(*) AS cnt FROM ("
        f"SELECT lang, unnest(string_split(trim(sample), ' ')) AS w "
        f"FROM samp) WHERE strlen(w) > 0 GROUP BY lang, w)) "
        f"WHERE rn <= {n_stop}), "
        f"toks AS (SELECT {id_col}, t FROM ("
        f"SELECT {id_col}, unnest(string_split(trim({text_col}), ' ')) "
        f"AS t FROM docs) WHERE strlen(t) > 0), "
        f"counts AS (SELECT lid.{id_col}, "
        f"CAST(count(t.t) AS INT) AS n_words, "
        f"CAST(count(CASE WHEN EXISTS (SELECT 1 FROM stops s "
        f"WHERE s.lang = lid.lang AND s.word = t.t) THEN 1 END) AS INT) "
        f"AS stop_hits "
        f"FROM lid LEFT JOIN toks t ON t.{id_col} = lid.{id_col} "
        f"GROUP BY lid.{id_col}, lid.lang) "
        f"SELECT lid.{id_col}, lid.lang, lid.dist, c.n_words, "
        f"c.stop_hits, (c.stop_hits >= {min_hits} AND "
        f"c.n_words >= {min_words} AND c.n_words <= {max_words}) "
        f"AS keep "
        f"FROM lid JOIN counts c ON c.{id_col} = lid.{id_col}"
    )
