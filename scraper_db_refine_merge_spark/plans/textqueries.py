"""Text search / text analysis / dedup queries over the ``documents`` table.

Oracle mirroring notes: every hash is md5 (identical hex in both engines),
Jaccard/ratios divide identical integers (IEEE double division — exact
parity), and tokenization collapses whitespace the same way on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    language_guess,
    punct_ratio,
    quality_band,
    search_blob,
    stopword_count,
    text_quality_score,
    text_search_relevance,
    token_count,
)
from ..operators import dedup as dd
from ..sources.tables import ensure_views, load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# DuckDB mirror of dedup.normalized_text / word_shingles (k=5).
_SQL_NORM = "lower(regexp_replace(trim(text), '[\\s\\x0b]+', ' ', 'g'))"
_SQL_TOKS = f"string_split({_SQL_NORM}, ' ')"
_SQL_SHINGLES = f"""
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    shidx AS (
        SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i FROM toks
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle FROM shidx
    )
"""
_SQL_PAIR_JACCARD = """
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS intersection
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
        SELECT i.a_id, i.b_id, i.intersection,
               ROUND(CAST(i.intersection AS DOUBLE)
                     / CAST(sa.n + sb.n - i.intersection AS DOUBLE), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
    )
"""


# --------------------------------------------------------------------------
# q21 — text search with relevance ranking. SURVEY T1/T2
# (reference api_server.py:314-350 $text search endpoint).
_Q21_TERMS = ["spark", "join"]


def _sql_term_count(term: str) -> str:
    return f"CAST((length(blob) - length(replace(blob, '{term}', ''))) / {len(term)} AS BIGINT)"


@_register(
    "q21_text_search",
    f"""
    WITH blobbed AS (SELECT doc_id, lang, lower(text) AS blob FROM documents),
    scored AS (
        SELECT doc_id, lang,
               {_sql_term_count('spark')} + {_sql_term_count('join')} AS relevance,
               {_sql_term_count('spark')} AS c0, {_sql_term_count('join')} AS c1
        FROM blobbed
    )
    SELECT doc_id, lang, relevance
    FROM scored WHERE c0 > 0 AND c1 > 0
    ORDER BY relevance DESC, doc_id LIMIT 20
    """,
)
def q21_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    blob = search_blob(F.col("text"))
    matches, relevance = text_search_relevance(blob, _Q21_TERMS)
    return (
        d.select("doc_id", "lang", matches.alias("m"), relevance.alias("relevance"))
        .filter(F.col("m"))
        .drop("m")
        .orderBy(F.col("relevance").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# q22 — per-document text analysis: token counts, ratios, quality score,
# band, heuristic language. SURVEY D1/D6 banded scoring generalized to text.
_Q22_STOP_SQL = "('the','a','an','and','or','of','to','in')"
_SQL_Q22_TOKS = "string_split_regex(lower(trim(text)), '[\\s\\x0b]+')"


@_register(
    "q22_doc_text_stats",
    f"""
    WITH base AS (
        SELECT doc_id, lang, text,
               {_SQL_Q22_TOKS} AS toks,
               len({_SQL_Q22_TOKS}) AS n_tokens,
               len(list_filter({_SQL_Q22_TOKS}, t -> t IN {_Q22_STOP_SQL})) AS n_stopwords,
               length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                   / greatest(length(text), 1) AS praw,
               length(text) AS n_chars
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, n_tokens, n_stopwords,
               ROUND(CAST(n_stopwords AS DOUBLE) / greatest(n_tokens, 1), 4) AS stop_ratio,
               ROUND(praw, 4) AS p_ratio,
               ROUND(
                   (CASE WHEN n_chars >= 200 THEN 1.0 WHEN n_chars >= 50 THEN 0.7
                         WHEN n_chars >= 10 THEN 0.4 ELSE 0.0 END) * 0.4
                 + (CASE WHEN n_tokens >= 30 THEN 1.0 WHEN n_tokens >= 10 THEN 0.7
                         WHEN n_tokens >= 3 THEN 0.4 ELSE 0.0 END) * 0.3
                 + (CASE WHEN CAST(n_stopwords AS DOUBLE) / greatest(n_tokens, 1) > 0
                         THEN 1.0 ELSE 0.0 END) * 0.15
                 + (CASE WHEN praw <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.15, 4) AS quality,
               len(list_filter(toks, t -> t IN ('the','and','of','to','a'))) AS h_en,
               len(list_filter(toks, t -> t IN ('el','la','de','que','y'))) AS h_es,
               len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS h_de,
               len(list_filter(toks, t -> t IN ('le','la','et','les','des'))) AS h_fr
        FROM base
    )
    SELECT doc_id, lang, n_tokens, n_stopwords, stop_ratio, p_ratio, quality,
           CASE WHEN quality >= 0.9 THEN 'excellent' WHEN quality >= 0.8 THEN 'good'
                WHEN quality >= 0.7 THEN 'fair' ELSE 'poor' END AS band,
           -- argmax by (hits, lang): ties go to the lexicographically larger code,
           -- mirroring Spark's struct array_max
           CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
                WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
                WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
                ELSE 'de' END AS guessed_lang
    FROM scored
    """,
)
def q22_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One spark.sql string (r11): the Column-helper form stacked ~0.2 s/run
    # (79% of q22's wall time) of py4j round-trips building split/filter/
    # when chains. The SQL below is textually faithful to functions/text.py
    # (tokens/stopword_count/punct_ratio/text_quality_score/quality_band/
    # language_guess — which remain the library surface and keep their own
    # tests via q50 and the functions suite): double literals carry the D
    # suffix (a bare 0.5 is DECIMAL in Spark SQL), the lang structs are
    # (hits, lang) with array_max tie-break on the code, and every ratio is
    # the same int/int double division. Values are oracle-hash-gated.
    v = ensure_views(spark, sf_dir, ("documents",))
    return spark.sql(
        r"""
        WITH base AS (
            SELECT doc_id, lang, text,
                   split(lower(trim(text)), '\\s+') AS toks,
                   length(regexp_replace(text, '[a-zA-Z0-9\\s]', ''))
                       / greatest(length(text), 1) AS praw,
                   length(text) AS n_chars
            FROM {documents}
        ),
        s AS (
            SELECT doc_id, lang, n_chars, praw,
                   size(toks) AS n_tokens,
                   size(filter(toks, t -> t IN
                       ('the','a','an','and','or','of','to','in'))) AS n_stopwords,
                   array_max(filter(array(
                       named_struct('hits', size(filter(toks, t -> t IN ('der','die','und','das','ist'))), 'lang', 'de'),
                       named_struct('hits', size(filter(toks, t -> t IN ('the','and','of','to','a'))), 'lang', 'en'),
                       named_struct('hits', size(filter(toks, t -> t IN ('el','la','de','que','y'))), 'lang', 'es'),
                       named_struct('hits', size(filter(toks, t -> t IN ('le','la','et','les','des'))), 'lang', 'fr')
                   ), st -> st.hits > 0)) AS best
            FROM base
        ),
        q AS (
            SELECT *,
                   ROUND(
                       (CASE WHEN n_chars >= 200 THEN 1.0D WHEN n_chars >= 50 THEN 0.7D
                             WHEN n_chars >= 10 THEN 0.4D ELSE 0.0D END) * 0.4D
                     + (CASE WHEN n_tokens >= 30 THEN 1.0D WHEN n_tokens >= 10 THEN 0.7D
                             WHEN n_tokens >= 3 THEN 0.4D ELSE 0.0D END) * 0.3D
                     + (CASE WHEN n_stopwords / greatest(n_tokens, 1) > 0
                             THEN 1.0D ELSE 0.0D END) * 0.15D
                     + (CASE WHEN praw <= 0.2D THEN 1.0D ELSE 0.0D END) * 0.15D, 4) AS quality
            FROM s
        )
        SELECT doc_id, lang, n_tokens, n_stopwords,
               ROUND(n_stopwords / greatest(n_tokens, 1), 4) AS stop_ratio,
               ROUND(praw, 4) AS p_ratio,
               quality,
               CASE WHEN quality >= 0.9D THEN 'excellent'
                    WHEN quality >= 0.8D THEN 'good'
                    WHEN quality >= 0.7D THEN 'fair' ELSE 'poor' END AS band,
               CASE WHEN best IS NULL THEN 'und' ELSE best.lang END AS guessed_lang
        FROM q
        """.format(documents=v["documents"])
    )


# --------------------------------------------------------------------------
# q23 — exact dedup by content hash. SURVEY J3 + training-data exact dedup.
@_register(
    "q23_exact_dedup",
    f"""
    SELECT md5({_SQL_NORM}) AS content_hash,
           COUNT(*) AS dup_count,
           MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY content_hash
    """,
)
def q23_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup_groups(d, "doc_id", "text")


# --------------------------------------------------------------------------
# q24 — n-gram Jaccard near-dup pairs. EXACT-BASELINE entry point: no
# shingle-frequency cap, so a shingle shared by 1M docs would explode the
# pair join — correct by definition, validation-only at corpus scale. The
# corpus-scale exact path is q105 (same algorithm under the standard
# stop-shingle cap, VERDICT r4 items 3/7); the sub-quadratic scale path is
# q25 (MinHash/LSH).
@_register(
    "q24_ngram_jaccard_pairs",
    f"""
    WITH {_SQL_SHINGLES}, {_SQL_PAIR_JACCARD}
    SELECT a_id, b_id, intersection, jaccard FROM jac WHERE jaccard >= 0.2
    """,
)
def q24_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2)


# --------------------------------------------------------------------------
# q105 — capped-shingle exact Jaccard: the corpus-scale EXACT path. Hot
# shingles (doc frequency > cap) are dropped BEFORE the pair join — the
# standard stop-shingle skew guard, since one shingle shared by f docs
# contributes f² candidate pairs. The cap changes the answer (similarity
# is computed over the capped shingle sets — stated here and mirrored in
# the oracle), which is why it is gated separately instead of silently
# folded into q24.
_Q105_CAP = 10


@_register(
    "q105_capped_jaccard_pairs",
    f"""
    WITH {_SQL_SHINGLES},
    keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_Q105_CAP}),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS intersection
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
        SELECT i.a_id, i.b_id, i.intersection,
               ROUND(CAST(i.intersection AS DOUBLE)
                     / CAST(sa.n + sb.n - i.intersection AS DOUBLE), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
    )
    SELECT a_id, b_id, intersection, jaccard FROM jac WHERE jaccard >= 0.2
    """,
)
def q105_capped_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2, max_shingle_freq=_Q105_CAP)


# --------------------------------------------------------------------------
# q103 — substring-level (token-window) decontamination: training docs
# sharing any verbatim 8-token span with an "eval" doc (doc_id % 7 = 0
# simulates the benchmark suite). The modality q49 (doc hash) and q70
# (chunk hash) miss: a pasted benchmark answer inside an otherwise-unique
# page. Equi-join on md5(window) — the suffix-array pass in joinable form
# (operators/dedup.py window_decontaminate).
@_register(
    "q103_window_decontaminate",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    widx AS (
        SELECT doc_id, t, unnest(range(1, greatest(len(t) - 6, 1))) AS i FROM toks
    ),
    wins AS (
        SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS wh FROM widx
    ),
    ew AS (
        SELECT wh, MIN(doc_id) AS first_eval_doc
        FROM wins WHERE doc_id % 7 = 0 GROUP BY wh
    ),
    hits AS (
        SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_windows,
               MIN(ew.first_eval_doc) AS first_eval_doc
        FROM wins w JOIN ew USING (wh)
        WHERE w.doc_id % 7 <> 0
        GROUP BY w.doc_id
    )
    SELECT doc_id, n_shared_windows, first_eval_doc FROM hits
    """,
)
def q103_window_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    eval_ids = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return dd.window_decontaminate(d, "doc_id", "text", eval_ids, window=8)


# --------------------------------------------------------------------------
# q124 — LONGEST-shared-substring decontamination (operators/dedup.py
# longest_shared_run, VERDICT r5 item 5): exact longest verbatim token run
# per (training doc, eval doc) pair, the "remove any match ≥ L tokens"
# formulation suffix-array pipelines (The Pile, Gopher) apply — strictly
# generalizing q103's fixed-window yes/no. Shared runs appear as
# consecutive matched 8-windows on one (train_pos − eval_pos) diagonal;
# the island trick (pos − row_number) measures them exactly. Same eval
# fixture as q103 (doc_id % 7 = 0 is the benchmark suite); reported at
# min_run = 10 to prove lengths beyond the base window are recovered.
@_register(
    "q124_longest_shared_run",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    widx AS (
        SELECT doc_id, t, unnest(range(1, greatest(len(t) - 6, 1))) AS i FROM toks
    ),
    wins AS (
        SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS wh FROM widx
    ),
    m AS (
        SELECT tw.doc_id AS doc_id, ew.doc_id AS eval_doc, tw.pos AS pos,
               tw.pos - ew.pos AS diag
        FROM wins tw JOIN wins ew USING (wh)
        WHERE tw.doc_id % 7 <> 0 AND ew.doc_id % 7 = 0
    ),
    isl AS (
        SELECT doc_id, eval_doc, diag, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id, eval_doc, diag
                                        ORDER BY pos) AS island
        FROM m
    ),
    runs AS (
        SELECT doc_id, eval_doc, CAST(COUNT(*) + 7 AS BIGINT) AS run_len
        FROM isl GROUP BY doc_id, eval_doc, diag, island
    )
    SELECT doc_id, eval_doc, CAST(MAX(run_len) AS BIGINT) AS longest_run_tokens
    FROM runs GROUP BY doc_id, eval_doc
    HAVING MAX(run_len) >= 10
    """,
)
def q124_longest_shared_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    eval_ids = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return dd.longest_shared_run(d, "doc_id", "text", eval_ids, base_window=8, min_run=10)


# --------------------------------------------------------------------------
# q25 — MinHash + LSH near-dup pairs (banded signatures, verified candidates).
_MH_COLS = ",\n               ".join(
    f"min(substring(md5(shingle), {4 * j + 1}, 4)) AS h{j}"
    for j in range(dd.MINHASH_NUM_HASHES)
)
_MH_BANDS = ", ".join(
    f"(SELECT doc_id, {b} AS band, h{2 * b} || '|' || h{2 * b + 1} AS band_sig FROM mh)"
    for b in range(dd.MINHASH_NUM_HASHES // dd.MINHASH_BAND_SIZE)
)
_MH_BAND_UNION = "\n        UNION ALL\n        ".join(
    f"SELECT doc_id, {b} AS band, h{2 * b} || '|' || h{2 * b + 1} AS band_sig FROM mh"
    for b in range(dd.MINHASH_NUM_HASHES // dd.MINHASH_BAND_SIZE)
)


@_register(
    "q25_minhash_lsh_pairs",
    f"""
    WITH {_SQL_SHINGLES},
    mh AS (
        SELECT doc_id, {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_MH_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    {_SQL_PAIR_JACCARD.lstrip()}
    SELECT j.a_id, j.b_id, j.intersection, j.jaccard
    FROM jac j JOIN cand c ON j.a_id = c.a_id AND j.b_id = c.b_id
    WHERE j.jaccard >= 0.2
    """,
)
def q25_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_dedup_pairs(d, "doc_id", "text", k=5, threshold=0.2)


# --------------------------------------------------------------------------
# q26 — SimHash fingerprints. Full oracle: DuckDB's '0x…'::UBIGINT cast
# reproduces Spark's conv(hex,16,10) (verified identical), so the whole
# 60-lane bit pipeline is mirrored — token hash → ±cnt lane sums → sign
# bits reassembled with shifts.
_SIMHASH_LANES_SQL = ",\n               ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS lane{j}"
    for j in range(dd.SIMHASH_BITS)
)
_SIMHASH_FP_SQL = " + ".join(
    f"(CASE WHEN lane{j} > 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
    for j in range(dd.SIMHASH_BITS)
)
_SIMHASH_CTE = f"""
    toks AS (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split({_SQL_NORM}, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok
    ),
    th AS (
        SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::UBIGINT::BIGINT AS h, cnt
        FROM toks
    ),
    lanes AS (
        SELECT doc_id,
               {_SIMHASH_LANES_SQL}
        FROM th GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, ({_SIMHASH_FP_SQL})::BIGINT AS simhash FROM lanes)
"""


@_register(
    "q26_simhash_fingerprints",
    f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM fp",
)
def q26_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash(d, "doc_id", "text").select(
        F.col("doc").alias("doc_id"), "simhash"
    )


# --------------------------------------------------------------------------
# q27 — document fingerprints: exact content hash + min-shingle rolling hash.
@_register(
    "q27_doc_fingerprints",
    f"""
    WITH {_SQL_SHINGLES},
    minfp AS (SELECT doc_id, MIN(md5(shingle)) AS shingle_fingerprint FROM sh GROUP BY doc_id)
    SELECT d.doc_id,
           md5({_SQL_NORM}) AS content_hash,
           m.shingle_fingerprint
    FROM documents d LEFT JOIN minfp m ON d.doc_id = m.doc_id
    """,
)
def q27_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import content_fingerprint, min_shingle_fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        content_fingerprint(F.col("text")).alias("content_hash"),
        min_shingle_fingerprint(F.col("text"), k=5).alias("shingle_fingerprint"),
    )


# --------------------------------------------------------------------------
# q41 — corpus language profile: labeled lang × n-gram-heuristic guess
# confusion counts with per-language shares. The corpus-level rollup of the
# per-doc lang-ID in q22 (training-data pipeline: language filtering stats).
@_register(
    "q41_language_profile",
    f"""
    WITH scored AS (
        SELECT lang,
               len(list_filter({_SQL_Q22_TOKS}, t -> t IN ('the','and','of','to','a'))) AS h_en,
               len(list_filter({_SQL_Q22_TOKS}, t -> t IN ('el','la','de','que','y'))) AS h_es,
               len(list_filter({_SQL_Q22_TOKS}, t -> t IN ('der','die','und','das','ist'))) AS h_de,
               len(list_filter({_SQL_Q22_TOKS}, t -> t IN ('le','la','et','les','des'))) AS h_fr
        FROM documents
    ),
    guessed AS (
        SELECT lang AS actual_lang,
               -- argmax by (hits, lang): ties go to the lexicographically
               -- larger code, mirroring Spark's struct array_max
               CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                    WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
                    WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
                    WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
                    ELSE 'de' END AS guessed_lang
        FROM scored
    )
    SELECT actual_lang, guessed_lang, COUNT(*) AS n_docs,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY actual_lang) AS DOUBLE), 4)
               AS share_of_lang
    FROM guessed
    GROUP BY actual_lang, guessed_lang
    """,
)
def q41_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select(
            F.col("lang").alias("actual_lang"),
            language_guess(F.col("text")).alias("guessed_lang"),
        )
        .groupBy("actual_lang", "guessed_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("actual_lang")
    return g.withColumn(
        "share_of_lang",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 4),
    )


# --------------------------------------------------------------------------
# q46 — SimHash near-dup pairs: pigeonhole-banded candidates (max_hamming+1
# chunks ⇒ distance ≤ max_hamming guarantees a chunk collision), exact
# Hamming verify via bit_count(xor). The oracle states the SEMANTICS (all
# pairs with distance ≤ 6, direct N² scan) — banding completeness at the
# radius means the candidate-restricted Spark plan must produce exactly the
# same set.
@_register(
    "q46_simhash_near_pairs",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def q46_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash_near_pairs(d, "doc_id", "text", max_hamming=6)


# --------------------------------------------------------------------------
# q73 — duplicate CLUSTERS: transitive closure over the q24 near-dup pairs
# (operators/graph.py connected_components — iterative min-label
# propagation with pointer jumping). The oracle states the same semantics
# as a recursive-CTE closure: cluster id = min reachable doc id.
@_register(
    "q73_dup_clusters",
    f"""
    WITH RECURSIVE {_SQL_SHINGLES}, {_SQL_PAIR_JACCARD},
    p AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.2),
    e AS (SELECT a_id AS s, b_id AS d FROM p UNION SELECT b_id, a_id FROM p),
    reach AS (
        SELECT s, d FROM e
        UNION
        SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s
    ),
    lab AS (SELECT s AS node, least(s, MIN(d)) AS cluster_id FROM reach GROUP BY s),
    sz AS (SELECT cluster_id, COUNT(*) AS n FROM lab GROUP BY cluster_id)
    SELECT lab.node AS doc_id, lab.cluster_id,
           CAST(sz.n AS BIGINT) AS cluster_size
    FROM lab JOIN sz USING (cluster_id)
    """,
)
def q73_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2).select("a_id", "b_id")
    return dup_clusters(pairs)


# --------------------------------------------------------------------------
# q109 — the END-TO-END dedup pipeline as one gated query: exact dedup
# (content-hash groups, q23) + MinHash/LSH near-dup pairs (q25) + transitive
# clusters (q73's closure) + keep-smallest-id canonical election, reported
# as per-lang corpus composition (total / dropped / surviving). This is the
# query a curation user actually runs — the per-stage entries gate the
# pieces; this gates their composition. The oracle recomputes the whole
# pipeline in SQL (shingles → signatures → banded candidates → verified
# pairs → recursive-CTE closure → anti-joined survivors).
@_register(
    "q109_dedup_pipeline",
    f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    mh AS (
        SELECT doc_id, {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_MH_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    {_SQL_PAIR_JACCARD.lstrip()},
    p AS (
        SELECT j.a_id, j.b_id
        FROM jac j JOIN cand c ON j.a_id = c.a_id AND j.b_id = c.b_id
        WHERE j.jaccard >= 0.2
    ),
    e AS (SELECT a_id AS s, b_id AS d FROM p UNION SELECT b_id, a_id FROM p),
    reach AS (
        SELECT s, d FROM e
        UNION
        SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s
    ),
    lab AS (SELECT s AS node, least(s, MIN(d)) AS cluster_id FROM reach GROUP BY s),
    near_drop AS (SELECT node AS doc_id FROM lab WHERE node <> cluster_id),
    hashes AS (SELECT doc_id, lang, md5({_SQL_NORM}) AS ch FROM documents),
    canon AS (SELECT ch, MIN(doc_id) AS canonical_id FROM hashes GROUP BY ch),
    exact_drop AS (
        SELECT h.doc_id FROM hashes h JOIN canon c ON h.ch = c.ch
        WHERE h.doc_id <> c.canonical_id
    ),
    -- explicit DISTINCT: inside a WITH RECURSIVE clause DuckDB executed
    -- this two-branch UNION with append (ALL) semantics — 8 docs in both
    -- drop sets came out twice at sf0.1 and double-counted through the
    -- LEFT JOIN (found by the sf0.1 artifact run; sf0.01 has no exact
    -- dups so the overlap was empty there)
    dropped AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id FROM exact_drop UNION ALL SELECT doc_id FROM near_drop
        )
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(dr.doc_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(dr.doc_id) AS BIGINT) AS n_surviving
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.lang
    """,
)
def q109_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dup_clusters

    d = load_table(spark, sf_dir, "documents")
    groups = dd.exact_dedup_groups(d, "doc_id", "text")
    withh = d.select(
        "doc_id", "lang", F.md5(dd.normalized_text(F.col("text"))).alias("content_hash")
    )
    exact_drop = (
        withh.join(groups.select("content_hash", "canonical_id"), "content_hash")
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id")
    )
    pairs = dd.minhash_dedup_pairs(d, "doc_id", "text", k=5, threshold=0.2).select(
        "a_id", "b_id"
    )
    near_drop = (
        dup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    dropped = exact_drop.unionByName(near_drop).distinct().withColumn("__d", F.lit(1))
    return (
        d.select("doc_id", "lang")
        .join(dropped, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count("__d").alias("n_dropped"),
            (F.count("*") - F.count("__d")).alias("n_surviving"),
        )
    )


# --------------------------------------------------------------------------
# q113 — INCREMENTAL MinHash near-dup index (operators/dedup.py
# fold_minhash_index): documents arrive in three batches (doc_id % 3);
# each fold finds the new batch's near-dups against the stored index only
# (band-join against stored signatures, verify against stored shingle
# sets) — never recomputing the corpus. Every pair is discovered exactly
# once, when its later member arrives, so the accumulated pair log must
# equal the whole-corpus q25 computation — the oracle IS q25's, verbatim.
# r14: the store is COMPACTED after the folds (store_compact squashes the
# 3 per-batch parts per table to one) and the returned state re-read from
# the compacted snapshot — the driver gate now proves compaction is
# read-identical, not just a pytest claim.
def q113_incremental_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..streaming.store import read_table, store_compact

    d = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="q113_mh_")
    target = os.path.join(root, "index")
    for i in range(3):
        batch = d.filter(F.col("doc_id") % 3 == i)
        dd.fold_minhash_index(
            spark, target, batch, "doc_id", "text", k=5, threshold=0.2
        )
    store_compact(spark, target)
    return read_table(spark, target, "pairs")


QUERIES["q113_incremental_minhash_index"] = q113_incremental_minhash_index
ORACLES["q113_incremental_minhash_index"] = ORACLES["q25_minhash_lsh_pairs"]


# --------------------------------------------------------------------------
# q114 — token accounting, both tokenizers: whitespace tokens (the q22
# counter) vs the BPE-ish regex tokenizer (alphanumeric runs + individual
# symbols — functions/text.py regex_token_count), rolled up per lang with
# the tokens-per-doc inflation ratio. Training-data budgeting runs exactly
# this query before a tokenizer decision; the regex count is what tracks
# real subword budgets (punctuation splits) where whitespace undercounts.
@_register(
    "q114_token_stats",
    r"""
    WITH per_doc AS (
        SELECT lang,
               len(string_split_regex(lower(trim(text)), '[\s\x0b]+')) AS ws_toks,
               len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS re_toks
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
           CAST(SUM(re_toks) AS BIGINT) AS regex_tokens,
           ROUND(CAST(SUM(re_toks) AS DOUBLE) / SUM(ws_toks), 4) AS inflation
    FROM per_doc
    GROUP BY lang
    """,
)
def q114_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import regex_token_count

    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        token_count(F.col("text")).alias("ws_toks"),
        regex_token_count(F.col("text")).alias("re_toks"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_toks").alias("ws_tokens"),
        F.sum("re_toks").alias("regex_tokens"),
        F.round(F.sum("re_toks").cast("double") / F.sum("ws_toks"), 4).alias("inflation"),
    )


# --------------------------------------------------------------------------
# q159 — OUTPUT-CAPPED MinHash/LSH near-dup pairs (VERDICT r12 item 4): the
# q25 pipeline with capped candidate generation — within each (band,
# band_sig) bucket a doc pairs only with its 3 id-ordered successors, so a
# dup-clique of size c emits ≤ c·3·n_bands candidates instead of c²/2 (the
# shape that made the uncapped emitter's 10× scale smoke grow ~50×).
# Successor chains keep a clique CC-connected when < m verification-failing
# colliders interleave between consecutive members in at least one band
# (see lsh_candidate_pairs_capped — a deliberate recall/output trade); the
# certainly-dropped rows are the explicit transitive closure nobody scans
# at 100 TB. Deterministic (md5 bands, id
# order, first-m cap) — the oracle mirrors the cap as a per-bucket
# ROW_NUMBER difference bound.

_CAP_SUCCESSORS = 3


@_register(
    "q159_minhash_capped_pairs",
    f"""
    WITH {_SQL_SHINGLES},
    mh AS (
        SELECT doc_id, {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_MH_BAND_UNION}
    ),
    brn AS (
        SELECT doc_id, band, band_sig,
               ROW_NUMBER() OVER (PARTITION BY band, band_sig
                                  ORDER BY doc_id) AS rn
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM brn a JOIN brn b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND b.rn - a.rn BETWEEN 1 AND {_CAP_SUCCESSORS}
    ),
    {_SQL_PAIR_JACCARD.lstrip()}
    SELECT j.a_id, j.b_id, j.intersection, j.jaccard
    FROM jac j JOIN cand c ON j.a_id = c.a_id AND j.b_id = c.b_id
    WHERE j.jaccard >= 0.2
    """,
)
def q159_minhash_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # band_size="auto" (r14, VERDICT r13 item 1): the adaptive ladder
    # resolves to band_size=2 for every corpus below 2^28 docs —
    # adaptive_band_size's entire oracle domain — so the static SQL above
    # (4 bands × 2 16-bit lanes) mirrors the auto choice at ANY testable
    # scale; the >2^28 rungs are pinned by unit tests on the policy and on
    # the >8-lane signature construction (test_dedup).
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_dedup_pairs(
        d, "doc_id", "text", k=5, threshold=0.2, band_size="auto",
        max_band_successors=_CAP_SUCCESSORS,
    )


# --------------------------------------------------------------------------
# q161 — per-doc TOP-K near-dup neighbors: the max_pairs_per_doc OUTPUT cap
# (VERDICT r12 item 4's second half) on top of q159's candidate-side
# successor cap. Whatever the verified pair set's shape, each document
# emits at most k_neighbors rows (its most-similar verified near-dups,
# jaccard DESC / neighbor-id ASC) — the per-doc two-phase top-k, never a
# per-doc single-task window over a corpus-sized neighbor list.

_TOPK_NEIGHBORS = 3


@_register(
    "q161_neardup_topk_per_doc",
    f"""
    WITH {_SQL_SHINGLES},
    mh AS (
        SELECT doc_id, {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_MH_BAND_UNION}
    ),
    brn AS (
        SELECT doc_id, band, band_sig,
               ROW_NUMBER() OVER (PARTITION BY band, band_sig
                                  ORDER BY doc_id) AS rn
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM brn a JOIN brn b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND b.rn - a.rn BETWEEN 1 AND {_CAP_SUCCESSORS}
    ),
    {_SQL_PAIR_JACCARD.lstrip()},
    vp AS (
        SELECT j.a_id, j.b_id, j.jaccard
        FROM jac j JOIN cand c ON j.a_id = c.a_id AND j.b_id = c.b_id
        WHERE j.jaccard >= 0.2
    ),
    bidir AS (
        SELECT a_id AS doc_id, b_id AS neighbor_id, jaccard FROM vp
        UNION ALL
        SELECT b_id, a_id, jaccard FROM vp
    )
    SELECT doc_id, neighbor_id, jaccard, rn AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY jaccard DESC, neighbor_id) AS rn
        FROM bidir
    ) WHERE rn <= {_TOPK_NEIGHBORS}
    """,
)
def q161_neardup_topk_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # band_size="auto": constant (=2) across the oracle domain — see q159.
    d = load_table(spark, sf_dir, "documents")
    return dd.near_dup_topk_per_doc(
        d, "doc_id", "text", k=5, threshold=0.2, band_size="auto",
        k_neighbors=_TOPK_NEIGHBORS, max_band_successors=_CAP_SUCCESSORS,
    )
