"""LLM-data-pipeline queries (SURVEY.md §7 M7 / the task brief's
north star): dedup ladder (exact → MinHash-LSH → SimHash →
embedding-cosine), similarity search, text analysis, multimodal
plumbing — each over the driver's ``documents`` / ``embeddings``
testdata with a DuckDB oracle GENERATED from the same constants the
Spark operators use (single source of truth; see each ``_sql_*``
helper).

Cross-engine float policy: every double crossing the oracle boundary is
either an exact IEEE quotient of small integers (bit-identical in both
engines) surfaced as ``floor(x * 1e6)`` micro-units, or an integer.
``round()`` is never used at the boundary (its tie-breaking mode is
engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.fingerprint import duplicate_groups
from arcane_stream_parquet_spark.operators.minhash import (
    NUM_BANDS,
    NUM_HASHES,
    SHINGLE_K,
    near_duplicates,
)
from arcane_stream_parquet_spark.operators.multimodal import (
    payload_metadata,
    with_binary_payload,
)
from arcane_stream_parquet_spark.operators.similarity import (
    ann_lsh_topk,
    embedding_near_duplicates,
    random_planes,
)
from arcane_stream_parquet_spark.operators.simhash import (
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
)
from arcane_stream_parquet_spark.operators.packing import (
    PACK_WINDOW,
    sequence_packing,
)
from arcane_stream_parquet_spark.operators.pq import (
    PQ_SEED_SAMPLE_CAP as _PQ_SEED_CAP,
)
from arcane_stream_parquet_spark.operators.redaction import (
    PII_PATTERNS_PORTABLE,
    redact_pii,
)
from arcane_stream_parquet_spark.operators.text import (
    GOPHER_FLAGS,
    GOPHER_STOPWORDS,
    LANG_MARKERS,
    LANG_PRECEDENCE,
    STOPWORDS,
    BPE_TOKEN_RE,
    gopher_quality_flags,
    language_id,
    quality_score,
    repetition_signals,
    text_stats,
    tokens_column,
)
from arcane_stream_parquet_spark.plans.registry import register_query
from arcane_stream_parquet_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect), mirroring the Spark
# operator definitions constant-for-constant.

# tokens: lower → trim → split on whitespace runs → drop empties
_TOKS = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')"
# non-empty lines / word bigrams (repetition signals, r8)
_LINES = r"list_filter(string_split(text, chr(10)), l -> length(l) > 0)"
_BIGRAMS = (
    "CASE WHEN len(toks) >= 2 THEN "
    "list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1])) "
    "ELSE [] END"
)


def _micro(expr: str) -> str:
    return f"CAST(floor(({expr}) * 1000000) AS BIGINT)"


def micro_col(col: F.Column) -> F.Column:
    """Spark twin of _micro: floor(x·1e6) as bigint (NULL-safe)."""
    return F.floor(col * F.lit(1000000.0)).cast("bigint")


def _sql_shingles(k: int = SHINGLE_K) -> str:
    parts = ", ".join(f"toks[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len(toks) - {k - 1}, 1) + 1), "
        f"i -> concat_ws(' ', {parts})))"
    )


def _sql_minhash(seed: int) -> str:
    # slice seed*8+1..+8 of the per-shingle sha256 (see minhash.py)
    return f"list_min(list_transform(hs, h -> substr(h, {seed * 8 + 1}, 8)))"


def _sql_sig_cte(table: str = "documents") -> str:
    """CTE chain: base tokens → shingle sets → one sha256 per shingle →
    minhash signature (digest slices)."""
    mh = ",\n               ".join(
        f"{_sql_minhash(seed)} AS mh_{seed}" for seed in range(NUM_HASHES)
    )
    return f"""
        WITH base AS (
            SELECT doc_id, {_TOKS} AS toks FROM {table}
        ),
        shingled AS (
            SELECT doc_id, {_sql_shingles()} AS sh FROM base
        ),
        hashed AS (
            SELECT doc_id, sh, list_transform(sh, s -> sha256(s)) AS hs
            FROM shingled
        ),
        sig AS (
            SELECT doc_id, sh,
               {mh}
            FROM hashed
        )
    """


def _sql_bands(num_bands: int = NUM_BANDS) -> str:
    """UNION ALL of one SELECT per band over sig."""
    rows = NUM_HASHES // num_bands
    selects = []
    for b in range(num_bands):
        cols = " || '|' || ".join(f"mh_{b * rows + r}" for r in range(rows))
        selects.append(
            f"SELECT doc_id, {b} AS band_id, sha256({cols}) AS band_key FROM sig"
        )
    return " UNION ALL ".join(selects)


def _hex4_to_int(expr: str) -> str:
    """DuckDB: value of a 4-hex-digit string (big-endian)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(terms) + ")"


def _sql_simhash_bit(bit: int) -> str:
    """Per-token vote for one simhash bit, from sha256(token) hex."""
    digit = f"(strpos('0123456789abcdef', substr(h, {bit // 4 + 1}, 1)) - 1)"
    return f"((({digit} >> {bit % 4}) & 1) * 2 - 1)"


def _sql_simhash_cte(table: str = "documents", bits: int = SIMHASH_BITS) -> str:
    votes = ",\n               ".join(
        f"sum({_sql_simhash_bit(b)}) AS s{b}" for b in range(bits)
    )
    bitchars = " || ".join(
        f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(bits)
    )
    return f"""
        WITH base AS (
            SELECT doc_id, {_TOKS} AS toks FROM {table}
        ),
        toks AS (
            SELECT doc_id, unnest(toks) AS tok FROM base
        ),
        hashed AS (
            SELECT doc_id, sha256(tok) AS h FROM toks
        ),
        votes AS (
            SELECT doc_id,
               {votes}
            FROM hashed GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id, {bitchars} AS simhash FROM votes
        )
    """


def _sql_vec(alias: str = "embedding") -> str:
    return f"CAST({alias} AS DOUBLE[])"


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _sql_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(w) for w in plane) + "]::DOUBLE[]"


def _sql_lsh_bucket(vec: str, planes: list[list[float]]) -> str:
    bits = [
        f"CASE WHEN list_dot_product({vec}, {_sql_plane_literal(p)}) >= 0 "
        f"THEN '1' ELSE '0' END"
        for p in planes
    ]
    return " || ".join(bits)


ANN_QUERY_IDS = (0, 1, 2, 3, 4)
ANN_K = 10
NEARDUP_PLANES = 4  # coarser buckets for the pair-mining variant
NEARDUP_MIN_COSINE = 0.35  # data-appropriate: testdata clusters are loose
MINHASH_MIN_JACCARD = 0.2

# ---------------------------------------------------------------------------
# Text analysis


_QUALITY_SCORE_SQL = (
    "0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) "
    "+ 0.3 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)"
    "         / nullif(CAST(length(text) AS DOUBLE), 0.0)) "
    "+ 0.2 * least((CAST(len(list_filter(toks, t -> list_contains("
    + str(list(STOPWORDS)).replace('"', "'")
    + ", t))) AS DOUBLE) / nullif(CAST(len(toks) AS DOUBLE), 0.0)) * 5.0, 1.0) "
    "+ 0.1 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))"
)


@register_query(
    "text_stats",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text, {_TOKS} AS toks,
                   length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(lower(text), '[^0-9]', '', 'g')) AS n_digit
            FROM documents
        ),
        rep_mid AS (
            SELECT doc_id, {_LINES} AS lines, {_BIGRAMS} AS bg
            FROM base
        ),
        line_counts AS (
            SELECT doc_id, l AS line, count(*) AS c
            FROM rep_mid, unnest(lines) AS t(l)
            GROUP BY doc_id, l
        ),
        line_agg AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_lines,
                   CAST(count(*) AS BIGINT) AS n_distinct_lines,
                   CAST(sum(c * length(line)) AS BIGINT) AS line_chars,
                   CAST(sum(CASE WHEN c > 1 THEN c * length(line)
                            ELSE 0 END) AS BIGINT) AS dup_chars,
                   CAST(max(length(line)) AS BIGINT) AS max_line_len
            FROM line_counts GROUP BY doc_id
        ),
        bg_counts AS (
            SELECT doc_id, b, count(*) AS c
            FROM rep_mid, unnest(bg) AS t(b)
            GROUP BY doc_id, b
        ),
        bg_agg AS (
            SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg,
                   CAST(sum(c) AS BIGINT) AS n_bg
            FROM bg_counts GROUP BY doc_id
        ),
        rep AS (
            SELECT rm.doc_id,
                   coalesce(n_lines, 0) AS n_lines,
                   coalesce(n_distinct_lines, 0) AS n_distinct_lines,
                   coalesce(line_chars, 0) AS line_chars,
                   coalesce(dup_chars, 0) AS dup_chars,
                   coalesce(max_line_len, 0) AS max_line_len,
                   coalesce(top_bg, 0) AS top_bg,
                   coalesce(n_bg, 0) AS n_bg
            FROM rep_mid rm
            LEFT JOIN line_agg USING (doc_id)
            LEFT JOIN bg_agg USING (doc_id)
        )
        SELECT base.doc_id,
               CAST(length(text) AS BIGINT) AS stat_n_chars,
               CAST(len(toks) AS BIGINT) AS stat_n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS stat_n_distinct_tokens,
               CAST(len(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}')) AS BIGINT)
                   AS stat_n_bpe_tokens,
               {_micro("CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)"
                       " / nullif(CAST(len(toks) AS DOUBLE), 0.0)")}
                   AS avg_token_len_micro,
               {_micro("CAST(n_alpha AS DOUBLE) / nullif(CAST(length(text) AS DOUBLE), 0.0)")}
                   AS alpha_ratio_micro,
               {_micro("CAST(n_digit AS DOUBLE) / nullif(CAST(length(text) AS DOUBLE), 0.0)")}
                   AS digit_ratio_micro,
               {_micro("CAST(len(list_filter(toks, t -> list_contains("
                       + str(list(STOPWORDS)).replace('"', "'")
                       + ", t))) AS DOUBLE) / nullif(CAST(len(toks) AS DOUBLE), 0.0)")}
                   AS stopword_ratio_micro,
               {_micro(_QUALITY_SCORE_SQL)} AS quality_score_micro,
               ({_QUALITY_SCORE_SQL}) >= 0.5 AS quality_keep,
               CAST(n_lines AS BIGINT) AS rep_n_lines,
               CAST(n_distinct_lines AS BIGINT) AS rep_n_distinct_lines,
               {_micro("1.0 - CAST(n_distinct_lines AS DOUBLE)"
                       " / nullif(CAST(n_lines AS DOUBLE), 0.0)")}
                   AS dup_line_frac_micro,
               {_micro("CAST(dup_chars AS DOUBLE)"
                       " / nullif(CAST(line_chars AS DOUBLE), 0.0)")}
                   AS dup_line_char_frac_micro,
               CAST(max_line_len AS BIGINT) AS rep_max_line_len,
               {_micro("CAST(top_bg AS DOUBLE)"
                       " / nullif(CAST(n_bg AS DOUBLE), 0.0)")}
                   AS top_bigram_frac_micro
        FROM base JOIN rep ON base.doc_id = rep.doc_id
    """,
    doc="Per-document text profile + C4/Gopher-style quality score + "
    "Gopher repetition signals (duplicate-line fraction, "
    "chars-in-duplicate-lines fraction, max line length, most-frequent-"
    "bigram fraction — Rae et al. 2021 §A1.1) in ONE pass (consolidated "
    "entries — same operators, one registry row under the driver's "
    "50-row cap): char/token/BPE-token counts, alpha/digit/stopword "
    "ratios (micro-units), quality score + keep flag, repetition "
    "columns. Shuffle-free row-local array HOF projection — free rider "
    "on any 100 TB scan.",
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # text_stats + quality + repetition columns: one projection, no join.
    # r16: ONE staged tokenization shared by the stats and the bigram
    # repetition pass (the operators' tokens hook) — identical
    # expression, bit-identical values, evaluated once per row.
    staged = docs.withColumn("__tk_shared", tokens_column("text"))
    st = repetition_signals(
        quality_score(staged, tokens="__tk_shared"), tokens="__tk_shared"
    )
    return st.select(
        "doc_id",
        "stat_n_chars",
        "stat_n_tokens",
        "stat_n_distinct_tokens",
        "stat_n_bpe_tokens",
        micro_col(F.col("stat_avg_token_len")).alias("avg_token_len_micro"),
        micro_col(F.col("stat_alpha_ratio")).alias("alpha_ratio_micro"),
        micro_col(F.col("stat_digit_ratio")).alias("digit_ratio_micro"),
        micro_col(F.col("stat_stopword_ratio")).alias("stopword_ratio_micro"),
        micro_col(F.col("quality_score")).alias("quality_score_micro"),
        "quality_keep",
        "rep_n_lines",
        "rep_n_distinct_lines",
        micro_col(F.col("rep_dup_line_frac")).alias("dup_line_frac_micro"),
        micro_col(F.col("rep_dup_line_char_frac")).alias(
            "dup_line_char_frac_micro"
        ),
        "rep_max_line_len",
        micro_col(F.col("rep_top_bigram_frac")).alias(
            "top_bigram_frac_micro"
        ),
    )


def _sql_lang_scores() -> str:
    return ",\n               ".join(
        f"len(list_intersect(dtoks, {str(list(LANG_MARKERS[lang])).replace(chr(34), chr(39))}))"
        f" AS s_{lang}"
        for lang in LANG_PRECEDENCE
    )


@register_query(
    "language_id",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, list_distinct({_TOKS}) AS dtoks FROM documents
        ),
        scored AS (
            SELECT doc_id,
               {_sql_lang_scores()}
            FROM base
        )
        SELECT doc_id,
               {", ".join(f"CAST(s_{lang} AS BIGINT) AS langscore_{lang}" for lang in LANG_PRECEDENCE)},
               CASE WHEN greatest({", ".join(f"s_{lang}" for lang in LANG_PRECEDENCE)}) = 0
                    THEN 'und'
                    {" ".join(
                        f"WHEN s_{lang} = greatest({', '.join(f's_{x}' for x in LANG_PRECEDENCE)}) THEN '{lang}'"
                        for lang in LANG_PRECEDENCE
                    )}
                    ELSE 'und' END AS lang_pred
        FROM scored
    """,
    doc="Marker-token language ID: distinct marker hits per language, "
    "argmax with fixed precedence; per-row expression only.",
    tags=("llm", "text"),
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = language_id(docs)
    return out.select(
        "doc_id",
        *[f"langscore_{lang}" for lang in LANG_PRECEDENCE],
        "lang_pred",
    )


def _sql_gopher() -> str:
    """DuckDB replay of the full Gopher rule battery (text.py
    gopher_quality_flags), written against the operator's documented
    semantics: whitespace tokens over lower(trim(text)); dup-line
    gates over NON-EMPTY lines (repetition_signals' universe);
    bullet/ellipsis shape gates over NON-BLANK lines; every rule's
    published threshold; flags are booleans — hash-exact by
    construction."""
    stop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return rf"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> length(l) > 0) AS lines_dup,
             list_filter(string_split(text, chr(10)),
                         l -> length(trim(l)) > 0) AS lines_shape
      FROM documents
    ),
    words AS (
      SELECT doc_id,
             count(*)::BIGINT AS n_words,
             sum(length(w))::BIGINT AS word_chars,
             count(*) FILTER (regexp_matches(w, '\p{{L}}'))::BIGINT AS n_alpha,
             count(DISTINCT w) FILTER (w IN ({stop}))::BIGINT AS n_stop
      FROM base, unnest(toks) AS t(w) GROUP BY doc_id
    ),
    dupstats AS (
      SELECT doc_id,
             sum(c)::BIGINT AS n_lines,
             count(*)::BIGINT AS n_distinct,
             sum(c * length(ln))::BIGINT AS chars,
             coalesce(sum(c * length(ln)) FILTER (c >= 2), 0)::BIGINT AS dup_chars
      FROM (SELECT doc_id, ln, count(*)::BIGINT AS c
            FROM base, unnest(lines_dup) AS l(ln) GROUP BY doc_id, ln)
      GROUP BY doc_id
    ),
    shapestats AS (
      SELECT doc_id,
             count(*)::BIGINT AS n_lines,
             count(*) FILTER (regexp_matches(trim(ln), '^[-*•‣▪●]'))::BIGINT
               AS n_bullet,
             count(*) FILTER (regexp_matches(trim(ln), '(\.\.\.|…)$'))::BIGINT
               AS n_ellipsis
      FROM base, unnest(lines_shape) AS l(ln) GROUP BY doc_id
    ),
    bigrams AS (
      SELECT doc_id, max(c)::BIGINT AS top_bg, sum(c)::BIGINT AS n_bg
      FROM (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg,
                   count(*)::BIGINT AS c
            FROM base, unnest(range(1, len(toks))) AS r(i)
            GROUP BY doc_id, bg)
      GROUP BY doc_id
    ),
    syms AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '#'))::BIGINT AS n_hash,
             (len(regexp_extract_all(text, '\.\.\.'))
              + len(regexp_extract_all(text, '…')))::BIGINT AS n_ell
      FROM base
    ),
    flags AS (
      SELECT b.doc_id,
        coalesce(w.n_words >= 50 AND w.n_words <= 100000, FALSE)
          AS gopher_ok_word_count,
        coalesce(w.word_chars / w.n_words::DOUBLE >= 3.0
                 AND w.word_chars / w.n_words::DOUBLE <= 10.0, FALSE)
          AS gopher_ok_mean_word_len,
        coalesce(s.n_hash / w.n_words::DOUBLE <= 0.1, FALSE)
          AS gopher_ok_hash_ratio,
        coalesce(s.n_ell / w.n_words::DOUBLE <= 0.1, FALSE)
          AS gopher_ok_ellipsis_ratio,
        coalesce(coalesce(p.n_bullet / p.n_lines::DOUBLE, 0.0) <= 0.9, FALSE)
          AS gopher_ok_bullet_lines,
        coalesce(coalesce(p.n_ellipsis / p.n_lines::DOUBLE, 0.0) <= 0.3, FALSE)
          AS gopher_ok_ellipsis_lines,
        coalesce(w.n_alpha / w.n_words::DOUBLE >= 0.8, FALSE)
          AS gopher_ok_alpha_words,
        coalesce(w.n_stop >= 2, FALSE) AS gopher_ok_stopwords,
        coalesce(coalesce(1.0 - d.n_distinct / d.n_lines::DOUBLE, 0.0) <= 0.3,
                 FALSE) AS gopher_ok_dup_lines,
        coalesce(coalesce(d.dup_chars / d.chars::DOUBLE, 0.0) <= 0.2, FALSE)
          AS gopher_ok_dup_line_chars,
        coalesce(coalesce(g.top_bg / g.n_bg::DOUBLE, 0.0) <= 0.2, FALSE)
          AS gopher_ok_top_bigram
      FROM base b
      LEFT JOIN words w USING (doc_id)
      LEFT JOIN dupstats d USING (doc_id)
      LEFT JOIN shapestats p USING (doc_id)
      LEFT JOIN bigrams g USING (doc_id)
      LEFT JOIN syms s USING (doc_id)
    )
    SELECT *,
           ({" AND ".join(GOPHER_FLAGS)}) AS gopher_keep
    FROM flags
    """


@register_query(
    "gopher_quality_flags",
    oracle=_sql_gopher(),
    doc="The Gopher document-quality rule battery (Rae et al. 2021, "
    "Appendix A1.1) with the published thresholds: word count, mean "
    "word length, per-symbol #/ellipsis ratios, bullet/ellipsis line "
    "shapes, unicode-alpha word fraction, stopword presence, the "
    "repetition gates (dup lines / dup line chars / top bigram), and "
    "the AND-of-all keep flag. Row-local projections over one scan — "
    "shuffle-free, UDF-free. Promoted to the oracle gate in r14 "
    "(r13 VERDICT item 2), swapping out embedding_near_duplicates.",
    tags=("llm", "text", "quality", "gopher"),
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality_flags(docs).select(
        "doc_id", *GOPHER_FLAGS, "gopher_keep"
    )


# ---------------------------------------------------------------------------
# Exact dedup (fingerprint)


@register_query(
    "fingerprint_dedup",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, upper('  ' || text) FROM documents
        ),
        fp AS (
            SELECT doc_id,
                   sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fingerprint
            FROM corpus
        )
        SELECT fingerprint,
               min(doc_id) AS canonical_id,
               CAST(count(*) AS BIGINT) AS dup_count
        FROM fp GROUP BY fingerprint HAVING count(*) > 1
    """,
    doc="Exact content dedup via normalized-text sha256 fingerprint; "
    "the corpus is documents ∪ a case/whitespace-mutated copy, so every "
    "fingerprint collapses exactly 2 rows. One hash shuffle — the "
    "content twin of the reference's merge-key dedup (J2).",
    tags=("llm", "dedup"),
)
def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"))).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    return duplicate_groups(corpus, "text", "doc_id")


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup dedup


# (the former ``minhash_signature`` registry row was retired in r10 —
# its computation is strictly a sub-CTE of ``minhash_near_duplicates``'s
# oracle, so it bought no independent coverage; the signature function
# keeps its direct pin in tests/test_llm_ops.py.  The freed slot went
# to ``incremental_replication_parity`` in core_queries.py.)


@register_query(
    "minhash_near_duplicates",
    oracle=_sql_sig_cte()
    + f""", bands AS ({_sql_bands()}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band_id, band_key)
            WHERE a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT p.id_a, p.id_b,
                   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                   CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                       AS jaccard
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.id_a
            JOIN sig sb ON sb.doc_id = p.id_b
        )
        SELECT id_a, id_b, {_micro("jaccard")} AS jaccard_micro
        FROM verified WHERE jaccard >= {MINHASH_MIN_JACCARD}
    """,
    doc=f"Full near-dup pipeline: LSH banding ({NUM_BANDS} bands × "
    f"{NUM_HASHES // NUM_BANDS} rows) candidates verified by exact "
    "shingle-set Jaccard ≥ threshold — the oracle re-derives the "
    "candidate stage (former minhash_lsh_candidates entry, consolidated "
    "here; candidate_pairs/lsh_bands stay pytest-covered in "
    "tests/test_llm_ops.py). Equi-join on the band key only — NEVER an "
    "all-pairs cross join; shingle arrays travel only for candidate "
    "rows.",
    tags=("llm", "dedup", "minhash"),
)
def q_minhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nd = near_duplicates(
        docs.select("doc_id", "text"), min_jaccard=MINHASH_MIN_JACCARD
    )
    return nd.select(
        "id_a", "id_b", micro_col(F.col("jaccard")).alias("jaccard_micro")
    )


@register_query(
    "dedup_clusters",
    oracle=_sql_sig_cte().replace("WITH base", "WITH RECURSIVE base", 1)
    + f""", bands AS ({_sql_bands()}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band_id, band_key)
            WHERE a.doc_id < b.doc_id
        ),
        dup AS (
            SELECT p.id_a, p.id_b
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.id_a
            JOIN sig sb ON sb.doc_id = p.id_b
            WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                  >= {MINHASH_MIN_JACCARD}
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM dup
            UNION SELECT id_b, id_a FROM dup
        ),
        walk(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
        ),
        comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node)
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               (d.doc_id = coalesce(c.cluster_id, d.doc_id)) AS is_canonical
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    doc="Near-dup CLUSTERING: verified minhash pairs → connected "
    "components via iterative min-label propagation on DataFrames "
    "(operators/clustering.py — no graph library; one join + groupBy "
    "min per round, localCheckpoint-truncated lineage, O(diameter) "
    "rounds) → every doc labeled with its cluster's min id; exactly "
    "one canonical doc per cluster. The oracle replays components with "
    "a recursive CTE — the keep-one-per-cluster step every production "
    "dedup pipeline runs after pair mining.",
    tags=("llm", "dedup", "clustering"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.clustering import dedup_assignment

    docs = load_table(spark, sf_dir, "documents")
    nd = near_duplicates(
        docs.select("doc_id", "text"), min_jaccard=MINHASH_MIN_JACCARD
    )
    return dedup_assignment(docs, nd.select("id_a", "id_b"))


# ---------------------------------------------------------------------------
# SimHash


def _sql_hamming(a: str, b: str, bits: int = SIMHASH_BITS) -> str:
    terms = [
        f"CASE WHEN substr({a}, {i + 1}, 1) <> substr({b}, {i + 1}, 1) THEN 1 ELSE 0 END"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def simhash_oracle_sql() -> str:
    """The retired ``simhash_near_duplicates`` driver oracle, kept as
    the single source of truth for the pytest replay that now carries
    the cross-engine pin (tests/test_llm_ops.py)."""
    return (
        _sql_simhash_cte()
        + f""", chunks AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, simhash, {c} AS chunk_id, "
                f"substr(simhash, {c * (SIMHASH_BITS // SIMHASH_CHUNKS) + 1}, "
                f"{SIMHASH_BITS // SIMHASH_CHUNKS}) AS chunk_value FROM sig"
                for c in range(SIMHASH_CHUNKS)
            )}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM chunks a JOIN chunks b USING (chunk_id, chunk_value)
            WHERE a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST({_sql_hamming("sh_a", "sh_b")} AS BIGINT) AS hamming
        FROM pairs
        WHERE {_sql_hamming("sh_a", "sh_b")} <= {SIMHASH_CHUNKS - 1}
    """
    )


# (r14) simhash_near_duplicates retired from the registry in favor of
# semantic_duplicates (SemDeDup) — the 50-row cap trade named by the
# r13 verdict (item 1). The SimHash operator stays fully covered: the
# exact driver oracle above now runs as a DuckDB replay in
# tests/test_llm_ops.py, the near-dup family keeps driver rows via
# minhash_near_duplicates / char_ngram_near_duplicates /
# dedup_clusters, and the signature byte pins remain in test_llm_ops.


# ---------------------------------------------------------------------------
# Embedding similarity


def _queries_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id").isin(list(ANN_QUERY_IDS)))


# cosine_topk_bruteforce left the registry in r9 (its slot went to
# redact_pii — VERDICT r8 item 6); the exact baseline operator
# (similarity.cosine_topk) remains the ANN ground truth in
# tests/test_llm_ops.py, which calls it directly.


def embedding_neardup_oracle_sql() -> str:
    """The retired ``embedding_near_duplicates`` driver oracle, kept as
    the single source of truth for the pytest replay that now carries
    the cross-engine pin (tests/test_llm_ops.py)."""
    return f"""
        WITH b AS (
            SELECT vec_id, {_sql_vec()} AS v,
                   {_sql_lsh_bucket(_sql_vec(), random_planes(NEARDUP_PLANES))} AS bucket
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                   {_sql_cosine("a.v", "b2.v")} AS sim
            FROM b a JOIN b b2 USING (bucket)
            WHERE a.vec_id < b2.vec_id
        )
        SELECT id_a, id_b, {_micro("sim")} AS cosine_micro
        FROM pairs WHERE sim >= {NEARDUP_MIN_COSINE}
    """


def embedding_neardup_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retired driver builder, reused by the pytest replay."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_near_duplicates(
        emb,
        planes=random_planes(NEARDUP_PLANES),
        min_cosine=NEARDUP_MIN_COSINE,
    )
    return out.select(
        "id_a", "id_b", micro_col(F.col("cosine")).alias("cosine_micro")
    )


# (r14) embedding_near_duplicates retired from the registry in favor
# of gopher_quality_flags — the 50-row cap trade named by the r13
# verdict (item 2). Its LSH-bucket machinery stays driver-covered by
# ann_lsh_multiprobe (same buckets + multiprobe) and the dedup-index
# parity row; the exact oracle above runs as a DuckDB replay in
# tests/test_llm_ops.py.


# ---------------------------------------------------------------------------
# Multimodal plumbing


@register_query(
    "multimodal_pipeline",
    oracle=f"""
        WITH h AS (SELECT doc_id, text, octet_length(encode(text)) AS blen,
                          sha256(text) AS ch FROM documents),
        wsamp AS (
            SELECT d.doc_id, i.r AS i,
                   CASE WHEN (d.doc_id * 7 + i.r * 13) % 2000 - 1000 >= 0
                        THEN (d.doc_id * 7 + i.r * 13) % 2000 - 999
                        ELSE (d.doc_id * 7 + i.r * 13) % 2000 - 1000
                   END AS s
            FROM documents d CROSS JOIN range(0, 114) i(r)
            WHERE i.r < 50 + d.doc_id % 64
        ),
        wagg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_audio_frames,
                   CAST(count(*) * 1000000 // 8000 AS BIGINT) AS duration_micro,
                   CAST(max(abs(s)) AS BIGINT) AS peak_abs,
                   CAST(sum(abs(s)) * 1000000 // count(*) AS BIGINT)
                       AS mean_abs_micro
            FROM wsamp GROUP BY doc_id
        ),
        wzc AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN sign(s) <> sign(prev) THEN 1 ELSE 0 END)
                        AS BIGINT) AS zero_crossings
            FROM (
                SELECT doc_id, s,
                       lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                FROM wsamp
            ) WHERE prev IS NOT NULL
            GROUP BY doc_id
        )
        SELECT h.doc_id,
               CAST(blen AS BIGINT) AS byte_len,
               lower(substr(hex(encode(text)), 1, 8)) AS header_hex,
               ch AS content_hash,
               'application/octet-stream' AS media_type,
               CAST(64 + {_hex4_to_int("ch")} % 1024 AS BIGINT) AS width,
               CAST(64 + {_hex4_to_int("substr(ch, 5, 4)")} % 1024 AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS n_channels,
               ch AS feature_hash,
               CAST((blen + 63) // 64 AS BIGINT) AS n_frames,
               CAST(8000 AS BIGINT) AS sample_rate,
               a.n_audio_frames, a.duration_micro, a.peak_abs,
               a.mean_abs_micro, z.zero_crossings,
               CAST((500 + (h.doc_id * 37) % 4000) * 1000 AS BIGINT)
                   AS mp4_duration_micro,
               CAST(1 + h.doc_id % 3 AS BIGINT) AS mp4_n_tracks,
               CAST(160 + (h.doc_id * 7) % 320 AS BIGINT) AS mp4_width,
               CAST(120 + (h.doc_id * 13) % 240 AS BIGINT) AS mp4_height,
               CASE CAST(h.doc_id % 3 AS INT)
                    WHEN 0 THEN 'avc1'
                    WHEN 1 THEN 'avc1,mp4a'
                    ELSE 'avc1,mp4a,mp4a'
               END AS mp4_codecs
        FROM h
        JOIN wagg a ON a.doc_id = h.doc_id
        JOIN wzc z ON z.doc_id = h.doc_id
    """,
    doc="Multimodal plumbing in one per-doc row: typed metadata over "
    "the opaque binary payload (JVM built-ins), the mapInPandas Arrow "
    "image-decode path with the DETERMINISTIC FAKE codec (no image codec "
    "library here; fake=False is the stub boundary), the 1-row→N-frames "
    "sampling shape verified by per-doc frame counts, and a REAL AUDIO "
    "facet: every doc gets a complete PCM WAV (zero-free closed-form "
    "samples) whose RIFF chunks are walked and 16-bit PCM decoded "
    "(codecs.wav_features), surfacing duration/peak/mean-abs/"
    "zero-crossings as exact integers the oracle restates in SQL "
    "(lag-based sign-flip count). r6 adds a REAL MP4 CONTAINER facet — "
    "each doc gets a spec-valid ISO BMFF file (ftyp/moov/mvhd/trak/"
    "tkhd/mdhd/hdlr/stsd) and codecs.parse_mp4 box-walks duration/"
    "track-count/codecs/dimensions back out, closed-form in the oracle "
    "(sample decode stays the stub; the container no longer is) — and "
    "FUSES all facets into one Arrow pass (multimodal.pipeline_facets); "
    "the composable chain remains available and equivalence-tested. "
    "The oracle checks the full Python-worker round trip "
    "byte-for-byte.",
    tags=("llm", "multimodal", "pandas-udf"),
)
def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.multimodal import (
        pipeline_facets,
    )

    docs = load_table(spark, sf_dir, "documents")
    payload = with_binary_payload(docs)
    md = payload_metadata(payload).select(
        "doc_id", "byte_len", "header_hex", "content_hash", "media_type"
    )
    return md.join(pipeline_facets(payload), "doc_id")


# (the former ``multimodal_image_dims`` registry row was retired in
# r12, and the image/AVI decoders it exercised have since been deleted:
# no registry row or pipeline decodes pixels.  The registry's multimodal
# coverage continues through ``multimodal_pipeline`` (typed metadata,
# mapInPandas round trip, real WAV PCM decode, real MP4 container walk,
# frame sampling), whose WAV/MP4 decoders stay pinned by known-bytes and
# property tests (tests/test_codecs.py, tests/test_codec_properties.py)
# and whose fused pass is equivalence-tested against the composable
# chain (tests/test_multimodal.py).  The freed slot under the driver's
# 50-row cap went to ``duplicate_spans`` — the Lee-et-al. exact span
# dedup.)


IVF_NUM_CENTROIDS = 8
IVF_NPROBE = 2
IVF_TRAIN_ITERS = 2


def _sql_kmedians_iter(i: int, dim: int) -> str:
    """One Lloyd's k-medians iteration as CTEs: cent{i-1} → cent{i}.
    Assignment = cosine argmax (ties → lower cid), update = per-dim
    MEDIAN (order-independent — bit-identical to Spark's F.median, see
    operators/similarity.py train_ivf_centroids). Empty cells keep
    their previous centroid via the LEFT JOIN + coalesce; an all-zero
    median (members on disjoint axes — no cosine direction) ALSO keeps
    the previous centroid, mirroring the operator's zero guard."""
    return f"""
        a{i} AS (
            SELECT vec_id, cid FROM (
                SELECT c.vec_id, ct.cid, ROW_NUMBER() OVER (
                    PARTITION BY c.vec_id
                    ORDER BY {_sql_cosine("c.v", "ct.cv")} DESC, ct.cid ASC) AS rn
                FROM corpus c CROSS JOIN cent{i - 1} ct
            ) WHERE rn = 1
        ),
        m{i} AS (
            SELECT a.cid, d.pos, median(c.v[d.pos]) AS m
            FROM a{i} a JOIN corpus c USING (vec_id)
            CROSS JOIN range(1, {dim + 1}) AS d(pos)
            GROUP BY a.cid, d.pos
        ),
        cent{i} AS (
            SELECT p.cid,
                   CASE WHEN n.cv IS NULL OR NOT list_has_any(
                            list_transform(n.cv, x -> x <> 0.0), [true])
                        THEN p.cv ELSE n.cv END AS cv
            FROM cent{i - 1} p LEFT JOIN (
                SELECT cid, list(m ORDER BY pos) AS cv FROM m{i} GROUP BY cid
            ) n USING (cid)
        )"""


@register_query(
    "ann_ivf_topk",
    oracle=f"""
        WITH corpus AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
        cent0 AS (
            SELECT vec_id AS cid, v AS cv FROM corpus
            WHERE vec_id < {IVF_NUM_CENTROIDS}
        ),
        {",".join(_sql_kmedians_iter(i + 1, 64) for i in range(IVF_TRAIN_ITERS))},
        cent AS (SELECT cid, cv FROM cent{IVF_TRAIN_ITERS}),
        assigned AS (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM (
                SELECT c.vec_id, ct.cid, {_sql_cosine("c.v", "ct.cv")} AS sim
                FROM corpus c CROSS JOIN cent ct
            )
        ),
        cells AS (SELECT vec_id AS neighbor_id, cid FROM assigned WHERE rn = 1),
        qprobe AS (
            SELECT vec_id AS query_id, cid FROM assigned
            WHERE rn <= {IVF_NPROBE} AND vec_id IN {ANN_QUERY_IDS}
        ),
        scored AS (
            SELECT q.query_id, c.neighbor_id,
                   {_sql_cosine("qv.v", "cv.v")} AS sim
            FROM qprobe q
            JOIN cells c USING (cid)
            JOIN corpus qv ON qv.vec_id = q.query_id
            JOIN corpus cv ON cv.vec_id = c.neighbor_id
            WHERE c.neighbor_id <> q.query_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
            FROM scored
        )
        SELECT query_id, neighbor_id, {_micro("sim")} AS cosine_micro
        FROM ranked WHERE rn <= {ANN_K}
    """,
    doc=f"IVF ANN with TRAINED centroids: {IVF_TRAIN_ITERS} Lloyd's "
    f"k-medians iterations (assignment = broadcast argmax join, update "
    f"= per-dim median — order-independent, so the oracle reproduces "
    f"training bit-for-bit in SQL), then corpus assigned to nearest of "
    f"{IVF_NUM_CENTROIDS} cells and queries probe their {IVF_NPROBE} "
    "nearest; exact cosine top-k within probed cells only. The "
    "coarse-quantizer scale path alongside ann_lsh_topk.",
    tags=("llm", "similarity", "ivf"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(
        emb, k=IVF_NUM_CENTROIDS, iters=IVF_TRAIN_ITERS
    )
    out = ivf_topk(
        emb, _queries_subset(spark, sf_dir), centroids, k=ANN_K, nprobe=IVF_NPROBE
    )
    return out.select(
        "query_id", "neighbor_id", micro_col(F.col("cosine")).alias("cosine_micro")
    )


SEMDEDUP_TAU = 0.35  # data-appropriate: the testdata clusters are loose


@register_query(
    "semantic_duplicates",
    oracle=f"""
        WITH corpus AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
        cent0 AS (
            SELECT vec_id AS cid, v AS cv FROM corpus
            WHERE vec_id < {IVF_NUM_CENTROIDS}
        ),
        {",".join(_sql_kmedians_iter(i + 1, 64) for i in range(IVF_TRAIN_ITERS))},
        cent AS (SELECT cid, cv FROM cent{IVF_TRAIN_ITERS}),
        assigned AS (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM (
                SELECT c.vec_id, ct.cid, {_sql_cosine("c.v", "ct.cv")} AS sim
                FROM corpus c CROSS JOIN cent ct
            )
        ),
        scored AS (
            SELECT c.vec_id, a.cid AS cell, c.v,
                   {_sql_cosine("c.v", "ct.cv")} AS cs
            FROM corpus c
            JOIN assigned a ON a.vec_id = c.vec_id AND a.rn = 1
            JOIN cent ct ON ct.cid = a.cid
        ),
        losers AS (
            SELECT DISTINCT a.vec_id
            FROM scored a JOIN scored b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
            WHERE {_sql_cosine("a.v", "b.v")} >= {SEMDEDUP_TAU}
              AND (b.cs < a.cs OR (b.cs = a.cs AND b.vec_id < a.vec_id))
        )
        SELECT s.vec_id, s.cell, {_micro("s.cs")} AS cent_sim_micro,
               s.vec_id IN (SELECT vec_id FROM losers) AS is_semantic_dup
        FROM scored s
    """,
    doc=f"SemDeDup (Abbas et al. 2023): k-medians training "
    f"({IVF_TRAIN_ITERS} iters, reproduced bit-for-bit in SQL), corpus "
    f"assigned to nearest of {IVF_NUM_CENTROIDS} cells, semantic-dup "
    f"pairs WITHIN a cell at cosine >= {SEMDEDUP_TAU}; the kept member "
    "is the LOWER centroid-similarity one (the paper's outer-shell "
    "keep rule, ties -> lower id). Cell equi-join only — work is "
    "sum(|cell|^2), never all-pairs. Promoted to the oracle gate in "
    "r14 (r13 VERDICT item 1), swapping out simhash_near_duplicates.",
    tags=("llm", "similarity", "dedup", "semdedup"),
)
def q_semantic_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.similarity import (
        semantic_duplicates,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, k=IVF_NUM_CENTROIDS, iters=IVF_TRAIN_ITERS)
    out = semantic_duplicates(emb, cents, tau=SEMDEDUP_TAU)
    return out.select(
        "vec_id",
        "cell",
        micro_col(F.col("cent_sim")).alias("cent_sim_micro"),
        "is_semantic_dup",
    )


# ---------------------------------------------------------------------------
# IVF-PQ ANN (r15 — promoted to the oracle gate per the r14 verdict,
# item 3: the PQ family's first driver row; the freed slot came from
# topk_orders — sql_queries.py keeps its exact replay). The oracle
# reproduces the ENTIRE pipeline in SQL: IVF k-medians training (the
# _sql_kmedians_iter chain above), cell assignment, residuals, PQ
# codebook training (farthest-point seeding + L2 k-medians), residual
# encoding, query probing, per-(query, cell) residual LUTs, and the
# ADC fold — every float a left-to-right list fold, every argmin/argmax
# tie to the lower id/code, medians order-independent (the
# semantic_duplicates discipline extended one tier down).

PQIVF_M = 4  # 4 subspaces × 16 dims over the 64-dim embeddings
PQIVF_CODES = 8
PQIVF_ITERS = 1  # one Lloyd's round after seeding (driver-row geometry)
_PQIVF_D = 64 // PQIVF_M


def _sql_l2sq(a: str, b: str) -> str:
    """Squared L2 as the same list fold Spark's l2sq_expr performs —
    bit-identical across engines (the test_pq replay convention)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def _sql_pq_seed_step(t: int) -> str:
    """One farthest-point pick: min-distance to the chosen seeds per
    (sub, candidate) — min over identical floats is order-independent,
    matching the operator's incremental update — then argmax with ties
    to the lower vec_id (pq._maxmin_seeds). Candidates come from
    ``ssubs`` — the SAMPLE-restricted residual subvectors — because the
    operator seeds over at most PQ_SEED_SAMPLE_CAP lowest-sha256(id)
    rows, not the full corpus (r15 ADVICE: seeding over full rsubs made
    parity silently depend on the corpus fitting the cap — true at
    sf0.01's 500 rows, false at sf0.1's 2000)."""
    return f"""
        mind{t} AS MATERIALIZED (
            SELECT r.sub, r.vec_id, min({_sql_l2sq("r.sv", "s.sv")}) AS md
            FROM ssubs r JOIN seed{t - 1} s ON r.sub = s.sub
            GROUP BY r.sub, r.vec_id
        ),
        pick{t} AS MATERIALIZED (
            SELECT sub, vec_id FROM (
                SELECT sub, vec_id, ROW_NUMBER() OVER (
                    PARTITION BY sub ORDER BY md DESC, vec_id ASC) AS rn
                FROM mind{t}
            ) WHERE rn = 1
        ),
        seed{t} AS MATERIALIZED (
            SELECT * FROM seed{t - 1}
            UNION ALL
            SELECT r.sub, {t} AS code, r.vec_id, r.sv
            FROM ssubs r JOIN pick{t} p
              ON r.sub = p.sub AND r.vec_id = p.vec_id
        )"""


def _sql_pq_train_iter(i: int) -> str:
    """One per-subspace L2 k-medians round: argmin assignment (ties →
    lower code), per-dimension median update; empty cells keep the
    previous vector, all-zero medians are KEPT (the L2 rule — no
    cosine zero-direction guard, r14 ADVICE)."""
    return f"""
        pqa{i} AS MATERIALIZED (
            SELECT vec_id, sub, code FROM (
                SELECT r.vec_id, r.sub, b.code, ROW_NUMBER() OVER (
                    PARTITION BY r.vec_id, r.sub
                    ORDER BY {_sql_l2sq("r.sv", "b.cv")} ASC, b.code ASC) AS rn
                FROM rsubs r JOIN book{i - 1} b ON r.sub = b.sub
            ) WHERE rn = 1
        ),
        pqm{i} AS MATERIALIZED (
            SELECT a.sub, a.code, p.pos, median(r.sv[p.pos]) AS mv
            FROM pqa{i} a JOIN rsubs r
              ON a.vec_id = r.vec_id AND a.sub = r.sub
            CROSS JOIN range(1, {_PQIVF_D + 1}) AS p(pos)
            GROUP BY a.sub, a.code, p.pos
        ),
        book{i} AS MATERIALIZED (
            SELECT b.sub, b.code, COALESCE(n.cv, b.cv) AS cv
            FROM book{i - 1} b LEFT JOIN (
                SELECT sub, code, list(mv ORDER BY pos) AS cv
                FROM pqm{i} GROUP BY sub, code
            ) n ON b.sub = n.sub AND b.code = n.code
        )"""


@register_query(
    "ivfpq_topk",
    oracle=f"""
        WITH corpus AS MATERIALIZED (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
        cent0 AS (
            SELECT vec_id AS cid, v AS cv FROM corpus
            WHERE vec_id < {IVF_NUM_CENTROIDS}
        ),
        {",".join(_sql_kmedians_iter(i + 1, 64) for i in range(IVF_TRAIN_ITERS))},
        cent AS MATERIALIZED (SELECT cid, cv FROM cent{IVF_TRAIN_ITERS}),
        assigned AS MATERIALIZED (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM (
                SELECT c.vec_id, ct.cid, {_sql_cosine("c.v", "ct.cv")} AS sim
                FROM corpus c CROSS JOIN cent ct
            )
        ),
        cellmap AS MATERIALIZED (SELECT vec_id, cid FROM assigned WHERE rn = 1),
        res AS MATERIALIZED (
            SELECT c.vec_id, m.cid,
                   list_transform(list_zip(c.v, ct.cv), p -> p[1] - p[2]) AS rv
            FROM corpus c
            JOIN cellmap m ON m.vec_id = c.vec_id
            JOIN cent ct ON ct.cid = m.cid
        ),
        rsubs AS MATERIALIZED (
            SELECT vec_id,
                   s.sub,
                   rv[s.sub * {_PQIVF_D} + 1 : (s.sub + 1) * {_PQIVF_D}] AS sv
            FROM res, (SELECT unnest(range(0, {PQIVF_M})) AS sub) s
        ),
        -- the operator's bounded seeding sample (pq.PQ_SEED_SAMPLE_CAP
        -- lowest-sha256(id) rows; the whole corpus when it fits) —
        -- mirrored here so parity holds at ANY sf, not only when the
        -- corpus fits the cap (r15 ADVICE)
        seedsample AS MATERIALIZED (
            SELECT vec_id FROM corpus
            ORDER BY sha256(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
            LIMIT {_PQ_SEED_CAP}
        ),
        ssubs AS MATERIALIZED (
            SELECT r.vec_id, r.sub, r.sv
            FROM rsubs r JOIN seedsample m ON m.vec_id = r.vec_id
        ),
        seed0 AS MATERIALIZED (
            SELECT sub, 0 AS code, vec_id, sv FROM ssubs
            WHERE vec_id = (SELECT min(vec_id) FROM seedsample)
        ),
        {",".join(_sql_pq_seed_step(t) for t in range(1, PQIVF_CODES))},
        book0 AS MATERIALIZED (SELECT sub, code, sv AS cv FROM seed{PQIVF_CODES - 1}),
        {",".join(_sql_pq_train_iter(i + 1) for i in range(PQIVF_ITERS))},
        enc AS MATERIALIZED (
            SELECT vec_id, list(code ORDER BY sub) AS codes FROM (
                SELECT r.vec_id, r.sub, b.code, ROW_NUMBER() OVER (
                    PARTITION BY r.vec_id, r.sub
                    ORDER BY {_sql_l2sq("r.sv", "b.cv")} ASC, b.code ASC) AS rn
                FROM rsubs r JOIN book{PQIVF_ITERS} b ON r.sub = b.sub
            ) WHERE rn = 1 GROUP BY vec_id
        ),
        qprobe AS (
            SELECT vec_id AS query_id, cid AS cell FROM assigned
            WHERE rn <= {IVF_NPROBE} AND vec_id IN {ANN_QUERY_IDS}
        ),
        qres AS (
            SELECT q.query_id, q.cell,
                   list_transform(list_zip(c.v, ct.cv), p -> p[1] - p[2]) AS qrv
            FROM qprobe q
            JOIN corpus c ON c.vec_id = q.query_id
            JOIN cent ct ON ct.cid = q.cell
        ),
        qrsubs AS MATERIALIZED (
            SELECT query_id, cell, s.sub,
                   qrv[s.sub * {_PQIVF_D} + 1 : (s.sub + 1) * {_PQIVF_D}] AS sv
            FROM qres, (SELECT unnest(range(0, {PQIVF_M})) AS sub) s
        ),
        lutrows AS (
            SELECT q.query_id, q.cell, q.sub, b.code,
                   {_sql_l2sq("q.sv", "b.cv")} AS l2
            FROM qrsubs q JOIN book{PQIVF_ITERS} b ON q.sub = b.sub
        ),
        lutsub AS (
            SELECT query_id, cell, sub, list(l2 ORDER BY code) AS sl
            FROM lutrows GROUP BY query_id, cell, sub
        ),
        lut AS MATERIALIZED (
            SELECT query_id, cell, list(sl ORDER BY sub) AS lt
            FROM lutsub GROUP BY query_id, cell
        ),
        scored AS (
            SELECT l.query_id, cm.vec_id AS neighbor_id,
                   list_sum(list_transform(list_zip(e.codes, l.lt),
                            p -> p[2][p[1] + 1])) AS adc
            FROM lut l
            JOIN cellmap cm ON cm.cid = l.cell
            JOIN enc e ON e.vec_id = cm.vec_id
            WHERE cm.vec_id <> l.query_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
            FROM scored
        )
        SELECT query_id, neighbor_id, {_micro("adc")} AS adc_micro
        FROM ranked WHERE rn <= {ANN_K}
    """,
    doc=f"IVF-PQ ANN (Jégou et al. 2011 §IV, the Faiss IVFPQ shape) "
    f"end-to-end: IVF k-medians coarse quantizer ({IVF_TRAIN_ITERS} "
    f"iters, trained in SQL), residual PQ codebooks ({PQIVF_M} "
    f"subspaces × {PQIVF_CODES} codes, farthest-point seeding + "
    f"{PQIVF_ITERS} L2 k-medians round — all reproduced bit-for-bit "
    f"in SQL), m-code encoding, and ADC top-{ANN_K} through the "
    f"nprobe={IVF_NPROBE} cell EQUI-join — the corpus scan reads only "
    f"the code column, never shuffles before the per-query top-k, and "
    f"only probed cells' rows are touched.",
    tags=("llm", "similarity", "pq", "ivfpq"),
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.pq import (
        ivfpq_build,
        ivfpq_topk,
    )
    from arcane_stream_parquet_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, k=IVF_NUM_CENTROIDS, iters=IVF_TRAIN_ITERS)
    index, books = ivfpq_build(
        emb, cents, m=PQIVF_M, codes=PQIVF_CODES, iters=PQIVF_ITERS
    )
    out = ivfpq_topk(
        index, _queries_subset(spark, sf_dir), cents, books,
        k=ANN_K, nprobe=IVF_NPROBE,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        micro_col(F.col("adc_l2sq")).alias("adc_micro"),
    )


CHAR_NGRAM_K = 5
CHAR_NGRAM_BANDS = 2  # 2 bands x 4 rows: collision threshold ~ 0.84
CHAR_NGRAM_MIN_JACCARD = 0.6


# DuckDB replay of operators/minhash.py's rolling-hash char-gram
# signatures: polynomial fold mod 2^64 in HUGEINT (products stay under
# 2^127 because ROLL_B and every mixer A are < 2^63), codes via ord()
# over the ASCII-normalized text.  Band keys / gram hashes never cross
# engines — only (id_a, id_b, jaccard_micro) does — so the unsigned
# HUGEINT values here and Spark's signed-long reinterpretation need no
# conversion: the mapping is bijective, preserving equality, set sizes
# and the unsigned min (numpy takes the min in uint64 space too).
_ROLL_M64 = str(1 << 64)


def _sql_roll_fold(lst: str) -> str:
    from arcane_stream_parquet_spark.operators.minhash import ROLL_B

    return (
        f"list_reduce(list_prepend(CAST(1 AS HUGEINT), {lst}), "
        f"(a, c) -> (a * {ROLL_B} + c) % {_ROLL_M64})"
    )


def _sql_roll_minhash(seed: int) -> str:
    # replicates minhash.rolling_char_signature's finalized mixer:
    # v = g*A_s + C_s; v += v>>32; v *= A2; v += v>>32 (all mod 2^64);
    # v >> 32 on a non-negative HUGEINT is integer division by 2^32
    from arcane_stream_parquet_spark.operators.minhash import (
        ROLL_FINAL_A2,
        ROLL_MIX,
    )

    a, c = ROLL_MIX[seed]
    v1 = f"((g * {a} + {c}) % {_ROLL_M64})"
    v2 = f"(({v1} + {v1} // 4294967296) % {_ROLL_M64})"
    v3 = f"(({v2} * {ROLL_FINAL_A2}) % {_ROLL_M64})"
    v4 = f"(({v3} + {v3} // 4294967296) % {_ROLL_M64})"
    return f"list_min(list_transform(gs, g -> {v4}))"


@register_query(
    "char_ngram_near_duplicates",
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   lower(trim(regexp_replace(text, '[^ -~]', '', 'g'))) AS t
            FROM documents
        ),
        codes AS (
            SELECT doc_id, length(t) AS n,
                   list_transform(range(1, length(t) + 1),
                       i -> CAST(ord(substr(t, i, 1)) AS HUGEINT)) AS cs
            FROM base
        ),
        grams AS (
            SELECT doc_id,
                CASE WHEN n < {CHAR_NGRAM_K}
                    THEN [{_sql_roll_fold("cs")}]
                    ELSE list_distinct(list_transform(
                        range(1, n - {CHAR_NGRAM_K} + 2),
                        i -> {_sql_roll_fold(f"list_slice(cs, i, i + {CHAR_NGRAM_K - 1})")}))
                END AS gs
            FROM codes
        ),
        sig AS (
            SELECT doc_id, gs,
               {", ".join(f"{_sql_roll_minhash(s)} AS mh_{s}" for s in range(NUM_HASHES))}
            FROM grams
        ),
        bands AS (
            SELECT doc_id, 0 AS band_id,
                   concat_ws('|', mh_0, mh_1, mh_2, mh_3) AS band_key
            FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band_id,
                   concat_ws('|', mh_4, mh_5, mh_6, mh_7) AS band_key
            FROM sig
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band_id, band_key)
            WHERE a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT p.id_a, p.id_b,
                   CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE) /
                   CAST(len(sa.gs) + len(sb.gs)
                        - len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
                       AS jaccard
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.id_a
            JOIN sig sb ON sb.doc_id = p.id_b
        )
        SELECT id_a, id_b, {_micro("jaccard")} AS jaccard_micro
        FROM verified WHERE jaccard >= {CHAR_NGRAM_MIN_JACCARD}
    """,
    doc=f"Character {CHAR_NGRAM_K}-gram Jaccard near-dup (the n-gram "
    "flavor of the dedup ladder — robust to word-boundary edits): "
    "rolling-hash gram signatures (one vectorized Arrow pass, no "
    "per-gram string materialization — r5's GC-bimodality fix) through "
    "the same LSH machinery, with STRICTER banding "
    f"({CHAR_NGRAM_BANDS} bands × {NUM_HASHES // CHAR_NGRAM_BANDS} rows "
    "≈ 0.84 collision threshold) — char-gram similarity has a high "
    "baseline on shared-vocabulary corpora, so loose bands would flood "
    "the candidate stage.",
    tags=("llm", "dedup", "minhash", "ngram"),
)
def q_char_ngram_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.minhash import (
        rolling_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents")
    nd = rolling_near_duplicates(
        docs.select("doc_id", "text"),
        num_bands=CHAR_NGRAM_BANDS,
        min_jaccard=CHAR_NGRAM_MIN_JACCARD,
        k=CHAR_NGRAM_K,
    )
    return nd.select(
        "id_a", "id_b", micro_col(F.col("jaccard")).alias("jaccard_micro")
    )


_PPLX_LAM = 0.7
_PPLX_REF_MOD = 31
_PPLX_QUANTIZE = 6


def _pplx_pairs_sql(src: str) -> str:
    """(doc_id, pw, w) token-bigram rows, the DuckDB twin of
    ngram_perplexity's ``pairs`` stage (whitespace tokens, lowercased,
    empties dropped; first token gets pw NULL)."""
    return rf"""
        SELECT doc_id,
               CASE WHEN i > 0 THEN tk[i] END AS pw,
               tk[i+1] AS w
        FROM (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(lower(trim(text)), '\s+'),
                       t -> t <> '') AS tk
            FROM {src}
        ), UNNEST(range(0, len(tk))) u(i)
    """


@register_query(
    "ngram_perplexity",
    oracle=f"""
        WITH rp AS ({_pplx_pairs_sql(f"(SELECT * FROM documents WHERE doc_id % {_PPLX_REF_MOD} = 0)")}),
             cp AS ({_pplx_pairs_sql("documents")}),
             uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
                     FROM rp GROUP BY w),
             big AS (SELECT pw, w, CAST(count(*) AS BIGINT) AS c2
                     FROM rp WHERE pw IS NOT NULL GROUP BY pw, w),
             consts AS (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) AS n1,
                               CAST(count(*) + 1 AS BIGINT) AS v
                        FROM uni),
             scored AS (
                 SELECT cp.doc_id,
                        CAST(floor(ln(
                            CASE WHEN up.c1 IS NOT NULL
                                 THEN CAST('{_PPLX_LAM!r}' AS DOUBLE)
                                      * (CAST(coalesce(b.c2, 0) AS DOUBLE)
                                         / up.c1)
                                      + CAST('{1.0 - _PPLX_LAM!r}' AS DOUBLE)
                                        * ((coalesce(u.c1, 0) + 1.0)
                                           / (k.n1 + k.v))
                                 ELSE (coalesce(u.c1, 0) + 1.0)
                                      / (k.n1 + k.v)
                            END) * 1000000.0) AS BIGINT) AS lp
                 FROM cp
                 LEFT JOIN uni u ON u.w = cp.w
                 LEFT JOIN uni up ON up.w = cp.pw
                 LEFT JOIN big b ON b.pw = cp.pw AND b.w = cp.w
                 CROSS JOIN consts k
             ),
             agg AS (
                 SELECT doc_id,
                        CAST(count(*) AS BIGINT) AS n_tokens,
                        (CAST(sum(lp) AS DOUBLE) / 1000000.0) / count(*)
                            AS logprob_per_token
                 FROM scored GROUP BY doc_id
             )
        SELECT d.doc_id,
               CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
               a.logprob_per_token
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc="CCNet-style n-gram LM perplexity filter (Wenzek et al. 2020, "
    "operators/text.py ngram_perplexity): every document scored by "
    "its mean token log-probability under an interpolated bigram LM "
    f"(lam={_PPLX_LAM}, add-one unigram backoff) trained on the "
    f"deterministic doc_id % {_PPLX_REF_MOD} reference slice. "
    "quantize=6 floors each token's log-prob to micro-units so the "
    "per-doc mean is an exactly-associative integer sum / count (the "
    "dsir_importance convention; residual = a token-type's scaled log "
    "landing within an ulp of a floor boundary). perplexity = "
    "exp(-mean) is selected away — exp is not bit-pinned across "
    "libms. "
    "100 TB shape: the LM is reference-sized and BROADCASTS (unigram "
    "table bounded by vocabulary, bigram table by the curated "
    "reference's token count); the corpus explodes (prev, word) pairs "
    "row-locally and folds per document in ONE aggregation shuffle — "
    "no UDF, the corpus never shuffles to be scored.",
    tags=("llm", "curation", "quality"),
)
def q_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.text import ngram_perplexity

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reference = docs.filter(F.col("doc_id") % _PPLX_REF_MOD == 0)
    scored = ngram_perplexity(
        docs, reference, lam=_PPLX_LAM, quantize=_PPLX_QUANTIZE
    )
    return scored.select("doc_id", "n_tokens", "logprob_per_token")


# ---------------------------------------------------------------------------
# Sampling / splitting / decontamination / tf-idf


def _sql_hex8_to_int(expr: str) -> str:
    """DuckDB: value of the first 8 hex digits of a sha256 hex string."""
    terms = [
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _sql_hash_bucket(id_expr: str, salt: str) -> str:
    h = f"sha256('{salt}' || CAST({id_expr} AS VARCHAR))"
    return f"({_sql_hex8_to_int(h)} % 10000)"


# (the former ``split_and_sample`` registry row was retired in r12 per
# the r11 VERDICT's swap guidance: its surface — train_test_split's
# 80/10/10 hash split and the stratified-sample membership flag, both
# pure seedless sha256 projections — overlaps ``contamination_flags``
# (same hash_bucket_expr machinery under the oracle) and stays
# pytest-pinned in tests/test_llm_ops.py (split fractions, per-stratum
# sample rates, determinism across partitionings) plus in the
# ``curation_funnel`` row, which applies the same split operator
# downstream.  The freed slot under the driver's 50-row cap went to
# ``dsir_importance`` — the corrected DSIR log-density-ratio scoring.)


@register_query(
    "domain_mixture",
    oracle=f"""
        WITH ev AS (
            SELECT event_id, event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS cost
            FROM events
        ),
        parts AS (SELECT * FROM (VALUES ('click', 4), ('view', 3),
                                        ('purchase', 2), ('signup', 1))
                  t(domain, p)),
        totals AS (
            SELECT e.event_type AS domain,
                   CAST(SUM(e.cost) AS BIGINT) AS T, p.p
            FROM ev e JOIN parts p ON e.event_type = p.domain
            GROUP BY 1, 3
        ),
        feasible AS (SELECT MIN(T * 10 // p) AS B FROM totals),
        rates AS (
            SELECT domain,
                   least(10000, (10000 * p * B) // (10 * T)) AS thr
            FROM totals, feasible
        ),
        kept AS (
            SELECT e.event_type AS domain,
                   CAST(count(*) AS BIGINT) AS k_docs,
                   CAST(SUM(e.cost) AS BIGINT) AS k_tokens,
                   MIN(r.thr) AS thr
            FROM ev e JOIN rates r ON e.event_type = r.domain
            WHERE {_sql_hash_bucket("e.event_id", "mix")} < r.thr
            GROUP BY 1
        )
        SELECT e.event_type AS domain,
               CAST(count(*) AS BIGINT) AS total_docs,
               CAST(SUM(e.cost) AS BIGINT) AS total_tokens,
               CAST(coalesce(MIN(k.k_docs), 0) AS BIGINT) AS kept_docs,
               CAST(coalesce(MIN(k.k_tokens), 0) AS BIGINT) AS kept_tokens,
               CAST(coalesce(MIN(k.thr), 0) AS BIGINT) AS threshold
        FROM ev e LEFT JOIN kept k ON e.event_type = k.domain
        GROUP BY 1
    """,
    doc="Domain-mixture sampling (operators/mixing.py, r10): "
    "deterministically downsample a labeled corpus to target domain "
    "weights (click/view/purchase/signup at 4/3/2/1; 'error' dropped "
    "as weight-0) under the max feasible token budget — the step "
    "between curation and training export. ALL threshold arithmetic "
    "is BIGINT (div, not /), so Spark and DuckDB compute "
    "bit-identical data-dependent keep-thresholds on the 10k hash "
    "grid — the audit frame (per-domain kept/total docs+tokens, "
    "threshold) hash-matches exactly. The cost column is extracted "
    "from events.props via get_json_object, absorbing the former "
    "json_scalar row's SURVEY §2.8 json coverage. Scale shape: one "
    "tiny per-domain aggregate, a 1-row budget attach, a broadcast "
    "rate join, then a pure filter — the corpus never shuffles.",
    tags=("llm", "sampling", "mixing", "json"),
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.mixing import (
        domain_mixture_report,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("cost"),
    )
    parts = {"click": 4, "view": 3, "purchase": 2, "signup": 1}
    # fused two-scan audit (r12): equals mixture_report ∘
    # domain_mixture_sample (pinned in tests/test_mixing.py) at half
    # the corpus scans — each scan pays the per-row JSON extract
    return domain_mixture_report(
        ev, "event_type", parts, "event_id", "cost", salt="mix"
    )


@register_query(
    "rank_buckets",
    oracle="""
        SELECT doc_id, lang, CASE
            WHEN rnk <= (n * 300) // 1000 THEN 'head'
            WHEN rnk <= (n * 600) // 1000 THEN 'middle'
            ELSE 'tail' END AS bucket
        FROM (
          SELECT doc_id, lang,
                 row_number() OVER (
                     PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC
                 ) AS rnk,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM documents
        )
    """,
    doc="CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3) "
    "per language stratum at the default 30/30/40 split: row_number "
    "over (score, id) — a total order, tie-stable — with INTEGER "
    "n*cum//1000 boundaries (no float percentile interpolation), "
    "NULL scores explicitly last both engines. ONE window shuffle. "
    "Promoted to the oracle gate in r14 (r13 VERDICT item 6), "
    "swapping out distinct_agg (a strict subset of rollup_agg + "
    "groupby_pricing_summary).",
    tags=("llm", "sampling", "ccnet"),
)
def q_rank_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.sampling import rank_buckets

    docs = load_table(spark, sf_dir, "documents")
    return rank_buckets(
        docs, score_col="n_chars", id_col="doc_id", group_cols=("lang",)
    ).select("doc_id", "lang", "bucket")


@register_query(
    "contamination_flags",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ),
        sh AS (
            SELECT doc_id, unnest({_sql_shingles()}) AS shingle FROM base
        ),
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id < 5
        ),
        hits AS (
            SELECT s.doc_id, count(*) AS n
            FROM sh s JOIN bench USING (shingle)
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_shingles,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    doc="Benchmark decontamination: flag corpus docs sharing verbatim "
    "3-word shingles with an eval set (docs 0-4 as the stand-in "
    "benchmark). Benchmark shingles broadcast; corpus scanned once "
    "(operators/contamination.py).",
    tags=("llm", "dedup", "contamination"),
)
def q_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.contamination import (
        contamination_flags,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 5)
    return contamination_flags(docs, bench)


@register_query(
    "tfidf_top_terms",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ),
        toks AS (SELECT doc_id, unnest(toks) AS tok FROM base),
        tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        ),
        docfreq AS (
            SELECT tok, count(DISTINCT doc_id) AS df_ FROM toks GROUP BY tok
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok,
                   tf.tf * ((n.n_docs * 10000) // docfreq.df_) AS score
            FROM tf JOIN docfreq USING (tok) CROSS JOIN n
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rn
            FROM scored
        )
        SELECT doc_id, tok, CAST(score AS BIGINT) AS score
        FROM ranked WHERE rn <= 5
    """,
    doc="TF-IDF top-5 terms per document, in INTEGER arithmetic "
    "(score = tf · (N·10⁴ ÷ df) — same ranking as tf·log(N/df) for "
    "fixed N, but bit-deterministic across engines where libm log is "
    "not). Two shuffles: (doc,tok) tf and tok df; df side broadcasts.",
    tags=("llm", "text", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from arcane_stream_parquet_spark.operators.text import tokens_column

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_column("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # r16 (guide §1.2 / §2.3): docfreq derives FROM tf — tf holds exactly
    # one row per (doc, tok), so counting tf rows per tok IS
    # countDistinct(doc_id) over the raw token stream.  The former shape
    # re-tokenized and re-exploded the whole corpus under a second
    # corpus-wide distinct-aggregate shuffle; this one tokenizes once and
    # aggregates the already-small tf frame (partial-agg shuffle of
    # (tok, count) rows only).  count_if(tf >= 1) ≡ count(*) (tf >= 1 by
    # construction) and keeps this branch referencing the tf column, so
    # both consumers of the (doc_id, tok) exchange prune identically and
    # share one evaluation (the duplicate_spans discipline).
    docfreq = tf.groupBy("tok").agg(
        F.count_if(F.col("tf") >= 1).alias("df_")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(docfreq), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * ((F.col("n_docs") * 10000) / F.col("df_")).cast("bigint"))
            .cast("bigint")
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "tok", "score")
    )


@register_query(
    "curation_funnel",
    oracle=f"""
        WITH base AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        q AS (
            SELECT doc_id, text, ({_QUALITY_SCORE_SQL}) >= 0.5 AS keep
            FROM base
        ),
        kept AS (SELECT doc_id, text FROM q WHERE keep),
        fp AS (
            SELECT doc_id,
                   sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fingerprint,
                   ROW_NUMBER() OVER (
                       PARTITION BY sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       ORDER BY doc_id) AS rn
            FROM kept
        ),
        deduped AS (SELECT doc_id FROM fp WHERE rn = 1),
        split AS (
            SELECT doc_id,
                   CASE WHEN {_sql_hash_bucket("doc_id", "split")} < 8000
                        THEN 'train' ELSE 'heldout' END AS s
            FROM deduped
        )
        SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM base
        UNION ALL
        SELECT 'quality_kept', CAST(count(*) AS BIGINT) FROM kept
        UNION ALL
        SELECT 'exact_deduped', CAST(count(*) AS BIGINT) FROM deduped
        UNION ALL
        SELECT 'train_split', CAST(count(*) AS BIGINT) FROM split WHERE s = 'train'
    """,
    doc="End-to-end curation funnel — the operators COMPOSE: quality "
    "filter → exact dedup → split assignment, reporting survivor "
    "counts per stage. One chained DataFrame plan; Catalyst fuses the "
    "narrow stages.",
    tags=("llm", "pipeline"),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass funnel: one scan, one fingerprint groupBy (partial-
    # aggregated, skew-proof), one 4-number rollup — identical counts to
    # running quality_score → exact_dedup → train_test_split staged
    # (which would scan 4× and shuffle twice; Catalyst does not share
    # subtrees across union branches).
    from arcane_stream_parquet_spark.operators.fingerprint import (
        fingerprint_column,
    )
    from arcane_stream_parquet_spark.operators.sampling import hash_bucket_expr
    from arcane_stream_parquet_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = quality_score(docs).withColumn("__fp", fingerprint_column("text"))
    groups = scored.groupBy("__fp").agg(
        F.count("*").alias("__n"),
        F.count_if(F.col("quality_keep")).alias("__n_kept"),
        # exact_dedup survivor among kept twins: the minimum doc_id
        F.min(F.when(F.col("quality_keep"), F.col("doc_id"))).alias("__min_kept"),
    )
    survived = F.col("__min_kept").isNotNull()
    agg = groups.agg(
        F.sum("__n").cast("bigint").alias("raw"),
        F.sum("__n_kept").cast("bigint").alias("quality_kept"),
        F.count_if(survived).cast("bigint").alias("exact_deduped"),
        F.count_if(
            survived & (hash_bucket_expr(F.col("__min_kept"), "split") < F.lit(8000))
        )
        .cast("bigint")
        .alias("train_split"),
    )
    return agg.select(
        F.expr(
            "stack(4, 'raw', raw, 'quality_kept', quality_kept, "
            "'exact_deduped', exact_deduped, 'train_split', train_split) "
            "AS (stage, n_docs)"
        )
    )


def _sql_flip_bucket(bucket: str, i: int, num_planes: int) -> str:
    """DuckDB: bucket string with bit i (0-based) flipped."""
    flipped = (
        f"CASE WHEN substr({bucket}, {i + 1}, 1) = '1' THEN '0' ELSE '1' END"
    )
    return (
        f"substr({bucket}, 1, {i}) || {flipped} || "
        f"substr({bucket}, {i + 2}, {num_planes - i - 1})"
    )


@register_query(
    "ann_lsh_multiprobe",
    oracle=f"""
        WITH q0 AS (
            SELECT vec_id AS query_id, {_sql_vec()} AS qv,
                   {_sql_lsh_bucket(_sql_vec(), random_planes())} AS b
            FROM embeddings WHERE vec_id IN {ANN_QUERY_IDS}
        ),
        probes AS (
            SELECT query_id, qv, unnest([b,
                {", ".join(_sql_flip_bucket("b", i, 8) for i in range(8))}
            ]) AS bucket
            FROM q0
        ),
        c AS (
            SELECT vec_id AS neighbor_id, {_sql_vec()} AS cv,
                   {_sql_lsh_bucket(_sql_vec(), random_planes())} AS bucket
            FROM embeddings
        ),
        scored AS (
            SELECT DISTINCT query_id, neighbor_id, {_sql_cosine("qv", "cv")} AS sim
            FROM c JOIN probes USING (bucket) WHERE neighbor_id <> query_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
            FROM scored
        )
        SELECT query_id, neighbor_id, {_micro("sim")} AS cosine_micro
        FROM ranked WHERE rn <= {ANN_K}
    """,
    doc="Random-hyperplane LSH ANN top-k, multi-probe: candidates share "
    "the query's bucket (8 fixed planes → 256 buckets) and its 8 "
    "Hamming-1 neighbor buckets — the standard recall knob (vectors "
    "near a hyperplane recover) at ~9× the candidate cost, still "
    "bucket equi-joins only, no all-pairs. Subsumes the former "
    "single-bucket ann_lsh_topk entry (multi_probe=False — "
    "pytest-covered in tests/test_llm_ops.py).",
    tags=("llm", "similarity"),
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = ann_lsh_topk(
        emb, _queries_subset(spark, sf_dir), k=ANN_K, multi_probe=True
    )
    return out.select(
        "query_id", "neighbor_id", micro_col(F.col("cosine")).alias("cosine_micro")
    )


# ---------------------------------------------------------------------------
# Streaming curation parity (round-3 VERDICT item 3): the 50th registry
# slot proves the STREAMING pipeline's persisted end state — not a batch
# re-derivation — equals the batch composition of its own operators.


def _sql_curation_parity(num_batches: int, min_jaccard: float) -> str:
    """DuckDB replay of StreamingCurationPipeline over ``documents``
    split into ``num_batches`` micro-batches by ``doc_id % num_batches``
    (exactly how the Spark builder stages the landing files).

    Semantics being replayed (streaming/curation.py +
    operators/dedup_index.py): per batch, quality-gate, then reject a
    kept doc iff it exact-Jaccard-matches (≥ threshold, LSH-banded
    candidates only) a LOWER-ID KEPT doc of the SAME batch, or ANY
    ACCEPTED doc of an EARLIER batch (the persisted index holds only
    accepted docs). The acceptance recurrence unrolls into one chained
    CTE per batch — no recursion needed for a fixed batch count.
    ``dup_of`` = min qualifying prior id (add_batch's min_by)."""
    mh = ",\n               ".join(
        f"{_sql_minhash(seed)} AS mh_{seed}" for seed in range(NUM_HASHES)
    )
    acc_ctes = []
    for i in range(num_batches):
        in_batch = (
            f"NOT EXISTS (SELECT 1 FROM vp p JOIN kq e ON e.doc_id = p.id_b "
            f"WHERE p.id_a = k.doc_id AND e.b = {i} AND p.id_b < k.doc_id)"
        )
        if i == 0:
            cross = ""
        else:
            earlier = " UNION ALL ".join(
                f"SELECT doc_id FROM acc{j}" for j in range(i)
            )
            cross = (
                f" AND NOT EXISTS (SELECT 1 FROM vp p "
                f"WHERE p.id_a = k.doc_id AND p.id_b IN ({earlier}))"
            )
        acc_ctes.append(
            f"acc{i} AS (SELECT k.doc_id FROM kq k "
            f"WHERE k.b = {i} AND {in_batch}{cross})"
        )
    all_acc = " UNION ALL ".join(
        f"SELECT doc_id FROM acc{j}" for j in range(num_batches)
    )
    return f"""
        WITH base AS (
            SELECT doc_id, text, {_TOKS} AS toks FROM documents
        ),
        kq AS (
            SELECT doc_id, CAST(doc_id % {num_batches} AS BIGINT) AS b
            FROM base WHERE ({_QUALITY_SCORE_SQL}) >= 0.5
        ),
        shingled AS (
            SELECT doc_id, {_sql_shingles()} AS sh FROM base
        ),
        hashed AS (
            SELECT doc_id, sh, list_transform(sh, s -> sha256(s)) AS hs
            FROM shingled
        ),
        sig AS (
            SELECT doc_id, sh,
               {mh}
            FROM hashed
        ),
        bands AS ({_sql_bands()}),
        cpairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band_id, band_key)
            WHERE a.doc_id <> b.doc_id
        ),
        vp AS (
            SELECT p.id_a, p.id_b,
                   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                   CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                       AS jaccard
            FROM cpairs p
            JOIN kq ka ON ka.doc_id = p.id_a
            JOIN kq kb ON kb.doc_id = p.id_b
            JOIN sig sa ON sa.doc_id = p.id_a
            JOIN sig sb ON sb.doc_id = p.id_b
            WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                  >= {min_jaccard}
        ),
        {", ".join(acc_ctes)},
        dupsrc AS (
            SELECT p.id_a, p.id_b, p.jaccard
            FROM vp p
            JOIN kq d ON d.doc_id = p.id_a
            JOIN kq e ON e.doc_id = p.id_b
            WHERE (e.b = d.b AND p.id_b < p.id_a)
               OR (e.b < d.b AND p.id_b IN ({all_acc}))
        ),
        verdict AS (
            SELECT id_a AS doc_id, min(id_b) AS dup_of
            FROM dupsrc GROUP BY id_a
        ),
        verdictj AS (
            SELECT v.doc_id, v.dup_of, {_micro("s.jaccard")} AS jaccard_micro
            FROM verdict v
            JOIN dupsrc s ON s.id_a = v.doc_id AND s.id_b = v.dup_of
        )
        SELECT d.doc_id,
               CASE WHEN k.doc_id IS NULL THEN 'rejected:quality'
                    WHEN v.dup_of IS NOT NULL THEN 'rejected:near_dup'
                    ELSE 'kept' END AS status,
               v.dup_of,
               v.jaccard_micro,
               (k.doc_id IS NOT NULL AND v.dup_of IS NULL) AS in_corpus
        FROM documents d
        LEFT JOIN kq k ON k.doc_id = d.doc_id
        LEFT JOIN verdictj v ON v.doc_id = d.doc_id
    """


_PARITY_BATCHES = 3


@register_query(
    "streaming_curation_parity",
    oracle=_sql_curation_parity(_PARITY_BATCHES, MINHASH_MIN_JACCARD),
    doc="Streaming-vs-batch parity for the production ingest pipeline "
    "(streaming/curation.py): the builder REALLY RUNS "
    "StreamingCurationPipeline — documents staged as 3 landing files "
    "(doc_id % 3, mtime-ordered), drained availableNow with "
    "maxFilesPerTrigger=1 so the incremental LSH index sees 3 genuine "
    "micro-batches — then returns the PERSISTED end state (audit merge "
    "target joined with curated-corpus membership). The oracle replays "
    "the whole thing declaratively: quality gate, in-batch lower-id-kept "
    "rejection, cross-batch rejection against earlier ACCEPTED docs "
    "only, min-id dup attribution — so checkpointing, the band-index "
    "probe, and both merge targets all sit inside the hash check. "
    "Streaming lifecycle cost is test plumbing; per-batch scale shape "
    "is documented in the module docstring (corpus size never scanned).",
    tags=("llm", "streaming", "pipeline"),
)
def q_streaming_curation_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from arcane_stream_parquet_spark.fsio import HadoopFileIO, fs_join
    from arcane_stream_parquet_spark.streaming.curation import (
        StreamingCurationPipeline,
    )

    # Staging rides the SAME Hadoop FS layer as every other operator
    # (r4 VERDICT task 4: this used to be the one operator-adjacent
    # path on driver-local tempfile/os.*) — swap this root for
    # ``s3a://bucket/...`` and the harness runs unchanged.
    from arcane_stream_parquet_spark.plans.core_queries import scratch_path

    fio = HadoopFileIO(spark)
    work = scratch_path("stream_parity")
    landing = fs_join(work, "landing")
    fio.mkdirs(landing)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    now_ms = int(time.time() * 1000)
    for i in range(_PARITY_BATCHES):
        stage = fs_join(work, f"stage{i}")
        docs.filter((F.col("doc_id") % _PARITY_BATCHES) == i).coalesce(
            1
        ).write.parquet(stage)
        src = next(
            n for n, _ in fio.list_files(stage) if n.endswith(".parquet")
        )
        dst = fs_join(landing, f"batch-{i:03d}.parquet")
        fio.move(fs_join(stage, src), dst)
        # distinct ascending mtimes pin FileStreamSource's batch order
        fio.set_mtime(dst, now_ms + 10_000 * i)
    pipe = StreamingCurationPipeline(
        spark=spark,
        source_path=landing,
        work_path=fs_join(work, "state"),
        checkpoint_dir=fs_join(work, "ckpt"),
        min_jaccard=MINHASH_MIN_JACCARD,
        # parity-harness sizing: at sf≤0.1 per-file overhead dominates
        # (buckets × tables × batches of near-empty files); production
        # default stays 64+, the semantics are bucket-count-invariant
        num_buckets=8,
    )
    pipe.run_available_now(max_files_per_trigger=1)
    in_corpus = (
        pipe.corpus.read().select("doc_key").withColumn("in_corpus", F.lit(True))
    )
    return (
        pipe.audit.read()
        .join(in_corpus, "doc_key", "left")
        .select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            "status",
            "dup_of",
            micro_col(F.col("jaccard")).alias("jaccard_micro"),
            F.coalesce(F.col("in_corpus"), F.lit(False)).alias("in_corpus"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (r8 — training-pipeline facet; the repetition
# signals ride inside the text_stats entry to respect the driver's
# 50-row correctness cap)


@register_query(
    "sequence_packing",
    oracle=f"""
        WITH toksed AS (
            SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        offs AS (
            SELECT source, doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS end_offset
            FROM toksed
        )
        SELECT source, doc_id, n_tokens,
               end_offset - n_tokens AS start_offset,
               end_offset,
               CAST(floor((end_offset - n_tokens) / {float(PACK_WINDOW)})
                    AS BIGINT) AS first_window,
               CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor((end_offset - 1) / {float(PACK_WINDOW)})
                         - floor((end_offset - n_tokens) / {float(PACK_WINDOW)})
                         + 1 AS BIGINT)
               END AS windows_spanned
        FROM offs
    """,
    doc="Concat-and-chunk sequence packing: per document, its running "
    "token offset within the per-source pack stream and the context "
    "windows it occupies. One partitioned window aggregation (shuffle "
    "on source, sort within) — streams pack in parallel at 100 TB.",
    tags=("llm", "packing"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sequence_packing(docs)


# ---------------------------------------------------------------------------
# Whole-sample first-fit-decreasing packing (r16 — promoted to the
# oracle gate per the r15 verdict, item 2: FFD was the only new
# first-class operator without a driver row; the freed slot came from
# set_ops_custkeys — sql_queries.py keeps its exact replay).  Geometry:
# budget 96 makes the sf documents table (tokens 10–99) produce both
# multi-doc bins AND overflow rows, so the oracle's renumbering path is
# exercised; 8 streams keeps the recursive fold's depth at ~⌈500/8⌉.
#
# The oracle reproduces the operator END TO END in DuckDB: the
# sha256-prefix stream shard, the (n_tokens DESC, doc_id ASC) FFD
# order, and — the part SQL can't do with window functions — the
# sequential first-fit fold itself, as a WITH RECURSIVE iteration that
# advances every stream by one document per step, carrying each
# stream's bin-fill list as a BIGINT[] and placing via
# list_position(list_transform(fills, x -> x + n <= budget), TRUE)
# (leftmost fitting bin = the first-fit rule).  Overflow docs skip the
# fold (own bins, numbered after all packed bins in FFD order — the
# renum CTE) exactly as packing.py does.  The recursive working table
# references itself once per step, and `docs` is MATERIALIZED (joined
# every iteration) — the inlining-blowup discipline from the r15
# ivfpq oracle.

FFD_BUDGET = 96
FFD_DRIVER_STREAMS = 8

_FFD_STREAM_HASH = "sha256('ffd|' || CAST(doc_id AS VARCHAR))"


@register_query(
    "first_fit_packing",
    oracle=f"""
        WITH RECURSIVE
        docs AS MATERIALIZED (
            SELECT doc_id, n_tokens, stream,
                   CAST(row_number() OVER (PARTITION BY stream
                        ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS rk
            FROM (
                SELECT doc_id,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                       CAST({_sql_hex8_to_int(_FFD_STREAM_HASH)}
                            % {FFD_DRIVER_STREAMS} AS INT) AS stream
                FROM documents
            )
        ),
        fold(stream, rk, doc_id, n_tokens, bin_raw, overflow, fills) AS (
            SELECT stream, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), FALSE,
                   CAST([] AS BIGINT[])
            FROM (SELECT DISTINCT stream FROM docs)
            UNION ALL
            SELECT stream, rk, doc_id, n_tokens,
                   CASE WHEN over THEN CAST(-1 AS BIGINT)
                        WHEN pos IS NOT NULL AND pos > 0
                            THEN CAST(pos - 1 AS BIGINT)
                        ELSE CAST(len(fills0) AS BIGINT) END,
                   over,
                   CASE WHEN over THEN fills0
                        WHEN pos IS NOT NULL AND pos > 0 THEN
                            list_slice(fills0, 1, pos - 1)
                            || [fills0[pos] + n_tokens]
                            || list_slice(fills0, pos + 1, len(fills0))
                        ELSE list_append(fills0, n_tokens) END
            FROM (
                SELECT d.stream, d.rk, d.doc_id, d.n_tokens,
                       d.n_tokens > {FFD_BUDGET} AS over,
                       f.fills AS fills0,
                       list_position(list_transform(f.fills,
                           x -> x + d.n_tokens <= {FFD_BUDGET}), TRUE) AS pos
                FROM fold f
                JOIN docs d ON d.stream = f.stream AND d.rk = f.rk + 1
            )
        ),
        renum AS (
            SELECT stream, doc_id, n_tokens, overflow,
                   CASE WHEN overflow THEN
                       coalesce(max(CASE WHEN NOT overflow THEN bin_raw END)
                                OVER (PARTITION BY stream),
                                CAST(-1 AS BIGINT))
                       + CAST(row_number() OVER (
                             PARTITION BY stream, overflow ORDER BY rk)
                         AS BIGINT)
                   ELSE bin_raw END AS bin_in_stream
            FROM fold WHERE rk > 0
        )
        SELECT doc_id, n_tokens, stream, bin_in_stream,
               stream * CAST(1099511627776 AS BIGINT) + bin_in_stream
                   AS bin_id,
               CAST(sum(n_tokens) OVER (PARTITION BY stream, bin_in_stream)
                    AS BIGINT) AS bin_fill,
               overflow
        FROM renum
    """,
    doc=f"Whole-sample first-fit-decreasing bin packing (SFT loaders "
    f"that must keep samples intact — the complement of "
    f"sequence_packing's concat-and-cut): sha256-sharded pack streams, "
    f"(n_tokens DESC, id ASC) order, leftmost fitting bin, budget "
    f"{FFD_BUDGET}, {FFD_DRIVER_STREAMS} streams; docs over budget get "
    f"own bins flagged overflow. Spark side is one stream-key shuffle "
    f"then applyInPandas with an O(log bins) leftmost-fit segment "
    f"tree; the oracle replays the sequential fold as a WITH RECURSIVE "
    f"chain carrying per-stream fill lists.",
    tags=("llm", "packing"),
)
def q_first_fit_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.packing import (
        first_fit_packing,
    )

    docs = load_table(spark, sf_dir, "documents")
    return first_fit_packing(
        docs, budget=FFD_BUDGET, num_streams=FFD_DRIVER_STREAMS
    ).select(
        # driver-compare column order is by name; fix the projection
        # order anyway so the row's schema is stable round over round
        "doc_id", "n_tokens", "stream", "bin_in_stream",
        "bin_id", "bin_fill", "overflow",
    )


# ---------------------------------------------------------------------------
# Document chunking (r15 — promoted to the oracle gate per the r14
# verdict, item 2: the last semantics-bearing curation operator
# outside the driver gate; the freed slot came from join_broadcast_agg
# — sql_queries.py keeps its exact replay). Geometry = the operator
# defaults (64-token windows, 16-token overlap → stride 48).

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@register_query(
    "chunk_documents",
    oracle=f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ), s AS (
          SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
          FROM t WHERE len(toks) > 0
        ), c AS (
          SELECT doc_id, toks, n,
                 CAST(CASE WHEN n <= {CHUNK_TOKENS} THEN 1
                      ELSE 1 + (n - {CHUNK_TOKENS} + {_CHUNK_STRIDE - 1})
                               // {_CHUNK_STRIDE}
                 END AS BIGINT) AS m
          FROM s
        )
        SELECT doc_id,
               i AS chunk_index,
               m AS n_chunks,
               i * {_CHUNK_STRIDE} AS token_start,
               CAST(len(list_slice(toks, i*{_CHUNK_STRIDE} + 1,
                        least(i*{_CHUNK_STRIDE} + {CHUNK_TOKENS}, n)))
                    AS BIGINT) AS chunk_n_tokens,
               array_to_string(list_slice(toks, i*{_CHUNK_STRIDE} + 1,
                        least(i*{_CHUNK_STRIDE} + {CHUNK_TOKENS}, n)), ' ')
                   AS chunk_text
        FROM c, (SELECT unnest(range(0, (SELECT max(m) FROM c))) AS i) ix
        WHERE i < m
    """,
    doc=f"Overlapping fixed-token chunking (RAG/embedding-prep "
    f"splitter): whitespace tokens of the trimmed original-case text, "
    f"chunk i starts at i·stride, n_chunks = 1 + ceil((n - "
    f"{CHUNK_TOKENS}) / {_CHUNK_STRIDE}) in integer arithmetic, "
    f"tokenless documents emit zero rows. Entirely row-local (split + "
    f"posexplode + slice, zero Exchange — plan-pinned in "
    f"tests/test_chunking.py); the oracle restates the documented "
    f"semantics with DuckDB list ops.",
    tags=("llm", "chunking"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, chunk_tokens=CHUNK_TOKENS, overlap_tokens=CHUNK_OVERLAP
    )


# ---------------------------------------------------------------------------
# PII redaction (r9 — promoted from pytest-only to a driver row,
# VERDICT r8 item 6).  The synthetic documents table contains no
# PII-shaped text, so both sides first overlay DETERMINISTIC
# closed-form PII (an email per doc; an SSN shape every 3rd doc, an
# IPv4 every 4th, a NANP phone every 5th) — the regexes then do real
# matching/consuming work and the counts vary per row.  Patterns are
# the dialect-portable subset (redaction.py PII_PATTERNS_PORTABLE):
# identical under Java regex and RE2; production keeps the full set
# whose international-phone branch needs a lookahead RE2 lacks.

_PII_SQL_OVERLAY = """
        SELECT doc_id,
               text || ' reach user' || CAST(doc_id AS VARCHAR)
                    || '@mail-' || CAST(doc_id % 7 AS VARCHAR)
                    || '.example.com'
               || CASE WHEN doc_id % 3 = 0 THEN ' ssn '
                    || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                    || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
               || CASE WHEN doc_id % 4 = 0 THEN ' ip 10.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                    || CAST((doc_id * 3) % 256 AS VARCHAR)
                  ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' call ('
                    || CAST(200 + doc_id % 700 AS VARCHAR) || ') 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
               AS text
        FROM documents
"""


def _pii_sql_passes() -> str:
    """Chained regexp_replace CTEs mirroring redact_pii's pass order,
    with the EXACT pattern strings the Spark side applies."""
    parts = [f"aug AS ({_PII_SQL_OVERLAY})"]
    prev = "aug"
    carried: list[str] = []
    for i, (kind, pat) in enumerate(PII_PATTERNS_PORTABLE, start=1):
        cols = ", ".join(["doc_id", *carried]) if carried else "doc_id"
        parts.append(
            f"r{i} AS (SELECT {cols}, "
            f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) "
            f"AS pii_n_{kind}, "
            f"regexp_replace(t, '{pat}', '[{kind.upper()}]', 'g') AS t "
            f"FROM {prev})"
            if prev != "aug"
            else f"r{i} AS (SELECT doc_id, "
            f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) "
            f"AS pii_n_{kind}, "
            f"regexp_replace(text, '{pat}', '[{kind.upper()}]', 'g') AS t "
            f"FROM aug)"
        )
        carried.append(f"pii_n_{kind}")
        prev = f"r{i}"
    totals = " + ".join(f"pii_n_{k}" for k, _ in PII_PATTERNS_PORTABLE)
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f"""
        SELECT doc_id, {', '.join(carried)},
               CAST({totals} AS BIGINT) AS pii_n_total,
               t AS redacted_text
        FROM {prev}
    """
    )


def _pii_overlay(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")

    def s(c) -> F.Column:
        return c.cast("string")

    aug = F.concat(
        F.col("text"),
        F.lit(" reach user"), s(d), F.lit("@mail-"), s(d % 7),
        F.lit(".example.com"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" ssn "),
                F.lpad(s((d * 7) % 1000), 3, "0"), F.lit("-"),
                F.lpad(s(d % 100), 2, "0"), F.lit("-"),
                F.lpad(s((d * 13) % 10000), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit(" ip 10."), s(d % 256), F.lit(".0."),
                s((d * 3) % 256),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" call ("), s(200 + d % 700), F.lit(") 555-"),
                F.lpad(s(d % 10000), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", aug.alias("text"))


@register_query(
    "redact_pii",
    oracle=_pii_sql_passes(),
    doc="PII redaction over a deterministic PII overlay: "
    "specificity-ordered regexp_replace passes (email -> ssn -> ipv4 "
    "-> phone) with per-kind regexp_count, all row-local codegen "
    "projections — no shuffle, no UDF; a free rider on any scan at "
    "100 TB. Oracle runs the IDENTICAL pattern strings through "
    "DuckDB's RE2 (portable subset; the intl-phone lookahead branch "
    "stays Spark/pytest-only).",
    tags=("llm", "curation", "redaction"),
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = redact_pii(_pii_overlay(docs), patterns=PII_PATTERNS_PORTABLE)
    return out.select(
        "doc_id", "pii_n_email", "pii_n_ssn", "pii_n_ipv4",
        "pii_n_phone", "pii_n_total", "redacted_text",
    )


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate line removal (C4 / CCNet / RefinedWeb)

_BANNER_EVEN = "please accept cookies to continue reading this site today"
_BANNER_ODD = "subscribe to our newsletter for weekly updates and offers"
_LINE_TOKENS = 10
_BOILER_MIN_DOCS = 100


def _lined_corpus(docs: DataFrame) -> DataFrame:
    """documents with synthetic multi-line text: the flat token stream
    sliced into 10-token lines, with a deterministic 'cookie banner'
    line prepended (even doc_ids get one banner, odd the other) — the
    cross-document repetition a real crawl exhibits, constructed
    identically in the DuckDB oracle."""
    from arcane_stream_parquet_spark.operators.text import tokens_column

    tk = tokens_column("text")
    staged = docs.select("doc_id", tk.alias("__tk"))
    n_lines = F.ceil(F.size("__tk") / F.lit(float(_LINE_TOKENS))).cast("int")
    lines = F.when(
        F.size("__tk") > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - F.lit(1)),
            lambda i: F.array_join(
                F.slice(F.col("__tk"), i * _LINE_TOKENS + 1, _LINE_TOKENS),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    banner = F.when(
        F.col("doc_id") % 2 == 0, F.lit(_BANNER_EVEN)
    ).otherwise(F.lit(_BANNER_ODD))
    return staged.select(
        "doc_id",
        F.array_join(
            F.concat(F.array(banner), lines), "\n"
        ).alias("text"),
    )


@register_query(
    "boilerplate_lines",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                               t -> t <> '') AS tk
            FROM documents
        ),
        corpus AS (
            SELECT doc_id,
                   list_prepend(
                       CASE WHEN doc_id % 2 = 0
                            THEN '{_BANNER_EVEN}'
                            ELSE '{_BANNER_ODD}' END,
                       list_transform(
                           range(0, CAST(ceil(len(tk) / {_LINE_TOKENS}.0) AS BIGINT)),
                           i -> array_to_string(
                               tk[(i*{_LINE_TOKENS}+1):(i*{_LINE_TOKENS}+{_LINE_TOKENS})], ' '))
                   ) AS ls
            FROM toks
        ),
        lines AS (
            SELECT doc_id,
                   unnest(ls) AS line,
                   generate_subscripts(ls, 1) AS pos
            FROM corpus
        ),
        freq AS (
            SELECT lower(trim(line)) AS line_key,
                   count(DISTINCT doc_id) AS n_docs
            FROM lines GROUP BY 1
        ),
        kept AS (
            SELECT l.doc_id, l.pos, l.line
            FROM lines l JOIN freq f ON lower(trim(l.line)) = f.line_key
            WHERE f.n_docs < {_BOILER_MIN_DOCS}
        ),
        totals AS (SELECT doc_id, len(ls) AS n_lines FROM corpus)
        SELECT t.doc_id,
               coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '')
                   AS clean_text,
               CAST(t.n_lines AS BIGINT) AS n_lines,
               CAST(t.n_lines - count(k.line) AS BIGINT) AS n_removed
        FROM totals t LEFT JOIN kept k USING (doc_id)
        GROUP BY t.doc_id, t.n_lines
    """,
    doc="C4/CCNet-style corpus-frequency boilerplate removal: lines "
    "occurring in >= 100 distinct documents (the injected cookie-banner "
    "lines) are dropped from every document, survivors reassembled in "
    "order. One posexplode (row-local), ONE partial-agg shuffle for the "
    "line-frequency table, the small boilerplate set broadcast into a "
    "left-anti join (the corpus line stream never shuffles to filter), "
    "one reassembly shuffle. All JVM built-ins.",
    tags=("llm", "curation", "dedup"),
)
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.text import (
        remove_boilerplate_lines,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # limit=None: the bench times plan EXECUTION only, so both corpus
    # passes must live inside the lazy plan — the auto size-gate (the
    # production default) would run pass 1 untimed at build; its two
    # plan shapes are pinned in test_llm_ops and measured in SCALE.md
    # (scripts/dup_gate_probe.py, in git history at 53ada8e)
    return remove_boilerplate_lines(
        _lined_corpus(docs),
        min_docs=_BOILER_MIN_DOCS,
        boiler_broadcast_limit=None,
    )


# ---------------------------------------------------------------------------
# Exact cross-document span dedup (Lee et al. 2021, r11 operator ->
# r12 oracle-gated driver row)

_SPAN_PROMO_A = (
    "visit our online store today for free shipping on every order placed"
)
_SPAN_PROMO_B = (
    "sign up for the premium newsletter and never miss a weekly update"
)
_SPAN_K = 10
_SPAN_MIN_DOCS = 50


def _span_corpus(docs: DataFrame) -> DataFrame:
    """documents with deterministic cross-document spans: every doc_id
    % 7 == 0 gets promo A appended, % 7 == 3 promo B (~14% of the
    corpus each — far past ``_SPAN_MIN_DOCS`` at sf >= 0.01, so the
    promos' sliding windows are exactly the duplicate set; below the
    threshold at sf0.001 both engines agree on the no-op).  Identical
    construction in the DuckDB oracle."""
    tail = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(" " + _SPAN_PROMO_A))
        .when(F.col("doc_id") % 7 == 3, F.lit(" " + _SPAN_PROMO_B))
        .otherwise(F.lit(""))
    )
    return docs.select(
        "doc_id", F.concat(F.col("text"), tail).alias("text")
    )


@register_query(
    "duplicate_spans",
    oracle=rf"""
        WITH aug AS (
            SELECT doc_id,
                   text || CASE WHEN doc_id % 7 = 0 THEN ' {_SPAN_PROMO_A}'
                                WHEN doc_id % 7 = 3 THEN ' {_SPAN_PROMO_B}'
                                ELSE '' END AS text
            FROM documents
        ),
        toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                               t -> t <> '') AS tk
            FROM aug
        ),
        wins AS (
            SELECT doc_id, i AS pos,
                   substr(sha256(array_to_string(tk[(i+1):(i+{_SPAN_K})],
                                                 ' ')), 1, 24) AS w
            FROM toks,
                 UNNEST(range(0, greatest(len(tk) - {_SPAN_K} + 1, 0))) u(i)
        ),
        dup AS (
            SELECT w FROM wins GROUP BY w
            HAVING count(DISTINCT doc_id) >= {_SPAN_MIN_DOCS}
        ),
        cov AS (
            SELECT DISTINCT doc_id, p.p AS p
            FROM wins JOIN dup USING (w),
                 UNNEST(range(pos, pos + {_SPAN_K})) p(p)
        ),
        tok_rows AS (
            SELECT doc_id, unnest(tk) AS tok,
                   generate_subscripts(tk, 1) - 1 AS p
            FROM toks
        )
        SELECT t.doc_id,
               coalesce(string_agg(CASE WHEN c.p IS NULL THEN tr.tok END,
                                   ' ' ORDER BY tr.p), '') AS clean_text,
               CAST(count(tr.tok) AS BIGINT) AS n_tokens,
               CAST(count(c.p) AS BIGINT) AS n_removed
        FROM toks t
        LEFT JOIN tok_rows tr ON tr.doc_id = t.doc_id
        LEFT JOIN cov c ON c.doc_id = tr.doc_id AND c.p = tr.p
        GROUP BY t.doc_id
    """,
    doc="Exact cross-document substring dedup at 10-token-window "
    "granularity (Lee et al. 2021's span removal, operators/text.py "
    "remove_duplicate_spans) over a corpus with injected cross-doc "
    "promo spans: every position covered by a window occurring in "
    ">= 50 distinct documents is dropped, survivors reassembled in "
    "order. Row-local window explode, ONE partial-agg shuffle for the "
    "window->doc-count table over 64-bit sha256-prefix fingerprints "
    "(the shuffle moves 16 bytes per window, not the text; the oracle "
    "fingerprints identically), the duplicate window set broadcast back "
    "(the corpus never shuffles to filter), coverage folded as sorted "
    "starts (O(dup windows) state) and merged into intervals "
    "row-locally. The oracle recomputes the same semantics "
    "positionally in DuckDB.",
    tags=("llm", "curation", "dedup"),
)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.text import (
        remove_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # limit=None for bench honesty — see q_boilerplate_lines
    return remove_duplicate_spans(
        _span_corpus(docs),
        window_tokens=_SPAN_K,
        min_docs=_SPAN_MIN_DOCS,
        dup_broadcast_limit=None,
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, r11 operator -> r12
# oracle-gated driver row)

_DSIR_BUCKETS = 2048
_DSIR_TARGET_MOD = 37  # target corpus = documents with doc_id % 37 == 0
_DSIR_QUANTIZE = 6  # per-bucket log-ratio floored to micro-units

# DuckDB's sha256() returns a hex VARCHAR; the first 4 hex digits as an
# integer, matching Spark's conv(substring(sha2(g,256),1,4),16,10)
_DSIR_HEX4 = (
    "((strpos('0123456789abcdef', substr(h,1,1))-1)*4096 + "
    "(strpos('0123456789abcdef', substr(h,2,1))-1)*256 + "
    "(strpos('0123456789abcdef', substr(h,3,1))-1)*16 + "
    "(strpos('0123456789abcdef', substr(h,4,1))-1))"
)


def _dsir_feats_sql(src: str) -> str:
    """Hashed-bigram feature stream for ``src`` (a table or subquery),
    mirroring importance_weights' hashed-bigram feature stream
    (operators/text.py) bucket-for-bucket."""
    return rf"""
        SELECT doc_id, {_DSIR_HEX4} % {_DSIR_BUCKETS} AS fb
        FROM (
            SELECT doc_id,
                   substr(sha256(tk[i+1] || ' ' || tk[i+2]), 1, 4) AS h
            FROM (
                SELECT doc_id,
                       list_filter(
                           regexp_split_to_array(lower(trim(text)), '\s+'),
                           t -> t <> '') AS tk
                FROM {src}
            ), UNNEST(range(0, greatest(len(tk) - 1, 0))) u(i)
        )
    """


@register_query(
    "dsir_importance",
    oracle=rf"""
        WITH tf AS ({_dsir_feats_sql(f"(SELECT * FROM documents WHERE doc_id % {_DSIR_TARGET_MOD} = 0)")}),
             rf AS ({_dsir_feats_sql("documents")}),
             buckets AS (SELECT range AS fb FROM range({_DSIR_BUCKETS})),
             lr AS (
                 SELECT b.fb,
                        CAST(floor((
                            ln(coalesce(t.c, 0) + 1.0)
                            - ln((SELECT count(*) FROM tf) + {_DSIR_BUCKETS}.0)
                            - ln(coalesce(r.c, 0) + 1.0)
                            + ln((SELECT count(*) FROM rf) + {_DSIR_BUCKETS}.0)
                        ) * 1000000.0) AS BIGINT) AS lr
                 FROM buckets b
                 LEFT JOIN (SELECT fb, count(*) c FROM tf GROUP BY fb) t USING (fb)
                 LEFT JOIN (SELECT fb, count(*) c FROM rf GROUP BY fb) r USING (fb)
             ),
             scored AS (
                 SELECT rf.doc_id,
                        CAST(count(*) AS BIGINT) AS n_features,
                        (CAST(sum(lr.lr) AS DOUBLE) / 1000000.0) / count(*)
                            AS importance_weight
                 FROM rf JOIN lr USING (fb)
                 GROUP BY rf.doc_id
             )
        SELECT d.doc_id,
               CAST(coalesce(s.n_features, 0) AS BIGINT) AS n_features,
               coalesce(s.importance_weight, 0.0) AS importance_weight
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
    doc="DSIR importance weights (Xie et al. 2023, operators/text.py "
    "importance_weights): every document scored by "
    "mean log(p_target/p_raw) over hashed-bigram features with "
    "add-one smoothing and the smoothed-total normalizers, target = "
    "the deterministic doc_id % 37 slice. quantize=6 floors each "
    "bucket's log-ratio to micro-units so the per-doc mean is an "
    "exactly-associative integer sum / count (the only residual "
    "cross-engine float risk is a per-bucket log landing within an "
    "ulp of a floor boundary — the repo's standard floor(x*1e6) "
    "residual). "
    "100 TB shape: two B-row distribution aggregates, the B<=65536 "
    "log-ratio table broadcasts, one explode+join+sum over the raw "
    "corpus — no all-pairs stage, no UDF.",
    tags=("llm", "curation", "sampling"),
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arcane_stream_parquet_spark.operators.text import (
        importance_weights,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % _DSIR_TARGET_MOD == 0)
    return importance_weights(
        docs,
        target,
        buckets=_DSIR_BUCKETS,
        quantize=_DSIR_QUANTIZE,
    )
