"""MinHash + LSH near-duplicate detection — the canonical web-scale
fuzzy-dedup pipeline (shingle → minhash signature → band-bucket →
candidate pairs → exact Jaccard verify), as pure DataFrame ops.

Scale posture (the whole point): there is NO all-pairs stage anywhere.
- Shingling + signatures: narrow per-row projections (codegen, no
  shuffle, no Python).
- Banding: explode to B rows per doc (B = num_bands, small constant).
- Candidate generation: self-equi-join on (band_id, band_key) — Spark
  plans a hash shuffle on the band key; only docs sharing a bucket ever
  meet. At 100 TB the shuffle carries (band_key, doc_id) pairs only.
- Verification: the candidate-pair set (≪ n²) joins back to the shingle
  sets for exact Jaccard.
A pathological bucket (thousands of identical docs) produces a skewed
join key — AQE skew-join splitting (on by default, session.py) handles
it; the band key is a sha256 so benign data cannot skew.

Cross-engine determinism: a minhash here is the MIN of sha256 hex
strings over the shingle set under a per-function seed prefix —
lexicographic string min, bit-identical in Spark and DuckDB (the oracle
SQL in plans/llm_queries.py is generated from these same constants).
Hex-string min is order-isomorphic to the usual integer minhash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.text import tokens_column

# Default signature geometry: 8 hash functions = 4 bands × 2 rows.
# Collision prob at Jaccard j: 1-(1-j^2)^4 (~50% at j≈0.42). Tunable.
NUM_HASHES = 8
NUM_BANDS = 4
SHINGLE_K = 3


def char_shingles_from_norm(norm: Column, k: int = 5) -> Column:
    """Distinct k-char shingles over an ALREADY-normalized text column.
    ``norm`` must be a plain column reference (hoisted via withColumn):
    a composite expression here is re-evaluated once per gram inside the
    transform lambda — O(len²) per doc, measured 1.7× on the whole
    shingle stage at sf0.1."""
    n = F.length(norm)
    upper = F.greatest(n - F.lit(k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), upper), lambda i: norm.substr(i, F.lit(k))
    )
    return F.array_distinct(grams)


def shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles over an ALREADY-tokenized array column.
    Like :func:`char_shingles_from_norm`, ``toks`` should be a plain
    column reference — the lambda indexes it k times per shingle."""
    n = F.size(toks)
    # positions 1..n-k+1; degenerate short docs → 1 shingle. F.get is
    # 0-based and NULL out-of-bounds (ANSI-safe, matching DuckDB's
    # 1-based list index); concat_ws skips NULLs in both engines.
    upper = F.greatest(n - F.lit(k - 1), F.lit(1))
    idx = F.sequence(F.lit(1), upper)
    joined = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(toks, (i + F.lit(j - 1)).cast("int")) for j in range(k)]
        ),
    )
    return F.array_distinct(joined)


def shingles_column(text_col: str | Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles (space-joined) of the tokenized text.
    Documents shorter than k tokens yield their whole token sequence as
    one shingle (so they still participate)."""
    return shingles_from_tokens(tokens_column(text_col), k)


def minhash_expr(hashed_col: Column, seed: int) -> Column:
    """One minhash value: min over shingle digests of the seed's 8-hex-
    char slice. The H "hash functions" are disjoint 32-bit slices of ONE
    sha256 per shingle — sha256 bits are independent, so the slices are
    independent uniform hashes, at 1/H the hashing cost."""
    return F.array_min(
        F.transform(hashed_col, lambda h: F.substring(h, seed * 8 + 1, 8))
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    k: int = SHINGLE_K,
    unit: str = "word",
) -> DataFrame:
    """Adds ``mh_0 .. mh_{H-1}`` hex-string minhash columns (+ keeps a
    ``__shingles`` array for downstream exact verification). Each
    shingle is sha256'd ONCE; the H minhashes slice that digest."""
    if num_hashes > 8:
        raise ValueError("num_hashes > 8 would overrun the 64-hex sha256 digest")
    from arcane_stream_parquet_spark.functions.partitioning import fan_out

    if unit not in ("word", "char"):
        raise ValueError(f"unit must be word|char, got {unit!r}")
    df = fan_out(df)  # hashing is CPU-bound: never serialize on 1 scan split
    # hoist tokenization/normalization into real columns BEFORE the
    # shingle lambdas reference them (see char_shingles_from_norm: a
    # composite expression re-evaluates per gram)
    if unit == "word":
        staged = df.withColumn("__toks", tokens_column(text_col))
        sh = shingles_from_tokens(F.col("__toks"), k)
    else:
        col = F.col(text_col)
        staged = df.withColumn("__norm", F.lower(F.trim(col)))
        sh = char_shingles_from_norm(F.col("__norm"), k)
    staged = (
        staged.withColumn("__shingles", sh)
        .drop("__toks", "__norm")
        .withColumn(
            "__sh_hashes", F.transform(F.col("__shingles"), lambda s: F.sha2(s, 256))
        )
    )
    return staged.select(
        "*",
        *[
            minhash_expr(F.col("__sh_hashes"), seed).alias(f"mh_{seed}")
            for seed in range(num_hashes)
        ],
    ).drop("__sh_hashes")


def lsh_bands(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """Explode a signature into (id, band_id, band_key) rows; band_key =
    sha256 of the band's concatenated minhashes. rows_per_band =
    num_hashes / num_bands."""
    if num_hashes % num_bands:
        raise ValueError("num_hashes must divide evenly into num_bands")
    rows = num_hashes // num_bands
    bands = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.sha2(
                F.concat_ws("|", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]),
                256,
            ).alias("band_key"),
        )
        for b in range(num_bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, "band.band_id", "band.band_key")


def candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band bucket.

    ONE shuffle: groupBy the bucket → sorted member set → explode pairs
    within the bucket (quadratic only inside a bucket, whose size LSH
    keeps small; a pathological giant bucket is a data-quality signal,
    not a plan hazard — the explode is lazy per row). This beats the
    bands⋈bands self-join, which scans and shuffles the upstream
    signature pipeline twice."""
    grouped = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    n = F.size(F.col("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), n),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    k: int = SHINGLE_K,
    min_jaccard: float = 0.5,
    unit: str = "word",
) -> DataFrame:
    """Full pipeline: LSH candidates verified by exact Jaccard over the
    shingle sets. Returns (id_a, id_b, jaccard) with jaccard ≥ threshold.
    jaccard is the raw IEEE division (small-int / small-int — correctly
    rounded, so bit-identical in any engine; consumers needing a stable
    textual form floor to micro-units, see plans/llm_queries.py).

    Cost at scale: 2 narrow scans + 1 band-key shuffle (candidates) +
    1 id-join back to shingle sets. Shingle arrays travel only for
    candidate rows.
    """
    sig = minhash_signature(df, text_col, num_hashes, k, unit=unit)
    sets_df = sig.select(
        F.col(id_col), F.col("__shingles").alias("sh")
    )
    pairs = candidate_pairs(
        lsh_bands(sig, id_col, num_hashes, num_bands), id_col
    )
    joined = (
        pairs.join(
            sets_df.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sets_df.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
    )
    # |A∪B| = |A| + |B| − |A∩B| for the (distinct) shingle sets — one
    # O(n) array op per candidate instead of two; the integer (and
    # therefore the IEEE quotient) is identical to array_union's size,
    # so oracles are unaffected
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jacc = inter.cast("double") / union.cast("double")
    return (
        joined.select("id_a", "id_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
    )


# ---------------------------------------------------------------------------
# Rolling-hash character-n-gram signatures (r5 VERDICT #2): the char-gram
# flavor above (char_shingles_* + per-shingle sha256) materializes every
# substring AND a 64-hex digest AND 8 slice strings per gram — ~600 B of
# short-lived JVM garbage per gram, which made char_ngram_near_duplicates
# GC-bimodal (0.95 s floor, sporadic 2.8-3.3 s full-GC outliers with an
# identical plan).  This path computes gram hashes + minhashes in ONE
# Arrow-batched numpy pass: per document, a handful of vectorized uint64
# multiply-adds over the byte array — no per-gram object allocation on
# either side of the Arrow boundary.  The hash is a polynomial rolling
# hash mod 2^64 (natural uint64 wraparound), replayable exactly in
# DuckDB via HUGEINT arithmetic (the oracle in plans/llm_queries.py is
# generated from these same constants).

#: polynomial base for gram hashing (prime; small enough that DuckDB's
#: 128-bit HUGEINT never overflows in acc*B + c with acc < 2^64)
ROLL_B = 1_000_003
_M64 = 1 << 64
#: 8 per-seed affine stages (g*A_s + C_s) mod 2^64; A odd and < 2^63 so
#: g*A stays inside HUGEINT for the DuckDB replay.  Each is finalized
#: by the shared fold-high rounds below — a PURE affine map is not
#: min-wise independent enough: on the sf0.1 corpus it flooded 59k
#: band-bucket candidate pairs where the finalized mixer yields 3.3k
#: with identical verified recall (255 vs 254 of an ideal-LSH-expected
#: 253; measured, see ROUND6_NOTES.md)
ROLL_MIX: list[tuple[int, int]] = [
    (0x4F1BBCDCBFA53E0B, 0x2545F4914F6CDD1D),
    (0x2B7E151628AED2A5, 0x093C467E37DB0C7A),
    (0x452821E638D01377, 0x13198A2E03707344),
    (0x243F6A8885A308D3, 0x082EFA98EC4E6C89),
    (0x3C6EF372FE94F82B, 0x1BD11BDAA9FC1A21),
    (0x1F83D9ABFB41BD6B, 0x5BE0CD19137E2179),
    (0x510E527FADE682D1, 0x6A09E667F3BCC908),
    (0x3243F6A8885A308D, 0x0D1310BA698DFB5A),
]
#: shared finalizer multiplier (odd, < 2^63): after the per-seed affine
#: stage, v += v>>32; v *= A2; v += v>>32 — add/shift/multiply only, so
#: the DuckDB replay needs just HUGEINT +, * and // 2^32 (no xor, which
#: HUGEINT lacks); avalanche is enough to restore min-wise behavior
ROLL_FINAL_A2 = 0x2545F4914F6CDD1D


def rolling_gram_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """(id, grams: array<long>) per document via one mapInPandas pass —
    the HEAVY half of the rolling signature (normalization, rolling
    hash, per-row distinct).

    Normalization (replayed verbatim by the oracle): strip non-printable
    /non-ASCII (``[^ -~]``, which also removes ``\\t``/``\\n``), then
    ASCII lower + space-trim — ASCII-only so Python, Spark and DuckDB
    lowercase identically.  Gram hash at position i = polynomial
    ``fold(acc*B + byte, init=1)`` over k bytes, mod 2^64; documents
    shorter than k bytes hash their whole text as one gram (empty → the
    init value).  ``grams`` holds the DISTINCT hashes (uint64-sorted,
    reinterpreted as signed longs — a bijection, so set sizes and
    equality survive); every document yields >= 1 gram.  Wraparound
    stays in numpy because Spark's ANSI mode (4.x default) raises on
    JVM long overflow.

    Split from the minhash stage (r16, guide §1.2/§2.4): the output
    schema is EXACTLY (id, grams), so every consumer of a
    ``.repartition(id)`` over this frame prunes to the same column set
    and their exchange subtrees stay canonically identical — AQE
    reuses ONE shuffle stage and this pass runs ONCE however many
    branches read it (minhash banding + both verify-join sides in
    :func:`rolling_near_duplicates`; the former fused pass re-ran per
    divergently-pruned branch)."""
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from arcane_stream_parquet_spark.functions.partitioning import fan_out

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("grams", ArrayType(LongType(), False), True),
        ]
    )

    def compute(batches):
        import re

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^ -~]")
        b = np.uint64(ROLL_B)
        for pdf in batches:
            ids = pdf[id_col].tolist()
            texts = pdf[text_col].tolist()
            nrows = len(ids)
            # r16 (guide §4.2): hash the WHOLE batch in one vectorized
            # pass instead of ~20 small numpy calls per row — the
            # per-row loop's call overhead dominated at corpus-typical
            # document sizes (0.59 → ~0.3 s for this stage at sf0.1).
            # Same ops per element in the same order, so every gram
            # hash and dedup set is bit-identical.
            norms = [
                strip.sub("", t if isinstance(t, str) else "").lower().strip()
                for t in texts
            ]
            lens = np.fromiter(
                (len(s) for s in norms), np.int64, count=nrows
            )
            C = np.frombuffer(
                ("".join(norms)).encode("ascii"), np.uint8
            ).astype(np.uint64)
            offs = np.concatenate(([0], np.cumsum(lens)))
            m = lens - k + 1
            long_rows = np.nonzero(m >= 1)[0]
            grams_out: list = [None] * nrows
            # short rows (< k chars): whole text folds to ONE gram
            for row in np.nonzero(m < 1)[0]:
                h = np.ones(1, np.uint64)
                for j in range(offs[row], offs[row + 1]):
                    h = h * b + C[j]
                grams_out[row] = h.view(np.int64)
            if long_rows.size:
                ml = m[long_rows]
                total = int(ml.sum())
                row_of = np.repeat(long_rows, ml)
                # global start position of each gram in C
                starts = np.arange(total, dtype=np.int64)
                starts += np.repeat(
                    offs[long_rows] - np.concatenate(([0], np.cumsum(ml)[:-1])),
                    ml,
                )
                g = np.ones(total, np.uint64)
                for j in range(k):
                    g = g * b + C[starts + j]
                # per-row distinct, ascending (np.unique order): sort by
                # (row, gram) and drop equal neighbors within a row
                order = np.lexsort((g, row_of))
                rs, gs = row_of[order], g[order]
                keep = np.empty(total, bool)
                keep[0] = True
                keep[1:] = (rs[1:] != rs[:-1]) | (gs[1:] != gs[:-1])
                rs, gs = rs[keep], gs[keep]
                # segment boundaries per surviving row (rows ordered as
                # in long_rows since lexsort's primary key is row_of)
                seg = np.nonzero(
                    np.concatenate(([True], rs[1:] != rs[:-1]))
                )[0]
                bounds = np.concatenate((seg, [rs.size]))
                gs_signed = gs.view(np.int64)
                for i, row in enumerate(long_rows):
                    grams_out[row] = gs_signed[bounds[i]:bounds[i + 1]]
            yield pd.DataFrame({id_col: ids, "grams": grams_out})

    return fan_out(df.select(id_col, text_col)).mapInPandas(
        compute, out_schema
    )


def minhash_from_grams(
    gram_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    keep_grams: bool = False,
) -> DataFrame:
    """(id [, grams], mh_0..mh_{H-1}: long) from a
    :func:`rolling_gram_sets` frame — the LIGHT half of the rolling
    signature: 8 affine+fold-high mixes and a per-row min over the
    already-distinct gram hashes, vectorized across the batch.  Minhash
    s = min over grams of the finalized mixer (per-seed affine stage +
    shared ROLL_FINAL_A2 fold-high rounds), taken in unsigned space —
    identical values to mixing before dedup, since min over a multiset
    equals min over its distinct set."""
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    if num_hashes > len(ROLL_MIX):
        raise ValueError(f"num_hashes > {len(ROLL_MIX)} not supported")
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    id_field = gram_df.schema[id_col]
    fields = [StructField(id_col, id_field.dataType, True)]
    if keep_grams:
        fields.append(StructField("grams", ArrayType(LongType(), False), True))
    fields.extend(
        StructField(f"mh_{s}", LongType(), True) for s in range(num_hashes)
    )
    out_schema = StructType(fields)
    mix = ROLL_MIX[:num_hashes]

    def compute(batches):
        import numpy as np
        import pandas as pd

        a2 = np.uint64(ROLL_FINAL_A2)
        sh32 = np.uint64(32)
        for pdf in batches:
            grams = pdf["grams"].tolist()
            nrows = len(grams)
            out = {id_col: pdf[id_col].tolist()}
            if keep_grams:
                out["grams"] = grams
            if nrows == 0:
                for s in range(len(mix)):
                    out[f"mh_{s}"] = []
                yield pd.DataFrame(out, columns=list(out_schema.names))
                continue
            lens = np.fromiter(
                (len(g) for g in grams), np.int64, count=nrows
            )
            # every upstream row carries >= 1 gram (empty text folds to
            # the init value); reduceat needs non-empty segments
            if (lens == 0).any():
                raise ValueError("minhash_from_grams: empty gram set")
            gs = np.concatenate(
                [np.asarray(g, np.int64) for g in grams]
            ).view(np.uint64)
            seg = np.concatenate(([0], np.cumsum(lens)[:-1]))
            for s, (a_s, c_s) in enumerate(mix):
                v = gs * np.uint64(a_s) + np.uint64(c_s)
                v = v + (v >> sh32)
                v = v * a2
                v = v + (v >> sh32)
                out[f"mh_{s}"] = np.minimum.reduceat(v, seg).view(np.int64)
            yield pd.DataFrame(out)

    return gram_df.mapInPandas(compute, out_schema)


def rolling_char_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(id, grams: array<long>, mh_0..mh_{H-1}: long) per document:
    :func:`rolling_gram_sets` followed by :func:`minhash_from_grams`.
    See those for the hash/normalization contract (pinned byte-for-byte
    by tests and the DuckDB oracle)."""
    return minhash_from_grams(
        rolling_gram_sets(df, text_col, id_col, k),
        id_col,
        num_hashes,
        keep_grams=True,
    )


def rolling_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    k: int = 5,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """:func:`near_duplicates` with the rolling-hash signature as the
    signature stage: same LSH shape (band equi-join only, exact
    Jaccard verify on candidates), allocation-light hashing.  Band keys
    are within-engine only, so plain ``concat_ws`` over the minhash
    longs suffices (no digest needed)."""
    if num_hashes % num_bands:
        raise ValueError("num_hashes must divide evenly into num_bands")
    rows = num_hashes // num_bands
    # the exchange right after the heavy Arrow pass is deliberate: the
    # minhash/band branch and BOTH verify-join sides below consume it,
    # and because rolling_gram_sets' output schema is exactly
    # (id, grams) every consumer prunes to the same column set — the
    # three exchange subtrees stay canonically identical and AQE reuses
    # ONE shuffle stage, so the normalization+rolling-hash pass runs
    # ONCE (the former fused (grams, mh_*) pass re-ran per branch: the
    # band branch pruned grams away and the verify sides pruned the mh
    # columns, so no two copies canonicalized equal — measured as the
    # whole Python stage executing 3x per run).  The shuffle moves only
    # (id, grams); the minhash mix runs above the exchange on the tiny
    # post-dedup gram arrays (guide §1.2 / §2.4).  The explicit
    # isnotnull(id) keeps all three subtrees canonically equal to the
    # filter the verify joins INFER and push below the exchange (the
    # duplicate_spans lesson) — it drops nothing that could matter: a
    # null-id document can never appear in a candidate pair
    # (collect_set skips nulls) nor match a join-back probe.
    grams_df = (
        rolling_gram_sets(df, text_col, id_col, k)
        .filter(F.col(id_col).isNotNull())
        .repartition(F.col(id_col))
    )
    sig = minhash_from_grams(grams_df, id_col, num_hashes, keep_grams=False)
    bands = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh_{band * rows + r}").cast("string")
                                for r in range(rows)
                            ],
                        ).alias("band_key"),
                    )
                    for band in range(num_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_key")
    pairs = candidate_pairs(bands, id_col)
    sets_df = grams_df
    joined = pairs.join(
        sets_df.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a")),
        "id_a",
    ).join(
        sets_df.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    union = F.size("g_a") + F.size("g_b") - inter
    jacc = inter.cast("double") / union.cast("double")
    return joined.select("id_a", "id_b", jacc.alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(min_jaccard)
    )
