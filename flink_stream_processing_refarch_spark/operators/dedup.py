"""Deduplication operators for training-data pipelines:
exact (hash-groupBy), MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Corpus under test: the ``documents`` table plus deterministically injected
duplicates (every 10th doc re-appears under doc_id+1000000, every 20th
re-appears with its first word dropped under doc_id+2000000) — the same
derivation in Spark and the DuckDB oracle, so the dedup queries have real
duplicates to find and exact expected outputs.

Scale design:
  - Exact dedup: groupBy(md5(text)) keeping min(doc_id) — one shuffle on
    the 128-bit content hash; at 100 TB this is the canonical map-side
    combinable pattern (hash once at scan, aggregate bigint/bytes only).
  - MinHash+LSH: per-doc signature (k=8 32-bit slice-minima of TWO md5s
    per word 3-shingle — see ``_minhash_cols`` for the k-slices
    construction and the measured slice-width trade) computed in pure
    array expressions
    (no explode of the shingle set through a shuffle!); docs are then
    exploded only into 4 (band, band-hash) rows each, and candidate
    pairs come from a self-join on the band hash — the standard LSH
    bucket join whose shuffle volume is O(docs x bands), independent of
    document length.
  - SimHash: 32-bit signature via per-word hashes folded with bit-count
    array arithmetic; near-dups = pairs whose signatures agree on a 16-bit
    half (pigeonhole prefilter) and have Hamming distance <= 3.
  - n-gram Jaccard verify: exact word-set Jaccard computed only for
    candidate pairs (explode distinct words, count intersections) — the
    expensive exact check runs on the LSH-candidate set, not all pairs.

The portable hash is md5 (both engines agree bit-for-bit); a production
deployment would swap xxhash64 for md5 — same plan shape, ~5x cheaper.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import TOKENS, arr_len, arr_min, arr_transform, words_expr
from ..schemas import load_table, spread

N_HASHES = 8          # minhash signature length
N_BANDS = 4           # LSH bands (2 rows per band)
LSH_BUCKET_CAP = 64   # drop band buckets larger than this (see LSH query)
SIMHASH_BITS = 32
SIM_HAMMING_MAX = 3


# ---------------------------------------------------------------------------
# Corpus with injected duplicates (shared Spark/DuckDB derivation)
# ---------------------------------------------------------------------------

def corpus_sql(dialect: str) -> str:
    """documents + exact dups (every 10th) + near dups (every 20th, first
    word dropped)."""
    w = words_expr("text", dialect)
    if dialect == "spark":
        tail = f"concat_ws(' ', slice({w}, 2, size({w}) - 1))"
    else:
        tail = f"array_to_string(list_slice({w}, 2, len({w})), ' ')"
    return (
        "SELECT doc_id, text, source FROM documents"
        " UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, text, source FROM documents"
        " WHERE doc_id % 10 = 0"
        " UNION ALL "
        f"SELECT doc_id + 2000000 AS doc_id, {tail} AS text, source"
        " FROM documents WHERE doc_id % 20 = 0"
    )


def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    # r15 optimization round: the Spark-side derivation is ONE scan that
    # explodes each document into its 1-3 corpus variants, not the
    # 3-branch UNION ALL the oracle spells (guide §2.4 — the union read
    # the documents table three times per corpus reference; at 100 TB
    # that is three full passes where one suffices, and dedup_minhash_lsh
    # re-derives the corpus three times = NINE scans). The tail variant's
    # split() runs only for the doc_id % 20 rows inside the IF (the
    # union branch paid the same 2 evaluations on the same rows).
    # Multiset-identical to corpus_sql("spark") by construction
    # (exceptAll both ways == 0 at sf0.1); row order differs, which no
    # consumer observes (aggregations/joins only).
    variants = (
        "concat("
        "array(named_struct('doc_id', doc_id, 'text', text,"
        " 'source', source)),"
        "IF(doc_id % 10 = 0, array(named_struct('doc_id',"
        " doc_id + 1000000L, 'text', text, 'source', source)), array()),"
        "IF(doc_id % 20 = 0, array(named_struct('doc_id',"
        " doc_id + 2000000L, 'text', concat_ws(' ', slice("
        "split(text, ' ', -1), 2, size(split(text, ' ', -1)) - 1)),"
        " 'source', source)), array()))"
    )
    # The documents table is one small parquet file locally, so the scan
    # starves the md5/shingle map work (measured: 10x under-parallelized
    # at local[32]). spread() round-robins across cores ONLY in that
    # starved case — BEFORE the variant explode, so the fan-out itself
    # parallelizes; at 100 TB the scan has thousands of splits and no
    # exchange is added — document text never crosses a shuffle.
    return (
        spread(
            docs.select("doc_id", "text", "source"),
            src_path=f"{sf_dir}/documents.parquet",
        )
        .select(F.explode(F.expr(variants)).alias("v"))
        .select("v.doc_id", "v.text", "v.source")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: one surviving doc_id per distinct text +
    duplicate count. Shuffles only (hash, doc_id) — never the text."""
    c = corpus_df(spark, sf_dir)
    return (
        c.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


DEDUP_EXACT_SQL_T = """
WITH corpus AS ({corpus})
SELECT md5(text) AS h, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself (count + min id per hash, all rows)."""
    c = corpus_df(spark, sf_dir)
    return (
        c.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


DEDUP_SURVIVORS_SQL_T = """
WITH corpus AS ({corpus})
SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingles(dialect: str, ws: str | None = None) -> str:
    """Word 3-gram shingles of ``text`` (docs shorter than 3 words fall
    back to the whole text as one shingle).

    ``ws`` (Spark-side callers): the name of a PRE-PROJECTED words
    column. Inlining ``words_expr`` spells the split three times in one
    expression, and Spark evaluates it three times per row (no
    subexpression elimination through higher-order functions — r14
    optimization round, measured 3.5x on the winnow shape). Referencing
    a non-cheap alias more than once keeps CollapseProject from
    re-inlining it, so the split runs once. The oracle (DuckDB) callers
    pass nothing — DuckDB CSEs the repeated expression itself and the
    emitted SQL stays byte-identical to prior rounds."""
    w = ws or words_expr("text", dialect)
    if dialect == "spark":
        grams = (
            f"transform(sequence(0, size({w}) - 3), i -> "
            f"concat_ws(' ', slice({w}, i + 1, 3)))"
        )
        return f"CASE WHEN size({w}) >= 3 THEN {grams} ELSE array(text) END"
    grams = (
        f"list_transform(range(1, len({w}) - 1), i -> "
        f"array_to_string(list_slice({w}, i, i + 2), ' '))"
    )
    return f"CASE WHEN len({w}) >= 3 THEN {grams} ELSE [text] END"


def _minhash_cols(dialect: str) -> list[str]:
    """k minhash values from TWO md5s per shingle: hash function j is
    the j-th 8-hex-char (32-bit) slice of md5('0|'||s) || md5('1|'||s),
    and mh_j = min over the doc's shingles of slice j.

    The k-slices-of-few-hashes construction (disjoint digest slices are
    independent uniform values per shingle, so the k slice-minima behave
    as k independent minhash functions) cuts the r03 cost of k=8 seeded
    md5s per shingle to 2 — measured 30.4 s -> ~24 s for
    dedup_minhash_lsh at the sf10 decade (500k docs), with candidate
    pairs exactly linear (rows x9.9 per x10 data). The slice WIDTH is
    the knob this measurement set: a 1-md5 / 16-bit-slice variant was
    tried first (18 s — cheapest) and REJECTED on the sf1 -> sf10
    curve: 16-bit minima over ~300-shingle docs concentrate near 0, and
    at 500k docs random band agreement produced a measured 14.1x
    candidate-pair step per 10x data. 32-bit slices put random
    collisions at ~2^-32 per comparison — negligible at any realistic
    corpus. Every consumer (LSH, clustering, the incremental index)
    shares these columns, and the oracle applies the identical rule."""
    return [
        arr_min(
            arr_transform(
                "__sh_md5", f"h -> substr(h, {8 * j + 1}, 8)", dialect
            ),
            dialect,
        )
        for j in range(N_HASHES)
    ]


def _sh_md5(dialect: str) -> str:
    """The once-per-shingle 64-hex-char combined digest the slices read
    from — materialized as its OWN column so the two md5 passes run
    exactly once per document (not once per hash function)."""
    if dialect == "spark":
        return arr_transform(
            "__shingles",
            "s -> concat(md5(concat('0|', s)), md5(concat('1|', s)))",
            dialect,
        )
    return arr_transform(
        "__shingles", "s -> md5('0|' || s) || md5('1|' || s)", dialect
    )


def _band_expr(dialect: str, b: int) -> str:
    """Band hash = md5 of the 2 minhashes in band b (already computed as
    columns mh0..mh7)."""
    return f"md5(concat(mh{2 * b}, mh{2 * b + 1}))"


def with_minhash(df: DataFrame) -> DataFrame:
    """Append the mh0..mh{k-1} minhash columns of ``text``."""
    # words projected ONCE as a column (see _shingles docstring)
    df = df.withColumn("__ws", F.expr(words_expr("text", "spark")))
    df = df.withColumn("__shingles", F.expr(_shingles("spark", ws="__ws")))
    df = df.withColumn("__sh_md5", F.expr(_sh_md5("spark")))
    for j, e in enumerate(_minhash_cols("spark")):
        df = df.withColumn(f"mh{j}", F.expr(e))
    return df.drop("__ws", "__shingles", "__sh_md5")


def band_rows(sigs: DataFrame, id_alias: str = "doc_id") -> DataFrame:
    """Explode a signature frame into (id, band, bh) rows, one per LSH
    band."""
    return sigs.select(
        F.col("doc_id").alias(id_alias),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(_band_expr("spark", b)).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select(id_alias, "e.band", "e.bh")


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_minhash(corpus_df(spark, sf_dir)).drop("text")


def _signatures_sql(dialect: str) -> str:
    mh = ", ".join(f"{e} AS mh{j}" for j, e in enumerate(_minhash_cols(dialect)))
    return (
        f"SELECT doc_id, source, {mh} FROM ("
        f"SELECT doc_id, source, {_sh_md5(dialect)} AS __sh_md5 FROM ("
        f"SELECT doc_id, source, {_shingles(dialect)} AS __shingles"
        f" FROM corpus))"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(spark, sf_dir).select(
        "doc_id", *[f"mh{j}" for j in range(N_HASHES)]
    )


MINHASH_SIGNATURES_SQL_T = """
WITH corpus AS ({corpus})
SELECT doc_id, {mh_cols} FROM ({sigs})
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs + minhash-estimated Jaccard.

    Explodes each doc into N_BANDS (band, band-hash) rows, groups them by
    bucket, and expands candidate pairs *inside* each bucket:

      groupBy(band, bh) -> sorted doc_id list -> filter
      2 <= |bucket| <= LSH_BUCKET_CAP -> in-bucket (i < j) pair expansion

    versus the classic band self-join this is ONE exchange on the band
    key instead of two (each self-join branch re-shuffles — and, worse,
    recomputes the minhash signatures), and the degenerate-bucket cap
    becomes a free ``size(ids)`` filter instead of a count window (whose
    per-partition sort + WindowExec cost the r02 bench 1.65x). Measured
    at sf0.1 (median of 3, warm): 1.58 s vs 2.41 s for window-cap
    self-join and 1.85 s for the uncapped self-join — identical rows.

    The cap itself: a hot band hash (boilerplate/empty templates at web
    scale) would emit |bucket|^2/2 candidate pairs — THE quadratic
    blowup that kills banded LSH at 100 TB. Buckets larger than
    LSH_BUCKET_CAP are dropped (their members are head-of-distribution
    near-identical docs, handled by exact dedup); pair output per bucket
    is bounded by CAP^2/2 ~ 2k rows. No-op on the test corpora (max
    observed bucket = 16 at sf0.1) and mirrored in the oracle.

    The signature relation still feeds the two est-Jaccard join branches
    by recomputation: measured at sf0.1, persisting it HURTS ~3x — cache
    materialization serializes the array-heavy rows through a starved
    scan write and breaks stage pipelining. At 100 TB the signatures
    become a materialized TABLE (written once at ingest), which has the
    sharing benefit without the in-memory cache cost.
    """
    sigs = minhash_signatures(spark, sf_dir)
    bkt = (
        band_rows(sigs)
        .groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= LSH_BUCKET_CAP))
    )
    pairs = (
        bkt.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # r14 optimization round: a single-pass unpivot-attach (one
    # signatures derivation + a pair-keyed regroup, the
    # rerank_candidates shape) was built, oracle-verified and A/B
    # measured here — and REVERTED: warm walls 0.78 -> 1.12 s (the
    # added exchange + conditional aggregate outweighs the saved
    # tiny-corpus derivation at bench scale), and at 100 TB the
    # sharing answer for this family is the signatures TABLE
    # materialized at ingest (below), not an in-plan regroup.
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(N_HASHES)],
    )
    agree = " + ".join(
        f"(CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END)" for j in range(N_HASHES)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST({agree} AS DOUBLE) / {N_HASHES}").alias("est_jaccard"),
        )
    )


# Oracle mirror of the degenerate-bucket cap (see q_dedup_minhash_lsh).
def _bands_ok_cte() -> str:
    return f"""bands_ok AS (
  SELECT band, bh, doc_id FROM (
    SELECT band, bh, doc_id, count(*) OVER (PARTITION BY band, bh) AS bsz
    FROM bands)
  WHERE bsz <= {LSH_BUCKET_CAP}
)"""


def _lsh_pairs_sql(dialect: str = "duckdb") -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_expr(dialect, b)} AS bh FROM sigs"
        for b in range(N_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_HASHES)
    )
    return f"""
WITH corpus AS ({{corpus}}),
sigs AS ({_signatures_sql(dialect)}),
bands AS ({band_rows}),
{_bands_ok_cte()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST({agree} AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_expr(dialect: str) -> str:
    """32-bit simhash over per-word 60-bit hashes.

    bit_k(sig) = 1 iff more words have bit k set than unset. Computed with
    array arithmetic over a materialized word-hash array (md5 evaluated
    once per word, not once per bit).
    """
    hs = "__whashes"
    terms = []
    for k in range(SIMHASH_BITS):
        ones = arr_transform(hs, f"h -> (h >> {k}) & 1", dialect)
        if dialect == "spark":
            cnt = f"aggregate({ones}, CAST(0 AS BIGINT), (a, x) -> a + x)"
            n = f"size({hs})"
        else:
            cnt = f"CAST(list_sum({ones}) AS BIGINT)"
            n = f"len({hs})"
        terms.append(f"(CASE WHEN 2 * {cnt} > {n} THEN CAST(1 AS BIGINT) << {k} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _word_hashes(dialect: str) -> str:
    from ..functions.portable import md5_int60

    w = words_expr("text", dialect)
    # per-word 60-bit hash; distinct words so repeated words don't dominate
    dd = TOKENS[dialect]["adistinct"]
    return arr_transform(f"{dd}({w})", f"x -> {md5_int60('x', dialect)}", dialect)


def simhash_signatures_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus_df(spark, sf_dir)
    c = c.withColumn("__whashes", F.expr(_word_hashes("spark")))
    return c.select(
        "doc_id", F.expr(_simhash_expr("spark")).alias("simhash")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures_df(spark, sf_dir)


SIMHASH_SQL_T = """
WITH corpus AS ({corpus})
SELECT doc_id, {sim} AS simhash
FROM (SELECT doc_id, {whashes} AS __whashes FROM corpus)
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by simhash: block on 16-bit halves (pigeonhole: any
    pair within Hamming distance 3 of 32 bits agrees exactly on at least
    one half), then exact Hamming check <= 3.

    Scale note: blocking is an EXACT pigeonhole guarantee, so a bucket
    cap would silently lose pairs — the correct 100 TB mitigations keep
    exactness: a 64-bit simhash split into four 16-bit blocks (pairs
    within Hamming 3 still agree on >= 1 block, buckets shrink 65536x
    per extra block) and/or recursive splitting of hot blocks on a
    second key. Half-key skew here is data skew, not a plan defect.

    (Measured: persisting the signature relation here HURTS — the cache
    materialization serializes a 3-partition write and breaks stage
    pipelining; recomputing both join sides is cheaper. Contrast with the
    minhash path, where signatures feed three branches.)
    """
    sigs = simhash_signatures_df(spark, sf_dir)
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("half"),
                    F.expr("simhash & 65535").alias("key"),
                ),
                F.struct(
                    F.lit(1).alias("half"),
                    F.expr("simhash >> 16").alias("key"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", "simhash", "e.half", "e.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.half") == F.col("b.half"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIM_HAMMING_MAX)
    )


DEDUP_SIMHASH_SQL_T = """
WITH corpus AS ({corpus}),
sigs AS (
  SELECT doc_id, {sim} AS simhash
  FROM (SELECT doc_id, {whashes} AS __whashes FROM corpus)
),
blocks AS (
  SELECT doc_id, simhash, 0 AS half, simhash & 65535 AS key FROM sigs
  UNION ALL
  SELECT doc_id, simhash, 1 AS half, simhash >> 16 AS key FROM sigs
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocks a JOIN blocks b
  ON a.half = b.half AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {hmax}
"""


# ---------------------------------------------------------------------------
# Exact n-gram (word-set) Jaccard verification of LSH candidates
# ---------------------------------------------------------------------------

def _attach_pair_word_sets(c: DataFrame, pairs: DataFrame) -> DataFrame:
    """Attach both docs' word sets to every candidate pair — the wa/wb
    two-branch broadcast-probe join (pairs are the candidate-bounded
    small side). r14 optimization round: a single-pass unpivot-attach
    (one corpus tokenize + a pair-keyed regroup, the rerank_candidates
    shape) was built, oracle-verified and A/B measured here — and
    REVERTED: warm walls regressed ~20-40% across the family
    (ngram_jaccard 0.75 -> 0.93 s, dup_source_matrix 1.02 -> 1.39 s;
    the added exchange + conditional aggregate costs more than the
    saved tiny-corpus scan at bench scale). At 100 TB the candidates
    relation is served from a materialized index/word-set sidecar, so
    the duplicate in-plan derivation is a bench-scale artifact, not
    the at-scale plan."""
    wa = c.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa"))
    wb = c.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb"))
    return pairs.join(wa, "doc_a").join(wb, "doc_b")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard for every LSH candidate pair (the
    verify-the-candidates stage of the near-dup pipeline); emits pairs
    with jaccard >= 0.5."""
    c = corpus_df(spark, sf_dir).select(
        "doc_id", F.expr(f"array_distinct({words_expr('text', 'spark')})").alias("ws")
    )
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").persist()
    # two-branch wa/wb attach — the measured choice; the single-pass
    # unpivot variant was built and REVERTED (see _attach_pair_word_sets)
    ws2 = _attach_pair_word_sets(c, pairs)
    return (
        ws2.select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(size(array_intersect(wa, wb)) AS DOUBLE)"
                " / size(array_union(wa, wb))"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# Builds state while constructing its plan (the persisted candidate
# pairs) — the plan cache must re-run it per call (plancache.py).
q_ngram_jaccard.stateful_build = True

def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the provenance/licensing view:
    for each unordered source pair, how many VERIFIED near-dup pairs
    (the ngram_jaccard >= 0.5 output) span it. Off-diagonal cells are
    the actionable signal (a crawl source plagiarizing another, or one
    license-risky source leaking into a clean one); the diagonal is
    within-source redundancy. Pair normalization: (least, greatest) of
    the two source names, so each unordered pair lands in one cell.

    Scale: the matrix derives from the already-candidate-bounded
    verified pairs (never all-pairs); the source lookup is a join on
    doc_id carrying (doc_id, source) only; output is bounded by
    |sources|^2."""
    pairs = q_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    src = corpus_df(spark, sf_dir).select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("source_x")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("source_y")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("source_x", "source_y").alias("source_a"),
            F.greatest("source_x", "source_y").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_dup_pairs"))
    )


# Composes q_ngram_jaccard, which persists its candidate pairs during
# plan build — same plan-cache exemption.
q_dup_source_matrix.stateful_build = True

DUP_SOURCE_MATRIX_SQL_T = """
WITH corpus AS ({corpus}),
sigs AS ({sigs}),
bands AS ({band_rows}),
""" + _bands_ok_cte() + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
wsets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM corpus
),
verified AS (
  SELECT doc_a, doc_b FROM (
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
    FROM pairs p
    JOIN wsets a ON a.doc_id = p.doc_a
    JOIN wsets b ON b.doc_id = p.doc_b
  ) WHERE jaccard >= 0.5
)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       count(*) AS n_dup_pairs
FROM verified v
JOIN corpus sa ON v.doc_a = sa.doc_id
JOIN corpus sb ON v.doc_b = sb.doc_id
GROUP BY least(sa.source, sb.source), greatest(sa.source, sb.source)
"""


CONTAIN_MIN = "0.8"  # excerpt threshold on the larger directional containment


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT verification of the LSH candidates:
    containment(A in B) = |A∩B| / |A| on word sets. Symmetric Jaccard
    misses the excerpt/quote case — a short doc fully embedded in a long
    one has tiny Jaccard but containment ~1 — so corpus pipelines run
    both verifiers over the same candidate set (Broder 1997
    distinguishes "resemblance" from "containment"). Emits candidate
    pairs whose larger directional containment >= CONTAIN_MIN, with the
    contained side named (ties -> the smaller word set, then doc_a).

    Scale: identical posture to ngram_jaccard — exact set math runs on
    LSH candidates only, never all pairs; the ratio is one double
    division of two exact ints per row (identical in both engines)."""
    c = corpus_df(spark, sf_dir).select(
        "doc_id",
        F.expr(f"array_distinct({words_expr('text', 'spark')})").alias("ws"),
    )
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").persist()
    # two-branch wa/wb attach — the measured choice; the single-pass
    # unpivot variant was built and REVERTED (see _attach_pair_word_sets)
    ws2 = _attach_pair_word_sets(c, pairs)
    return (
        ws2.select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(wa, wb))").alias("n_common"),
            F.expr("size(wa)").alias("n_a"),
            F.expr("size(wb)").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.expr("CAST(n_common AS DOUBLE) / n_a").alias("containment_a"),
            F.expr("CAST(n_common AS DOUBLE) / n_b").alias("containment_b"),
            F.expr(
                "CASE WHEN n_a < n_b THEN doc_a WHEN n_b < n_a THEN doc_b"
                " ELSE least(doc_a, doc_b) END"
            ).alias("contained_doc"),
        )
        .filter(
            F.expr(
                f"greatest(containment_a, containment_b)"
                f" >= CAST({CONTAIN_MIN} AS DOUBLE)"
            )
        )
    )


q_containment_dedup.stateful_build = True

CONTAINMENT_DEDUP_SQL_T = """
WITH corpus AS ({corpus}),
sigs AS ({sigs}),
bands AS ({band_rows}),
""" + _bands_ok_cte() + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
wsets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM corpus
),
m AS (
  SELECT p.doc_a, p.doc_b,
         len(list_intersect(a.ws, b.ws)) AS n_common,
         len(a.ws) AS n_a, len(b.ws) AS n_b
  FROM pairs p
  JOIN wsets a ON a.doc_id = p.doc_a
  JOIN wsets b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b, CAST(n_common AS INT) AS n_common,
       CAST(n_common AS DOUBLE) / n_a AS containment_a,
       CAST(n_common AS DOUBLE) / n_b AS containment_b,
       CASE WHEN n_a < n_b THEN doc_a WHEN n_b < n_a THEN doc_b
            ELSE least(doc_a, doc_b) END AS contained_doc
FROM m
WHERE greatest(CAST(n_common AS DOUBLE) / n_a,
               CAST(n_common AS DOUBLE) / n_b) >= CAST({cmin} AS DOUBLE)
"""

NGRAM_JACCARD_SQL_T = """
WITH corpus AS ({corpus}),
sigs AS ({sigs}),
bands AS ({band_rows}),
""" + _bands_ok_cte() + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
wsets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM corpus
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
           / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
  FROM pairs p
  JOIN wsets a ON a.doc_id = p.doc_a
  JOIN wsets b ON b.doc_id = p.doc_b
)
WHERE jaccard >= 0.5
"""


def _fill(template: str, **extra: str) -> str:
    return template.format(corpus=corpus_sql("duckdb"), **extra)


# ---------------------------------------------------------------------------
# Connected-components clustering of verified near-dup pairs
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20  # safety cap; convergence needs O(component diameter)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: hash-min connected components over the
    verified near-dup pair graph (candidates -> Jaccard verify -> cluster).
    Emits (doc_id, cluster_id) where cluster_id = min doc_id reachable
    through near-dup edges — the canonical "keep one per cluster" label a
    training-data dedup pass needs (pairwise output alone over-deletes
    when A~B and B~C but A!~C).

    Scale design: hash-min label propagation — each round is one
    edges-to-labels hash join plus one min-aggregation, both shuffled on
    doc_id, and propagates every component's minimum one hop; rounds
    needed = graph diameter (near-dup components are shallow — dups of a
    doc are dups of each other — so 2-4 rounds in practice). The
    driver-side loop is pure orchestration: two scalar actions per round
    (localCheckpoint + a 1-row sum for the convergence test); label rows
    are never collected. localCheckpoint materializes each round's labels
    (2 bigint columns) and truncates lineage so the plan doesn't double
    per round; on a real cluster use spark.sparkContext.setCheckpointDir
    + .checkpoint() for executor-loss-tolerant truncation.
    """
    # Checkpoint the verified pairs FIRST, then mirror them: symmetrizing
    # an un-materialized DataFrame would run the whole LSH+verify pipeline
    # once per union branch (measured 2x at sf0.1), and again every round.
    # LAZY checkpoint (r14 optimization round): pairs.count() below is
    # the first action and materializes the checkpoint inside the same
    # job — the union branches after it read the materialized relation,
    # so the LSH+verify pipeline still runs exactly once.
    pairs = (
        q_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    # The iterative phase operates on the ACTIVE relation (docs that have
    # at least one near-dup edge) — orders of magnitude smaller than the
    # corpus — so its exchanges are sized to that relation, not to the
    # scan-level parallelism: per-round cost at sf0.1 drops 0.65s ->
    # 0.33s, and at 100 TB the cap at defaultParallelism keeps the loop
    # cluster-wide. pairs.count() is a cheap 1-job action over the
    # checkpointed two-bigint relation.
    n_pairs = pairs.count()
    par = spark.sparkContext.defaultParallelism
    cc_parts = int(max(1, min(par, n_pairs // 25_000 + 1)))
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .repartition(cc_parts, "src")
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .repartition(cc_parts, "doc_id")
        .localCheckpoint(eager=False)
    )
    # this one action materializes labels AND edges (both lazily
    # checkpointed above): one job instead of three
    prev = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for _ in range(CC_MAX_ITERS):
        msgs = edges.join(labels, F.col("src") == F.col("doc_id")).select(
            F.col("dst").alias("doc_id"), "cluster_id"
        )
        # pre-partition on the group key so the groupBy reuses the
        # cc_parts-sized exchange instead of the session-wide default
        labels = (
            labels.union(msgs)
            .repartition(cc_parts, "doc_id")
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=False)
        )
        # labels only ever decrease, so an unchanged sum == fixpoint.
        # The sum is the round's ONE action: it materializes the lazy
        # checkpoint in the same job (was two jobs per round)
        cur = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    return labels


# Convergence actions (localCheckpoint + 1-row sums) run during plan
# construction — caching the built plan would serve pre-computed labels.
q_dedup_clusters.stateful_build = True

DEDUP_CLUSTERS_SQL_T = """
WITH RECURSIVE corpus AS ({corpus}),
sigs AS ({sigs}),
bands AS ({band_rows}),
""" + _bands_ok_cte() + """,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
wsets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM corpus
),
verified AS (
  SELECT doc_a, doc_b FROM (
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
    FROM cand p
    JOIN wsets a ON a.doc_id = p.doc_a
    JOIN wsets b ON b.doc_id = p.doc_b
  ) WHERE jaccard >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM verified
),
reach AS (
  SELECT src AS doc_id, src AS rid FROM edges
  UNION
  SELECT e.dst AS doc_id, r.rid FROM edges e JOIN reach r ON r.doc_id = e.src
)
SELECT doc_id, min(rid) AS cluster_id FROM reach GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (banded sign-LSH candidates + exact cosine)
# ---------------------------------------------------------------------------

COS_NEAR_DUP = 0.42  # cosine threshold (on the 6-decimal-rounded value)
EMB_BANDS = 8        # LSH bands
EMB_BITS_BASE = 6    # sign bits per band at the reference corpus size
EMB_BITS = EMB_BITS_BASE  # current value; see set_emb_scale
EMB_BUCKET_CAP = 256  # degenerate-bucket guard (mirrors LSH_BUCKET_CAP)
EMB_N_REF = 2_000    # reference vector count (driver sf0.1 embeddings)

# Candidate-verify quantization scale (VERDICT r07 #6 payload slimming).
# A POWER OF TWO so q = floor(x * S + 0.5) is computed exactly in IEEE
# doubles (x*S is a pure exponent shift): the per-component error is
# EXACTLY bounded by 1/(2S), which makes the no-false-reject bound below
# provable, not heuristic. 2^14 over int16 instead of the int8 the r07
# verdict sketched: int8 needs either a clamp (breaking the bound) or a
# scale so coarse the accept margin-band blows up ~200x; smallint still
# halves the float32 payload and keeps |q| <= ~2^14*|x| < 2^15 for any
# |x| < 2 with a margin band of ~6e-4 cosine.
EMB_QUANT_SCALE = 1 << 14


def emb_bits_for(n_vectors: int) -> int:
    """The documented code-space sizing rule (VERDICT r06 #3): one extra
    sign bit per band for every doubling of the corpus past EMB_N_REF,
    keeping random-collision band-bucket occupancy N / 2^EMB_BITS
    roughly CONSTANT (~31 vectors at every scale) — exactly the
    "EMB_BITS stays log2(N)-ish" law _emb_planes documents. Integer
    arithmetic only (bit_length), so both engines see the same value."""
    return EMB_BITS_BASE + max(
        0, (max(1, n_vectors) // EMB_N_REF).bit_length() - 1
    )


def set_emb_scale(n_vectors: int | None = None) -> int:
    """Re-derive the embedding-LSH code space for an ``n_vectors``-sized
    corpus (None = reset to the reference defaults, which exactly match
    the fixed pre-r07 constants). Regenerates the hyperplanes and the
    integer-quantized copies BOTH the Spark UDF and the DuckDB oracle
    read at call time — the two engines stay in lockstep by
    construction. Clears the plan cache (cached plans bake the old
    codes). Returns the active EMB_BITS."""
    global EMB_BITS, EMB_PLANES, EMB_PLANES_INT
    EMB_BITS = EMB_BITS_BASE if n_vectors is None else emb_bits_for(n_vectors)
    EMB_PLANES = _emb_planes()
    EMB_PLANES_INT = [
        [int(math.floor(v * 1e6 + 0.5)) for v in plane] for plane in EMB_PLANES
    ]
    # lockstep: the materialized oracle dict bakes the plane literals
    ORACLES.update(_oracles())
    from .. import plancache

    plancache.clear()
    return EMB_BITS


def _emb_planes() -> list[list[float]]:
    """EMB_BANDS x EMB_BITS Gaussian hyperplanes (own seed — the ANN
    family's 8 planes are too few for banded near-dup codes).

    Sizing (round 4, driven by the measured SCALING.md decade): 2-bit
    codes gave only 4 buckets/band, so bucket occupancy grew linearly
    with corpus size and in-bucket pair expansion quadratically —
    measured 75x wall across the sf0.1 -> sf1 decade. 6-bit codes cut
    random-collision occupancy 16x (to N/64 per band); 8 bands keep
    recall: P(collide in >=1 band) for a pair at cosine c is
    1-(1-p^6)^8 with p = 1 - acos(c)/pi — ~98% at c=0.9 (the true-dup
    regime of this corpus), decaying toward the 0.42 threshold. At
    larger N the knob stays EMB_BITS (log2(N)-ish), exactly like
    adding minhash bands."""
    import random

    from .similarity import DIM

    rng = random.Random(43210)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(DIM)]
        for _ in range(EMB_BANDS * EMB_BITS)
    ]


EMB_PLANES = _emb_planes()

# Integer-quantized planes (micro-units): the plane values are already
# rounded to 6 decimals, so floor(v * 1e6 + 0.5) recovers them exactly as
# int64 — the sign computation below runs in EXACT integer arithmetic.
EMB_PLANES_INT = [
    [int(math.floor(v * 1e6 + 0.5)) for v in plane] for plane in EMB_PLANES
]


def _emb_codes_udf():
    """Vectorized band-code computation: embedding -> EMB_BANDS codes.

    Determinism upgrade over the r03 float fold: both the vector and the
    hyperplanes are quantized to integer micro-units (floor(x*1e6+0.5) —
    exact IEEE double ops, identical in Spark/numpy/DuckDB), and the
    sign is taken on the EXACT int64 dot product, so the code is
    bit-identical across engines *by construction* — no reliance on two
    engines' float fold orders agreeing (mixture_weights discipline).

    Performance: the r03 interpreted HOF fold (zip_with+aggregate per
    plane; HOFs never enter whole-stage codegen) cost ~4-6 s at sf0.1 —
    48 plane dots x 64 dims per vector through the expression
    interpreter. This Arrow-batched pandas UDF does the same work as ONE
    int64 matmul per batch (~10 ms); measured dedup_embedding wall
    5-7 s -> ~1 s at sf0.1. Overflow-safe: |e_i| <= ~8e6, |p_i| <= ~5e6
    micro-units -> |dot| <= 64 * 4e13 ~ 2.6e15 << 2^63.
    """
    import numpy as np
    import pandas as pd

    planes_t = np.array(EMB_PLANES_INT, dtype=np.int64).T  # DIM x (bands*bits)
    weights = (1 << np.arange(EMB_BITS - 1, -1, -1)).astype(np.int64)

    def codes(emb):
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        m = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        eint = np.floor(m * 1e6 + 0.5).astype(np.int64)
        bits = (eint @ planes_t >= 0).astype(np.int64)
        banded = bits.reshape(len(bits), EMB_BANDS, EMB_BITS)
        return pd.Series((banded * weights).sum(axis=2).astype(np.int32).tolist())

    # Real (non-string) annotations: the module-wide `from __future__
    # import annotations` would stringify inline hints, and pandas is not
    # importable by name when pandas_udf resolves them.
    codes.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return F.pandas_udf("array<int>")(codes)


def _emb_bits_duck() -> str:
    """DuckDB mirror of the integer sign rule: exact int64 dots over the
    micro-unit quantized vector and the shared integer plane literals."""
    planes = "[" + ", ".join(
        "[" + ", ".join(f"CAST({v} AS BIGINT)" for v in plane) + "]"
        for plane in EMB_PLANES_INT
    ) + "]"
    return (
        f"list_transform({planes}, p -> CASE WHEN"
        " CAST(list_sum(list_transform(range(1, len(ei) + 1),"
        " i -> ei[i] * p[i])) AS BIGINT) >= 0 THEN 1 ELSE 0 END)"
    )


def _emb_quant_udf():
    """Vector -> (int16 quantized copy, int64 L1 of the quantized copy):
    the slim candidate-verify payload (see q_dedup_embedding phase A).
    q = floor(x * S + 0.5) with S = EMB_QUANT_SCALE a power of two, so
    the float multiply is exact and |x - q/S| <= 1/(2S) EXACTLY."""
    import numpy as np
    import pandas as pd

    S = EMB_QUANT_SCALE

    def quant(emb):
        if len(emb) == 0:
            return pd.DataFrame(
                {
                    "qv": pd.Series([], dtype=object),
                    "l1": pd.Series([], dtype="int64"),
                }
            )
        m = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        q = np.floor(m * S + 0.5).astype(np.int64)
        return pd.DataFrame(
            {
                "qv": list(q.astype(np.int16)),
                "l1": np.abs(q).sum(axis=1),
            }
        )

    quant.__annotations__ = {"emb": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf("struct<qv: array<smallint>, l1: bigint>")(quant)


def _emb_qdot_udf():
    """Exact int64 dot of two int16-quantized vectors (one vectorized
    multiply-sum per Arrow batch; |q_i| < 2^15 so |dot| < 64*2^30 —
    overflow-free by 4 orders of magnitude)."""
    import numpy as np
    import pandas as pd

    def qdot(qa, qb):
        if len(qa) == 0:
            return pd.Series([], dtype="int64")
        a = np.array([np.asarray(v, dtype=np.int64) for v in qa])
        b = np.array([np.asarray(v, dtype=np.int64) for v in qb])
        return pd.Series((a * b).sum(axis=1))

    qdot.__annotations__ = {"qa": pd.Series, "qb": pd.Series,
                            "return": pd.Series}
    return F.pandas_udf("bigint")(qdot)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded random-hyperplane LSH
    generates candidates, exact (rounded) cosine >= threshold confirms.

    Shuffle shape mirrors MinHash LSH: each vector becomes EMB_BANDS
    (band, code) rows — shuffle volume O(vectors x bands), never all
    pairs; the exact 64-dim cosine runs only on bucket-colliding pairs.
    At 100 TB the band/code columns are computed at ingest and the
    self-join is bucketed on (band, code). Candidate recall is tunable
    via bands x bits; the oracle mirrors the same candidate rule, so
    results are deterministic, not best-effort.

    Cost discipline (resized r04 after SCALING.md's measured decade):
    EMB_BANDS x EMB_BITS sign codes keep random-collision bucket
    occupancy at N/2^EMB_BITS per band (see :func:`_emb_planes` for the
    sizing math), and EMB_BUCKET_CAP drops degenerate buckets exactly
    like the minhash cap — their members are head-of-distribution
    vectors whose code carries no discriminating power. Both engines
    apply the identical candidate rule, so output stays deterministic.
    Measured effect of the resize at the sf1 decade: 315 s -> ~14 s
    wall, 773 -> ~27 MB shuffle (the 2-bit codes had only 4 buckets/
    band, so occupancy — and pair expansion — grew with corpus size).

    Recall envelope, stated honestly: sign-LSH amplification targets
    the HIGH-cosine regime (>= 98% for pairs at cos 0.9 with these
    parameters — re-encoded/perturbed copies, the classic near-dup
    case). This synthetic corpus's engineered dups graze the 0.42
    threshold (brute force at sf0.1: 441 pairs >= 0.42, only 14
    >= 0.5), where ANY sub-quadratic LSH collides weakly: measured
    candidate recall there is ~42% (186/441), every emitted pair
    exact-verified (zero false positives). For moderate-threshold
    SEMANTIC dedup the production path is operators/semantic.py's
    SemDeDup (corpus-adaptive k-means partitioner + within-cell
    verify), which holds ~flat exchanges across the same decade.
    """
    from .similarity import _dot_spark

    emb = load_table(spark, sf_dir, "embeddings")
    self_norm = F.expr(f"sqrt({_dot_spark('embedding', 'embedding')})")
    # Two-phase verify (VERDICT r07 #6 — the old single-phase design
    # joined full 64-float vectors onto CANDIDATE-sized pair legs,
    # 3.3 GB at the sf10 decade once the vector relation outgrew
    # broadcast):
    #
    # Phase A (slim, in-bucket): the int16-quantized copy + |q| L1 +
    # norm ride the ONE (band, code) bucket exchange — O(vectors x
    # bands) slim rows, the same exchange the candidates already need —
    # and pairs expand IN-BUCKET with their quantized payloads, so the
    # candidate-sized relation never crosses a shuffle at all. An exact
    # int64 quantized dot (Arrow-batched) decides every pair outside
    # the provable error band; only SURVIVORS reach the distinct. The
    # no-false-reject bound, with q = floor(x*S + 0.5), h = 1/(2S)
    # exact (S a power of two):
    #   |dot - dq/S^2| <= h*(L1(qa)+L1(qb))/S + 64*h^2
    # so a pair is rejected only when even dot's UPPER bound leaves
    # round6(cos) below the threshold (bound inflated 1e-9 relative +
    # 1e-12 absolute for the double arithmetic evaluating it).
    #
    # Phase B (exact, survivor-sized): survivors — true pairs plus the
    # ~6e-4-wide margin band — join back to the full vectors for the
    # oracle's exact fold-order cosine: the IDENTICAL expression as
    # before, so the oracle is unchanged; the survivor list is pair-ids
    # only (AQE broadcasts it; the vector relation never shuffles on
    # the first leg, and the second leg carries survivor rows only).
    quant = _emb_quant_udf()(F.col("embedding")).alias("q")
    bands = emb.select(
        "vec_id", "embedding", quant, self_norm.alias("norm")
    ).select(
        F.struct("vec_id", "norm", F.col("q.qv"), F.col("q.l1")).alias("m"),
        F.posexplode(_emb_codes_udf()(F.col("embedding"))).alias(
            "band", "code"
        ),
    )
    bkt = (
        bands.groupBy("band", "code")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= EMB_BUCKET_CAP))
    )
    cand = (
        bkt.select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms) - i - 1), "
                    "y -> struct(x.vec_id AS vec_a, y.vec_id AS vec_b, "
                    "x.norm AS norm_a, y.norm AS norm_b, "
                    "x.qv AS qva, y.qv AS qvb, "
                    "x.l1 AS l1a, y.l1 AS l1b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .withColumn("dq", _emb_qdot_udf()(F.col("qva"), F.col("qvb")))
    )
    s2 = float(EMB_QUANT_SCALE) * float(EMB_QUANT_SCALE)
    # |dot - dq/S^2| <= (L1(qa)+L1(qb))/(2*S^2) + 64/(4*S^2)
    bound = (
        f"((CAST(l1a + l1b AS DOUBLE) / (2.0 * {s2!r})"
        f" + 16.0 / {s2!r}) * (1.0 + 1e-9) + 1e-12)"
    )
    keep = (
        f"CAST(dq AS DOUBLE) / {s2!r} + {bound}"
        f" >= ({COS_NEAR_DUP} - 1e-6) * norm_a * norm_b"
    )
    survivors = (
        cand.filter(F.expr(keep)).select("vec_a", "vec_b").distinct()
    )
    ea_full = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emba"),
        self_norm.alias("norm_a"),
    )
    eb_full = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("embb"),
        self_norm.alias("norm_b"),
    )
    dot = _dot_spark("emba", "embb")
    return (
        survivors.join(ea_full, "vec_a")
        .join(eb_full, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.expr(f"round({dot} / (norm_a * norm_b), 6)").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COS_NEAR_DUP)
    )


def _dedup_embedding_sql() -> str:
    from .similarity import _dot_duck

    codes = ", ".join(
        "("
        + " + ".join(
            f"bits[{b * EMB_BITS + i + 1}] * {1 << (EMB_BITS - 1 - i)}"
            for i in range(EMB_BITS)
        )
        + f") AS c{b}"
        for b in range(EMB_BANDS)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, c{b} AS code FROM coded"
        for b in range(EMB_BANDS)
    )
    dot = _dot_duck("ea.embedding", "eb.embedding")
    na = _dot_duck("ea.embedding", "ea.embedding")
    nb = _dot_duck("eb.embedding", "eb.embedding")
    return f"""
WITH eint AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
           * 1000000.0 + 0.5) AS BIGINT)) AS ei
  FROM embeddings),
bits_cte AS (
  SELECT vec_id, {_emb_bits_duck()} AS bits FROM eint),
coded AS (SELECT vec_id, {codes} FROM bits_cte),
bands AS (
  {band_rows}),
bands_ok AS (
  SELECT vec_id, band, code FROM (
    SELECT vec_id, band, code,
           count(*) OVER (PARTITION BY band, code) AS bsz
    FROM bands)
  WHERE bsz <= {EMB_BUCKET_CAP}),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT vec_a, vec_b,
         round({dot} / (sqrt({na}) * sqrt({nb})), 6) AS cos_sim
  FROM pairs
  JOIN embeddings ea ON ea.vec_id = vec_a
  JOIN embeddings eb ON eb.vec_id = vec_b)
WHERE cos_sim >= {COS_NEAR_DUP}
"""


# ---------------------------------------------------------------------------
# Passage-level exact dedup (sub-document granularity)
# ---------------------------------------------------------------------------

PASSAGE_WORDS = 10  # non-overlapping passage size for sub-doc dedup


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup at passage granularity: split every corpus doc into
    non-overlapping ``PASSAGE_WORDS``-word passages, keep only the
    globally-first occurrence of each distinct passage (ordered by
    (doc_id, pos)), and reassemble each document from its surviving
    passages — the standard "remove boilerplate / repeated spans across
    documents" step that whole-doc dedup misses.

    Output per doc: passage counts before/after and the deduped text.

    Scale shape: passages are hashed at the scan; winner selection is a
    row_number window partitioned by the passage hash, then reassembly
    groups by doc_id. Passage text crosses those two exchanges at passage
    (not document) granularity — inherent to a global sub-document dedup
    that must re-emit the surviving text; both exchanges key on
    high-cardinality hashes/ids so they skew-balance. Nothing is
    collected to the driver.
    """
    c = corpus_df(spark, sf_dir)
    d = c.select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    ).withColumn("n", F.size("words"))
    p = d.select(
        "doc_id",
        "words",
        F.posexplode(
            F.sequence(
                F.lit(0), F.greatest(F.col("n") - 1, F.lit(0)),
                F.lit(PASSAGE_WORDS),
            )
        ).alias("pos", "start"),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(
            F.slice(F.col("words"), F.col("start") + 1, F.lit(PASSAGE_WORDS)),
            " ",
        ).alias("ptext"),
    )
    hashed = p.withColumn("h", F.md5("ptext"))
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    flagged = hashed.withColumn("kept", F.row_number().over(w) == 1)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, "
            "CASE WHEN kept THEN ptext END AS t))), x -> x.t), ' ')"
        ).alias("dedup_text"),
    )


def _passage_dedup_sql() -> str:
    return f"""
WITH c AS ({corpus_sql('duckdb')}),
d AS (SELECT doc_id, string_split(text, ' ') AS words FROM c),
s AS (
  SELECT doc_id, words,
         unnest(range(0, greatest(len(words), 1), {PASSAGE_WORDS})) AS start
  FROM d
),
pa AS (
  SELECT doc_id, CAST(start // {PASSAGE_WORDS} AS BIGINT) AS pos,
         array_to_string(list_slice(words, start + 1,
                                    start + {PASSAGE_WORDS}), ' ') AS ptext
  FROM s
),
f AS (
  SELECT doc_id, pos, ptext,
         row_number() OVER (PARTITION BY md5(ptext)
                            ORDER BY doc_id, pos) = 1 AS kept
  FROM pa
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN kept THEN ptext END, ' ' ORDER BY pos),
                '') AS dedup_text
FROM f GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Span-level substring dedup
# ---------------------------------------------------------------------------

SPAN_W = 8  # words per span window, stride 1


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (substring) duplication audit — the exact-substring
    flavor of training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §4.1): slide a
    SPAN_W-word window with stride 1 over every document, hash each
    window, and flag every window whose hash recurs in a DIFFERENT
    document. Emits, per document that contains any cross-doc duplicated
    span, its total span count, duplicated-span count, and the exact
    integer duplicated fraction in ppm — the signal used to strip
    boilerplate/licence blocks that whole-doc dedup (dedup_exact /
    minhash) cannot see.

    Scale: the only exchanged rows are (doc_id, 60-bit BIGINT span
    hash, count) — text never crosses an exchange, and the hash is 8
    bytes, not hex (at ~10^10 spans the 60-bit birthday bound expects
    ~100 colliding pairs corpus-wide, a 1e-8 false-flag fraction — fine
    for an audit signal). Three exchanges total:
    the per-(doc, hash) combine (map-side partial), the hash-partition
    window that counts distinct docs per hash (on the already-grouped
    relation, |distinct spans| rows), and the final per-doc rollup.
    No self-join: the cross-doc test is a count(*) OVER (PARTITION BY
    hash), so worst-case skew is one hash's row group, not a pair
    blowup. Reference has no counterpart (its queries are the two taxi
    windows, flink-taxi-stream-processor/.../ProcessTaxiStream.java:96-136).

    Runs over the family's shared injected corpus (corpus_df): the
    injected exact copies must flag at ppm=1000000 and the drop-first-
    word near dups at just under — both covered by tests."""
    docs = corpus_df(spark, sf_dir)
    w = "__ws"  # words projected once as a column (see _shingles)
    # CASE guard: sequence(0, negative) counts DOWN in Spark — never
    # build it for docs shorter than the window
    from ..functions.portable import md5_int60

    span_h = md5_int60(f"concat_ws(' ', slice({w}, i + 1, {SPAN_W}))", "spark")
    grams = (
        f"CASE WHEN size({w}) >= {SPAN_W} THEN "
        f"transform(sequence(0, size({w}) - {SPAN_W}), i -> {span_h}) "
        f"ELSE array() END"
    )
    spans = docs.withColumn(
        "__ws", F.expr(words_expr("text", "spark"))
    ).select("doc_id", F.explode(F.expr(grams)).alias("h"))
    per = spans.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    nd = per.withColumn("nd", F.count("*").over(Window.partitionBy("h")))
    return (
        nd.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup_spans"
            ),
        )
        .filter(F.col("n_dup_spans") > 0)
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr(
                "n_dup_spans * CAST(1000000 AS BIGINT) DIV n_spans"
            ).alias("dup_span_ppm"),
        )
    )


WIN_K = 4  # words per winnowing k-gram
WIN_W = 4  # k-gram hashes per winnowing window


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
    MOSS algorithm): hash every WIN_K-word k-gram, slide a window of
    WIN_W consecutive hashes, keep each window's minimum, emit the
    distinct selected hashes per document. The guarantee: any two
    documents sharing a run of >= WIN_K + WIN_W - 1 words share a
    fingerprint — so this is the SUBLINEAR-storage substring index
    (~2/(w+1) of all k-gram hashes kept) that ``dedup_spans``' exhaustive
    stride-1 audit is too heavy for at serving time; production keeps
    THIS relation as the match index and runs the exhaustive audit
    offline.

    Plan: entirely narrow — split, hash, window-min, distinct, explode
    at the scan; the output relation (doc_id, 60-bit BIGINT fp) is the
    only thing downstream exchanges ever see. Selecting by min VALUE and
    de-duplicating per doc yields the same fingerprint set as the
    positional formulation, with no ordering dependence to disagree on
    across engines."""
    return winnow_fps_from_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def winnow_fps_from_docs(docs: DataFrame) -> DataFrame:
    """The winnowing transformation over any (doc_id, text) relation —
    batch table here, arriving document stream in the streaming twin
    (stateless narrow map: fingerprinting-at-ingest)."""
    w = "__ws"  # words projected once as a column (see _shingles)
    from ..functions.portable import md5_int60

    kh = md5_int60(f"concat_ws(' ', slice({w}, i + 1, {WIN_K}))", "spark")
    hashes = (
        f"CASE WHEN size({w}) >= {WIN_K} THEN "
        f"transform(sequence(0, size({w}) - {WIN_K}), i -> {kh}) "
        f"ELSE array() END"
    )
    mins = (
        f"CASE WHEN size(__h) >= {WIN_W} THEN "
        f"array_distinct(transform(sequence(0, size(__h) - {WIN_W}), "
        f"j -> array_min(slice(__h, j + 1, {WIN_W})))) "
        f"WHEN size(__h) > 0 THEN array(array_min(__h)) "
        f"ELSE array() END"
    )
    return (
        docs.withColumn("__ws", F.expr(words_expr("text", "spark")))
        .withColumn("__h", F.expr(hashes))
        .select("doc_id", F.explode(F.expr(mins)).alias("fp"))
    )


def _winnow_fps_cte(src: str) -> str:
    """The ws/hs/fp CTE chain deriving the winnowing fingerprint
    relation ``fp(doc_id, fp)`` from ``src(doc_id, text)`` — ONE
    definition of the selection rule (k-gram hash, window minima,
    distinct, the <W / single-hash / empty three-way CASE) shared by
    the index oracle and the match-query oracle, so the two can never
    desynchronize (review finding r07)."""
    from ..functions.portable import md5_int60

    w = words_expr("text", "duckdb")
    kh = md5_int60(
        f"array_to_string(w[i:i + {WIN_K - 1}], ' ')", "duckdb"
    )
    return f"""ws AS (SELECT doc_id, {w} AS w FROM {src}),
hs AS (SELECT doc_id,
              CASE WHEN len(w) >= {WIN_K}
                   THEN list_transform(range(1, len(w) - {WIN_K} + 2),
                                       i -> {kh})
                   ELSE [] END AS h
       FROM ws),
fp AS (SELECT doc_id, unnest(
           CASE WHEN len(h) >= {WIN_W}
                THEN list_distinct(list_transform(
                       range(1, len(h) - {WIN_W} + 2),
                       j -> list_min(h[j:j + {WIN_W - 1}])))
                WHEN len(h) > 0 THEN [list_min(h)]
                ELSE [] END) AS fp
       FROM hs)"""


def _winnow_fingerprints_sql() -> str:
    return f"""
WITH {_winnow_fps_cte("documents")}
SELECT doc_id, fp FROM fp
"""


WIN_BUCKET_CAP = 64  # drop fingerprint buckets larger than this


def winnow_matches_from_docs(docs: DataFrame) -> DataFrame:
    """The match query over any (doc_id, text) relation (the registry
    entry runs it on the injected-duplicate corpus; the planted-overlap
    test on its own frame)."""
    fps = winnow_fps_from_docs(docs)
    bkt = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= WIN_BUCKET_CAP))
    )
    shared = (
        bkt.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("shared_fps"))
    )
    counts = fps.groupBy("doc_id").agg(F.count("*").alias("nfp"))
    # Attach BOTH sides' fingerprint counts in ONE pass over the count
    # relation (r14 optimization round, guide §8/§2.4): the old
    # ca/cb two-branch join re-derived the whole narrow index — a full
    # tokenize + k-gram hash + window-min pass over every document —
    # once PER SIDE (three total derivations in the plan). Unpivoting
    # the candidate-bounded pair relation to (pair, doc_id) rows and
    # broadcasting it into a single counts join leaves two derivations
    # (bucket branch + count branch); the pair-keyed regroup exchanges
    # only candidate rows. Exactly one counts row matches each
    # (pair, side), so the conditional max is the plain attach.
    sides = shared.select(
        "doc_a",
        "doc_b",
        "shared_fps",
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
    )
    return (
        counts.join(F.broadcast(sides), "doc_id")
        .groupBy("doc_a", "doc_b", "shared_fps")
        .agg(
            F.max(
                F.when(F.col("doc_id") == F.col("doc_a"), F.col("nfp"))
            ).alias("na"),
            F.max(
                F.when(F.col("doc_id") == F.col("doc_b"), F.col("nfp"))
            ).alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.expr(
                "shared_fps * CAST(1000000 AS BIGINT)"
                " DIV (na + nb - shared_fps)"
            ).alias("jacc_ppm"),
        )
    )


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of the winnowing index — MOSS's candidate join
    (Schleimer et al. 2003 §4: documents are matched by their shared
    selected fingerprints, never by rescanning text). Doc pairs sharing
    >= 1 fingerprint, with the shared count and the exact fingerprint-
    set Jaccard (ppm) as the verify score; consumers threshold on
    either. By the winnowing guarantee, any two documents sharing a run
    of >= WIN_K + WIN_W - 1 words appear here (pinned by the planted-
    overlap test).

    Plan shape = the LSH bucket discipline exactly: ONE exchange of the
    (doc_id, BIGINT fp) index on fp, in-bucket (i < j) pair expansion
    (never a fp self-join — each branch would re-shuffle and recompute
    the index), buckets larger than WIN_BUCKET_CAP dropped (a
    boilerplate fingerprint shared by B docs would emit B^2/2 pairs —
    the quadratic mode; its members are near-identical head-of-
    distribution docs that exact dedup owns). Pair rows then carry
    (doc_a, doc_b, counts) only; the per-doc fingerprint counts for the
    Jaccard come from re-deriving the narrow index (the LSH family's
    measured persist-hurts trade), joined by broadcasting the candidate-
    bounded pair relation into each count branch. Runs over the family's
    shared injected corpus (corpus_df): exact copies share every
    fingerprint (jacc_ppm = 1000000), near dups just under."""
    return winnow_matches_from_docs(corpus_df(spark, sf_dir))


def _winnow_matches_sql() -> str:
    return f"""
WITH corpus AS ({corpus_sql("duckdb")}),
{_winnow_fps_cte("corpus")},
ok AS (SELECT fp FROM fp GROUP BY fp
       HAVING count(*) >= 2 AND count(*) <= {WIN_BUCKET_CAP}),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS shared_fps
          FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
          WHERE a.fp IN (SELECT fp FROM ok)
          GROUP BY a.doc_id, b.doc_id),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp FROM fp GROUP BY doc_id)
SELECT doc_a, doc_b, shared_fps,
       shared_fps * 1000000 // (ca.nfp + cb.nfp - shared_fps) AS jacc_ppm
FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
"""


MEM_T = 3  # corpus frequency at/above which a span window counts risky


def q_memorization_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk audit (Carlini et al. 2023, "Quantifying
    Memorization Across Neural Language Models": sequences repeated in
    the corpus are extracted at sharply higher rates; Lee et al. 2022
    §6 ties the same repetition to degraded LMs): per document, the
    exact fraction (ppm) of its SPAN_W-word windows whose TOTAL corpus
    frequency — counting within-doc repeats, unlike ``dedup_spans``'
    cross-doc distinct-document test — reaches MEM_T. High-mem_ppm docs
    are down-weighted or dropped before training.

    Plan shape = the dedup_spans skeleton over the RAW documents table:
    (doc_id, 60-bit hash) combine, then — ADVICE r06 — per-hash totals
    via ``groupBy('h')`` partial aggregation JOINED back, NOT a window
    ``sum OVER (PARTITION BY h)``: the window materializes + sorts every
    row of one hash in one task, the exact single-task straggler mode
    the r06 BM25 document-frequency rework measured at the sf10 decade
    (a corpus-wide boilerplate span is the stopword of this operator).
    The totals exchange carries (hash, count) partials only (map-side
    combine); the join side is pre-filtered to RISKY hashes
    (total >= MEM_T — repeated spans only, a small fraction of a
    healthy corpus), so AQE broadcasts it when small and skew-splits
    the sort-merge when not — both impossible for a window. The price
    is a second pass over the exploded spans (combine-compacted); no
    corpus-sized relation is persisted. Exchanged rows carry 8-byte
    hashes + counts only; same 10x-per-decade shuffle law as
    dedup_spans (SCALING_DECADE2.md). All docs with >= 1 window are
    emitted (it's a per-doc score like token_stats, not a flagged-only
    audit)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = "__ws"  # words projected once as a column (see _shingles)
    from ..functions.portable import md5_int60

    span_h = md5_int60(f"concat_ws(' ', slice({w}, i + 1, {SPAN_W}))", "spark")
    grams = (
        f"CASE WHEN size({w}) >= {SPAN_W} THEN "
        f"transform(sequence(0, size({w}) - {SPAN_W}), i -> {span_h}) "
        f"ELSE array() END"
    )
    spans = docs.withColumn(
        "__ws", F.expr(words_expr("text", "spark"))
    ).select("doc_id", F.explode(F.expr(grams)).alias("h"))
    per = spans.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    risky = (
        spans.groupBy("h")
        .agg(F.count("*").alias("tot"))
        .filter(F.col("tot") >= MEM_T)
        .select("h")
        .withColumn("is_risky", F.lit(1))
    )
    return (
        per.join(risky, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(
                F.when(F.col("is_risky") == 1, F.col("c")).otherwise(F.lit(0))
            ).alias("n_risky"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_risky",
            F.expr(
                "n_risky * CAST(1000000 AS BIGINT) DIV n_windows"
            ).alias("mem_ppm"),
        )
    )


def _memorization_risk_sql() -> str:
    from ..functions.portable import md5_int60

    w = words_expr("text", "duckdb")
    return f"""
WITH ws AS (SELECT doc_id, {w} AS w FROM documents),
sp AS (SELECT doc_id,
              unnest(list_transform(range(1, len(w) - {SPAN_W} + 2),
                     i -> {md5_int60(f"array_to_string(w[i:i + {SPAN_W - 1}], ' ')", "duckdb")})) AS h
       FROM ws WHERE len(w) >= {SPAN_W}),
per AS (SELECT doc_id, h, count(*) AS c FROM sp GROUP BY doc_id, h),
tot AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY h) AS tot FROM per)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN tot >= {MEM_T} THEN c ELSE 0 END) AS BIGINT)
         AS n_risky,
       CAST(sum(CASE WHEN tot >= {MEM_T} THEN c ELSE 0 END) AS BIGINT)
         * 1000000 // CAST(sum(c) AS BIGINT) AS mem_ppm
FROM tot GROUP BY doc_id
"""


def _dedup_spans_sql() -> str:
    from ..functions.portable import md5_int60

    w = words_expr("text", "duckdb")
    return f"""
WITH corpus AS ({corpus_sql("duckdb")}),
ws AS (SELECT doc_id, {w} AS w FROM corpus),
sp AS (SELECT doc_id,
              unnest(list_transform(range(1, len(w) - {SPAN_W} + 2),
                     i -> {md5_int60(f"array_to_string(w[i:i + {SPAN_W - 1}], ' ')", "duckdb")})) AS h
       FROM ws WHERE len(w) >= {SPAN_W}),
per AS (SELECT doc_id, h, count(*) AS c FROM sp GROUP BY doc_id, h),
nd AS (SELECT doc_id, c, count(*) OVER (PARTITION BY h) AS nd FROM per)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) * 1000000
         // CAST(sum(c) AS BIGINT) AS dup_span_ppm
FROM nd GROUP BY doc_id
HAVING sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) > 0
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_survivors": q_dedup_survivors,
    "passage_dedup": q_passage_dedup,
    "minhash_signatures": q_minhash_signatures,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "simhash": q_simhash,
    "dedup_simhash": q_dedup_simhash,
    "ngram_jaccard": q_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "dedup_embedding": q_dedup_embedding,
    "dedup_spans": q_dedup_spans,
    "containment_dedup": q_containment_dedup,
    "dup_source_matrix": q_dup_source_matrix,
    "memorization_risk": q_memorization_risk,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_matches": q_winnow_matches,
}


def _oracles() -> dict[str, str]:
    d = "duckdb"
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_expr(d, b)} AS bh FROM sigs"
        for b in range(N_BANDS)
    )
    return {
        "dedup_exact": _fill(DEDUP_EXACT_SQL_T),
        "dedup_survivors": _fill(DEDUP_SURVIVORS_SQL_T),
        "passage_dedup": _passage_dedup_sql(),
        "minhash_signatures": _fill(
            MINHASH_SIGNATURES_SQL_T,
            mh_cols=", ".join(f"mh{j}" for j in range(N_HASHES)),
            sigs=_signatures_sql(d),
        ),
        "dedup_minhash_lsh": _lsh_pairs_sql(d).format(corpus=corpus_sql(d)),
        "simhash": _fill(
            SIMHASH_SQL_T, sim=_simhash_expr(d), whashes=_word_hashes(d)
        ),
        "dedup_simhash": _fill(
            DEDUP_SIMHASH_SQL_T,
            sim=_simhash_expr(d),
            whashes=_word_hashes(d),
            hmax=str(SIM_HAMMING_MAX),
        ),
        "ngram_jaccard": _fill(
            NGRAM_JACCARD_SQL_T, sigs=_signatures_sql(d), band_rows=band_rows
        ),
        "containment_dedup": _fill(
            CONTAINMENT_DEDUP_SQL_T,
            sigs=_signatures_sql(d),
            band_rows=band_rows,
            cmin=CONTAIN_MIN,
        ),
        "dup_source_matrix": _fill(
            DUP_SOURCE_MATRIX_SQL_T,
            sigs=_signatures_sql(d),
            band_rows=band_rows,
        ),
        "dedup_clusters": _fill(
            DEDUP_CLUSTERS_SQL_T, sigs=_signatures_sql(d), band_rows=band_rows
        ),
        "dedup_embedding": _dedup_embedding_sql(),
        "dedup_spans": _dedup_spans_sql(),
        "memorization_risk": _memorization_risk_sql(),
        "winnow_fingerprints": _winnow_fingerprints_sql(),
        "winnow_matches": _winnow_matches_sql(),
    }


ORACLES = _oracles()
