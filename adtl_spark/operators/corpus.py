"""Corpus-level training-data operators: benchmark decontamination and
unigram language-model scoring.

Both are Spark-first extensions beyond the reference's spec engine (the
reference has no corpus operators at all — see SURVEY.md §2.11 scope note);
they follow the repo's cross-engine determinism protocol so each has an
exact DuckDB oracle twin:

- **decontaminate** — flag training documents sharing any word n-gram with
  an evaluation/benchmark set.  The canonical pre-training hygiene step:
  n-gram overlap against the eval suites (the method popularized by GPT-3's
  13-gram and Llama's token-overlap decontamination reports).  Scale shape:
  the eval side is tiny (benchmarks are thousands of docs), so its distinct
  shingle set BROADCASTS; the corpus side streams map-side through the
  broadcast hash join and only (doc_id, partial count) pairs shuffle for
  the final per-doc aggregation.  The 100 TB corpus is never shuffled.
- **unigram_logprob** — per-document mean log-probability under a unigram
  LM trained on the corpus itself (top-K vocabulary, floor probability for
  out-of-vocabulary tokens) — the cheap stand-in for the perplexity-based
  quality filters (CCNet-style) used to rank web corpora.  Scale shape:
  the vocabulary is an aggregation of (token, count) pairs — map-side
  partial agg, one small shuffle — capped at K rows so it BROADCASTS back;
  scoring is explode -> broadcast join -> per-doc partial agg.  Corpus
  rows shuffle only as (doc_id, partial sums).

Determinism: counts are exact integers; probabilities divide two exact
BIGINTs in double precision (identical quotients in Spark and DuckDB);
per-token log-probs are quantized to 1e-4 with the repo's floor(x*1e4+0.5)
protocol BEFORE summing, so the per-doc mean is a ratio of exact integers.
One caveat the protocol inherits: ln() is exact-rounding-adjacent (<=1 ulp)
but NOT guaranteed correctly-rounded in either engine, so a log value
landing within ~1 ulp of a 1e-4 quantization boundary could floor
differently across engines.  That needs the true value within ~1e-12
relative of a boundary — negligible per token but not impossible; if a
corpus ever trips it, nudge the quantization offset (0.5 -> 0.5000001)
on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.operators.dedup import (
    MERSENNE_31,
    minhash_coefficients,
    shingle_cte_sql,
    shingle_df,
)
from adtl_spark.operators.text import tokens
from adtl_spark.session import cut


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The stream-safe core of :func:`decontaminate`: per document with at
    least one eval-set n-gram overlap, the distinct-overlap count as
    (__did__, __n).  Shingling is a narrow explode, the eval shingle set
    joins as a broadcast (stream-to-batch), and the per-doc count is a
    standard streaming aggregation — a document STREAM can be screened
    against a batch benchmark set with this exact code (complete/update
    output mode); :func:`decontaminate` adds the batch-only left join
    that keeps zero-hit documents in the decision table."""
    ev = shingle_df(eval_docs, text_col, id_col, n).select("sh").distinct()
    tr = shingle_df(docs, text_col, id_col, n)
    # shingle_df emits DISTINCT shingles per doc and ev is distinct, so a
    # plain count after the join is the distinct-overlap count
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumnRenamed("id", "__did__")  # never collide with id_col="id"
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per training document: how many of its distinct word ``n``-grams
    also occur anywhere in ``eval_docs``, plus a 0/1 contamination flag.

    Every training doc appears in the output (zero-hit docs included) —
    the result is a decision table for a downstream anti-join, exactly
    like the dedup pair lists.
    """
    hits = contamination_hits(docs, eval_docs, n, text_col, id_col)
    return (
        docs.select(F.col(id_col))
        .join(hits, docs[id_col] == hits["__did__"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce(F.col("__n"), F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def decontaminate_oracle_sql(
    train_sql: str, eval_sql: str, n: int = 3
) -> str:
    """DuckDB twin of :func:`decontaminate`.  ``train_sql`` / ``eval_sql``
    are subqueries with (doc_id, text) columns; shingling reuses the dedup
    oracle's CTE builder so both engines hash identical word n-grams."""
    ev_shingles = shingle_cte_sql(f"({eval_sql})", n)
    tr_shingles = shingle_cte_sql(f"({train_sql})", n)
    return f"""
    WITH ev AS (SELECT DISTINCT sh FROM ({ev_shingles})),
    tr AS ({tr_shingles}),
    hits AS (
      SELECT id, count(*) AS n FROM tr JOIN ev USING (sh) GROUP BY id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated,
           CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM ({train_sql}) d LEFT JOIN hits h ON h.id = d.doc_id
    """


def ngram_novelty(
    docs: DataFrame,
    reference: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str = "text",
    ref_id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus — the
    data-curation twin of :func:`decontaminate`: instead of flagging
    overlap with an eval set, score how much of each document's
    distinct word-n-gram vocabulary is UNSEEN in the reference.  High
    novelty = content the corpus doesn't have yet; near-zero = copies
    and boilerplate of what is already collected — the selection signal
    for incremental corpus growth and diversity-aware sampling.  Per
    doc: ``n_ngrams`` (distinct), ``n_novel`` (absent from the
    reference's distinct shingle set) and ``novelty_ppm =
    n_novel * 1e6 // n_ngrams``.

    Distributed shape: the reference collapses ONCE to its distinct
    shingle set; the document side LEFT-joins against it on the shingle
    hash — a plain shuffle hash join, because a reference corpus at the
    100 TB design point is corpus-sized, NOT broadcastable (for
    benchmark-sized references :func:`decontaminate` /
    :func:`decontaminate_bloom` are the broadcast/Bloom fast paths).
    Shingling reuses the dedup family's hashed word-n-gram contract, so
    the oracle rebuilds both sides with the same CTE builder."""
    ref = (
        shingle_df(reference, ref_text_col, ref_id_col, n)
        .select("sh")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tr = shingle_df(docs, text_col, id_col, n)
    per = (
        tr.join(ref, "sh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return docs.select(F.col(id_col)).join(
        per, docs[id_col] == per["id"], "left"
    ).select(
        F.col(id_col),
        F.col("n_ngrams"),
        F.col("n_novel"),
        F.expr("n_novel * 1000000 div n_ngrams").alias("novelty_ppm"),
    )


def _exploded_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # text.tokens IS the cross-engine tokenizer contract (mirrors DuckDB's
    # string_split_regex + list_filter); every operator must go through it
    return docs.select(
        F.col(id_col).alias("id"),  # consumers re-alias before joining docs
        F.explode(tokens(F.col(text_col))).alias("token"),
    )


def train_unigram(
    docs: DataFrame,
    vocab_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train the unigram model: the ``vocab_k`` most frequent tokens (ties
    break to the lexicographically first token) with their counts, plus the
    corpus-wide token total on every row — a K-row, broadcastable model
    table (token, cnt, total) that :func:`score_unigram` can apply to ANY
    document set, including ones the model never saw."""
    toks = _exploded_tokens(docs, text_col, id_col)
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_k)
    )
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return vocab.crossJoin(F.broadcast(total))


def score_unigram(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under a trained unigram model (see
    :func:`train_unigram`): p(tok) = cnt/total for in-vocabulary tokens,
    p_floor = 0.5/total for the rest.  Emits one row per document that has
    at least one token; :func:`unigram_logprob` adds back empty documents
    for the batch decision-table form.

    Stream-safe: tokenization is a narrow explode, the model joins as a
    broadcast (stream-to-batch), and the per-document aggregation is a
    standard streaming agg — a batch-trained model scores a document
    stream with the exact same code (see tests/test_streaming.py).

    Degenerate-model behavior: a model trained on a zero-token corpus has
    an empty vocab.  The total is read with a global ``max`` aggregate
    (always one row, null when the model is empty), so every scored
    document then carries a NULL ``__qsum`` — a loud, visible anomaly —
    instead of the cross join silently emitting zero rows and reporting
    every document as having no tokens.  A non-empty model remains the
    precondition for meaningful scores."""
    toks = _exploded_tokens(docs, text_col, id_col)
    total = model.agg(F.max("total").alias("total"))
    p = F.coalesce(F.col("cnt"), F.lit(0.5)) / F.col("total")
    qlog = F.floor(F.log(p) * 10000 + F.lit(0.5)).cast("long")
    return (
        toks.join(F.broadcast(model.select("token", "cnt")), "token", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0)).alias("__oov"),
            F.sum(qlog).alias("__qsum"),
        )
    )


def unigram_logprob(
    docs: DataFrame,
    vocab_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean unigram log-probability per document under a model trained on
    the corpus itself (train + score composed; see :func:`train_unigram`
    and :func:`score_unigram`).  Documents with no tokens emit a null
    score.

    Output: (doc_id, n_tokens, oov_frac, avg_logprob) — avg_logprob is
    the mean of per-token ln(p) quantized at 1e-4 (exact-integer protocol,
    see module docstring), rounded to 4 decimals.
    """
    # train and score each tokenize the corpus (two streaming passes, no
    # persisted explode): caching the exploded token relation would cost
    # O(corpus tokens) memory at scale, while the training pass amortizes
    # to zero in the train-once / score-many deployment this composes
    model = train_unigram(docs, vocab_k, text_col, id_col)
    scored = score_unigram(docs, model, text_col, id_col)
    # final 4-decimal values via the floor protocol, NOT round(): round()
    # of an arbitrary quotient is engine-specific at representation
    # boundaries (Spark rounds the binary double through BigDecimal), while
    # floor(x*1e4+0.5)/1e4 is pure double arithmetic — identical on
    # identical inputs in both engines
    def q4(x):
        return F.floor(x * 10000 + F.lit(0.5)).cast("double") / 10000.0

    scored = scored.withColumnRenamed("id", "__did__")  # avoid id_col="id" clash
    return (
        docs.select(F.col(id_col))
        .join(scored, docs[id_col] == scored["__did__"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_tokens"),
            F.when(
                F.col("__n") > 0,
                q4(F.col("__oov").cast("double") / F.col("__n")),
            ).alias("oov_frac"),
            F.when(
                F.col("__n") > 0,
                q4(F.col("__qsum").cast("double") / F.col("__n") / 10000.0),
            ).alias("avg_logprob"),
        )
    )


def unigram_logprob_oracle_sql(source_sql: str, vocab_k: int = 20) -> str:
    """DuckDB twin of :func:`unigram_logprob` over a (doc_id, text)
    subquery — same tokenizer, same top-K tie-break, same quantized-log
    protocol (ln on identical double quotients, floor at 1e4)."""
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM ({source_sql})
    ),
    vocab AS (
      SELECT token, count(*) AS cnt FROM toks
      GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {vocab_k}
    ),
    tot AS (SELECT count(*) AS total FROM toks),
    scored AS (
      SELECT id,
             count(*) AS n,
             sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS oov,
             sum(CAST(floor(ln(COALESCE(v.cnt, 0.5) / t.total) * 10000 + 0.5) AS BIGINT)) AS qsum
      FROM toks LEFT JOIN vocab v USING (token) CROSS JOIN tot t
      GROUP BY id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
           CASE WHEN s.n > 0
                THEN CAST(floor(CAST(s.oov AS DOUBLE) / s.n * 10000 + 0.5) AS DOUBLE) / 10000.0
           END AS oov_frac,
           CASE WHEN s.n > 0
                THEN CAST(floor(CAST(s.qsum AS DOUBLE) / s.n / 10000.0 * 10000 + 0.5) AS DOUBLE) / 10000.0
           END AS avg_logprob
    FROM ({source_sql}) d LEFT JOIN scored s ON s.id = d.doc_id
    """


# ------------------------------------------------------------ bloom screening
#
# The broadcast-set decontaminate above is exact, but its broadcast grows
# with the eval suite (distinct shingle hashes are 8 bytes each — a large
# benchmark union can reach GBs, past Spark's broadcast comfort zone).  The
# bloom variant compresses the eval side to a FIXED-size bit array: h=2
# portable hash probes into words*63 bits, built with one small aggregation
# and broadcast as a <=words-row table.  Membership is a superset screen
# (false positives possible, false negatives impossible) — the right
# contract for a cheap first-pass filter whose positives feed the exact
# checker.  Everything is deterministic md5/LCG arithmetic, so the DuckDB
# oracle replays the filter bit-for-bit, INCLUDING its false positives.

BLOOM_WORDS = 8192          # 64 KiB of filter -> fill stays low at test SFs
BLOOM_BITS_PER_WORD = 63    # keep shifts off the sign bit in both engines
_BLOOM_SEED = 29


def _bloom_pos_sql(col: str, a: int, b: int, words: int) -> str:
    """Position expression shared verbatim by Spark and DuckDB: an LCG-
    derived affine hash of the 60-bit shingle key into [0, words*63).
    (sh % M31) * a stays under 2^62, so the arithmetic never overflows
    a signed 64-bit integer in either engine."""
    p = words * BLOOM_BITS_PER_WORD
    return f"((({col} % {MERSENNE_31}) * {a} + {b}) % {MERSENNE_31}) % {p}"


def bloom_build(
    eval_docs: DataFrame,
    n: int = 3,
    words: int = BLOOM_WORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Build the eval-set bloom filter as a (word, bits) table: every
    distinct eval word-n-gram sets h=2 bits.  At most ``words`` rows —
    broadcastable no matter how large the eval suite is."""
    ev = shingle_df(eval_docs, text_col, id_col, n).select("sh").distinct()
    coeffs = minhash_coefficients(2, _BLOOM_SEED)
    pos = ev.select(
        F.explode(
            F.array(*[F.expr(_bloom_pos_sql("sh", a, b, words)) for a, b in coeffs])
        ).alias("p")
    )
    return (
        pos.select(
            F.expr(f"p DIV {BLOOM_BITS_PER_WORD}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_BITS_PER_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_hits(
    docs: DataFrame,
    flt: DataFrame,
    n: int = 3,
    words: int = BLOOM_WORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The stream-safe probe core of :func:`decontaminate_bloom`: per
    document with at least one filter-flagged n-gram, the flagged-shingle
    count as (__did__, __n).  ``flt`` is a prebuilt (word, bits) table
    from :func:`bloom_build`.  Narrow shingling + two broadcast
    stream-to-batch joins + a standard streaming aggregation, so a
    document STREAM probes a batch-built filter with this exact code
    (see tests/test_streaming.py); :func:`decontaminate_bloom` adds the
    batch-only left join that keeps zero-hit documents."""
    (a1, b1), (a2, b2) = minhash_coefficients(2, _BLOOM_SEED)
    tr = shingle_df(docs, text_col, id_col, n)
    bpw = BLOOM_BITS_PER_WORD
    probe = tr.select(
        "id",
        F.expr(_bloom_pos_sql("sh", a1, b1, words)).alias("p1"),
        F.expr(_bloom_pos_sql("sh", a2, b2, words)).alias("p2"),
    ).select(
        "id",
        F.expr(f"p1 DIV {bpw}").alias("w1"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p1 % {bpw} AS INT))").alias("m1"),
        F.expr(f"p2 DIV {bpw}").alias("w2"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p2 % {bpw} AS INT))").alias("m2"),
    )
    f1 = F.broadcast(flt.select(F.col("word").alias("w1"), F.col("bits").alias("b1")))
    f2 = F.broadcast(flt.select(F.col("word").alias("w2"), F.col("bits").alias("b2")))
    return (
        probe.join(f1, "w1")
        .join(f2, "w2")
        .filter(
            (F.col("b1").bitwiseAND(F.col("m1")) == F.col("m1"))
            & (F.col("b2").bitwiseAND(F.col("m2")) == F.col("m2"))
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumnRenamed("id", "__did__")
    )


def decontaminate_bloom(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    words: int = BLOOM_WORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-screened decontamination decision table: per training doc,
    how many of its distinct word n-grams the eval bloom filter flags
    (n_flagged) plus the 0/1 flag.  A flagged count of 0 GUARANTEES no
    eval overlap; positives are a superset of :func:`decontaminate`'s.

    Scale shape: the filter build aggregates eval shingles down to
    <= ``words`` rows; the corpus side probes via two broadcast-hash
    joins on the word index (no corpus shuffle) and only (doc_id,
    partial-count) pairs move for the final aggregation."""
    flt = bloom_build(eval_docs, n, words, text_col, id_col)
    hits = bloom_hits(docs, flt, n, words, text_col, id_col)
    return (
        docs.select(F.col(id_col))
        .join(hits, docs[id_col] == hits["__did__"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_flagged"),
            (F.coalesce(F.col("__n"), F.lit(0)) > 0).cast("int").alias("flagged"),
        )
    )


def decontaminate_bloom_oracle_sql(
    train_sql: str, eval_sql: str, n: int = 3, words: int = BLOOM_WORDS
) -> str:
    """DuckDB twin of :func:`decontaminate_bloom`: identical position
    arithmetic, word/bit split and bit_or-aggregated filter, so the
    replay matches bit-for-bit including any false positives."""
    (a1, b1), (a2, b2) = minhash_coefficients(2, _BLOOM_SEED)
    ev_shingles = shingle_cte_sql(f"({eval_sql})", n)
    tr_shingles = shingle_cte_sql(f"({train_sql})", n)
    bpw = BLOOM_BITS_PER_WORD
    one = "CAST(1 AS BIGINT)"
    return f"""
    WITH ev AS (SELECT DISTINCT sh FROM ({ev_shingles})),
    pos AS (
      SELECT {_bloom_pos_sql("sh", a1, b1, words)} AS p FROM ev
      UNION ALL
      SELECT {_bloom_pos_sql("sh", a2, b2, words)} AS p FROM ev
    ),
    flt AS (
      SELECT p // {bpw} AS word, bit_or({one} << CAST(p % {bpw} AS INT)) AS bits
      FROM pos GROUP BY 1
    ),
    tr AS ({tr_shingles}),
    probe AS (
      SELECT id,
             {_bloom_pos_sql("sh", a1, b1, words)} AS p1,
             {_bloom_pos_sql("sh", a2, b2, words)} AS p2
      FROM tr
    ),
    hits AS (
      SELECT id, count(*) AS n
      FROM probe
      JOIN flt f1 ON f1.word = p1 // {bpw}
      JOIN flt f2 ON f2.word = p2 // {bpw}
      WHERE (f1.bits & ({one} << CAST(p1 % {bpw} AS INT))) = ({one} << CAST(p1 % {bpw} AS INT))
        AND (f2.bits & ({one} << CAST(p2 % {bpw} AS INT))) = ({one} << CAST(p2 % {bpw} AS INT))
      GROUP BY id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_flagged,
           CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS INT) AS flagged
    FROM ({train_sql}) d LEFT JOIN hits h ON h.id = d.doc_id
    """


def bigram_logprob(
    docs: DataFrame,
    vocab_k: int = 20,
    bigram_m: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean log-probability under a bigram LM with stupid
    backoff (Brants et al. 2007, alpha = 0.4) trained on the corpus
    itself — the next step up from :func:`unigram_logprob`: it scores
    SEQUENCE structure, so a document of coherent phrases outranks the
    same tokens scrambled (a unigram model cannot tell them apart).

    Model = three bounded relations: the top-``vocab_k`` unigram
    vocabulary (out-of-vocabulary tokens collapse to ``<unk>``), the
    per-context bigram-start counts (at most K+1 rows), and the
    top-``bigram_m`` bigrams over the mapped alphabet.  Scoring:
    the first token scores p_uni = cnt/total (0.5/total for ``<unk>``);
    each following token scores cnt2/ctx(w1) when its bigram is in the
    model, else 0.4 * p_uni(w2).  All per-token logs are quantized to
    1e-4 integers before summing (module-docstring protocol), so the
    per-doc mean is a ratio of exact integers.

    Scale shape: the vocabulary stays a DataFrame relation end-to-end —
    the ``<unk>`` mapping is a broadcast left join against the K-row
    vocab table, never an IN-list literal, so the plan size is O(1) in
    ``vocab_k`` and a realistic 50k-100k vocabulary compiles exactly
    like the test's K=20 (an embedded literal list is the documented
    Catalyst expression-size trap, cf. similarity._pq_cell_sql).  Bigram
    extraction is an in-row arrays_zip over the RAW token array (mapping
    happens after the explode, one broadcast join per pair side), so the
    corpus contributes two (pair, count) map-side combined aggs for
    training and one per-doc partial-sum agg for scoring.  ctx/bigram/
    vocab all broadcast; the corpus never shuffles except as (doc,
    partial sums).  Precondition: a non-empty training corpus (same as
    unigram — an empty vocabulary yields loud NULLs)."""
    from adtl_spark.operators.text import tokens

    uni = train_unigram(docs, vocab_k, text_col, id_col)
    # vocab membership relation (<= vocab_k rows), broadcast at each use
    vset = uni.select("token", F.lit(True).alias("__in_v"))

    raw = docs.select(
        F.col(id_col).alias("__did__"),
        tokens(F.col(text_col)).alias("t"),
    )
    pairs_raw = raw.select(
        "__did__",
        F.explode(
            F.arrays_zip(
                # greatest(.., 0): slice() rejects a negative length on
                # zero-token documents
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))).alias(
                    "w1"
                ),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))).alias(
                    "w2"
                ),
            )
        ).alias("p"),
    ).select("__did__", F.col("p.w1").alias("r1"), F.col("p.w2").alias("r2"))
    # <unk>-map each pair side via broadcast joins (NOT an isin literal);
    # a raw token spelled "<unk>" that IS in vocab maps to itself, which
    # is identical to mapping it to "<unk>" — the mapped alphabets agree
    v1 = F.broadcast(
        vset.select(F.col("token").alias("r1"), F.col("__in_v").alias("__v1"))
    )
    v2 = F.broadcast(
        vset.select(F.col("token").alias("r2"), F.col("__in_v").alias("__v2"))
    )
    pairs = (
        pairs_raw.join(v1, "r1", "left")
        .join(v2, "r2", "left")
        .select(
            "__did__",
            F.when(F.col("__v1").isNotNull(), F.col("r1"))
            .otherwise("<unk>")
            .alias("w1"),
            F.when(F.col("__v2").isNotNull(), F.col("r2"))
            .otherwise("<unk>")
            .alias("w2"),
        )
    )
    # ctx and the top-M table both factor through the (K+1)^2-bounded
    # pair-TYPE table (r14 — see kn_bigram_logprob for the argument):
    # aggregating the raw stream separately per consumer re-executed
    # the tokenize+explode pipeline once per broadcast build.
    bcounts = cut(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt2"))
    )
    ctx = bcounts.groupBy("w1").agg(F.sum("cnt2").alias("ctx"))
    big = bcounts.orderBy(
        F.desc("cnt2"), F.asc("w1"), F.asc("w2")
    ).limit(bigram_m)
    total = uni.agg(F.max("total").alias("total"))

    p_pair = F.when(
        F.col("cnt2").isNotNull(), F.col("cnt2") / F.col("ctx")
    ).otherwise(F.lit(0.4) * F.coalesce(F.col("cnt"), F.lit(0.5)) / F.col("total"))
    qpair = F.floor(F.log(p_pair) * 10000 + F.lit(0.5)).cast("long")
    psum = (
        pairs.join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1")
        .join(
            F.broadcast(uni.select(F.col("token").alias("w2"), "cnt")), "w2", "left"
        )
        .crossJoin(F.broadcast(total))
        .groupBy("__did__")
        .agg(F.sum(qpair).alias("__ps__"))
    )

    def q4(x):
        # floor protocol, not round() — see unigram_logprob
        return F.floor(x * 10000 + F.lit(0.5)).cast("double") / 10000.0

    # per-doc stats: n_tokens / first-token from the raw array (narrow),
    # the oov count from the exploded tokens via the same broadcast vocab
    # join (a token counts as <unk> when out-of-vocab OR literally spelled
    # "<unk>", matching the mapped-array filter this replaces)
    toks_flat = raw.select("__did__", F.explode("t").alias("tok"))
    vt = F.broadcast(
        vset.select(F.col("token").alias("tok"), F.col("__in_v").alias("__vt"))
    )
    oov_df = (
        toks_flat.join(vt, "tok", "left")
        .groupBy("__did__")
        .agg(
            F.sum(
                (F.col("__vt").isNull() | (F.col("tok") == "<unk>")).cast("int")
            ).alias("__oov__")
        )
    )
    vf = F.broadcast(
        vset.select(F.col("token").alias("ft"), F.col("__in_v").alias("__vf"))
    )
    head = (
        raw.select(
            "__did__",
            F.size("t").cast("long").alias("n_tokens"),
            F.element_at(F.col("t"), 1).alias("ft"),
        )
        .join(vf, "ft", "left")
        .select(
            "__did__",
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.when(F.col("__vf").isNotNull(), F.col("ft")).otherwise("<unk>"),
            ).alias("token"),
        )
        .join(oov_df, "__did__", "left")
    )
    qfirst = F.floor(
        F.log(F.coalesce(F.col("cnt"), F.lit(0.5)) / F.col("total")) * 10000
        + F.lit(0.5)
    ).cast("long")
    scored = (
        head.join(F.broadcast(uni.select("token", "cnt")), "token", "left")
        .crossJoin(F.broadcast(total))
        .withColumn("__qf__", F.when(F.col("n_tokens") > 0, qfirst))
        .join(psum, "__did__", "left")
    )
    return scored.select(
        F.col("__did__").alias(id_col),
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            q4(F.col("__oov__").cast("double") / F.col("n_tokens")),
        ).alias("oov_frac"),
        F.when(
            F.col("n_tokens") > 0,
            q4(
                (F.col("__qf__") + F.coalesce(F.col("__ps__"), F.lit(0))).cast(
                    "double"
                )
                / F.col("n_tokens")
                / 10000.0
            ),
        ).alias("avg_logprob"),
    )


def bigram_logprob_oracle_sql(
    source_sql: str, vocab_k: int = 20, bigram_m: int = 200
) -> str:
    """DuckDB twin of :func:`bigram_logprob` — same tokenizer, top-K and
    top-M tie-breaks, <unk> mapping, stupid-backoff formula with
    identical double-arithmetic association, and quantized-log protocol."""
    return f"""
    WITH t AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS toks
      FROM ({source_sql})
    ),
    flat AS (SELECT id, unnest(toks) AS token FROM t),
    vocab AS (
      SELECT token, count(*) AS cnt FROM flat
      GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT {vocab_k}
    ),
    tot AS (SELECT count(*) AS total FROM flat),
    vl AS (SELECT list(token) AS vl FROM vocab),
    m AS (
      SELECT id, toks,
             list_transform(toks, x ->
               CASE WHEN list_contains(vl.vl, x) THEN x ELSE '<unk>' END) AS m
      FROM t CROSS JOIN vl
    ),
    pairs AS (
      SELECT id, p[1] AS w1, p[2] AS w2
      FROM (
        SELECT id, unnest(list_zip(m[1:len(m)-1], m[2:len(m)])) AS p FROM m
      )
    ),
    ctx AS (SELECT w1, count(*) AS ctx FROM pairs GROUP BY 1),
    big AS (
      SELECT w1, w2, count(*) AS cnt2 FROM pairs
      GROUP BY 1, 2 ORDER BY cnt2 DESC, w1 ASC, w2 ASC LIMIT {bigram_m}
    ),
    psum AS (
      SELECT p.id,
             SUM(CAST(floor(ln(
               CASE WHEN b.cnt2 IS NOT NULL THEN b.cnt2 / CAST(c.ctx AS DOUBLE)
                    ELSE 0.4 * coalesce(v.cnt, 0.5) / tot.total END
             ) * 10000 + 0.5) AS BIGINT)) AS ps
      FROM pairs p
      LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
      JOIN ctx c ON p.w1 = c.w1
      LEFT JOIN vocab v ON p.w2 = v.token
      CROSS JOIN tot
      GROUP BY 1
    ),
    head AS (
      SELECT id, CAST(len(m) AS BIGINT) AS n_tokens,
             len(list_filter(m, x -> x = '<unk>')) AS oov,
             m[1] AS ft
      FROM m
    ),
    scored AS (
      SELECT h.id, h.n_tokens, h.oov,
             CASE WHEN h.n_tokens > 0 THEN
               CAST(floor(ln(coalesce(v.cnt, 0.5) / tot.total) * 10000 + 0.5) AS BIGINT)
             END AS qf,
             ps.ps
      FROM head h
      LEFT JOIN vocab v ON h.ft = v.token
      CROSS JOIN tot
      LEFT JOIN psum ps ON h.id = ps.id
    )
    SELECT id AS doc_id, n_tokens,
           CASE WHEN n_tokens > 0 THEN
             floor(CAST(oov AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000.0
           END AS oov_frac,
           CASE WHEN n_tokens > 0 THEN
             floor(CAST(qf + coalesce(ps, 0) AS DOUBLE) / n_tokens / 10000.0 * 10000 + 0.5) / 10000.0
           END AS avg_logprob
    FROM scored
    """


# -------------------------------------------------- Naive Bayes quality model


def kn_bigram_logprob(
    docs: DataFrame,
    vocab_k: int = 20,
    bigram_m: int = 200,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log-probability under INTERPOLATED
    KNESER-NEY smoothing (Kneser & Ney 1995; the Chen & Goodman 1999
    interpolated form) — the standard n-gram smoothing the stupid-
    backoff scorer (:func:`bigram_logprob`) trades away for speed:

        P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1.)
                   + (D * N1+(w1.) / c(w1.)) * (N1+(.w2) / N1+(..))

    where N1+(w1.) / N1+(.w2) are the distinct-successor / distinct-
    predecessor type counts and N1+(..) the total distinct bigram types
    — the continuation distribution that makes KN rank "Francisco"
    below "dollars" as a novel-context continuation even when their raw
    unigram counts agree.

    Model relations stay bounded exactly as in ``bigram_logprob``: the
    top-K vocab collapses the alphabet to K+1 symbols, the scoring
    bigram table prunes to top-M (pruned pairs score through the
    continuation term only — the interpolation weight is where their
    mass lives), and the continuation statistics are (K+1)-row
    aggregates of the unpruned pair STREAM (map-side-combined counts;
    never a stored (K+1)^2 relation).  Only bigram transitions are
    scored (documents need >= 2 tokens); per-pair logs quantize to 1e-4
    integers per the module protocol, so the per-doc mean is a ratio of
    exact integers and the DuckDB twin replays it bit-for-bit.

    Returns ``(doc_id, n_pairs, avg_logprob)``."""
    from adtl_spark.operators.text import tokens

    uni = train_unigram(docs, vocab_k, text_col, id_col)
    vset = uni.select("token", F.lit(True).alias("__in_v"))

    raw = docs.select(
        F.col(id_col).alias("__did__"),
        tokens(F.col(text_col)).alias("t"),
    )
    pairs_raw = raw.select(
        "__did__",
        F.explode(
            F.arrays_zip(
                F.slice(
                    F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))
                ).alias("w1"),
                F.slice(
                    F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))
                ).alias("w2"),
            )
        ).alias("p"),
    ).select("__did__", F.col("p.w1").alias("r1"), F.col("p.w2").alias("r2"))
    v1 = F.broadcast(
        vset.select(F.col("token").alias("r1"), F.col("__in_v").alias("__v1"))
    )
    v2 = F.broadcast(
        vset.select(F.col("token").alias("r2"), F.col("__in_v").alias("__v2"))
    )
    pairs = (
        pairs_raw.join(v1, "r1", "left")
        .join(v2, "r2", "left")
        .select(
            "__did__",
            F.when(F.col("__v1").isNotNull(), F.col("r1"))
            .otherwise("<unk>")
            .alias("w1"),
            F.when(F.col("__v2").isNotNull(), F.col("r2"))
            .otherwise("<unk>")
            .alias("w2"),
        )
    )
    # EVERY model statistic factors through the pair-TYPE table
    # (r14, guide §1.2/§2.4): the alphabet is K+1 symbols after the
    # vocab collapse, so groupBy(w1, w2) has at most (K+1)^2 rows — and
    # c(w1.), N1+(w1.), N1+(.w2), N1+(..) and the top-M scoring table
    # are all tiny aggregates OF that table.  The old form aggregated
    # the raw pair STREAM four separate times, and since each consumer
    # is a broadcast build, each build re-executed the whole
    # tokenize+explode+vocab-join pipeline — four extra corpus passes
    # for statistics derivable from <= 441 rows.  One eager cut on the
    # type table; the raw stream is now scanned exactly twice (type
    # counts + the per-doc scoring pass).  Counts are exact integers
    # either way; the oracle is unchanged and stays bit-identical.
    bcounts = cut(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt2"))
    )
    # c(w1 .) = sum of pair counts; N1+(w1 .) = pair-type rows per w1
    ctx = bcounts.groupBy("w1").agg(
        F.sum("cnt2").alias("ctx"),
        F.count(F.lit(1)).alias("n1f"),
    )
    # continuation distribution: distinct-predecessor types per w2
    cont = bcounts.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    ntypes = bcounts.agg(F.count(F.lit(1)).alias("ntypes"))
    big = bcounts.orderBy(
        F.desc("cnt2"), F.asc("w1"), F.asc("w2")
    ).limit(bigram_m)

    d = float(discount)
    p_kn = F.when(
        F.col("cnt2").isNotNull(),
        F.greatest(F.col("cnt2") - d, F.lit(0.0)) / F.col("ctx"),
    ).otherwise(F.lit(0.0)) + ((d * F.col("n1f")) / F.col("ctx")) * (
        F.col("n1b") / F.col("ntypes").cast("double")
    )
    qpair = F.floor(F.log(p_kn) * 10000 + F.lit(0.5)).cast("long")
    psum = (
        pairs.join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(ntypes))
        .groupBy("__did__")
        .agg(F.sum(qpair).alias("__ps__"), F.count(F.lit(1)).alias("n_pairs"))
    )
    return psum.select(
        F.col("__did__").alias(id_col),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        (
            F.floor(
                F.col("__ps__").cast("double")
                / F.col("n_pairs")
                / 10000.0
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("avg_logprob"),
    )


def kn_bigram_logprob_oracle_sql(
    source_sql: str,
    vocab_k: int = 20,
    bigram_m: int = 200,
    discount: float = 0.75,
) -> str:
    """DuckDB twin of :func:`kn_bigram_logprob` — same tokenizer, top-K
    and top-M tie-breaks, <unk> mapping, interpolated-KN formula with
    identical double-arithmetic association, quantized-log protocol."""
    d = float(discount)
    return f"""
    WITH t AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS toks
      FROM ({source_sql})
    ),
    flat AS (SELECT id, unnest(toks) AS token FROM t),
    vocab AS (
      SELECT token, count(*) AS cnt FROM flat
      GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT {vocab_k}
    ),
    vl AS (SELECT list(token) AS vl FROM vocab),
    m AS (
      SELECT id,
             list_transform(toks, x ->
               CASE WHEN list_contains(vl.vl, x) THEN x ELSE '<unk>' END) AS m
      FROM t CROSS JOIN vl
    ),
    pairs AS (
      SELECT id, p[1] AS w1, p[2] AS w2
      FROM (
        SELECT id, unnest(list_zip(m[1:len(m)-1], m[2:len(m)])) AS p FROM m
      )
    ),
    ctx AS (SELECT w1, count(*) AS ctx, count(DISTINCT w2) AS n1f
            FROM pairs GROUP BY 1),
    cont AS (SELECT w2, count(DISTINCT w1) AS n1b FROM pairs GROUP BY 1),
    nt AS (SELECT count(*) AS ntypes
           FROM (SELECT DISTINCT w1, w2 FROM pairs)),
    big AS (
      SELECT w1, w2, count(*) AS cnt2 FROM pairs
      GROUP BY 1, 2 ORDER BY cnt2 DESC, w1 ASC, w2 ASC LIMIT {bigram_m}
    ),
    psum AS (
      SELECT p.id,
             SUM(CAST(floor(ln(
               CASE WHEN b.cnt2 IS NOT NULL
                    THEN greatest(b.cnt2 - {d}, 0.0) / c.ctx
                    ELSE 0.0 END
               + (({d} * c.n1f) / c.ctx)
                 * (co.n1b / CAST(nt.ntypes AS DOUBLE))
             ) * 10000 + 0.5) AS BIGINT)) AS ps,
             count(*) AS n_pairs
      FROM pairs p
      LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
      JOIN ctx c ON p.w1 = c.w1
      JOIN cont co ON p.w2 = co.w2
      CROSS JOIN nt
      GROUP BY 1
    )
    SELECT id AS doc_id,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           floor(CAST(ps AS DOUBLE) / n_pairs / 10000.0 * 10000 + 0.5)
             / 10000.0 AS avg_logprob
    FROM psum
    """


NB_CURATED_SOURCES = ("src0", "src1", "src2", "src3")


def train_nb(
    docs: DataFrame,
    pos: Column,
    vocab_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Train a two-class multinomial Naive Bayes text classifier — the
    fastText-style linear quality filter (curated domains vs the rest)
    used to score web corpora for pre-training (GPT-3 / Llama quality
    classifiers are exactly this shape: bag-of-words, per-token log-odds).

    ``pos`` is the boolean weak-label column (True = curated class).
    Returns ``(model, prior)``:

    - ``model``: (token, w) — per-token log-odds
      ln((cnt_pos + 0.5) / (total_pos + 0.5 V)) -
      ln((cnt_neg + 0.5) / (total_neg + 0.5 V))
      quantized to 1e-4 BIGINTs, for the ``vocab_k`` most frequent tokens
      (ties to the lexicographically first).  K rows — broadcastable.
    - ``prior``: one row (b,) — quantized class-prior log-odds
      ln((n_pos + 0.5) / (n_neg + 0.5)).

    Scale shape: training is two aggregations over the exploded token
    relation (map-side partial agg, (token, class-count) shuffle capped by
    vocabulary size) plus a one-row document-count aggregate.  Nothing
    document-sized is ever collected; at 100 TB you raise ``vocab_k`` to
    ~1e6 and the model still broadcasts.
    """
    labeled = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__text"),
        pos.cast("boolean").alias("__pos"),
    )
    toks = labeled.select(
        F.col("id"),
        F.col("__pos"),
        F.explode(tokens(F.col("__text"))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("cnt_pos"),
    )
    vocab = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_k)
    totals = toks.agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("tot_pos"),
        F.sum(F.when(F.col("__pos"), 0).otherwise(1)).alias("tot_neg"),
    )
    v = F.lit(0.5) * vocab_k
    w = F.floor(
        (
            F.log(
                (F.col("cnt_pos") + 0.5)
                / (F.col("tot_pos").cast("double") + v)
            )
            - F.log(
                (F.col("cnt") - F.col("cnt_pos") + 0.5)
                / (F.col("tot_neg").cast("double") + v)
            )
        )
        * 10000
        + F.lit(0.5)
    ).cast("long")
    model = (
        vocab.crossJoin(F.broadcast(totals)).select(F.col("token"), w.alias("w"))
    )
    ndocs = labeled.agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("__pos"), 0).otherwise(1)).alias("n_neg"),
    )
    prior = ndocs.select(
        F.floor(
            F.log((F.col("n_pos") + 0.5) / (F.col("n_neg") + 0.5)) * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("b")
    )
    return model, prior


def score_nb(
    docs: DataFrame,
    model: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: Column | None = None,
) -> DataFrame:
    """Score documents under a trained NB model (:func:`train_nb`):
    score = b + sum of in-vocabulary token log-odds (out-of-vocabulary
    tokens contribute zero — they carry no class signal under the
    symmetric smoothing).  Output (id_col, n_tokens, nb_score, nb_keep)
    with nb_score the quantized-integer sum divided back to a double and
    nb_keep = score > 0 (the classifier's keep/drop decision).

    Stream-safe like :func:`score_unigram`: narrow explode, broadcast
    model join, per-doc streaming agg; the 1-row prior cross-joins as a
    broadcast.  Empty documents score exactly the prior — via
    ``explode_outer`` (an empty doc emits one null-token row), NOT a
    re-join against the document table: the join-back form forces a
    doc-id sort-merge join of two corpus-sized relations just to restore
    empty rows, where explode_outer keeps the whole scorer one narrow
    pass + one broadcast join + one aggregation."""
    carry_cols = [carry.alias("__carry")] if carry is not None else []
    toks = docs.select(
        F.col(id_col).alias("id"),
        *carry_cols,
        F.explode_outer(tokens(F.col(text_col))).alias("token"),
    )
    # __carry is functionally determined by id, so adding it to the
    # grouping key changes no group — it just rides the same aggregate
    # instead of forcing a doc-grain join-back to restore the label
    keys = ["id"] + (["__carry"] if carry is not None else [])
    scored = (
        toks.join(F.broadcast(model), "token", "left")
        .groupBy(*keys)
        .agg(
            # count(token) counts non-null rows only: an empty document's
            # single null-token row contributes 0
            F.count(F.col("token")).alias("__n"),
            F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("__wsum"),
        )
    )
    q = (F.coalesce(F.col("__wsum"), F.lit(0)) + F.col("b")).cast("double")
    out_carry = (
        [F.col("__carry").alias("label")] if carry is not None else []
    )
    return scored.crossJoin(F.broadcast(prior)).select(
        F.col("id").alias(id_col),
        *out_carry,
        F.col("__n").cast("long").alias("n_tokens"),
        (q / 10000.0).alias("nb_score"),
        (q > 0).alias("nb_keep"),
    )


def nb_quality(
    docs: DataFrame,
    pos: Column,
    vocab_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train-on-self + score composed (the gate-query form)."""
    model, prior = train_nb(docs, pos, vocab_k, text_col, id_col)
    return score_nb(docs, model, prior, text_col, id_col)


def nb_quality_oracle_sql(
    source_sql: str, pos_sql: str, vocab_k: int = 50
) -> str:
    """DuckDB twin of :func:`nb_quality` over a (doc_id, text, ...)
    subquery; ``pos_sql`` is the boolean weak-label expression evaluated
    on the source columns.  Same tokenizer, same top-K tie-break, same
    quantized log-odds."""
    return f"""
    WITH labeled AS (
      SELECT doc_id AS id, text, CAST(({pos_sql}) AS BOOLEAN) AS pos
      FROM ({source_sql})
    ),
    toks AS (
      SELECT id, pos, unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM labeled
    ),
    vocab AS (
      SELECT token, count(*) AS cnt,
             sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cnt_pos
      FROM toks GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {vocab_k}
    ),
    tot AS (
      SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS tot_pos,
             sum(CASE WHEN pos THEN 0 ELSE 1 END) AS tot_neg
      FROM toks
    ),
    model AS (
      SELECT token,
             CAST(floor((ln((cnt_pos + 0.5) / (CAST(tot_pos AS DOUBLE) + {0.5 * vocab_k}))
                        - ln((cnt - cnt_pos + 0.5) / (CAST(tot_neg AS DOUBLE) + {0.5 * vocab_k})))
                        * 10000 + 0.5) AS BIGINT) AS w
      FROM vocab CROSS JOIN tot
    ),
    prior AS (
      SELECT CAST(floor(ln((sum(CASE WHEN pos THEN 1 ELSE 0 END) + 0.5)
                          / (sum(CASE WHEN pos THEN 0 ELSE 1 END) + 0.5))
                        * 10000 + 0.5) AS BIGINT) AS b
      FROM labeled
    ),
    scored AS (
      SELECT t.id, count(*) AS n, CAST(sum(coalesce(m.w, 0)) AS BIGINT) AS wsum
      FROM toks t LEFT JOIN model m USING (token)
      GROUP BY t.id
    )
    SELECT l.id AS doc_id,
           CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.wsum, 0) + p.b AS DOUBLE) / 10000.0 AS nb_score,
           (coalesce(s.wsum, 0) + p.b) > 0 AS nb_keep
    FROM labeled l LEFT JOIN scored s ON l.id = s.id CROSS JOIN prior p
    """


# ------------------------------------------------------------- corpus upsert


def merge_upsert(
    base: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "text",
) -> DataFrame:
    """CDC-style corpus merge (the MERGE INTO / dataset-diff primitive):
    full-outer join the current corpus snapshot with an incoming batch on
    the document id and classify every row —

    - ``inserted``: only in the batch
    - ``updated``: in both, payload differs (md5-compared)
    - ``unchanged``: in both, payload identical
    - ``retained``: only in the base snapshot

    Output: (id_col, status, payload_hash) with the winning payload's
    md5 (batch wins on conflict).

    Scale shape: ONE full-outer shuffle join on the id — the floor for
    any upsert.  On a bucketed base layout (sources/io.py:write_bucketed)
    the base side's exchange disappears and only the (much smaller) batch
    shuffles; either way nothing is collected and no side is scanned
    twice.

    Precondition: ids are unique within each side (a snapshot and a
    compacted CDC batch both satisfy this by construction).  Duplicate
    ids would fan out through the join — dedupe the batch first
    (e.g. keep the latest record per id) if it can carry multiple
    versions of one document."""
    b = base.select(
        F.col(id_col).alias("__id"), F.md5(F.col(payload_col)).alias("__bh")
    )
    i = incoming.select(
        F.col(id_col).alias("__iid"), F.md5(F.col(payload_col)).alias("__ih")
    )
    joined = b.join(i, b["__id"] == i["__iid"], "full_outer")
    status = (
        F.when(F.col("__bh").isNull(), F.lit("inserted"))
        .when(F.col("__ih").isNull(), F.lit("retained"))
        .when(F.col("__bh") == F.col("__ih"), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return joined.select(
        F.coalesce(F.col("__id"), F.col("__iid")).alias(id_col),
        status.alias("status"),
        F.coalesce(F.col("__ih"), F.col("__bh")).alias("payload_hash"),
    )


def merge_upsert_oracle_sql(
    base_sql: str, incoming_sql: str, id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`merge_upsert` (md5 is bit-identical across
    engines, so payload comparison and the winning hash both match)."""
    return f"""
    WITH b AS (SELECT {id_col} AS id, md5(text) AS bh FROM ({base_sql})),
         i AS (SELECT {id_col} AS id, md5(text) AS ih FROM ({incoming_sql}))
    SELECT COALESCE(b.id, i.id) AS {id_col},
           CASE WHEN b.id IS NULL THEN 'inserted'
                WHEN i.id IS NULL THEN 'retained'
                WHEN b.bh = i.ih THEN 'unchanged'
                ELSE 'updated' END AS status,
           COALESCE(i.ih, b.bh) AS payload_hash
    FROM b FULL OUTER JOIN i ON b.id = i.id
    ORDER BY {id_col}
    """


# -------------------------------------------- classifier calibration curve


def pr_curve(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "nb_score",
    n_bins: int = 32,
) -> DataFrame:
    """Binned precision/recall calibration curve for a quality
    classifier: how precision trades against recall as the keep
    threshold sweeps the score range — the table you read before picking
    a filter threshold for a training corpus.

    Scale shape: documents collapse into ``n_bins`` fixed-width score
    bins in ONE map-side-combinable aggregate (bin edges come from a
    broadcast one-row min/max stats join, never a driver collect); the
    cumulative-from-the-top sums then run over the n_bins-row cell
    table, so the unpartitioned window is bounded state, not a corpus
    sort.  Scores are the repo's quantized-q4 doubles; binning recovers
    the exact integer (``floor(s*1e4 + 0.5)``) so bin assignment is pure
    integer arithmetic both engines replay.

    Output, ordered by descending bin (highest threshold first): bin,
    score_lo_q4 (lowest quantized score in the bin), n, n_pos, cum_n /
    cum_tp (documents / true positives at-or-above the bin), and
    precision_q6 / recall_q6 per the cross-engine float protocol.
    """
    from pyspark.sql import Window

    iscore = F.floor(F.col(score_col) * 10000 + F.lit(0.5)).cast("long")
    base = scored.select(
        iscore.alias("s"), F.col(label_col).cast("boolean").alias("y")
    )
    stats = base.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    binned = base.crossJoin(F.broadcast(stats)).select(
        F.expr(
            f"CASE WHEN hi = lo THEN 0 "
            f"ELSE ((s - lo) * {n_bins}) DIV (hi - lo + 1) END"
        ).alias("bin"),
        "s",
        "y",
    )
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("n_pos"),
        F.min("s").alias("score_lo_q4"),
    )
    w_cum = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    staged = cells.select(
        "bin",
        "score_lo_q4",
        "n",
        "n_pos",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n_pos").over(w_cum).alias("cum_tp"),
        F.sum("n_pos").over(w_all).alias("tot_pos"),
    )
    prec = F.col("cum_tp") / F.col("cum_n")
    rec = F.when(F.col("tot_pos") > 0, F.col("cum_tp") / F.col("tot_pos")).otherwise(
        F.lit(0.0)
    )
    return staged.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("score_lo_q4").cast("long").alias("score_lo_q4"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_tp").cast("long").alias("cum_tp"),
        F.floor(prec * 1000000 + F.lit(0.5)).cast("long").alias("precision_q6"),
        F.floor(rec * 1000000 + F.lit(0.5)).cast("long").alias("recall_q6"),
    ).orderBy(F.desc("bin"))


def pr_curve_oracle_sql(
    scored_sql: str,
    label_expr: str = "label",
    score_expr: str = "nb_score",
    n_bins: int = 32,
) -> str:
    """DuckDB replay twin of :func:`pr_curve` over a subquery producing
    the scored+labeled rows — same integer bin math, same cumulative
    windows, same quantized ratios."""
    return f"""
    WITH base AS (
      SELECT CAST(floor({score_expr} * 10000 + 0.5) AS BIGINT) AS s,
             CAST({label_expr} AS BOOLEAN) AS y
      FROM ({scored_sql})
    ),
    stats AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
    binned AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE ((s - lo) * {n_bins}) // (hi - lo + 1) END AS bin,
             s, y
      FROM base CROSS JOIN stats
    ),
    cells AS (
      SELECT bin, count(*) AS n,
             sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
             min(s) AS score_lo_q4
      FROM binned GROUP BY bin
    ),
    staged AS (
      SELECT bin, score_lo_q4, n, n_pos,
             CAST(sum(n) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
             CAST(sum(n_pos) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tp,
             CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
      FROM cells
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(score_lo_q4 AS BIGINT) AS score_lo_q4,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           cum_n, cum_tp,
           CAST(floor(CAST(cum_tp AS DOUBLE) / cum_n * 1000000 + 0.5) AS BIGINT)
             AS precision_q6,
           CAST(floor(CASE WHEN tot_pos > 0
                           THEN CAST(cum_tp AS DOUBLE) / tot_pos
                           ELSE 0.0 END * 1000000 + 0.5) AS BIGINT)
             AS recall_q6
    FROM staged
    ORDER BY bin DESC
    """


def roc_auc(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "nb_score",
    band_width: int = 4096,
) -> DataFrame:
    """Exact tie-aware ROC AUC (Mann-Whitney U) of a classifier score —
    the single-number ranking companion to :func:`pr_curve`.

    ``U2 = sum over score cells of n_pos(s) * (2*cum_neg_below(s) +
    n_neg(s))`` (ties credit 1/2, doubled to stay integer);
    ``AUC = U2 / (2*P*N)``.

    Scale shape: the corpus collapses to DISTINCT quantized-score cells
    in one map-side-combinable aggregate; ``cum_neg_below`` is the same
    banded two-phase prefix sum as sampling.select_until_budget (per-band
    window + band-offset chaining — only the per-band totals cross the
    single-partition window), so there is no global corpus sort and no
    unbounded window.  Banding biases the integer score by 2^40 before
    the DIV so both engines divide non-negative operands (truncating vs
    flooring division agree).  U2 is exact BIGINT while P*N < 2^62
    (P, N < ~2x10^9 — beyond that, widen to double).

    Output: one row (n_pos, n_neg, u2, auc_q6); auc_q6 is NULL when
    either class is absent (AUC undefined — loud, not a silent 0).
    """
    from pyspark.sql import Window

    iscore = F.floor(F.col(score_col) * 10000 + F.lit(0.5)).cast("long")
    cells = (
        scored.select(
            iscore.alias("s"), F.col(label_col).cast("boolean").alias("y")
        )
        .groupBy("s")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("np"),
            F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("nn"),
        )
    )
    bias = 1 << 40
    banded = cells.withColumn(
        "band", F.expr(f"(s + {bias}) DIV {band_width}")
    )
    local_w = (
        Window.partitionBy("band")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = banded.withColumn(
        "cnb", F.coalesce(F.sum("nn").over(local_w), F.lit(0))
    )
    # band totals from the window output (inclusive cum = cnb + nn, nn
    # non-negative so its max IS the band total) — same one-scan trick
    # as select_until_budget
    totals = local.groupBy("band").agg(
        F.max(F.col("cnb") + F.col("nn")).alias("bt")
    )
    offset_w = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "band", F.coalesce(F.sum("bt").over(offset_w), F.lit(0)).alias("bo")
    )
    terms = local.join(F.broadcast(offsets), "band").select(
        "np",
        "nn",
        (
            F.col("np")
            * (2 * (F.col("bo") + F.col("cnb")) + F.col("nn"))
        ).alias("u2"),
    )
    # coalesce: an EMPTY corpus aggregates to one all-null row — report
    # zero counts (and a NULL AUC via the class guard), not nulls
    agg = terms.agg(
        F.coalesce(F.sum("np"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("nn"), F.lit(0)).cast("long").alias("n_neg"),
        F.coalesce(F.sum("u2"), F.lit(0)).cast("long").alias("u2"),
    )
    auc = F.col("u2").cast("double") / (
        F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.floor(auc * 1000000 + F.lit(0.5)).cast("long"),
        ).alias("auc_q6"),
    )


def roc_auc_oracle_sql(
    scored_sql: str,
    label_expr: str = "label",
    score_expr: str = "nb_score",
) -> str:
    """DuckDB replay twin of :func:`roc_auc` — same cells, same exact
    integer U2 (the oracle's cumulative sum needs no banding; the banded
    Spark form reconstructs the identical global prefix sum)."""
    return f"""
    WITH base AS (
      SELECT CAST(floor({score_expr} * 10000 + 0.5) AS BIGINT) AS s,
             CAST({label_expr} AS BOOLEAN) AS y
      FROM ({scored_sql})
    ),
    cells AS (
      SELECT s,
             sum(CASE WHEN y THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN y THEN 0 ELSE 1 END) AS nn
      FROM base GROUP BY s
    ),
    cum AS (
      SELECT s, np, nn,
             CAST(coalesce(sum(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cnb
      FROM cells
    ),
    agg AS (
      SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
             CAST(coalesce(sum(nn), 0) AS BIGINT) AS n_neg,
             CAST(coalesce(sum(np * (2 * cnb + nn)), 0) AS BIGINT) AS u2
      FROM cum
    )
    SELECT n_pos, n_neg, u2,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(floor(CAST(u2 AS DOUBLE)
                       / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                       * 1000000 + 0.5) AS BIGINT)
           END AS auc_q6
    FROM agg
    """


def heldout_perplexity(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    vocab_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Held-out evaluation of the unigram LM: train on one split, score
    the OTHER (the eval-hygiene form of :func:`unigram_logprob`, which
    scores the training corpus itself).  One summary row:

        (n_docs, n_tokens, oov_frac, nll, ppl)

    with nll the per-token negative log-likelihood over the held-out
    split (1e-4-quantized per-token ln p summed exactly) and
    ppl = exp(nll) — both displayed at the 1e-4 floor quantum (exp
    shares the repo-wide 1-ulp libm caveat).  OOV tokens score at the
    0.5/total floor like every scorer built on train_unigram, so a
    vocabulary mismatch shows up as BOTH a high oov_frac and a high ppl.

    Scale shape: one token pass over each split plus the K-row broadcast
    model — the same two-aggregation cost as unigram_logprob."""
    model = train_unigram(train_docs, vocab_k, text_col, id_col)
    scored = score_unigram(eval_docs, model, text_col, id_col)
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__n").cast("long").alias("n_tokens"),
        F.sum("__oov").cast("long").alias("oov"),
        F.sum("__qsum").cast("long").alias("qsum"),
    )
    nll = -(F.col("qsum").cast("double") / F.col("n_tokens")) / 10000.0

    def q4(x):
        return F.floor(x * 10000 + F.lit(0.5)).cast("double") / 10000.0

    return agg.select(
        "n_docs",
        "n_tokens",
        q4(F.col("oov").cast("double") / F.col("n_tokens")).alias("oov_frac"),
        q4(nll).alias("nll"),
        q4(F.exp(nll)).alias("ppl"),
    )


def heldout_perplexity_oracle_sql(
    train_sql: str, eval_sql: str, vocab_k: int = 20
) -> str:
    """DuckDB twin of :func:`heldout_perplexity` over (doc_id, text)
    subqueries for the two splits — same tokenizer, same top-K vocab
    tie-break, same quantized-ln/exp protocol."""
    return f"""
    WITH ttoks AS (
      SELECT unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM ({train_sql})
    ),
    vocab AS (
      SELECT token, count(*) AS cnt FROM ttoks
      GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {vocab_k}
    ),
    tot AS (SELECT count(*) AS total FROM ttoks),
    etoks AS (
      SELECT doc_id AS id, unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM ({eval_sql})
    ),
    scored AS (
      SELECT id,
             count(*) AS n,
             sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS oov,
             sum(CAST(floor(ln(COALESCE(v.cnt, 0.5) / t.total) * 10000 + 0.5) AS BIGINT)) AS qsum
      FROM etoks LEFT JOIN vocab v USING (token) CROSS JOIN tot t
      GROUP BY id
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(oov) AS BIGINT) AS oov,
             CAST(sum(qsum) AS BIGINT) AS qsum
      FROM scored
    )
    SELECT n_docs, n_tokens,
           CAST(floor(CAST(oov AS DOUBLE) / n_tokens * 10000 + 0.5) AS DOUBLE) / 10000.0 AS oov_frac,
           CAST(floor(-(CAST(qsum AS DOUBLE) / n_tokens) / 10000.0 * 10000 + 0.5) AS DOUBLE) / 10000.0 AS nll,
           CAST(floor(exp(-(CAST(qsum AS DOUBLE) / n_tokens) / 10000.0) * 10000 + 0.5) AS DOUBLE) / 10000.0 AS ppl
    FROM agg
    """
