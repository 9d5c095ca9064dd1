"""Training-data hygiene operators a 100 TB pretraining pipeline runs over
its corpus (north-star extension; no reference twin — the reference is
tabular coursework, but these are first-class citizens of the mandated
LLM-pipeline layer alongside dedup/similarity/text_ops):

- eval-set decontamination by word-n-gram overlap (the standard guard
  against benchmark leakage into training data),
- Gopher-style repetition quality gates (duplicate-word mass, top-word
  dominance),
- context-window packing (greedy concatenate-then-chunk assignment of
  documents into fixed token budgets, per source shard).

Scale notes: decontamination is a broadcast semi-join against the eval
n-gram set (eval benchmarks are tiny relative to the corpus; the train-side
explode is map-side and the join needs no shuffle of the corpus). The
repetition stats are one explode + two-level aggregation (all partial-agg
friendly). Packing windows are partitioned by source shard — cumulative
sums never see a global ordering, so there is no SinglePartition exchange
(the per-shard packing is exactly how production packers shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..functions import text as T
from ..registry import query
from ..sources import load_table

_NGRAM = 8  # word n-gram width for decontamination
_EVAL_MOD = 97  # doc_id % _EVAL_MOD == 0 -> held-out eval doc
# Explicit per-document n-gram envelope, enforced identically on BOTH the
# Spark side (F.least in the sequence bound) and the DuckDB oracle
# (generate_series bound): only the first _MAX_GRAMS_PER_DOC grams of a
# document participate in the overlap check. This bounds per-doc work at
# 100 TB scale (a decontamination probe does not need every gram of a
# book-length doc to detect leakage) and makes the envelope a matched
# contract instead of a coincidence of fixture document lengths.
_MAX_GRAMS_PER_DOC = 2000


# --- eval-set decontamination ------------------------------------------------
@query(
    "decontam_ngram",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents
    ),
    eval_grams AS (
      SELECT DISTINCT array_to_string(list_slice(w, i.i, i.i + {_NGRAM - 1}), ' ') AS g
      FROM words
      JOIN (SELECT unnest(generate_series(1, {_MAX_GRAMS_PER_DOC})) AS i) i
        ON i.i <= len(w) - {_NGRAM - 1}
      WHERE doc_id % {_EVAL_MOD} = 0
    ),
    train_grams AS (
      SELECT doc_id, source,
             array_to_string(list_slice(w, i.i, i.i + {_NGRAM - 1}), ' ') AS g
      FROM words
      JOIN (SELECT unnest(generate_series(1, {_MAX_GRAMS_PER_DOC})) AS i) i
        ON i.i <= len(w) - {_NGRAM - 1}
      WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM train_grams t JOIN eval_grams e ON t.g = e.g
    )
    SELECT w.source,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CAST(c.doc_id IS NOT NULL AS BIGINT)) AS BIGINT) AS n_contaminated,
           CAST(sum(CAST(c.doc_id IS NULL AS BIGINT)) AS BIGINT) AS n_clean
    FROM words w LEFT JOIN contaminated c ON w.doc_id = c.doc_id
    WHERE w.doc_id % {_EVAL_MOD} <> 0
    GROUP BY w.source
    """,
)
def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents sharing any word {_NGRAM}-gram with the
    held-out eval slice. The eval n-gram set is DISTINCT'd and broadcast —
    at production scale the benchmark suite is MBs against a 100 TB corpus,
    so the corpus side is a map-side semi-join probe with no extra
    shuffle. Output: per-source contamination tally."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    # docs shorter than _NGRAM words produce no grams (T.ngrams' guard)
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(T.ngrams("w", _NGRAM, _MAX_GRAMS_PER_DOC)).alias("g"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0).select("g").distinct()
    )
    train_grams = grams.filter(F.col("doc_id") % _EVAL_MOD != 0)
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(1))
    )
    train_docs = docs.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id", "source"
    )
    return (
        train_docs.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.col("is_cont").isNotNull().cast("bigint")).alias("n_contaminated"),
            F.sum(F.col("is_cont").isNull().cast("bigint")).alias("n_clean"),
        )
    )


# --- Gopher-style repetition quality gates ----------------------------------
@query(
    "quality_repetition",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT doc_id, lang, word, count(*) AS c
      FROM tok GROUP BY doc_id, lang, word
    ),
    per_doc AS (
      SELECT doc_id, lang,
             CAST(sum(c) AS BIGINT) AS n_words,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_count
      FROM wc GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_words,
           CAST(sum(n_distinct) AS BIGINT) AS sum_distinct,
           CAST(sum(CAST(10 * top_count > n_words AS BIGINT)) AS BIGINT) AS n_dominant,
           CAST(sum(CAST(2 * n_distinct < n_words AS BIGINT)) AS BIGINT) AS n_repetitive
    FROM per_doc GROUP BY lang
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality gates in the Gopher-rules family: a document
    fails `dominant` if its most frequent word exceeds 10% of tokens, and
    `repetitive` if duplicate word mass exceeds half the tokens. Two-level
    aggregation — (doc, word) counts then per-doc stats — both levels get
    map-side partial aggregation; nothing is quadratic in document size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    wc = tok.groupBy("doc_id", "lang", "word").agg(F.count("*").alias("c"))
    per_doc = wc.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("sum_words"),
        F.sum("n_distinct").alias("sum_distinct"),
        F.sum((10 * F.col("top_count") > F.col("n_words")).cast("bigint")).alias(
            "n_dominant"
        ),
        F.sum((2 * F.col("n_distinct") < F.col("n_words")).cast("bigint")).alias(
            "n_repetitive"
        ),
    )


# --- context-window packing --------------------------------------------------
_CTX_BUDGET = 128  # tokens per packed training context


@query(
    "pack_context_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t
    ),
    binned AS (
      SELECT source, n_tok,
             CAST((cum - n_tok) // {_CTX_BUDGET} AS BIGINT) AS bin,
             CAST((cum - 1) // {_CTX_BUDGET} <> (cum - n_tok) // {_CTX_BUDGET} AS BIGINT)
               AS crosses
      FROM c
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(crosses) AS BIGINT) AS n_split
    FROM binned GROUP BY source, bin
    """,
)
def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concatenate-then-chunk packing: within each source shard,
    documents are laid head-to-tail in doc_id order and cut into
    {_CTX_BUDGET}-token training contexts. A document belongs to the bin
    where it starts; `n_split` counts documents straddling a context
    boundary (the ones a loss mask would truncate). The running sum is
    partitioned by source — shard-local windows, no global ordering, no
    SinglePartition exchange (asserted for the plan family in
    tests/test_plan_quality.py)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.withColumn("cum", F.sum("n_tok").over(w))
    binned = c.select(
        "source",
        "n_tok",
        F.expr(f"(cum - n_tok) div {_CTX_BUDGET}").alias("bin"),
        (
            F.expr(f"(cum - 1) div {_CTX_BUDGET}")
            != F.expr(f"(cum - n_tok) div {_CTX_BUDGET}")
        )
        .cast("bigint")
        .alias("crosses"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("crosses").alias("n_split"),
    )


# --- temperature-scaled source mixture ---------------------------------------
_MIX_ALPHA = 0.5  # temperature exponent: alpha<1 upweights small sources


@query(
    "mixture_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(CAST(pow(CAST(n_s AS DOUBLE), {_MIX_ALPHA}) AS DOUBLE)) AS z
            FROM counts),
    rates AS (
      SELECT c.source, c.n_s,
             CAST(pow(CAST(c.n_s AS DOUBLE), {_MIX_ALPHA}) AS DOUBLE) / t.z AS share
      FROM counts c, tot t
    ),
    keyed AS (
      SELECT d.doc_id, d.source, r.n_s, r.share,
             (CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000000) / 1000000.0 AS u,
             r.share * 200.0 / r.n_s AS p_keep
      FROM documents d JOIN rates r ON d.source = r.source
    )
    SELECT source,
           CAST(min(n_s) AS BIGINT) AS n_source,
           round(min(p_keep), 6) AS p_keep,
           CAST(sum(CAST(u < p_keep AS BIGINT)) AS BIGINT) AS n_sampled
    FROM keyed GROUP BY source
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (alpha={alpha}): each source's
    target share is n_s^alpha / sum(n^alpha) — the standard multilingual /
    multi-source re-balancing (alpha<1 upweights the tail) — realized as a
    deterministic hash-Bernoulli keep with per-source rate share*T/n_s.
    Two passes: a counts aggregate (tiny, broadcast back) then one
    map-side keep decision per row — no shuffle of the corpus itself, no
    RNG state, reproducible on any cluster layout. The oracle replays the
    identical hash arithmetic.""".format(alpha=_MIX_ALPHA)
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    z = counts.agg(
        F.sum(F.pow(F.col("n_s").cast("double"), F.lit(_MIX_ALPHA))).alias("z")
    )
    rates = counts.crossJoin(F.broadcast(z)).select(
        "source",
        "n_s",
        (F.pow(F.col("n_s").cast("double"), F.lit(_MIX_ALPHA)) / F.col("z")).alias(
            "share"
        ),
    )
    from .dedup import _h_spark

    keyed = docs.join(F.broadcast(rates), "source").select(
        "source",
        "n_s",
        ((_h_spark(F.col("doc_id").cast("string")) % 1000000) / 1000000.0).alias("u"),
        (F.col("share") * 200.0 / F.col("n_s")).alias("p_keep"),
    )
    return keyed.groupBy("source").agg(
        F.min("n_s").alias("n_source"),
        F.round(F.min("p_keep"), 6).alias("p_keep"),
        F.sum((F.col("u") < F.col("p_keep")).cast("bigint")).alias("n_sampled"),
    )


# --- tokenizer vocabulary coverage / OOV rate --------------------------------
_VOCAB_K = 30  # top-K corpus words form the "tokenizer vocabulary"


@query(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, word) AS rn
        FROM tok GROUP BY word
      ) WHERE rn <= {_VOCAB_K}
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(v.word IS NULL AS BIGINT)) AS BIGINT) AS n_oov,
           round(CAST(sum(CAST(v.word IS NULL AS BIGINT)) AS DOUBLE)
                 / count(*), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.word = v.word
    GROUP BY t.lang
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-{k} word vocabulary
    from the corpus (deterministic count-then-name ordering), then measure
    per-language OOV rates — the fertility/coverage audit run before
    committing a tokenizer to a training mix. The vocabulary is a top-k
    aggregate (TakeOrderedAndProject, then broadcast); the corpus side is
    one explode + map-side probe, never reshuffled.""".format(k=_VOCAB_K)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    wc = tok.groupBy("word").agg(F.count("*").alias("c"))
    # Top-k via orderBy().limit() — compiles to TakeOrderedAndProject
    # (per-partition heaps merged on the driver), not a single-partition
    # window sort of the whole word-count table. (c desc, word asc) is a
    # total order (word is unique after the groupBy), so the selected set
    # is identical to the oracle's row_number() <= k.
    vocab = (
        wc.orderBy(F.desc("c"), F.asc("word"))
        .limit(_VOCAB_K)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    probed = tok.join(F.broadcast(vocab), "word", "left")
    return probed.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("in_vocab").isNull().cast("bigint")).alias("n_oov"),
        F.round(
            F.sum(F.col("in_vocab").isNull().cast("bigint")).cast("double")
            / F.count("*"),
            6,
        ).alias("oov_rate"),
    )


# --- unigram cross-entropy (CCNet-style perplexity-proxy quality filter) -----
@query(
    "quality_perplexity_proxy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    lm AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY word
    ),
    tot AS (SELECT sum(c) AS n FROM lm),
    scored AS (
      SELECT t.doc_id, t.lang,
             CAST(round(log2(CAST(l.c AS DOUBLE) / t2.n) * 1000000000)
                  AS BIGINT) AS nlog
      FROM tok t JOIN lm l ON t.word = l.word, tot t2
    ),
    per_doc AS (
      SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(nlog) AS BIGINT) AS sum_nlog
      FROM scored GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(sum_nlog) AS BIGINT) AS sum_nlog,
           CAST(sum(CAST(-sum_nlog > 8500000000 * n_tok AS BIGINT)) AS BIGINT)
             AS n_filtered
    FROM per_doc GROUP BY lang
    """,
)
def quality_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering with a unigram LM: the corpus's own
    word frequencies form the language model; each document scores its mean
    negative log2-likelihood, and documents above the bits-per-token
    threshold (8.5 bits here) are flagged for removal — the classic
    quality gate that drops boilerplate-free but improbable text. Floats
    are tamed for cross-engine exactness by integer-scaling each token's
    log-probability (round(log2(p)*1e9) — one IEEE log + one round per
    DISTINCT word, then pure bigint sums, order-independent). The LM is a
    word-count aggregate (broadcastable at real vocab sizes); scoring is
    one probe join, no corpus reshuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    lm = tok.groupBy("word").agg(F.count("*").alias("c"))
    tot = lm.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(F.broadcast(lm), "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            N.fround_int(F.log2(F.col("c").cast("double") / F.col("n")) * 1e9)
            .alias("nlog"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_tok"), F.sum("nlog").alias("sum_nlog")
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("sum_nlog").alias("sum_nlog"),
        F.sum(
            (-F.col("sum_nlog") > F.lit(8500000000) * F.col("n_tok")).cast("bigint")
        ).alias("n_filtered"),
    )


# --- filter-funnel attrition report ------------------------------------------
_FUNNEL_MIN_WORDS = 30


@query(
    "pipeline_filter_funnel",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT doc_id, source, lang, word, count(*) AS c
      FROM tok GROUP BY doc_id, source, lang, word
    ),
    per_doc AS (
      SELECT doc_id, source,
             CAST(max(CAST(lang = 'en' AS INT)) AS INT) AS f_lang,
             CAST(sum(c) AS BIGINT) AS n_words,
             CAST(max(c) AS BIGINT) AS top_count
      FROM wc GROUP BY doc_id, source
    ),
    flags AS (
      SELECT source,
             f_lang = 1 AS g1,
             f_lang = 1 AND n_words >= {_FUNNEL_MIN_WORDS} AS g2,
             f_lang = 1 AND n_words >= {_FUNNEL_MIN_WORDS}
               AND 10 * top_count <= n_words AS g3
      FROM per_doc
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CAST(g1 AS BIGINT)) AS BIGINT) AS n_after_lang,
           CAST(sum(CAST(g2 AS BIGINT)) AS BIGINT) AS n_after_length,
           CAST(sum(CAST(g3 AS BIGINT)) AS BIGINT) AS n_after_dominance,
           round(CAST(sum(CAST(g3 AS BIGINT)) AS DOUBLE) / count(*), 6)
             AS keep_rate
    FROM flags GROUP BY source
    """,
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source attrition through the successive corpus quality gates —
    the funnel report every cleaning pipeline publishes (how many docs
    each rule removed, per source): language gate → minimum-length gate →
    Gopher top-word-dominance gate, counted CUMULATIVELY (a doc must pass
    all earlier gates to count at a stage). One (doc, word) count pass
    feeds per-doc flags; both aggregation levels are map-side partial —
    same shuffle shape as quality_repetition, nothing quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    wc = tok.groupBy("doc_id", "source", "lang", "word").agg(
        F.count("*").alias("c")
    )
    per_doc = wc.groupBy("doc_id", "source").agg(
        F.max((F.col("lang") == "en").cast("int")).alias("f_lang"),
        F.sum("c").alias("n_words"),
        F.max("c").alias("top_count"),
    )
    g1 = F.col("f_lang") == 1
    g2 = g1 & (F.col("n_words") >= _FUNNEL_MIN_WORDS)
    g3 = g2 & (10 * F.col("top_count") <= F.col("n_words"))
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(g1.cast("bigint")).alias("n_after_lang"),
        F.sum(g2.cast("bigint")).alias("n_after_length"),
        F.sum(g3.cast("bigint")).alias("n_after_dominance"),
        F.round(
            F.sum(g3.cast("bigint")).cast("double") / F.count("*"), 6
        ).alias("keep_rate"),
    )


# --- per-source quality-gate matrix ------------------------------------------
_GATE_MIN_WORDS = 10
_GATE_MAX_WORDS = 100000
_GATE_MWL_LO = 2.0  # mean word length bounds (Gopher uses [3, 10] for English)
_GATE_MWL_HI = 10.0


@query(
    "quality_gate_matrix",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_words,
             CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_wl,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a'))) AS n_stop
      FROM documents
    ),
    gates AS (
      SELECT source, 'word_count' AS gate,
             CAST(n_words < {_GATE_MIN_WORDS}
                  OR n_words > {_GATE_MAX_WORDS} AS INT) AS fail
      FROM per_doc
      UNION ALL
      SELECT source, 'mean_word_len' AS gate,
             CAST(mean_wl < {_GATE_MWL_LO}
                  OR mean_wl > {_GATE_MWL_HI} AS INT) AS fail
      FROM per_doc
      UNION ALL
      SELECT source, 'stopword_presence' AS gate,
             CAST(n_stop = 0 AS INT) AS fail
      FROM per_doc
    )
    SELECT source, gate, count(*) AS n_docs,
           CAST(sum(fail) AS BIGINT) AS n_fail,
           CAST(sum(fail) AS DOUBLE) / count(*) AS fail_rate
    FROM gates GROUP BY source, gate
    """,
)
def quality_gate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source × per-gate fail-rate matrix over the Gopher-family
    hygiene gates (word-count bounds, mean word length, stopword
    presence) in long format — the one-scan audit a pipeline runs before
    choosing per-source filters. Mean word length is derived from n_chars
    and the word count (chars minus separators over words), so the gate
    row needs no second tokenization pass; the three gates share one
    per-doc projection and unpivot via a stack/UNION into (source, gate)
    partial aggregates — a single corpus scan, two tiny shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(F.lit("the"), F.lit("a"))
    per_doc = docs.select(
        "source",
        F.size(toks).alias("n_words"),
        (
            (F.col("n_chars") - F.size(toks) + 1).cast("double")
            / F.size(toks)
        ).alias("mean_wl"),
        F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).alias(
            "n_stop"
        ),
    )
    fail_wc = (
        (F.col("n_words") < _GATE_MIN_WORDS)
        | (F.col("n_words") > _GATE_MAX_WORDS)
    ).cast("int")
    fail_mwl = (
        (F.col("mean_wl") < _GATE_MWL_LO) | (F.col("mean_wl") > _GATE_MWL_HI)
    ).cast("int")
    fail_stop = (F.col("n_stop") == 0).cast("int")
    # stack() needs named input columns
    gates = (
        per_doc.withColumn("fail_wc", fail_wc)
        .withColumn("fail_mwl", fail_mwl)
        .withColumn("fail_stop", fail_stop)
        .select(
            "source",
            F.expr(
                "stack(3, 'word_count', fail_wc, "
                "'mean_word_len', fail_mwl, "
                "'stopword_presence', fail_stop) AS (gate, fail)"
            ),
        )
    )
    return gates.groupBy("source", "gate").agg(
        F.count("*").alias("n_docs"),
        F.sum("fail").cast("bigint").alias("n_fail"),
        (F.sum("fail").cast("double") / F.count("*")).alias("fail_rate"),
    )


# --- interpolated bigram-LM perplexity gate ----------------------------------
_BG_THRESH_MILLI_BITS = 9_500_000_000  # 9.5 bits/bigram in 1e-9 log2 units


@query(
    "perplexity_bigram_backoff",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, w[i] AS p, w[i + 1] AS q
      FROM toks, unnest(generate_series(1, len(w) - 1)) t(i)
      WHERE len(w) >= 2
    ),
    uni AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cu
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) x
      GROUP BY word
    ),
    nuni AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uni),
    bilm AS (
      SELECT p, q, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY p, q
    ),
    plm AS (SELECT p, CAST(sum(cb) AS BIGINT) AS cp FROM bilm GROUP BY p),
    scored_pairs AS (
      SELECT b.p, b.q,
             CAST(round(log2((b.cb + CAST(u.cu AS DOUBLE) / nu.n)
                             / (pl.cp + 1.0)) * 1000000000) AS BIGINT) AS nlog
      FROM bilm b
      JOIN uni u ON b.q = u.word
      JOIN plm pl ON b.p = pl.p
      CROSS JOIN nuni nu
    ),
    per_doc AS (
      SELECT g.doc_id, g.lang,
             CAST(count(*) AS BIGINT) AS n_bg,
             CAST(sum(sp.nlog) AS BIGINT) AS sum_nlog
      FROM bg g JOIN scored_pairs sp ON g.p = sp.p AND g.q = sp.q
      GROUP BY g.doc_id, g.lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
           CAST(sum(sum_nlog) AS BIGINT) AS sum_nlog,
           CAST(sum(CAST(-sum_nlog > {_BG_THRESH_MILLI_BITS // 1000} * n_bg
                         AS BIGINT)) AS BIGINT) AS n_filtered
    FROM per_doc GROUP BY lang
    """,
)
def perplexity_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity gate with unigram backoff — the second-order
    upgrade of quality_perplexity_proxy: p(w|prev) = (c_bigram +
    p_uni(w)) / (c_prev + 1) (one pseudo-count of unigram mass), so
    unseen bigrams score by their unigram plausibility instead of zero.
    Documents above the bits-per-bigram threshold flag for removal.

    Exactness: one IEEE log2 + round to 1e-9 units per DISTINCT bigram,
    then pure bigint sums (the unigram gate's convention). Scale shape:
    bigram explode is width-2 sliding (2x rows, not shingles' 3x); the
    LM tables are count aggregates probed back by equi-join; no corpus
    reshuffle beyond the count shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.split("text", " ").alias("w"))
    bg = (
        toks.filter(F.expr("size(w) >= 2"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS p,"
                    " element_at(w, i + 1) AS q))"
                )
            ).alias("pq"),
        )
        .select("doc_id", "lang", "pq.p", "pq.q")
    )
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS cu"))
    )
    nuni = uni.agg(F.expr("CAST(sum(cu) AS BIGINT) AS n"))
    bilm = bg.groupBy("p", "q").agg(F.expr("CAST(count(*) AS BIGINT) AS cb"))
    plm = bilm.groupBy("p").agg(F.expr("CAST(sum(cb) AS BIGINT) AS cp"))
    scored_pairs = (
        bilm.join(uni.selectExpr("word AS q", "cu"), "q")
        .join(plm, "p")
        .crossJoin(F.broadcast(nuni))
        .selectExpr(
            "p",
            "q",
            N.spark_fround_int(
                "log2((cb + CAST(cu AS DOUBLE) / n) / (cp + 1.0D))"
                " * 1000000000"
            ) + " AS nlog",
        )
    )
    per_doc = bg.join(scored_pairs, ["p", "q"]).groupBy("doc_id", "lang").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_bg"),
        F.expr("CAST(sum(nlog) AS BIGINT) AS sum_nlog"),
    )
    return per_doc.groupBy("lang").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(n_bg) AS BIGINT) AS n_bigrams"),
        F.expr("CAST(sum(sum_nlog) AS BIGINT) AS sum_nlog"),
        F.expr(
            f"CAST(sum(CAST(-sum_nlog > {_BG_THRESH_MILLI_BITS // 1000} * n_bg"
            " AS BIGINT)) AS BIGINT) AS n_filtered"
        ),
    )


# --- model-based quality filtering: multinomial Naive Bayes -------------------
# The FineWeb/DCLM-style component: train a cheap classifier that separates a
# reference slice of the corpus from the rest, score every unseen document,
# keep the reference-like ones. Multinomial NB is the classical fully-
# relational form: training IS a groupBy (per-token class counts), scoring IS
# a join + sum — no gradient loop, so the whole fit+predict is one oracle-
# checkable plan.
@query(
    "quality_nb_classifier",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             coalesce(TRY_CAST(substr(source, 4) AS INT) < 5, false) AS is_ref,
             doc_id % 2 = 0 AS is_train
      FROM documents
    ),
    tok AS (
      SELECT doc_id, is_ref, is_train, unnest(string_split(text, ' ')) AS t
      FROM base
    ),
    cnt AS (
      SELECT t,
             CAST(sum(CAST(is_ref AS BIGINT)) AS BIGINT) AS cr,
             CAST(sum(CAST(NOT is_ref AS BIGINT)) AS BIGINT) AS co
      FROM tok WHERE is_train AND t <> '' GROUP BY t
    ),
    tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(co) AS BIGINT) AS toth,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    ),
    pri AS (
      SELECT CAST(round((ln(CAST(sum(CAST(is_ref AS BIGINT)) AS DOUBLE))
                   - ln(CAST(sum(CAST(NOT is_ref AS BIGINT)) AS DOUBLE)))
                  * 1000000000, 0) AS BIGINT) AS prior_e9
      FROM base WHERE is_train
    ),
    llr AS (
      SELECT t,
             CAST(round((ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + v AS DOUBLE))
                   - ln(CAST(co + 1 AS DOUBLE) / CAST(toth + v AS DOUBLE)))
                  * 1000000000, 0) AS BIGINT) AS llr_e9
      FROM cnt, tot
    ),
    unseen AS (
      SELECT CAST(round((ln(1.0 / CAST(tr + v AS DOUBLE))
                   - ln(1.0 / CAST(toth + v AS DOUBLE)))
                  * 1000000000, 0) AS BIGINT) AS u_e9
      FROM tot
    ),
    scored AS (
      SELECT k.doc_id, k.is_ref,
             CAST(sum(coalesce(l.llr_e9, u.u_e9)) AS BIGINT) AS sum_e9
      FROM tok k LEFT JOIN llr l ON k.t = l.t, unseen u
      WHERE NOT k.is_train AND k.t <> ''
      GROUP BY k.doc_id, k.is_ref
    )
    SELECT s.doc_id, s.is_ref,
           CAST(s.sum_e9 + p.prior_e9 AS BIGINT) AS llr_e9,
           (s.sum_e9 + p.prior_e9) > 0 AS pred_ref
    FROM scored s, pri p
    """,
)
def quality_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes reference-vs-rest quality classifier
    (FineWeb's "edu classifier" shape, CCNet's ref-LM shape): train on the
    even-doc_id half (reference class = src0-src4), Laplace-smoothed token
    log-likelihood ratios, score the odd half per document.

    Cross-engine exactness: one IEEE ln + one round per DISTINCT token
    (integer-scaled to 1e9, same recipe as quality_perplexity_proxy), then
    pure bigint sums per document — order-independent everywhere. Scale
    shape: training is one token groupBy (vocab-bounded output that
    broadcasts at real vocab sizes), scoring is one probe join over the
    token stream + a per-doc sum — nothing quadratic, no fact re-shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "doc_id",
        "text",
        # TRY_CAST (both dialects): a source label that doesn't parse as
        # srcN is simply non-reference, not a job-killing cast error
        "coalesce(TRY_CAST(substr(source, 4) AS INT) < 5, false) AS is_ref",
        "doc_id % 2 = 0 AS is_train",
    )
    tok = base.select(
        "doc_id", "is_ref", "is_train", F.explode(F.split("text", " ")).alias("t")
    )
    cnt = (
        tok.filter("is_train AND t <> ''")
        .groupBy("t")
        .agg(
            F.expr("CAST(sum(CAST(is_ref AS BIGINT)) AS BIGINT) AS cr"),
            F.expr("CAST(sum(CAST(NOT is_ref AS BIGINT)) AS BIGINT) AS co"),
        )
    )
    tot = cnt.agg(
        F.expr("CAST(sum(cr) AS BIGINT) AS tr"),
        F.expr("CAST(sum(co) AS BIGINT) AS toth"),
        F.expr("CAST(count(*) AS BIGINT) AS v"),
    )
    pri = base.filter("is_train").agg(
        F.expr(
            "CAST(round((ln(CAST(sum(CAST(is_ref AS BIGINT)) AS DOUBLE))"
            " - ln(CAST(sum(CAST(NOT is_ref AS BIGINT)) AS DOUBLE)))"
            " * 1000000000, 0) AS BIGINT) AS prior_e9"
        )
    )
    llr = cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "t",
        "CAST(round((ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + v AS DOUBLE))"
        " - ln(CAST(co + 1 AS DOUBLE) / CAST(toth + v AS DOUBLE)))"
        " * 1000000000, 0) AS BIGINT) AS llr_e9",
    )
    unseen = tot.selectExpr(
        "CAST(round((ln(1.0 / CAST(tr + v AS DOUBLE))"
        " - ln(1.0 / CAST(toth + v AS DOUBLE)))"
        " * 1000000000, 0) AS BIGINT) AS u_e9"
    )
    scored = (
        tok.filter("NOT is_train AND t <> ''")
        .join(llr, "t", "left")
        .crossJoin(F.broadcast(unseen))
        .groupBy("doc_id", "is_ref")
        .agg(F.expr("CAST(sum(coalesce(llr_e9, u_e9)) AS BIGINT) AS sum_e9"))
    )
    return scored.crossJoin(F.broadcast(pri)).selectExpr(
        "doc_id",
        "is_ref",
        "CAST(sum_e9 + prior_e9 AS BIGINT) AS llr_e9",
        "(sum_e9 + prior_e9) > 0 AS pred_ref",
    )


# --- Kneser-Ney smoothed bigram LM --------------------------------------------
_KN_D = 0.75  # absolute discount


@query(
    "lm_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT p, q, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT w[i] AS p, w[i + 1] AS q
        FROM toks, LATERAL unnest(range(1, len(w))) t(i)
        WHERE len(w) >= 2
      ) GROUP BY p, q
    ),
    ctx AS (
      SELECT p, CAST(sum(c) AS BIGINT) AS c_p, count(*) AS n1p
      FROM bg GROUP BY p
    ),
    cont AS (SELECT q, count(*) AS n1q FROM bg GROUP BY q),
    tot AS (SELECT count(*) AS t FROM bg)
    SELECT bg.p, bg.q, bg.c,
           round(
             (greatest(bg.c - {_KN_D}, 0.0) / ctx.c_p)
             + ({_KN_D} * ctx.n1p / ctx.c_p) * (cont.n1q * 1.0 / tot.t),
             9
           ) AS p_kn
    FROM bg JOIN ctx USING (p) JOIN cont USING (q) CROSS JOIN tot
    ORDER BY bg.c DESC, bg.p, bg.q LIMIT 20
    """,
)
def lm_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM estimation, fully distributed —
    the smoothing every serious n-gram LM uses (Kneser & Ney 1995; Chen &
    Goodman 1999): absolute discount D=0.75 on observed bigrams, with the
    discounted mass re-allocated by CONTINUATION probability (how many
    distinct contexts a word completes, not how often it occurs — the
    'San Francisco' correction). Every ingredient is a count aggregate of
    the bigram-type table: c(p,q); per-context totals and distinct-
    successor counts; per-word distinct-predecessor counts; the bigram-
    type total. One explode + three map-combinable aggs + two equi-joins
    on the type table (vocabulary-sized — standard shuffle joins, no
    corpus reshuffle); emits the 20 most frequent bigrams' KN
    probabilities via TakeOrderedAndProject. Upgrade path from
    perplexity_bigram_backoff's pseudo-count interpolation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("w"))
    bg = (
        toks.filter(F.expr("size(w) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS p,"
                    " element_at(w, i + 1) AS q))"
                )
            ).alias("pq")
        )
        .groupBy("pq.p", "pq.q")
        .agg(F.count("*").alias("c"))
    )
    ctx = bg.groupBy("p").agg(
        F.sum("c").alias("c_p"), F.count("*").alias("n1p")
    )
    cont = bg.groupBy("q").agg(F.count("*").alias("n1q"))
    tot = bg.agg(F.count("*").alias("t"))
    j = (
        bg.join(ctx, "p")
        .join(cont, "q")
        .crossJoin(F.broadcast(tot))
    )
    p_kn = (
        F.greatest(F.col("c") - _KN_D, F.lit(0.0)) / F.col("c_p")
        + (_KN_D * F.col("n1p") / F.col("c_p"))
        * (F.col("n1q") * 1.0 / F.col("t"))
    )
    return (
        j.select("p", "q", "c", N.fround(p_kn, 9).alias("p_kn"))
        .orderBy(F.desc("c"), "p", "q")
        .limit(20)
    )


# --- inter-rater agreement of independent quality heuristics -----------------
# Label-QC closure for the quality family: quality_gate_matrix reports each
# heuristic's pass rate; this reports whether the heuristics AGREE (Fleiss'
# kappa, the k-rater generalization of Cohen's). Low kappa = the "quality"
# gates measure different things and a vote among them is noise; high kappa
# = redundant gates, safe to drop the expensive ones. The three raters are
# deterministic single-pass expressions, so the whole operator is one scan
# + one scalar aggregate (all integers until the final half-dozen double
# ops, which both engines execute in the same order).
@query(
    "quality_rater_agreement",
    oracle="""
    WITH r AS (
      SELECT CAST(length(text) >= 200 AS INT) AS r1,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) >= 40 AS INT) AS r2,
             CAST(contains(text, 'the') AS INT) AS r3
      FROM documents
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r1) AS BIGINT) AS c1,
             CAST(sum(r2) AS BIGINT) AS c2,
             CAST(sum(r3) AS BIGINT) AS c3,
             CAST(sum(r1 + r2 + r3) AS BIGINT) AS s1,
             CAST(sum((r1 + r2 + r3) * (r1 + r2 + r3)
                      + (3 - r1 - r2 - r3) * (3 - r1 - r2 - r3))
                  AS BIGINT) AS sq
      FROM r
    ),
    k AS (
      SELECT n, c1, c2, c3,
             (CAST(sq AS DOUBLE) - 3.0e0 * CAST(n AS DOUBLE))
               / (6.0e0 * CAST(n AS DOUBLE)) AS pbar,
             CAST(s1 AS DOUBLE) / (3.0e0 * CAST(n AS DOUBLE)) AS p1,
             CAST(3 * n - s1 AS DOUBLE)
               / (3.0e0 * CAST(n AS DOUBLE)) AS p0
      FROM g
    )
    SELECT n AS n_docs,
           CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE) AS rate_len,
           CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE) AS rate_tok,
           CAST(c3 AS DOUBLE) / CAST(n AS DOUBLE) AS rate_stop,
           pbar AS p_mean,
           p1 * p1 + p0 * p0 AS p_expected,
           CASE WHEN p1 * p1 + p0 * p0 = 1.0e0 THEN NULL
                ELSE (pbar - (p1 * p1 + p0 * p0))
                       / (1.0e0 - (p1 * p1 + p0 * p0))
           END AS fleiss_kappa
    FROM k
    """,
)
def quality_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across three independent quality raters (length >= 200
    chars; >= 40 whitespace tokens; stopword evidence — contains 'the',
    the natural-text function-word signal) over the corpus.

    With k = 3 raters and binary categories, item agreement is
    P_i = (s^2 + (3-s)^2 - 3) / 6 for s raters voting "good"; the operator
    aggregates N, sum(s) and sum(s^2 + (3-s)^2) as exact integers (one
    map-side-combined scalar aggregate — the only shuffle ships six
    numbers) and finishes with the identical double-precision op sequence
    in both engines:
        pbar  = (SQ - 3N) / 6N
        p_e   = p1^2 + p0^2,  p1 = S/3N, p0 = (3N - S)/3N
        kappa = (pbar - p_e) / (1 - p_e)
    kappa is NULL when p_e = 1 (unanimous raters leave it undefined; the
    identical CASE guard on both sides keeps engine parity — Spark's ANSI
    double division would otherwise error while DuckDB yields inf/nan)."""
    docs = load_table(spark, sf_dir, "documents")
    r = docs.select(
        F.expr("CAST(length(text) >= 200 AS INT) AS r1"),
        F.expr(
            "CAST(size(filter(split(text, ' '), w -> w != '')) >= 40"
            " AS INT) AS r2"
        ),
        F.expr("CAST(contains(text, 'the') AS INT) AS r3"),
    )
    g = r.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(r1) AS BIGINT) AS c1"),
        F.expr("CAST(sum(r2) AS BIGINT) AS c2"),
        F.expr("CAST(sum(r3) AS BIGINT) AS c3"),
        F.expr("CAST(sum(r1 + r2 + r3) AS BIGINT) AS s1"),
        F.expr(
            "CAST(sum((r1 + r2 + r3) * (r1 + r2 + r3)"
            " + (3 - r1 - r2 - r3) * (3 - r1 - r2 - r3)) AS BIGINT) AS sq"
        ),
    )
    k = g.select(
        "n",
        "c1",
        "c2",
        "c3",
        F.expr(
            "(CAST(sq AS DOUBLE) - 3.0D * CAST(n AS DOUBLE))"
            " / (6.0D * CAST(n AS DOUBLE)) AS pbar"
        ),
        F.expr("CAST(s1 AS DOUBLE) / (3.0D * CAST(n AS DOUBLE)) AS p1"),
        F.expr(
            "CAST(3 * n - s1 AS DOUBLE) / (3.0D * CAST(n AS DOUBLE)) AS p0"
        ),
    )
    return k.select(
        F.expr("n AS n_docs"),
        F.expr("CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE) AS rate_len"),
        F.expr("CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE) AS rate_tok"),
        F.expr("CAST(c3 AS DOUBLE) / CAST(n AS DOUBLE) AS rate_stop"),
        F.expr("pbar AS p_mean"),
        F.expr("p1 * p1 + p0 * p0 AS p_expected"),
        F.expr(
            "CASE WHEN p1 * p1 + p0 * p0 = 1.0D THEN NULL"
            " ELSE (pbar - (p1 * p1 + p0 * p0))"
            " / (1.0D - (p1 * p1 + p0 * p0)) END AS fleiss_kappa"
        ),
    )


# --- Krippendorff's alpha (nominal, variable ratings per unit) ---------------
# Fleiss (above) requires a FIXED rater count per item; real annotation
# tables don't have that — raters skip items, redundancy varies. Alpha is
# the standard reliability metric under missing ratings, and it needs only
# per-(unit, value) counts:
#   sum_{c!=k} o_ck = sum_u (m_u^2 - sum_c n_uc^2)/(m_u - 1)   [pairable units]
#   n_c = sum_u n_uc,  n = sum_u m_u
#   D_o = that sum / n,  D_e = (n^2 - sum_c n_c^2) / (n(n-1))
#   alpha = 1 - D_o/D_e      (Krippendorff 2004, nominal metric)
# Fixture mapping: units are user-days, "ratings" the event types within
# one — the same shape as an (item, label) annotation table.
@query(
    "quality_krippendorff_alpha",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type AS v,
             CAST(count(*) AS BIGINT) AS nuv
      FROM events GROUP BY user_id, CAST(ts AS DATE), event_type
    ),
    m AS (
      SELECT user_id, d, CAST(sum(nuv) AS BIGINT) AS mu,
             CAST(sum(nuv * nuv) AS BIGINT) AS s2
      FROM u GROUP BY user_id, d
    ),
    p AS (SELECT * FROM m WHERE mu >= 2),
    g AS (
      SELECT CAST(sum(CAST(CAST(round((CAST(mu * mu - s2 AS DOUBLE)
                                       / CAST(mu - 1 AS DOUBLE))
                                      * 1000000000) AS BIGINT)
                           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS do9,
             CAST(sum(mu) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_units
      FROM p
    ),
    nc AS (
      SELECT u.v, CAST(sum(u.nuv) AS BIGINT) AS c
      FROM u JOIN p ON u.user_id = p.user_id AND u.d = p.d
      GROUP BY u.v
    ),
    e AS (
      SELECT CAST(count(*) AS BIGINT) AS n_values,
             CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sc2
      FROM nc
    ),
    f AS (
      SELECT g.n_units, g.n, e.n_values,
             (CAST(g.do9 AS DOUBLE) / CAST(1000000000 AS DOUBLE))
               / CAST(g.n AS DOUBLE) AS d_o,
             CAST(CAST(g.n AS DECIMAL(38,0)) * g.n - e.sc2 AS DOUBLE)
               / (CAST(g.n AS DOUBLE) * CAST(g.n - 1 AS DOUBLE)) AS d_e
      FROM g, e
    )
    SELECT n_units, n AS n_ratings, n_values,
           round(d_o, 6) AS d_o, round(d_e, 6) AS d_e,
           CASE WHEN d_e = 0.0 THEN NULL
                ELSE round(1.0 - d_o / d_e, 6) END AS alpha
    FROM f
    """,
)
def quality_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) over the user-day x event-type
    "annotation" table — inter-rater reliability that, unlike Fleiss
    (quality_rater_agreement), tolerates a VARIABLE number of ratings per
    unit, which is what real labeling pipelines produce.

    Scale shape: two map-side-combined groupBys (unit x value, then unit),
    one equi-join of the value counts back to the pairable-unit set, and
    two scalar aggregates — shuffle ∝ distinct (unit, value), never raw
    events past the first combine. Exactness: the only per-unit division
    is quantized to 1e-9 and summed as DECIMAL(38,0) (order-free, no 2^63
    ceiling at any corpus size); everything else is exact integers until
    the final double ops both engines execute in the same order. alpha is
    NULL when D_e = 0 (single observed value leaves it undefined)."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.selectExpr("user_id", "CAST(ts AS DATE) AS d", "event_type AS v")
        .groupBy("user_id", "d", "v")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS nuv"))
    )
    m = u.groupBy("user_id", "d").agg(
        F.expr("CAST(sum(nuv) AS BIGINT) AS mu"),
        F.expr("CAST(sum(nuv * nuv) AS BIGINT) AS s2"),
    )
    p = m.filter("mu >= 2")
    g = p.agg(
        F.expr(
            "CAST(sum(CAST(CAST(round((CAST(mu * mu - s2 AS DOUBLE)"
            " / CAST(mu - 1 AS DOUBLE)) * 1000000000) AS BIGINT)"
            " AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS do9"
        ),
        F.expr("CAST(sum(mu) AS BIGINT) AS n"),
        F.expr("CAST(count(*) AS BIGINT) AS n_units"),
    )
    nc = (
        u.join(p.select("user_id", "d"), ["user_id", "d"])
        .groupBy("v")
        .agg(F.expr("CAST(sum(nuv) AS BIGINT) AS c"))
    )
    e = nc.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_values"),
        F.expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sc2"),
    )
    f = g.crossJoin(F.broadcast(e)).selectExpr(
        "n_units",
        "n",
        "n_values",
        "(CAST(do9 AS DOUBLE) / CAST(1000000000 AS DOUBLE))"
        " / CAST(n AS DOUBLE) AS d_o",
        "CAST(CAST(n AS DECIMAL(38,0)) * n - sc2 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS d_e",
    )
    return f.selectExpr(
        "n_units",
        "n AS n_ratings",
        "n_values",
        "round(d_o, 6) AS d_o",
        "round(d_e, 6) AS d_e",
        "CASE WHEN d_e = 0.0D THEN NULL"
        " ELSE round(1.0D - d_o / d_e, 6) END AS alpha",
    )


# --- no-split bin packing: next-fit arrival vs next-fit-decreasing -----------
# pack_context_windows measures the concatenate-then-CUT packer (documents
# may straddle context boundaries). The no-split packer is its loss-mask-
# friendly sibling: every document stays whole, a context closes when the
# next document doesn't fit — the packing a streaming tokenizer actually
# performs. Bin count then DEPENDS ON ORDER, so the operator reports the
# arrival-order walk against the size-sorted (next-fit-decreasing) walk:
# the utilization gap is the training-cost lever sequence-packing papers
# optimize. The walk is inherently sequential per source (state =
# remaining capacity), so Spark runs it as a source-partitioned
# applyInPandas pass — parallel ACROSS sources, sequential within, which
# is exactly how a sharded packer runs at 100 TB.
_NF_BUDGET = 128


def _nf_walk_sql(order_by: str, name: str) -> str:
    """Recursive-CTE next-fit walk over `ordered_{name}` (idx per source)."""
    return f"""
    ordered_{name} AS (
      SELECT source, n_tok,
             row_number() OVER (PARTITION BY source ORDER BY {order_by})
               AS idx
      FROM fit
    ),
    walk_{name} AS (
      SELECT source, idx, 1 AS bins, {_NF_BUDGET} - n_tok AS rem
      FROM ordered_{name} WHERE idx = 1
      UNION ALL
      SELECT o.source, o.idx,
             CASE WHEN o.n_tok <= w.rem THEN w.bins ELSE w.bins + 1 END,
             CASE WHEN o.n_tok <= w.rem THEN w.rem - o.n_tok
                  ELSE {_NF_BUDGET} - o.n_tok END
      FROM walk_{name} w
      JOIN ordered_{name} o ON o.source = w.source AND o.idx = w.idx + 1
    ),
    bins_{name} AS (
      SELECT source, max(bins) AS bins FROM walk_{name} GROUP BY source
    )"""


@query(
    "pack_bins_nextfit",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    fit AS (SELECT * FROM t WHERE n_tok <= {_NF_BUDGET}),
    {_nf_walk_sql('doc_id', 'arr')},
    {_nf_walk_sql('n_tok DESC, doc_id', 'srt')},
    base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CAST(n_tok > {_NF_BUDGET} AS INT)) AS BIGINT)
               AS n_oversize,
             CAST(sum(CASE WHEN n_tok <= {_NF_BUDGET} THEN n_tok ELSE 0 END)
                  AS BIGINT) AS sum_tok
      FROM t GROUP BY source
    )
    SELECT b.source, b.n_docs, b.n_oversize, b.sum_tok,
           CAST(a.bins AS BIGINT) AS bins_arrival,
           CAST(s.bins AS BIGINT) AS bins_sorted,
           CAST(b.sum_tok * 1000000 // (a.bins * {_NF_BUDGET}) AS BIGINT)
             AS util_ppm_arrival,
           CAST(b.sum_tok * 1000000 // (s.bins * {_NF_BUDGET}) AS BIGINT)
             AS util_ppm_sorted
    FROM base b
    JOIN bins_arr a ON b.source = a.source
    JOIN bins_srt s ON b.source = s.source
    """,
)
def pack_bins_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split context packing efficiency: per source shard, walk the
    documents in arrival order and in size-sorted order with a next-fit
    packer (budget {_NF_BUDGET} tokens, documents never split, a context
    closes when the next document doesn't fit; documents over budget are
    skipped and counted). Reports bins and utilization for both walks
    — the ORDER-SENSITIVITY audit of streaming packing. (For pure
    next-fit, size-sorting can pack WORSE than arrival order — large-first
    leaves mid-size remainders no later document fills; the fixture shows
    exactly that — which is why packers that reorder also keep multiple
    open bins. The audit quantifies the gap either way.)

    Scale shape: one scan projects (source, n_tok); the walk itself is
    inherently sequential (remaining-capacity state), so it runs as ONE
    applyInPandas pass partitioned by source — parallel across shards,
    O(shard) within, ~20 summary rows out. The oracle replays both walks
    as recursive CTEs — independent implementations of the same
    recursion."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf["source"].iloc[0]
        fit = pdf[pdf["n_tok"] <= _NF_BUDGET]

        def walk(frame: pd.DataFrame) -> int:
            bins, rem = 0, -1
            for n in frame["n_tok"]:
                n = int(n)
                if n <= rem:
                    rem -= n
                else:
                    bins += 1
                    rem = _NF_BUDGET - n
            return bins

        bins_arr = walk(fit.sort_values("doc_id"))
        bins_srt = walk(
            fit.sort_values(["n_tok", "doc_id"], ascending=[False, True])
        )
        sum_tok = int(fit["n_tok"].sum())
        return pd.DataFrame(
            {
                "source": [src],
                "n_docs": [len(pdf)],
                "n_oversize": [int((pdf["n_tok"] > _NF_BUDGET).sum())],
                "sum_tok": [sum_tok],
                "bins_arrival": [bins_arr],
                "bins_sorted": [bins_srt],
                "util_ppm_arrival": [
                    sum_tok * 1_000_000 // (bins_arr * _NF_BUDGET)
                ],
                "util_ppm_sorted": [
                    sum_tok * 1_000_000 // (bins_srt * _NF_BUDGET)
                ],
            }
        )

    schema = (
        "source string, n_docs bigint, n_oversize bigint, sum_tok bigint,"
        " bins_arrival bigint, bins_sorted bigint,"
        " util_ppm_arrival bigint, util_ppm_sorted bigint"
    )
    return docs.groupBy("source").applyInPandas(pack, schema)
