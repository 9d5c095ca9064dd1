"""Text-analysis operators over `documents` (north-star extension; SURVEY.md
§7 Phase E): token counting, quality scoring, language-ID heuristic, document
fingerprinting.

All pure Catalyst expressions over the tokenized array — no Python UDFs.
Tokenization = single-space split (the fixture corpus is space-normalized;
the library tokenizer in operators/text.py handles regex splitting).

Scale: per-row projections + one optional agg — shuffle-free except explicit
group-bys; this is the shape that survives 100 TB (token ops stay inside
whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..functions import text as T
from ..registry import query
from ..sources import load_table

_STOPWORDS = ("the", "a")
_STOP_SQL = "('the', 'a')"


# --- token counting (north star: token-count pipeline op) -------------------
@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_text,
           n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_text"),
        "n_chars",
    )


# --- quality scoring (length / stopword-ratio heuristics) -------------------
@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             CAST(length(text) AS DOUBLE) AS n_chars
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_chars,
             CAST(len(toks) AS DOUBLE) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE) AS n_stop
      FROM t
    )
    SELECT doc_id,
           round(n_stop / n_tokens, 6) AS stopword_ratio,
           round(n_chars / n_tokens, 6) AS avg_token_len,
           round(least(n_tokens / 50.0, 1.0) * 0.5
                 + (1.0 - n_stop / n_tokens) * 0.5, 6) AS quality
    FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length + stopword-ratio quality heuristic (the C4/Gopher-style rule
    family, reduced to the fixture's feature set)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    t = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
        .cast("double")
        .alias("n_stop"),
        F.length("text").cast("double").alias("n_chars"),
    )
    return t.select(
        "doc_id",
        N.fround(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        N.fround(F.col("n_chars") / F.col("n_tokens"), 6).alias("avg_token_len"),
        N.fround(
            F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.5
            + (1.0 - F.col("n_stop") / F.col("n_tokens")) * 0.5,
            6,
        ).alias("quality"),
    )


# --- language-ID n-gram/stopword heuristic ----------------------------------
@query(
    "text_lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN {_STOP_SQL})) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS en_score
      FROM documents
    )
    SELECT doc_id, lang, round(en_score, 6) AS en_score,
           CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS guess
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language scorer (the n-gram-profile method degenerates
    to function-word density on a space-tokenized corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    en_score = F.size(
        F.filter(toks, lambda x: F.array_contains(stop_arr, x))
    ).cast("double") / F.size(toks).cast("double")
    s = docs.select("doc_id", "lang", en_score.alias("en_score"))
    return s.select(
        "doc_id",
        "lang",
        N.fround(F.col("en_score"), 6).alias("en_score"),
        F.when(F.col("en_score") >= 0.05, "en").otherwise("other").alias("guess"),
    )


# --- rolling-hash document fingerprint --------------------------------------
_P = 1000000007


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))),
             (a, b) -> (a * 31 + b) % {_P}) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream — a
    content-defined fingerprint (equal iff token sequences equal, mod
    collisions). Pure `aggregate` fold, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    token_codes = F.transform(
        F.split("text", " "),
        lambda t: (F.ascii(t) * 131 + F.length(t)).cast("long"),
    )
    fp = F.aggregate(
        token_codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % _P,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# --- TF-IDF top terms per document ------------------------------------------
@query(
    "text_tfidf_topterms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term,
             len(string_split(text, ' ')) AS doc_len
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, any_value(doc_len) AS doc_len, count(*) AS tf_count
      FROM tok GROUP BY doc_id, term
    ),
    docfreq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf_count, d.doc_freq,
             (CAST(tf.tf_count AS DOUBLE) / tf.doc_len)
               * ln(CAST(n.n_docs AS DOUBLE) / d.doc_freq) AS w
      FROM tf JOIN docfreq d ON tf.term = d.term CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf_count, doc_freq, round(w, 6) AS tfidf
    FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tf = term count / doc length,
    idf = ln(N / df). Both shuffles are key-partitioned (term for df, doc
    for the rank window) — no global anything; df of a hot term is a
    1-row-per-term aggregate, never a fanout.

    Float note: ln is the one non-IEEE-portable op in the repo's oracle
    surface (JVM vs DuckDB libm differ by 1 ulp on ~9%% of inputs —
    measured); after round(·, 6) a flip needs the true value within 1e-16
    of a rounding boundary (p ≈ 1e-9 per value), which we accept. Ranking
    ties are broken by term, so equal-(tf, df) terms order identically in
    both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    tok = docs.select(
        "doc_id", F.size(toks).alias("doc_len"), F.explode(toks).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.any_value("doc_len").alias("doc_len"), F.count("*").alias("tf_count")
    )
    docfreq = tok.groupBy("term").agg(
        F.count_distinct("doc_id").alias("doc_freq")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf_count",
            "doc_freq",
            (
                (F.col("tf_count").cast("double") / F.col("doc_len"))
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq"))
            ).alias("w"),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf_count", "doc_freq", N.fround(F.col("w"), 6).alias("tfidf"))
    )


# --- bigram collocations by PMI ratio ---------------------------------------
@query(
    "text_bigram_pmi",
    oracle="""
    WITH d AS (
      SELECT string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM d, UNNEST(range(1, len(t))) AS r(i)
    ),
    bc AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY w1, w2),
    uni AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    uc AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
    n AS (SELECT count(*) AS n_total FROM uni)
    SELECT bc.w1, bc.w2, c_xy, u1.c_w AS c_x, u2.c_w AS c_y,
           CAST(c_xy * n_total AS DOUBLE)
             / CAST(u1.c_w * u2.c_w AS DOUBLE) AS pmi_ratio
    FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w, n
    ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations ranked by the PMI *ratio*
    N·c(xy) / (c(x)·c(y)) — monotone in PMI without taking a log, so the
    score is one IEEE division of exactly-representable bigint products:
    bit-identical across engines with no rounding convention (products are
    exact to ~3e9 total tokens; past that, widen to the hi/lo split in
    functions/numeric.py). Bigrams come from a higher-order `transform`
    over the token array (no window, no per-doc shuffle); ties are broken
    by (w1, w2). Corpus: the synthetic `documents` fixture."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    big = (
        docs.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    uni = docs.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c_w"))
    n = uni.groupBy().agg(F.count("*").alias("n_total"))
    return (
        bc.join(uc.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_x"), "w1")
        .join(uc.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_y"), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy") * F.col("n_total")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "w1", "w2")
        .limit(20)
    )


# --- BPE merge training (north star: tokenizer training over the corpus) ----
_BPE_VOCAB = 4096  # word-frequency table truncation (standard BPE practice)
_BPE_ROUNDS = 5


def _bpe_oracle() -> str:
    """The same greedy BPE rounds as static SQL: each stage extracts
    adjacent symbol pairs, takes the (freq-weighted) top pair with a
    (count desc, left, right) total order, and folds the merge through
    list_reduce — the identical accumulator fold the Spark side runs."""
    parts = [
        f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    vocab AS (
      SELECT word, count(*) AS freq FROM tok WHERE word <> ''
      GROUP BY word ORDER BY count(*) DESC, word LIMIT {_BPE_VOCAB}
    ),
    state0 AS (
      SELECT word, freq,
             list_concat(regexp_split_to_array(word, ''), ['</w>']) AS syms
      FROM vocab
    )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
    pairs{r} AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, freq
      FROM state{r - 1}, unnest(generate_series(1, len(syms) - 1)) AS t(i)
    ),
    top{r} AS (
      SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM pairs{r} GROUP BY a, b
      ORDER BY cnt DESC, a, b LIMIT 1
    )"""
        )
        if r < _BPE_ROUNDS:
            parts.append(
                f""",
    state{r} AS (
      SELECT word, freq,
             list_reduce(
               list_transform(syms, s -> [s]),
               (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
                                THEN list_concat(
                                       list_slice(acc, 1, len(acc) - 1),
                                       [t.a || t.b])
                                ELSE list_concat(acc, x) END) AS syms
      FROM state{r - 1}, top{r} t
    )"""
            )
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym, cnt AS pair_count FROM top{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    parts.append(f"\n    {unions}")
    return "".join(parts)


def _bpe_train_rules(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """BPE merge training over the corpus: ONE distributed job builds the
    truncated word-frequency state (scan + explode + groupBy + top-{vocab}
    — the only corpus-scale stage, map-side combined, and the standard BPE
    truncation that bounds trainer state at ANY corpus size), then the
    {rounds} merge rounds run on the collected ≤{vocab}-row state on the
    driver. The merge recursion is inherently sequential — rule r+1's pair
    counts exist only after rule r rewrites the symbols — so keeping the
    rounds in Spark bought no parallelism and paid a fresh whole-stage
    codegen + job per round (~0.3 s each on a ≤{vocab}-row table; the 8.7x
    bench outlier of VERDICT r5 #2). Production BPE trainers train on
    exactly this collected word-count table; per-round work here is
    O({vocab} x word length) Python over a constant-size list,
    corpus-independent. Symbols are initialised by the same Spark split
    expression the apply path folds over, so engine-split semantics stay
    identical. Returns [(round, left_sym, right_sym, pair_count)] with the
    oracle's total order (count DESC, then lexicographic pair).
    """.format(rounds=_BPE_ROUNDS, vocab=_BPE_VOCAB)
    # One SQL statement (not a py4j column chain): the trainer rebuilds its
    # plan on every invocation, and for this sub-second job the per-call
    # py4j round-trips + analysis were a third of the wall time. The text
    # expressions are byte-identical to the apply path's fold inputs.
    rows = spark.sql(
        f"""
        SELECT freq,
               concat(filter(split(word, '(?!^)'), x -> x != ''),
                      array('</w>')) AS syms
        FROM (
          SELECT word, count(*) AS freq
          FROM (SELECT explode(split(text, ' ')) AS word
                FROM parquet.`{sf_dir}/documents.parquet`)
          WHERE word != ''
          GROUP BY word
          ORDER BY freq DESC, word
          LIMIT {_BPE_VOCAB}
        )"""
    ).collect()
    state = [(int(r["freq"]), list(r["syms"])) for r in rows]
    rules: list[tuple[int, str, str, int]] = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        counts: dict[tuple[str, str], int] = {}
        for freq, syms in state:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + freq
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((rnd, a, b, cnt))
        if rnd < _BPE_ROUNDS:
            # greedy left-to-right non-overlapping merge — the same fold
            # the apply path runs as a Spark aggregate() expression
            nxt = []
            for freq, syms in state:
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                nxt.append((freq, out))
            state = nxt
    return rules


@query("tokenizer_bpe_merges", oracle=_bpe_oracle())
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training — the first {rounds} merge rules learned from
    the corpus, exactly as a tokenizer trainer derives them: distributed
    word-frequency table truncated to the top {vocab} words, symbols
    initialised to characters + '</w>', then per round (1) adjacent-pair
    counts weighted by word frequency, (2) argmax pair under a total
    order, (3) a greedy left-to-right merge applied to every word's
    symbol list. The corpus-scale word count is one distributed
    aggregation; the sequential merge rounds run driver-side on the
    collected constant-size state (see _bpe_train_rules for the scale
    argument). Output: (round, left_sym, right_sym, pair_count) —
    hash-checked against a 5-stage DuckDB oracle running the identical
    fold end to end in SQL.
    """.format(rounds=_BPE_ROUNDS, vocab=_BPE_VOCAB)

    def lit(s: str) -> str:
        # Spark SQL string literal (backslash escapes are on by default)
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    # VALUES literal, not createDataFrame: the latter ships Python rows as
    # an RDD-backed plan whose first action costs ~0.25 s; a LocalRelation
    # is free.
    values = ", ".join(
        f"({r}, {lit(a)}, {lit(b)}, CAST({cnt} AS BIGINT))"
        for r, a, b, cnt in _bpe_train_rules(spark, sf_dir)
    )
    return spark.sql(
        "SELECT round, left_sym, right_sym, pair_count FROM VALUES "
        f"{values} AS t(round, left_sym, right_sym, pair_count)"
    )


def _bpe_apply_oracle() -> str:
    """Training stages (same as _bpe_oracle) + application: the learned
    merges fold over every distinct (source, word), then token counts
    roll up weighted by occurrence count."""
    head = _bpe_oracle().rsplit("SELECT 1 AS round", 1)[0]
    # head ends after top5's CTE; drop the final UNION SELECT block
    head = head.rstrip().rstrip(",")
    folds = []
    prev = "w0"
    for r in range(1, _BPE_ROUNDS + 1):
        folds.append(
            f""",
    w{r} AS (
      SELECT source, word, {prev}.cnt AS cnt,
             list_reduce(
               list_transform(syms, s -> [s]),
               (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
                                THEN list_concat(
                                       list_slice(acc, 1, len(acc) - 1),
                                       [t.a || t.b])
                                ELSE list_concat(acc, x) END) AS syms
      FROM {prev}, top{r} t
    )"""
        )
        prev = f"w{r}"
    return (
        head
        + """,
    wsrc AS (
      SELECT source, word, count(*) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY source, word
    ),
    w0 AS (
      SELECT source, word, cnt,
             list_concat(regexp_split_to_array(word, ''), ['</w>']) AS syms
      FROM wsrc
    )"""
        + "".join(folds)
        + f"""
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * (length(word) + 1)) AS BIGINT) AS n_char_tokens,
           CAST(sum(cnt * len(syms)) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(cnt * len(syms)) AS DOUBLE)
                 / sum(cnt * (length(word) + 1)), 6) AS compression
    FROM w{_BPE_ROUNDS} GROUP BY source
    """
    )


@query("tokenizer_bpe_apply", oracle=_bpe_apply_oracle())
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the WHOLE corpus and measure the
    per-source token compression — the end-to-end tokenizer loop (train
    on the word table, tokenize every occurrence, budget the token
    counts) a training-data pipeline runs to cost a mixture. Application
    folds the {r} learned merges over each distinct (source, word) — the
    distinct-word table, not the raw occurrences, carries the fold, and
    occurrence counts re-weight the rollup (at 100 TB the distinct-word
    table is orders of magnitude smaller than the corpus). Output per
    source: word count, char-level token count, BPE token count, and the
    compression ratio.""".format(r=_BPE_ROUNDS)
    docs = load_table(spark, sf_dir, "documents")
    # training: one distributed vocab build + driver-side merge rounds
    # (shared with tokenizer_bpe_merges)
    merges = [(a, b) for _, a, b, _ in _bpe_train_rules(spark, sf_dir)]
    chars = F.filter(F.split("word", "(?!^)"), lambda x: x != "")

    def _merge_fold(a: str, b: str):
        return lambda col: F.aggregate(
            col,
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )

    # application: fold all merges over the per-source distinct-word table
    wsrc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    syms_col = F.concat(chars, F.array(F.lit("</w>")))
    for a, b in merges:
        syms_col = _merge_fold(a, b)(syms_col)
    toks = wsrc.select(
        "source",
        "cnt",
        (F.length("word") + 1).alias("n_char"),
        F.size(syms_col).alias("n_tok"),
    )
    return toks.groupBy("source").agg(
        F.sum("cnt").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_char")).alias("n_char_tokens"),
        F.sum(F.col("cnt") * F.col("n_tok")).alias("n_bpe_tokens"),
        F.round(
            F.sum(F.col("cnt") * F.col("n_tok")).cast("double")
            / F.sum(F.col("cnt") * F.col("n_char")),
            6,
        ).alias("compression"),
    )


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                            x -> x IN {_STOP_SQL})) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
                  THEN 'en' ELSE 'other' END AS guess
      FROM documents
    )
    SELECT lang, guess, count(*) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY lang), 6) AS frac_of_lang
    FROM s GROUP BY lang, guess
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion table for the language-ID heuristic against the labeled
    lang column — the calibration check run before trusting a cheap
    classifier to gate a 100 TB corpus (how much non-English survives an
    'en' gate, how much English it drops). One scan + one aggregate; the
    per-lang row normalization is a window over the tiny confusion
    table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    en_score = F.size(
        F.filter(toks, lambda x: F.array_contains(stop_arr, x))
    ).cast("double") / F.size(toks).cast("double")
    s = docs.select(
        "lang",
        F.when(en_score >= 0.05, "en").otherwise("other").alias("guess"),
    )
    counts = s.groupBy("lang", "guess").agg(F.count("*").alias("n"))
    from pyspark.sql import Window as W

    tot = F.sum("n").over(W.partitionBy("lang"))
    return counts.select(
        "lang",
        "guess",
        "n",
        F.round(F.col("n").cast("double") / tot, 6).alias("frac_of_lang"),
    )


@query(
    "text_char_trigram_profile",
    oracle="""
    WITH tri AS (
      SELECT lang, substring(text, i, 3) AS tg
      FROM documents,
           unnest(generate_series(1, greatest(length(text) - 2, 0))) AS t(i)
    ),
    counts AS (
      SELECT lang, tg, count(*) AS n FROM tri GROUP BY lang, tg
    ),
    ranked AS (
      SELECT lang, tg, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg) AS rn
      FROM counts
    )
    SELECT lang, tg, n, rn FROM ranked WHERE rn <= 5
    """,
)
def text_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram profile (top 5) — the statistic
    real language-ID models are trained on (the stopword heuristic in
    text_lang_id is its degenerate cousin). The trigram enumeration is a
    guarded sequence-explode (empty for texts under 3 chars — the
    descending-default F.sequence trap again); the count table is bounded
    by |charset|³ per language, so the rank window's input is
    domain-bounded, never corpus-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    tri = docs.select(
        "lang",
        F.explode(
            F.when(
                F.length("text") >= 3,
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("tg"),
    )
    counts = tri.groupBy("lang", "tg").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "tg")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


# --- per-document n-gram novelty profile ------------------------------------
_NOV_N = 8


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i : i + {_NOV_N - 1}], ' ') AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(generate_series(1, greatest(len(toks) - {_NOV_N - 1}, 0)))
             AS t(i)
    ),
    firsts AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS novel_frac
    FROM grams JOIN firsts USING (g)
    GROUP BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty profile: the fraction of a doc's distinct
    {N}-grams whose FIRST corpus occurrence (min doc_id) is the doc itself
    — the ingest-order novelty signal used to rank crawl snapshots by new
    content (low novelty ⇒ the doc mostly restates earlier text). ONE
    gram-keyed shuffle (gram → first-occurrence agg, map-side combined);
    the old gram-keyed join back to re-count each doc's grams shuffled the
    fact-scale n-gram STRINGS a second time for values derivable without
    it — n_grams is size(array_distinct(...)) per row (no shuffle) and
    n_novel is the firsts table rolled up by its min-doc, so the join is
    now two doc-keyed rollups of integer rows (optimization r07, guide
    §2.3: shuffle fewer bytes; 4.4s → ~1.9s at sf0.1). Docs shorter than
    {N} words contribute no grams and drop out (same in the oracle via
    greatest(len-{N_1}, 0))."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    gram_arr = F.array_distinct(T.ngrams("toks", _NOV_N))
    # materialize (doc_id, gram array) once: it feeds two differently-keyed
    # branches, which Spark would otherwise recompute per branch (exchange
    # reuse only shares shuffle outputs); measured build+collect at sf0.1
    # on 3 cores: 1.6 s with the checkpoint, 7.6 s without
    base = docs.select("doc_id", gram_arr.alias("arr")).localCheckpoint()
    grams = base.select("doc_id", F.explode("arr").alias("g"))
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel_per_doc = firsts.groupBy(
        F.col("first_doc").alias("doc_id")
    ).agg(F.count("*").alias("n_novel"))
    per_doc = base.select(
        "doc_id", F.size("arr").cast("bigint").alias("n_grams")
    ).filter("n_grams > 0")
    return (
        per_doc.join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                "n_novel"
            ),
            (
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_grams")
            ).alias("novel_frac"),
        )
    )


# --- per-source lexical diversity audit --------------------------------------
@query(
    "text_lexical_diversity",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    per_word AS (
      SELECT source, word, count(*) AS c, sum(len(word)) AS chars
      FROM w GROUP BY source, word
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
           CAST(sum(CAST(c = 1 AS BIGINT)) * 1000000 // count(*) AS BIGINT)
             AS hapax_ppm,
           CAST(sum(chars) * 100 // sum(c) AS BIGINT) AS avg_word_len_c
    FROM per_word GROUP BY source
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus lexical-diversity audit per source: type-token ratio, hapax
    (frequency-1) share, and mean word length — the vocabulary-health
    gates a data pipeline runs next to the Gopher quality gates (a
    machine-generated or template-heavy source shows an anomalously low
    TTR and hapax rate).

    Scale shape: one explode to words, one (source, word) partial-agg
    (map-side combined — the only shuffle carries distinct words per
    source), one rollup. All ratios integer-ppm / centi-chars, bit-stable
    with zero float conventions."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    per_word = w.groupBy("source", "word").agg(
        F.expr("count(*) AS c"), F.expr("sum(length(word)) AS chars")
    )
    return per_word.groupBy("source").agg(
        F.expr("CAST(sum(c) AS BIGINT) AS n_tokens"),
        F.expr("count(*) AS n_types"),
        F.expr("CAST(count(*) * 1000000 div sum(c) AS BIGINT) AS ttr_ppm"),
        F.expr(
            "CAST(sum(CAST(c = 1 AS BIGINT)) * 1000000 div count(*) AS BIGINT)"
            " AS hapax_ppm"
        ),
        F.expr("CAST(sum(chars) * 100 div sum(c) AS BIGINT) AS avg_word_len_c"),
    )


# --- Zipf-law fit of the word-frequency distribution -------------------------
@query(
    "text_zipf_fit",
    oracle="""
    WITH wc AS (
      SELECT word, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      GROUP BY word
    ),
    rk AS (
      SELECT f,
             rank() OVER (ORDER BY f DESC)
               + (count(*) OVER (PARTITION BY f) - 1) / 2.0 AS r_avg
      FROM wc
    ),
    pt AS (
      SELECT CAST(round(ln(r_avg) * 100000000) AS BIGINT) AS lxi,
             CAST(round(ln(CAST(f AS DOUBLE)) * 100000000) AS BIGINT) AS lyi
      FROM rk
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(lxi AS DECIMAL(38,0))) AS DOUBLE) / 1e8 AS sx,
             CAST(sum(CAST(lyi AS DECIMAL(38,0))) AS DOUBLE) / 1e8 AS sy,
             CAST(sum(CAST(lxi AS DECIMAL(38,0)) * lxi) AS DOUBLE) / 1e16
               AS sxx,
             CAST(sum(CAST(lxi AS DECIMAL(38,0)) * lyi) AS DOUBLE) / 1e16
               AS sxy
      FROM pt
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: OLS slope of ln(frequency) on ln(rank) over the
    word-frequency distribution (natural corpora fit slope ≈ −1; a
    template-generated or deduplicated-to-death corpus bends away — the
    single-number companion to text_lexical_diversity).

    Distribution: word counts are one map-side-combined shuffle; the
    DESCENDING tie-averaged ranks come from the bucketed mean_ranks
    operator on the distinct-frequency table (rank_desc = n_types + 1 −
    rank_asc; half-integers, exact), so no global sort ever runs. Both
    logs round at 8dp and sum through decimals (the repo's ln
    convention); the closed-form OLS is one shared arithmetic tree."""
    from ..operators.rank_ops import mean_ranks

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS f"))
    )
    # distinct-frequency compression: ranks depend only on f
    r = mean_ranks(wc, "f")  # (f, cnt, r_avg) ascending tie-avg ranks
    nt = r.agg(F.expr("CAST(sum(cnt) AS BIGINT) AS n_types"))
    pt = r.crossJoin(F.broadcast(nt)).selectExpr(
        "cnt",
        f"{N.spark_fround_int('ln(n_types + 1 - r_avg) * 100000000')} AS lxi",
        f"{N.spark_fround_int('ln(CAST(f AS DOUBLE)) * 100000000')} AS lyi",
    )
    s = pt.agg(
        F.expr("CAST(sum(cnt) AS DOUBLE) AS n"),
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0)) * lxi) AS DOUBLE) / 1e8 AS sx"
        ),
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0)) * lyi) AS DOUBLE) / 1e8 AS sy"
        ),
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0)) * lxi * lxi) AS DOUBLE)"
            " / 1e16 AS sxx"
        ),
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0)) * lxi * lyi) AS DOUBLE)"
            " / 1e16 AS sxy"
        ),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_types",
        "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope",
        "round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)"
        " AS intercept",
    )


# --- Heaps'-law vocabulary growth curve --------------------------------------
@query(
    "vocab_growth_curve",
    oracle="""
    WITH b AS (SELECT max(doc_id) + 1 AS nd FROM documents),
    w AS (
      SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS word
      FROM documents d
    )
    SELECT k.k AS checkpoint_eighths,
           CAST(sum(CAST(w.doc_id * 8 < b.nd * k.k AS INT)) AS BIGINT)
             AS n_tokens,
           CAST(count(DISTINCT CASE WHEN w.doc_id * 8 < b.nd * k.k
                                    THEN w.word END) AS BIGINT) AS n_types
    FROM w CROSS JOIN b
    CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS k) k
    GROUP BY k.k
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: token and type counts at nested
    corpus prefixes (1/8, 1/4, 1/2, all of the documents by doc_id) — a
    flattening curve says new data stops contributing vocabulary (the
    marginal-value-of-data diagnostic next to text_zipf_fit).

    One scan: the checkpoint dimension broadcasts and each checkpoint is
    a conditional COUNT(DISTINCT CASE ...) — Spark plans the distinct
    aggregates through Expand (one shuffle keyed on (checkpoint, word)),
    never four scans. All-integer output."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(F.expr("max(doc_id) + 1 AS nd"))
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    ks = spark.range(4).selectExpr("CAST(pow(2, id) AS INT) AS k")
    return (
        w.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").alias("checkpoint_eighths"))
        .agg(
            F.expr("CAST(sum(CAST(doc_id * 8 < nd * k AS INT)) AS BIGINT) AS n_tokens"),
            F.expr(
                "CAST(count(DISTINCT CASE WHEN doc_id * 8 < nd * k"
                " THEN word END) AS BIGINT) AS n_types"
            ),
        )
    )


# --- Jensen-Shannon divergence of each source vs the corpus ------------------
@query(
    "text_js_divergence",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    sc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
           FROM w GROUP BY source, word),
    gc AS (SELECT word, CAST(sum(c) AS BIGINT) AS q FROM sc GROUP BY word),
    tp AS (SELECT source, CAST(sum(c) AS BIGINT) AS tp FROM sc
           GROUP BY source),
    tq AS (SELECT CAST(sum(q) AS BIGINT) AS tq FROM gc),
    terms AS (
      SELECT s.source, s.c, g.q,
             CAST(round(ln(2.0 * (CAST(s.c AS DOUBLE) / t.tp)
                           / (CAST(s.c AS DOUBLE) / t.tp
                              + CAST(g.q AS DOUBLE) / tq.tq)) * 100000000)
                  AS BIGINT) AS lp,
             CAST(round(ln(2.0 * (CAST(g.q AS DOUBLE) / tq.tq)
                           / (CAST(s.c AS DOUBLE) / t.tp
                              + CAST(g.q AS DOUBLE) / tq.tq)) * 100000000)
                  AS BIGINT) AS lq
      FROM sc s
      JOIN gc g ON s.word = g.word
      JOIN tp t ON s.source = t.source
      CROSS JOIN tq
    ),
    agg AS (
      SELECT source,
             CAST(sum(CAST(c AS DECIMAL(38,0)) * lp) AS DOUBLE) AS s1,
             CAST(sum(CAST(q AS DECIMAL(38,0)) * lq) AS DOUBLE) AS s2,
             CAST(sum(q) AS BIGINT) AS qs
      FROM terms GROUP BY source
    )
    SELECT a.source,
           round(0.5 * a.s1 / (t.tp * 1e8)
                 + 0.5 * (a.s2 + CAST(round(ln(2.0) * 100000000) AS BIGINT)
                               * CAST(tq.tq - a.qs AS DOUBLE))
                   / (tq.tq * 1e8), 6) AS js_nats
    FROM agg a JOIN tp t ON a.source = t.source CROSS JOIN tq
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the whole corpus — the bounded symmetric drift score (0 =
    identical, ln 2 = disjoint) that ranks which ingest feeds changed the
    corpus most (drift_psi's information-theoretic sibling for text).

    Absent-word terms need no cross join: p=0 contributes nothing to the
    p-side and exactly q·ln2 to the q-side, so the q-mass OUTSIDE the
    source's vocabulary (tq − qs) carries one closed-form correction.
    Exactness: each per-word log ratio rounds to an exact 1e-8 integer
    unit (the zipf convention), count-weighted sums run in DECIMAL(38,0),
    and the final combination is one shared double tree. Shapes: two
    map-side word-count aggregates; global counts join per-source rows
    by word (equi-join); everything after is |sources|-sized."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    sc = w.groupBy("source", "word").agg(
        F.expr("CAST(count(*) AS BIGINT) AS c")
    )
    gc = sc.groupBy("word").agg(F.expr("CAST(sum(c) AS BIGINT) AS q"))
    tp = sc.groupBy("source").agg(F.expr("CAST(sum(c) AS BIGINT) AS tp"))
    tq = gc.agg(F.expr("CAST(sum(q) AS BIGINT) AS tq"))
    terms = (
        sc.join(gc, "word")
        .join(F.broadcast(tp), "source")
        .crossJoin(F.broadcast(tq))
        .selectExpr(
            "source",
            "c",
            "q",
            N.spark_fround_int(
                "ln(2.0D * (CAST(c AS DOUBLE) / tp)"
                " / (CAST(c AS DOUBLE) / tp + CAST(q AS DOUBLE) / tq))"
                " * 100000000"
            ) + " AS lp",
            N.spark_fround_int(
                "ln(2.0D * (CAST(q AS DOUBLE) / tq)"
                " / (CAST(c AS DOUBLE) / tp + CAST(q AS DOUBLE) / tq))"
                " * 100000000"
            ) + " AS lq",
        )
    )
    agg = terms.groupBy("source").agg(
        F.expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * lp) AS DOUBLE) AS s1"),
        F.expr("CAST(sum(CAST(q AS DECIMAL(38,0)) * lq) AS DOUBLE) AS s2"),
        F.expr("CAST(sum(q) AS BIGINT) AS qs"),
    )
    return (
        agg.join(F.broadcast(tp), "source")
        .crossJoin(F.broadcast(tq))
        .selectExpr(
            "source",
            "round(0.5D * s1 / (tp * 1e8)"
            " + 0.5D * (s2 + CAST(round(ln(2.0D) * 100000000, 0) AS BIGINT)"
            " * CAST(tq - qs AS DOUBLE)) / (tq * 1e8), 6) AS js_nats",
        )
    )


# --- template-prefix duplication rate ----------------------------------------
_PFX_W = 5


@query(
    "text_template_prefix_rate",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, source,
             concat_ws(' ', list_slice(string_split(text, ' '), 1, {_PFX_W}))
               AS pfx
      FROM documents
    ),
    w AS (SELECT pfx, min(doc_id) AS first_doc FROM p GROUP BY pfx)
    SELECT p.source,
           count(*) AS n_docs,
           CAST(sum(CAST(p.doc_id <> w.first_doc AS INT)) AS BIGINT)
             AS n_template,
           CAST(sum(CAST(p.doc_id <> w.first_doc AS INT)) * 1000000
                // count(*) AS BIGINT) AS template_ppm
    FROM p JOIN w ON p.pfx = w.pfx
    GROUP BY p.source
    """,
)
def text_template_prefix_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-prefix duplication: the share of each source's documents
    whose first {_PFX_W} words were already seen on an earlier document —
    the header/boilerplate detector that catches templated pages
    full-document hashing misses (bodies differ, openings repeat).
    Winner-per-prefix is one map-side min aggregate joined back by
    prefix; integer ppm output."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.selectExpr(
        "doc_id",
        "source",
        f"concat_ws(' ', slice(split(text, ' '), 1, {_PFX_W})) AS pfx",
    )
    w = p.groupBy("pfx").agg(F.expr("min(doc_id) AS first_doc"))
    return (
        p.join(w, "pfx")
        .groupBy("source")
        .agg(
            F.expr("count(*) AS n_docs"),
            F.expr(
                "CAST(sum(CAST(doc_id <> first_doc AS INT)) AS BIGINT)"
                " AS n_template"
            ),
            F.expr(
                "CAST(sum(CAST(doc_id <> first_doc AS INT)) * 1000000"
                " div count(*) AS BIGINT) AS template_ppm"
            ),
        )
    )


# --- tf-idf cosine document similarity ---------------------------------------
_TFIDF_TOPP = 20  # output pairs
_TFIDF_MAXDF_DEN = 10  # prune terms with df > N/10 (stopword-like)


@query(
    "tfidf_doc_similarity",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      GROUP BY doc_id, word
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    df AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
    ),
    keep AS (
      SELECT d.word,
             CAST(round(ln(CAST(nd.n AS DOUBLE) / d.df) * 100000000)
                  AS BIGINT) AS idf8
      FROM df d CROSS JOIN nd
      WHERE d.df * {_TFIDF_MAXDF_DEN} <= nd.n
    ),
    w AS (
      SELECT t.doc_id, t.word, t.tf, k.idf8
      FROM tf t JOIN keep k ON t.word = k.word
    ),
    nrm AS (
      SELECT doc_id,
             CAST(sum(CAST(tf * tf AS DECIMAL(38,0)) * idf8 * idf8)
                  AS DOUBLE) AS nn
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(CAST(a.tf * b.tf AS DECIMAL(38,0)) * a.idf8 * a.idf8)
                  AS DOUBLE) AS dot
      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.id_a, d.id_b,
           round(d.dot / sqrt(na.nn * nb.nn), 6) AS cosine
    FROM dots d
    JOIN nrm na ON d.id_a = na.doc_id
    JOIN nrm nb ON d.id_b = nb.doc_id
    ORDER BY cosine DESC, d.id_a, d.id_b LIMIT {_TFIDF_TOPP}
    """,
)
def tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TFIDF_TOPP} most-similar document pairs by tf-idf cosine —
    the sparse-vector IR similarity that complements the dense-embedding
    ANN family (near-dup detection driven by rare shared vocabulary, not
    geometry).

    Scale shape: candidate pairs come from the POSTING-LIST self-join on
    shared terms with stopword-like terms pruned first (df > N/{_TFIDF_MAXDF_DEN}
    dropped — that bound, not N², caps the join fanout, the classic IR
    prune); idf is an exact 1e-8 integer unit, so dots and norms are
    exact DECIMAL(38,0) sums of integers and the cosine is one shared
    double tree. Final top-k is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS tf"))
    )
    nd = docs.agg(F.expr("CAST(count(*) AS BIGINT) AS n"))
    df = tf.groupBy("word").agg(F.expr("CAST(count(*) AS BIGINT) AS df"))
    keep = (
        df.crossJoin(F.broadcast(nd))
        .filter(f"df * {_TFIDF_MAXDF_DEN} <= n")
        .selectExpr(
            "word",
            f"{N.spark_fround_int('ln(CAST(n AS DOUBLE) / df) * 100000000')}"
            " AS idf8",
        )
    )
    w = tf.join(F.broadcast(keep), "word")
    nrm = w.groupBy("doc_id").agg(
        F.expr(
            "CAST(sum(CAST(tf * tf AS DECIMAL(38,0)) * idf8 * idf8)"
            " AS DOUBLE) AS nn"
        )
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(
            F.expr(
                "CAST(sum(CAST(a.tf * b.tf AS DECIMAL(38,0)) * a.idf8 * a.idf8)"
                " AS DOUBLE) AS dot"
            )
        )
    )
    na = nrm.selectExpr("doc_id AS id_a", "nn AS na")
    nb = nrm.selectExpr("doc_id AS id_b", "nn AS nb")
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .selectExpr("id_a", "id_b", N.spark_fround("dot / sqrt(na * nb)", 6) + " AS cosine")
        .orderBy(F.desc("cosine"), F.asc("id_a"), F.asc("id_b"))
        .limit(_TFIDF_TOPP)
    )


# --- BM25 ranking against a fixed query --------------------------------------
_BM25_TERMS = ("spark", "shuffle", "vector")
_BM25_K1_X10, _BM25_B_X100 = 12, 75  # k1=1.2, b=0.75 as exact rationals


@query(
    "bm25_doc_ranking",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      GROUP BY doc_id, word
    ),
    dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(len) AS DOUBLE) / count(*) AS avglen
      FROM dl
    ),
    q AS (SELECT unnest(['{"', '".join(_BM25_TERMS)}']) AS word),
    idf AS (
      SELECT q.word,
             CAST(round(ln((CAST(st.n AS DOUBLE) - d.df + 0.5)
                           / (d.df + 0.5) + 1.0) * 100000000) AS BIGINT)
               AS idf8
      FROM q
      JOIN (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf
            GROUP BY word) d ON q.word = d.word
      CROSS JOIN st
    ),
    scored AS (
      SELECT t.doc_id,
             round(CAST(sum(CAST(round(
                 idf.idf8 / 1e8 * (t.tf * ({_BM25_K1_X10} + 10) / 10.0)
                 / (t.tf + {_BM25_K1_X10} / 10.0
                    * (1.0 - {_BM25_B_X100} / 100.0
                       + {_BM25_B_X100} / 100.0 * dl.len / st.avglen)), 8)
               AS DECIMAL(20,8))) AS DOUBLE), 6) AS bm25
      FROM tf t
      JOIN idf ON t.word = idf.word
      JOIN dl ON t.doc_id = dl.doc_id
      CROSS JOIN st
      GROUP BY t.doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed {len(_BM25_TERMS)}-term query under
    BM25 (k1=1.2, b=0.75, Robertson-Sparck-Jones idf) — the retrieval
    scoring function beside tfidf_doc_similarity's pairwise form; this is
    the lexical half of a RAG retriever.

    Scale shape: the query-term idf table is tiny and broadcast; scoring
    touches only posting lists of the query terms (semi-join through the
    idf join — the fact never fans out); doc lengths join by doc_id; the
    summation has at most |query| terms per doc. Exactness: idf in 1e-8
    integer units; the per-term kernel is one shared double tree (k1/b
    as exact rational literals) each per-term score rounds at
    8dp and sums through DECIMAL(20,8), so the ≤{len(_BM25_TERMS)}-term
    sum is order-independent."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.expr("CAST(sum(tf) AS BIGINT) AS len"))
    st = dl.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(len) AS DOUBLE) / count(*) AS avglen"),
    )
    q = spark.createDataFrame([(t,) for t in _BM25_TERMS], "word string")
    dfreq = tf.groupBy("word").agg(F.expr("CAST(count(*) AS BIGINT) AS df"))
    idf = (
        q.join(dfreq, "word")
        .crossJoin(F.broadcast(st))
        .selectExpr(
            "word",
            N.spark_fround_int(
                "ln((CAST(n AS DOUBLE) - df + 0.5D)"
                " / (df + 0.5D) + 1.0D) * 100000000"
            ) + " AS idf8",
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "round(CAST(sum(CAST("
                + N.spark_fround(
                    f"idf8 / 1e8 * (tf * ({_BM25_K1_X10} + 10) / 10.0D)"
                    f" / (tf + {_BM25_K1_X10} / 10.0D"
                    f" * (1.0D - {_BM25_B_X100} / 100.0D"
                    f" + {_BM25_B_X100} / 100.0D * len / avglen))",
                    8,
                )
                + " AS DECIMAL(20,8))) AS DOUBLE), 6) AS bm25"
            )
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


# --- reciprocal-rank fusion of two retrieval rankers -------------------------
_RRF_K = 60
_RRF_TOP = 10


@query(
    "retrieval_rank_fusion",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      GROUP BY doc_id, word
    ),
    hits AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS qtf
      FROM tf WHERE word IN ('{"', '".join(_BM25_TERMS)}')
      GROUP BY doc_id
    ),
    ra AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY qtf DESC, doc_id) AS r
      FROM hits QUALIFY r <= {_RRF_TOP}
    ),
    ln_ AS (
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS len
      FROM tf GROUP BY doc_id
    ),
    rb AS (
      SELECT h.doc_id,
             row_number() OVER (
               ORDER BY CAST(h.qtf AS DOUBLE) / l.len DESC, h.doc_id) AS r
      FROM hits h JOIN ln_ l ON h.doc_id = l.doc_id
      QUALIFY r <= {_RRF_TOP}
    ),
    fused AS (
      SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
             CAST(coalesce(CAST(round(1000000000 / ({_RRF_K} + ra.r))
                                AS BIGINT), 0)
                  + coalesce(CAST(round(1000000000 / ({_RRF_K} + rb.r))
                                  AS BIGINT), 0) AS BIGINT) AS rrf_e9
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT doc_id, rrf_e9 FROM fused
    ORDER BY rrf_e9 DESC, doc_id LIMIT {_RRF_TOP}
    """,
)
def retrieval_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k={_RRF_K}) of two retrieval rankers over
    the same fixed query — raw query-term frequency vs length-normalized
    density — the standard hybrid-retrieval combiner (in production the
    two lists are BM25 and embedding ANN; the fusion operator is
    identical). RRF contributions are exact 1e-9 integer units, so the
    fused ordering needs no float conventions.

    Scale shape: each ranker's list is a top-{_RRF_TOP} shortlist
    (TakeOrderedAndProject over the posting-list hits of the query
    terms); ranks over the two 10-row lists come from bounded_seq's
    triangular row numbers; the fusion is a full outer join of two tiny
    frames."""
    from ..operators.bounded_seq import ordered_row_numbers

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS tf"))
    )
    hits = (
        tf.filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.expr("CAST(sum(tf) AS BIGINT) AS qtf"))
    )
    ln_ = tf.groupBy("doc_id").agg(F.expr("CAST(sum(tf) AS BIGINT) AS len"))
    top_a = hits.orderBy(F.desc("qtf"), F.asc("doc_id")).limit(_RRF_TOP)
    ra = ordered_row_numbers(
        top_a, [("qtf", False), ("doc_id", True)], out="r"
    ).selectExpr("doc_id", "r AS ra")
    dens = hits.join(ln_, "doc_id").selectExpr(
        "doc_id", "qtf", "len", "CAST(qtf AS DOUBLE) / len AS dens"
    )
    top_b = dens.orderBy(F.desc("dens"), F.asc("doc_id")).limit(_RRF_TOP)
    rb = ordered_row_numbers(
        top_b, [("dens", False), ("doc_id", True)], out="r"
    ).selectExpr("doc_id", "r AS rb")
    fused = ra.join(rb, "doc_id", "full_outer").selectExpr(
        "doc_id",
        f"CAST(coalesce(CAST(round(1000000000 / ({_RRF_K} + ra), 0) AS BIGINT), 0)"
        f" + coalesce(CAST(round(1000000000 / ({_RRF_K} + rb), 0) AS BIGINT), 0)"
        " AS BIGINT) AS rrf_e9",
    )
    return fused.orderBy(F.desc("rrf_e9"), F.asc("doc_id")).limit(_RRF_TOP)


# --- nDCG@10 of the BM25 ranking against term-coverage relevance -------------
@query(
    "retrieval_ndcg",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      GROUP BY doc_id, word
    ),
    rel AS (
      SELECT doc_id, CAST(count(DISTINCT word) AS BIGINT) AS gain
      FROM tf WHERE word IN ('{"', '".join(_BM25_TERMS)}')
      GROUP BY doc_id
    ),
    hits AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS qtf
      FROM tf WHERE word IN ('{"', '".join(_BM25_TERMS)}')
      GROUP BY doc_id
    ),
    ranked AS (
      SELECT h.doc_id, r.gain,
             row_number() OVER (ORDER BY h.qtf DESC, h.doc_id) AS rnk
      FROM hits h JOIN rel r ON h.doc_id = r.doc_id
      QUALIFY rnk <= 10
    ),
    ideal AS (
      SELECT gain, row_number() OVER (ORDER BY gain DESC, doc_id) AS rnk
      FROM rel QUALIFY rnk <= 10
    ),
    dcg AS (
      SELECT CAST(sum(CAST(round(gain / round(log2(rnk + 1.0), 8) * 100000000)
                           AS BIGINT)) AS BIGINT) AS dcg8
      FROM ranked
    ),
    idcg AS (
      SELECT CAST(sum(CAST(round(gain / round(log2(rnk + 1.0), 8) * 100000000)
                           AS BIGINT)) AS BIGINT) AS idcg8
      FROM ideal
    )
    SELECT round(CAST(dcg.dcg8 AS DOUBLE) / idcg.idcg8, 6) AS ndcg_at_10,
           dcg.dcg8, idcg.idcg8
    FROM dcg CROSS JOIN idcg
    """,
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the raw-term-frequency ranking against a term-coverage
    relevance label (gain = number of distinct query terms the document
    contains) — the retrieval-quality gate for the IR family
    (bm25_doc_ranking / retrieval_rank_fusion). DCG discounts are
    1/log2(rank+1) with the 8dp-rounded log convention; each
    contribution is an exact 1e-8 integer so both sums are
    order-independent bigints; one double division at the end.

    Scale shape: ranking and ideal lists are 10-row shortlists
    (TakeOrderedAndProject); ranks come from bounded_seq's triangular
    row numbers; everything upstream is query-term posting lists."""
    from ..operators.bounded_seq import ordered_row_numbers

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS tf"))
    )
    qterms = tf.filter(F.col("word").isin(*_BM25_TERMS))
    rel = qterms.groupBy("doc_id").agg(
        F.expr("CAST(count(DISTINCT word) AS BIGINT) AS gain")
    )
    hits = qterms.groupBy("doc_id").agg(F.expr("CAST(sum(tf) AS BIGINT) AS qtf"))
    ranked_top = (
        hits.join(rel, "doc_id")
        .orderBy(F.desc("qtf"), F.asc("doc_id"))
        .limit(10)
    )
    ranked = ordered_row_numbers(
        ranked_top, [("qtf", False), ("doc_id", True)], out="rnk"
    )
    ideal_top = rel.orderBy(F.desc("gain"), F.asc("doc_id")).limit(10)
    ideal = ordered_row_numbers(
        ideal_top, [("gain", False), ("doc_id", True)], out="rnk"
    )
    dcg = ranked.agg(
        F.expr(
            "CAST(sum(CAST(round(gain / round(log2(rnk + 1.0D), 8)"
            " * 100000000, 0) AS BIGINT)) AS BIGINT) AS dcg8"
        )
    )
    idcg = ideal.agg(
        F.expr(
            "CAST(sum(CAST(round(gain / round(log2(rnk + 1.0D), 8)"
            " * 100000000, 0) AS BIGINT)) AS BIGINT) AS idcg8"
        )
    )
    return dcg.crossJoin(F.broadcast(idcg)).selectExpr(
        "round(CAST(dcg8 AS DOUBLE) / idcg8, 6) AS ndcg_at_10",
        "dcg8",
        "idcg8",
    )


# --- distinctive terms per source (log-odds with informative prior) ----------
_LO_ALPHA_X100 = 50  # Dirichlet pseudo-count 0.5 per word


@query(
    "source_distinctive_terms",
    oracle=f"""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    sc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
           FROM w GROUP BY source, word),
    st AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM sc
           GROUP BY source),
    gc AS (SELECT word, CAST(sum(c) AS BIGINT) AS g FROM sc GROUP BY word),
    gt AS (SELECT CAST(sum(g) AS BIGINT) AS gtot FROM gc),
    z AS (
      SELECT sc.source, sc.word,
             round((round(ln((sc.c + {_LO_ALPHA_X100} / 100.0)
                      / (st.t - sc.c + {_LO_ALPHA_X100} / 100.0)), 8)
               - round(ln((gc.g - sc.c + {_LO_ALPHA_X100} / 100.0)
                      / (gt.gtot - st.t - gc.g + sc.c
                         + {_LO_ALPHA_X100} / 100.0)), 8))
               / sqrt(1.0 / (sc.c + {_LO_ALPHA_X100} / 100.0)
                      + 1.0 / (gc.g - sc.c + {_LO_ALPHA_X100} / 100.0)),
               6) AS zscore
      FROM sc
      JOIN st ON sc.source = st.source
      JOIN gc ON sc.word = gc.word
      CROSS JOIN gt
    )
    SELECT source, word, zscore FROM (
      SELECT source, word, zscore,
             row_number() OVER (PARTITION BY source
                                ORDER BY zscore DESC, word) AS rn
      FROM z
    ) WHERE rn <= 3
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per source by log-odds ratio with an
    informative Dirichlet prior and its delta z-score (Monroe, Colaresi
    & Quinn's 'Fightin' Words') — the 'what makes this feed different'
    readout that raw tf-idf over-rewards rare noise on.

    Exactness: both logs round at 8dp (the repo ln convention) before
    the shared double tree; counts exact. Scale shape: per-(source,
    word) counts join source totals (broadcastable) and global word
    counts by word; the final top-3 is a window over source partitions
    of scored vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    sc = w.groupBy("source", "word").agg(
        F.expr("CAST(count(*) AS BIGINT) AS c")
    )
    st = sc.groupBy("source").agg(F.expr("CAST(sum(c) AS BIGINT) AS t"))
    gc = sc.groupBy("word").agg(F.expr("CAST(sum(c) AS BIGINT) AS g"))
    gt = gc.agg(F.expr("CAST(sum(g) AS BIGINT) AS gtot"))
    a = f"{_LO_ALPHA_X100} / 100.0D"
    z = (
        sc.join(F.broadcast(st), "source")
        .join(gc, "word")
        .crossJoin(F.broadcast(gt))
        .selectExpr(
            "source",
            "word",
            f"round((round(ln((c + {a}) / (t - c + {a})), 8)"
            f" - round(ln((g - c + {a})"
            f" / (gtot - t - g + c + {a})), 8))"
            f" / sqrt(1.0D / (c + {a}) + 1.0D / (g - c + {a})), 6) AS zscore",
        )
    )
    win = Window.partitionBy("source").orderBy(F.desc("zscore"), F.asc("word"))
    return (
        z.withColumn("rn", F.row_number().over(win))
        .filter("rn <= 3")
        .select("source", "word", "zscore")
    )


# --- mapInArrow twin of the token counter ------------------------------------
@query(
    "text_token_count_arrow",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
    """,
)
def text_token_count_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token totals computed INSIDE a mapInArrow batch — the
    zero-copy Arrow RecordBatch interface below mapInPandas (no pandas
    materialization; pyarrow compute splits and counts columnar-ly).
    Semantically a twin of text_token_count's relational form, kept
    oracle-checked so the Arrow path itself is verified bit-exact — the
    template for vectorized tokenizers that outgrow JVM string
    functions. Partial counts aggregate map-side after the UDF."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("source", "text")

    def count_tokens(batches):
        for batch in batches:
            source = batch.column("source")
            toks = pc.list_value_length(
                pc.split_pattern(batch.column("text"), " ")
            ).cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [source, toks], names=["source", "n_tok"]
            )

    counted = docs.mapInArrow(count_tokens, "source string, n_tok long")
    return counted.groupBy("source").agg(
        F.expr("count(*) AS n_docs"),
        F.expr("CAST(sum(n_tok) AS BIGINT) AS n_tokens"),
    )


# --- PMI-graph word clusters -------------------------------------------------
_WC_PMI_MIN_X1000 = 1300  # keep edges with N*c_xy/(c_x*c_y) > 1.3
_WC_MIN_CXY = 5


@query(
    "word_cooccurrence_clusters",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM d, UNNEST(range(1, len(t))) AS r(i)
    ),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM bg
           WHERE w1 <> w2 GROUP BY w1, w2),
    uni AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM uni),
    sel AS (
      SELECT least(bc.w1, bc.w2) AS a, greatest(bc.w1, bc.w2) AS b
      FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w, n
      WHERE bc.c_xy >= {_WC_MIN_CXY}
        AND bc.c_xy * n.n_total * 1000 > {_WC_PMI_MIN_X1000} * u1.c_w * u2.c_w
    ),
    edges AS (
      SELECT DISTINCT a, b FROM sel
      UNION SELECT b, a FROM sel
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
    sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM comp
              GROUP BY cluster_id)
    SELECT sz AS cluster_size, count(*) AS n_clusters
    FROM sizes GROUP BY sz
    """,
)
def word_cooccurrence_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-ish word communities: adjacent-word pairs whose PMI ratio
    clears a threshold (with minimum co-occurrence support) form an
    undirected graph; connected components give word clusters, reported
    as a size histogram — the cheap distributional-semantics grouping
    run before any embedding-based topic model exists.

    Exactness: the PMI gate cross-multiplies integers (c_xy·N·1000 >
    θ·c_x·c_y — no division, no logs). Scale shape: bigram counts are
    map-side; components come from the iterative min-label operator
    (graph_ops, localCheckpointed rounds); the oracle's recursive CTE is
    an independent fixpoint formulation."""
    from ..operators.graph_ops import connected_components

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.split("text", " ").alias("t")).filter("size(t) >= 2")
    bg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                " element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = (
        bg.filter("w1 <> w2")
        .groupBy("w1", "w2")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS c_xy"))
    )
    uni = docs.select(F.explode(F.split("text", " ")).alias("w"))
    uc = uni.groupBy("w").agg(F.expr("CAST(count(*) AS BIGINT) AS c_w"))
    n = uni.agg(F.expr("CAST(count(*) AS BIGINT) AS n_total"))
    sel = (
        bc.join(F.broadcast(uc.selectExpr("w AS w1", "c_w AS c1")), "w1")
        .join(F.broadcast(uc.selectExpr("w AS w2", "c_w AS c2")), "w2")
        .crossJoin(F.broadcast(n))
        .filter(
            f"c_xy >= {_WC_MIN_CXY} AND"
            f" c_xy * n_total * 1000 > {_WC_PMI_MIN_X1000} * c1 * c2"
        )
        .selectExpr("least(w1, w2) AS a", "greatest(w1, w2) AS b")
        .distinct()
    )
    comp = connected_components(sel, "a", "b", edges_unique=True)
    sizes = comp.groupBy("component").agg(
        F.expr("CAST(count(*) AS BIGINT) AS sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.expr("count(*) AS n_clusters")
    )


# --- unigram-LM tokenizer: one Viterbi-EM step (SentencePiece-style) ----------
_UNI_V = 200  # seed vocab size (plus all single chars, which never prune)
_UNI_MAXP = 4  # max piece length
_UNI_MAXW = 12  # words longer than this are excluded from training


@query(
    "tokenizer_unigram_viterbi",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    words AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM toks WHERE w <> '' AND length(w) <= {_UNI_MAXW} GROUP BY w
    ),
    subs AS (
      SELECT substr(word, s.g, l.g) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM words, generate_series(1, {_UNI_MAXW}) s(g),
           generate_series(1, {_UNI_MAXP}) l(g)
      WHERE s.g + l.g - 1 <= length(word)
      GROUP BY 1
    ),
    ranked AS (
      SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
      FROM subs
    ),
    vocab AS (
      SELECT piece, max(cnt) AS cnt FROM (
        SELECT piece, cnt FROM ranked WHERE rn <= {_UNI_V}
        UNION ALL
        SELECT piece, cnt FROM subs WHERE length(piece) = 1
      ) GROUP BY piece
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tc FROM vocab),
    lp AS (
      SELECT piece, cnt AS seed_cnt,
             CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tc AS DOUBLE))
                        * 1000000000, 0) AS BIGINT) AS lp_e9
      FROM vocab, tot
    ),
    seg(word, pos, score, pieces) AS (
      SELECT word, 0, CAST(0 AS BIGINT), CAST([] AS VARCHAR[]) FROM words
      UNION ALL
      SELECT s.word, s.pos + length(l.piece), s.score + l.lp_e9,
             list_append(s.pieces, l.piece)
      FROM seg s JOIN lp l
        ON l.piece = substr(s.word, s.pos + 1, length(l.piece))
      WHERE s.pos < length(s.word)
    ),
    best AS (
      SELECT word, pieces FROM (
        SELECT word, pieces,
               row_number() OVER (
                 PARTITION BY word
                 ORDER BY score DESC,
                          list_reverse(list_transform(pieces,
                                                      p -> length(p))) DESC
               ) AS rn
        FROM seg WHERE pos = length(word)
      ) WHERE rn = 1
    ),
    em AS (
      SELECT u.piece, CAST(sum(w.freq) AS BIGINT) AS em_cnt
      FROM (SELECT word, unnest(pieces) AS piece FROM best) u
      JOIN words w ON u.word = w.word
      GROUP BY u.piece
    )
    SELECT l.piece, l.seed_cnt, em.em_cnt
    FROM lp l JOIN em ON l.piece = em.piece
    """,
)
def tokenizer_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Viterbi-EM step of a unigram-LM tokenizer (Kudo 2018, the
    SentencePiece unigram model; sibling of the BPE trainer above): seed the
    piece vocabulary with the corpus's most frequent substrings (length <= 4,
    top 200 by count plus every single character so segmentation never
    fails), segment every DISTINCT word by max-log-likelihood (Viterbi), and
    emit per-piece expected counts — the M-step input whose low-count tail
    SentencePiece prunes each round.

    Scale shape — the reason unigram EM distributes cleanly: the DP runs on
    the WORD-FREQUENCY TABLE, never the corpus. The corpus contributes one
    groupBy (word counts); the DP is a driver loop over word positions
    (<= 12 rounds) of broadcast-joined candidate extensions on a
    vocab-bounded frame, localCheckpointed per round (BPE-loop convention,
    lineage stays flat). Tie-breaks are total: max score, then longest last
    piece recursively (= reverse-length sequence, lexicographically
    maximal) — the greedy per-position resolution provably equals the
    global order the oracle's brute-force path enumeration uses.

    Cross-engine exactness: one ln + round per piece (1e9-scaled bigint,
    quality_perplexity_proxy recipe), bigint path sums thereafter."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(f"word <> '' AND length(word) <= {_UNI_MAXW}")
        .groupBy("word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS freq"))
        .localCheckpoint()
    )
    subs = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), s ->"
                    f" transform(sequence(1, least({_UNI_MAXP},"
                    " length(word) - s + 1)), l -> substring(word, s, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.expr("CAST(sum(freq) AS BIGINT) AS cnt"))
    )
    top = subs.orderBy(F.desc("cnt"), "piece").limit(_UNI_V)
    vocab = (
        top.unionByName(subs.filter(F.length("piece") == 1))
        .groupBy("piece")
        .agg(F.max("cnt").alias("cnt"))
    )
    tot = vocab.agg(F.expr("CAST(sum(cnt) AS BIGINT) AS tc"))
    lp = (
        vocab.crossJoin(F.broadcast(tot))
        .selectExpr(
            "piece",
            "cnt AS seed_cnt",
            "CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tc AS DOUBLE))"
            " * 1000000000, 0) AS BIGINT) AS lp_e9",
        )
        .localCheckpoint()
    )
    lpj = F.broadcast(lp.select("piece", "lp_e9"))
    maxlen = words.agg(F.max(F.length("word"))).collect()[0][0] or 0
    dp = {
        0: words.select(
            "word",
            "freq",
            F.lit(0).cast("bigint").alias("score"),
            F.expr("CAST(array() AS ARRAY<STRING>)").alias("seg"),
        ).localCheckpoint()
    }
    for i in range(1, maxlen + 1):
        cands = None
        for k in range(1, min(_UNI_MAXP, i) + 1):
            c = (
                dp[i - k]
                .filter(F.length("word") >= i)
                .withColumn("piece", F.expr(f"substring(word, {i - k + 1}, {k})"))
                .join(lpj, "piece")
                .select(
                    "word",
                    "freq",
                    (F.col("score") + F.col("lp_e9")).alias("score"),
                    F.expr("array_append(seg, piece)").alias("seg"),
                    F.lit(k).alias("k"),
                )
            )
            cands = c if cands is None else cands.unionByName(c)
        # (score, k) ties imply the identical candidate (same piece, same
        # dp[i-k] winner), so max_by is deterministic here — see docstring
        dp[i] = (
            cands.groupBy("word", "freq")
            .agg(F.expr("max_by(struct(score, seg), struct(score, k)) AS b"))
            .select("word", "freq", F.col("b.score").alias("score"), F.col("b.seg").alias("seg"))
            .localCheckpoint()
        )
    final = None
    for i in range(1, maxlen + 1):
        f_i = dp[i].filter(F.length("word") == i)
        final = f_i if final is None else final.unionByName(f_i)
    em = (
        final.select("freq", F.explode("seg").alias("piece"))
        .groupBy("piece")
        .agg(F.expr("CAST(sum(freq) AS BIGINT) AS em_cnt"))
    )
    return lp.select("piece", "seed_cnt").join(em, "piece").select(
        "piece", "seed_cnt", "em_cnt"
    )


# --- WordPiece apply: greedy longest-match with ## continuations -------------
# Completes the tokenizer family (BPE merges/apply, unigram Viterbi): the
# BERT-style maximal munch. The vocab is a LITERAL artifact (as in real
# inference — the vocab file ships with the model): multi-char stems +
# continuation suffixes tuned to the fixture lexicon, plus full a-z
# single-char coverage in both initial and continuation positions, so no
# corpus word can hit the [UNK] path (asserted by construction; words with
# characters outside a-z would [UNK] in Spark and silently drop in the
# recursive oracle — the coverage vocab keeps both engines identical).
_WP_STEMS = [
    "join", "hash", "row", "scan", "col", "cust", "filt", "wind", "str",
    "sort", "que", "gro", "val", "ord", "tab", "ve",
]
_WP_CONTS = [
    "##umn", "##omer", "##er", "##ch", "##le", "##ort", "##ream", "##ue",
    "##ow", "##at", "##up", "##ry", "##ta", "##ctor", "##all", "##ine",
]
_WP_VOCAB = (
    _WP_STEMS
    + _WP_CONTS
    + [c for c in "abcdefghijklmnopqrstuvwxyz"]
    + ["##" + c for c in "abcdefghijklmnopqrstuvwxyz"]
)
_WP_MAXW = 8   # corpus max word length (munch loop unrolls this many steps)
_WP_MAXP = 6   # longest raw piece length


def _wp_oracle() -> str:
    vlist = ", ".join(f"('{v}')" for v in _WP_VOCAB)
    return f"""
    WITH RECURSIVE tok AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wf AS (SELECT word, count(*) AS freq FROM tok WHERE word <> '' GROUP BY word),
    vocab(piece) AS (SELECT * FROM (VALUES {vlist}) v(p)),
    vnorm AS (
      SELECT piece,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS raw,
             (piece LIKE '##%') AS cont
      FROM vocab
    ),
    seg AS (
      SELECT word, freq, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM wf
      UNION ALL
      SELECT s.word, s.freq,
             s.pos + (SELECT max(length(v.raw)) FROM vnorm v
                      WHERE v.cont = (s.pos > 1)
                        AND v.raw = substr(s.word, s.pos, length(v.raw))),
             list_append(s.pieces,
               (SELECT max_by(v.piece, length(v.raw)) FROM vnorm v
                WHERE v.cont = (s.pos > 1)
                  AND v.raw = substr(s.word, s.pos, length(v.raw))))
      FROM seg s
      WHERE s.pos <= length(s.word)
    ),
    final AS (
      SELECT word, freq, unnest(pieces) AS piece
      FROM seg WHERE pos > length(word)
    )
    SELECT piece,
           CAST(sum(freq) AS BIGINT) AS uses,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words
    FROM final
    GROUP BY piece
    ORDER BY uses DESC, piece
    LIMIT 30
    """


@query("tokenizer_wordpiece_apply", oracle=_wp_oracle())
def tokenizer_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style WordPiece over the corpus: greedy longest-prefix match,
    continuations carry the ## marker and only match past position 1.
    Output: per-piece corpus usage (occurrence-weighted) + distinct words
    containing it, top-30.

    Scale shape: the munch runs over the DISTINCT-word table (the corpus
    vocabulary — bounded far below the corpus at any scale; the same
    compression BPE training uses) as a compile-free python kernel with
    the literal vocab in its closure; the raw corpus is touched exactly
    once (word-frequency groupBy) and piece counts re-weight by word
    frequency at the end. ``_WP_MAXW`` bounds the walk — each step
    consumes >= 1 character, so words up to that length segment fully.
    Oracle: the same munch as a DuckDB recursive CTE (correlated
    longest-match subqueries), weighted identically."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter("word <> ''")
        .groupBy("word")
        .agg(F.expr("count(*) AS freq"))
    )

    # The munch runs as a compile-free python kernel over the DISTINCT
    # word table. History (r07, §1.3/§4): the previous all-Catalyst form
    # (per-position best-match lengths via transform(sequence...) + an
    # aggregate() fold) was a map-only plan, but its CASE-forest compiled
    # for ~10s of driver-side janino per cold run — CollapseProject
    # inlined the position array into every fold reference, and a
    # pieces-IS-NOT-NULL filter had been pushed below the word aggregate,
    # re-evaluating the munch per corpus TOKEN. The kernel sees only the
    # corpus VOCABULARY (bounded at any corpus scale — the same
    # compression BPE training relies on); the raw corpus is still
    # touched exactly once, in the word-frequency groupBy. A
    # join-per-step formulation costs 8 shuffle rounds / 15-35s on this
    # fixture; oracle parity re-verified at sf0.01 + sf0.1.
    by_len: dict[tuple[bool, int], set] = {}
    for p in _WP_VOCAB:
        cont, raw = p.startswith("##"), p.removeprefix("##")
        by_len.setdefault((cont, len(raw)), set()).add(raw)

    def munch(batches):
        # exact twin of the SQL fold it replaced: greedy longest match,
        # _WP_MAXW bounded steps, a position with no match jumps past the
        # end WITHOUT appending (so such words emit their matched prefix,
        # identically to the fold's finish lambda)
        import pandas as pd

        for pdf in batches:
            out_w: list = []
            out_f: list = []
            out_p: list = []
            for w, fq in zip(pdf["word"], pdf["freq"]):
                pos, pieces = 1, []
                for _step in range(_WP_MAXW):
                    if pos > len(w):
                        break
                    best = 0
                    for ln in range(_WP_MAXP, 0, -1):
                        raws = by_len.get((pos > 1, ln))
                        if raws and w[pos - 1 : pos - 1 + ln] in raws:
                            best = ln
                            break
                    if best == 0:
                        pos += _WP_MAXW + 1
                    else:
                        piece = w[pos - 1 : pos - 1 + best]
                        pieces.append(piece if pos == 1 else "##" + piece)
                        pos += best
                if pos > len(w):
                    for piece in pieces:
                        out_w.append(w)
                        out_f.append(fq)
                        out_p.append(piece)
            yield pd.DataFrame({"word": out_w, "freq": out_f, "piece": out_p})

    exploded = wf.mapInPandas(munch, "word string, freq long, piece string")
    return (
        exploded.groupBy("piece")
        .agg(
            F.expr("CAST(sum(freq) AS BIGINT) AS uses"),
            F.expr("CAST(count(DISTINCT word) AS BIGINT) AS n_words"),
        )
        .orderBy(F.desc("uses"), F.asc("piece"))
        .limit(30)
    )


# --- MRR + recall@10 per single-term query against full-coverage relevance --
@query(
    "retrieval_mrr_recall",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      GROUP BY doc_id, word
    ),
    rel AS (
      SELECT doc_id
      FROM tf WHERE word IN ('{"', '".join(_BM25_TERMS)}')
      GROUP BY doc_id
      HAVING count(DISTINCT word) = {len(_BM25_TERMS)}
    ),
    nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_relevant FROM rel),
    postings AS (
      SELECT word, doc_id, tf,
             row_number() OVER (
               PARTITION BY word ORDER BY tf DESC, doc_id) AS rnk
      FROM tf WHERE word IN ('{"', '".join(_BM25_TERMS)}')
    ),
    marked AS (
      SELECT p.word, p.rnk,
             CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS is_rel
      FROM postings p LEFT JOIN rel r ON p.doc_id = r.doc_id
    ),
    per_term AS (
      SELECT word AS term,
             min(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel,
             CAST(sum(CASE WHEN is_rel = 1 AND rnk <= 10 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_10
      FROM marked GROUP BY word
    )
    SELECT t.term,
           CAST(coalesce(CAST(round(1000000000.0 / t.first_rel) AS BIGINT), 0)
                AS BIGINT) AS rr_e9,
           t.hits_at_10,
           n.n_relevant,
           CASE WHEN n.n_relevant = 0 THEN 0.0
                ELSE round(CAST(t.hits_at_10 AS DOUBLE) / n.n_relevant, 6)
           END AS recall_at_10
    FROM per_term t CROSS JOIN nrel n
    """,
)
def retrieval_mrr_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and recall@10 per single-term query — the multi-query companion
    to retrieval_ndcg: each query term is its own query, ranked by raw
    term frequency, scored against full-coverage relevance (a document is
    relevant iff it contains EVERY query term — labels independent of any
    single ranker's signal). Reciprocal ranks are exact 1e-9 integer
    units (no float rank math); recall's single double division is
    guarded for the zero-relevant corpus.

    Scale shape: postings are per-term partitions, so the ranking window
    is PARTITIONED (never global); a pathologically hot term makes one
    big sorted partition — at that point swap in topk_per_group's
    sketch-and-refine bound for the @10 cut and the first-relevant rank
    becomes 1 + count(strictly-ahead docs) of the best relevant doc, both
    aggregation-only. The relevance set is a semi-join-sized frame
    (docs containing ALL terms), broadcast onto the postings.

    Reference parity: the reference reports per-model ranking quality by
    hand in notebooks (teamProject/best_score.ipynb); here the IR-side
    equivalent is a closed-form multi-query eval."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS tf"))
    )
    qpost = tf.filter(F.col("word").isin(*_BM25_TERMS))
    rel = (
        qpost.groupBy("doc_id")
        .agg(F.countDistinct("word").alias("cov"))
        .filter(F.col("cov") == len(_BM25_TERMS))
        .select("doc_id")
    )
    nrel = rel.agg(F.expr("CAST(count(*) AS BIGINT) AS n_relevant"))
    from pyspark.sql import Window

    w = Window.partitionBy("word").orderBy(F.desc("tf"), F.asc("doc_id"))
    postings = qpost.withColumn("rnk", F.row_number().over(w))
    marked = postings.join(
        F.broadcast(rel.withColumn("is_rel", F.lit(1))), "doc_id", "left"
    ).na.fill({"is_rel": 0})
    per_term = marked.groupBy(F.col("word").alias("term")).agg(
        F.expr("min(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel"),
        F.expr(
            "CAST(sum(CASE WHEN is_rel = 1 AND rnk <= 10 THEN 1 ELSE 0 END)"
            " AS BIGINT) AS hits_at_10"
        ),
    )
    return per_term.crossJoin(F.broadcast(nrel)).selectExpr(
        "term",
        "CAST(coalesce(CAST(round(1000000000.0D / first_rel, 0) AS BIGINT), 0)"
        " AS BIGINT) AS rr_e9",
        "hits_at_10",
        "n_relevant",
        "CASE WHEN n_relevant = 0 THEN 0.0D"
        " ELSE round(CAST(hits_at_10 AS DOUBLE) / n_relevant, 6)"
        " END AS recall_at_10",
    )


# --- LLM-watermark detection (green-list bigram test) ------------------------
# Kirchenbauer-style detection re-expressed for corpus hygiene: a
# watermarked generator biases each token toward a "green list" keyed by
# the previous token's hash. Detection needs no model — per document,
# count bigrams whose (prev, cur) hash lands green (null rate 1/2) and
# flag documents whose one-proportion z exceeds the 97.5th percentile.
# On natural text the flag rate sits near 2.5% by construction; a
# watermarked/generated slice shows up as a per-source excess.
_WM_Z = 1.959964


@query(
    "text_watermark_greenlist",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, source,
             CAST(concat('0x', substring(md5(concat(w[i], '#', w[i+1])),
                                         1, 15)) AS BIGINT) % 2 AS green
      FROM toks, unnest(generate_series(1, len(w) - 1)) t(i)
    ),
    per_doc AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS n_bg,
             CAST(sum(CAST(green = 0 AS BIGINT)) AS BIGINT) AS n_green
      FROM bg GROUP BY doc_id, source
    ),
    z AS (
      SELECT source, n_bg, n_green,
             round(CAST(2 * n_green - n_bg AS DOUBLE) / sqrt(CAST(n_bg AS
               DOUBLE)), 6) AS z
      FROM per_doc
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_bg) AS BIGINT) AS sum_bigrams,
           CAST(sum(n_green) AS BIGINT) AS sum_green,
           CAST(sum(CAST(z >= {_WM_Z} AS INT)) AS BIGINT) AS n_flagged,
           CAST(sum(CAST(z >= {_WM_Z} AS INT)) * 1000000 // count(*)
                AS BIGINT) AS flagged_ppm
    FROM z GROUP BY source
    """,
)
def text_watermark_greenlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-text / LLM-watermark screening — the corpus-hygiene scan a
    pretraining build runs to keep model-generated text out of the mix:
    per document, the fraction of bigrams whose keyed hash falls in the
    "green list" (null rate exactly 1/2 for unwatermarked text) gives a
    one-proportion z; documents beyond z ≥ {_WM_Z} are flagged and the
    per-source excess over the ~2.5% base rate is the contamination
    signal (Kirchenbauer et al. detection, model-free form).

    Scale shape: bigrams explode ≤ len per doc (the wordcount shape); the
    per-doc reduction and the per-source rollup are both map-side-combined
    integer aggregates — one fact scan, two narrowing shuffles, nothing
    quadratic. The only float op is each doc's z (two exact ints → one
    division, rounded 6dp identically in both engines)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # size(w) >= 2 guard: Spark's sequence(1, 0) is the DESCENDING [1, 0]
    # (not empty like DuckDB's generate_series), so a 1-token doc would
    # probe w[2] and throw — the oracle's generate_series drops such docs,
    # and this filter matches it exactly.
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    ).filter("size(w) >= 2")
    bg = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> CAST(conv(substring(md5(concat(element_at(w, i), '#',"
                " element_at(w, i + 1))), 1, 15), 16, 10) AS BIGINT) % 2)"
            )
        ).alias("green"),
    )
    per_doc = bg.groupBy("doc_id", "source").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_bg"),
        F.expr("CAST(sum(CAST(green = 0 AS BIGINT)) AS BIGINT) AS n_green"),
    )
    z = per_doc.selectExpr(
        "source",
        "n_bg",
        "n_green",
        "round(CAST(2 * n_green - n_bg AS DOUBLE)"
        " / sqrt(CAST(n_bg AS DOUBLE)), 6) AS z",
    )
    return z.groupBy("source").agg(
        F.expr("count(*) AS n_docs"),
        F.expr("CAST(sum(n_bg) AS BIGINT) AS sum_bigrams"),
        F.expr("CAST(sum(n_green) AS BIGINT) AS sum_green"),
        F.expr(f"CAST(sum(CAST(z >= {_WM_Z} AS INT)) AS BIGINT) AS n_flagged"),
        F.expr(
            f"CAST(sum(CAST(z >= {_WM_Z} AS INT)) * 1000000 div count(*)"
            " AS BIGINT) AS flagged_ppm"
        ),
    )


# --- sentencepiece-style character-coverage table ----------------------------
_CC_PPM = 9995  # keep chars until cumulative coverage reaches 99.95%


@query(
    "tokenizer_char_coverage",
    oracle=f"""
    WITH ch AS (
      SELECT unnest(string_split(text, '')) AS c FROM documents
    ),
    freq AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY c),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq),
    rk AS (
      SELECT a.c, a.n,
             coalesce(sum(CASE WHEN b.n > a.n
                               OR (b.n = a.n AND b.c < a.c)
                          THEN b.n ELSE 0 END), 0) AS cum_prev,
             coalesce(sum(CASE WHEN b.n > a.n
                               OR (b.n = a.n AND b.c < a.c)
                          THEN 1 ELSE 0 END), 0) + 1 AS rank
      FROM freq a, freq b GROUP BY a.c, a.n
    )
    SELECT c AS ch, n, CAST(rank AS BIGINT) AS rank,
           round(CAST(cum_prev + n AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS coverage,
           CAST(cum_prev * 10000 < total * {_CC_PPM} AS INT) AS kept_9995
    FROM rk, tot
    """,
)
def tokenizer_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The character-coverage table behind sentencepiece's
    character_coverage knob: per character, its corpus frequency,
    frequency rank (ties broken by codepoint), cumulative coverage, and
    whether it survives a 99.95% coverage cut — the vocabulary-design
    audit run before training any subword tokenizer (rare chars outside
    the cut become <unk>/byte-fallback).

    Scale shape: the char explode is linear in corpus bytes and compresses
    map-side to the bounded alphabet; ranking/cumulation is a triangular
    pass over that ≤ alphabet-size table. The keep decision is the exact
    integer comparison cum_prev·10⁴ < total·{_CC_PPM} — no float
    threshold at the cut boundary."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", "")).alias("c"))
        .groupBy("c")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = freq.agg(F.sum("n").cast("bigint").alias("total"))
    b = freq.select(F.col("c").alias("c2"), F.col("n").alias("n2"))
    before = (F.col("n2") > F.col("n")) | (
        (F.col("n2") == F.col("n")) & (F.col("c2") < F.col("c"))
    )
    rk = (
        freq.join(F.broadcast(b), F.lit(True), "cross")
        .groupBy("c", "n")
        .agg(
            F.coalesce(
                F.sum(F.when(before, F.col("n2")).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("cum_prev"),
            (
                F.coalesce(F.sum(F.when(before, 1).otherwise(0)), F.lit(0)) + 1
            )
            .cast("bigint")
            .alias("rank"),
        )
    )
    return rk.crossJoin(F.broadcast(tot)).select(
        F.col("c").alias("ch"),
        "n",
        "rank",
        F.round(
            (F.col("cum_prev") + F.col("n")).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("coverage"),
        (F.col("cum_prev") * 10000 < F.col("total") * _CC_PPM)
        .cast("int")
        .alias("kept_9995"),
    )


# --- TextRank keyword scoring (integer-mass, weighted) ------------------------
# Mihalcea & Tarau 2004: PageRank over the adjacent-word co-occurrence graph,
# edge-weighted by corpus bigram frequency. Same bit-deterministic integer-
# mass scheme as graph_ext.pagerank_int (floor-div flows, damped 0.85), with
# the weighted flow mass*w // wdeg. The word graph is bounded by vocabulary,
# not corpus size — the iteration state never scales with the fact.
_TR_MASS = 1_000_000_000
_TR_ITERS = 4

_TR_EDGE_SQL = """
    toks AS (
      SELECT string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT CASE WHEN w[i] < w[i+1] THEN w[i] ELSE w[i+1] END AS u,
             CASE WHEN w[i] < w[i+1] THEN w[i+1] ELSE w[i] END AS v
      FROM toks, unnest(generate_series(1, len(w) - 1)) t(i)
      WHERE w[i] <> w[i+1]
    ),
    pairs AS (SELECT u, v, CAST(count(*) AS BIGINT) AS wt FROM bg GROUP BY u, v),
    edges AS (
      SELECT u AS src, v AS dst, wt FROM pairs
      UNION ALL SELECT v, u, wt FROM pairs
    ),
    wdeg AS (SELECT src, CAST(sum(wt) AS BIGINT) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS word FROM edges)"""


def _textrank_sql() -> str:
    base = 15 * _TR_MASS // 100
    ctes = [
        _TR_EDGE_SQL,
        f"tr0 AS (SELECT word, CAST({_TR_MASS} AS BIGINT) AS mass FROM nodes)",
    ]
    for k in range(_TR_ITERS):
        ctes.append(f"""tr{k + 1} AS (
      SELECT n.word,
             {base} + (85 * coalesce(s.incoming, 0)) // 100 AS mass
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS word, CAST(sum(p.mass * e.wt // wdeg.d) AS BIGINT)
                 AS incoming
        FROM tr{k} p
        JOIN edges e ON p.word = e.src
        JOIN wdeg ON wdeg.src = p.word
        GROUP BY e.dst
      ) s ON n.word = s.word
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT word, CAST(mass AS BIGINT) AS mass FROM tr{_TR_ITERS}"
    )


@query("keywords_textrank", oracle=_textrank_sql())
def keywords_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scores: damped weighted PageRank over the
    adjacent-word graph (edge weight = corpus bigram count), {it}
    iterations in pure integer arithmetic (mass·w // weighted-degree
    flows, 0.85 damping as 85//100) so the ranking is bit-identical
    across engines, partitionings, and retries — float PageRank never is.

    Scale shape: ONE corpus scan builds the bigram counts (the wordcount
    shape — linear explode, map-side-combined groupBy to the bounded
    vocabulary-pair table); every iteration then joins vocabulary-sized
    frames only. Overflow bound: mass ≤ nodes·MASS ~ 1e11 and
    mass·w < 2^63 while total bigram count stays under ~1e8 per pair —
    document-frequency weights, not raw corpus size, bound w."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("w")).filter("size(w) >= 2")
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct("
                " CASE WHEN element_at(w, i) < element_at(w, i + 1)"
                "      THEN element_at(w, i) ELSE element_at(w, i + 1) END AS u,"
                " CASE WHEN element_at(w, i) < element_at(w, i + 1)"
                "      THEN element_at(w, i + 1) ELSE element_at(w, i) END AS v))"
            )
        ).alias("p")
    ).select("p.u", "p.v").filter("u <> v")
    pairs = bg.groupBy("u", "v").agg(F.count("*").cast("bigint").alias("wt"))
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "wt"
    ).unionAll(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"), "wt"))
    wdeg = edges.groupBy("src").agg(F.sum("wt").cast("bigint").alias("d"))
    nodes = edges.select(F.col("src").alias("word")).distinct()
    # vocabulary-bounded state: cache the graph frames once, then iterate
    edges = edges.join(wdeg, "src").localCheckpoint(eager=False)
    base = 15 * _TR_MASS // 100
    tr = nodes.select("word", F.lit(_TR_MASS).cast("bigint").alias("mass"))
    for _ in range(_TR_ITERS):
        incoming = (
            tr.join(edges, tr["word"] == edges["src"])
            .select(
                F.col("dst").alias("word"),
                F.expr("mass * wt div d").alias("flow"),
            )
            .groupBy("word")
            .agg(F.sum("flow").cast("bigint").alias("incoming"))
        )
        tr = nodes.join(incoming, "word", "left").select(
            "word",
            (
                F.lit(base)
                + F.expr("85 * coalesce(incoming, 0) div 100")
            )
            .cast("bigint")
            .alias("mass"),
        )
    return tr


# --- corpus BLEU between near-neighbor doc pairs --------------------------------
# The generation-eval metric of record, computed as a corpus statistic:
# candidate = every 13th document, reference = its successor doc (the
# fixture's near-dup structure makes these meaningfully overlapping pairs).
# Modified n-gram precision with per-pair clipping (n = 1..4), brevity
# penalty, geometric mean — Papineni et al. 2002, corpus-level form.
_BLEU_N = 4
_BLEU_MOD = 13


def _bleu_ng_sql(src: str, n: int, idcol: str) -> str:
    return f"""
      SELECT {idcol} AS pair_id, ng, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT {idcol},
               array_to_string(w[i:i+{n - 1}], ' ') AS ng
        FROM (SELECT {idcol}, string_split(text, ' ') AS w FROM {src}),
             unnest(generate_series(1, len(w) - {n - 1})) t(i)
      ) GROUP BY {idcol}, ng
    """


def _bleu_oracle() -> str:
    ctes = [
        f"""pairs AS (
      SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % {_BLEU_MOD} = 0
    ),
    cand AS (SELECT p.cand_id AS pair_id, d.text FROM pairs p
             JOIN documents d ON d.doc_id = p.cand_id),
    ref AS (SELECT p.cand_id AS pair_id, d.text FROM pairs p
            JOIN documents d ON d.doc_id = p.ref_id),
    lens AS (
      SELECT CAST(sum(len(string_split(c.text, ' '))) AS BIGINT) AS c_len,
             CAST(sum(len(string_split(r.text, ' '))) AS BIGINT) AS r_len,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM cand c JOIN ref r ON c.pair_id = r.pair_id
    )"""
    ]
    stats = []
    for n in range(1, _BLEU_N + 1):
        ctes.append(f"cng{n} AS ({_bleu_ng_sql('cand', n, 'pair_id')})")
        ctes.append(f"rng{n} AS ({_bleu_ng_sql('ref', n, 'pair_id')})")
        ctes.append(f"""m{n} AS (
      SELECT CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS clipped,
             (SELECT CAST(sum(cnt) AS BIGINT) FROM cng{n}) AS total
      FROM cng{n} c JOIN rng{n} r
        ON c.pair_id = r.pair_id AND c.ng = r.ng
    )""")
        # Chen & Cherry smoothing-1: zero clipped counts (common at n=4)
        # fall back to 1/(2*total) instead of NULLing the geometric mean
        stats.append(
            f"(CASE WHEN coalesce(m{n}.clipped, 0) > 0"
            f" THEN CAST(m{n}.clipped AS DOUBLE) / CAST(m{n}.total AS DOUBLE)"
            f" ELSE 1.0 / (2.0 * CAST(m{n}.total AS DOUBLE)) END)"
        )
    logmean = " + ".join(f"ln({s})" for s in stats)
    bp = "least(1.0, exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)))"
    froms = ", ".join(["lens"] + [f"m{n}" for n in range(1, _BLEU_N + 1)])
    cols = ", ".join(
        f"round({s}, 6) AS p{n}" for n, s in enumerate(stats, start=1)
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT n_pairs, {cols},
           round({bp}, 6) AS brevity_penalty,
           round({bp} * exp(({logmean}) / {_BLEU_N}.0), 6) AS bleu
    FROM {froms}
    """


@query("metric_bleu_pairs", oracle=_bleu_oracle())
def metric_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-{n} of every {mod}th document against its successor:
    per-pair clipped n-gram matches (modified precision), corpus-pooled
    numerators/denominators, brevity penalty, geometric mean — the
    generation-eval metric of record, expressed as joins and integer
    counting. All matching is exact integer; ln/exp ride the established
    cross-engine contract.

    Scale shape: each n-gram level is one explode (linear in corpus
    bytes), one per-(pair, ngram) count, one equi-join on (pair, ngram) —
    candidate pairs never cross-multiply.""".format(n=_BLEU_N, mod=_BLEU_MOD)
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % _BLEU_MOD == 0).select(
        F.col("doc_id").alias("cand_id")
    )
    pairs = a.join(
        docs.select((F.col("doc_id") - 1).alias("cand_id"),
                    F.col("doc_id").alias("ref_id")),
        "cand_id",
    )
    toks = F.split("text", " ").alias("toks")
    cand = pairs.join(
        docs.select(F.col("doc_id").alias("cand_id"), "text"), "cand_id"
    ).select(F.col("cand_id").alias("pair_id"), toks)
    ref = pairs.join(
        docs.select(F.col("doc_id").alias("ref_id"), "text"), "ref_id"
    ).select(F.col("cand_id").alias("pair_id"), toks)
    lens = (
        cand.select("pair_id", F.size("toks").alias("cl"))
        .join(ref.select("pair_id", F.size("toks").alias("rl")), "pair_id")
        .agg(
            F.sum("cl").cast("bigint").alias("c_len"),
            F.sum("rl").cast("bigint").alias("r_len"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )

    def ngram_counts(df, n):
        return (
            df.select("pair_id", F.explode(T.ngrams("toks", n)).alias("ng"))
            .groupBy("pair_id", "ng")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )

    out = lens
    pns = []
    for n in range(1, _BLEU_N + 1):
        cn = ngram_counts(cand, n)
        rn = ngram_counts(ref, n)
        clipped = (
            cn.join(
                rn.select(
                    "pair_id", "ng", F.col("cnt").alias("rcnt")
                ),
                ["pair_id", "ng"],
            )
            .agg(
                F.sum(F.least(F.col("cnt"), F.col("rcnt")))
                .cast("bigint")
                .alias(f"clipped{n}")
            )
        )
        total = cn.agg(F.sum("cnt").cast("bigint").alias(f"total{n}"))
        out = out.crossJoin(F.broadcast(clipped)).crossJoin(F.broadcast(total))
        pns.append(
            f"(CASE WHEN coalesce(clipped{n}, 0) > 0"
            f" THEN CAST(clipped{n} AS DOUBLE) / CAST(total{n} AS DOUBLE)"
            f" ELSE 1.0 / (2.0 * CAST(total{n} AS DOUBLE)) END)"
        )
    bp = "least(1.0, exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)))"
    logmean = " + ".join(f"ln({p})" for p in pns)
    return out.selectExpr(
        "n_pairs",
        *[f"round({p}, 6) AS p{n}" for n, p in enumerate(pns, start=1)],
        f"round({bp}, 6) AS brevity_penalty",
        f"round({bp} * exp(({logmean}) / {_BLEU_N}.0), 6) AS bleu",
    )


# --- moving-average type-token ratio (MATTR) -----------------------------------
# text_lexical_diversity's plain TTR shrinks with document length (types
# grow sublinearly) — MATTR (Covington & McFall 2010) fixes the bias by
# averaging the TTR of every W-token sliding window. Docs shorter than W
# fall back to plain TTR, flagged by the short-doc count.
_MATTR_W = 50


@query(
    "text_mattr_diversity",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             CASE WHEN len(w) >= {_MATTR_W} THEN (
               SELECT CAST(sum(len(list_distinct(w[i:i+{_MATTR_W - 1}])))
                           AS DOUBLE)
               FROM unnest(generate_series(1, len(w) - {_MATTR_W - 1})) t(i)
             ) / ({_MATTR_W}.0 * (len(w) - {_MATTR_W - 1}))
             ELSE CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END AS mattr,
             CAST(len(w) < {_MATTR_W} AS INT) AS short_doc
      FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
      WHERE len(w) >= 1
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(short_doc) AS BIGINT) AS n_short,
           round(CAST(sum(CAST(round(mattr, 9) AS DECIMAL(25,12))) AS DOUBLE)
                 / count(*), 6) AS mean_mattr
    FROM per_doc GROUP BY source
    """,
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (window {w} tokens) per source —
    the length-unbiased lexical-diversity score that makes sources of
    different document lengths comparable, unlike the raw TTR of
    text_lexical_diversity. Sub-window documents fall back to plain TTR
    and are counted in n_short so the fallback share is visible.

    Scale shape: per-document array work only (the sliding windows are a
    transform over the token array — linear x W, no explode to rows), one
    source-keyed aggregate; each doc's MATTR is an exact integer ratio
    and the per-source mean sums 9dp-quantized decimals.""".format(
        w=_MATTR_W
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.split("text", " ").alias("w")).filter(
        "size(w) >= 1"
    )
    per_doc = toks.selectExpr(
        "source",
        f"""CASE WHEN size(w) >= {_MATTR_W} THEN
              CAST(aggregate(transform(sequence(1, size(w) - {_MATTR_W - 1}),
                     i -> size(array_distinct(slice(w, i, {_MATTR_W})))),
                   0L, (acc, x) -> acc + x) AS DOUBLE)
              / ({_MATTR_W}.0 * (size(w) - {_MATTR_W - 1}))
            ELSE CAST(size(array_distinct(w)) AS DOUBLE) / size(w)
            END AS mattr""",
        f"CAST(size(w) < {_MATTR_W} AS INT) AS short_doc",
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("short_doc").cast("bigint").alias("n_short"),
        F.round(
            F.sum(N.fround(F.col("mattr"), 9).cast("decimal(25,12)")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("mean_mattr"),
    )
