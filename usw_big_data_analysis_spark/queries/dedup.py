"""Deduplication operators over `documents` (north-star extension):
exact hash-dedup, n-gram Jaccard near-dup, MinHash+LSH banding, SimHash.

All four are expressed relationally (md5-derived integer hashes are engine-
portable, unlike engine hash() builtins), so every stage is oracle-checked.
The scale-path variants (spark.ml MinHashLSH, xxhash64 signatures) live in
``operators/dedup_ops.py``.

Scale notes: exact dedup = one hash-groupBy shuffle. MinHash banding is the
canonical 100 TB near-dup design: candidate generation is an equi-join on
(band, band_key) — shuffle size ∝ #docs × #bands, never quadratic; only
within-bucket pairs are scored. The plain Jaccard query IS quadratic in the
worst case (kept as the verifier / small-corpus path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..functions import text as T
from ..registry import query
from ..sources import load_table

# --- shingles: 3-token shingles, distinct per doc ---------------------------
_SHINGLES_SQL = """
  SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(toks) - 2),
                          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fixture documents table is one small parquet file -> one input
    # split -> the shingle/hash derivation would run on a single core;
    # spread it (at 100 TB the scan has natural splits and this
    # round-robin repartition is a no-op to remove)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return _shingles_of(docs)


def _shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, s) distinct 3-token shingles of an arbitrary documents
    frame (the streaming ingest path signs per-micro-batch frames). The
    token array is split once per row; the shingle lambda reads it."""
    return docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.explode(F.array_distinct(T.ngrams("toks", 3))).alias("s")
    )


# portable 60-bit integer hash: md5 hex prefix → bigint (identical in any
# engine that has md5; engine-native hash() builtins differ)
def _h_spark(expr: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(expr), 1, 15), 16, 10).cast("bigint")


def _h_sql(expr: str) -> str:
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


# --- exact dedup: hash-groupBy, keep min key (north star) -------------------
@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
    )
    SELECT md5(text) AS text_hash, count(*) AS n_copies,
           min(doc_id) AS keep_id
    FROM corpus GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = groupBy(content hash), keep the smallest id. The corpus
    is the fixture unioned with a shifted copy of itself so every text has an
    exact duplicate to collapse (the fixture itself has only near-dups)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return corpus.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id")
    )


# --- n-gram Jaccard near-dup (verification / small-corpus path) -------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.doc_id
               JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard over shared shingles: |A∩B| from a self-join on
    shingle, |A∪B| = |A|+|B|−|A∩B|. Quadratic in shared-shingle fanout —
    the verifier for minhash candidates, not the scale path."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        inter.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
            ).alias("jac"),
        )
    )
    return j.filter(F.col("jac") >= 0.8).select(
        "id_a", "id_b", F.round("jac", 6).alias("jaccard")
    )


# --- MinHash signatures + LSH banding (north star scale path) ---------------
_K = 8  # signature length
_BANDS = 4  # bands of 2 rows each
_MH_P = 1000000007  # modulus for the universal hash family

# one md5 per shingle, then k affine universal hashes h_j = (a_j*H + b_j) % p
# (classic minhash construction — 8x cheaper than k independent md5s)
_A = [2 * j + 3 for j in range(_K)]
_B = [97 * j + 11 for j in range(_K)]

_SIG_COLS = ", ".join(
    f"min(({_A[j]} * h9 + {_B[j]}) % {_MH_P}) AS h{j}" for j in range(_K)
)


_MINHASH_PAIRS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, {_h_sql('s')} % {_MH_P} AS h9 FROM sh),
    sig AS (
      SELECT doc_id,
             {_SIG_COLS}
      FROM sh9 GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS band_key FROM sig"
        for b in range(_BANDS))}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """

# pair-explode of one sorted id array: all (x, y) with x before y
_PAIR_EXPR = (
    "flatten(transform(ids, (x, i) -> "
    "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
)


def _sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h{_K-1}) MinHash signatures — one portable md5 per
    shingle, k affine universal hashes over it."""
    return _sig_of(_shingles(spark, sf_dir))


def _sig_of(sh: DataFrame) -> DataFrame:
    sh9 = sh.select("doc_id", (_h_spark(F.col("s")) % _MH_P).alias("h9"))
    return sh9.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_A[j]) * F.col("h9") + _B[j]) % _MH_P).alias(f"h{j}")
            for j in range(_K)
        ]
    )


def _band_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key) — MinHash signatures banded 4×2."""
    return _bands_of_sig(_sig_frame(spark, sf_dir))


def _bands_of_sig(sig: DataFrame) -> DataFrame:
    stack = ", ".join(
        f"{b}, concat(h{2*b}, '_', h{2*b+1})" for b in range(_BANDS)
    )
    return sig.selectExpr(
        "doc_id", f"stack({_BANDS}, {stack}) AS (band, band_key)"
    )


def _bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) bands of an arbitrary documents frame."""
    return _bands_of_sig(_sig_of(_shingles_of(docs)))


def _cand_intersections(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Shared-shingle counts (id_a, id_b, n_common) restricted to a
    CANDIDATE pair list — replaces the fact-scale shingle self-join, which
    paired EVERY co-shingling doc (Σ shingle-freq² rows shuffled and
    sorted as strings) only for the caller's left join to discard all
    non-candidates (optimization r08, guide §3.2 — prune the big side
    with the selective set before any shuffle). The LSH pair list is tiny
    (~2k rows at sf0.1) and is broadcast into the id_a probe; its
    |cand|·|shingles per doc| expansion grows with the corpus, so the
    (id_b, s) join shuffles and AQE broadcasts it only when it is small.
    Values are identical because the equi-join on s per (id_a, id_b)
    counts the same multiset matches the self-join grouped."""
    sh_a = sh.select(F.col("doc_id").alias("id_a"), "s")
    sh_b = sh.select(F.col("doc_id").alias("id_b"), "s")
    left = F.broadcast(cand.select("id_a", "id_b")).join(sh_a, "id_a")
    return (
        left.join(sh_b, ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs; the candidate join is on
    (band, band_key): linear shuffle, no cross product. Verify candidates
    with dedup_ngram_jaccard. Run dedup_bucket_stats first to check bucket
    skew — a dominant bucket means use dedup_minhash_salted instead."""
    bands = _band_frame(spark, sf_dir)
    # bucket-collect instead of self-join: the signature pipeline runs ONCE
    # (a self-join recomputes the shingle+md5+min pipeline for both sides —
    # measured 2x at sf0.1). Bucket members are sorted and pair-exploded;
    # near-dup buckets are small by construction, so the explode is bounded.
    # For skewed corpora (boilerplate-heavy: one bucket holds a large
    # fraction of all docs) use dedup_minhash_salted below — same pair set,
    # per-task state bounded by the salt fanout.
    buckets = bands.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    pairs = buckets.select(
        F.explode(F.expr(_PAIR_EXPR)).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_shared_bands"))


_NSALT = 16  # sub-bucket fanout for the skew-bounded variant


@query("dedup_minhash_salted", oracle=_MINHASH_PAIRS_SQL)
def dedup_minhash_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-bounded MinHash LSH — identical pair set to dedup_minhash_lsh
    (same oracle), but no task ever buffers a whole bucket. A 100 TB corpus
    with boilerplate (status pages, licenses) puts a large fraction of all
    documents into ONE (band, band_key) bucket; the plain bucket-collect
    then builds one giant array in one task. Here each bucket splits into
    doc_id % {_NSALT} sub-buckets (collect_list buffers bounded to
    ~bucket/{_NSALT}):

    - intra pairs: pair-explode within each sub-bucket (as before),
    - inter pairs: sub-bucket pairs bridge via a (band, band_key) equi-join
      with salt_a < salt_b — array×array explode, arrays stay bounded.

    Every unordered in-bucket pair appears exactly once per band (same
    salt → intra; different → inter), so counts match the unsalted form
    bit-for-bit. The output is still quadratic in bucket size — that is
    the operator's contract; the bound here is on per-task memory. The
    pair-set equality and the buffer bound are pinned by
    tests/test_dedup_salted.py on a 90%-duplicate corpus."""
    bands = _band_frame(spark, sf_dir)
    sub = (
        bands.withColumn("salt", (F.col("doc_id") % _NSALT).cast("int"))
        .groupBy("band", "band_key", "salt")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    intra = sub.select(F.explode(F.expr(_PAIR_EXPR)).alias("p")).select(
        "p.id_a", "p.id_b"
    )
    a = sub.select(
        "band", "band_key", F.col("salt").alias("sa"), F.col("ids").alias("ids_a")
    )
    b = sub.select(
        "band", "band_key", F.col("salt").alias("sb"), F.col("ids").alias("ids_b")
    )
    cross_expr = (
        "flatten(transform(ids_a, x -> transform(ids_b, y -> "
        "struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
    )
    inter = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("sa") < F.col("sb"))
        .select(F.explode(F.expr(cross_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    pairs = intra.unionByName(inter)
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_shared_bands"))


# Max docs a single (band, band_key) bucket may hold before the plain
# bucket-collect's one-task array buffer is considered skew-hazardous and
# the salted variant is routed instead. 128 ids ≈ 1 KB buffer — deliberately
# conservative so the fixture corpora exercise the plain path while the
# boilerplate-heavy test corpus (tests/test_dedup_salted.py, 180-doc bucket)
# exercises the salted one. At 100 TB raise it toward the per-task memory
# budget (a 10^5-id array is ~1 MB; the quadratic pair EXPLOSION, not the
# buffer, is the real cost ceiling either way).
_AUTO_SKEW_MAX_BUCKET = 128


def _minhash_auto_choice(spark: SparkSession, sf_dir: str) -> str:
    """The pre-flight: one scalar aggregate over the same (band, band_key)
    groupBy the dedup join itself needs — max bucket size across all bands
    (the dedup_bucket_stats max_size column, reduced to the one number the
    routing decision uses)."""
    bands = _band_frame(spark, sf_dir)
    row = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("sz"))
        .agg(F.max("sz").alias("mx"))
        .collect()[0]
    )
    mx = row["mx"] or 0
    return "salted" if mx > _AUTO_SKEW_MAX_BUCKET else "plain"


@query("dedup_minhash_auto", oracle=_MINHASH_PAIRS_SQL)
def dedup_minhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-routed MinHash LSH (VERDICT r4 #6): runs the bucket-skew
    pre-flight and picks the right candidate-pair plan itself — the 100 TB
    operator shouldn't have to know the docstring rule. max bucket size ≤
    _AUTO_SKEW_MAX_BUCKET → plain bucket-collect (dedup_minhash_lsh);
    above → the salted variant whose per-task buffers stay bounded
    (dedup_minhash_salted). Both emit the identical pair set (same oracle),
    so the route changes the physical plan only. Cost of the probe: one
    extra pass over the band frame reduced to a scalar — at scale, cheap
    insurance against a single task buffering a boilerplate mega-bucket."""
    if _minhash_auto_choice(spark, sf_dir) == "salted":
        return dedup_minhash_salted(spark, sf_dir)
    return dedup_minhash_lsh(spark, sf_dir)


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, {_h_sql('s')} % {_MH_P} AS h9 FROM sh),
    sig AS (
      SELECT doc_id,
             {_SIG_COLS}
      FROM sh9 GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS band_key FROM sig"
        for b in range(_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             ({' + '.join(f"CAST(sa.h{j} = sb.h{j} AS INT)" for j in range(_K))})
               / CAST({_K} AS DOUBLE) AS est_jaccard
      FROM cand c JOIN sig sa ON c.id_a = sa.doc_id
                  JOIN sig sb ON c.id_b = sb.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT e.id_a, e.id_b, e.est_jaccard,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS exact_jaccard,
           round(abs(e.est_jaccard
                     - CAST(coalesce(i.n_common, 0) AS DOUBLE)
                       / (sa.n + sb.n - coalesce(i.n_common, 0))), 6) AS abs_err
    FROM est e
    LEFT JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
    JOIN sizes sa ON e.id_a = sa.doc_id
    JOIN sizes sb ON e.id_b = sb.doc_id
    """,
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified-approximation contract applied to MinHash itself: for
    every LSH candidate pair, the signature-level Jaccard estimate
    (matching minhash coordinates / k) next to the EXACT shingle Jaccard
    and their absolute error — the audit a production dedup pipeline runs
    before trusting a (k, bands) configuration at 100 TB. Candidates come
    from the banded equi-join (never all-pairs); the exact side touches
    only candidate pairs via the shared-shingle equi-join. E[est] = J by
    the MinHash theorem; k=8 quantizes est to 1/8 steps, which is exactly
    why the error column — not a fixed gate — is the contract."""
    sig = _sig_frame(spark, sf_dir)
    bands = _band_frame(spark, sf_dir)
    buckets = bands.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    cand = (
        buckets.select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(_K)],
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(_K)
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", (matches / float(_K)).alias("est_jaccard")
        )
    )
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # exact intersections only for the LSH candidates (r08): the global
    # shingle self-join shuffled/sorted Σ freq² string-keyed rows and the
    # left join below threw all non-candidates away
    inter = _cand_intersections(cand, sh)
    szs_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    szs_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    nc = F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
    exact = nc / (F.col("na") + F.col("nb") - nc)
    return (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(szs_a, "id_a")
        .join(szs_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
    )


@query(
    "dedup_incremental_bands",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, {_h_sql('s')} % {_MH_P} AS h9 FROM sh),
    sig AS (
      SELECT doc_id,
             {_SIG_COLS}
      FROM sh9 GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS band_key FROM sig"
        for b in range(_BANDS))}
    ),
    existing AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    incoming AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
    hits AS (
      SELECT i.doc_id, count(DISTINCT i.band) AS n_band_hits,
             count(DISTINCT e.doc_id) AS n_matched_docs
      FROM incoming i JOIN existing e
        ON i.band = e.band AND i.band_key = e.band_key
      GROUP BY i.doc_id
    ),
    inc_docs AS (SELECT DISTINCT doc_id FROM incoming)
    SELECT d.doc_id,
           CAST(coalesce(h.n_band_hits, 0) AS BIGINT) AS n_band_hits,
           CAST(coalesce(h.n_matched_docs, 0) AS BIGINT) AS n_matched_docs,
           CAST(h.doc_id IS NULL AS INT) AS is_novel
    FROM inc_docs d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def dedup_incremental_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup — the shape a daily ingest runs: the
    INCOMING batch's MinHash bands probe the EXISTING corpus's band index
    (here: even doc_ids play the standing corpus, odd the new batch; in
    production the existing side is the persisted, bucketed band table
    from previous runs — only the delta is ever signed). Per incoming
    document: how many of its bands collide with the standing index, how
    many standing documents it matches, and a novelty flag. The probe is
    a (band, band_key) equi-join — shuffle linear in the BATCH, the
    standing index never rewrites; novel docs survive via the left join
    from the incoming roster."""
    bands = _band_frame(spark, sf_dir)
    existing = bands.filter(F.col("doc_id") % 2 == 0)
    incoming = bands.filter(F.col("doc_id") % 2 == 1)
    e = existing.select(
        "band", "band_key", F.col("doc_id").alias("e_doc")
    )
    hits = (
        incoming.join(e, ["band", "band_key"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("band").alias("n_band_hits"),
            F.countDistinct("e_doc").alias("n_matched_docs"),
        )
    )
    inc_docs = incoming.select("doc_id").distinct()
    return (
        inc_docs.join(hits.withColumnRenamed("doc_id", "h_doc"),
                      inc_docs.doc_id == F.col("h_doc"), "left")
        .select(
            "doc_id",
            F.coalesce("n_band_hits", F.lit(0)).cast("bigint").alias("n_band_hits"),
            F.coalesce("n_matched_docs", F.lit(0)).cast("bigint").alias("n_matched_docs"),
            F.col("h_doc").isNull().cast("int").alias("is_novel"),
        )
    )


# --- SimHash fingerprints (north star) --------------------------------------
_SIM_BITS = 16


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (SELECT doc_id, {_h_sql('t')} AS h FROM tok),
    bits AS (
      SELECT doc_id,
             {', '.join(
               f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
               for b in range(_SIM_BITS))}
      FROM th GROUP BY doc_id
    )
    SELECT doc_id,
           {' + '.join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_SIM_BITS))}
             AS simhash
    FROM bits
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: per-bit ±1 vote over token hashes (frequency-weighted
    — tokens not deduped), fingerprint = sign bits. Near-dup docs land at
    small Hamming distance; bucket by fingerprint prefix at scale."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    th = tok.select("doc_id", _h_spark(F.col("t")).alias("h"))
    bits = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIM_BITS)
        ]
    )
    fp = None
    for b in range(_SIM_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.alias("simhash"))


# --- duplicate CLUSTERS: connected components over the LSH pairs ------------
# the same CTE chain as dedup_minhash_lsh's oracle, ending in plain pairs
_LSH_PAIRS_CTES = f"""
    sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, {_h_sql('s')} % {_MH_P} AS h9 FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh9 GROUP BY doc_id),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS band_key FROM sig"
        for b in range(_BANDS))}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair→GROUP dedup: connected components (operators/graph_ops.py,
    iterative min-label propagation over DataFrame joins) on the
    MinHash-LSH candidate pairs; every document gets cluster_id = smallest
    doc_id reachable through near-dup pairs (itself if unpaired) — the
    "keep min id per cluster" rule a real dedup pipeline applies. Oracle:
    DuckDB RECURSIVE CTE transitive label spread — an independent
    fixpoint formulation of the same components."""
    from ..operators.graph_ops import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b", edges_unique=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )


# --- end-to-end training-data cleaning pipeline ------------------------------
@query(
    "pipeline_docs_clean",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
    clusters AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    feats AS (
      SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, source, text,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
               / len(toks) AS stop_ratio
      FROM feats
    ),
    q AS (
      SELECT *, least(n_tokens / 50.0, 1.0) * 0.5
                + (1.0 - stop_ratio) * 0.5 AS quality
      FROM scored
    ),
    surv1 AS (SELECT * FROM q WHERE stop_ratio >= 0.05 AND quality >= 0.6),
    surv2 AS (
      SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_exact
      FROM surv1
    ),
    surv3 AS (
      SELECT s.doc_id, s.lang, s.source, s.n_tokens, c.cluster_id
      FROM surv2 s JOIN clusters c ON s.doc_id = c.doc_id
      WHERE s.doc_id = s.keep_exact
    ),
    final AS (
      SELECT *, min(doc_id) OVER (PARTITION BY cluster_id) AS keep_near
      FROM surv3
    )
    SELECT doc_id, lang, source, n_tokens, cluster_id
    FROM final WHERE doc_id = keep_near
    """,
)
def pipeline_docs_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data cleaning pipeline, composed end-to-end:
    language gate (stopword density >= 0.05) → quality gate (length +
    stopword heuristic >= 0.6) → exact dedup (min doc per md5(text)) →
    near-dup prune (keep each LSH-connected-component's smallest surviving
    doc). Every gate is an IEEE-exact arithmetic comparison, every dedup a
    key-partitioned window/groupBy, and the cluster assignment reuses
    dedup_clusters — so the whole composition stays oracle-checkable and
    shuffle-bounded. This is the query a user points at a raw 100 TB
    corpus; the per-stage queries exist for auditing its pieces."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    toks = F.split("text", " ")
    stop_arr = F.array(F.lit("the"), F.lit("a"))
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(toks).alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double")
            / F.size(toks)
        ).alias("stop_ratio"),
    )
    q = scored.withColumn(
        "quality",
        F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.5
        + (1.0 - F.col("stop_ratio")) * 0.5,
    )
    surv1 = q.filter((F.col("stop_ratio") >= 0.05) & (F.col("quality") >= 0.6))
    from pyspark.sql import Window

    keep_exact = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    surv2 = surv1.withColumn("keep_exact", keep_exact).filter(
        F.col("doc_id") == F.col("keep_exact")
    )
    clusters = dedup_clusters(spark, sf_dir)
    surv3 = surv2.join(clusters, "doc_id").select(
        "doc_id", "lang", "source", "n_tokens", "cluster_id"
    )
    keep_near = F.min("doc_id").over(Window.partitionBy("cluster_id"))
    return surv3.withColumn("keep_near", keep_near).filter(
        F.col("doc_id") == F.col("keep_near")
    ).drop("keep_near")


# --- canonical-document selection under source priority ---------------------
@query(
    "dedup_keep_priority",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, concat(source, '_mirror') AS source,
             text
      FROM documents
    ),
    ranked AS (
      SELECT md5(text) AS text_hash, doc_id, source,
             count(*) OVER (PARTITION BY md5(text)) AS n_copies,
             row_number() OVER (
               PARTITION BY md5(text) ORDER BY source, doc_id) AS rn
      FROM corpus
    )
    SELECT text_hash, n_copies, doc_id AS keep_id, source AS keep_source
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: when duplicates cross sources, the
    pipeline keeps the copy from the highest-priority source (here the
    lexicographically-smallest source tag, tiebreak min doc_id) instead of
    blind min-id — the real multi-crawl dedup policy (prefer the curated
    crawl's copy over the mirror's). One hash-partitioned window over the
    content-hash groups; shuffle ∝ corpus, no skew beyond dup-group size.
    The mirrored corpus (suffix '_mirror') guarantees cross-source groups."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("source"), F.lit("_mirror")).alias("source"),
            "text",
        )
    )
    from pyspark.sql import Window

    wh = Window.partitionBy(F.md5("text"))
    ranked = corpus.select(
        F.md5("text").alias("text_hash"),
        "doc_id",
        "source",
        F.count("*").over(wh).alias("n_copies"),
        F.row_number()
        .over(wh.orderBy("source", "doc_id"))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "text_hash",
        "n_copies",
        F.col("doc_id").alias("keep_id"),
        F.col("source").alias("keep_source"),
    )


# --- block-level boilerplate detection (paragraph dedup) --------------------
_BLOCK_W = 20  # words per block


@query(
    "dedup_block_hash",
    oracle=f"""
    WITH blocks AS (
      SELECT doc_id,
             md5(array_to_string(
               toks[(b - 1) * {_BLOCK_W} + 1 : b * {_BLOCK_W}], ' ')) AS bh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(generate_series(1,
             CAST(ceil(len(toks) / {_BLOCK_W}.0) AS BIGINT))) AS t(b)
    )
    SELECT bh AS block_hash, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occ
    FROM blocks GROUP BY bh HAVING count(DISTINCT doc_id) >= 2
    """,
)
def dedup_block_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level (pseudo-paragraph) dedup — the boilerplate-stripping
    pass: every {W}-word block is content-hashed and blocks recurring
    across >= 2 documents surface as removable boilerplate. Line/paragraph
    dedup is the standard corpus-hygiene step between exact and near-dup
    (headers, nav bars, license banners). One explode + one groupBy —
    shuffle ∝ total blocks (corpus/W), never quadratic; short final docs
    produce a ragged last block, matching the oracle's slice semantics."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    nblocks = F.ceil(F.size("toks") / float(_BLOCK_W)).cast("int")
    blocks = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                # nblocks >= 1 for any non-empty token list; the guard keeps
                # a hypothetical empty doc from F.sequence(1, 0)'s
                # descending-default crash (ADVICE r2 bug class)
                F.when(
                    nblocks >= 1, F.sequence(F.lit(1), nblocks)
                ).otherwise(F.array().cast("array<int>")),
                lambda b: F.md5(
                    F.concat_ws(
                        " ", F.slice("toks", (b - 1) * _BLOCK_W + 1, _BLOCK_W)
                    )
                ),
            )
        ).alias("bh"),
    )
    return (
        blocks.groupBy(F.col("bh").alias("block_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --- cross-source duplication matrix ----------------------------------------
@query(
    "dedup_cross_source_overlap",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, concat(source, '_mirror') AS source,
             text
      FROM documents
    ),
    hs AS (SELECT DISTINCT md5(text) AS h, source FROM corpus)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which crawls overlap: for every source pair, the number of distinct
    texts present in both — the dedup-planning matrix that decides which
    source to canonicalize from (pairs with heavy overlap get a priority
    rule, disjoint pairs skip cross-source dedup entirely). The self-join
    is on the content hash AFTER collapsing to distinct (hash, source)
    rows, so join fan-out is bounded by sources-per-text, never by copies.
    The mirrored corpus guarantees non-empty overlap in the fixture."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("source"), F.lit("_mirror")).alias("source"),
            "text",
        )
    )
    hs = corpus.select(F.md5("text").alias("h"), "source").distinct()
    a = hs.alias("a")
    b = hs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )


# --- asymmetric containment: subset-duplication Jaccard misses ---------------
_CONTAIN_T = 0.9


@query(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
      SELECT id_a, id_b,
             round(CAST(n_common AS DOUBLE) / sa.n, 6) AS c_ab,
             round(CAST(n_common AS DOUBLE) / sb.n, 6) AS c_ba
      FROM inter JOIN sizes sa ON id_a = sa.doc_id
                 JOIN sizes sb ON id_b = sb.doc_id
    )
    SELECT id_a, id_b, c_ab, c_ba FROM scored
    WHERE greatest(c_ab, c_ba) >= {_CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment C(A->B) = |A∩B| / |A| — catches a
    short document embedded verbatim inside a longer one, which symmetric
    Jaccard dilutes below any dedup threshold (|A∩B|/|A∪B| shrinks as the
    host grows). The standard CommonCrawl-style complement to near-dup
    Jaccard for quote/boilerplate inclusion.

    Same scale shape as dedup_ngram_jaccard: intersection counts from the
    shingle equi-join (bounded per-doc shingle fanout), sizes equi-joined
    back (AQE broadcasts while they fit); no all-pairs stage. At 100 TB the candidate pairs come from the
    MinHash bands first (dedup_minhash_lsh) and this exact containment
    scores only candidates."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    scored = (
        # plain equi-joins: sizes has one row per DOC and grows with the
        # corpus, so a forced broadcast would OOM at large SF (the ADVICE
        # r6 per-user-frame class); AQE still broadcasts while it fits.
        inter.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .selectExpr(
            "id_a",
            "id_b",
            "round(CAST(n_common AS DOUBLE) / sa.n, 6) AS c_ab",
            "round(CAST(n_common AS DOUBLE) / sb.n, 6) AS c_ba",
        )
    )
    return scored.filter(F.expr(f"greatest(c_ab, c_ba) >= {_CONTAIN_T}"))


# --- C4-style span dedup: keep only the first global occurrence --------------
_SPAN_W = 10  # words per non-overlapping span


@query(
    "dedup_span_c4",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    spans AS (
      SELECT doc_id, source,
             CAST(i AS BIGINT) AS seg_idx,
             concat_ws(' ', list_slice(w, i * {_SPAN_W} + 1,
                                       (i + 1) * {_SPAN_W})) AS seg
      FROM toks, unnest(generate_series(0,
             CAST(ceil(len(w) / {_SPAN_W}.0) AS BIGINT) - 1)) t(i)
    ),
    winners AS (
      SELECT seg, min(doc_id * 1000000 + seg_idx) AS win
      FROM spans GROUP BY seg
    )
    SELECT s.source,
           count(*) AS n_spans,
           CAST(sum(CAST(s.doc_id * 1000000 + s.seg_idx <> w.win AS INT))
                AS BIGINT) AS n_removed,
           CAST(sum(CAST(s.doc_id * 1000000 + s.seg_idx <> w.win AS INT))
                * 1000000 // count(*) AS BIGINT) AS removed_ppm
    FROM spans s JOIN winners w ON s.seg = w.seg
    GROUP BY s.source
    """,
)
def dedup_span_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup audit: split every document into non-overlapping
    {_SPAN_W}-word spans, keep only each span's FIRST global occurrence
    (min (doc_id, position)), report the per-source removal rate. This is
    the C4 'three-sentence span' rule re-expressed for the fixture's
    unpunctuated text (reference semantics: Raffel et al. C4 cleanup).

    Scale shape: spans explode ≤ len/W per doc (narrower than shingles);
    the winner per span is ONE map-side-combined min aggregate keyed by
    span text — no self-join, no window; the winner table joins back by
    span (equi-join). ppm shares by integer division keep the output
    bit-stable. doc_id*1e6+seg_idx packs the (doc, pos) order into one
    bigint (seg_idx < 1e6 by construction at any document length)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("w"))
    spans = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(w) / {_SPAN_W}.0D) AS INT) - 1),"
                f" i -> concat_ws(' ', slice(w, i * {_SPAN_W} + 1, {_SPAN_W})))"
            )
        ).alias("seg_idx", "seg"),
    ).select(
        "source",
        "seg",
        F.expr("doc_id * 1000000 + CAST(seg_idx AS BIGINT) AS pos_key"),
    )
    winners = spans.groupBy("seg").agg(F.expr("min(pos_key) AS win"))
    return (
        spans.join(winners, "seg")
        .groupBy("source")
        .agg(
            F.expr("count(*) AS n_spans"),
            F.expr("CAST(sum(CAST(pos_key <> win AS INT)) AS BIGINT) AS n_removed"),
            F.expr(
                "CAST(sum(CAST(pos_key <> win AS INT)) * 1000000"
                " div count(*) AS BIGINT) AS removed_ppm"
            ),
        )
    )


# --- near-dup exposure per source --------------------------------------------
@query(
    "dedup_rate_by_source",
    oracle=f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL}),
    involved AS (
      SELECT id_a AS doc_id FROM pairs
      UNION SELECT id_b FROM pairs
    ),
    src AS (SELECT doc_id, source FROM documents)
    SELECT s.source,
           count(*) AS n_docs,
           CAST(sum(CAST(i.doc_id IS NOT NULL AS INT)) AS BIGINT)
             AS n_near_dup,
           CAST(sum(CAST(i.doc_id IS NOT NULL AS INT)) * 1000000
                // count(*) AS BIGINT) AS near_dup_ppm
    FROM src s LEFT JOIN involved i ON s.doc_id = i.doc_id
    GROUP BY s.source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup exposure per source: the share of each source's documents
    that appear in at least one MinHash-LSH candidate pair — the
    per-provider duplication scorecard that decides which ingest feeds
    get deduped first (and the acceptance metric after).

    Scale shape: candidate pairs come from the banded signature pipeline
    (dedup_minhash_lsh — bucketed, never all-pairs); the involved-doc set
    is a distinct union of pair endpoints, left-joined back onto the doc
    dim; everything after the signature pass is id-sized."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    involved = (
        pairs.selectExpr("id_a AS doc_id")
        .union(pairs.selectExpr("id_b AS doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        src.join(involved, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.expr("count(*) AS n_docs"),
            F.expr("CAST(sum(CAST(hit IS NOT NULL AS INT)) AS BIGINT) AS n_near_dup"),
            F.expr(
                "CAST(sum(CAST(hit IS NOT NULL AS INT)) * 1000000"
                " div count(*) AS BIGINT) AS near_dup_ppm"
            ),
        )
    )


# --- simhash Hamming-radius pairs via pigeonhole band blocking ---------------
_SH_BANDS = 4  # 16 bits -> 4 bands of 4; one equal band guarantees ham <= 3
_SH_RADIUS = 3

_SIMHASH_TABLE_SQL = f"""
      SELECT doc_id,
             {' + '.join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END"
                         for b in range(_SIM_BITS))} AS sh
      FROM (
        SELECT doc_id,
               {', '.join(
                 f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
                 for b in range(_SIM_BITS))}
        FROM (
          SELECT doc_id, {_h_sql('t')} AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents) tk
        ) th GROUP BY doc_id
      ) bits
"""


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH sh AS ({_SIMHASH_TABLE_SQL}),
    bands AS (
      SELECT doc_id, b.b, (sh >> (b.b * 4)) & 15 AS key
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {_SH_BANDS - 1}))
                          AS b) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    )
    SELECT cand.id_a, cand.id_b,
           CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
    FROM cand
    JOIN sh x ON cand.id_a = x.doc_id
    JOIN sh y ON cand.id_b = y.doc_id
    WHERE bit_count(xor(x.sh, y.sh)) <= {_SH_RADIUS}
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within Hamming distance {_SH_RADIUS} of each
    other's 16-bit simhash — found by PIGEONHOLE band blocking, never
    all-pairs: split the signature into {_SH_BANDS} 4-bit bands; any pair
    within radius {_SH_RADIUS} differs in at most {_SH_RADIUS} bands, so
    at least one band matches exactly and the candidate join is an
    equi-join on (band, key). Exact distance then filters candidates
    (bit_count(xor) — same integer op both engines). This is Google's
    simhash near-dup retrieval layout; dedup_simhash alone only computed
    signatures.

    Scale: signature pass is the dedup_simhash aggregate; blocking
    explodes x{_SH_BANDS}; bucket sizes concentrate ~n/16 per band key —
    salt the key like dedup_minhash_salted under boilerplate skew."""
    # Value-space pairing (optimization r07, guide §2.3/§2.4): signatures
    # live in a 2^16 space, so pair the DISTINCT SIGNATURE VALUES, not the
    # docs. The doc-level band self-join built ~50M candidate pair rows at
    # sf0.1 (bucket size ~n/16 per 4-bit band key, x4 bands) and then paid
    # a 50M-row DISTINCT plus two fact joins — all to rediscover relations
    # that are a pure function of the <=65536 distinct values. Instead:
    # enumerate each distinct value's exact Hamming-<=3 neighborhood by
    # XOR mask (sum C(16,1..3) = 696 masks), keep neighbors that exist
    # (broadcast hash semi-join), and expand the surviving VALUE pairs
    # back to doc pairs — which is output-sized by definition. Every
    # unordered value pair is generated exactly once (from its smaller
    # value), so no distinct pass exists anywhere; hamming <= radius holds
    # by construction, identical to the band-blocked join + bit_count
    # filter it replaces (parity re-verified at sf0.01 + sf0.1).
    sh = dedup_simhash(spark, sf_dir).withColumnRenamed(
        "simhash", "sh"
    ).localCheckpoint()  # 2 uses below; signature pass runs once
    vals = sh.select("sh").distinct()
    masks = (
        spark.range(1, 1 << (4 * _SH_BANDS))
        .filter(f"bit_count(id) <= {_SH_RADIUS}")
        .select(F.col("id").cast("int").alias("m"))
    )
    cand_vals = (
        vals.crossJoin(F.broadcast(masks))
        .select(F.col("sh").alias("va"), F.expr("sh ^ m").alias("vb"))
        .filter("vb > va")
        .join(
            F.broadcast(vals.selectExpr("sh AS vb")), "vb", "semi"
        )
    )
    x = sh.selectExpr("doc_id AS id_x", "sh AS va")
    y = sh.selectExpr("doc_id AS id_y", "sh AS vb")
    cross = (
        cand_vals.join(x, "va")
        .join(y, "vb")
        .selectExpr(
            "least(id_x, id_y) AS id_a",
            "greatest(id_x, id_y) AS id_b",
            "CAST(bit_count(va ^ vb) AS INT) AS hamming",
        )
    )
    p, q = sh.alias("p"), sh.alias("q")
    diag = (
        p.join(
            q,
            (F.col("p.sh") == F.col("q.sh"))
            & (F.col("p.doc_id") < F.col("q.doc_id")),
        )
        .selectExpr(
            "p.doc_id AS id_a",
            "q.doc_id AS id_b",
            "CAST(0 AS INT) AS hamming",
        )
    )
    return cross.unionAll(diag)


# --- near-dup cluster size distribution --------------------------------------
@query(
    "dedup_cluster_size_dist",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
    lab AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM lab
      GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           count(*) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size histogram: how many clusters of each size the
    MinHash components form, and how many documents they hold — the
    shape that sets dedup savings expectations (mass in size-1 clusters
    = unique corpus; a giant component = boilerplate needing the salted
    path). Pure rollup on top of dedup_clusters' component labels."""
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.expr("count(*) AS n_clusters"),
        F.expr("CAST(cluster_size * count(*) AS BIGINT) AS n_docs"),
    )


# --- preference-pair mining over near-dup clusters ---------------------------
@query(
    "preference_pairs_cluster",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
    lab AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    q AS (
      SELECT doc_id,
             least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.5
             + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                           x -> x IN ('the', 'a'))) AS DOUBLE)
                      / len(string_split(text, ' '))) * 0.5 AS quality
      FROM documents
    ),
    ranked AS (
      SELECT l.cluster_id, l.doc_id, q.quality,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality DESC, l.doc_id ASC) AS rb,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality ASC, l.doc_id DESC) AS rw,
             count(*) OVER (PARTITION BY l.cluster_id) AS n
      FROM lab l JOIN q ON l.doc_id = q.doc_id
    )
    SELECT cluster_id,
           CAST(max(n) AS BIGINT) AS n_members,
           max(CASE WHEN rb = 1 THEN doc_id END) AS chosen_id,
           max(CASE WHEN rw = 1 THEN doc_id END) AS rejected_id,
           round(max(CASE WHEN rb = 1 THEN quality END)
                 - max(CASE WHEN rw = 1 THEN quality END), 6) AS quality_gap
    FROM ranked WHERE n >= 2
    GROUP BY cluster_id
    """,
)
def preference_pairs_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for reward-model / DPO training data: every
    near-dup cluster (an LSH connected component = one content family,
    reusing dedup_clusters) of size >= 2 yields ONE (chosen, rejected)
    pair — the member with the highest composite quality score (the same
    length + stopword heuristic pipeline_docs_clean gates on; ties break
    to the smaller doc_id) against the lowest-quality member (ties to the
    larger doc_id, so the pair is disjoint even on fully-tied clusters) —
    plus the quality gap as the pair's training weight. This is the
    standard way a data pipeline turns redundant crawl families into
    supervision: same content, different quality = a labeled comparison.
    Plan: quality is one scan of single-pass column expressions, the
    ranking is THREE window functions over ONE cluster_id hash partition
    (one shuffle, shared sort-free hash exchange), and the pair rollup is
    a map-side-combinable groupBy — shuffle ∝ corpus, skew bounded by the
    largest cluster (the salted dedup path guards that upstream)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    stop_arr = F.array(F.lit("the"), F.lit("a"))
    q = docs.select(
        "doc_id",
        (
            F.least(F.size(toks) / 50.0, F.lit(1.0)) * 0.5
            + (
                1.0
                - F.size(
                    F.filter(toks, lambda x: F.array_contains(stop_arr, x))
                ).cast("double")
                / F.size(toks)
            )
            * 0.5
        ).alias("quality"),
    )
    from pyspark.sql import Window

    j = dedup_clusters(spark, sf_dir).join(q, "doc_id")
    wc = Window.partitionBy("cluster_id")
    ranked = j.select(
        "cluster_id",
        "doc_id",
        "quality",
        F.row_number()
        .over(wc.orderBy(F.desc("quality"), F.asc("doc_id")))
        .alias("rb"),
        F.row_number()
        .over(wc.orderBy(F.asc("quality"), F.desc("doc_id")))
        .alias("rw"),
        F.count("*").over(wc).alias("n"),
    )
    agg = (
        ranked.filter(F.col("n") >= 2)
        .groupBy("cluster_id")
        .agg(
            F.expr("CAST(max(n) AS BIGINT) AS n_members"),
            F.expr("max(CASE WHEN rb = 1 THEN doc_id END) AS chosen_id"),
            F.expr("max(CASE WHEN rw = 1 THEN doc_id END) AS rejected_id"),
            (
                F.max(F.when(F.col("rb") == 1, F.col("quality")))
                - F.max(F.when(F.col("rw") == 1, F.col("quality")))
            ).alias("gap_raw"),
        )
    )
    return agg.select(
        "cluster_id",
        "n_members",
        "chosen_id",
        "rejected_id",
        N.fround(F.col("gap_raw"), 6).alias("quality_gap"),
    )


# --- two-stage dedup funnel: exact hash, then near-dup -----------------------
@query(
    "dedup_two_stage_funnel",
    oracle=f"""
    WITH exact_w AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper
      FROM documents GROUP BY md5(text)
    ),
    exact_kept AS (
      SELECT d.doc_id, d.source FROM documents d
      JOIN exact_w w ON md5(d.text) = w.h AND d.doc_id = w.keeper
    ),
    pairs AS ({_MINHASH_PAIRS_SQL}),
    near_drop AS (
      SELECT DISTINCT p.id_b AS doc_id
      FROM pairs p
      JOIN exact_kept a ON p.id_a = a.doc_id
      JOIN exact_kept b ON p.id_b = b.doc_id
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CAST(k.doc_id IS NOT NULL AS INT)) AS BIGINT)
             AS n_after_exact,
           CAST(sum(CAST(k.doc_id IS NOT NULL
                         AND nd.doc_id IS NULL AS INT)) AS BIGINT)
             AS n_after_near
    FROM documents d
    LEFT JOIN exact_kept k ON d.doc_id = k.doc_id
    LEFT JOIN near_drop nd ON d.doc_id = nd.doc_id
    GROUP BY d.source
    """,
)
def dedup_two_stage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup funnel in one table: per source, document
    counts raw → after exact-hash dedup (keep min doc_id per md5) →
    after near-dup pruning (drop the larger id of every MinHash candidate
    pair whose BOTH ends survived the exact stage — the keep-min rule on
    the near-dup graph's edges). Staging exact-first is the standard
    order: it's a linear groupBy that shrinks the expensive signature
    stage's input.

    Scale shape: exact winners are one map-side min aggregate; the
    near-dup drop set joins candidate pairs against the survivor set
    (id-sized); the final funnel is two left joins on the doc dim.
    All-integer output."""
    docs = load_table(spark, sf_dir, "documents")
    exact_w = docs.groupBy(F.md5("text").alias("h")).agg(
        F.expr("min(doc_id) AS keeper")
    )
    exact_kept = (
        docs.withColumn("h", F.md5("text"))
        .join(exact_w, "h")
        .filter("doc_id = keeper")
        .select("doc_id")
        .withColumn("kept", F.lit(1))
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    ka = exact_kept.selectExpr("doc_id AS id_a")
    kb = exact_kept.selectExpr("doc_id AS id_b")
    near_drop = (
        pairs.join(ka, "id_a")
        .join(kb, "id_b")
        .selectExpr("id_b AS doc_id")
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(exact_kept, "doc_id", "left")
        .join(near_drop, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.expr("count(*) AS n_docs"),
            F.expr("CAST(sum(CAST(kept IS NOT NULL AS INT)) AS BIGINT)"
                   " AS n_after_exact"),
            F.expr(
                "CAST(sum(CAST(kept IS NOT NULL AND dropped IS NULL AS INT))"
                " AS BIGINT) AS n_after_near"
            ),
        )
    )


# --- unified near-dup evidence per candidate pair ----------------------------
@query(
    "dedup_pair_evidence",
    oracle=f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL}),
    sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.id_a, p.id_b, p.n_shared_bands,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / least(sa.n, sb.n), 6) AS containment
    FROM pairs p
    LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    """,
)
def dedup_pair_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup review table: every MinHash candidate pair with ALL
    its evidence in one row — shared signature bands, exact shingle
    Jaccard, and max-direction containment — what a human (or an
    auto-threshold policy) adjudicates borderline pairs from, instead of
    flipping between three operator outputs.

    Scale shape: candidates come from the banded pipeline (never
    all-pairs); exact scores are computed ONLY for candidates (the
    intersection join restricts through the pair list via the LEFT
    join); doc sizes equi-joined back (no forced broadcast)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # exact intersections only for the candidate pairs (r08, see
    # _cand_intersections)
    inter = _cand_intersections(pairs, sh)
    sa = sizes.selectExpr("doc_id AS id_a", "n AS na")
    sb = sizes.selectExpr("doc_id AS id_b", "n AS nb")
    return (
        # per-doc sizes: plain equi-joins, never a forced broadcast
        # (ADVICE r6 class — the frame scales with the corpus)
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "n_shared_bands",
            "round(CAST(coalesce(n_common, 0) AS DOUBLE)"
            " / (na + nb - coalesce(n_common, 0)), 6) AS jaccard",
            "round(CAST(coalesce(n_common, 0) AS DOUBLE)"
            " / least(na, nb), 6) AS containment",
        )
    )


# --- MinHash banding-parameter sweep -----------------------------------------
# (bands, rows-per-band) layouts over the SAME 8 minhashes; band keys are
# md5 over the concatenated member hashes (the _band_frame convention).
_BSWEEP = ((2, 4), (4, 2), (8, 1))

_BSWEEP_SIG_CTE = f"""
    sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, ({_h_sql('s')}) % {_MH_P} AS h9 FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh9 GROUP BY doc_id)
"""


def _bsweep_union_sql() -> str:
    parts = []
    for nb, r in _BSWEEP:
        band_keys = ", ".join(
            "md5(concat_ws(',', "
            + ", ".join(f"h{b * r + j}" for j in range(r))
            + f")) AS k{b}"
            for b in range(nb)
        )
        band_rows = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, k{b} AS band_key FROM keyed{nb}"
            for b in range(nb)
        )
        parts.append(
            f"""keyed{nb} AS (SELECT doc_id, {band_keys} FROM sig),
    bands{nb} AS ({band_rows}),
    pairs{nb} AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands{nb} a JOIN bands{nb} b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {nb} AS n_bands, {r} AS rows_per_band,"
        f" CAST(count(*) AS BIGINT) AS n_candidate_pairs FROM pairs{nb}"
        for nb, r in _BSWEEP
    )
    return (
        "WITH " + _BSWEEP_SIG_CTE + ",\n    " + ",\n    ".join(parts)
        + "\n    " + selects
    )


@query("dedup_minhash_band_sweep", oracle=_bsweep_union_sql())
def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash S-curve knob, measured: candidate-pair counts when the
    SAME 8-hash signatures are banded as (2x4), (4x2) and (8x1) — more
    bands = more candidates = higher recall at higher cost (P(cand) =
    1-(1-J^r)^b). This is the table that justifies dedup_minhash_lsh's
    4x2 choice, the signature-level sibling of embed_lsh_tuning_curve.

    Scale shape: the signature pipeline runs once; each layout is a
    projection + bucket equi-join (never all-pairs); counts only — the
    pair sets themselves never leave the executors."""
    sig = _sig_frame(spark, sf_dir).localCheckpoint()
    frames = []
    for nb, r in _BSWEEP:
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.col(f"h{b * r + j}").cast("string")
                                        for j in range(r)
                                    ],
                                )
                            ).alias("band_key"),
                        )
                        for b in range(nb)
                    ]
                )
            ).alias("bk"),
        ).select("doc_id", "bk.band", "bk.band_key")
        a, c = bands.alias("a"), bands.alias("c")
        pairs = (
            a.join(
                c,
                (F.col("a.band") == F.col("c.band"))
                & (F.col("a.band_key") == F.col("c.band_key"))
                & (F.col("a.doc_id") < F.col("c.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("c.doc_id").alias("id_b"))
            .distinct()
        )
        frames.append(
            pairs.agg(
                F.expr(f"{nb} AS n_bands"),
                F.expr(f"{r} AS rows_per_band"),
                F.expr("CAST(count(*) AS BIGINT) AS n_candidate_pairs"),
            )
        )
    from functools import reduce

    return reduce(DataFrame.unionByName, frames)


# --- bucket-size-distribution audit (VERDICT r3 #8) ---------------------------
_BUCKET_STATS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, {_h_sql('s')} % {_MH_P} AS h9 FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh9 GROUP BY doc_id),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS band_key FROM sig"
        for b in range(_BANDS))}
    ),
    sizes AS (
      SELECT band, band_key, count(*) AS sz FROM bands GROUP BY band, band_key
    ),
    agg AS (
      SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(sz) AS BIGINT) AS n_docs,
             CAST(max(sz) AS BIGINT) AS max_size
      FROM sizes GROUP BY band
    ),
    hist AS (SELECT band, sz, count(*) AS nb FROM sizes GROUP BY band, sz),
    cum AS (
      SELECT a.band, a.sz, sum(b.nb) AS cb
      FROM hist a JOIN hist b ON a.band = b.band AND b.sz <= a.sz
      GROUP BY a.band, a.sz
    ),
    p99 AS (
      SELECT c.band, CAST(min(c.sz) AS BIGINT) AS p99_size
      FROM cum c JOIN agg g ON c.band = g.band
      WHERE c.cb * 100 >= 99 * g.n_buckets
      GROUP BY c.band
    )
    SELECT agg.band, n_buckets, n_docs, max_size, p99_size
    FROM agg JOIN p99 ON agg.band = p99.band
    """


@query("dedup_bucket_stats", oracle=_BUCKET_STATS_SQL)
def dedup_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-size audit: (band, n_buckets, n_docs, max_size,
    p99_size). An operator running MinHash dedup at 100 TB reads this BEFORE
    choosing dedup_minhash_lsh vs dedup_minhash_salted — a max_size holding a
    large corpus fraction (boilerplate pages all landing in one bucket) means
    the plain bucket-collect would buffer that bucket in one task and the
    salted variant is required (VERDICT r3 #8).

    Scale shape: one (band, band_key) groupBy of the band frame (the same
    shuffle the dedup join itself needs), then a size-histogram — bounded by
    max bucket size, not corpus size — so p99 comes from a per-band
    triangular join over the bounded histogram, never a percentile buffer or
    an unpartitioned window. p99_size = smallest size s with
    cum_buckets(<=s) >= ceil(0.99 * n_buckets), in exact integer arithmetic
    on both engines."""
    bands = _band_frame(spark, sf_dir)
    sizes = bands.groupBy("band", "band_key").agg(F.count("*").alias("sz"))
    agg = sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum("sz").alias("n_docs"),
        F.max("sz").alias("max_size"),
    )
    hist = sizes.groupBy("band", "sz").agg(F.count("*").alias("nb"))
    h2 = hist.select(
        F.col("band").alias("band2"), F.col("sz").alias("sz2"), F.col("nb").alias("nb2")
    )
    cum = (
        hist.join(
            F.broadcast(h2),
            (F.col("band") == F.col("band2")) & (F.col("sz2") <= F.col("sz")),
        )
        .groupBy("band", "sz")
        .agg(F.sum("nb2").alias("cb"))
    )
    p99 = (
        cum.join(F.broadcast(agg.select("band", "n_buckets")), "band")
        .filter(F.col("cb") * 100 >= 99 * F.col("n_buckets"))
        .groupBy("band")
        .agg(F.min("sz").alias("p99_size"))
    )
    return agg.join(F.broadcast(p99), "band").select(
        "band", "n_buckets", "n_docs", "max_size", "p99_size"
    )


# --- LSH recall contract: does banding surface the true near-dups? -----------
_RECALL_TAU = 0.8


@query(
    "dedup_lsh_recall",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON id_a = sa.doc_id
                 JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
              >= {_RECALL_TAU}
    ),
    cand AS ({_MINHASH_PAIRS_SQL})
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM truth t
                 JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
                AS BIGINT) AS n_hit,
           round(CAST((SELECT count(*) FROM truth t
                       JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
                      AS DOUBLE)
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified-approximation contract for TEXT dedup — the
    ``embed_ann_recall`` shape applied to MinHash-LSH: of all TRUE
    near-dup pairs (exact shingle Jaccard >= {tau}), what fraction does
    the banded candidate generation surface? The number an operator
    checks before trusting a (k, bands) configuration to not silently
    keep duplicates at 100 TB; its analytic expectation is the S-curve
    1-(1-J^r)^b that dedup_minhash_band_sweep measures.

    Scale shape: ground truth comes from the shared-shingle equi-join
    (work ~ co-shingle fanout — the verifier path, bounded at audit
    sample sizes; at full scale you run this on a sampled stratum),
    candidates from the banded pipeline (linear); both reduce to one-row
    counts before the final broadcast combine.""".format(tau=_RECALL_TAU)
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    truth = (
        inter.join(sizes.selectExpr("doc_id AS id_a", "n AS na"), "id_a")
        .join(sizes.selectExpr("doc_id AS id_b", "n AS nb"), "id_b")
        .filter(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= _RECALL_TAU
        )
        .select("id_a", "id_b")
    )
    cand = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    nt = truth.agg(F.expr("count(*) AS n_truth"))
    nc = cand.agg(F.expr("count(*) AS n_candidates"))
    nh = truth.join(cand, ["id_a", "id_b"]).agg(F.expr("count(*) AS n_hit"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .selectExpr(
            "n_truth",
            "n_candidates",
            "n_hit",
            "round(CAST(n_hit AS DOUBLE) / greatest(n_truth, 1), 6) AS recall",
        )
    )


# --- URL canonicalization dedup -----------------------------------------------
# The fixture has no URL column, so a deterministic raw URL is derived per
# document carrying the real-world mess: mixed-case hosts, optional www.
# prefix, trailing-slash variants, utm tracking params. Canonicalization
# (lowercase host, strip www., strip trailing slash, drop tracking params)
# collapses variants of the same resource — the first dedup a web corpus
# runs, BEFORE any content hashing (CommonCrawl dedup stage 0).
_URL_HOST_SQL = """
  concat(
    CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END,
    CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
    CASE WHEN doc_id % 4 = 1 THEN '.Example.COM' ELSE '.example.com' END
  )
"""
_URL_PATH_SQL = """
  concat('/p/', CAST(doc_id % 40 AS STRING),
         CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
"""
_URL_QUERY_SQL = """
  CASE WHEN doc_id % 2 = 0
       THEN concat('?utm_campaign=c', CAST(doc_id % 6 AS STRING))
       ELSE '' END
"""
_URL_RAW_SQL = (
    f"concat('https://', {_URL_HOST_SQL}, {_URL_PATH_SQL}, {_URL_QUERY_SQL})"
)
# canonical: lowercase host, strip leading www., strip trailing slash,
# drop the (tracking-only) query string. NOTE trailing-slash strip is a
# CASE + left(), not rtrim(s, '/'): Spark SQL's two-arg rtrim takes
# (trimStr, str) — REVERSED from DuckDB's (str, chars) — so a shared
# rtrim expression silently trims the wrong argument in one engine.
_URL_CANON_SQL = f"""
  concat('https://',
         CASE WHEN lower({_URL_HOST_SQL}) LIKE 'www.%'
              THEN substring(lower({_URL_HOST_SQL}), 5)
              ELSE lower({_URL_HOST_SQL}) END,
         CASE WHEN {_URL_PATH_SQL} LIKE '%/'
              THEN left({_URL_PATH_SQL}, length({_URL_PATH_SQL}) - 1)
              ELSE {_URL_PATH_SQL} END)
"""


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH u AS (
      SELECT source,
             {_URL_RAW_SQL.replace("AS STRING", "AS VARCHAR")} AS url_raw,
             {_URL_CANON_SQL.replace("AS STRING", "AS VARCHAR")} AS url_canon
      FROM documents
    ),
    g AS (
      SELECT source, url_canon,
             count(DISTINCT url_raw) AS n_variants, count(*) AS n_docs
      FROM u GROUP BY source, url_canon
    )
    SELECT source,
           count(*) AS n_canonical,
           CAST(sum(n_variants) AS BIGINT) AS n_raw,
           CAST(max(n_variants) AS BIGINT) AS max_variants,
           CAST(sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_collapsed_groups
    FROM g GROUP BY source
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup accounting per source: how many raw URL
    forms collapse into each canonical resource (lowercased host, www.
    stripped, trailing slash trimmed, tracking params dropped), the
    largest variant group, and how many groups actually collapsed. Two
    stacked map-combinable aggs on the canonical key — one shuffle on
    (source, url_canon) whose cardinality is the RESOURCE count, then a
    per-source rollup; at crawl scale this is the cheap stage-0 dedup
    that runs before any content hash. The canonicalizer is a pure
    generated expression (no UDF): whole-stage codegen string ops."""
    docs = load_table(spark, sf_dir, "documents")
    u = docs.selectExpr(
        "source",
        f"{_URL_RAW_SQL} AS url_raw",
        f"{_URL_CANON_SQL} AS url_canon",
    )
    g = u.groupBy("source", "url_canon").agg(
        F.countDistinct("url_raw").alias("n_variants"),
        F.count("*").alias("n_docs"),
    )
    return g.groupBy("source").agg(
        F.count("*").alias("n_canonical"),
        F.sum("n_variants").alias("n_raw"),
        F.max("n_variants").alias("max_variants"),
        F.sum((F.col("n_variants") > 1).cast("bigint")).alias(
            "n_collapsed_groups"
        ),
    )


# --- B-cubed evaluation of the LSH clustering vs exact-dup truth --------------
@query(
    "dedup_bcubed_eval",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
    assign AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS c,
             t.t_id AS t
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.node
      JOIN (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS t_id
        FROM documents
      ) t ON d.doc_id = t.doc_id
    ),
    ct AS (SELECT c, t, count(*) AS n_ct FROM assign GROUP BY c, t),
    cs AS (SELECT c, CAST(sum(n_ct) AS BIGINT) AS n_c FROM ct GROUP BY c),
    ts AS (SELECT t, CAST(sum(n_ct) AS BIGINT) AS n_t FROM ct GROUP BY t),
    terms AS (
      SELECT ct.n_ct,
             CAST(round(1000000000.0 * (ct.n_ct * ct.n_ct) / cs.n_c)
                  AS BIGINT) AS p9,
             CAST(round(1000000000.0 * (ct.n_ct * ct.n_ct) / ts.n_t)
                  AS BIGINT) AS r9
      FROM ct JOIN cs USING (c) JOIN ts USING (t)
    ),
    agg AS (
      SELECT CAST(sum(n_ct) AS BIGINT) AS n_docs,
             CAST(sum(CAST(p9 AS DECIMAL(38,0))) AS DOUBLE) / 1e9 AS ps,
             CAST(sum(CAST(r9 AS DECIMAL(38,0))) AS DOUBLE) / 1e9 AS rs
      FROM terms
    )
    SELECT n_docs,
           round(ps / n_docs, 6) AS bcubed_p,
           round(rs / n_docs, 6) AS bcubed_r,
           round(2.0 * (ps / n_docs) * (rs / n_docs)
                 / (ps / n_docs + rs / n_docs), 6) AS bcubed_f1
    FROM agg
    """,
)
def dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 of the MinHash-LSH connected-component
    clustering against exact-content-hash truth — the standard extrinsic
    clustering metric (Bagga & Baldwin 1998) a dedup pipeline reports
    before committing a near-dup config. Entirely relational: per-item
    terms collapse to (cluster, truth) intersection counts, so the cost
    is one groupBy over assignments plus two bounded side aggregates —
    never per-item loops. Per-term ratios are 1e-9-quantized and
    decimal-summed (partition-order-proof); n_ct*n_ct stays exact as
    bigint→double below 2^53 (documented bound: clusters of <=3e7 docs;
    beyond that switch the term scale)."""
    clus = dedup_clusters(spark, sf_dir)  # doc_id, cluster_id
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("t"))
        .join(docs.select("doc_id", F.md5("text").alias("h")), "h")
        .select("doc_id", "t")
    )
    assign = clus.join(truth, "doc_id").select(
        F.col("cluster_id").alias("c"), "t"
    )
    ct = assign.groupBy("c", "t").agg(F.count("*").alias("n_ct"))
    cs = ct.groupBy("c").agg(F.sum("n_ct").alias("n_c"))
    ts = ct.groupBy("t").agg(F.sum("n_ct").alias("n_t"))
    terms = (
        ct.join(cs, "c")
        .join(ts, "t")
        .select(
            "n_ct",
            N.fround_int(
                1000000000.0 * (F.col("n_ct") * F.col("n_ct")) / F.col("n_c")
            ).alias("p9"),
            N.fround_int(
                1000000000.0 * (F.col("n_ct") * F.col("n_ct")) / F.col("n_t")
            ).alias("r9"),
        )
    )
    agg = terms.agg(
        F.sum("n_ct").alias("n_docs"),
        (F.sum(F.col("p9").cast("decimal(38,0)")).cast("double") / 1e9).alias("ps"),
        (F.sum(F.col("r9").cast("decimal(38,0)")).cast("double") / 1e9).alias("rs"),
    )
    p = F.col("ps") / F.col("n_docs")
    r = F.col("rs") / F.col("n_docs")
    return agg.select(
        "n_docs",
        F.round(p, 6).alias("bcubed_p"),
        F.round(r, 6).alias("bcubed_r"),
        F.round(2.0 * p * r / (p + r), 6).alias("bcubed_f1"),
    )


# --- Adjusted Rand Index of LSH clustering vs exact-dup truth -----------------
@query(
    "dedup_ari_eval",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
    assign AS (
      SELECT coalesce(c.cluster_id, d.doc_id) AS c, t.t_id AS t
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.node
      JOIN (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS t_id
        FROM documents
      ) t ON d.doc_id = t.doc_id
    ),
    ct AS (SELECT c, t, count(*) AS n_ct FROM assign GROUP BY c, t),
    sums AS (
      SELECT
        CAST(sum(n_ct) AS BIGINT) AS n,
        CAST(sum(CAST(n_ct * (n_ct - 1) / 2 AS DECIMAL(38,0))) AS DOUBLE)
          AS s_ct
      FROM ct
    ),
    sc AS (
      SELECT CAST(sum(CAST(n_c * (n_c - 1) / 2 AS DECIMAL(38,0))) AS DOUBLE)
               AS s_c
      FROM (SELECT CAST(sum(n_ct) AS BIGINT) AS n_c FROM ct GROUP BY c)
    ),
    st AS (
      SELECT CAST(sum(CAST(n_t * (n_t - 1) / 2 AS DECIMAL(38,0))) AS DOUBLE)
               AS s_t
      FROM (SELECT CAST(sum(n_ct) AS BIGINT) AS n_t FROM ct GROUP BY t)
    )
    SELECT n AS n_docs,
           round(
             (s_ct - s_c * s_t / (n * (n - 1) / 2.0))
             / ((s_c + s_t) / 2.0 - s_c * s_t / (n * (n - 1) / 2.0)),
             6
           ) AS ari
    FROM sums, sc, st
    """,
)
def dedup_ari_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) of the LSH clustering
    against exact-content truth — the chance-corrected pair-counting
    companion to dedup_bcubed_eval, from the SAME (cluster, truth)
    contingency table. Every term is integer combinatorics C(n,2)
    (exact through the even-product/2 double for counts < 2^26, i.e.
    C(n,2) < 2^53 — same bound both engines, identical beyond it) summed
    as DECIMAL(38,0); only the final ratio is double — so the metric is
    bit-stable under any partitioning, unlike a naive double-sum of
    per-pair indicators."""
    clus = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("t"))
        .join(docs.select("doc_id", F.md5("text").alias("h")), "h")
        .select("doc_id", "t")
    )
    assign = clus.join(truth, "doc_id").select(
        F.col("cluster_id").alias("c"), "t"
    )
    ct = assign.groupBy("c", "t").agg(F.count("*").alias("n_ct"))

    def choose2_sum(df, col, out):
        pairs = (F.col(col) * (F.col(col) - 1) / 2).cast("decimal(38,0)")
        return df.agg(F.sum(pairs).cast("double").alias(out))

    sums = ct.agg(
        F.sum("n_ct").alias("n"),
        F.sum((F.col("n_ct") * (F.col("n_ct") - 1) / 2).cast("decimal(38,0)"))
        .cast("double")
        .alias("s_ct"),
    )
    sc = choose2_sum(ct.groupBy("c").agg(F.sum("n_ct").alias("n_c")), "n_c", "s_c")
    st = choose2_sum(ct.groupBy("t").agg(F.sum("n_ct").alias("n_t")), "n_t", "s_t")
    j = sums.crossJoin(F.broadcast(sc)).crossJoin(F.broadcast(st))
    npairs = F.col("n") * (F.col("n") - 1) / 2.0
    expected = F.col("s_c") * F.col("s_t") / npairs
    ari = (F.col("s_ct") - expected) / (
        (F.col("s_c") + F.col("s_t")) / 2.0 - expected
    )
    return j.select(F.col("n").alias("n_docs"), F.round(ari, 6).alias("ari"))


@query(
    "graph_modularity",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
      WHERE w.label < e.b
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
    deg AS (SELECT a AS node, count(*) AS d FROM edges GROUP BY a),
    nodes AS (
      SELECT c.cluster_id,
             count(*) AS n_nodes,
             CAST(sum(g.d) AS BIGINT) AS degree_sum
      FROM comp c JOIN deg g ON c.node = g.node
      GROUP BY c.cluster_id
    ),
    intra AS (
      SELECT ca.cluster_id, count(*) AS intra_edges
      FROM pairs p
      JOIN comp ca ON p.id_a = ca.node
      JOIN comp cb ON p.id_b = cb.node
      WHERE ca.cluster_id = cb.cluster_id
      GROUP BY ca.cluster_id
    ),
    mt AS (SELECT count(*) AS m FROM pairs)
    SELECT n.cluster_id,
           n.n_nodes,
           coalesce(i.intra_edges, 0) AS intra_edges,
           n.degree_sum,
           round(
             (4.0 * mt.m * coalesce(i.intra_edges, 0)
              - CAST(n.degree_sum AS DOUBLE) * n.degree_sum)
             / (4.0 * mt.m * mt.m),
             6
           ) AS q_contrib
    FROM nodes n LEFT JOIN intra i ON n.cluster_id = i.cluster_id, mt
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity audit of the LSH dedup clustering, per cluster:
    q_contrib = e_c/m - (d_c/2m)^2 over the MinHash-LSH candidate-pair
    graph (so the TOTAL modularity of the clustering is sum(q_contrib)).
    Because the clustering IS the connected components of that graph,
    every edge is intra-cluster and Q = 1 - sum(d_c^2)/(4m^2); the query
    still computes e_c by the general both-endpoints join so the same
    plan audits ANY (node, cluster) assignment (e.g. a k-cut of the
    clusters). A low-q_contrib giant cluster is the chained-near-dup
    pathology (A~B~C but A!~C) that tells an operator to tighten bands
    before collapsing clusters at 100 TB.

    Scale: the pair list is localCheckpointed once (it feeds components,
    degrees, and the intra join — without it the minhash signature
    pipeline would run three times); everything after is equi-joins and
    aggregations on (node)/(cluster_id). All arithmetic is exact-integer
    until one final double division + round (4*m*e and d_c^2 stay below
    2^53 for any m < 2^25 pairs per evaluation slice).

    Reference parity: cluster-quality eval of the dedup grouping the
    reference does by eyeballing group sizes (teamProject/preprocessing
    notebooks); here it is a closed-form metric. Oracle: DuckDB
    RECURSIVE-CTE components + the same contingency arithmetic.
    """
    from ..operators.graph_ops import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b").localCheckpoint()
    comp = connected_components(pairs, "id_a", "id_b", edges_unique=True)
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .unionAll(pairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    nodes = (
        comp.join(deg, "node")
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count("*").alias("n_nodes"), F.sum("d").alias("degree_sum"))
    )
    intra = (
        pairs.join(
            comp.select(F.col("node").alias("id_a"), F.col("component").alias("ca")),
            "id_a",
        )
        .join(
            comp.select(F.col("node").alias("id_b"), F.col("component").alias("cb")),
            "id_b",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(F.count("*").alias("intra_edges"))
    )
    mt = pairs.agg(F.count("*").alias("m"))
    j = (
        nodes.join(intra, "cluster_id", "left")
        .na.fill({"intra_edges": 0})
        .crossJoin(F.broadcast(mt))
    )
    q = F.expr(
        N.spark_fround(
            "(4.0D * m * intra_edges - CAST(degree_sum AS DOUBLE) * degree_sum)"
            " / (4.0D * m * m)",
            6,
        )
    )
    return j.select(
        "cluster_id",
        "n_nodes",
        "intra_edges",
        "degree_sum",
        q.alias("q_contrib"),
    )


# --- exact duplicated-substring spans (k-gram fingerprint method) ------------
_SUBSTR_K = 5  # tokens per fingerprint gram


@query(
    "dedup_substring_kgram",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    kg AS (
      SELECT doc_id, n_tok, p,
             concat_ws(' ', toks[p], toks[p+1], toks[p+2], toks[p+3], toks[p+4])
               AS gram
      FROM (SELECT doc_id, n_tok, toks,
                   unnest(generate_series(1, n_tok - {_SUBSTR_K - 1})) AS p
            FROM base WHERE n_tok >= {_SUBSTR_K})
    ),
    dup AS (SELECT gram FROM kg GROUP BY gram HAVING count(*) >= 2),
    pos AS (
      SELECT k.doc_id, k.n_tok, k.p, k.p + {_SUBSTR_K - 1} AS e
      FROM kg k JOIN dup d ON k.gram = d.gram
    ),
    m AS (
      SELECT doc_id, n_tok, p, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
      FROM pos
    ),
    isl AS (
      SELECT doc_id, n_tok, p, e,
             sum(CASE WHEN pmax IS NULL OR p > pmax + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM m
    ),
    spans AS (
      SELECT doc_id, n_tok, isl, min(p) AS s, max(e) AS e
      FROM isl GROUP BY doc_id, n_tok, isl
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
           CAST(n_tok AS BIGINT) AS n_tok,
           round(CAST(sum(e - s + 1) AS DOUBLE) / n_tok, 6) AS dup_frac
    FROM spans GROUP BY doc_id, n_tok
    """,
)
def dedup_substring_kgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection, the suffix-array dedup method
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better") re-expressed for a shuffle engine: every k-token gram is a
    fingerprint of the substring starting at that position; a gram occurring
    >= 2 times anywhere in the corpus marks its k tokens as duplicated text,
    and overlapping/adjacent duplicated positions merge into maximal spans
    (the gaps-and-islands interval merge). Output: per document, the number
    of maximal duplicated spans, tokens covered, and coverage fraction —
    the per-doc report a span-removal pass would consume. Docs with no
    duplicated gram are absent by construction.

    Scale shape: the gram table is corpus-linear (one row per token
    position); duplicate detection is one hash-groupBy on the gram (at
    100 TB, group on xxhash64(gram) instead of the string to shrink the
    shuffle row — same semantics, collision risk 2^-64); the mark-back is
    a corpus-linear equi-join; the interval merge is a doc-local window.
    Nothing quadratic anywhere — unlike pairwise near-dup, exact substring
    dedup is linear by nature, which is why it runs at trillion-token scale
    in practice (reference scope: teamProject's corpus prep has no substring
    pass; this is north-star extension surface).
    """
    k = _SUBSTR_K
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    kg = docs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tok"),
        F.posexplode(T.ngrams("toks", k)).alias("p0", "gram"),
    ).select(
        "doc_id", "n_tok", (F.col("p0") + 1).cast("bigint").alias("p"), "gram"
    )
    dup = kg.groupBy("gram").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    pos = kg.join(dup.select("gram"), "gram").select(
        "doc_id", "n_tok", "p", (F.col("p") + (k - 1)).alias("e")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = pos.withColumn("pmax", F.max("e").over(w_prev)).withColumn(
        "isl",
        F.sum(
            (
                F.col("pmax").isNull() | (F.col("p") > F.col("pmax") + 1)
            ).cast("bigint")
        ).over(w_run),
    )
    spans = marked.groupBy("doc_id", "n_tok", "isl").agg(
        F.min("p").alias("s"), F.max("e").alias("e")
    )
    return spans.groupBy("doc_id", "n_tok").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    ).select(
        "doc_id",
        "n_spans",
        "dup_tokens",
        "n_tok",
        F.round(F.col("dup_tokens").cast("double") / F.col("n_tok"), 6).alias(
            "dup_frac"
        ),
    )


# --- streaming dedup-on-ingest: LSH band state through the real engine -------
_INGEST_BATCHES = 3
_INGEST_ORD = 1_000_000_000  # order key = batch * _INGEST_ORD + doc_id


@query(
    "stream_dedup_lsh_ingest",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, {_h_sql('s')} % {_MH_P} AS h9 FROM sh),
    sig AS (
      SELECT doc_id,
             {_SIG_COLS}
      FROM sh9 GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS band_key FROM sig"
        for b in range(_BANDS))}
    ),
    keyed AS (
      SELECT doc_id, band, band_key,
             doc_id % {_INGEST_BATCHES} AS batch
      FROM bands
    ),
    firstk AS (
      SELECT band, band_key,
             min((doc_id % {_INGEST_BATCHES}) * {_INGEST_ORD} + doc_id) AS win
      FROM keyed GROUP BY band, band_key
    ),
    docflag AS (
      SELECT k.doc_id, k.batch,
             max(CAST(f.win < k.batch * {_INGEST_ORD} + k.doc_id AS INT))
               AS is_dup
      FROM keyed k
      JOIN firstk f ON k.band = f.band AND k.band_key = f.band_key
      GROUP BY k.doc_id, k.batch
    ),
    flags AS (
      SELECT a.doc_id, a.doc_id % {_INGEST_BATCHES} AS batch_id,
             coalesce(d.is_dup, 0) AS is_dup
      FROM documents a LEFT JOIN docflag d ON a.doc_id = d.doc_id
    )
    SELECT batch_id,
           count(*) AS n_docs,
           CAST(sum(1 - is_dup) AS BIGINT) AS n_emitted,
           CAST(sum(is_dup) AS BIGINT) AS n_suppressed,
           CAST(sum(CASE WHEN is_dup = 0 THEN doc_id ELSE 0 END) AS BIGINT)
             AS emitted_id_sum
    FROM flags GROUP BY batch_id
    """,
)
def stream_dedup_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup ON INGEST through the real streaming engine — the
    composition a 100 TB corpus actually runs daily: documents arrive in
    micro-batches; each batch is MinHash-signed, its bands probe the
    STANDING band index (parquet state appended by prior batches), and a
    document is suppressed if ANY band was already claimed — by an earlier
    batch, or by a smaller-doc_id document within its own batch. State
    registers every SEEN document's bands (winners and suppressed alike —
    the aggressive first-claim rule), so the drained outcome is exactly
    "a doc is a dup iff some band's global (batch, doc_id)-min precedes
    it", which is what the oracle states batch-free. Lives beside the
    batch LSH machinery it reuses (`_bands_of`); semantics =
    dedup_incremental_bands generalized from one increment to a pinned
    {_INGEST_BATCHES}-epoch ingest.

    Scale shape: per micro-batch the probe is a (band, band_key)
    equi-join of BATCH bands against the standing index — shuffle linear
    in the batch, the index is append-only (never rewritten, bucket it by
    band_key in production); within-batch claims are one map-side-combined
    min per band. The drained summary is {_INGEST_BATCHES} rows."""
    import shutil
    import tempfile as _tf
    import uuid

    from pyspark.errors import AnalysisException

    docs = load_table(spark, sf_dir, "documents")
    base = _tf.mkdtemp(prefix=f"usw_ingest_{uuid.uuid4().hex[:8]}_")
    watch, ckpt = f"{base}/in", f"{base}/ckpt"
    state, out = f"{base}/state", f"{base}/out"
    import os as _os

    _os.makedirs(watch)

    for i in range(_INGEST_BATCHES):
        stage = f"{base}/stage{i}"
        docs.filter(F.col("doc_id") % _INGEST_BATCHES == i).coalesce(
            1
        ).write.parquet(stage)
        part = next(
            f
            for f in _os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = f"{watch}/{i:03d}.parquet"
        shutil.move(f"{stage}/{part}", dst)
        _os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))

    def _ingest(batch_df: DataFrame, _bid: int) -> None:
        # a micro-batch from maxFilesPerTrigger=1 is ONE file -> ONE input
        # split, so the CPU-heavy shingle/md5/minhash derivation would run
        # single-task (the 16x gate measured 11.5x wall before this spread;
        # 2.6x after). Same note as _shingles: at 100 TB the batch has
        # natural splits and this repartition is a no-op to remove.
        batch_df = batch_df.repartition(spark.sparkContext.defaultParallelism)
        bands = _bands_of(batch_df).persist()
        try:
            try:
                seen = (
                    spark.read.parquet(state)
                    .select("band", "band_key")
                    .distinct()
                    .withColumn("seen", F.lit(1))
                )
            except AnalysisException:  # first batch: no standing index yet
                seen = None
            claims = bands.groupBy("band", "band_key").agg(
                F.min("doc_id").alias("batch_min")
            )
            probed = bands.join(claims, ["band", "band_key"])
            if seen is not None:
                probed = probed.join(seen, ["band", "band_key"], "left")
            else:
                probed = probed.withColumn("seen", F.lit(None).cast("int"))
            flag = probed.groupBy("doc_id").agg(
                F.max(
                    (
                        F.col("seen").isNotNull()
                        | (F.col("doc_id") > F.col("batch_min"))
                    ).cast("int")
                ).alias("is_dup")
            )
            summary = (
                batch_df.join(flag, "doc_id", "left")
                .select(
                    (F.col("doc_id") % _INGEST_BATCHES).alias("batch_id"),
                    "doc_id",
                    F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
                )
                .groupBy("batch_id")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum(1 - F.col("is_dup")).alias("n_emitted"),
                    F.sum("is_dup").alias("n_suppressed"),
                    F.sum(
                        F.when(F.col("is_dup") == 0, F.col("doc_id")).otherwise(
                            0
                        )
                    ).alias("emitted_id_sum"),
                )
            )
            summary.coalesce(1).write.mode("append").parquet(out)
            # register every seen doc's bands (first-claim rule)
            bands.coalesce(1).write.mode("append").parquet(state)
        finally:
            bands.unpersist()

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    result = spark.read.parquet(out).select(
        "batch_id",
        "n_docs",
        F.col("n_emitted").cast("bigint").alias("n_emitted"),
        F.col("n_suppressed").cast("bigint").alias("n_suppressed"),
        F.col("emitted_id_sum").cast("bigint").alias("emitted_id_sum"),
    )
    rows = result.collect()  # materialize before removing the staging dirs
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


# --- b-bit minhash (Li & Koenig 2010) estimation audit -----------------------
_BB_BITS = 2
_BB_M = 1 << _BB_BITS  # 4
_BB_C0 = 1.0 / _BB_M  # collision base rate of independent b-bit coords


@query(
    "minhash_bbit_estimate",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sh9 AS (SELECT doc_id, {_h_sql('s')} % {_MH_P} AS h9 FROM sh),
    sig AS (
      SELECT doc_id,
             {_SIG_COLS}
      FROM sh9 GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS band_key FROM sig"
        for b in range(_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             ({' + '.join(f"CAST(sa.h{j} = sb.h{j} AS INT)" for j in range(_K))})
               AS m_full,
             ({' + '.join(f"CAST(sa.h{j} % {_BB_M} = sb.h{j} % {_BB_M} AS INT)"
                          for j in range(_K))}) AS m_bbit
      FROM cand c JOIN sig sa ON c.id_a = sa.doc_id
                  JOIN sig sb ON c.id_b = sb.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT e.id_a, e.id_b,
           round(CAST(e.m_full AS DOUBLE) / {_K}.0, 6) AS est_full,
           round((CAST(e.m_bbit AS DOUBLE) / {_K}.0 - {_BB_C0})
                 / (1.0 - {_BB_C0}), 6) AS est_bbit,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS exact_jaccard,
           round(abs(CAST(e.m_full AS DOUBLE) / {_K}.0
                     - CAST(coalesce(i.n_common, 0) AS DOUBLE)
                       / (sa.n + sb.n - coalesce(i.n_common, 0))), 6) AS err_full,
           round(abs((CAST(e.m_bbit AS DOUBLE) / {_K}.0 - {_BB_C0})
                       / (1.0 - {_BB_C0})
                     - CAST(coalesce(i.n_common, 0) AS DOUBLE)
                       / (sa.n + sb.n - coalesce(i.n_common, 0))), 6) AS err_bbit
    FROM est e
    LEFT JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
    JOIN sizes sa ON e.id_a = sa.doc_id
    JOIN sizes sb ON e.id_b = sb.doc_id
    """,
)
def minhash_bbit_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash (Li & Koenig 2010): keep only the lowest b={b} bits of
    each of the k={k} minhash coordinates — a {ratio}x signature-storage cut,
    the lever that makes billion-doc signature matrices fit memory — and
    estimate Jaccard with the collision-rate correction
    J = (C - C0)/(1 - C0), C0 = 2^-b, next to the full-width estimate and
    the exact shingle Jaccard for the same LSH candidate pairs. The audit
    quantifies exactly what the storage cut costs in estimator variance
    (est_bbit can go negative on near-disjoint pairs — that is the
    estimator's documented behavior, not an error). Candidates come from
    the banded equi-join (never all-pairs); all matching is integer; the
    correction is one identical double expression per engine.""".format(
        b=_BB_BITS, k=_K, ratio=60 // _BB_BITS
    )
    sig = _sig_frame(spark, sf_dir)
    bands = _band_frame(spark, sf_dir)
    buckets = bands.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    cand = (
        buckets.select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(_K)],
    )
    m_full = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(_K)
    )
    m_bbit = sum(
        (F.col(f"a{j}") % _BB_M == F.col(f"b{j}") % _BB_M).cast("int")
        for j in range(_K)
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", m_full.alias("m_full"), m_bbit.alias("m_bbit"))
    )
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # exact intersections only for the LSH candidates (r08, see
    # _cand_intersections)
    inter = _cand_intersections(cand, sh)
    ef = F.col("m_full").cast("double") / float(_K)
    eb = (F.col("m_bbit").cast("double") / float(_K) - _BB_C0) / (1.0 - _BB_C0)
    ex = F.col("n_common_f").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common_f")
    )
    return (
        est.join(inter, ["id_a", "id_b"], "left")
        .withColumn("n_common_f", F.coalesce(F.col("n_common"), F.lit(0)))
        .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(ef, 6).alias("est_full"),
            F.round(eb, 6).alias("est_bbit"),
            F.round(ex, 6).alias("exact_jaccard"),
            F.round(F.abs(ef - ex), 6).alias("err_full"),
            F.round(F.abs(eb - ex), 6).alias("err_bbit"),
        )
    )


# --- token savings from near-dup suppression -----------------------------------
@query(
    "dedup_token_savings",
    oracle=f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL}),
    dominated AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
    toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dominated,
           CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN t.n_tok ELSE 0 END)
                AS BIGINT) AS tokens_saved,
           CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN t.n_tok ELSE 0 END)
                * 1000000 // sum(t.n_tok) AS BIGINT) AS savings_ppm
    FROM toks t LEFT JOIN dominated d ON t.doc_id = d.doc_id
    GROUP BY t.source
    """,
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The budget question a dedup pass actually answers: how many
    TRAINING TOKENS does near-dup suppression save, per source? A doc is
    suppressed when any LSH candidate partner has a smaller id (one-hop
    first-claim — the same policy stream_dedup_lsh_ingest applies on
    ingest; full-component pruning is dedup_clusters' job). Savings are
    reported in exact integer ppm of each source's token budget.

    Scale shape: candidates come from the banded minhash equi-join
    (never all-pairs); the dominated set is a projection of the pair
    list; token counting is one linear scan. Integer arithmetic end to
    end."""
    bands = _band_frame(spark, sf_dir)
    buckets = bands.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    dominated = (
        buckets.select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .select(F.col("p.id_b").alias("doc_id"))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    # plain equi-join: dominated is a per-doc id set that scales with the
    # near-dup rate x corpus — forced broadcast would OOM at large SF
    # (ADVICE r6 class); AQE broadcasts while it fits.
    j = toks.join(dominated.withColumn("dom", F.lit(1)), "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens_total"),
        F.sum(F.when(F.col("dom").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dominated"),
        F.sum(F.when(F.col("dom").isNotNull(), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tokens_saved"),
        F.expr(
            "CAST(sum(CASE WHEN dom IS NOT NULL THEN n_tok ELSE 0 END)"
            " * 1000000 div sum(n_tok) AS BIGINT)"
        ).alias("savings_ppm"),
    )
