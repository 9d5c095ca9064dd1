"""Privacy / governance audits run before a table or corpus is released
for analytics or model training: k-anonymity equivalence-class profiling,
l-diversity of a sensitive attribute within quasi-identifier classes, and
re-identification (uniqueness) risk across every quasi-identifier subset
in one cube pass.

Reference scope: the reference's pipelines hand per-customer extracts to
downstream modeling after column drops / masking
(teamProject/preprocess/preprocessing.py's drop and recode steps,
elice/3,4week filter-mask exercises); these queries are that release
gate re-expressed as first-class distributed audits with measurable
thresholds instead of ad-hoc column lists.

Scale notes (100 TB):
- An equivalence class table is ONE hash-aggregate on the QI tuple — the
  same shuffle any groupBy costs; everything downstream is keyed by class
  SIZE (four fixed buckets), distinct-count l (bounded by the sensitive
  domain), or QI-subset id (2^|QI| rows), so no operator holds fact-scale
  state past the first agg and every agg is map-side combinable.
- privacy_qi_uniqueness uses cube() so all 2^3 QI subsets share one scan
  and one shuffle (map-side row expansion with partial aggregation beats
  2^3 separate scans of a 100 TB table on IO alone).
- Subset identity comes from grouping() flags, NOT key nullness — a NULL
  in the data can never masquerade as a grouped-out column, so the audit
  stays correct on tables with incomplete quasi-identifiers.
- No windows, no driver-side loops; output cardinality is O(buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..registry import query
from ..sources import load_table
from .dedup import _h_spark, _h_sql

# Quasi-identifiers for the customer table: nation + market segment +
# account-balance band (floor(bal/1000) — the granularity a published
# aggregate table would carry). Sensitive attribute: the balance band.
_QI_SQL = (
    "c_nationkey",
    "c_mktsegment",
    "CAST(floor(c_acctbal / 1000.0) AS INT)",
)


def _qi_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(_QI_SQL[2]).alias("bal_band"),
    )


_QI_CTE = f"""
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         {_QI_SQL[2]} AS bal_band
  FROM customer
"""


@query(
    "privacy_k_anonymity",
    oracle=f"""
    WITH qi AS ({_QI_CTE}),
    cls AS (
      SELECT nation, segment, bal_band, count(*) AS k
      FROM qi GROUP BY nation, segment, bal_band
    ),
    b AS (
      SELECT CASE WHEN k = 1 THEN 'k=1' WHEN k <= 4 THEN 'k=2-4'
                  WHEN k <= 9 THEN 'k=5-9' ELSE 'k>=10' END AS k_bucket,
             count(*) AS n_classes, CAST(sum(k) AS BIGINT) AS n_rows
      FROM cls GROUP BY 1
    )
    SELECT k_bucket, n_classes, n_rows,
           round(CAST(n_rows AS DOUBLE)
                 / (SELECT CAST(count(*) AS DOUBLE) FROM qi), 6) AS row_share
    FROM b
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity profile: size distribution of the QI equivalence
    classes, bucketed (k=1 singletons are re-identifiable outright; k<5
    fails the usual publication bar). One groupBy on the QI tuple, then a
    four-row bucket agg; the total for row_share is a broadcast scalar,
    never an unpartitioned window."""
    cls = _qi_frame(spark, sf_dir).groupBy("nation", "segment", "bal_band").agg(
        F.count("*").alias("k")
    )
    bucket = (
        F.when(F.col("k") == 1, "k=1")
        .when(F.col("k") <= 4, "k=2-4")
        .when(F.col("k") <= 9, "k=5-9")
        .otherwise("k>=10")
    )
    b = cls.groupBy(bucket.alias("k_bucket")).agg(
        F.count("*").alias("n_classes"),
        F.sum("k").alias("n_rows"),
    )
    total = b.agg(F.sum("n_rows").cast("double").alias("__t"))
    return b.crossJoin(F.broadcast(total)).select(
        "k_bucket",
        "n_classes",
        "n_rows",
        F.round(F.col("n_rows").cast("double") / F.col("__t"), 6).alias("row_share"),
    )


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH qi AS ({_QI_CTE}),
    per AS (
      SELECT nation, segment, bal_band, count(*) AS n
      FROM qi GROUP BY nation, segment, bal_band
    ),
    cls AS (
      SELECT nation, segment, count(*) AS l, CAST(sum(n) AS BIGINT) AS n
      FROM per GROUP BY nation, segment
    )
    SELECT l, count(*) AS n_classes, CAST(sum(n) AS BIGINT) AS n_rows,
           l = 1 AS attr_disclosure_risk
    FROM cls GROUP BY l
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity of the sensitive attribute (balance band) within each
    (nation, segment) QI class: distribution of l = #distinct sensitive
    values per class. l=1 classes leak the attribute for every member
    even when k is large. Two stacked aggs — (QI, sensitive) then QI —
    both map-side combinable; l is bounded by the sensitive domain so the
    output is tiny at any fact scale."""
    per = _qi_frame(spark, sf_dir).groupBy("nation", "segment", "bal_band").agg(
        F.count("*").alias("n")
    )
    cls = per.groupBy("nation", "segment").agg(
        F.count("*").alias("l"), F.sum("n").alias("n")
    )
    return cls.groupBy("l").agg(
        F.count("*").alias("n_classes"),
        F.sum("n").alias("n_rows"),
        (F.col("l") == 1).alias("attr_disclosure_risk"),
    )


@query(
    "privacy_qi_uniqueness",
    oracle=f"""
    WITH qi AS ({_QI_CTE}),
    cls AS (
      SELECT concat_ws('+',
               CASE WHEN grouping(nation) = 0 THEN 'nation' END,
               CASE WHEN grouping(segment) = 0 THEN 'segment' END,
               CASE WHEN grouping(bal_band) = 0 THEN 'bal_band' END
             ) AS qi_cols,
             count(*) AS k
      FROM qi
      GROUP BY CUBE (nation, segment, bal_band)
    )
    SELECT CASE WHEN qi_cols = '' THEN '(none)' ELSE qi_cols END AS qi_set,
           count(*) AS n_classes,
           CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique_rows,
           round(CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(k) AS DOUBLE), 6) AS uniq_share
    FROM cls GROUP BY 1
    """,
)
def privacy_qi_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk ladder: for EVERY subset of the QI columns,
    the number of equivalence classes, how many rows are unique
    (class size 1 — linkable by an attacker holding exactly those
    columns), and the unique-row share. cube() computes all 2^3 subsets
    in one scan + one shuffle; subset identity comes from grouping()
    flags (never key nullness), then an 8-row second agg. This is the
    table a release reviewer reads to decide which columns to coarsen."""
    qi = _qi_frame(spark, sf_dir)
    label = F.concat_ws(
        "+",
        F.when(F.grouping("nation") == 0, F.lit("nation")),
        F.when(F.grouping("segment") == 0, F.lit("segment")),
        F.when(F.grouping("bal_band") == 0, F.lit("bal_band")),
    )
    cls = qi.cube("nation", "segment", "bal_band").agg(
        F.count("*").alias("k"), label.alias("qi_cols")
    )
    uniq = F.sum((F.col("k") == 1).cast("bigint"))
    return cls.groupBy(
        F.when(F.col("qi_cols") == "", "(none)")
        .otherwise(F.col("qi_cols"))
        .alias("qi_set")
    ).agg(
        F.count("*").alias("n_classes"),
        uniq.alias("n_unique_rows"),
        F.round(
            uniq.cast("double") / F.sum("k").cast("double"), 6
        ).alias("uniq_share"),
    )


# --- k-anonymity enforcement: generalization ladder ---------------------------
_GRANS = (1000, 2000, 5000)  # candidate balance-band widths, finest first


@query(
    "privacy_generalization_ladder",
    oracle=f"""
    WITH qi AS ({_QI_CTE}),
    lad AS (
      SELECT g.gran, nation, segment,
             CAST(floor(bal_band * 1000.0 / g.gran) AS INT) AS band,
             count(*) AS k
      FROM qi CROSS JOIN (
        SELECT unnest(ARRAY{list(_GRANS)}) AS gran
      ) g
      GROUP BY g.gran, nation, segment, band
    )
    SELECT gran, CAST(min(k) AS BIGINT) AS min_k, count(*) AS n_classes,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS rows_below_k5,
           min(k) >= 5 AS passes_k5
    FROM lad GROUP BY gran
    """,
)
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ENFORCEMENT, not just audit: evaluate every candidate
    generalization of the balance attribute (band widths 1000/2000/5000) in one
    pass and report, per width, the minimum class size, class count, and
    rows still below k=5 — the reviewer picks the finest width with
    passes_k5. One explode(×len(_GRANS)) before the single QI aggregation
    — the cube trick applied to a generalization lattice, instead of one
    full scan per candidate (at 100 TB the rescans are the cost; the
    explode adds map-side rows that partial-agg absorbs immediately).
    bal_band (width 1000) is the finest lattice level, so coarser bands
    derive from it without re-reading c_acctbal: floor-of-floor composes
    exactly for integer width ratios."""
    qi = _qi_frame(spark, sf_dir)
    lad = qi.select(
        "nation",
        "segment",
        "bal_band",
        F.explode(F.array(*[F.lit(g) for g in _GRANS])).alias("gran"),
    ).groupBy(
        "gran",
        "nation",
        "segment",
        F.floor(F.col("bal_band") * 1000.0 / F.col("gran"))
        .cast("int")
        .alias("band"),
    ).agg(F.count("*").alias("k"))
    return lad.groupBy("gran").agg(
        F.min("k").alias("min_k"),
        F.count("*").alias("n_classes"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).alias(
            "rows_below_k5"
        ),
        (F.min("k") >= 5).alias("passes_k5"),
    )


# --- differentially-private count release ------------------------------------
# Laplace mechanism, scale b = sensitivity/epsilon = 1/1.0 for count queries.
# The noise draw is a DETERMINISTIC function of the cell key (portable md5
# hash -> uniform in (0,1), inverse-CDF to Laplace): the draw is reproducible
# across engines, partitionings, and task retries — the property a distributed
# release job needs anyway (a retried task must not re-roll its noise), and
# what makes the mechanism oracle-checkable. A production release would keep
# the hash input secret (key + private salt) and drop n_true/noise from the
# output; they are emitted here so the gate verifies the mechanism itself.
_DP_EPS = 1.0
_DP_M = 1048576  # 2^20: u = ((h % (M-1)) + 0.5) / M lies strictly in (0,1),
# is never exactly 0.5 (half-integer numerator over even M), so sign(u-1/2)
# is well-defined and ln(1-2|u-1/2|) never sees 0.


@query(
    "privacy_dp_count_release",
    oracle=f"""
    WITH t AS (
      SELECT c_nationkey AS nation, count(*) AS n_true
      FROM customer GROUP BY 1
    ),
    u AS (
      SELECT nation, n_true,
             (({_h_sql("concat_ws('', 'dp:', CAST(nation AS VARCHAR))")}
               % {_DP_M - 1}) + 0.5) / {_DP_M}.0 AS u
      FROM t
    ),
    n AS (
      SELECT nation, n_true,
             round((0.0 - 1.0 / {_DP_EPS})
                   * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
                   * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise
      FROM u
    )
    SELECT nation, n_true, noise,
           CAST(greatest(0, CAST(round(n_true + noise, 0) AS BIGINT))
                AS BIGINT) AS n_released
    FROM n
    """,
)
def privacy_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP (ε=1) noised histogram of customers per nation: Laplace noise
    via inverse CDF over a key-seeded portable hash, added to exact counts,
    rounded and clamped at zero. Embarrassingly parallel after the count
    agg; noise is generated engine-side from the group key (no RNG state,
    no driver round-trip). Per-row ln() is rounded to 6dp before use (libm
    ulp convention, functions/numeric.py) and the final round is the
    primitive half-away form — bit-identical across engines."""
    t = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count("*").alias("n_true"))
    )
    # concat_ws, not concat: both engines drop a NULL key instead of
    # nulling the whole hash input, so a NULL group still gets noise.
    h = _h_spark(F.concat_ws("", F.lit("dp:"), F.col("nation").cast("string")))
    u = ((h % (_DP_M - 1)) + 0.5) / float(_DP_M)
    lap = (
        (0.0 - 1.0 / _DP_EPS)
        * F.when(u < 0.5, -1.0).otherwise(1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    noised = t.withColumn("noise", N.fround(lap, 6))
    return noised.select(
        "nation",
        "n_true",
        "noise",
        F.greatest(
            F.lit(0).cast("bigint"),
            N.fround_int(F.col("n_true") + F.col("noise")),
        ).alias("n_released"),
    )


# --- column masking / suppression release view --------------------------------
@query(
    "privacy_column_mask",
    oracle=f"""
    WITH qi AS ({_QI_CTE}),
    freq AS (
      SELECT nation, count(*) AS n_nat FROM qi GROUP BY nation
    ),
    masked AS (
      SELECT concat(left(c.c_name, 9), '***') AS name_masked,
             CASE WHEN f.n_nat < 30 THEN -1 ELSE q.nation END AS nation_rel,
             q.segment,
             CAST(floor(q.bal_band / 2) * 2 AS INT) AS bal_band_coarse
      FROM customer c
      JOIN ({_QI_CTE.replace('FROM customer', ', c_custkey FROM customer')}) q
        ON TRUE AND c.c_custkey = q.c_custkey
      JOIN freq f ON q.nation = f.nation
    )
    SELECT nation_rel, segment, bal_band_coarse,
           count(*) AS n,
           count(DISTINCT name_masked) AS n_name_stubs
    FROM masked GROUP BY nation_rel, segment, bal_band_coarse
    """,
)
def privacy_column_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The masking/suppression RELEASE VIEW that pairs with the audits:
    direct identifiers stubbed (name -> 9-char prefix + '***'), rare
    nation codes suppressed to -1 (frequency < 30 — the small-cell rule
    statistical agencies apply), the balance band coarsened 2x. Emitted
    as the released table's group profile so the oracle pins every
    masking rule. One broadcast frequency join + generated expressions —
    masking at 100 TB is scan-speed work, the audits are where the
    shuffles live."""
    cust = load_table(spark, sf_dir, "customer")
    qi = _qi_frame(spark, sf_dir)
    withkey = cust.select(
        "c_custkey",
        F.concat(F.substring("c_name", 1, 9), F.lit("***")).alias("name_masked"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(_QI_SQL[2]).alias("bal_band"),
    )
    freq = qi.groupBy("nation").agg(F.count("*").alias("n_nat"))
    masked = withkey.join(F.broadcast(freq), "nation").select(
        "name_masked",
        F.when(F.col("n_nat") < 30, -1).otherwise(F.col("nation")).alias(
            "nation_rel"
        ),
        "segment",
        (F.floor(F.col("bal_band") / 2) * 2).cast("int").alias("bal_band_coarse"),
    )
    return masked.groupBy("nation_rel", "segment", "bal_band_coarse").agg(
        F.count("*").alias("n"),
        F.countDistinct("name_masked").alias("n_name_stubs"),
    )


# --- DP mean release with clipping --------------------------------------------
_DP_CLIP = 5000.0  # per-record contribution bound => sum sensitivity = clip


@query(
    "privacy_dp_mean_release",
    oracle=f"""
    WITH t AS (
      SELECT c_nationkey AS nation,
             count(*) AS n_true,
             CAST(sum(CAST(round(
               greatest(least(c_acctbal, {_DP_CLIP}), 0.0) * 100
             ) AS BIGINT)) AS BIGINT) AS clip_cents
      FROM customer GROUP BY 1
    ),
    u AS (
      SELECT nation, n_true, clip_cents,
             (({_h_sql("concat_ws('', 'dpm:', CAST(nation AS VARCHAR))")}
               % {_DP_M - 1}) + 0.5) / {_DP_M}.0 AS u
      FROM t
    ),
    n AS (
      SELECT nation, n_true, clip_cents,
             round((0.0 - {_DP_CLIP} / {_DP_EPS})
                   * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
                   * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise
      FROM u
    )
    SELECT nation, n_true,
           round((clip_cents / 100.0 + noise) / n_true, 6) AS mean_released
    FROM n
    """,
)
def privacy_dp_mean_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP (ε=1) mean account balance per nation with CLIPPING — the
    step the count release doesn't need but every numeric release does:
    each record's contribution is clamped to [0, 5000] so the sum's
    sensitivity is the clip bound, and Laplace(clip/ε) noise on the
    clipped sum makes the release private; dividing by the (public here)
    count yields the mean. Clipped sums are exact integer cents; the
    noise draw is the same key-seeded portable inverse-CDF as
    privacy_dp_count_release (reproducible under retries, oracle-
    checkable). A real release would noise the count too and keep the
    hash salt secret."""
    clip = F.lit(_DP_CLIP)
    clipped = F.greatest(F.least(F.col("c_acctbal"), clip), F.lit(0.0))
    t = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count("*").alias("n_true"),
            F.sum(N.iscaled(clipped, 2)).alias("clip_cents"),
        )
    )
    h = _h_spark(F.concat_ws("", F.lit("dpm:"), F.col("nation").cast("string")))
    u = ((h % (_DP_M - 1)) + 0.5) / float(_DP_M)
    lap = (
        (0.0 - _DP_CLIP / _DP_EPS)
        * F.when(u < 0.5, -1.0).otherwise(1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    noised = t.withColumn("noise", N.fround(lap, 6))
    return noised.select(
        "nation",
        "n_true",
        # N.fround, not F.round: the released mean is an arbitrary double
        # and BigDecimal HALF_UP disagrees with DuckDB's std::round by one
        # ulp on boundary values (seen at sf0.001, nation 4)
        N.fround(
            (F.col("clip_cents") / 100.0 + F.col("noise")) / F.col("n_true"), 6
        ).alias("mean_released"),
    )


# --- local DP: randomized-response frequency estimation -----------------------
# The privacy family above is CENTRAL DP (trusted aggregator adds noise once);
# randomized response (Warner 1965, the RAPPOR core) is LOCAL DP — each row
# lies with calibrated probability before collection, and the aggregator
# inverts the lie rate. Here the coin is the portable keyed hash, so the
# mechanism is deterministic, replayable, and oracle-checkable bit-for-bit.
_RR_P = 0.75  # probability of reporting the true category
_RR_M = 1_000_000
_RR_CATS = "('click', 'error', 'purchase', 'signup', 'view')"


@query(
    "privacy_rr_frequency",
    oracle=f"""
    WITH coins AS (
      SELECT event_type AS true_type,
             {_h_sql("concat_ws('', 'rr:', CAST(event_id AS VARCHAR))")}
               % {_RR_M} AS u,
             {_h_sql("concat_ws('', 'rr2:', CAST(event_id AS VARCHAR))")}
               % 5 AS alt
      FROM events
    ),
    reported AS (
      SELECT true_type,
             CASE WHEN u < {int(_RR_P * _RR_M)} THEN true_type
                  ELSE list_value{_RR_CATS}[alt + 1] END AS rep_type
      FROM coins
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM reported),
    obs AS (
      SELECT rep_type AS event_type, CAST(count(*) AS BIGINT) AS n_reported
      FROM reported GROUP BY rep_type
    ),
    tru AS (
      SELECT true_type AS event_type, CAST(count(*) AS BIGINT) AS n_true
      FROM reported GROUP BY true_type
    )
    SELECT o.event_type, t.n_true, o.n_reported,
           round((CAST(o.n_reported AS DOUBLE) / CAST(n AS DOUBLE)
                  - {(1.0 - _RR_P) / 5.0}) / {_RR_P}, 6) AS est_share,
           round(abs((CAST(o.n_reported AS DOUBLE) / CAST(n AS DOUBLE)
                      - {(1.0 - _RR_P) / 5.0}) / {_RR_P}
                     - CAST(t.n_true AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS abs_err
    FROM obs o JOIN tru t ON o.event_type = t.event_type, tot
    """,
)
def privacy_rr_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-DP frequency estimation by randomized response: each event
    reports its true type with p={p} and a hash-uniform category
    otherwise (epsilon = ln(p/((1-p)/K) * ...) — the Warner/RAPPOR
    mechanism), and the aggregator inverts the mechanism:
    share = (obs/n - (1-p)/K)/p. The true histogram rides along as the
    test-SF referee (at 100 TB only the reported column leaves the
    device). Hash-Bernoulli coins make the mechanism deterministic —
    state-free, partition/retry-independent — so the oracle pins the
    whole pipeline including the privacy noise.""".format(p=_RR_P)
    ev = load_table(spark, sf_dir, "events")
    u = _h_spark(
        F.concat_ws("", F.lit("rr:"), F.col("event_id").cast("string"))
    ) % _RR_M
    alt = _h_spark(
        F.concat_ws("", F.lit("rr2:"), F.col("event_id").cast("string"))
    ) % 5
    cats = F.array(
        F.lit("click"), F.lit("error"), F.lit("purchase"),
        F.lit("signup"), F.lit("view"),
    )
    reported = ev.select(
        F.col("event_type").alias("true_type"),
        F.when(u < int(_RR_P * _RR_M), F.col("event_type"))
        .otherwise(F.element_at(cats, (alt + 1).cast("int")))
        .alias("rep_type"),
    )
    tot = reported.agg(F.count("*").cast("bigint").alias("n"))
    obs = reported.groupBy(F.col("rep_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n_reported")
    )
    tru = reported.groupBy(F.col("true_type").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    est = (
        F.col("n_reported").cast("double") / F.col("n").cast("double")
        - (1.0 - _RR_P) / 5.0
    ) / _RR_P
    return (
        obs.join(tru, "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_true",
            "n_reported",
            F.round(est, 6).alias("est_share"),
            F.round(
                F.abs(
                    est
                    - F.col("n_true").cast("double") / F.col("n").cast("double")
                ),
                6,
            ).alias("abs_err"),
        )
    )
