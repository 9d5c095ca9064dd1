"""Connected components — duplicate-cluster assembly over candidate pairs.

MinHash-LSH (queries/dedup.py) emits near-duplicate PAIRS; an actual dedup
pipeline needs GROUPS ("keep one doc per cluster"), and pair→group is
connected components — inherently iterative, so it cannot be a single SQL
expression, but it maps cleanly onto DataFrame joins:

  labels ← node id
  repeat: every node takes min(own label, neighbors' labels)  (one
          hash-join + hash-agg per round — ordinary shuffles, fully
          parallel) until a fixpoint.

Plain min-label propagation converges in O(component diameter) rounds;
near-dup clusters are shallow (pairs share a bucket, diameters 2-4), so a
handful of rounds in practice. Each iteration here chains a PROPAGATE
round (neighbor min) with a POINTER-JUMP round (label := label(label) —
the compression half of large-star/small-star, Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14, public): the distance a
minimum label has travelled roughly doubles per iteration, so adversarial
long-chain graphs converge in O(log diameter) iterations instead of
O(diameter) — a 10^6-node path needs ~20 iterations, not 10^6 (r7 upgrade;
previously documented as the escape hatch, now the default).

Each iteration ends in ``localCheckpoint`` — without it the lineage
doubles per iteration and the planner re-executes the whole history (on a
cluster, use reliable ``checkpoint`` so a lost executor can't drop the
truncated lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_rounds: int = 25,
    edges_unique: bool = False,
) -> DataFrame:
    """(``node``, ``component``) for every node appearing in ``edges``
    (undirected; pass each pair once in either direction). ``component``
    is the smallest node id reachable from ``node``. Raises RuntimeError
    if the labels have not reached a fixpoint within ``max_rounds``
    iterations (2^max_rounds-diameter components — never in practice)
    rather than silently returning partial clusters.

    ``edges_unique=True`` asserts the caller passes each undirected pair
    exactly once (e.g. deduped ``a < b`` pairs): the symmetrized edge list
    is then duplicate-free by construction and the dedup shuffle is
    skipped (optimization r07, guide §2.4 — every current caller feeds
    groupBy/distinct output)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if not edges_unique:
        sym = sym.distinct()
    sym = sym.localCheckpoint()
    # seed label = min(self, min neighbor): the same one-groupBy shuffle the
    # old node-distinct init cost, but it IS the first propagate round —
    # shallow near-dup clusters (star around the min id) start AT the
    # fixpoint and converge one full iteration (3 joins + checkpoint +
    # count) earlier. The fixpoint itself is unchanged: labels only ever
    # decrease toward the component minimum (optimization r07, guide §1.2).
    labels = sym.groupBy("a").agg(F.min("b").alias("nb")).select(
        F.col("a").alias("node"),
        F.least(F.col("a"), F.col("nb")).alias("label"),
    )

    for _ in range(max_rounds):
        updated = _pj_round(_cc_round(sym, labels)).localCheckpoint()
        # fixpoint test only needs EXISTENCE of a shrunk label: isEmpty is
        # a limit-1 probe over the checkpointed blocks, not a full count
        # (optimization r07, guide §1.4 — count forces the whole scan)
        converged = updated.filter("__shrunk").isEmpty()
        labels = updated.drop("__shrunk")
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_rounds} iterations"
        )
    return labels.select("node", F.col("label").alias("component"))


def _cc_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label-propagation round (un-checkpointed; plan shape pinned
    by tests/test_plan_quality.py). shuffle_hash hint on both iterate
    joins: edge list and label table are BOTH node-cardinality — they grow
    together, so no side is ever legitimately broadcastable at scale, and
    a runtime broadcast (AQE re-plans from actual sizes) would rebuild +
    pin the label table on the driver EVERY round: O(rounds) driver copies
    of a fact-scale table, the exact failure the 16x probe caught
    (broadcast build OOM under accumulated checkpoint blocks). Shuffle-hash
    keeps every round a pure executor-side exchange at any graph size."""
    nbr_min = (
        sym.join(labels.hint("shuffle_hash"), sym["b"] == labels["node"])
        .groupBy("a")
        .agg(F.min("label").alias("nbr_min"))
    )
    return labels.join(
        nbr_min.hint("shuffle_hash"),
        labels["node"] == nbr_min["a"],
        "left",
    ).select(
        "node",
        F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
        (F.coalesce("nbr_min", "label") < F.col("label")).alias("__shrunk"),
    )


def _pj_round(labels: DataFrame) -> DataFrame:
    """Pointer-jump half of the iteration: label := label(label), ORing the
    change flag into ``__shrunk``. Every label value is itself a node in
    ``labels`` (labels only ever take existing node ids, monotonically
    non-increasing), so the lookup is a plain self equi-join — shuffle_hash
    for the same no-driver-broadcast reason as ``_cc_round``. Invariants
    preserved: label(node) stays a reachable node id (label(label) is
    reachable via label) and never increases (label(L) <= L for all L)."""
    parent = labels.select(
        F.col("node").alias("p_node"), F.col("label").alias("p_label")
    )
    return labels.join(
        parent.hint("shuffle_hash"), labels["label"] == parent["p_node"], "left"
    ).select(
        "node",
        F.coalesce("p_label", "label").alias("label"),
        (
            F.col("__shrunk") | (F.coalesce("p_label", "label") < F.col("label"))
        ).alias("__shrunk"),
    )


# packed pair key layout for wedge_pair_counts: pk = u << 31 | v. Both ids
# must be < 2^31 (checked fail-loud in both kernels); u < 2^32 keeps the
# key positive in int64. Halves blob/shuffle bytes vs separate u/v cells
# and lets the counting kernel sort raw keys with no dense remap (r08).
_PK_SHIFT = 31
_PK_LIM = 1 << _PK_SHIFT


def wedge_pair_counts(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
    drop_linked: bool = True,
    buckets: int | None = None,
    top_k_jaccard: int | None = None,
) -> DataFrame:
    """Common-neighbor counts ``(u, v, n_common)`` for unordered node pairs
    of a DISTINCT symmetric edge list (duplicate edges would double-count,
    exactly as in the join form this replaces), replacing the edges⋈edges
    wedge self-join + pair groupBy (optimization r07, guide §2.2/§2.4/§4.2).

    Why not the join: the join form pushes Σ deg(w)·(deg(w)−1)/2 wedge rows
    (147.8M at sf0.1) into a hash aggregate with ~|candidate pairs| (101M)
    groups. Partial aggregation removes almost nothing (mean pair
    multiplicity 1.46, scattered), so the aggregate is 101M random-access
    hash-map inserts — measured 57-136s at sf0.1 across partial/final,
    pre-repartitioned and windowed variants. Per-row Arrow transport of the
    147M pairs into Python is no better (~2M rows/s measured, 65-80s).

    This plan never materializes a wedge as a row anywhere:

    - Kernel 1 (``mapInPandas`` over edges hash-partitioned by ``dst``):
      lexsort groups each neighborhood once, emits every sorted u<v pair
      through a fully vectorized triangular expansion (r08: repeat/cumsum
      arithmetic over ALL neighborhoods at once — the per-dst Python loop
      with one ``triu_indices`` call per group was the kernel's hot spot),
      packs each pair into ONE int64 (``u << 31 | v``) when a driver-side
      max-id probe shows every id < 2^31 — halving blob bytes — else falls
      back to two-cell u/v blobs, buckets by ``u % B`` and ships each
      bucket's keys as BINARY CELLS (``tobytes``). The Arrow boundary
      carries a few thousand blob rows, not 147M element rows; list
      columns are avoided deliberately (Arrow converts object-dtype lists
      per element).
    - One JVM shuffle co-locates blob rows by bucket. Because bucket is a
      pure function of ``u``, every occurrence of a pair lands in one
      bucket, so a local count IS the exact global count.
    - Kernel 2 (cogrouped ``applyInPandas`` of pair blobs with the edge
      rows of the same ``src % B`` bucket): decode blobs (packed keys
      directly, or a local dense remap for ids ≥ 2^31 so key packing
      never overflows at any id scale), ONE sequential sort + run-length
      encode for exact counts — no hash map at any scale — then prune
      ``< min_common`` and (``drop_linked``) already-linked pairs via
      sorted membership against the co-shipped edges, so the caller needs
      no 30M-row anti-join afterwards.

    ``top_k_jaccard=K`` additionally pushes a per-bucket top-K by
    ``(round6(n_common/(deg(u)+deg(v)-n_common)) DESC, u, v)`` into kernel
    2, so only K rows per bucket cross back to the JVM instead of every
    surviving pair (32.5M rows at sf0.1, ~16s of Arrow transport on this
    host). Degrees ride the cogroup's right side, replicated to every
    bucket (``kind=1`` rows). The selection key replicates Spark's
    ``round(x, 6)`` double semantics exactly: fast path
    ``floor(x·1e6 + 0.5)``, and any element within 8 ULPs of a rounding
    boundary is re-rounded through ``Decimal(repr(x))`` — the same
    shortest-decimal-string HALF_UP walk ``BigDecimal.valueOf`` performs —
    so bucket-local rank agrees with the caller's final SQL ordering and
    the global top-K is provably a subset of the per-bucket top-Ks.
    Callers recompute the jaccard value in SQL over the ≤ B·K survivors;
    the kernel's key is used for selection only.

    Scale contract: work ∝ Σ deg² like the join it replaces; per-task
    memory is bounded by the kernel-1 chunk size (4M pairs) and by
    wedges-per-bucket in kernel 2; B derives from
    ``spark.sql.shuffle.partitions`` (scale it with the cluster, not the
    data constant); the support prune upstream bounds neighborhood sizes.
    Degree replication is O(|V|·B) rows — the right regime for dense
    graphs where surviving pairs ≫ |V|·B (here 32.5M ≫ 2.6M, and the gap
    widens with density); for sparse graphs leave ``top_k_jaccard`` unset
    and join degrees after.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    _Q6 = Decimal("0.000001")
    spark = edges.sparkSession
    B = buckets or 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    mc = int(min_common)
    # One cheap max-id probe (map-side agg over the id columns) picks the
    # blob format: ids < 2^31 → each pair packs into ONE int64 key, halving
    # blob/shuffle bytes and letting kernel 2 sort raw keys with no dense
    # remap; larger ids → the r07 two-cell + local-dense-remap path, exact
    # at any id scale (r08, guide §2.3 "narrower types").
    mx = edges.selectExpr(
        f"greatest(max({src}), max({dst})) AS m"
    ).collect()[0]["m"]
    packed = mx is not None and int(mx) < _PK_LIM
    # ids < 2^16 additionally fit a uint32 key (u<<16 | v): 4 bytes/pair —
    # a second data-adaptive width halving (guide §2.3), not a local-mode
    # constant: any graph re-labeled densely under 65536 nodes qualifies,
    # and larger graphs take the int64 or remap path automatically.
    pk_shift = 16 if (packed and int(mx) < (1 << 16)) else _PK_SHIFT
    pk_dtype = "<u4" if pk_shift == 16 else "<i8"

    def _blob_rows(u, v):
        b = u % B
        order = np.argsort(b, kind="stable")
        b = b[order]
        cnts = np.bincount(b, minlength=B)
        bb = np.r_[0, np.cumsum(cnts)]
        nz = np.flatnonzero(cnts)
        if packed:
            pk = ((u << pk_shift) | v)[order].astype(pk_dtype)
            return pd.DataFrame(
                {
                    "bucket": nz.astype(np.int64),
                    "ub": [
                        np.ascontiguousarray(pk[bb[i]:bb[i + 1]]).tobytes()
                        for i in nz
                    ],
                    "vb": [b"" for _ in nz],
                }
            )
        u, v = u[order], v[order]
        return pd.DataFrame(
            {
                "bucket": nz.astype(np.int64),
                "ub": [
                    np.ascontiguousarray(u[bb[i]:bb[i + 1]], "<i8").tobytes()
                    for i in nz
                ],
                "vb": [
                    np.ascontiguousarray(v[bb[i]:bb[i + 1]], "<i8").tobytes()
                    for i in nz
                ],
            }
        )

    def gen_pair_blobs(batches):
        frames = [f for f in batches if len(f)]
        if not frames:
            return
        s = np.concatenate([f[src].to_numpy(np.int64) for f in frames])
        d = np.concatenate([f[dst].to_numpy(np.int64) for f in frames])
        order = np.lexsort((s, d))
        s, d = s[order], d[order]
        bnd = np.r_[np.flatnonzero(np.r_[True, d[1:] != d[:-1]]), d.size]
        # vectorized triangular expansion over ALL neighborhoods at once
        # (r08; was a Python loop with one triu_indices per dst): element k
        # of a sorted group pairs with the r_k = (group_end - k - 1)
        # elements after it, which are CONSECUTIVE in s — so iu repeats
        # each k r_k times and iv counts up from k+1 within each run.
        g = np.diff(bnd)
        w = np.arange(s.size) - np.repeat(bnd[:-1], g)  # rank within group
        r = np.repeat(g, g) - 1 - w                     # pairs seeded by k
        # chunk by ELEMENTS so each emitted chunk holds ≤ ~4M pairs
        # regardless of degree skew (per-task memory bound, guide §2.5)
        cum = np.cumsum(r)
        total = int(cum[-1]) if r.size else 0
        lo = 0
        while lo < s.size:
            base = cum[lo - 1] if lo else 0
            hi = int(np.searchsorted(cum, base + 4_000_000)) + 1
            hi = min(hi, s.size)
            rc = r[lo:hi]
            iu = np.repeat(np.arange(lo, hi), rc)
            run = np.r_[0, np.cumsum(rc)]
            t = np.arange(run[-1]) - np.repeat(run[:-1], rc)
            iv = iu + 1 + t
            if iu.size:
                yield _blob_rows(s[iu], s[iv])
            lo = hi

    pair_blobs = (
        edges.select(F.col(src).alias(src), F.col(dst).alias(dst))
        .repartition(dst)
        .mapInPandas(gen_pair_blobs, "bucket long, ub binary, vb binary")
    )

    empty = pd.DataFrame(
        {
            "u": np.array([], np.int64),
            "v": np.array([], np.int64),
            "n_common": np.array([], np.int64),
        }
    )

    def _round6_scaled(j0):
        """int64 key equal to 1e6 · round(j0, 6) under Spark's Round-on-
        double semantics (BigDecimal.valueOf → shortest decimal string →
        setScale(6, HALF_UP)). Fast path is exact except within a few ULPs
        of a .5·1e-6 boundary; those go through Decimal(repr(x)) — the
        same shortest-string walk the JVM performs."""
        y = j0 * 1e6
        k = np.floor(y + 0.5)
        bdist = np.abs((y + 0.5) - np.round(y + 0.5))
        for i in np.flatnonzero(bdist <= 8 * np.spacing(y + 0.5)):
            k[i] = float(
                Decimal(repr(float(j0[i]))).quantize(_Q6, rounding=ROUND_HALF_UP)
                * 1_000_000
            )
        return k.astype(np.int64)

    def count_bucket(key, pairs_pdf, edges_pdf):
        if len(pairs_pdf) == 0:
            return empty
        kind = edges_pdf["kind"].to_numpy(np.int64)
        es = edges_pdf["a"].to_numpy(np.int64)[kind == 0]
        ed = edges_pdf["b"].to_numpy(np.int64)[kind == 0]
        if packed:
            pk = np.concatenate(
                [np.frombuffer(x, pk_dtype) for x in pairs_pdf["ub"]]
            )
            ek = ((es << pk_shift) | ed).astype(pk_dtype)
        else:
            u = np.concatenate([np.frombuffer(x, "<i8") for x in pairs_pdf["ub"]])
            v = np.concatenate([np.frombuffer(x, "<i8") for x in pairs_pdf["vb"]])
            uu = np.unique(np.concatenate([u, es]))
            vv = np.unique(np.concatenate([v, ed]))
            nv = np.int64(vv.size)
            pk = np.searchsorted(uu, u) * nv + np.searchsorted(vv, v)
            ek = np.searchsorted(uu, es) * nv + np.searchsorted(vv, ed)
        pk.sort()
        idx = np.flatnonzero(np.r_[True, pk[1:] != pk[:-1]])
        cnt = np.diff(np.r_[idx, pk.size])
        keep = cnt >= mc
        kk, cc = pk[idx[keep]], cnt[keep]
        if drop_linked and es.size:
            unl = ~np.isin(kk, ek)
            kk, cc = kk[unl], cc[unl]
        if packed:
            kk = kk.astype(np.int64)
            ufin, vfin = kk >> pk_shift, kk & ((1 << pk_shift) - 1)
        else:
            ufin, vfin = uu[kk // nv], vv[kk % nv]
        if top_k_jaccard is not None and ufin.size > top_k_jaccard:
            nodes = edges_pdf["a"].to_numpy(np.int64)[kind == 1]
            degs = edges_pdf["b"].to_numpy(np.int64)[kind == 1]
            nord = np.argsort(nodes)
            nodes, degs = nodes[nord], degs[nord]
            du = degs[np.searchsorted(nodes, ufin)]
            dv = degs[np.searchsorted(nodes, vfin)]
            j0 = cc.astype(np.float64) / (du + dv - cc).astype(np.float64)
            rk = _round6_scaled(j0)
            sel = np.lexsort((vfin, ufin, -rk))[:top_k_jaccard]
            sel.sort()
            ufin, vfin, cc = ufin[sel], vfin[sel], cc[sel]
        return pd.DataFrame(
            {"u": ufin, "v": vfin, "n_common": cc.astype(np.int64)}
        )

    ebuck = edges.select(
        (F.col(src) % B).alias("bucket"),
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.lit(0).cast("long").alias("kind"),
    )
    if top_k_jaccard is not None:
        deg_rep = (
            edges.groupBy(F.col(src).alias("a"))
            .agg(F.count("*").cast("long").alias("b"))
            .select(
                F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("bucket"),
                "a",
                "b",
            )
            .select(
                F.col("bucket").cast("long").alias("bucket"),
                "a",
                "b",
                F.lit(1).cast("long").alias("kind"),
            )
        )
        ebuck = ebuck.unionByName(deg_rep)
    return (
        pair_blobs.groupBy("bucket")
        .cogroup(ebuck.groupBy("bucket"))
        .applyInPandas(count_bucket, "u long, v long, n_common long")
    )
