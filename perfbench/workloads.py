"""Workload definitions: input fixture, op mix and sink per key.

Every workload is a closed loop with one client: the next op starts when
the previous one has returned.  A pass runs every key of the mix once, in an
order drawn from the workload seed.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the generated base tables
    copies: int  # key-shifted copies of the fact tables
    files: int  # parquet files per fact table
    prebuilt: bool  # plans built once in set-up (True) or per op (False)
    keys: tuple[str, ...]
    # untimed passes after the warm-up pass, then timed passes: pass_s is
    # the median of at least ``min_passes``
    settle_passes: int
    min_passes: int
    parquet_sink: frozenset[str] = field(default_factory=frozenset)


WORKLOADS = {
    w.name: w
    for w in (
        # Small data, plan built per op: driver-side work dominates (py4j
        # plan construction, Catalyst, per-stage scheduling).  describe and
        # pipeline_docs_clean run eager jobs inside their builders.  Every mix
        # has an odd number of keys, so the median op is one key's median
        # latency, not the gap between two keys' latencies.  Pass time falls
        # by a third over the first passes of a run (JIT of the driver-side
        # Catalyst and scheduler code; how fast varies from run to run), so
        # the warm-up and two settle passes run before the five timed ones.
        Workload(
            name="interactive",
            sf=0.01, copies=1, files=1, prebuilt=False,
            settle_passes=2, min_passes=5,
            keys=(
                "q1_pricing_summary", "join_xy", "crosstab_margins", "describe",
                "pipeline_docs_clean",
            ),
        ),
        # Plans built in set-up, as a scheduled job would: scan, shuffle,
        # broadcast, parquet write and the Python-worker boundary dominate.
        # Fact tables are split into files so scans run as several tasks.
        # Row-preserving results go to parquet, so reads and writes share the
        # execution layer.  The last four keys hold one Python node each
        # (FlatMapGroupsInPandas, FlatMapCoGroupsInPandas, MapInArrow,
        # MapInPandas); the other five have none.
        Workload(
            name="batch_scale",
            sf=0.02, copies=4, files=16, prebuilt=True,
            settle_passes=0, min_passes=4,
            keys=(
                "q1_pricing_summary", "join_xy", "stream_session", "dedup_minhash_lsh",
                "latest_by_key", "pandas_group_ols", "cogroup_asof_pandas",
                "text_token_count_arrow", "embed_cosine_topk_pandas",
            ),
            parquet_sink=frozenset({"join_xy", "latest_by_key", "stream_session"}),
        ),
    )
}
