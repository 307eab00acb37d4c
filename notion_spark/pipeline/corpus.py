"""End-to-end corpus curation preset — the standard LLM-training-data
flow composed from this package's operators, in the canonical order:

1. quality filter    (`curation.quality_rules` — codegen'd projection)
2. exact dedup       (`dedup.drop_exact_dups` — one hash groupBy; MUST
                      precede near-dedup: it collapses the identical-doc
                      mass that forms degenerate LSH buckets)
3. near dedup        (`dedup.minhash_dedup_pairs` + `dedup_clusters` —
                      banded LSH, exact-Jaccard verify, connected
                      components, keep the minimum-id representative)
4. decontamination   (`curation.decontaminate` — n-gram overlap vs a
                      broadcast benchmark set)
5. token-budget fill (`curation.select_token_budget` — keep the
                      best-scored docs that fit an exact token budget)
6. temperature mix   (`curation.temperature_mix_quotas` +
                      `curation.take_group_quotas` — cnt^alpha
                      apportionment across sources, then the
                      deterministic per-group take)
7. split assignment  (`curation.assign_splits` — hash-range buckets,
                      keyed AFTER dedup so every surviving id is its own
                      cluster representative and near-dup leakage across
                      splits is structurally impossible)

Stages 4-6 are opt-in (pass their inputs to enable); each is the
already-oracle-verified operator — this module only fixes the
composition order. Nothing is persisted: the exact-dedup output feeds
three subtrees (LSH signature pass, shingle verify-set pass, cluster
join-back), and AQE's exchange reuse shares the exact-dedup shuffle
among them within the plan, while a persist here would outlive the call
in the cache manager. The one cache in the flow is the near-dedup edge
list, which `connected_components` caches around its own count and
collect and releases before it returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from notion_spark.pipeline import curation as CU
from notion_spark.pipeline import dedup as DD


def curate_corpus(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup_threshold: float = 0.8,
    decontam_ngram: int = 13,
    split_fractions: dict[str, float] | None = None,
    max_bucket: int = 1000,
    quality_kwargs: dict | None = None,
    token_budget: int | None = None,
    token_budget_score_col: str | None = None,
    token_budget_token_col: str | None = None,
    mix_group_col: str | None = None,
    mix_budget: int | None = None,
    mix_alpha: float = 0.5,
) -> DataFrame:
    """Run the full curation flow; returns the curated frame with a
    ``split`` column. Not a lazy plan builder yet: the near-dup collapse
    (`dedup.dedup_clusters` → `dedup.connected_components`) counts and
    collects the verified edge list while the plan is built, so Spark
    jobs run before the caller's first action (ROADMAP item 4).

    ``quality_kwargs`` forwards to `curation.quality_rules` (e.g.
    min_words for short-document corpora).

    Optional stages (each enabled by passing its inputs):

    - ``benchmark`` — n-gram decontamination at ``decontam_ngram``.
    - ``token_budget`` + ``token_budget_score_col`` +
      ``token_budget_token_col`` — exact budget fill over columns
      already on ``df`` (score must be exact micro-unit multiples —
      the repo's frac6 outputs).
    - ``mix_group_col`` + ``mix_budget`` — temperature-weighted
      apportionment of ``mix_budget`` rows across ``mix_group_col``
      values at ``mix_alpha``, then the deterministic per-group take.
    """
    if token_budget is not None and (
        token_budget_score_col is None or token_budget_token_col is None
    ):
        raise ValueError(
            "token_budget needs token_budget_score_col and "
            "token_budget_token_col"
        )
    if (mix_group_col is None) != (mix_budget is None):
        raise ValueError(
            "temperature mix needs BOTH mix_group_col and mix_budget "
            "(got exactly one)"
        )

    quality = CU.quality_rules(
        df, text_col=text_col, id_col=id_col, **(quality_kwargs or {})
    )
    kept = df.join(
        quality.filter(F.col("keep")).select(id_col), id_col, "left_semi"
    )
    kept = DD.drop_exact_dups(kept, text_col, id_col)
    pairs = DD.minhash_dedup_pairs(
        kept, text_col, id_col, threshold=near_dup_threshold, max_bucket=max_bucket
    )
    kept = DD.dedup_clusters(kept, pairs, id_col)
    if benchmark is not None:
        kept = CU.decontaminate(
            kept, benchmark, n=decontam_ngram, text_col=text_col, id_col=id_col
        )
    if token_budget is not None:
        kept = CU.select_token_budget(
            kept,
            score_col=token_budget_score_col,
            token_col=token_budget_token_col,
            budget=token_budget,
            id_col=id_col,
        )
    if mix_group_col is not None:
        quotas = CU.temperature_mix_quotas(
            kept, mix_group_col, budget=mix_budget, alpha=mix_alpha
        )
        kept = CU.take_group_quotas(kept, quotas, mix_group_col, id_col)
    return CU.assign_splits(kept, id_col, split_fractions)
