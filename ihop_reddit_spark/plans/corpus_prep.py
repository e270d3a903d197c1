"""End-to-end training-data corpus preparation (the north-star composition).

What a 100 TB pretraining-data pipeline runs per shard over the
``documents`` table (the near-dup tier is eager; see :func:`prepare_corpus`):

1. **Quality gate** — character-class ratios (JVM expressions, pushed to the
   scan's survivors; no Python).
2. **Language gate** — marker-argmax language ID.
3. **Exact dedup** — md5 fingerprint, keep the smallest doc_id per text.
4. **Near-dup collapse** — exact n-gram Jaccard pairs above a threshold
   among the survivors (``dedup.ngram_jaccard_pairs``: up to its driver
   guard, one Arrow collect of Spark's tokens and numpy posting-list
   counts; above it the shingle self-join), with the worst shingle
   bounded: shingles with document frequency > ``max_shingle_df`` are
   dropped from the join stream (a boilerplate shingle shared by 10⁸
   documents is a 10¹⁶-row join key uncapped) → connected components
   (``dedup.duplicate_components``: star contraction rounds while the
   edge set is above a size guard, one driver union-find below it) →
   keep each component's smallest id.
5. **Token budget** — whitespace + BPE-ish token counts on the final corpus.

Stage order is the cost order: each tier only sees the previous tier's
survivors (cheapest filters first, the similarity join last — the tiering
contract from ``datapipe/dedup.py``). Every stage is deterministic, so the
WHOLE pipeline is DuckDB-oracle-gated end to end (`corpus_prep_survivors`
in the query catalog). The oracle's uncapped-SQL twin stays valid under
the df cap because no shingle's document frequency approaches the cap at
gate scales (measured: identical survivor hashes capped/uncapped at
sf0.1) — where the cap CAN bind is exactly the boilerplate regime the
oracle never reaches and near-dup signal never lives.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datapipe.dedup import duplicate_components, ngram_jaccard_pairs
from ..functions import text as TX
from ..operators.joins import anti_join_filter


@dataclass
class CorpusPrepConfig:
    """Gate thresholds for :func:`prepare_corpus`: quality ratios and
    minimum length, kept languages, and the near-dup tier's Jaccard
    threshold, shingle width and per-shingle document-frequency cap. The
    near-dup pairs always come from the exact shingle self-join
    (``dedup.ngram_jaccard_pairs``)."""

    min_alpha_ratio: float = 0.55
    max_digit_ratio: float = 0.2
    min_tokens: int = 10
    keep_langs: tuple[str, ...] = ("en",)
    jaccard_threshold: float = 0.4
    shingle_n: int = 3
    #: cap on the exact tier's per-shingle join fan-out (documents per
    #: shingle). None = uncapped; the default bounds the worst join key at
    #: max_shingle_df² pairs without changing results on natural corpora
    #: (a shingle in >10k docs is boilerplate carrying no near-dup signal).
    max_shingle_df: int | None = 10_000


def prepare_corpus(
    docs: DataFrame,
    cfg: CorpusPrepConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Surviving documents with token budgets:
    ``(doc_id, n_tokens, bpe_tokens)``.

    EAGER: the near-dup tier runs during CONSTRUCTION, so calling this
    function executes the quality gates, exact dedup and the pair search
    before returning; only the final survivor anti-join and token
    counting stay lazy in the returned plan. ``ngram_jaccard_pairs``
    acts first: one guarded collect of the exact-dedup survivors' tokens
    (which fills the ``exact`` cache). Under its guard the pairs come
    back as a local relation; above it the pair plan stays lazy until
    ``duplicate_components`` materializes it with its own guarded
    collect of the edge set, then finishes on the driver (or checkpoints
    and contracts, above its size guard).

    Caching ownership: the exact-dedup survivor frame is persisted here
    (it feeds both the pair search and the survivor scan) and registered
    on the returned DataFrame — call
    :func:`ihop_reddit_spark.caching.release_scoped_persists` on the
    RESULT once consumed. Under the Jaccard guard no shingle frame is
    persisted at all. Above it, the shingle-array frame persisted inside
    the pairs tier is released by ``duplicate_components`` itself once
    the edge set is collected (or, above its guard, checkpointed); it is
    never re-read afterward.
    """
    cfg = cfg or CorpusPrepConfig()
    text = F.col(text_col)
    feats = TX.quality_features(text)
    gated = docs.where(
        (feats["alpha_ratio"] >= cfg.min_alpha_ratio)
        & (feats["digit_ratio"] <= cfg.max_digit_ratio)
        & (feats["n_tokens"] >= cfg.min_tokens)
        & TX.predict_lang(text).isin(*cfg.keep_langs)
    )
    # exact dedup: keep the smallest id per fingerprint — as a min() window
    # over the fingerprint (r14). The old groupBy(fp).min(id) + left-semi
    # shape evaluated the (expensive) gate expressions TWICE (once per join
    # side) and paid three exchanges (fp-agg, gated-by-id, keepers-by-id);
    # the window evaluates the gate once and shuffles the survivors once,
    # on fp. One full-row shuffle is the floor for exact dedup at 100 TB
    # (the keeper set is corpus-proportional — never broadcastable).
    from pyspark.sql import Window

    min_id = F.min(id_col).over(
        Window.partitionBy(TX.fingerprint(text))
    )
    # `exact` feeds both the similarity search (actioned inside
    # ngram_jaccard_pairs) and the final survivor scan — persist it so the
    # scan + gates run once. MEMORY_AND_DISK: survivors of the gates are a
    # fraction of the corpus, and disk spill beats recompute here.
    exact = (
        gated.withColumn("__keep", F.col(id_col) == min_id)
        .where("__keep")
        .drop("__keep")
        .persist()
    )
    # near-dup collapse: pairs → components → drop every non-representative.
    # The worst shingle's fan-out is bounded by max_shingle_df.
    pairs = ngram_jaccard_pairs(
        exact,
        text_col,
        id_col,
        n=cfg.shingle_n,
        threshold=cfg.jaccard_threshold,
        max_shingle_df=cfg.max_shingle_df,
    )
    # components: a local relation when the pair graph is under the
    # driver guard, star-contracted executor-side frames above it
    components = duplicate_components(pairs)
    losers = components.where(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )
    # losers ∝ duplicate mass — corpus-proportional on boilerplate-heavy
    # corpora, so no forced broadcast (AQE decides)
    survivors = anti_join_filter(exact, losers, id_col, broadcast_remove=False)
    from ..caching import register_scoped_persists

    return register_scoped_persists(
        survivors.select(
            id_col,
            TX.token_count(text).cast("long").alias("n_tokens"),
            TX.approx_bpe_token_count(text).alias("bpe_tokens"),
        ),
        exact,
    )
