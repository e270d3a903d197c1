"""Training-data curation operators: repetition/quality signals, benchmark
decontamination, deterministic dataset splits, temperature-weighted source
mixing, and sequence packing.

These extend the reference's corpus-prep surface (ihop/import_data.py — which
stops at filtering + context assembly) with the operations an LLM pretraining
pipeline runs between "raw corpus" and "training batches". Everything here is
engine-portable by construction (the cross-engine determinism rules from
plans/query_catalog.py): integer/ratio arithmetic, md5 content addressing for
every random choice, and sqrt (correctly-rounded IEEE) instead of pow for the
one fractional exponent.

Scale notes per operator are in each docstring; none of them collects data to
the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Unit separator joining salt and key material for md5 content addressing —
#: same convention as operators/setops.deterministic_sample.
_SEP = "\x1e"


def _md5_prefix(salt: str, key: Column) -> Column:
    """First 8 hex chars of md5(salt ␞ key) — a uniform 32-bit draw that any
    engine reproduces exactly (DuckDB: substr(md5(concat_ws(chr(30), ...)), 1, 8))."""
    return F.substring(
        F.md5(F.concat_ws(_SEP, F.lit(salt), key.cast("string"))), 1, 8
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------
def repetition_features(
    df: DataFrame, text_col: str, id_col: str, sep: str = " "
) -> DataFrame:
    """Per-document repetition signals used as pretraining quality filters
    (the "repetitious document" rules of Rae et al. 2021, §A1.1):

    * ``dup_token_frac``  — fraction of token instances that repeat an
      earlier token (1 − distinct/total).
    * ``top_2gram_frac``  — occurrences of the most frequent word 2-gram over
      total 2-grams.
    * ``dup_3gram_frac``  — fraction of 3-gram instances that are repeats.

    Plan: one posexplode of the token stream, 2-/3-grams from ``lead()``
    neighbors over the per-doc window (O(tokens) per doc, same construction
    as dedup.exploded_word_shingles), then two aggregates keyed by the doc id
    — shuffles stay balanced regardless of corpus size because the key is
    doc-grain. No Python, no driver materialization. Ratios are int/int
    double divisions — deterministic.

    Documents shorter than 3 tokens have no 3-gram (and <2 no 2-gram) and are
    dropped by the inner join, mirroring the SQL oracle's inner joins.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), sep)).alias("pos", "tok"),
    )
    w = Window.partitionBy("__id").orderBy("pos")
    lead1, lead2 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    fr = toks.select(
        "__id",
        "tok",
        F.when(
            lead1.isNotNull(), F.concat_ws(" ", F.col("tok"), lead1)
        ).alias("g2"),
        F.when(
            lead2.isNotNull(),
            F.concat_ws(" ", F.col("tok"), lead1, lead2),
        ).alias("g3"),
    )
    base = fr.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("tok").alias("n_distinct"),
        F.count("g3").alias("tot3"),
        F.count_distinct("g3").alias("d3"),
    )
    top2 = (
        fr.where(F.col("g2").isNotNull())
        .groupBy("__id", "g2")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(F.max("c").alias("top2"), F.sum("c").alias("tot2"))
    )
    joined = base.join(top2, "__id")
    return joined.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens"),
        (
            (F.col("n_tokens") - F.col("n_distinct")).cast("double")
            / F.col("n_tokens")
        ).alias("dup_token_frac"),
        (F.col("top2").cast("double") / F.col("tot2")).alias("top_2gram_frac"),
        ((F.col("tot3") - F.col("d3")).cast("double") / F.col("tot3")).alias(
            "dup_3gram_frac"
        ),
    )


def top_ngram_fraction(
    df: DataFrame, text_col: str, id_col: str, n: int = 2, sep: str = " "
) -> DataFrame:
    """Just the top-n-gram occupancy signal: (id, ``top_ngram_frac``).

    The single-signal path for repetition *filtering* (the common case in a
    curation pipeline): skips :func:`repetition_features`'s distinct
    aggregates and join — one explode, one (doc, gram) count, one per-doc
    max/sum. Docs with fewer than ``n`` tokens have no n-gram and are absent
    from the output (treat as unfiltered or dropped at the call site).
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), sep)).alias("pos", "tok"),
    )
    w = Window.partitionBy("__id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, n)]
    gram = F.when(
        leads[-1].isNotNull(), F.concat_ws(" ", F.col("tok"), *leads)
    )
    return (
        toks.select("__id", gram.alias("g"))
        .where(F.col("g").isNotNull())
        .groupBy("__id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(
            (F.max("c").cast("double") / F.sum("c")).alias("top_ngram_frac")
        )
        .withColumnRenamed("__id", id_col)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------
def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    sep: str = " ",
) -> DataFrame:
    """Drop every training document sharing any word ``n``-gram with the
    benchmark set (eval-set decontamination à la GPT-3 appendix C / PaLM:
    13-gram overlap removal; ``n`` is configurable — the catalog query uses 5
    to suit the short synthetic docs).

    Plan: shingle both sides with the O(tokens) exploded-shingle operator,
    inner-join training shingles against the **broadcast** distinct benchmark
    shingle set (benchmarks are small by nature — a few thousand eval docs vs
    a 100 TB corpus), take the distinct contaminated ids, and left-anti join
    the corpus. The corpus-side shuffle keys are (doc, gram) — balanced; the
    benchmark never shuffles the corpus. Returns ``df`` rows that survive,
    schema unchanged.
    """
    from .dedup import exploded_word_shingles

    bg = (
        exploded_word_shingles(benchmark, text_col, id_col, n=n, sep=sep)
        .select("__g")
        .distinct()
    )
    tg = exploded_word_shingles(df, text_col, id_col, n=n, sep=sep)
    contaminated = (
        tg.join(F.broadcast(bg), "__g").select("__id").distinct()
    )
    return df.join(
        contaminated.withColumnRenamed("__id", id_col), id_col, "left_anti"
    )


def decontaminate_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    sep: str = " ",
    *,
    n_bits: int = 1 << 23,
    n_hashes: int = 5,
    max_positions: int = 50_000_000,
) -> DataFrame:
    """Bloom-prefiltered decontamination — the IDENTICAL answer to
    :func:`decontaminate` (oracle-pinned), on a plan that survives
    benchmark sets too large to broadcast as an exact hash relation.

    Why: :func:`decontaminate` broadcasts the distinct benchmark shingle
    SET — right for one eval suite, but a many-suite union at lab scale
    can reach 10^8 shingles × ~40 bytes ≳ the 8 GiB broadcast ceiling. A
    Bloom filter of the same set costs ``n_bits`` TOTAL (1 MiB at the
    2^23 default) regardless of shingle width — broadcastable long after
    the exact set is not — and Bloom membership has NO false negatives,
    so prefilter + exact verify gives exactly the same drops:

    1. Benchmark side: ``n_hashes`` bit positions per distinct shingle
       via JVM ``xxhash64(g, seed) pmod n_bits``; the DISTINCT positions
       (≤ ``n_bits``, guarded by ``max_positions``) come to the driver
       once and pack into a numpy bitmap, broadcast to executors — the
       only driver hop, bitmap-sized, not benchmark-sized.
    2. Corpus side: positions are computed JVM-side next to the shingle;
       the ONLY Python step is the vectorized numpy bit-test in an Arrow
       batch (an allowed crossing: broadcast-bitmap membership is not
       expressible with builtins short of re-joining the exact set).
       ~(1 − fpp) of corpus shingles die here without shuffling.
    3. The surviving shingles (true hits + ~fpp noise) exact-join the
       benchmark shingle set — AQE-decided, both sides now small — then
       distinct ids anti-join the corpus. Schema unchanged.

    Sizing: fpp ≈ (1 − e^(−k·s/m))^k for s benchmark shingles, m =
    ``n_bits``, k = ``n_hashes``; the 2^23/5 default holds fpp < 1% out
    to ~600k shingles. Raise ``n_bits`` with the benchmark, not the
    corpus — corpus size never enters the memory budget.
    """
    import numpy as np

    from .dedup import exploded_word_shingles

    pos = [
        F.pmod(F.xxhash64("__g", F.lit(j)), F.lit(n_bits)).alias(f"__p{j}")
        for j in range(n_hashes)
    ]
    # the benchmark shingle set feeds BOTH the bitmap build and the
    # exact-verify join — persist it (eval-sized by contract) so the
    # benchmark explode+distinct runs once, not twice
    bg = (
        exploded_word_shingles(benchmark, text_col, id_col, n=n, sep=sep)
        .select("__g")
        .distinct()
        .persist()
    )
    positions = (
        bg.select(F.explode(F.array(*pos)).alias("p")).distinct().toPandas()
    )
    if len(positions) > max_positions:
        raise ValueError(
            f"benchmark sets {len(positions)} bloom bits > max_positions="
            f"{max_positions}; raise n_bits/max_positions or use"
            " decontaminate()"
        )
    bitmap = np.zeros(n_bits // 8 + 1, dtype=np.uint8)
    p = positions["p"].to_numpy(dtype=np.int64)
    np.bitwise_or.at(bitmap, p >> 3, (1 << (p & 7)).astype(np.uint8))
    bc = df.sparkSession.sparkContext.broadcast(bitmap.tobytes())

    id_type = dict(
        zip(df.schema.fieldNames(), [f.dataType for f in df.schema.fields])
    )[id_col].simpleString()
    tg = exploded_word_shingles(df, text_col, id_col, n=n, sep=sep).select(
        "__id", "__g", *pos
    )

    def bloom_test(it):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in it:
            mask = np.ones(len(pdf), dtype=bool)
            for j in range(n_hashes):
                q = pdf[f"__p{j}"].to_numpy(dtype=np.int64)
                mask &= (
                    bits[q >> 3] & (1 << (q & 7)).astype(np.uint8)
                ) != 0
            yield pdf.loc[mask, ["__id", "__g"]]

    candidates = tg.mapInPandas(bloom_test, f"__id {id_type}, __g string")
    contaminated = candidates.join(bg, "__g").select("__id").distinct()
    from ..caching import register_scoped_persists

    return register_scoped_persists(
        df.join(
            contaminated.withColumnRenamed("__id", id_col),
            id_col,
            "left_anti",
        ),
        bg,
    )


def semantic_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    vec_col: str,
    id_col: str,
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space decontamination: drop every training row whose
    embedding is cosine-≥ t close to ANY benchmark embedding — the
    semantic complement of n-gram :func:`decontaminate` (paraphrased or
    re-worded eval leakage that shares no 5-gram still lands near the
    benchmark in embedding space).

    Plan: both sides quantized with the integer kernel
    (``functions/vectors`` — bit-stable, oracle-comparable); the
    BENCHMARK side broadcasts (eval-sized by nature — the legitimate
    broadcast, same reasoning as :func:`decontaminate`); the corpus
    scores against it in one pure-JVM pass (raw_dot fold — no shuffle of
    the corpus beyond the final anti-join on contaminated ids). When the
    benchmark union outgrows broadcast, generate candidates with
    ``dedup.embedding_near_dup_lsh`` over the union and keep only
    cross-membership pairs — the same tier laddering as the dedup path.
    """
    from ..functions.vectors import quantize, raw_dot, raw_norm

    bench = (
        benchmark.select(quantize(F.col(vec_col)).alias("__bv"))
        .withColumn("__bn", raw_norm(F.col("__bv")))
    )
    train = df.select(
        F.col(id_col).alias("__id"), quantize(F.col(vec_col)).alias("__tv")
    ).withColumn("__tn", raw_norm(F.col("__tv")))
    sim = raw_dot(F.col("__tv"), F.col("__bv")).cast("double") / (
        F.col("__tn") * F.col("__bn")
    )
    contaminated = (
        train.join(F.broadcast(bench))
        .where(sim >= cosine_threshold)
        .select("__id")
        .distinct()
    )
    return df.join(
        contaminated.withColumnRenamed("__id", id_col), id_col, "left_anti"
    )


def contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    sep: str = " ",
) -> DataFrame:
    """The AUDIT side of :func:`decontaminate`: which training docs leak
    which benchmark docs, and how hard — (train_id, bench_id,
    n_shared_ngrams). A curation pipeline ships this alongside the drop so
    reviewers can check the gate (and tune ``n``) instead of trusting it.

    Same plan skeleton as the drop path: O(tokens) shingles both sides,
    benchmark side broadcast (benchmarks are eval-sized), counts keyed by
    the (train, bench) pair — output is leak-sized, not corpus-sized.
    """
    from .dedup import exploded_word_shingles

    bg = exploded_word_shingles(
        benchmark, text_col, id_col, n=n, sep=sep
    ).withColumnRenamed("__id", "bench_id")
    tg = exploded_word_shingles(df, text_col, id_col, n=n, sep=sep)
    return (
        tg.join(F.broadcast(bg), "__g")
        .groupBy(F.col("__id").alias("train_id"), "bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
    )


# ---------------------------------------------------------------------------
# Deterministic dataset split
# ---------------------------------------------------------------------------
def assign_split(
    df: DataFrame,
    key_col: str,
    salt: str,
    bounds: list[tuple[str, str]],
    out_col: str = "split",
) -> DataFrame:
    """Content-addressed train/val/test assignment: the split of a row is a
    pure function of (salt, key) — stable across engines, runs, partitionings
    and data growth (a doc keeps its split when the corpus around it
    changes, unlike ``randomSplit``).

    ``bounds`` is a list of ``(name, upper_hex)`` pairs ordered by ascending
    8-char lowercase hex upper bound; the final pair's bound should be
    ``"ffffffff"`` + 1 semantics — pass e.g. ``[("train", "e6666666"),
    ("val", "f3333333"), ("test", None)]`` where ``None`` catches the rest.
    floor(weight·2³²) hex literals keep both engines comparing identical
    strings. Zero shuffles — a projection.
    """
    h = _md5_prefix(salt, F.col(key_col))
    expr = None
    otherwise = None
    for name, bound in bounds:
        if bound is None:
            otherwise = name
            continue
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    assert expr is not None and otherwise is not None
    return df.withColumn(out_col, expr.otherwise(otherwise))


def curriculum_stages(
    df: DataFrame,
    score: Column,
    id_col: str,
    n_stages: int = 4,
    *,
    quantize: int = 1000,
    out_col: str = "stage",
) -> DataFrame:
    """Quality-curriculum staging: bucket documents into ``n_stages``
    equal-mass tiers of ``score`` (stage 0 = lowest quartile … the
    curriculum-learning schedule that feeds cleaner data later in
    training, and the stratification key for stage-wise mixing/eval).

    Stage boundaries are EXACT type-1 quantiles of the quantized score
    (the :mod:`sketches` histogram machinery — deterministic and
    engine-portable, no approx-percentile rank error), computed from a
    support-bounded histogram, broadcast back onto the corpus, and
    compared in integers. A document's stage is the number of interior
    boundaries strictly below its bucket... precisely: stage k covers
    scores in (q_k, q_{k+1}] with q_0 = −∞ — ties at a boundary fall in
    the LOWER stage, matching the type-1 quantile definition both
    engines share. Shuffles: the histogram partial agg + the one-row
    quantile window; the corpus itself only takes a broadcast join.

    Returns all input columns + ``out_col`` (int: 0 … n_stages−1).
    """
    from .sketches import histogram_partials, histogram_quantiles

    scored = df.withColumn("__q_score", score)
    hist = histogram_partials(
        scored.select(F.lit(1).alias("__one"), "__q_score"),
        ["__one"],
        "__q_score",
        quantize=quantize,
    )
    qs = [i * 1000 // n_stages for i in range(1, n_stages)]
    bounds = (
        histogram_quantiles(hist, ["__one"], qs, quantize=quantize)
        .groupBy("__one")
        .agg(F.sort_array(F.collect_list("bucket")).alias("__cuts"))
        .select("__cuts")
    )
    bucket = F.floor(F.col("__q_score") * quantize).cast("long")
    out = scored.crossJoin(F.broadcast(bounds)).withColumn(
        out_col,
        F.size(F.filter(F.col("__cuts"), lambda c: c < bucket)).cast("int"),
    )
    return out.drop("__q_score", "__cuts")


def domain_quota_sample(
    df: DataFrame,
    url_col: str,
    quota: int,
    salt: str = "dq1",
    *,
    salted: bool = False,
    n_salts: int = 16,
) -> DataFrame:
    """Per-registrable-domain document quota — the crawl-policy cap that
    stops a single boilerplate-heavy site from dominating a web corpus
    (every production crawl mix applies one). Keeps at most ``quota``
    documents per domain, chosen by the content-addressed md5 draw over
    (salt, url) — so the kept set is a pure function of the corpus
    (stable across runs/partitionings, and a re-crawled page neither
    enters nor evicts others nondeterministically).

    Plan: ONE shuffle on the domain key for the row_number window —
    domain grain, the same skew class as any per-key top-k (a mega
    domain sorts only its own rows). For crawls where one domain holds
    a corpus-scale fraction, pass ``salted=True``: the selection runs
    through :func:`operators.windows.top_k_per_group_salted` (two-phase
    bounded partials — no single task ever sorts a whole domain;
    requires ``url_col`` unique per row, the crawl-frontier shape) and
    the kept set semi-joins back. Same survivors either way
    (equivalence property-tested). Returns the surviving rows.
    """
    from ..functions.urls import url_domain_key

    if salted:
        from ..operators.windows import top_k_per_group_salted

        keyed = df.select(
            url_domain_key(F.col(url_col)).alias("__dom"),
            _md5_prefix(salt, F.col(url_col)).alias("__h"),
            F.col(url_col).alias("__u"),
        )
        top = top_k_per_group_salted(
            keyed, "__dom", [F.col("__h"), F.col("__u")], quota,
            n_salts=n_salts,
        )
        keep = top.select(F.col("__u").alias(url_col))
        return df.join(keep, url_col, "left_semi")
    w = Window.partitionBy(F.col("__dom")).orderBy(
        _md5_prefix(salt, F.col(url_col)), F.col(url_col)
    )
    return (
        df.withColumn("__dom", url_domain_key(F.col(url_col)))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= quota)
        .drop("__dom", "__rn")
    )


def component_split_assign(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    salt: str,
    bounds: list[tuple[str, str]],
    out_col: str = "split",
) -> DataFrame:
    """Dedup-AWARE content-addressed splitting: near-duplicate documents
    must land in the SAME split, or near-copies of training documents
    leak into eval (the dedup-leakage failure Lee et al. 2022 §6.2
    measure in LM1B/C4 — per-document assignment puts ~13% of
    near-dup-cluster mass across the train/valid boundary). The split
    key of a document is its duplicate-component REPRESENTATIVE (min id
    in the component; the document's own id when it has no near-dup),
    fed through the same md5 draw as :func:`assign_split` — so splits
    stay stable across runs AND across re-deduplication (a new copy of
    an old document inherits the old component's split).

    Plan: connected components over the (candidate-verified) pair graph
    (:func:`~.dedup.duplicate_components`: driver union-find under its
    size guard, star contraction above it), one id-keyed LEFT join onto
    the corpus, then the zero-shuffle md5 projection.
    """
    from .dedup import duplicate_components

    comp = duplicate_components(pairs).withColumnRenamed(
        "doc_id", id_col
    )
    keyed = df.join(comp, id_col, "left").withColumn(
        "__skey", F.coalesce(F.col("component_id"), F.col(id_col))
    )
    return assign_split(keyed, "__skey", salt, bounds, out_col).drop(
        "component_id", "__skey"
    )


def split_leakage_report(
    splits: DataFrame,
    pairs: DataFrame,
    id_col: str,
    split_col: str = "split",
) -> DataFrame:
    """Cross-split near-duplicate audit: per (split, split) counts of
    duplicate pairs, endpoints normalized so ``left_split <=
    right_split`` — any off-diagonal row is train/eval leakage. The
    audit a pipeline runs BEFORE publishing a split (and after, on
    :func:`component_split_assign` output, it must be diagonal-only).
    Two id-keyed joins sized by the pair table; no corpus shuffle.
    """
    a = splits.select(
        F.col(id_col).alias("left_id"), F.col(split_col).alias("__sa")
    )
    b = splits.select(
        F.col(id_col).alias("right_id"), F.col(split_col).alias("__sb")
    )
    return (
        pairs.join(a, "left_id")
        .join(b, "right_id")
        .groupBy(
            F.least("__sa", "__sb").alias("left_split"),
            F.greatest("__sa", "__sb").alias("right_split"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Temperature-weighted source mixing
# ---------------------------------------------------------------------------
def mixture_rates(df: DataFrame, source_col: str) -> DataFrame:
    """Per-source keep rates for √-temperature mixing (α = 0.5): sampling the
    corpus at ``rate_s = sqrt(n_min / n_s)`` yields source s contributing
    ∝ √n_s documents — the classic temperature re-weighting that upsamples
    the tail relative to proportional sampling (multilingual/multi-corpus
    pretraining mixtures). α is fixed at ½ because ``sqrt`` is correctly
    rounded in IEEE-754 (bit-identical across engines) while ``pow`` is not.

    Returns (source, n_docs, rate, threshold) where ``threshold`` is the
    8-hex md5 cutoff ``floor(rate·2³²)``. One partial-aggregate shuffle over
    a handful of source keys; the result is dimension-sized.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    rate = F.sqrt(F.col("n_min") / F.col("n_docs"))
    return (
        counts.join(F.broadcast(n_min))
        .withColumn("rate", rate)
        .withColumn(
            "threshold",
            F.lpad(
                F.lower(F.hex(F.floor(F.col("rate") * F.lit(4294967296.0)))),
                8,
                "0",
            ),
        )
        .select(source_col, "n_docs", "rate", "threshold")
    )


def mixture_sample(
    df: DataFrame, source_col: str, key_col: str, salt: str
) -> DataFrame:
    """Materialize the √-temperature mixture: keep a row iff its md5 draw
    falls under its source's threshold (the smallest source keeps rate 1.0 —
    the explicit ``rate >= 1`` arm avoids a 9-hex-digit threshold string).

    Plan: the dimension-sized rates table broadcast-joins onto the corpus —
    no corpus shuffle at all; selection is a per-row filter. Deterministic:
    same rows survive on any engine/run/partitioning.
    """
    rates = mixture_rates(df, source_col)
    h = _md5_prefix(salt, F.col(key_col))
    keep = (F.col("rate") >= 1.0) | (h < F.col("threshold"))
    return (
        df.join(F.broadcast(rates), source_col)
        .where(keep)
        .select(*df.columns)
    )


def mixture_upsample_rates(
    df: DataFrame, source_col: str, alpha_sqrt: bool = True
) -> DataFrame:
    """Budget-preserving temperature mixture rates that can EXCEED 1.0
    (fractional epochs — the multilingual-pretraining convention where
    small sources repeat): target share of source s ∝ √n_s, scaled so the
    sampled total equals the corpus size. rate_s = target_s / n_s.

    Cross-engine determinism: the share denominator Σ√n is an
    order-dependent float sum → each √n is decimal-cast before summing
    (exact, order-free); every remaining op is a scalar double identical
    on both engines. Returns (source, n_docs, rate, n_full, threshold):
    ``n_full`` whole copies per row plus one md5-gated fractional copy
    under ``threshold``.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum(F.sqrt(F.col("n_docs")).cast("decimal(38,12)")).alias("__den"),
        F.sum("n_docs").alias("__total"),
    )
    rate = (
        F.sqrt(F.col("n_docs")) * F.col("__total").cast("double")
        / (F.col("__den").cast("double") * F.col("n_docs"))
    )
    out = (
        counts.join(F.broadcast(tot))
        .withColumn("rate", rate)
        .withColumn("n_full", F.floor(F.col("rate")).cast("long"))
        .withColumn(
            "threshold",
            F.lpad(
                F.lower(
                    F.hex(
                        F.floor(
                            (F.col("rate") - F.col("n_full"))
                            * F.lit(4294967296.0)
                        )
                    )
                ),
                8,
                "0",
            ),
        )
    )
    return out.select(source_col, "n_docs", "rate", "n_full", "threshold")


def mixture_upsample(
    df: DataFrame, source_col: str, key_col: str, salt: str
) -> DataFrame:
    """Materialize the budget-preserving mixture WITH upsampling: each row
    yields ``n_full`` whole copies (``epoch`` = 0..n_full−1) plus one
    fractional copy (``epoch`` = n_full) iff its md5 draw falls under the
    fractional threshold. E[output size] = corpus size; small sources
    repeat across epochs, big sources thin — ∝ √n_s shares.

    Plan: dimension-sized rates broadcast onto the corpus; the copy explode
    is row-local (no shuffle anywhere); determinism is the md5 content
    address, so the same rows repeat/survive on any engine or run.
    """
    rates = mixture_upsample_rates(df, source_col)
    h = _md5_prefix(salt, F.col(key_col))
    joined = df.join(F.broadcast(rates), source_col)
    epochs = F.when(
        h < F.col("threshold"),
        F.sequence(F.lit(0).cast("long"), F.col("n_full")),
    ).otherwise(
        F.when(
            F.col("n_full") >= 1,
            F.sequence(F.lit(0).cast("long"), F.col("n_full") - 1),
        ).otherwise(F.array().cast("array<long>"))
    )
    return joined.select(
        *df.columns, F.explode(epochs).alias("epoch")
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------
def pack_sequences(
    df: DataFrame,
    source_col: str,
    order_col: str,
    token_count_col: Column,
    budget: int,
    shard_width: int | None = 1_000_000,
) -> DataFrame:
    """Assign documents to fixed token-budget training bins: stream the
    per-source corpus in ``order_col`` order and start bin k at cumulative
    token offset k·budget (the standard "concatenate-then-chunk" packing; a
    document belongs to the bin its first token lands in).

    DEFAULT PATH (``shard_width`` set) — the sharded two-pass rebase, the
    100 TB shape: a window keyed on ``source`` alone serializes each
    source's entire corpus into ONE task's sort (5 sources → 5 tasks, no
    matter the cluster size). Instead:

    1. shard = ``order_col div shard_width`` — a coarse, order-preserving
       prefix of the stream, so (source, shard) windows parallelize each
       source across ``range/shard_width`` tasks;
    2. intra-shard window cumsum on (source, shard);
    3. per-shard token totals (map-side partial agg — shard-count rows),
       exclusive-prefix-summed per source (dimension-sized window) to give
       each shard its global starting offset;
    4. broadcast the offsets back (the big side, already shuffled for step
       2's window, never reshuffles) and rebase: cum = offset + intra_cum.

    Cost shape (verified via .explain): ONE big-data shuffle + broadcast
    join; the totals branch is a second column-pruned scan collapsed by
    map-side partial aggregation to shard-count rows. If the token-count
    expression is expensive (real tokenizers), precompute it into a column
    and pass ``F.col(...)`` so neither scan re-tokenizes.

    The rebase is exact — bin assignment is identical to the single-key
    form for every row — because token offsets are associative integer
    sums (property-tested in tests/test_properties.py).

    ``shard_width=None`` keeps the one-window-per-source form (the oracle's
    literal SQL shape; also the fallback for non-numeric order columns).

    Returns df columns + ``n_tokens`` + ``bin``. Integer arithmetic end to
    end (``div``, not float floor — exact past 2^53 token offsets; offsets
    are non-negative so div == floor).
    """
    out = df.withColumn("n_tokens", token_count_col.cast("long"))
    if shard_width is None:
        w = (
            Window.partitionBy(source_col)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn("__cum", F.sum("n_tokens").over(w))
    else:
        out = out.withColumn(
            "__shard", F.expr(f"{order_col} div {int(shard_width)}")
        )
        w_in = (
            Window.partitionBy(source_col, "__shard")
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn("__cum_in", F.sum("n_tokens").over(w_in))
        totals = out.groupBy(source_col, "__shard").agg(
            F.sum("n_tokens").alias("__shard_tokens")
        )
        w_off = (
            Window.partitionBy(source_col)
            .orderBy("__shard")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            source_col,
            "__shard",
            F.coalesce(F.sum("__shard_tokens").over(w_off), F.lit(0)).alias(
                "__offset"
            ),
        )
        out = (
            out.join(F.broadcast(offsets), [source_col, "__shard"])
            .withColumn("__cum", F.col("__cum_in") + F.col("__offset"))
            .drop("__cum_in", "__offset", "__shard")
        )
    return out.withColumn(
        "bin", F.expr(f"(__cum - n_tokens) div {int(budget)}")
    ).drop("__cum")


def materialize_packed_sequences(
    df: DataFrame,
    source_col: str,
    order_col: str,
    token_count_col: Column,
    budget: int,
    text_col: str,
    shard_width: int | None = 1_000_000,
) -> DataFrame:
    """The packing MATERIALIZER: turn :func:`pack_sequences` bin labels into
    the actual training rows — per (source, bin) the order-concatenated
    text, doc count, and token total.

    One aggregate past the packing plan, keyed on (source, bin): the
    in-group total order comes from ``array_sort`` over (order, text)
    structs (the A8 thread-assembly device — sort-free shuffle, order
    restored per group), so the output is deterministic under any
    partitioning. Bin sizes are budget-bounded by construction, which is
    what bounds the concat buffer per group at scale.
    """
    packed = pack_sequences(
        df, source_col, order_col, token_count_col, budget, shard_width
    )
    order_struct = F.struct(F.col(order_col), F.col(text_col).alias("__txt"))
    return packed.groupBy(source_col, "bin").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(order_struct)),
                lambda s: s["__txt"],
            ),
            " ",
        ).alias("seq_text"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------
def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split long documents into overlapping token windows — the inverse of
    :func:`pack_sequences` for corpora whose documents EXCEED the training
    context: chunk k covers tokens [k·stride, k·stride + chunk_tokens) with
    stride = chunk_tokens − overlap.

    Pure Catalyst: one ``split`` per doc, a ``sequence`` of chunk starts,
    ``posexplode`` + ``slice`` — no shuffle at all (chunking is row-local),
    so it composes with any downstream repartition for free. Short docs
    yield exactly one chunk.

    Returns (id, chunk_id, chunk_text, n_chunk_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
    )
    out = df.select(
        F.col(id_col),
        toks.alias("__t"),
        n.alias("__n"),
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    return out.select(
        id_col,
        F.col("chunk_id").cast("long"),
        F.array_join(
            F.slice(F.col("__t"), F.col("__start") + 1, chunk_tokens), " "
        ).alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start"))
        .cast("long")
        .alias("n_chunk_tokens"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    nibbles: int = 1,
) -> DataFrame:
    """CONTENT-DEFINED chunking (the rolling-hash family of LBFS/FastCDC,
    at word granularity): a chunk boundary falls after token ``i``
    whenever the hash of the k-gram ending at ``i`` opens with
    ``nibbles`` zero hex digits — so boundaries are a pure function of
    LOCAL content. Insert or delete a token and only the chunks touching
    that edit change; everything after the next surviving boundary is
    byte-identical — which is exactly what makes chunk-level dedup
    robust to small edits, where :func:`chunk_documents`' fixed windows
    shift globally.

    Expected chunk length is ``16^nibbles`` tokens. No min/max clamps —
    FastCDC's refinements need a sequential scan (each accepted boundary
    depends on the previous), which would force the row into Python;
    the unclamped geometric distribution keeps the operator declarative
    and the boundary-locality property is what dedup actually relies on.

    Plan: boundary hashes run on the POSEXPLODED token stream (lag-built
    grams over a per-doc window — codegen-fused string/hash exprs, the
    same O(tokens) shape as ``exploded_word_shingles``), boundary
    positions fold back per doc, and chunk assembly is a row-local
    array expression. One token shuffle on the doc id (window + the
    same-keyed fold reuse one partitioning) + the id-keyed join back.
    MEASURED: a pure higher-order-function formulation (filter over
    sequence with per-position md5 + slice) was 49× slower than DuckDB
    at sf0.1 (28.1s vs 0.57s) — lambda eval is interpreted, never
    codegen — and this explode+window shape brings it back to the
    winnowing tier's throughput. Returns (id, chunk_id, chunk_text,
    n_chunk_tokens). The boundary hash is the engine-portable md5
    (cross-engine hash-exact).
    """
    zeros = "0" * nibbles
    tok_rows = df.select(
        F.col(id_col).alias("__cid"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("__p", "__tok"),
    )
    w = Window.partitionBy("__cid").orderBy("__p")
    lags = [F.lag("__tok", k - 1 - j).over(w) for j in range(k - 1)]
    gram = F.concat_ws(" ", *lags, F.col("__tok"))
    bounds = (
        tok_rows.select(
            "__cid",
            (F.col("__p") + 1).cast("int").alias("__i"),
            gram.alias("__g"),
            lags[0].alias("__full"),
        )
        .where(
            F.col("__full").isNotNull()
            & (F.substring(F.md5(F.col("__g")), 1, nibbles) == zeros)
        )
        .groupBy("__cid")
        .agg(F.sort_array(F.collect_list("__i")).alias("__bpos"))
    )
    base = df.join(
        bounds, F.col(id_col) == F.col("__cid"), "left"
    ).drop("__cid")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    bpos = F.coalesce(F.col("__bpos"), F.array().cast("array<int>"))
    # ascending by construction; array_distinct keeps first occurrence,
    # so a boundary AT the last token doesn't duplicate the final cut
    cuts = F.array_distinct(
        F.concat(F.array(F.lit(0)), bpos, F.array(n))
    )
    pieces = F.transform(
        F.sequence(F.lit(1), F.size(cuts) - 1),
        lambda j: F.slice(
            toks,
            F.element_at(cuts, j) + 1,
            F.element_at(cuts, j + 1) - F.element_at(cuts, j),
        ),
    )
    out = base.select(
        F.col(id_col), F.posexplode(pieces).alias("chunk_id", "__c")
    )
    return out.select(
        id_col,
        F.col("chunk_id").cast("long"),
        F.array_join("__c", " ").alias("chunk_text"),
        F.size("__c").cast("long").alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al., NeurIPS
# 2023, arXiv:2302.03169): select raw-corpus documents whose hashed n-gram
# distribution looks like a TARGET corpus. The published recipe: featurize
# docs as hashed unigram+bigram counts, fit bag-of-buckets models p (target)
# and q (raw), weight each doc by log p(doc) − log q(doc), resample by
# weight. The engine keeps every step deterministic (md5 bucket hashing,
# add-one smoothing, decimal-cast sums, 4-decimal rounding of the one
# transcendental) so the weights themselves are oracle-comparable.
# ---------------------------------------------------------------------------
def hashed_ngram_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 1024,
    sep: str = " ",
) -> DataFrame:
    """(doc_id, b): one row per unigram AND bigram occurrence, hashed into
    ``n_buckets`` via the engine-portable md5→BIGINT hash. Row-local (zero
    shuffle), O(tokens) per doc — the DSIR featurizer."""
    from ..operators.partitioning import fan_out_if_narrow
    from .retrieval import doc_bigrams, tokens

    # per-gram md5 dominates and is row-local (zero shuffle downstream of
    # it until the bucket aggregate) — rescue an under-parallel scan
    df = fan_out_if_narrow(
        df.select(id_col, text_col), id_col,
        heavy=True,  # per-gram md5 dominates (DSIR featurizer)
    )

    def bucket(g: Column) -> Column:
        return F.pmod(
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
            F.lit(n_buckets),
        )

    uni = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col), sep)).alias("g"),
    )
    bi = doc_bigrams(df, text_col, id_col, sep).select(
        "doc_id", F.concat_ws(" ", "w1", "w2").alias("g")
    )
    return uni.unionByName(bi).select("doc_id", bucket(F.col("g")).alias("b"))


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    sep: str = " ",
) -> DataFrame:
    """Per-document DSIR importance weights: (doc_id, n_features, weight,
    selected). ``weight`` = Σ over the doc's hashed-n-gram occurrences of
    log2 p̂(b) − log2 q̂(b) with add-one smoothing over the bucket vocab;
    ``selected`` = weight > 0 (doc looks more target- than corpus-like).

    Plan (the 100 TB shape): the corpus feature stream aggregates to AT
    MOST ``n_buckets`` model rows (map-side partials collapse the shuffle
    to bucket grain); the target model is target-sized and targets are
    benchmark-scale (tiny); the per-bucket log-ratio table (≤ n_buckets
    rows) broadcasts onto the corpus feature stream; the only corpus-sized
    shuffle is the final doc-grain sum. Nothing quadratic, nothing
    collected.

    Determinism: counts are exact integers; the smoothed probabilities are
    exact rationals; log2 is the single transcendental and its per-doc sum
    is decimal-cast then rounded to 4 decimals — the same libm-ulp
    discipline as the perplexity tier (hash-green since round 4).

    The featurizer runs ONCE per side (r14): the corpus occurrence stream
    collapses to per-document bucket counts ``(doc_id, b, c)`` and that
    frame is persisted — it feeds the bucket model, the model total AND
    the per-doc scoring, which previously each re-ran the per-gram md5
    over the whole corpus (3 full featurization passes; the target model
    + its total paid 2 more). The weight sum stays bit-identical: the
    per-occurrence ``Σ dec(lr)`` becomes ``Σ c·dec(lr)`` with the product
    in decimal(24,12)×decimal(13,0) → decimal(38,12) — exactly at the
    precision cap, so no scale adjustment and no rounding.

    Caching ownership: the persisted count frames are registered on the
    result — release with
    :func:`ihop_reddit_spark.caching.release_scoped_persists` (or
    ``spark.catalog.clearCache()``) once consumed.
    """
    from ..caching import register_scoped_persists

    cfc = (
        hashed_ngram_features(corpus, text_col, id_col, n_buckets, sep)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    q_counts = (
        cfc.groupBy("b").agg(F.sum("c").cast("long").alias("cq")).persist()
    )
    p_counts = (
        hashed_ngram_features(target, text_col, id_col, n_buckets, sep)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("cp"))
        .persist()
    )
    q_total = q_counts.agg(F.sum("cq").alias("tq"))
    p_total = p_counts.agg(F.sum("cp").alias("tp"))
    ratio = (
        q_counts.join(p_counts, "b", "left")
        .crossJoin(F.broadcast(q_total))
        .crossJoin(F.broadcast(p_total))
        .select(
            "b",
            (
                F.log2(
                    (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("tp") + F.lit(n_buckets))
                )
                - F.log2(
                    (F.col("cq") + F.lit(1)).cast("double")
                    / (F.col("tq") + F.lit(n_buckets))
                )
            ).alias("lr"),
        )
    )
    scored = cfc.join(F.broadcast(ratio), "b")
    out = scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_features"),
        F.round(
            F.sum(
                F.col("lr").cast("decimal(24,12)")
                * F.col("c").cast("decimal(13,0)")
            ).cast("double"),
            4,
        ).alias("weight"),
    ).select(
        "doc_id",
        "n_features",
        "weight",
        (F.col("weight") > 0).alias("selected"),
    )
    return register_scoped_persists(out, cfc, q_counts, p_counts)


def dsir_resample(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    salt: str = "dsir",
    sep: str = " ",
) -> DataFrame:
    """DSIR's resampling half: Gumbel top-k over the importance weights —
    sampling WITHOUT replacement proportionally to 2^weight, derandomized.

    The Gumbel-max trick (argtop-k of log w + Gumbel(0,1) draws a sample
    ∝ w without replacement) with the engine's md5 content addressing as
    the uniform source: u = (md5_32(salt ␞ doc_id) + 0.5) / 2³²,
    G = −ln(−ln u). Keys live in the weight's log2 domain (G / ln 2), so
    selection is ∝ 2^weight exactly as DSIR prescribes — and the whole
    draw is a pure function of (data, salt), reproducible on any engine.

    Plan: :func:`dsir_weights` + a row-local key expression + a global
    top-k, which Spark executes as TakeOrderedAndProject (per-partition
    heaps, never a global sort).
    """
    import math

    from ..caching import register_scoped_persists

    w = dsir_weights(corpus, target, text_col, id_col, n_buckets, sep)
    u = (
        F.conv(_md5_prefix(salt, F.col("doc_id")), 16, 10)
        .cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    gumbel = -F.log(-F.log(u))
    key = F.round(
        F.col("weight") + gumbel / F.lit(math.log(2.0)), 4
    ).alias("gkey")
    out = (
        w.select("doc_id", "weight", key)
        .orderBy(F.col("gkey").desc(), F.col("doc_id"))
        .limit(k)
    )
    # the derived frame does not inherit w's scoped-persist handle —
    # re-register so callers releasing the RESULT free dsir_weights' caches
    return register_scoped_persists(out, *getattr(w, "_scoped_persists", []))


def fuzzy_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate eval-set decontamination — the fuzzy sibling of
    :func:`decontaminate` (which drops on ANY shared n-gram): drop
    training documents whose n-gram JACCARD similarity to any benchmark
    document reaches ``jaccard_threshold``. This is the Llama-style
    "remove near-duplicates of eval data" contract: paraphrased or
    lightly-edited benchmark leaks that the exact n-gram gate (at large
    n) misses, without the exact gate's false-positive blowup at small n.

    Plan is CROSS-corpus by construction: the training shingle stream
    joins the benchmark shingle stream only (cost ∝ train×bench shared
    shingles — never the train×train quadratic a union self-join would
    compute and discard), sizes attach post-aggregation, and the drop
    set anti-joins back. Ids pass through untouched (any orderable
    type). Returns the surviving training rows, all columns.

    Scale note: ``t_sizes`` is one row per TRAINING document — the big
    side of the whole operation — so it must NOT carry a broadcast
    hint (a forced broadcast aborts at the 8 GiB BroadcastExchange
    limit long before 100 TB); ``inter`` is already hashed by
    ``__tid``, so the size attach is a plain co-partitioned shuffle
    join that AQE may still demote to broadcast when genuinely small.
    ``b_sizes`` IS eval-sized and keeps the hint.
    """
    from ..caching import register_scoped_persists
    from .dedup import exploded_word_shingles

    t_sh = exploded_word_shingles(df, text_col, id_col, n).persist()
    b_sh = exploded_word_shingles(benchmark, text_col, id_col, n).persist()
    t_sizes = t_sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__nt"))
    b_sizes = b_sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__nb"))
    inter = (
        t_sh.alias("t")
        .join(b_sh.alias("b"), "__g")
        .groupBy(
            F.col("t.__id").alias("__tid"), F.col("b.__id").alias("__bid")
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    scored = (
        inter.join(
            t_sizes.select(F.col("__id").alias("__tid"), "__nt"),
            "__tid",
        )
        .join(
            F.broadcast(b_sizes.select(F.col("__id").alias("__bid"),
                                       "__nb")),
            "__bid",
        )
        .where(
            F.col("__inter")
            / (F.col("__nt") + F.col("__nb") - F.col("__inter"))
            >= jaccard_threshold
        )
    )
    drops = scored.select(F.col("__tid").alias(id_col)).distinct()
    return register_scoped_persists(
        df.join(drops, id_col, "left_anti"), t_sh, b_sh
    )
