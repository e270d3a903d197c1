"""Deduplication operators (north-star extension; BASELINE.json).

Four tiers, cheapest first — at 100 TB you run them in this order and each
tier only sees the previous tier's survivors:

1. exact (hash-groupBy on an md5 fingerprint) — one shuffle on the hash.
2. SimHash banding — signature is a pure column expression, candidates come
   from equality self-joins on signature bands (shuffle on 16-bit band keys).
3. MinHash + LSH (MLlib ``MinHashLSH`` over shingle vectors) — band/bucket
   join, probabilistic Jaccard.
4. exact n-gram Jaccard verification — explode + equi-join on shingle, only
   ever run on candidate pairs (or small corpora, which finish on the driver
   from one Arrow collect); quadratic if unleashed on everything, so keep
   it LAST.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import register_scoped_persists
from ..functions.text import fingerprint, simhash64


def word_shingles(text: Column, n: int = 3, sep: str = " ") -> Column:
    """Distinct word n-gram shingles of a document (array<string>).

    ``sequence`` + ``transform`` + ``slice`` — JVM higher-order functions, no
    UDF. Short docs (< n tokens) yield their whole token string as the single
    shingle so they still participate; null text yields none.

    PERF NOTE: the tokenization sits inside the transform lambda, so Catalyst
    re-evaluates ``split`` per shingle position (O(tokens²) per doc), and the
    explode's inferred ``size>0`` filter duplicates it again. Fine for
    per-doc array output (MinHash vectorization); for pairwise joins use
    :func:`exploded_word_shingles`, which is O(tokens) per doc.
    """
    tokens = F.split(F.lower(text), sep)
    n_tok = F.size(tokens)
    starts = F.sequence(F.lit(1), F.greatest(n_tok - (n - 1), F.lit(1)))
    grams = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(tokens, i, n))
    )
    return _no_grams_if_null(tokens, F.array_distinct(grams))


def _no_grams_if_null(tokens: Column, grams: Column) -> Column:
    """``grams``, or an empty array when ``tokens`` is null: null text has
    no shingles. (``concat_ws`` drops a null slice, so without this a
    null-text document would get the one shingle ``""`` and match every
    other null or empty text at Jaccard 1.0; the oracle SQL gives it
    none.)"""
    return F.when(tokens.isNull(), F.array().cast("array<string>")).otherwise(grams)


def _shingle_parts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    sep: str,
) -> tuple[DataFrame, Column]:
    """Shared narrow base for the shingle operators: returns
    ``(base, grams)`` where ``base`` is (``__id``, ``__toks``) and
    ``grams`` is the per-row DISTINCT shingle-array expression over
    ``__toks``.

    The tokens are materialized into a column in a first projection so the
    shingle-building lambda references a bound attribute (split runs once
    per row, not once per shingle position). ``slice`` is O(n) per
    position, so the expression is O(tokens·n) per doc and needs no
    per-doc window shuffle. Docs with < n tokens yield their whole lowered
    text as the single shingle, and null text yields none (same semantics
    as :func:`word_shingles`).

    Narrow chains inherit SCAN parallelism — a small single-file input
    would serialize the whole shingle build on one core (the old window
    shape was accidentally rescued by its own shuffles). Fan out to the
    core count ONLY when the scan is under-parallel: at real scale the
    condition is false and no exchange is added, and the shuffle that does
    fire carries raw text — strictly fewer bytes than the exploded token
    stream the old shape shuffled. Hash on ``__id`` so downstream per-doc
    aggregates/joins can reuse the exchange.
    """
    from ..operators.partitioning import fan_out_if_narrow

    narrow = fan_out_if_narrow(
        df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        ),
        "__id",
        heavy=True,  # interpreted shingle-array build (CodegenFallback)
    )
    toks = F.split(F.lower(F.col("__text")), sep)
    base = narrow.select("__id", toks.alias("__toks"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("__toks")) - (n - 1), F.lit(1))
    )
    grams = F.array_distinct(
        F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n))
        )
    )
    return base, _no_grams_if_null(F.col("__toks"), grams)


def doc_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    sep: str = " ",
) -> DataFrame:
    """(``__id``, ``__grams`` array<string>) — the DISTINCT word n-gram
    shingles of each document as one row, zero shuffles (at scan
    parallelism; see :func:`_shingle_parts` for the under-parallel-scan
    fan-out). Every downstream consumer (sizes, arrays, signatures)
    derives narrow from this frame instead of re-shuffling the exploded
    stream.

    Consumers that EXPLODE ``__grams`` must either persist this frame
    first or go through :func:`exploded_word_shingles`: exploding the
    raw column reference trips Catalyst's ``InferFiltersFromGenerate``,
    which clones the whole (interpreted, non-codegen) shingle expression
    into a ``size(...) > 0`` filter pushed below the fan-out exchange —
    the expression then runs TWICE, one copy at raw scan parallelism
    (measured 4× slower on a single-file scan).
    """
    base, grams = _shingle_parts(df, text_col, id_col, n, sep)
    return base.select("__id", grams.alias("__grams"))


def exploded_word_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    sep: str = " ",
) -> DataFrame:
    """Distinct (``__id``, ``__g``) word n-gram shingle rows, O(tokens)/doc.

    One explode over the :func:`_shingle_parts` array EXPRESSION — per-doc
    distinctness comes from the ``array_distinct`` inside the array build,
    so the stream needs no ``dropDuplicates`` shuffle and no per-doc
    window (r14: the old posexplode + lead()-window + dropDuplicates shape
    cost two shuffles per call site for the same rows). The generator
    consumes the expression inline, NOT a projected column:
    ``InferFiltersFromGenerate`` only fires on column references, so this
    shape keeps the expensive interpreted expression evaluated exactly
    once (see :func:`doc_shingles` docstring for the trap).
    """
    base, grams = _shingle_parts(df, text_col, id_col, n, sep)
    return base.select("__id", F.explode(grams).alias("__g"))


def exact_duplicates(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact-dup groups: one row per distinct text with its canonical (min)
    id and multiplicity. Filter ``n_dups > 1`` for the actual duplicates;
    semi-join on ``keep_id`` to dedup the corpus.
    """
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus minus exact duplicates (keeps an arbitrary witness per text —
    use :func:`exact_duplicates` + semi-join for a deterministic witness)."""
    return df.dropDuplicates([text_col])


def simhash_signatures_arrow(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(__id, __sig): the same 60-bit SimHash as functions.text.simhash64
    (md5 per lowercased whitespace token -> first 15 hex chars as int64 ->
    majority vote per bit), computed with numpy over Arrow batches.

    Same bits, ~4x faster than the Catalyst higher-order-function form:
    HOF lambdas execute interpreted per element (tokens x 60 terms per
    document), while here the bit matrix is one vectorized shift/mask.
    The md5-token contract (the cross-engine oracle anchor) is unchanged.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    shifts = np.arange(60, dtype=np.uint64)

    def sign_batch(it):
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            sigs = np.empty(len(ids), dtype=np.int64)
            for k, text in enumerate(pdf[text_col]):
                if text is None or (isinstance(text, float) and text != text):
                    # Catalyst parity: null text -> null signature (never
                    # equi-joins in the band stage)
                    sigs[k] = -1
                    continue
                toks = str(text).lower().split(" ")
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.uint64,
                    count=len(toks),
                )
                ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
                bits = (ones * 2 > len(toks)).astype(np.uint64)
                sigs[k] = int((bits << shifts).sum())
            out = pd.DataFrame({"__id": ids, "__sig": sigs})
                # replace the sentinel with a true NULL
            if (sigs == -1).any():
                out["__sig"] = out["__sig"].astype("Int64")
                out.loc[out["__sig"] == -1, "__sig"] = pd.NA
            yield out

    from ..operators.partitioning import fan_out_if_narrow

    # per-token Python md5 is pure CPU and sits upstream of any exchange
    # — rescue an under-parallel scan so the Arrow stage uses every core
    return fan_out_if_narrow(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).mapInPandas(sign_batch, "__id long, __sig long")


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    band_bits: int = 15,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup candidate pairs via banding.

    Two docs are candidates if ANY of the ``n_bands`` 15-bit bands of their
    60-bit SimHash match (Hamming-distance ≤ n_bands−1 guarantee). Shuffles
    on (band_index, band_value) — uniformly distributed keys, no skew. Output:
    distinct (left_id, right_id) with left < right. The signature frame stays
    persisted for the result's lifetime — release it with
    :func:`ihop_reddit_spark.caching.release_scoped_persists` (or
    ``spark.catalog.clearCache()``) after consuming.
    """
    # the 60-bit signature feeds both sides of the band self-join —
    # persist one row per doc. Computed on the Arrow path (see
    # simhash_signatures_arrow): the Catalyst form (functions.text.
    # simhash64) builds tokens x 60 interpreted lambda terms (higher-order
    # functions do not codegen) and measured 4x slower; bits identical
    # (property-tested in test_datapipe.py).
    sig = simhash_signatures_arrow(df, text_col, id_col).persist()
    bands = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("__sig"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "__sig", "b.band", "b.val")
    left = bands.select(
        F.col("band"), F.col("val"), F.col("__id").alias("left_id")
    )
    right = bands.select(
        F.col("band"), F.col("val"), F.col("__id").alias("right_id")
    )
    out = (
        left.join(right, ["band", "val"])
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )
    return register_scoped_persists(out, sig)


#: Largest corpus :func:`ngram_jaccard_pairs` finishes on the driver;
#: above it the Catalyst plan runs. ``tools/guard_probe.py jaccard``
#: (perturbed sf0.1 documents, n 3, threshold 0.4, df cap 10,000,
#: ``local[4]``, 4 GB driver heap; wall time, then peak RSS of Python
#: driver + JVM; same rows on both sides at every size): driver vs
#: Catalyst 1.2 s / 1.2 GB vs 5.1 s / 1.6 GB at 5k documents (1.3M
#: posting pairs); 2.2 s / 1.7 GB vs 11.1 s / 2.4 GB at 20k (6.1M);
#: 4.6 s / 1.9 GB vs 26.8 s / 4.5 GB at 50k (18.4M); 9.4 s / 2.3 GB vs
#: 61.8 s / 4.8 GB at 100k (40.4M), the largest size probed for it.
MAX_LOCAL_DOCS = 100_000

#: Largest Σ C(df, 2) over the kept shingles' document frequencies (the
#: self-join's row count) the driver path counts; above it the Catalyst
#: plan runs. The same probe at 120k documents counts 50.7M posting
#: pairs: 11.0 s / 2.5 GB on the driver vs 66.3 s / 4.9 GB in Spark.
#: The driver's time follows this count, not the document count.
MAX_LOCAL_POSTING_PAIRS = 50_000_000

#: Posting pairs the driver path counts in one pass (about 50 bytes of
#: numpy temporaries each).
_PAIRS_PER_RUN = 1 << 22


def _driver_jaccard_pairs(table, n: int, threshold: float, max_shingle_df):
    """The rows of :func:`ngram_jaccard_pairs`'s Catalyst plan, as an Arrow
    table, from a collected ``(id, tokens)`` table; None when numpy cannot
    repeat them: ids that are not integers, are null or repeat, or more
    than :data:`MAX_LOCAL_POSTING_PAIRS` posting pairs to count.

    A shingle is the tuple of its tokens' dictionary codes. The separator
    is the literal space, so no token holds one, and two shingle strings
    are equal exactly when their token tuples are; that holds for the
    whole-text shingle of a document shorter than ``n`` tokens too (its
    tuple is padded with the code 0, which no token has). Null text has no
    tokens and so no shingles. Documents are ranked by id, so each posting
    list is sorted and every pair it yields has ``left_id < right_id``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    id_col = table.column(0)
    if not pa.types.is_integer(id_col.type) or id_col.null_count:
        return None
    raw = id_col.to_numpy()
    order = np.argsort(raw, kind="stable")
    ids = raw[order]
    if (ids[1:] == ids[:-1]).any():
        return None
    n_docs = len(ids)
    rank = np.empty(n_docs, dtype=np.int64)
    rank[order] = np.arange(n_docs)

    toks = table.column(1).combine_chunks()
    k = pc.list_value_length(toks).fill_null(0).to_numpy().astype(np.int64)
    vocab = pc.list_flatten(toks).dictionary_encode()
    codes = np.append(vocab.indices.to_numpy().astype(np.int64) + 1, 0)
    base = len(vocab.dictionary) + 1
    # shingle positions: k - n + 1 per document, one for 0 < k < n
    m = np.where(k >= n, k - n + 1, np.minimum(k, 1))
    first = np.repeat(np.cumsum(k) - k - np.cumsum(m) + m, m) + np.arange(m.sum())
    width = np.repeat(np.minimum(k, n), m)
    key, bound = np.zeros(len(first), dtype=np.int64), 1
    for j in range(n):
        if bound * base >= 2**62:  # renumber densely before key·base overflows
            key = np.unique(key, return_inverse=True)[1].reshape(-1)
            bound = len(key) + 1
        key = key * base + codes[np.where(j < width, first + j, len(codes) - 1)]
        bound *= base
    gram = np.unique(key, return_inverse=True)[1].reshape(-1)
    n_grams = int(gram.max()) + 1 if len(gram) else 0
    # distinct (document, shingle) rows, ordered by document then shingle
    doc, gram = np.divmod(np.unique(np.repeat(rank, m) * n_grams + gram), n_grams)
    sizes = np.bincount(doc, minlength=n_docs)
    freq = np.bincount(gram, minlength=n_grams)
    keep = freq[gram] >= 2
    if max_shingle_df is not None:
        keep &= freq[gram] <= max_shingle_df
    # posting lists: the kept (shingle, document) entries ordered by
    # shingle, then document; each entry pairs with the entries after it
    gram, doc = gram[keep], doc[keep]
    by_gram = np.argsort(gram, kind="stable")
    gram, doc = gram[by_gram], doc[by_gram]
    after = np.searchsorted(gram, gram, side="right") - np.arange(len(gram)) - 1
    if int(after.sum()) > MAX_LOCAL_POSTING_PAIRS:
        return None
    # count the pairs of one run of left documents at a time: a pair's
    # whole count falls in one run, and a run holds about _PAIRS_PER_RUN
    run = np.cumsum(np.bincount(doc, weights=after, minlength=n_docs)) // _PAIRS_PER_RUN
    run = run.astype(np.int64)[doc]
    found = [[np.zeros(0, dtype=np.int64)] * 5 + [np.zeros(0)]]
    for r in np.unique(run[after > 0]):
        e = np.flatnonzero((run == r) & (after > 0))
        cnt = after[e]
        right_at = np.repeat(e + 1 - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
        pair, inter = np.unique(
            np.repeat(doc[e], cnt) * n_docs + doc[right_at], return_counts=True
        )
        left, right = np.divmod(pair, n_docs)
        n_left, n_right = sizes[left], sizes[right]
        # the Catalyst plan's double(inter) / double(n_left + n_right - inter)
        jaccard = inter / (n_left + n_right - inter)
        hit = jaccard >= threshold
        found.append([c[hit] for c in (left, right, inter, n_left, n_right, jaccard)])
    left, right, inter, n_left, n_right, jaccard = map(np.concatenate, zip(*found))
    return pa.table(
        {
            "left_id": pa.array(ids[left], id_col.type),
            "right_id": pa.array(ids[right], id_col.type),
            "inter": pa.array(inter, pa.int64()),
            "n_left": pa.array(n_left, pa.int32()),
            "n_right": pa.array(n_right, pa.int32()),
            "jaccard": pa.array(jaccard, pa.float64()),
        }
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join (verification tier):
    ``(left_id, right_id, inter bigint, n_left int, n_right int, jaccard
    double)`` for every pair ``left_id < right_id`` with Jaccard ≥
    ``threshold``.

    explode(shingles) → self-equi-join on shingle → |A∩B| per pair →
    Jaccard = inter / (|A| + |B| − inter). All counts are ints; the final
    division is deterministic, so this op is duckdb-oracle comparable.
    Quadratic in the worst case — run on candidates / bounded corpora only.

    EAGER for batch frames: the first action reads ``(id, split(lower(
    text), ' '))`` with one ``limit(MAX_LOCAL_DOCS + 1).toArrow()``, so
    Spark still lowers and splits. When that is the whole corpus,
    :func:`_driver_jaccard_pairs` counts the posting-list intersections
    in numpy and the result is a local relation with the same rows,
    schema and IEEE division; no shingle frame is persisted. Streaming
    frames, ids numpy cannot order as Spark does (null, repeated or not
    integers) and posting-pair counts above
    :data:`MAX_LOCAL_POSTING_PAIRS` take the lazy Catalyst plan below,
    as does every corpus above :data:`MAX_LOCAL_DOCS`; only that plan
    persists its shingle-array frame, registered as a scoped persist on
    the result.

    ``max_shingle_df`` (the honest default for anything bigger than a
    candidate set — same control as the winnowing index's ``max_df``):
    shingles appearing in more than this many documents are dropped from
    the JOIN stream before the self-join, capping any single key's
    fan-out at ``max_shingle_df²`` pairs. A boilerplate shingle shared by
    10⁸ documents is a 10¹⁶-row join key uncapped. The cap is one-sided:
    ``n_left``/``n_right`` keep the uncapped sizes, so a dropped common
    shingle only LOWERS a pair's computed Jaccard — pairs can be missed
    (recall, bounded because a shingle that common carries ~no signal at
    sane caps), never falsely emitted (precision exact). ``None`` keeps
    the op exact end to end (the oracle-spec twin).

    Scale note: ``sizes`` is one row per INPUT document; callers like
    ``corpus_prep`` feed this op the whole exact-dedup survivor set, so
    the size attach carries NO broadcast hint — the pair table is already
    hashed by id, the join shuffles co-partitioned, and AQE demotes to
    broadcast on its own when the input really is candidate-sized.
    """
    if not df.isStreaming:
        table = (
            df.select(id_col, F.split(F.lower(F.col(text_col)), " "))
            .limit(MAX_LOCAL_DOCS + 1)
            .toArrow()
        )
        found = None
        if table.num_rows <= MAX_LOCAL_DOCS:
            found = _driver_jaccard_pairs(table, n, threshold, max_shingle_df)
        del table
        if found is not None:
            id_field = df.schema[id_col]
            return df.sparkSession.createDataFrame(
                found,
                T.StructType(
                    [
                        T.StructField("left_id", id_field.dataType, id_field.nullable),
                        T.StructField("right_id", id_field.dataType, id_field.nullable),
                        T.StructField("inter", T.LongType(), False),
                        T.StructField("n_left", T.IntegerType(), False),
                        T.StructField("n_right", T.IntegerType(), False),
                        T.StructField("jaccard", T.DoubleType()),
                    ]
                ),
            )
    # Catalyst plan (above the guard, streaming input and the fallbacks):
    # the shingle-array base feeds BOTH self-join sides and the size table,
    # and Catalyst does not reuse the exchange across the aliased self-join
    # (measured: 16 scans, 0 ReusedExchange without persist) — persist the
    # one-row-per-doc array frame once, in memory with disk spill (r14:
    # this replaces persisting the exploded stream — same bytes, but sizes
    # now derive narrow from the array instead of a groupBy shuffle)
    persisted = doc_shingles(df, text_col, id_col, n).persist()
    sizes = persisted.select("__id", F.size("__grams").alias("__n"))
    exploded = persisted.select("__id", F.explode("__grams").alias("__g"))
    if max_shingle_df is not None:
        # r14: per-shingle document frequency via a window over __g instead
        # of a groupBy + semi-join — one exchange on __g that the self-join
        # below immediately reuses (the old shape paid a df-agg shuffle AND
        # a semi-join shuffle before the join's own exchanges)
        from pyspark.sql import Window

        exploded = (
            exploded.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("__g"))
            )
            .where(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    # NOTE (measured): pre-filtering the join on the exact length band
    # (t·|B| ≤ |A| ≤ |B|/t) was tried and REJECTED — attaching sizes to the
    # shingle stream costs an extra broadcast join and wider shuffle rows,
    # which outweighed its pruning at t ≤ 0.4 on near-uniform doc lengths
    # (sf0.1 corpus-prep: 8.7s → 14.3s). Pair counts stay narrow; the size
    # join happens after aggregation on the (small) pair table instead.
    pairs = (
        exploded.alias("a")
        .join(exploded.alias("b"), "__g")
        .where(F.col("a.__id") < F.col("b.__id"))
        .groupBy(
            F.col("a.__id").alias("left_id"), F.col("b.__id").alias("right_id")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(
            sizes.select(F.col("__id").alias("left_id"), F.col("__n").alias("n_left")),
            "left_id",
        )
        .join(
            sizes.select(F.col("__id").alias("right_id"), F.col("__n").alias("n_right")),
            "right_id",
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_left") + F.col("n_right") - F.col("inter")),
        )
    )
    return register_scoped_persists(
        out.where(F.col("jaccard") >= threshold).select(
            "left_id", "right_id", "inter", "n_left", "n_right", "jaccard"
        ),
        persisted,
    )


def minhash_near_dup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    jaccard_threshold: float = 0.5,
    num_features: int = 1 << 18,
):
    """MinHash+LSH near-dup candidate pairs (MLlib BATCH tier).

    shingle → HashingTF (binary) → MinHashLSH → approxSimilarityJoin at
    Jaccard distance ≤ 1−threshold. Returns (left_id, right_id, jaccard_dist).
    Probabilistic; verify survivors with :func:`ngram_jaccard_pairs`.

    SCALE ROUTING: this is the batch tier for ≲10⁸ documents.
    ``approxSimilarityJoin(vectors, vectors, …)`` OR-amplifies a bucket
    self-join across ``num_hash_tables`` tables, which can explode on
    skewed shingle distributions at 100× scale. Above ~10⁸ docs (or for
    any incremental/archive workload) use :func:`build_minhash_index` +
    :func:`incremental_minhash_candidates` instead — banded signatures,
    bucket-local joins, and an index side that never reshuffles.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # r14: the per-doc shingle array comes straight from doc_shingles —
    # narrow, no explode + groupBy(collect_list) round trip (HashingTF with
    # binary=True is set-semantic, so array order is irrelevant)
    # null text has no shingles (MinHashLSH rejects an empty vector), so
    # it is nobody's near-duplicate
    shingled = doc_shingles(
        df.where(F.col(text_col).isNotNull()), text_col, id_col, n
    ).select("__id", F.col("__grams").alias("__sh"))
    tf = HashingTF(
        inputCol="__sh", outputCol="__vec", numFeatures=num_features, binary=True
    )
    # vectors feed fit + BOTH approxSimilarityJoin sides; persist so the
    # shingle window + hashing runs once
    vectors = tf.transform(shingled).persist()
    lsh = MinHashLSH(inputCol="__vec", outputCol="__hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(vectors)
    joined = model.approxSimilarityJoin(
        vectors, vectors, 1.0 - jaccard_threshold, distCol="jaccard_dist"
    )
    out = (
        joined.where(F.col("datasetA.__id") < F.col("datasetB.__id"))
        .select(
            F.col("datasetA.__id").alias("left_id"),
            F.col("datasetB.__id").alias("right_id"),
            F.col("jaccard_dist"),
        )
    )
    return register_scoped_persists(out, vectors)


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Tier 5: embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    Exact all-pairs scoring with the integer-quantized cosine (bit-stable
    across engines, oracle-comparable), run as a distributed blocked numpy
    int64 GEMM (``similarity.blocked_pair_scores``).

    SCALE NOTE: all-pairs is O(n²) — correct as the verifier tier, wrong as
    the discovery tier at 100 TB. There, generate candidates first with
    :func:`embedding_near_dup_lsh` (random-hyperplane buckets, shuffle on
    bucket key) and feed only candidates through this exact check.
    """
    from .similarity import blocked_pair_scores

    return blocked_pair_scores(
        df, cosine_threshold, id_col=id_col, vec_col=vec_col
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Tier-5 scale path: LSH candidate generation + exact cosine verify.

    ``BucketedRandomProjectionLSH.approxSimilarityJoin`` on L2-NORMALIZED
    vectors: for unit vectors, Euclidean distance d and cosine c satisfy
    c = 1 - d²/2, so a cosine threshold t maps exactly to a Euclidean
    threshold sqrt(2(1-t)). Join cost is bucket-local (shuffle on hash
    bucket), not all-pairs; the emitted pairs are then re-scored with the
    exact double cosine.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from ..functions.vectors import cosine, l2_normalize

    unit = df.select(
        F.col(id_col).alias("__id"),
        l2_normalize(F.col(vec_col)).alias("__u"),
    ).withColumn("__features", array_to_vector(F.col("__u")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="__features",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(unit)
    dist_threshold = (2.0 * (1.0 - cosine_threshold)) ** 0.5
    pairs = model.approxSimilarityJoin(unit, unit, dist_threshold, "__dist")
    return (
        pairs.where(F.col("datasetA.__id") < F.col("datasetB.__id"))
        .select(
            F.col("datasetA.__id").alias("left_id"),
            F.col("datasetB.__id").alias("right_id"),
            cosine(F.col("datasetA.__u"), F.col("datasetB.__u")).alias("cosine"),
        )
        .where(F.col("cosine") >= cosine_threshold)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node links its LARGER neighbors to the
    minimum of its closed neighborhood. One shuffle (window on ``u``)."""
    from pyspark.sql import Window

    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node links its SMALLER neighbors (and itself)
    to the minimum of its smaller neighbors. One shuffle (window on ``u``)."""
    from pyspark.sql import Window

    directed = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    with_m = directed.withColumn(
        "m", F.min("v").over(Window.partitionBy("u"))
    )
    to_min = with_m.where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = with_m.select("u", F.col("m").alias("v"))
    return (
        to_min.unionByName(self_link)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One fused large-star∘small-star contraction round — THREE exchanges
    where composing :func:`_large_star` + :func:`_small_star` pays five:

    * large-star's window exchange is an explicit ``repartition("u")``;
    * large-star's output is already canonical (every emitted pair is
      ``(v, m)`` with ``m ≤ u < v``, so u' > v' by construction) — the
      small-star greatest/least re-canonicalization and its ``distinct``
      are no-ops Catalyst cannot prove away, so they are simply omitted;
    * each dedup shares one exchange with the window that follows it:
      hash partitioning on ``u`` (the key subset) satisfies the
      ``(u, v)`` clustering ``dropDuplicates`` needs AND the window's
      ``u`` clustering, so aggregate + window run in the same stage (the
      pagerank/bfs edge-build discipline from ``operators/graph.py``).

    Output set is bit-identical to ``_small_star(_large_star(edges))``
    for any input (the symmetrization re-derives both directions);
    ``tests/test_datapipe.py`` pins the per-round equivalence.
    """
    from pyspark.sql import Window

    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition("u")
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    ls = (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .repartition("u")
        .dropDuplicates(["u", "v"])
    )
    with_m = ls.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    to_min = with_m.where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = with_m.select("u", F.col("m").alias("v"))
    return (
        to_min.unionByName(self_link)
        .where(F.col("u") != F.col("v"))
        .repartition("u")
        .dropDuplicates(["u", "v"])
    )


#: Live edge count at or under which :func:`duplicate_components` stops
#: contracting and finishes on the driver: one collect, then union-find.
#: On the ``tools/guard_probe.py components`` input at 5,000,000 edges
#: (random graph, local[4], 4 GB driver heap) the driver finish takes
#: 15 s with a 0.8 GB Python and 3.0 GB JVM peak RSS; star rounds to the
#: fixpoint take 218 s (9 rounds of 24 s) with a 4.9 GB JVM peak.
MAX_DRIVER_EDGES = 5_000_000


def _driver_components(u, v):
    """``(ids, roots)``: every node of the edge arrays ``u``/``v`` and the
    smallest id of its component, by vectorized hook-and-compress.

    Nodes are renumbered densely in id order, so the smallest index of a
    component is its smallest id. Each pass hooks every root that has an
    edge to a smaller root onto the smallest such root, then compresses
    every node to its root; edges inside one component are dropped. Roots
    only ever point to smaller indices, so the passes end once no edge
    joins two components."""
    import numpy as np

    ids, dense = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = dense[: len(u)], dense[len(u) :]
    parent = np.arange(len(ids))
    while len(a):
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    return ids, ids[parent]


def duplicate_components(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Group near-duplicate PAIRS into duplicate CLUSTERS (connected
    components): ``(doc_id, component_id = smallest id in the component)``.

    Training-data dedup keeps one representative per component, not per
    pair (A~B, B~C must collapse to one survivor even when A≁C directly).

    One loop over the canonical ``(u > v)`` distinct edge set. The first
    action collects at most :data:`MAX_DRIVER_EDGES` + 1 of its rows; when
    they are all of it, :func:`_driver_components` finishes on the driver
    and the result is a local relation. Near-dup graphs are
    threshold-pruned and small, so that is the common path: two Spark jobs,
    no contraction round. Above the guard, the edge set is cut from its
    lineage by a lazy ``localCheckpoint`` (the pair plan runs again,
    against its caches) and fused large-star / small-star contraction
    rounds (:func:`_star_round`; Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) run while a round's ``(count,
    hash-sum)`` fingerprint is above the guard: O(log n) rounds regardless
    of the graph's diameter, each checkpointed the same way (persist alone
    grows the plan geometrically). Star rounds keep every node and its
    component, so once a round's count is at or under the guard, the
    driver finish over its edges gives the same answer. Otherwise the loop
    exits only at a fixpoint confirmed by an exact two-sided ``exceptAll``
    (the fingerprint alone is not a proof).

    EAGER: the ``pairs`` plan runs during CONSTRUCTION. Any scoped persists
    registered on ``pairs`` (e.g. the shingle stream cached inside
    ``ngram_jaccard_pairs``) are RELEASED once the edge set is collected
    (or, above the guard, checkpointed): they can never be re-read through
    this operator. A caller that reuses the same ``pairs`` object afterward
    recomputes it (or persists its own copy before calling).
    ``out._cc_rounds`` is the number of contraction rounds run (0 when the
    input is already under the guard).
    """
    import pyarrow as pa

    from ..caching import release_scoped_persists

    edges = (
        pairs.select(
            F.greatest(F.col("left_id"), F.col("right_id")).alias("u"),
            F.least(F.col("left_id"), F.col("right_id")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    table = edges.limit(MAX_DRIVER_EDGES + 1).toArrow()
    rounds = 0
    if table.num_rows > MAX_DRIVER_EDGES:
        del table  # not all of the edge set; free it for the rounds

        # (count, hash-sum) fingerprint: one action; decimal partials are
        # exact and overflow-free under ANSI
        def _fingerprint(df: DataFrame) -> tuple:
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            return (row["n"], row["h"])

        edges = edges.localCheckpoint(eager=False)
        fp = _fingerprint(edges)  # runs the pair plan against its caches
        release_scoped_persists(pairs)
        while fp[0] > MAX_DRIVER_EDGES:
            if rounds == max_iterations:
                raise RuntimeError(
                    f"duplicate_components did not converge within "
                    f"{max_iterations} rounds"
                )
            nxt = _star_round(edges).localCheckpoint(eager=False)
            rounds += 1
            nxt_fp = _fingerprint(nxt)
            if nxt_fp == fp and not (
                nxt.exceptAll(edges).limit(1).count()
                or edges.exceptAll(nxt).limit(1).count()
            ):
                # fixpoint: every edge is (member, root)
                roots = edges.select(F.col("v").alias("doc_id")).distinct()
                out = (
                    edges.select(
                        F.col("u").alias("doc_id"), F.col("v").alias("component_id")
                    )
                    .unionByName(roots.withColumn("component_id", F.col("doc_id")))
                    .distinct()
                )
                out._cc_rounds = rounds
                return out
            edges, fp = nxt, nxt_fp
        table = edges.toArrow()  # at most MAX_DRIVER_EDGES rows
    else:
        release_scoped_persists(pairs)

    ids, roots = _driver_components(
        table.column("u").to_numpy(), table.column("v").to_numpy()
    )
    arrow_type, id_type = table.column("u").type, edges.schema["u"].dataType
    out = edges.sparkSession.createDataFrame(
        pa.table(
            {
                "doc_id": pa.array(ids, arrow_type),
                "component_id": pa.array(roots, arrow_type),
            }
        ),
        T.StructType(
            [
                T.StructField("doc_id", id_type, False),
                T.StructField("component_id", id_type, False),
            ]
        ),
    )
    out._cc_rounds = rounds
    return out


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against a persisted index (the production shape:
# dedup today's batch against the historical corpus WITHOUT recomputing or
# reshuffling the historical side).
# ---------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Deterministic per-doc MinHash signature — pure Catalyst, no MLlib
    model object.

    Each signature slot i is min over the doc's word-n-gram shingles of
    ``xxhash64(i, shingle)``. xxhash64 is a fixed public algorithm, so
    signatures are stable across sessions, Spark versions, and clusters —
    the property that makes them STORABLE: an index built last month still
    matches signatures computed today (MLlib's MinHashLSH binds hash
    coefficients to a fitted model object, which an incremental pipeline
    would have to version and ship alongside the data).

    Fully NARROW (r14): the doc's distinct shingles are built as one array
    per row (:func:`doc_shingles`) and each slot is
    ``array_min(transform(grams, g -> xxhash64(i, g)))`` — a per-row
    expression, so signature computation costs zero shuffles (the old
    shape paid the explode + a groupBy(id) exchange for the same longs).
    Docs shorter than ``n`` words shingle as their whole text (see
    :func:`doc_shingles`).

    Returns (``__id``, h0..h{H-1}).
    """
    sh = doc_shingles(df, text_col, id_col, n)

    # NB: the slot index must be captured via a factory — a two-parameter
    # lambda (g, i) would be interpreted by F.transform as (element, index)
    def _slot(i: int) -> Column:
        return F.array_min(
            F.transform(F.col("__grams"), lambda g: F.xxhash64(F.lit(i), g))
        )

    return sh.select(
        "__id", *[_slot(i).alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_band_keys(
    signatures: DataFrame,
    num_bands: int = 4,
) -> DataFrame:
    """Long-form LSH banding of a signature frame: (``__id``, ``band_id``,
    ``band_key``) — one row per band, ``band_key`` = xxhash64 over the
    band's signature slots. Two docs collide in a band iff that band's
    slots all agree; num_bands × rows_per_band trades recall vs candidate
    volume exactly as in classic MinHash-LSH.
    """
    hash_cols = [c for c in signatures.columns if c.startswith("h")]
    if len(hash_cols) % num_bands:
        raise ValueError(
            f"{len(hash_cols)} hashes do not split into {num_bands} bands"
        )
    rows_per_band = len(hash_cols) // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col(hash_cols[b * rows_per_band + r])
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )
    return signatures.select(
        "__id", F.explode(bands).alias("__b")
    ).select("__id", F.col("__b.band_id"), F.col("__b.band_key"))


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
    path: str,
    n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    num_buckets: int = 32,
) -> None:
    """Persist the historical corpus's banded MinHash index as a BUCKETED
    parquet table (bucketed by ``band_key``): incremental lookups join
    bucket-locally — the index side is read pre-hashed, never reshuffled,
    no matter how large the history grows. Index size is
    num_bands rows × 3 longs per historical doc, independent of text size.
    """
    from ..sources.io import write_bucketed

    bands = minhash_band_keys(
        minhash_signatures(df, text_col, id_col, n, num_hashes), num_bands
    )
    write_bucketed(
        bands.withColumnRenamed("__id", "indexed_id"),
        table_name,
        path,
        bucket_cols=["band_key"],
        num_buckets=num_buckets,
        sort_cols=["band_key"],
    )


def incremental_minhash_candidates(
    spark,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    index_table: str,
    n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against the persisted index:
    compute the batch's band keys (same deterministic hashes) and join on
    (band_id, band_key). Only the batch side shuffles — sized by today's
    data; the historical side streams out of its buckets. Returns distinct
    (``new_id``, ``indexed_id``) candidate pairs; verify survivors with
    exact :func:`ngram_jaccard_pairs` semantics over the union corpus, as
    with every banding tier (candidates ⊇ true pairs at matched
    thresholds, never trusted unverified).
    """
    new_bands = minhash_band_keys(
        minhash_signatures(new_df, text_col, id_col, n, num_hashes), num_bands
    )
    idx = spark.table(index_table)
    return (
        new_bands.join(idx, ["band_id", "band_key"])
        .select(
            F.col("__id").alias("new_id"),
            "indexed_id",
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS algorithm).
# The one fingerprinting scheme with a LOCALITY GUARANTEE: any substring
# match of length >= w + k - 1 chars yields at least one shared selected
# hash, independent of where the match sits. Complements the tiers above:
# SimHash/MinHash fingerprint whole-document similarity; winnowing catches
# shared PASSAGES (partial plagiarism, boilerplate reuse, quote chains).
# ---------------------------------------------------------------------------
def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    w: int = 4,
    portable_hash: bool = True,
) -> DataFrame:
    """Winnowed fingerprint set per document: distinct (``__id``, ``fp``).

    Char k-gram rolling hashes (md5 first 15 hex chars → BIGINT, the
    engine-portable hash used by every fingerprint tier here), then each
    window of ``w`` consecutive gram hashes selects its MINIMUM; the
    distinct selected values are the document's fingerprints (expected
    density 2/(w+1) of all grams).

    Plan: one O(chars) posexplode per doc, then ONE shuffle on the doc id
    for the sliding-window min — balanced by doc regardless of length skew,
    same shape as :func:`exploded_word_shingles`. No UDF anywhere.

    ASCII-only contract (docs with multi-byte chars are excluded on BOTH
    engines): Spark ``substring`` counts codepoints while DuckDB ``substr``
    counts chars but ``strlen`` bytes — the ASCII gate is where they agree,
    the same contract as the levenshtein verifier tier. Docs shorter than
    ``w + k - 1`` chars have no full window and yield no fingerprints.

    ``portable_hash``: md5-derived gram hashes (default — the cross-engine
    oracle contract). ``False`` swaps in ``xxhash64`` — same winnowing
    guarantees (they hold for ANY hash), JVM-intrinsic speed for
    production runs where DuckDB parity is not required. The ×10 probe
    measured the md5 path exactly linear (ratio 9.9 at ×10 docs) with the
    per-gram hash as the dominant term — this is the knob that moves it.
    """
    from pyspark.sql import Window

    from ..operators.partitioning import fan_out_if_narrow

    # the per-gram hash is the measured dominant term (×10 probe) and
    # runs upstream of the window's exchange — fan out an under-parallel
    # scan so it never serializes on one core; hashed on __id, which the
    # sliding-window min below reuses as its partitioning
    base = fan_out_if_narrow(
        df.where(F.octet_length(F.col(text_col)) == F.length(F.col(text_col)))
        .select(F.col(id_col).alias("__id"), F.lower(F.col(text_col)).alias("__t"))
        .where(F.length("__t") >= k + w - 1),
        "__id",
        heavy=True,  # per-gram md5 is the ×10-probed dominant term
    )
    grams = base.select(
        "__id",
        (F.length("__t") - (k - 1)).alias("__n"),
        F.explode(F.sequence(F.lit(1), F.length("__t") - (k - 1))).alias("p"),
        F.col("__t"),
    )
    gram = F.col("__t").substr(F.col("p"), F.lit(k))
    if portable_hash:
        h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(gram)
    hashed = grams.select("__id", "p", "__n", h.alias("h"))
    win = Window.partitionBy("__id").orderBy("p").rowsBetween(0, w - 1)
    return (
        hashed.select(
            "__id", "p", "__n", F.min("h").over(win).alias("fp")
        )
        # positions whose window would run past the last gram select nothing
        .where(F.col("p") <= F.col("__n") - (w - 1))
        .select("__id", "fp")
        .dropDuplicates(["__id", "fp"])
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    w: int = 4,
    min_shared: int = 10,
    max_df: int = 20,
    portable_hash: bool = True,
) -> DataFrame:
    """MOSS-style shared-passage candidates: (left_id, right_id, shared).

    Inverted-index join on winnowed fingerprints — two docs pair once per
    shared fingerprint, aggregated to a shared-count, thresholded at
    ``min_shared``. ``max_df`` drops fingerprints present in more than that
    many docs BEFORE the join (boilerplate/stop-gram guard): it bounds the
    per-key join fanout at ``max_df²`` rows, so the candidate volume is
    sum-of-squares over capped posting lists, never corpus-quadratic — the
    identical cap contract as the retrieval tier's posting lists.
    """
    from pyspark.sql import Window

    fps = winnow_fingerprints(df, text_col, id_col, k, w, portable_hash)
    capped = (
        fps.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .where(F.col("__df") <= max_df)
        .select("__id", "fp")
        .persist()
    )
    a = capped.select(F.col("fp"), F.col("__id").alias("left_id"))
    b = capped.select(F.col("fp"), F.col("__id").alias("right_id"))
    out = (
        a.join(b, "fp")
        .where(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return register_scoped_persists(out, capped)


def winnow_index_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    w: int = 4,
    max_df: int = 20,
    portable_hash: bool = True,
) -> DataFrame:
    """The archive's index rows: (indexed_id, fp), df-capped WITHIN the
    archive so boilerplate fingerprints never enter the index at all."""
    from pyspark.sql import Window

    fps = winnow_fingerprints(df, text_col, id_col, k, w, portable_hash)
    return (
        fps.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .where(F.col("__df") <= max_df)
        .select(F.col("__id").alias("indexed_id"), "fp")
    )


def build_winnow_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table_name: str,
    path: str,
    k: int = 12,
    w: int = 4,
    max_df: int = 20,
    num_buckets: int = 32,
    portable_hash: bool = True,
) -> None:
    """Persist the archive's winnowed fingerprints as a BUCKETED parquet
    table (bucketed by ``fp``) — the shared-passage sibling of
    :func:`build_minhash_index`, and the same 100 TB contract: the
    archive is fingerprinted ONCE, incremental lookups join
    bucket-locally, and the history side is never reshuffled no matter
    how large it grows. Index size ≤ 2/(w+1) of archive chars, minus
    the df-capped head."""
    from ..sources.io import write_bucketed

    write_bucketed(
        winnow_index_rows(df, text_col, id_col, k, w, max_df,
                          portable_hash),
        table_name, path,
        bucket_cols=["fp"], num_buckets=num_buckets, sort_cols=["fp"],
    )


def incremental_winnow_candidates(
    spark,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    index_table: str,
    k: int = 12,
    w: int = 4,
    min_shared: int = 10,
    max_df: int = 20,
    portable_hash: bool = True,
) -> DataFrame:
    """Shared-passage candidates of a NEW batch against the persisted
    winnow index: fingerprint today's batch with the same deterministic
    scheme, cap batch-side fingerprint frequency (the archive side was
    capped at build), join on ``fp`` bucket-locally — only the batch
    shuffles, sized by today's data — and keep (new_id, indexed_id)
    pairs sharing ≥ ``min_shared`` fingerprints. Winnowing's guarantee
    carries over: any shared substring of length ≥ w+k−1 chars between
    a new doc and an archived doc yields a shared fingerprint, so true
    shared-passage pairs are never missed by the index hop (modulo the
    df cap, identical to the batch operator's contract)."""
    from pyspark.sql import Window

    new_fps = winnow_fingerprints(new_df, text_col, id_col, k, w,
                                  portable_hash)
    new_capped = (
        new_fps.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .where(F.col("__df") <= max_df)
        .select(F.col("__id").alias("new_id"), "fp")
    )
    # a table name = the bucketed-archive path (bucket-local join); a
    # DataFrame = the oracle/testing path, same contract as
    # incremental_semantic_dedup's `index`
    idx = (
        spark.table(index_table)
        if isinstance(index_table, str)
        else index_table
    )
    return (
        new_capped.join(idx, "fp")
        .groupBy("new_id", "indexed_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    max_df: int = 20,
    min_len: int = 30,
    portable_hash: bool = True,
) -> DataFrame:
    """Exact duplicated-SUBSTRING spans across document pairs (the
    substring-level dedup of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022 — which removes repeated
    spans, not whole documents): (left_id, right_id, left_start,
    right_start, span_len) for every maximal shared substring of length
    ≥ ``min_len`` ≥ ``k``.

    The distributed shape (no suffix array needed): hash every char
    k-gram WITH its position, cap grams by document frequency (boilerplate
    guard — bounds the join like every inverted-index tier), equi-join
    positions on the hash, then merge runs of consecutive matches on the
    same DIAGONAL (p_left − p_right) via gaps-and-islands windows — a run
    of L consecutive k-gram matches is exactly a shared substring of
    length L + k − 1. Shuffles: one on the hash (df cap + pair join), one
    on (pair, diagonal) for the island windows — match-volume-sized, never
    corpus². ASCII contract as in :func:`winnow_fingerprints`.

    ``portable_hash`` (r6, same knob as :func:`winnow_fingerprints`):
    the k-gram hash is ONLY an equi-join key here — any hash with
    negligible collision mass yields the identical span set — but the
    cross-engine oracle must replay the exact hash, and DuckDB has no
    xxhash64. Default True = md5-derived (the oracle contract); False =
    ``xxhash64`` (JVM intrinsic, no hex round-trip) for production runs
    — pytest pins both paths span-identical.
    """
    from pyspark.sql import Window

    from ..operators.partitioning import fan_out_if_narrow

    # per-gram md5 dominates and runs upstream of the first (hash-key)
    # exchange — rescue an under-parallel scan (same as winnowing)
    base = fan_out_if_narrow(
        df.where(F.octet_length(F.col(text_col)) == F.length(F.col(text_col)))
        .select(F.col(id_col).alias("__id"), F.lower(F.col(text_col)).alias("__t"))
        .where(F.length("__t") >= k),
        "__id",
        heavy=True,  # per-gram md5 dominates (same as winnowing)
    )
    grams = base.select(
        "__id",
        F.explode(F.sequence(F.lit(1), F.length("__t") - (k - 1))).alias("p"),
        F.col("__t"),
    )
    gram = F.col("__t").substr(F.col("p"), F.lit(k))
    if portable_hash:
        h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(gram)
    hashed = grams.select("__id", "p", h.alias("h"))
    # distinct-doc frequency per hash WITHOUT a groupBy+join (which costs a
    # second full-stream shuffle — measured ×10 probe ratio 13.6 vs the
    # data ratio 10): one exchange on h, a lag flag marks each hash's
    # first row per doc, a full-frame sum counts the flags. Exact same df
    # semantics, one WindowExec sort instead of an aggregate + join.
    w_ord = Window.partitionBy("h").orderBy("__id", "p")
    w_all = Window.partitionBy("h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    capped = (
        hashed.withColumn(
            "__new_doc",
            (F.lag("__id").over(w_ord).isNull()
             | (F.lag("__id").over(w_ord) != F.col("__id"))).cast("long"),
        )
        .withColumn("__df", F.sum("__new_doc").over(w_all))
        .where(F.col("__df") <= max_df)
        .select("__id", "p", "h")
    ).persist()
    m = (
        capped.select("h", F.col("__id").alias("left_id"), F.col("p").alias("pa"))
        .join(
            capped.select(
                "h", F.col("__id").alias("right_id"), F.col("p").alias("pb")
            ),
            "h",
        )
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("left_id", "right_id", "diag").orderBy("pa")
    isl = m.withColumn(
        "__brk",
        F.when(F.col("pa") - F.lag("pa").over(w) == 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "__g",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    out = (
        isl.groupBy("left_id", "right_id", "diag", "__g")
        .agg(
            F.min("pa").cast("long").alias("left_start"),
            F.min("pb").cast("long").alias("right_start"),
            (F.max("pa") - F.min("pa") + k).cast("long").alias("span_len"),
        )
        .where(F.col("span_len") >= min_len)
        .select("left_id", "right_id", "left_start", "right_start", "span_len")
    )
    return register_scoped_persists(out, capped)


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The ACTION half of substring-level dedup (Lee et al. ACL 2022): cut
    every duplicated span out of its RIGHT document — the lower-id (first)
    occurrence is the one kept, mirroring every keep-smallest-id rule in
    this module. Returns (id, clean_text, n_removed_chars).

    Pure Catalyst surgery, overlap-safe by construction: explode the doc
    into (pos, char) rows (span positions index the lowercased detection
    text, but ASCII lowering is length-preserving, so they address the
    original bytes 1:1), LEFT-ANTI range-join chars against the doc's
    spans (a char survives iff NO span covers it — overlapping spans need
    no interval merging under this formulation), and reassemble the
    survivors in position order with the A8 array_sort device. O(chars)
    rows, shuffles keyed by doc id.
    """
    s = spans.select(
        F.col("right_id").alias("__id"), "right_start", "span_len"
    )
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    chars = base.select(
        "__id",
        F.explode(F.sequence(F.lit(1), F.length("__t"))).alias("p"),
        F.col("__t"),
    ).select("__id", "p", F.col("__t").substr(F.col("p"), F.lit(1)).alias("ch"))
    kept = chars.join(
        s,
        (chars["__id"] == s["__id"])
        & (F.col("p") >= F.col("right_start"))
        & (F.col("p") < F.col("right_start") + F.col("span_len")),
        "left_anti",
    )
    clean = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "ch"))),
                lambda x: x["ch"],
            ),
            "",
        ).alias("clean_text")
    )
    return (
        base.join(clean, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (
                F.length("__t")
                - F.length(F.coalesce(F.col("clean_text"), F.lit("")))
            )
            .cast("long")
            .alias("n_removed_chars"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score: Column | None = None,
    *,
    text_col: str = "text",
    broadcast_drops: bool = False,
) -> DataFrame:
    """Quality-aware duplicate-cluster canonicalization: resolve each
    near-duplicate connected component to the member with the BEST
    ``score`` (ties → lowest id) and drop the rest; rows in no cluster
    survive untouched. "Keep the longest/cleanest copy" rather than the
    arbitrary min-id canonical — what production corpus dedup actually
    wants (boilerplate-stripped originals beat truncated mirrors).

    ``score`` defaults to ``length(text_col)`` (keep-longest). The
    argmax runs as two map-side-partial aggregates — ``max(score)`` per
    component, then ``min(id)`` among the tied best — so a
    viral-boilerplate mega-cluster combines before the shuffle instead
    of sorting in one task (same skew rule as the C4 span canonical),
    and ids only need to be ORDERABLE, not numeric.

    Plan: components via :func:`duplicate_components` (driver union-find
    under its size guard, star rounds above it), then component-keyed
    aggregates + one anti-join of the
    drop set against the corpus. The drop set is cluster-member-bounded
    and often dimension-sized, but on boilerplate-heavy corpora it is a
    large corpus fraction — so the default is ``broadcast_drops=False``
    (r6, the post-r4 convention: AQE decides the anti-join strategy at
    runtime and still broadcasts genuinely small drop sets). Pass
    ``True`` only when the caller KNOWS the drop set is tiny and wants
    the exchange pinned.
    """
    if score is None:
        score = F.length(F.col(text_col))
    # components emit a literal doc_id column — align to the caller's id
    comp = duplicate_components(pairs).withColumnRenamed(
        "doc_id", id_col
    )
    members = comp.join(
        df.select(F.col(id_col), score.alias("__q")), id_col
    )
    best_q = members.groupBy("component_id").agg(
        F.max("__q").alias("__qmax")
    )
    best = (
        members.join(best_q, "component_id")
        # eqNullSafe: a component whose members ALL have NULL scores has
        # __qmax NULL — a plain == would select nobody and silently skip
        # canonicalizing that cluster; null-safe equality makes every
        # member tie and the id tie-break decide
        .where(F.col("__q").eqNullSafe(F.col("__qmax")))
        .groupBy("component_id")
        .agg(F.min(F.col(id_col)).alias("__best_id"))
    )
    drops = (
        members.join(best, "component_id")
        .where(F.col(id_col) != F.col("__best_id"))
        .select(id_col)
    )
    if broadcast_drops:
        drops = F.broadcast(drops)
    return df.join(drops, id_col, "left_anti")


def jaro_winkler(
    s1: str,
    s2: str,
    *,
    prefix_scale: float = 0.1,
    boost_threshold: float = 0.7,
) -> float:
    """Jaro-Winkler similarity, bit-compatible with DuckDB's
    ``jaro_winkler_similarity`` (rapidfuzz conventions: either side
    empty -> 0.0 — including both empty; match window
    ``max(len)//2 - 1``; transpositions halved; prefix bonus only when
    the Jaro score exceeds ``boost_threshold``, prefix capped at 4).
    Validated bit-exact against DuckDB on 60k adversarial pairs
    (including 0-9 char strings over a 5-letter alphabet), so the
    score column itself can sit in a cross-engine oracle hash."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo = i - window
        if lo < 0:
            lo = 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    sim = (m / l1 + m / l2 + (m - t) / m) / 3
    if sim > boost_threshold:
        p = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            p += 1
        sim += p * prefix_scale * (1.0 - sim)
    return sim


def jaro_winkler_scored_pairs(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    out_col: str = "jw",
) -> DataFrame:
    """Append a Jaro-Winkler score column to a CANDIDATE pair frame —
    the verify tier of blocked entity resolution (the tiering contract
    of this module: exact pairwise work runs only on candidates from a
    bucketed/blocked tier, never all-pairs). NULL on either side scores
    NULL.

    Plan shape: JW is symmetric, so the Python scoring stage runs over
    the DISTINCT canonical string pairs (least, greatest), which the
    original pair frame then equi-joins back onto. Real entity columns
    are heavily repeated, so this collapses the Python work by the
    duplication factor (measured 106× on the part-name gate: 1.0M
    candidate rows → 9.4k distinct string pairs, 61s → ~2s) and
    degrades gracefully to one score per pair when strings are unique.
    The distinct set is explicitly repartitioned to the core count
    before ``mapInPandas`` — its byte size is tiny but its cost is CPU,
    exactly the stage AQE's size-based coalescing would otherwise
    squeeze onto one Python worker."""
    import pandas as pd

    spark = pairs.sparkSession
    uniq = (
        pairs.where(
            F.col(left_col).isNotNull() & F.col(right_col).isNotNull()
        )
        .select(
            F.least(left_col, right_col).alias("__s1"),
            F.greatest(left_col, right_col).alias("__s2"),
        )
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def score(it):
        for pdf in it:
            pdf[out_col] = pd.Series(
                [
                    jaro_winkler(str(a), str(b))
                    for a, b in zip(pdf["__s1"], pdf["__s2"])
                ],
                dtype="float64",
            )
            yield pdf

    scored = uniq.mapInPandas(
        score,
        T.StructType(
            [
                T.StructField("__s1", T.StringType(), True),
                T.StructField("__s2", T.StringType(), True),
                T.StructField(out_col, T.DoubleType(), True),
            ]
        ),
    )
    # null-rejecting equi-join: rows with a NULL side miss and keep a
    # NULL score. Spark's least/greatest SKIP nulls, so (NULL,'x')
    # canonicalizes to ('x','x') and would equi-join a genuine
    # identical pair's score — the explicit isNotNull guards keep
    # NULL-sided rows from ever matching a scored row.
    out = pairs.join(
        scored,
        F.col(left_col).isNotNull()
        & F.col(right_col).isNotNull()
        & (F.least(left_col, right_col) == F.col("__s1"))
        & (F.greatest(left_col, right_col) == F.col("__s2")),
        "left",
    )
    return out.select(*pairs.columns, out_col)
