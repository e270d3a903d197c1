"""Property-based differential tests (hypothesis) — what the reference's
suite lacks entirely (SURVEY §5: "no property-based/randomized testing").

Each property checks a distributed operator against a trivially-correct
pure-Python model on randomized inputs. Example counts are kept small
because every example is a Spark round-trip; the point is shrunk
counterexamples for semantic edge cases (ties, empties, boundaries), not
volume.
"""

from __future__ import annotations

import bisect

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
import pytest

# bound at import, before any test patches the module's guards
from ihop_reddit_spark.datapipe.dedup import MAX_DRIVER_EDGES as _DEFAULT_GUARD
from ihop_reddit_spark.datapipe.dedup import MAX_LOCAL_DOCS as _DEFAULT_DOCS_GUARD

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SETTINGS
@given(
    counts=st.lists(st.integers(min_value=1, max_value=20), min_size=1, max_size=40),
    frac=st.sampled_from([0.0, 0.05, 0.25, 0.5, 0.9]),
)
@pytest.mark.slow
def test_exclude_top_percent_matches_percent_rank_spec(spark, counts, frac):
    from ihop_reddit_spark.operators.windows import (
        exclude_top_percent,
        percent_rank_exact,
    )

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "id long, cnt long"
    )
    fast = {r["id"] for r in exclude_top_percent(df, "cnt", frac).collect()}
    spec = {
        r["id"]
        for r in percent_rank_exact(df, "cnt")
        .where(F.col("percent_rank") <= 1.0 - frac)
        .collect()
    }
    assert fast == spec


@SETTINGS
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=25
    ),
)
@pytest.mark.slow
def test_asof_join_matches_python_model(spark, left, right):
    from ihop_reddit_spark.operators.joins import asof_join

    # dedup right per (key, ts) keeping max payload id — the documented
    # determinism precondition
    rmap = {}
    for i, (k, t) in enumerate(right):
        rmap[(k, t)] = max(rmap.get((k, t), -1), i)
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, ts long"
    )
    rdf = spark.createDataFrame(
        [(rid, k, t) for (k, t), rid in rmap.items()], "rid long, k long, ts long"
    )
    got = {
        r["lid"]: r["asof_rid"]
        for r in asof_join(ldf, rdf, "k", "ts", "ts", right_cols=["rid"]).collect()
    }
    by_key: dict[int, list[tuple[int, int]]] = {}
    for (k, t), rid in rmap.items():
        by_key.setdefault(k, []).append((t, rid))
    for k in by_key:
        by_key[k].sort()
    for i, (k, t) in enumerate(left):
        rows = by_key.get(k, [])
        pos = bisect.bisect_right([x[0] for x in rows], t)
        expect = rows[pos - 1][1] if pos else None
        assert got[i] == expect


@SETTINGS
@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["a", "B", "ab", "é", "Ü", ""]), min_size=1, max_size=12
            ).map(lambda toks: " ".join(toks)),
        ),
        min_size=2,
        max_size=8,
    ),
    n=st.sampled_from([2, 3]),
    cap=st.sampled_from([None, 2]),
)
@example(docs=[None, None, "", "a"], n=3, cap=None)
@pytest.mark.slow
def test_ngram_jaccard_matches_set_model(spark, monkeypatch, docs, n, cap):
    """Both sides of the driver guard against a set model. Tokens are the
    lowered text split on single spaces, so a double space is an empty
    token; a document shorter than n tokens is one whole-text shingle,
    null text has none, and shingles in more than ``cap`` documents do
    not count toward an intersection (the sizes stay uncapped)."""
    from ihop_reddit_spark.datapipe import dedup

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )

    def shingles(text) -> set:
        if text is None:
            return set()
        toks = text.lower().split(" ")
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(d) for i, d in enumerate(docs)}
    freq: dict = {}
    for grams in sets.values():
        for g in grams:
            freq[g] = freq.get(g, 0) + 1
    expect = {}
    for a in sets:
        for b in sets:
            inter = sum(
                1 for g in sets[a] & sets[b] if cap is None or freq[g] <= cap
            )
            if a < b and inter:
                expect[(a, b)] = inter / (len(sets[a]) + len(sets[b]) - inter)

    rows = []
    for guard in (0, _DEFAULT_DOCS_GUARD):
        with monkeypatch.context() as m:
            m.setattr(dedup, "MAX_LOCAL_DOCS", guard)
            out = dedup.ngram_jaccard_pairs(
                df, "text", "doc_id", n=n, threshold=0.0, max_shingle_df=cap
            )
            # the driver path is one local relation, the Catalyst plan a join
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert ("Join" in plan) == (guard == 0)
            rows.append(sorted(map(tuple, out.collect())))
    assert rows[0] == rows[1]  # identical rows on both sides of the guard
    got = {(r[0], r[1]): r[5] for r in rows[0]}
    assert got.keys() == expect.keys()
    for k, j in expect.items():
        assert abs(got[k] - j) < 1e-12


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 9), st.sampled_from("xyzw")),
        min_size=1,
        max_size=30,
    )
)
@pytest.mark.slow
def test_grouped_concat_matches_python_model(spark, rows):
    from ihop_reddit_spark.operators.aggregates import grouped_concat

    df = spark.createDataFrame(rows, "g long, ord long, v string")
    got = {
        r["g"]: (r["context_concat"], r["context_length"])
        for r in grouped_concat(df, "g", "v", order_cols=["ord"]).collect()
    }
    model: dict[int, list[tuple[int, str]]] = {}
    for g, o, v in rows:
        model.setdefault(g, []).append((o, v))
    for g, items in model.items():
        items.sort()  # (ord, value) — same total order as the operator
        assert got[g] == (" ".join(v for _, v in items), len(items))


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 9), st.sampled_from("xyzw")),
        min_size=1,
        max_size=40,
    ),
    n_salts=st.sampled_from([1, 3, 16]),
)
@pytest.mark.slow
def test_salted_grouped_concat_equals_plain(spark, rows, n_salts):
    from ihop_reddit_spark.operators.aggregates import (
        grouped_concat,
        grouped_concat_salted,
    )

    df = spark.createDataFrame(rows, "g long, ord long, v string")
    plain = {
        tuple(r)
        for r in grouped_concat(df, "g", "v", order_cols=["ord"]).collect()
    }
    salted = {
        tuple(r)
        for r in grouped_concat_salted(
            df, "g", "v", order_cols=["ord"], n_salts=n_salts
        ).collect()
    }
    assert plain == salted


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    k=st.sampled_from([1, 3, 7]),
    n_salts=st.sampled_from([1, 4, 16]),
)
@pytest.mark.slow
def test_salted_top_k_equals_window_path(spark, rows, k, n_salts):
    """top_k_per_group_salted keeps exactly the window path's rows for
    any group shapes, k, and salt counts (unique order keys — the
    operator's documented contract)."""
    from pyspark.sql import functions as F

    from ihop_reddit_spark.operators.windows import (
        top_k_per_group,
        top_k_per_group_salted,
    )

    df = spark.createDataFrame(rows, "g long, v long")
    plain = {
        (r["g"], r["rank"], r["v"])
        for r in top_k_per_group(df, "g", [F.col("v").asc()], k).collect()
    }
    salted = {
        (r["g"], r["rank"], r["v"])
        for r in top_k_per_group_salted(
            df, "g", [F.col("v")], k, n_salts=n_salts
        ).collect()
    }
    assert plain == salted


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=15,
    )
)
@pytest.mark.slow
def test_components_match_union_find(spark, monkeypatch, edges):
    """``duplicate_components`` equals a pure-Python union-find both
    under the driver guard and, with the guard at 0, at the star
    contraction's fixpoint."""
    from ihop_reddit_spark.datapipe import dedup

    norm = sorted({(min(a, b), max(a, b)) for a, b in edges})
    want = set(_union_find(norm).items())
    # each guard patched for one call only: a patch left in place would
    # carry over to the next hypothesis example
    for guard in (_DEFAULT_GUARD, 0):
        with monkeypatch.context() as mp:
            mp.setattr(dedup, "MAX_DRIVER_EDGES", guard)
            pairs = spark.createDataFrame(norm, "left_id long, right_id long")
            out = dedup.duplicate_components(pairs)
            got = {(r["doc_id"], r["component_id"]) for r in out.collect()}
        assert got == want, guard
        assert (out._cc_rounds > 0) == (guard == 0), guard


def _union_find(edges):
    """{node: smallest node of its component}, by path-halving union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _cycle(nodes):
    return list(zip(nodes, nodes[1:] + nodes[:1]))


@settings(SETTINGS, max_examples=4)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=15,
    )
)
# odd cycles, and stars with chords between their leaves: the shapes on
# which a contraction round could map an edge set back onto an earlier one
@example(edges=_cycle([0, 1, 2]))
@example(edges=_cycle([3, 0, 4, 1, 2]))
@example(edges=_cycle([6, 2, 5, 0, 3, 1, 4]))
@example(edges=[(6, i) for i in range(6)] + [(0, 3), (1, 4), (2, 5)])
@example(edges=[(0, i) for i in range(1, 7)] + [(1, 2), (3, 4), (5, 6), (2, 6)])
def test_star_components_exit_at_a_single_round_fixpoint(spark, monkeypatch, edges):
    """With the driver guard at 0, ``duplicate_components`` contracts to a
    distributed fixpoint: the edge set it exits with must be a fixpoint of
    ONE round, and its components must equal union-find's."""
    from ihop_reddit_spark.datapipe import dedup
    from ihop_reddit_spark.datapipe.dedup import _star_round

    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", 0)
    norm = sorted({(min(a, b), max(a, b)) for a, b in edges})
    pairs = spark.createDataFrame(norm, "left_id long, right_id long")
    out = {(r["doc_id"], r["component_id"]) for r in dedup.duplicate_components(pairs).collect()}
    assert out == set(_union_find(norm).items())
    # the exit edges are the output's non-root rows, (u, v) = (doc, root)
    exit_edges = sorted((d, c) for d, c in out if d != c)
    frame = spark.createDataFrame(exit_edges, "u long, v long")
    assert {(r["u"], r["v"]) for r in _star_round(frame).collect()} == set(exit_edges)


@pytest.mark.slow
def test_star_components_converge_fast_on_chains(spark, monkeypatch):
    """Why the loop above the guard contracts stars: O(log n) rounds on
    diameter-n graphs, where min-label propagation needs n-1 rounds."""
    from ihop_reddit_spark.datapipe import dedup

    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", 0)
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "left_id long, right_id long"
    )
    out = dedup.duplicate_components(pairs)
    rows = {(r["doc_id"], r["component_id"]) for r in out.collect()}
    assert rows == {(i, 0) for i in range(n)}
    assert out._cc_rounds <= 10  # log-ish, vs 63 label-propagation rounds


def test_components_contract_then_finish_on_the_driver(spark, monkeypatch):
    """A 12-node clique (66 edges) with the guard at 20: star rounds run
    until the live edge set fits, then union-find finishes on the driver."""
    from ihop_reddit_spark.datapipe import dedup

    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", 20)
    clique = [(a, b) for a in range(12) for b in range(a + 1, 12)]
    out = dedup.duplicate_components(
        spark.createDataFrame(clique, "left_id long, right_id long")
    )
    assert out._cc_rounds >= 1
    assert {(r["doc_id"], r["component_id"]) for r in out.collect()} == set(
        _union_find(clique).items()
    )


@SETTINGS
@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=-5, max_value=5),
        max_size=20,
    ),
    delta=st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=-5, max_value=5),
        max_size=15,
    ),
)
@pytest.mark.slow
def test_merge_then_diff_recovers_delta(spark, base, delta):
    """diff(base, merge(base, delta)) must classify exactly the keys delta
    actually changed: inserts of unseen keys + updates with a new value."""
    from ihop_reddit_spark.operators.setops import merge_upsert, snapshot_diff

    bdf = spark.createDataFrame(
        [(k, v) for k, v in base.items()], "k long, v long"
    ) if base else spark.createDataFrame([], "k long, v long")
    ddf = spark.createDataFrame(
        [(k, v) for k, v in delta.items()], "k long, v long"
    ) if delta else spark.createDataFrame([], "k long, v long")
    merged = merge_upsert(bdf, ddf, ["k"])
    got = {
        r["k"]: r["change"]
        for r in snapshot_diff(bdf, merged, ["k"], ["v"]).collect()
    }
    expect = {}
    for k, v in delta.items():
        if k not in base:
            expect[k] = "added"
        elif base[k] != v:
            expect[k] = "changed"
    assert got == expect


@SETTINGS
@given(
    tokens=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=30),
            st.sampled_from(["s1", "s2"]),
        ),
        min_size=1,
        max_size=25,
    ),
    budget=st.sampled_from([5, 16, 100]),
)
@pytest.mark.slow
def test_pack_sequences_matches_python_cumsum(spark, tokens, budget):
    from ihop_reddit_spark.datapipe.curation import pack_sequences

    rows = [(i, "w " * n, src, n) for i, (n, src) in enumerate(tokens)]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s, _ in rows], "doc_id long, text string, source string"
    )
    out = pack_sequences(
        df, "source", "doc_id", F.size(F.split(F.col("text"), " ")), budget
    )
    got = {r["doc_id"]: (r["bin"], r["n_tokens"]) for r in out.collect()}
    # python model: per-source doc_id-ordered running offset
    offsets: dict[str, int] = {}
    for i, _, src, n in rows:
        off = offsets.get(src, 0)
        assert got[i] == (off // budget, n), (i, src, off)
        offsets[src] = off + n


@SETTINGS
@given(
    tokens=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=30),
            st.sampled_from(["s1", "s2"]),
        ),
        min_size=1,
        max_size=25,
    ),
    budget=st.sampled_from([5, 16, 100]),
    shard_width=st.sampled_from([1, 3, 7]),
)
@pytest.mark.slow
def test_pack_sequences_sharded_equals_single_window(
    spark, tokens, budget, shard_width
):
    """The sharded two-pass rebase (the 100 TB default path) must assign
    every row the exact bin of the one-window-per-source form."""
    from ihop_reddit_spark.datapipe.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * n, s) for i, (n, s) in enumerate(tokens)],
        "doc_id long, text string, source string",
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), " "))
    single = pack_sequences(
        df, "source", "doc_id", n_tok, budget, shard_width=None
    )
    sharded = pack_sequences(
        df, "source", "doc_id", n_tok, budget, shard_width=shard_width
    )
    got_single = {r["doc_id"]: (r["bin"], r["n_tokens"]) for r in single.collect()}
    got_sharded = {r["doc_id"]: (r["bin"], r["n_tokens"]) for r in sharded.collect()}
    assert got_sharded == got_single


@SETTINGS
@given(
    tokens=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=8),
    chunk=st.sampled_from([3, 5, 8]),
    overlap=st.sampled_from([0, 1, 2]),
)
@pytest.mark.slow
def test_chunk_documents_matches_python_model(spark, tokens, chunk, overlap):
    from ihop_reddit_spark.datapipe.curation import chunk_documents

    rows = [(i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=chunk, overlap=overlap)
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_chunk_tokens)
        for r in out.collect()
    }
    stride = chunk - overlap
    want = {}
    for i, n in enumerate(tokens):
        toks = [f"t{i}_{j}" for j in range(n)]
        starts = list(range(0, max(n - 1, 0) + 1, stride))
        for cid, s in enumerate(starts):
            piece = toks[s : s + chunk]
            want[(i, cid)] = (" ".join(piece), len(piece))
    assert got == want


@SETTINGS
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 60)),
        min_size=1, max_size=15,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 60)),
        min_size=1, max_size=15,
    ),
    width=st.sampled_from([7, 50, 200]),
)
@pytest.mark.slow
def test_interval_overlap_join_equals_theta_join(spark, lefts, rights, width):
    from ihop_reddit_spark.operators.joins import interval_overlap_join

    ldf = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(lefts)],
        "lid long, ls long, le long",
    )
    rdf = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(rights)],
        "rid long, rs long, re long",
    )
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            ldf, rdf, ("ls", "le"), ("rs", "re"), bucket_width=width
        ).collect()
    }
    want = {
        (li, ri)
        for li, (ls, ld) in enumerate(lefts)
        for ri, (rs, rd) in enumerate(rights)
        if ls <= rs + rd and rs <= ls + ld
    }
    assert got == want


@SETTINGS
@given(
    deltas=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=5),   # key
                st.sampled_from(["A", "B", "C"]),        # tracked value
            ),
            min_size=0, max_size=4, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=4,
    )
)
@pytest.mark.slow
def test_scd2_apply_invariants_vs_python_model(spark, deltas):
    from ihop_reddit_spark.operators.setops import (
        SCD2_OPEN_END,
        scd2_apply,
        scd2_init,
    )

    snap = spark.createDataFrame(
        [(1, "A"), (2, "B")], ["k", "seg"]
    )
    hist = scd2_init(snap, ["k"], ["seg"], valid_from=0)

    # python model: dict key -> list of (seg, vf, vt)
    model = {1: [("A", 0, SCD2_OPEN_END)], 2: [("B", 0, SCD2_OPEN_END)]}
    eff = 0
    for batch in deltas:
        eff += 10
        df = spark.createDataFrame(
            [(k, v) for k, v in batch], "k long, seg string"
        ) if batch else spark.createDataFrame([], "k long, seg string")
        # truncate lineage per application — the property is about MERGE
        # semantics, not about compounding plan depth
        hist = scd2_apply(hist, df, ["k"], ["seg"], eff=eff).localCheckpoint(
            eager=True
        )
        for k, v in batch:
            if k not in model:
                model[k] = [(v, eff, SCD2_OPEN_END)]
            else:
                seg, vf, vt = model[k][-1]
                if seg != v:
                    model[k][-1] = (seg, vf, eff)
                    model[k].append((v, eff, SCD2_OPEN_END))

    rows = hist.collect()
    got = {}
    for r in rows:
        got.setdefault(r["k"], []).append(
            (r["seg"], r["valid_from"], r["valid_to"], r["is_current"])
        )
    for k, versions in got.items():
        versions.sort(key=lambda t: t[1])
        # invariants: exactly one current row; intervals tile [0, open)
        assert sum(1 for v in versions if v[3]) == 1
        assert versions[-1][3] and versions[-1][2] == SCD2_OPEN_END
        for (_, _, vt_prev, _), (_, vf_next, _, _) in zip(
            versions, versions[1:]
        ):
            assert vt_prev == vf_next
        # exact equality with the python model
        assert [(s, vf, vt) for s, vf, vt, _ in versions] == model[k]
    assert set(got) == set(model)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # partition tag
            st.floats(
                min_value=-5, max_value=5,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_histogram_partials_merge_partition_invariant(spark, rows):
    """Mergeable-sketch law: however the input is split into partials,
    the merged histogram equals the direct single-pass histogram, and
    quantile reads agree with a python model of type-1 selection over
    the quantized values."""
    import math

    from ihop_reddit_spark.datapipe.sketches import (
        histogram_merge,
        histogram_partials,
        histogram_quantiles,
    )

    df = spark.createDataFrame(
        [("g", tag, v) for tag, v in rows],
        "grp string, tag int, value double",
    )
    merged = histogram_merge(
        histogram_partials(df, ["grp", "tag"], "value"), ["grp"]
    )
    direct = histogram_partials(df, ["grp"], "value")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    buckets = sorted(math.floor(v * 1000) for _, v in rows)
    got = {
        r["q_permille"]: r["bucket"]
        for r in histogram_quantiles(
            merged, ["grp"], [250, 500, 750, 1000]
        ).collect()
    }
    n = len(buckets)
    for q in (250, 500, 750, 1000):
        want = buckets[max(0, -(-q * n // 1000) - 1)]
        assert got[q] == want, (q, buckets)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.sampled_from(
            ["append", "rename", "widen", "add", "drop", "delete"]
        ),
        min_size=2,
        max_size=8,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@pytest.mark.slow
def test_manifest_schema_evolution_model_differential(
    spark, tmp_path_factory, ops, seed
):
    """Model-based differential for schema evolution: a random sequence
    of append / rename / widen / add / drop / delete_where against a
    plain Python list-of-dicts model. After every step the snapshot
    must equal the model under the CURRENT logical names, and time
    travel to any recorded version must equal that version's recorded
    model — whatever physical names and widened types the files hold."""
    import random

    from ihop_reddit_spark.sources import manifest as M

    rng = random.Random(seed)
    root = str(tmp_path_factory.mktemp("evo") / "tbl")
    M.manifest_init(root)

    # model state: list of column names (logical), per-column type tag
    # ("int" | "long"), and rows as dicts {logical: value}
    cols = ["k", "v"]
    types = {"k": "long", "v": "long"}
    rows: list[dict] = []
    next_key = 0
    dropped_ever: list[str] = []
    next_col = 0
    history: list[tuple[int, list, list]] = []  # (version, cols, rows)

    def ddl() -> str:
        return ", ".join(f"`{c}` {types[c]}" for c in cols)

    def append_batch() -> None:
        nonlocal next_key
        batch = []
        for _ in range(rng.randint(1, 5)):
            row = {}
            for c in cols:
                row[c] = next_key * 7 + len(c)
            row[cols[0]] = next_key
            batch.append(row)
            next_key += 1
        df = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in batch], ddl()
        )
        M.manifest_append(df.coalesce(1), root)
        rows.extend(batch)

    append_batch()  # at least one data version before any alter
    history.append(
        (M.latest_version(root), list(cols), [dict(r) for r in rows])
    )

    for op in ops:
        if op == "append":
            append_batch()
        elif op == "rename" and len(cols) >= 2:
            old = rng.choice(cols[1:])
            new = f"c{next_col}"
            next_col += 1
            M.manifest_alter_schema(root, rename={old: new})
            cols[cols.index(old)] = new
            types[new] = types.pop(old)
            for r in rows:
                r[new] = r.pop(old)
        elif op == "widen":
            targets = [c for c in cols if types[c] == "int"]
            if not targets:
                continue
            c = rng.choice(targets)
            M.manifest_alter_schema(root, widen={c: "bigint"})
            types[c] = "long"
        elif op == "add":
            new = f"c{next_col}"
            next_col += 1
            # sometimes re-add a previously dropped name: the fresh
            # physical mapping must keep old bytes unreachable
            if dropped_ever and rng.random() < 0.5:
                new = dropped_ever[-1]
                if new in cols:
                    continue
            M.manifest_alter_schema(root, add=[(new, "int")])
            cols.append(new)
            types[new] = "int"
            for r in rows:
                r[new] = None
        elif op == "drop" and len(cols) >= 3:
            c = rng.choice(cols[1:])
            M.manifest_alter_schema(root, drop=[c])
            cols.remove(c)
            types.pop(c)
            dropped_ever.append(c)
            for r in rows:
                r.pop(c)
        elif op == "delete" and rows:
            mod = rng.randint(2, 4)
            M.manifest_delete_where(
                spark, root, F.col(cols[0]) % mod == 0
            )
            rows = [r for r in rows if r[cols[0]] % mod != 0]
        else:
            continue
        history.append(
            (M.latest_version(root), list(cols), [dict(r) for r in rows])
        )

    def as_set(recs, cs):
        return {
            tuple(
                (None if r[c] is None else int(r[c])) for c in cs
            )
            for r in recs
        }

    snap = M.read_snapshot(spark, root)
    assert snap.columns == cols
    assert as_set(
        [row.asDict() for row in snap.collect()], cols
    ) == as_set(rows, cols)
    # time travel to every recorded version reproduces that version's
    # model under that version's own column names
    for version, vcols, vrows in history:
        old = M.read_snapshot(spark, root, version)
        assert old.columns == vcols
        assert as_set(
            [row.asDict() for row in old.collect()], vcols
        ) == as_set(vrows, vcols)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.sampled_from(
            ["txn", "direct", "torn_committed", "dead_staged", "snapshot"]
        ),
        min_size=3,
        max_size=9,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@pytest.mark.slow
def test_catalog_txn_model_differential(
    spark, tmp_path_factory, ops, seed
):
    """Model-based differential for catalog transactions: a random
    interleaving of committed transactions, direct-to-table appends,
    committed-but-unapplied ("torn") transactions, and abandoned staged
    transactions, against a plain Python model of each table's log and
    the catalog's pin history. Invariants: plain snapshots equal the
    model log; every recorded catalog version's pinned read equals the
    model's pin-time contents (torn txns materialize AFTER any direct
    appends that beat them to the log — exactly what roll-forward
    serialization promises); abandoned stages never become visible."""
    import random

    from ihop_reddit_spark.sources import catalog as C
    from ihop_reddit_spark.sources import manifest as M

    rng = random.Random(seed)
    base = tmp_path_factory.mktemp("cat_model")
    paths = {"a": str(base / "a"), "b": str(base / "b")}
    for p in paths.values():
        M.manifest_init(p)
    cat = str(base / "cat")
    C.catalog_init(cat, paths)

    next_val = 0
    log = {"a": [], "b": []}  # materialized batches, in log order
    pending: list[dict[str, list[int]]] = []  # committed, unapplied
    pin_expect: dict[int, dict[str, int]] = {}  # cv -> {table: log len}
    # model of the HEAD pin: log length at each table's LAST txn
    # materialization — direct appends after it are (by design) not
    # visible through the catalog until the next transaction
    head_pin_len = {"a": 0, "b": 0}

    def batch(n):
        nonlocal next_val
        vals = list(range(next_val, next_val + n))
        next_val += n
        return vals

    def df_of(vals):
        return spark.createDataFrame(
            [(v,) for v in vals], "k long"
        ).coalesce(1)

    def flush_pending():
        # model twin of roll_forward: pending txns land in catalog order
        for txn in pending:
            for t, vals in sorted(txn.items()):
                log[t].append(vals)
                head_pin_len[t] = len(log[t])
        pending.clear()

    for op in ops:
        if op == "txn":
            flush_pending()  # CatalogTransaction.__init__ rolls forward
            t = C.CatalogTransaction(cat)
            txn = {}
            for name in rng.sample(["a", "b"], rng.randint(1, 2)):
                vals = batch(rng.randint(1, 4))
                t.append(name, df_of(vals))
                txn[name] = vals
            cv = t.commit()  # commit() rolls forward too
            for name, vals in sorted(txn.items()):
                log[name].append(vals)
                head_pin_len[name] = len(log[name])
            pin_expect[cv] = {n: len(log[n]) for n in txn}
        elif op == "direct":
            name = rng.choice(["a", "b"])
            vals = batch(rng.randint(1, 3))
            M.manifest_append(df_of(vals), paths[name])
            log[name].append(vals)
        elif op == "torn_committed":
            flush_pending()
            t = C.CatalogTransaction(cat)
            txn = {}
            for name in rng.sample(["a", "b"], rng.randint(1, 2)):
                vals = batch(rng.randint(1, 3))
                t.append(name, df_of(vals))
                txn[name] = vals
            head = C.catalog_latest(cat)
            C._commit_catalog_doc(
                cat,
                {
                    "version": head + 1,
                    "parent": head,
                    "operation": "txn",
                    "txn": t._payloads,
                },
            )
            pending.append(txn)
            # committed == will be visible at this cv once flushed; the
            # pin must include whatever lands in the log up to and
            # including this txn's own materialization
            pin_expect[head + 1] = None  # resolved at flush below
        elif op == "dead_staged":
            # the constructor rolls forward too — the model must flush
            # BEFORE recording later ops, or a torn txn would appear to
            # materialize after a direct append it actually preceded
            # (hypothesis-found model gap, r12)
            flush_pending()
            t = C.CatalogTransaction(cat)
            t.append(rng.choice(["a", "b"]), df_of(batch(2)))
            # abandoned: neither committed nor aborted — must never
            # become visible (its values are burned from the sequence)
        elif op == "snapshot":
            C.catalog_pins(cat)  # triggers roll-forward
            flush_pending()

    C.catalog_pins(cat)  # final roll-forward
    flush_pending()
    applied = C.roll_forward(cat)

    def model_vals(name, n_batches):
        return sorted(v for b in log[name][:n_batches] for v in b)

    def read_vals(df):
        return sorted(r["k"] for r in df.collect())

    # invariant 1: plain snapshots equal the model logs exactly
    for name, p in paths.items():
        want = model_vals(name, len(log[name]))
        if want:
            assert read_vals(M.read_snapshot(spark, p)) == want
        # an always-empty table has no schema to read — nothing to check

    # invariant 2: every catalog version's pinned read equals the
    # model's pin-time prefix for the txns we recorded directly
    for cv, want_n in sorted(pin_expect.items()):
        if want_n is None:
            continue  # torn txn — covered by invariant 3's monotonicity
        for name, n in want_n.items():
            want = model_vals(name, n)
            if not want:
                continue
            got = read_vals(C.read_catalog_table(spark, cat, name, cv))
            assert got == want, (cv, name)

    # invariant 3: pinned reads are monotone in catalog version, and the
    # head pin equals the full model log (torn txns included once flushed)
    for name in paths:
        if not log[name]:
            continue
        prev = -1
        for cv in sorted(applied):
            try:
                n = C.read_catalog_table(spark, cat, name, cv).count()
            except ValueError:
                n = 0  # pinned below the table's first batch
            assert n >= prev
            prev = n
        if head_pin_len[name]:
            assert read_vals(
                C.read_catalog_table(spark, cat, name)
            ) == model_vals(name, head_pin_len[name])
