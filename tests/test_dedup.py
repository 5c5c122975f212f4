"""Dedup operator tests (EXT north-star; SURVEY.md §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_observability_spark.operators import dedup as D
from clickhouse_observability_spark.sources.parquet import load_table

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The  quick brown fox jumps over the lazy dog"),  # ws/case only
    (2, "the quick brown fox jumps over the lazy cat"),  # 1 token differs
    (3, "lorem ipsum dolor sit amet consectetur adipiscing"),
    (4, "dog lazy the over jumps fox brown quick the"),  # reordered
    (5, "completely different content about spark engines"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_exact_dedup_normalized(docs):
    groups = D.exact_dedup_groups(docs, normalized=True).collect()
    dup = [g for g in groups if g.n_docs > 1]
    assert len(dup) == 1 and dup[0].n_docs == 2 and dup[0].keep_id == 0  # 0≡1
    kept = D.dedup_keep_first(docs).select("doc_id").collect()
    assert {r.doc_id for r in kept} == {0, 2, 3, 4, 5}


def test_tokenset_dedup_catches_reorder(docs):
    groups = D.tokenset_dedup_groups(docs).collect()
    by_keep = {g.keep_id: g.n_docs for g in groups}
    assert by_keep[0] == 3  # 0, 1, 4 share the token set


def test_jaccard_pairs_threshold(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in
             D.jaccard_pairs(docs, threshold=0.7).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 4) in pairs and pairs[(0, 4)] == 1.0
    assert (0, 2) in pairs  # 7/9 ≈ 0.78
    assert not any(5 in p for p in pairs)


def test_jaccard_max_df_prunes_common_shingles(docs):
    # 'the' appears in most docs; df-capping at 1 kills every shared
    # shingle between docs 0-2, so no pairs survive.
    pairs = D.jaccard_pairs(docs, threshold=0.7, max_df=1).collect()
    assert pairs == []


def test_jaccard_df_cap_strategy_parity(spark):
    # The cap measures the SAME capped shingle space under both
    # physical strategies, and docs reduced to nothing drop out.
    rows = [
        (0, "common alpha beta"),
        (1, "common alpha beta"),
        (2, "common gamma delta"),
        (3, "common"),  # only the hot token -> drops out entirely
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    expect = {(0, 1): 1.0}  # after 'common' (df=4 > 3) is capped away
    for strategy in ("bitmask", "index"):
        got = {(r.doc_a, r.doc_b): r.jaccard for r in
               D.jaccard_pairs(docs, threshold=0.99, max_df=3,
                               strategy=strategy).collect()}
        assert got == expect, strategy
    # frac form resolves against the corpus size (0.8 * 4 = 3.2 -> 3)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in
           D.jaccard_pairs(docs, threshold=0.99, max_df_frac=0.8).collect()}
    assert got == expect
    # and the capped bitmask path really is the bitmask plan
    plan = D.jaccard_pairs(
        docs, threshold=0.99, max_df=3, strategy="bitmask"
    )._jdf.queryExecution().executedPlan().toString()
    assert "bit_count" in plan


def test_jaccard_repeat_invocations_recompute(spark, monkeypatch, docs):
    # r13 (optimization-round contract): NO cross-run memoization —
    # every jaccard invocation recomputes from its input (the
    # strategy probe runs per call) and leaves NOTHING behind in the
    # cache manager (the bitmask path builds plain frames; only the
    # LSH groups frame persists, per-invocation with eviction — see
    # the dedup.py module note).
    calls = []
    orig_probe = D._probe_vocab_rows
    monkeypatch.setattr(
        D, "_probe_vocab_rows",
        lambda *a, **k: (calls.append(1), orig_probe(*a, **k))[1],
    )
    sc = spark.sparkContext
    base_ids = D._persisted_rdd_ids(sc)
    first = {(r.doc_a, r.doc_b): r.jaccard for r in
             D.jaccard_pairs(docs, threshold=0.7, max_df_frac=0.9).collect()}
    second = {(r.doc_a, r.doc_b): r.jaccard for r in
              D.jaccard_pairs(docs, threshold=0.7, max_df_frac=0.9).collect()}
    assert first == second and first
    assert len(calls) == 2, "probe must run once per invocation"
    assert D._persisted_rdd_ids(sc) == base_ids, \
        "jaccard invocations must not leave persisted frames behind"


def test_minhash_repeat_invocations_evict_previous_cache(spark, docs):
    # r13: the LSH groups frame persists per INVOCATION only — the
    # next call evicts it before persisting its own, so bench run n+1
    # can never serve run n's cached data.
    sc = spark.sparkContext
    base = D._persisted_rdd_ids(sc)
    r1 = {(r.doc_a, r.doc_b) for r in
          D.minhash_dedup_pairs(docs, threshold=0.8).collect()}
    ids1 = D._persisted_rdd_ids(sc) - base
    r2 = {(r.doc_a, r.doc_b) for r in
          D.minhash_dedup_pairs(docs, threshold=0.8).collect()}
    assert r1 == r2 and r1
    assert ids1.isdisjoint(D._persisted_rdd_ids(sc)), \
        "previous invocation's cached blocks must be evicted"


def test_minhash_recall_vs_exact(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    exact = {(r.doc_a, r.doc_b) for r in
             D.jaccard_pairs(docs, threshold=0.9).collect()}
    cand = {(r.doc_a, r.doc_b) for r in
            D.minhash_lsh_candidates(docs).collect()}
    assert exact, "fixture should contain high-jaccard pairs"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall}"


def test_minhash_dedup_pairs_subset_of_exact(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    got = {(r.doc_a, r.doc_b) for r in
           D.minhash_dedup_pairs(docs, threshold=0.9).collect()}
    exact = {(r.doc_a, r.doc_b) for r in
             D.jaccard_pairs(docs, threshold=0.9).collect()}
    assert got <= exact  # re-rank filters false positives exactly


def test_simhash_hamming_reflects_similarity(spark, docs):
    sh = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}

    def ham(a, b):
        return bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")

    assert ham(0, 1) == 0  # normalized-identical
    assert ham(0, 4) == 0  # same token set
    assert ham(0, 2) < ham(0, 5)  # near-dup closer than unrelated
    assert ham(0, 3) > 10  # disjoint vocab is far


def test_simhash_pairs_bucketing(spark, docs):
    pairs = {(r.doc_a, r.doc_b) for r in D.simhash_pairs(docs, max_hamming=3).collect()}
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs
    assert not any(p in pairs for p in [(0, 3), (3, 5)])


@pytest.mark.parametrize("max_hamming", [2, 6])
def test_hamming_pairs_matches_brute_force(spark, max_hamming):
    """The pigeonhole bucket join returns exactly the brute-force pair
    set (recall AND precision). 3 and 7 chunks split 64 bits unevenly;
    signed sketches with bit 63 set exercise the unsigned shift."""
    import random

    rs = random.Random(max_hamming)
    mask = (1 << 64) - 1

    def signed(u):
        return u - (1 << 64) if u >> 63 else u

    sketches = [rs.getrandbits(64) | (1 << 63) for _ in range(8)]
    sketches += [rs.getrandbits(64) for _ in range(8)]
    planted = []
    for base in sketches:
        # neighbours at every distance 0..max_hamming+1 (the last one
        # is just past the bar), flipped bits drawn across all chunks
        for d in range(max_hamming + 2):
            flip = 0
            for bit in rs.sample(range(64), d):
                flip |= 1 << bit
            planted.append(base ^ flip)
    values = [signed(v & mask) for v in sketches + planted]
    hashes = spark.createDataFrame(
        list(enumerate(values)), "id long, sketch long"
    )
    got = {
        (r.a, r.b): r.hamming
        for r in D.hamming_pairs(
            hashes, "id", "sketch", max_hamming, out_a="a", out_b="b"
        ).collect()
    }
    brute = {}
    for a, va in enumerate(values):
        for b in range(a + 1, len(values)):
            d = bin((va ^ values[b]) & mask).count("1")
            if d <= max_hamming:
                brute[(a, b)] = d
    assert any(d == max_hamming for d in brute.values())
    assert got == brute


def test_embedding_neardup_matches_numpy(spark, sf_small):
    import numpy as np

    emb = load_table(spark, sf_small, "embeddings")
    got = {(r.vec_a, r.vec_b): r.cosine for r in
           D.embedding_neardup_pairs(emb, threshold=0.45).collect()}
    rows = emb.orderBy("vec_id").collect()
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = [r.vec_id for r in rows]
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    expect = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            c = round(float(sims[i, j]), 4)
            if c >= 0.45:
                expect[(ids[i], ids[j])] = c
    assert got == expect


def test_corpus_index_matches_standalone_operators(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    idx = {r.doc_id: r for r in D.corpus_index(docs).collect()}
    # fused outputs are bit-identical to each standalone operator
    sigs = {r.doc_id: list(r.sig) for r in D.minhash_signatures(docs).collect()}
    sims = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    from clickhouse_observability_spark.operators.text_analysis import fingerprints

    fps = {r.doc_id: (r.fp_md5, r.fp_tokenset) for r in fingerprints(docs).collect()}
    assert set(idx) == set(sigs) == set(sims)
    for d, r in idx.items():
        assert list(r.sig) == sigs[d]
        assert r.simhash == sims[d]
        assert (r.fp_md5, r.fp_tokenset) == fps[d]
    # ONE scan, ONE exchange in the fused plan
    from clickhouse_observability_spark.plans.explain import (
        executed_plan,
        shuffle_count,
    )

    fused = D.corpus_index(docs)
    assert shuffle_count(fused) == 1
    assert executed_plan(fused).count("Scan parquet") == 1


# ---------------------------------------------------------------------------
# near-dup connected components + canonical keep-list
# ---------------------------------------------------------------------------

def _union_find_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member of each set
    return {x: find(x) for x in parent}


def test_components_match_union_find_random_graph(spark):
    import random

    rnd = random.Random(7)
    edges = sorted({(rnd.randrange(60), rnd.randrange(60)) for _ in range(80)
                    if True})
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a long, b long")
    from clickhouse_observability_spark.operators.dedup import neardup_components

    got = {r.doc_id: r.component_id for r in neardup_components(pairs).collect()}
    exp = _union_find_components(edges)
    # python union-find path-compresses to the same min-label canonical
    exp = {k: exp[k] for k in exp}
    assert got == exp


def test_components_long_chain_converges(spark):
    # worst-case diameter: a 30-node path; min label must reach the end
    edges = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    from clickhouse_observability_spark.operators.dedup import neardup_components

    got = {r.doc_id: r.component_id for r in
           neardup_components(pairs, max_iterations=40).collect()}
    assert got == {i: 0 for i in range(31)}


def test_canonical_keep_list_on_testdata(spark, sf_small):
    # end-to-end over real pairs: every doc appears exactly once across
    # components (keepers + members), keeper = min doc_id of component
    from clickhouse_observability_spark.operators.dedup import (
        canonical_per_component,
        minhash_dedup_pairs,
        neardup_components,
    )
    from clickhouse_observability_spark.sources.parquet import load_table

    docs = load_table(spark, sf_small, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.9)
    comps = neardup_components(pairs, a="doc_a", b="doc_b")
    keep = canonical_per_component(docs, comps).collect()
    n_docs = docs.count()
    assert sum(r.component_size for r in keep) == n_docs
    assert all(r.keep_doc_id == r.component_id for r in keep)
    # exact parity with python union-find over the same pairs
    edge_list = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    exp = _union_find_components(edge_list)
    got = {r.doc_id: r.component_id for r in comps.collect()}
    assert got == exp


def test_components_chain_converges_in_log_rounds(spark):
    # pointer jumping: a 60-node path converges well under 60 rounds —
    # max_iterations=10 suffices for log2(60)+slack
    edges = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    from clickhouse_observability_spark.operators.dedup import neardup_components

    got = {r.doc_id: r.component_id for r in
           neardup_components(pairs, max_iterations=10).collect()}
    assert got == {i: 0 for i in range(61)}


def test_components_free_superseded_checkpoints(spark):
    """r7 verdict #2: each fixpoint round localCheckpoints 1-2 frames;
    superseded rounds' blocks must be freed eagerly, not left for
    driver GC — after the call only the RETURNED frame's blocks (plus
    whatever was persisted before the call) may remain."""
    from clickhouse_observability_spark.operators.dedup import (
        _persisted_rdd_ids,
        neardup_components,
    )

    sc = spark.sparkContext
    before = _persisted_rdd_ids(sc)
    edges = [(i, i + 1) for i in range(60)]  # many rounds (path graph)
    pairs = spark.createDataFrame(edges, "a long, b long")
    labels = neardup_components(pairs, max_iterations=10)
    leaked = _persisted_rdd_ids(sc) - before
    # one surviving checkpoint backs the returned frame; everything
    # else (2 frames x ~7 rounds without the fix) must be gone
    assert len(leaked) <= 1, f"orphaned checkpoint blocks: {leaked}"
    # and the survivor is still readable (we freed nothing live)
    assert {r.doc_id: r.component_id for r in labels.collect()} == {
        i: 0 for i in range(61)}


def test_components_nonconvergence_raises(spark):
    import pytest as _pytest

    from clickhouse_observability_spark.operators.dedup import neardup_components

    edges = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(pairs, max_iterations=1)


# ------------------------------------------------------- duplicated spans

def _span_reference(rows, k):
    """Pure-python ExactSubstr reference: duplicated k-gram positions
    merged into maximal spans, plus the covered-token removal."""
    import re
    from collections import Counter

    toks = {
        i: [x for x in re.sub(r"\s+", " ", t.strip()).lower().split(" ") if x]
        for i, t in rows
    }
    cnt = Counter()
    for tk in toks.values():
        for p in range(len(tk) - k + 1):
            cnt[" ".join(tk[p : p + k])] += 1
    spans = []
    for i, tk in toks.items():
        runs = []
        for p in range(len(tk) - k + 1):
            if cnt[" ".join(tk[p : p + k])] < 2:
                continue
            p1 = p + 1
            if runs and p1 <= runs[-1][2] + k:
                runs[-1][1] = p1 + k - 1
                runs[-1][2] = p1
                runs[-1][3] += 1
            else:
                runs.append([p1, p1 + k - 1, p1, 1])
        spans += [(i, st, en, n) for st, en, _, n in runs]
    return toks, spans


@pytest.fixture(scope="module")
def span_docs(spark):
    import random

    rnd = random.Random(7)
    boiler = "this license text is identical across documents and quite long"
    rows = []
    for i in range(24):
        words = [f"w{i}_{j}" for j in range(rnd.randrange(4, 25))]
        t = " ".join(words)
        if i % 3 == 0:
            t = boiler + " " + t
        if i % 5 == 0:
            t = t + " " + boiler
        if i == 23:
            t = "tiny"  # shorter than k: must emit nothing, survive removal
        rows.append((i, t))
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return rows, df


def test_duplicated_spans_match_python_reference(span_docs):
    rows, df = span_docs
    k = 5
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in D.duplicated_spans(df, k=k).collect()
    )
    _, ref = _span_reference(rows, k)
    assert got == sorted(ref)
    # invariants: length >= k, disjoint + non-adjacent per doc
    by_doc: dict[int, list] = {}
    for d, st, en, n in got:
        assert en - st + 1 >= k
        by_doc.setdefault(d, []).append((st, en))
    for iv in by_doc.values():
        iv.sort()
        for (s1, e1), (s2, e2) in zip(iv, iv[1:]):
            assert s2 > e1 + 1  # merged spans never touch


def test_remove_duplicated_spans_drops_all_copies(span_docs):
    rows, df = span_docs
    k = 5
    spans = D.duplicated_spans(df, k=k)
    cleaned = {
        r.doc_id: (r.clean_text, r.n_tokens_removed)
        for r in D.remove_duplicated_spans(df, spans).collect()
    }
    toks, ref = _span_reference(rows, k)
    assert set(cleaned) == set(toks)  # spanless docs pass through too
    for i, tk in toks.items():
        cover = set()
        for d, st, en, _ in ref:
            if d == i:
                cover.update(range(st, en + 1))
        kept = [t for j, t in enumerate(tk) if j + 1 not in cover]
        assert cleaned[i] == (" ".join(kept), len(cover)), i
    # every ORIGINAL duplicated window is gone from the cleaned corpus
    from collections import Counter

    dup_grams = {
        g
        for g, c in Counter(
            " ".join(tk[p : p + k])
            for tk in toks.values()
            for p in range(len(tk) - k + 1)
        ).items()
        if c >= 2
    }
    for i, (clean, _) in cleaned.items():
        ct = clean.split(" ") if clean else []
        for p in range(len(ct) - k + 1):
            assert " ".join(ct[p : p + k]) not in dup_grams


def test_span_oracles_match_duckdb(spark, sf_small):
    """Executes the two registered (outside-the-window) oracle SQL
    strings against DuckDB on real testdata — the pattern ADVICE r3
    asked for: no dead oracle text."""
    import duckdb

    from clickhouse_observability_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet'"
    )
    for name in ("dedup_exact_spans", "dedup_span_removal"):
        sdf = qs[name](spark, sf_small)
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        assert sorted(sdf.columns) == sorted(dcols)
        idx = [dcols.index(c) for c in sdf.columns]
        drows = sorted(tuple(str(r[i]) for i in idx) for r in res.fetchall())
        srows = sorted(tuple(str(v) for v in r) for r in sdf.collect())
        assert srows == drows, name


def test_cluster_report_on_planted_structure(spark):
    # clusters {1,2,3} and {5,6}; docs 7, 8 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    comps = D.neardup_components(pairs, a="doc_a", b="doc_b")
    rows = {(r.section, r.cluster_size): r
            for r in D.cluster_report(7, comps).collect()}
    c3 = rows[("clusters", 3)]
    assert (c3.n_clusters, c3.n_docs) == (1, 3)
    c2 = rows[("clusters", 2)]
    assert (c2.n_clusters, c2.n_docs) == (1, 2)
    s = rows[("summary", None)]
    # keepers = 2 clusters + 2 singletons = 4 of 7 docs
    assert (s.n_clusters, s.n_docs) == (4, 7)
    # floor-quantized at 6dp (moneydec quotient policy, r9)
    import math

    assert s.keep_frac == math.floor(4 / 7 * 1000000.0) / 1000000.0


def test_mask_components_forced_low_cap_matches_fixpoint(spark, monkeypatch):
    """The over-cap branch of jaccard_neardup_components (mask-pair
    graph too big for the driver union-find -> distributed fixpoint
    over mask_pairs) had zero coverage before r14 because no test
    could exceed the hardcoded cap. MASK_EDGE_CAP is now a module
    constant: force it to 1 so the fallback branch runs, and assert
    it matches BOTH the under-cap result and the doc-pair-level
    reference composition neardup_components(jaccard_pairs(...))."""
    rows = []
    # three clusters of near-identical token sets + isolated docs;
    # enough qualifying mask pairs (>1) to overflow the forced cap
    base = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        10: "one two three four five six seven eight nine ten",
        20: "red orange yellow green blue indigo violet black white gray",
    }
    for start, text in base.items():
        toks = text.split()
        rows.append((start, " ".join(toks)))
        rows.append((start + 1, " ".join(toks + [f"x{start}"])))
        rows.append((start + 2, " ".join(toks + [f"x{start}", f"y{start}"])))
    rows.append((90, "isolated document content entirely unlike others"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    ref = D.neardup_components(
        D.jaccard_pairs(docs, threshold=0.8), a="doc_a", b="doc_b"
    ).collect()
    under_cap = D.jaccard_neardup_components(docs, threshold=0.8).collect()

    monkeypatch.setattr(D, "MASK_EDGE_CAP", 1)
    over_cap = D.jaccard_neardup_components(docs, threshold=0.8).collect()

    def canon(rows_):
        return sorted((r.doc_id, r.component_id) for r in rows_)

    assert canon(under_cap) == canon(ref)
    assert canon(over_cap) == canon(ref)
    # sanity: the forced cap actually exercised the fallback (the
    # mask graph here has >= 2 qualifying edges)
    n_edges = len({(r.doc_id, r.component_id) for r in ref})
    assert n_edges > 2


def test_release_fresh_persists_unpins_all_slots(spark, docs):
    """r14 (verdict #9): the fresh_persist lifecycle hook — after
    release_fresh_persists() no fresh_persist slot stays pinned in
    executor storage, and a caller's still-lazy frame recomputes
    instead of failing."""
    from clickhouse_observability_spark import session as S

    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    pairs.count()  # materializes + persists the lsh_groups slot
    assert len(S._FRESH_PERSISTED) >= 1
    held = list(S._FRESH_PERSISTED.values())
    assert all(df.storageLevel.useMemory or df.storageLevel.useDisk
               for df in held)
    released = S.release_fresh_persists()
    assert released >= 1
    assert S._FRESH_PERSISTED == {}
    # slot-scoped check (a global persistent-RDD scan would race other
    # tests' localCheckpoint blocks awaiting async ContextCleaner GC):
    # every released frame's storage level is back to NONE
    assert all(not (df.storageLevel.useMemory or df.storageLevel.useDisk)
               for df in held)
    # lineage intact: the frame still evaluates after release
    assert pairs.count() >= 0
