"""EXT deduplication operators over `documents` (north-star surface).

Five dedup families, each with its scale story:

- exact (md5 hash-groupBy): one shuffle on a 16-byte key; the kept-id
  rule (min doc_id) is a plain min aggregate. The 100 TB workhorse.
- normalized exact (sorted token set): same shape, catches reorderings.
- token/ngram Jaccard via inverted-index join: explode distinct
  shingles, self-join on shingle, count intersections. Never compares
  all O(n²) pairs — only docs sharing a shingle meet. Frequent-shingle
  stopping (df cap) keeps the join from quadratic blowup on common
  shingles, the standard trick at scale.
- MinHash + LSH banding: constant-size signatures (K mins), band
  buckets make candidate generation O(n·bands); only bucket-mates pair.
- SimHash: 64-bit sketch via per-bit weighted sums — hamming-close
  sketches == near-dup docs; pairing via exact-bucket on rotated
  chunks (Charikar). Everything is built-in expressions: xxhash64,
  conditional sums, bit ops. No Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_observability_spark.operators.text_analysis import (
    fingerprint_md5,
    normalized_text,
    respread_for_compute,
    tokens,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(documents: DataFrame, normalized: bool = True) -> DataFrame:
    """Group docs by content hash: (fp, n_docs, keep_id). keep_id is
    the smallest doc_id — the deterministic survivor."""
    key = F.md5(normalized_text("text")) if normalized else F.md5(F.col("text"))
    return (
        documents.select(key.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def tokenset_dedup_groups(documents: DataFrame) -> DataFrame:
    """Bag-of-words identity: docs with the same sorted distinct token
    set are duplicates regardless of word order/repetition."""
    tok_sorted = F.array_sort(F.array_distinct(tokens(normalized_text("text"))))
    return (
        documents.select(F.md5(F.concat_ws(" ", tok_sorted)).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def dedup_keep_first(documents: DataFrame, normalized: bool = True) -> DataFrame:
    """The deduplicated corpus: one survivor (min doc_id) per hash."""
    key = F.md5(normalized_text("text")) if normalized else F.md5(F.col("text"))
    keep = (
        documents.select(key.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return documents.join(keep, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# Jaccard near-dup via inverted-index join
# ---------------------------------------------------------------------------

def _shingles(n: int) -> Column:
    """Word n-gram shingles of the normalized text (n=1 -> tokens)."""
    toks = tokens(normalized_text("text"))
    if n == 1:
        return F.array_distinct(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array()))


def _char_shingles(k: int) -> Column:
    """Character k-gram shingles of the normalized text — the
    finest-grained near-dup signal (robust to tokenization)."""
    # NOTE: sequence(1, 0) would be DESCENDING, not empty — guard.
    norm_sql = r"lower(regexp_replace(trim(text), '\\s+', ' '))"
    return F.expr(
        f"CASE WHEN length({norm_sql}) >= {k} THEN "
        f"array_distinct(transform(sequence(1, length({norm_sql}) - {k} + 1), "
        f"i -> substring({norm_sql}, i, {k}))) "
        f"ELSE array() END"
    )


# r13 note on caching: the r12 design persist()ed the shared `groups`
# subtree under a CORPUS-keyed registry, which made bench runs 2..n
# serve CacheManager-matched data — cross-run result caching, banned
# for the bench/oracle surface. The honest replacement is
# session.fresh_persist: persist per INVOCATION, evicting the
# previous invocation's entry first, so a repeat plan can never
# plan-match stale cached data and every run recomputes from
# parquet. Where it applies is MEASURED per site (cache-cleared
# interleaved A/B at sf0.1): the LSH groups frame (four heavy
# consumers) needs it — 1.94s vs 7.53s plain — while the bitmask
# jaccard and mask-component groups frames are a wash and stay
# plain.
from clickhouse_observability_spark.session import (  # noqa: E402
    fresh_persist as _fresh_persist,
)


def jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    ngram: int = 1,
    max_df: int | None = None,
    strategy: str = "auto",
    char_k: int | None = None,
    max_df_frac: float | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """All doc pairs with shingle-set Jaccard >= threshold.

    Two physical strategies, picked adaptively (the LowCardinality
    idea applied to set similarity):

    - "bitmask" (vocab <= 64 distinct shingles): each doc's shingle
      set becomes one int64; dedup to DISTINCT masks, compare mask
      pairs with popcount arithmetic (|A∩B| = bit_count(a&b)), then
      expand qualifying mask-pairs back to doc pairs. Work is
      O(M² ) integer ops on M distinct masks — on low-cardinality
      corpora M ≪ n and this beats the index join by orders of
      magnitude (77s -> ~2s at sf0.1 here).
    - "index": inverted-index join — only pairs sharing >=1 shingle
      are generated, |A∩B| falls out of a count per pair. `max_df`
      drops shingles appearing in more than that many docs
      (df-capping bounds the join fan-out at scale).

    `max_df` / `max_df_frac` (fraction of the corpus, resolved via a
    count per invocation — no cross-run memo) apply under EITHER
    strategy: one hot shingle shared by most docs makes the
    inverted-index self-join quadratic, so the frequent-shingle cap is
    the default at scale — similarity is then measured over the capped
    shingle space on both sides (docs whose every shingle is capped
    drop out).

    Jaccard = c/(|A|+|B|-c) is a ratio of small ints — bit-identical
    in any engine, so the threshold compare matches the SQL oracle
    exactly under either strategy.
    """
    if max_df_frac is not None:
        if max_df is not None:
            raise ValueError("pass max_df or max_df_frac, not both")
        # n_docs lets callers that know the corpus file resolve the
        # fraction from the parquet footer (parquet_row_count) instead
        # of paying a count() job; both are per-invocation reads of
        # the input, never a memo
        max_df = int(max_df_frac * (
            n_docs if n_docs is not None else documents.count()
        ))
    if strategy == "auto":
        strategy = "bitmask" if ngram == 1 and char_k is None else "index"
    if strategy == "bitmask":
        masks = _token_masks(documents, ngram, max_df=max_df)
        if masks is not None:
            return _jaccard_pairs_bitmask(masks, threshold)
        strategy = "index"
    sh = documents.select(
        "doc_id",
        F.explode(
            _char_shingles(char_k) if char_k else _shingles(ngram)
        ).alias("shingle"),
    )
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = F.col("c") / (F.col("sz_a") + F.col("sz_b") - F.col("c"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(j, 4))
        .filter(j >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _probe_vocab_rows(sh: DataFrame, max_df: int | None) -> list | None:
    """Distinct-shingle probe: the (df-capped) vocabulary — as rows
    of (shingle, df, h) where h is the shingle's minhash base hash —
    if it fits in 64 entries, else None. ONE job over all shingles;
    carrying the base hash here lets the LSH path skip a second
    hash-the-vocab job (the hash is a per-key expression, so it rides
    the same aggregate output for free)."""
    vocab_src = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        vocab_src = vocab_src.filter(F.col("df") <= max_df)
    rows = vocab_src.select(
        "shingle", "df",
        F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE)).alias("h"),
    ).limit(65).collect()
    return None if len(rows) > 64 else rows


def _masks_and_vocab(
    documents: DataFrame,
    ngram: int = 1,
    max_df: int | None = None,
) -> tuple[DataFrame | None, list | None]:
    """((doc_id, mask), vocab rows) with each shingle mapped to one
    bit, or (None, None) if the shingle vocabulary exceeds 64. The
    vocab is tiny by construction -> collected once (a single probe
    job per invocation — no cross-run memo) and broadcast as a
    literal map. With `max_df`, frequent shingles leave the
    vocabulary (their bits never exist), so the popcount jaccard runs
    over the capped shingle space — same semantics as the index
    path's df cap."""
    sh = documents.select("doc_id", F.explode(_shingles(ngram)).alias("shingle"))
    vocab_rows = _probe_vocab_rows(sh, max_df)
    if vocab_rows is None:
        return None, None
    bit_of = {r.shingle: i
              for i, r in enumerate(sorted(vocab_rows, key=lambda r: r.shingle))}
    mapping = F.create_map(
        *[x for s, i in bit_of.items() for x in (F.lit(s), F.lit(i))]
    )
    return (
        sh.select("doc_id", mapping[F.col("shingle")].alias("bit"))
        .filter(F.col("bit").isNotNull())
        .groupBy("doc_id")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("mask"))
    ), vocab_rows


def _token_masks(
    documents: DataFrame,
    ngram: int = 1,
    max_df: int | None = None,
) -> DataFrame | None:
    return _masks_and_vocab(documents, ngram, max_df)[0]


def _jaccard_pairs_bitmask(masks: DataFrame, threshold: float) -> DataFrame:
    """Pairwise Jaccard over DISTINCT masks (popcount arithmetic),
    expanded back to doc pairs. Mask-groups are tiny relative to
    docs; the M×M compare broadcasts one side. `groups` feeds three
    subtrees (stream side, broadcast side, within-group pairs), each
    re-evaluated from the corpus scan — a cache-cleared A/B measured
    plain re-evaluation a wash vs a per-invocation persist here
    (1.38 vs 1.46s at sf0.1), so the simpler plain frame stays
    (module r13 note)."""
    groups = masks.groupBy("mask").agg(F.collect_list("doc_id").alias("ids"))
    g1 = groups.select(F.col("mask").alias("m1"), F.col("ids").alias("ids1"))
    g2 = groups.select(F.col("mask").alias("m2"), F.col("ids").alias("ids2"))
    inter = F.bit_count(F.col("m1").bitwiseAND(F.col("m2")))
    union = F.bit_count(F.col("m1").bitwiseOR(F.col("m2")))
    j = inter / union
    cross = (
        g1.join(F.broadcast(g2), F.col("m1") < F.col("m2"))
        .filter(j >= threshold)
        .select(
            F.explode("ids1").alias("id1"), F.col("ids2"), F.round(j, 4).alias("jaccard")
        )
        .select(
            F.col("id1"), F.explode("ids2").alias("id2"), "jaccard"
        )
        .select(
            F.least("id1", "id2").alias("doc_a"),
            F.greatest("id1", "id2").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("id1"), F.col("ids"))
        .select("id1", F.explode("ids").alias("id2"))
        .filter(F.col("id1") < F.col("id2"))
        .select(
            F.col("id1").alias("doc_a"),
            F.col("id2").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    out = cross.unionByName(within)
    return out if 1.0 >= threshold else cross


def jaccard_for_candidates(
    documents: DataFrame, candidates: DataFrame, ngram: int = 1
) -> DataFrame:
    """Exact Jaccard for a given (doc_a, doc_b) candidate frame only —
    linear in candidates, never all-pairs. Bitmask fast path when the
    vocab fits 64 bits; token-array intersection otherwise."""
    masks = _token_masks(documents, ngram)
    if masks is not None:
        ma = masks.select(F.col("doc_id").alias("doc_a"), F.col("mask").alias("_ma"))
        mb = masks.select(F.col("doc_id").alias("doc_b"), F.col("mask").alias("_mb"))
        inter = F.bit_count(F.col("_ma").bitwiseAND(F.col("_mb")))
        union = F.bit_count(F.col("_ma").bitwiseOR(F.col("_mb")))
        return (
            candidates.join(ma, "doc_a")
            .join(mb, "doc_b")
            .select("doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard"))
        )
    sets = documents.select("doc_id", _shingles(ngram).alias("toks"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("_ta"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size(F.array_union("_ta", "_tb"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime: keeps a*h + b inside int64 under ANSI mode
# (a, h < 2^31 -> product < 2^62). 31-bit minhash space is plenty for
# near-dup estimation.
_MERSENNE = (1 << 31) - 1

# Driver budget for the mask-pair closure (jaccard_neardup_components):
# up to this many (m1, m2) edges collect for the driver union-find;
# over it, the distributed fixpoint (identical result) takes over.
# r14 (advice): 200k narrow rows is ~50 MB of Row objects and well
# under a second of union-find — the old 2M literal could materialize
# hundreds of MB on the driver just to DECIDE the graph was too big,
# and a 2M-edge pure-Python union-find would be slower than the
# distributed fallback anyway. Module-level so the over-cap branch is
# testable (tests monkeypatch it down and assert equivalence).
MASK_EDGE_CAP = 200_000


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — K independent min-hashes.

    Token -> one xxhash64 -> K affine permutations mod 2^61-1, min per
    permutation. K mins are K conditional aggregates over one explode:
    map-side partial aggregation collapses each doc's tokens locally,
    so the shuffle carries K longs per doc regardless of doc length.
    """
    params = _perm_params(num_hashes, seed)
    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(normalized_text("text")))).alias("tok"),
    )
    h = F.pmod(F.xxhash64("tok"), F.lit(_MERSENNE))
    hashed = toks.select("doc_id", h.alias("h"))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = hashed.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs agreeing on all
    rows of any band land in the same bucket. O(n·bands) bucket rows;
    pairs generated per-bucket (bucket-mates only, never all-pairs).

    Generic default stays 16 bands × 4 rows: a shallow collision
    curve (1-(1-s^4)^16) that keeps recall high for moderately
    similar pairs (~0.99 at s=0.7). Callers that re-rank against a
    high threshold can pass steeper banding explicitly — see
    minhash_dedup_pairs, which uses 8×8 for threshold 0.9.

    Fast path: when many docs share identical shingle sets (low-
    cardinality corpora), banding directly over docs creates giant
    buckets — identical sets always collide. Signature-level dedup
    first (band over DISTINCT sets, expand groups afterwards) makes
    bucket joins run over set-representatives; identical-set doc
    pairs are emitted directly. Same output, bucket join shrinks from
    n to #distinct-sets rows.
    """
    masks, vocab_rows = _masks_and_vocab(documents, ngram=1)
    if masks is not None:
        return _lsh_candidates_grouped(
            documents, masks, num_hashes, bands, seed,
            vocab_rows=vocab_rows,
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(documents, num_hashes, seed)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_cols).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _lsh_candidates_grouped(
    documents: DataFrame,
    masks: DataFrame,
    num_hashes: int,
    bands: int,
    seed: int,
    min_jaccard: float | None = None,
    with_jaccard: bool = False,
    vocab_rows: list | None = None,
) -> DataFrame:
    """LSH banding over distinct shingle-set masks (vocab <= 64).

    Signatures are computed per MASK from the per-bit token hashes
    (vocab is tiny -> token base hashes ride the strategy probe's own
    aggregate output, embedded as a bit->hash literal map — no second
    corpus scan and no hash-the-vocab job); banding and bucket
    self-join run over the distinct masks only. Doc pairs = expanded
    qualifying mask pairs + all pairs within each identical-mask
    group.
    """
    rows_per_band = num_hashes // bands
    params = _perm_params(num_hashes, seed)

    if vocab_rows is None:
        # standalone call without a probe in hand: hash the distinct
        # shingles in one corpus job (same expression as the probe)
        sh = documents.select(F.explode(_shingles(1)).alias("shingle")).distinct()
        vocab_rows = sh.select(
            "shingle", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE)).alias("h")
        ).collect()
    bit_h = {i: r.h for i, r in enumerate(sorted(vocab_rows, key=lambda r: r.shingle))}

    # SQL-side lambdas: shiftright/map lookup with a column bit index.
    # The bit->hash map is ONE parsed literal (a create_map over 128
    # F.lit Columns costs ~128 py4j round-trips of pure driver time
    # per invocation — measured as the bulk of a 1.3s plan-build)
    bits_of = F.expr("filter(sequence(0, 63), j -> (shiftright(mask, j) & 1) = 1)")
    hmap = F.expr(
        "map(" + ", ".join(f"{k}, {v}L" for k, v in bit_h.items()) + ")"
    ) if bit_h else F.create_map()
    # groups feeds the bucket join AND both expansion joins AND the
    # within-group pairs — four subtree evaluations without reuse
    # (ReusedExchange doesn't fire across these shapes) — persisted
    # per invocation (module r13 note).
    groups = _fresh_persist(
        masks.groupBy("mask").agg(F.collect_list("doc_id").alias("ids")),
        "lsh_groups",
    )
    with_bits = groups.select("mask", "ids", bits_of.alias("bits"), hmap.alias("hm"))
    # ONE array expression computes all K mins (identical pmod
    # arithmetic to the former K separate columns — r13: K big
    # py4j-built Column trees collapsed into a single parsed
    # expression, which cuts both query-construction time and
    # analysis/codegen size)
    params_sql = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in params
    )
    sig_expr = F.expr(
        f"transform(array({params_sql}), p -> "
        f"array_min(transform(bits, j -> "
        f"pmod(element_at(hm, j) * p.a + p.b, {_MERSENNE}L))))"
    )
    sig = with_bits.select("mask", "ids", sig_expr.alias("sig"))
    # banding as one parsed expression too (same xxhash64-over-rows
    # buckets; sig[i] is 0-based getItem == element_at(sig, i+1))
    band_cols = F.expr(
        "array(" + ", ".join(
            "named_struct('band', {bd}, 'bucket', xxhash64({args}))".format(
                bd=bd,
                args=", ".join(
                    f"element_at(sig, {bd * rows_per_band + r + 1})"
                    for r in range(rows_per_band)
                ),
            )
            for bd in range(bands)
        ) + ")"
    )
    buckets = sig.select("mask", F.explode(band_cols).alias("bb")).select(
        "mask", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    # Dedup band collisions on the (m1, m2) longs — never fan doc
    # lists out first. The popcount jaccard filter (when given) runs
    # BEFORE the distinct: it's a per-row integer op, and dropping
    # non-qualifying collisions there shrinks the distinct's shuffle
    # by the selectivity of the threshold.
    mask_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.mask") < F.col("b.mask")),
    ).select(F.col("a.mask").alias("m1"), F.col("b.mask").alias("m2"))
    if min_jaccard is not None:
        inter = F.bit_count(F.col("m1").bitwiseAND(F.col("m2")))
        union = F.bit_count(F.col("m1").bitwiseOR(F.col("m2")))
        mask_pairs = mask_pairs.filter(inter / union >= min_jaccard)
    mask_pairs = mask_pairs.distinct()
    g1 = groups.select(F.col("mask").alias("m1"), F.col("ids").alias("ids1"))
    g2 = groups.select(F.col("mask").alias("m2"), F.col("ids").alias("ids2"))
    inter = F.bit_count(F.col("m1").bitwiseAND(F.col("m2")))
    union = F.bit_count(F.col("m1").bitwiseOR(F.col("m2")))
    cross = (
        mask_pairs.join(g1, "m1")
        .join(g2, "m2")
        .withColumn("jaccard", F.round(inter / union, 4))
        .select(F.explode("ids1").alias("id1"), "ids2", "jaccard")
        .select("id1", F.explode("ids2").alias("id2"), "jaccard")
        .select(
            F.least("id1", "id2").alias("doc_a"),
            F.greatest("id1", "id2").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("id1"), "ids")
        .select("id1", F.explode("ids").alias("id2"))
        .filter(F.col("id1") < F.col("id2"))
        .select(
            F.col("id1").alias("doc_a"),
            F.col("id2").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # cross and within are disjoint by construction (a doc has exactly
    # one mask), so no final distinct is needed.
    out = cross.unionByName(within)
    return out if with_jaccard else out.select("doc_a", "doc_b")


def jaccard_neardup_components(
    documents: DataFrame,
    threshold: float = 0.9,
    max_df: int | None = None,
    max_df_frac: float | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """(doc_id, component_id): connected components of the exact
    token-set Jaccard pair graph — EXACTLY
    neardup_components(jaccard_pairs(...)) but, on the bitmask path,
    computed over the DISTINCT-MASK graph and expanded (r13, guide
    §1.2 step 1: change the distributed algorithm).

    Why identical: the doc-pair graph is the expansion of the
    mask-pair graph (docs pair iff their masks qualify) plus the
    within-identical-mask cliques (jaccard 1.0 >= any threshold), so
    doc connectivity == mask connectivity with identical-mask docs
    glued. Min-label propagation therefore runs over M distinct
    masks and their qualifying pairs instead of the n-doc / O(pair)
    edge list — at sf0.1 that is a few hundred nodes vs ~1M edges,
    and every fixpoint round's joins shrink accordingly (measured:
    the keeplist entry drops from ~10.4s to ~3s). Components expand
    back through the (mask -> ids) groups; per-component labels are
    re-minimized over DOC ids so labels match the doc-level fixpoint;
    size-1 components (unpaired mask, single doc) are dropped because
    a doc-pair-graph node always has degree >= 1. Falls back to the
    pair-level fixpoint when the vocabulary exceeds 64 bits.
    """
    if max_df_frac is not None:
        if max_df is not None:
            raise ValueError("pass max_df or max_df_frac, not both")
        max_df = int(max_df_frac * (
            n_docs if n_docs is not None else documents.count()
        ))
    masks, _vocab = _masks_and_vocab(documents, ngram=1, max_df=max_df)
    if masks is None:
        pairs = jaccard_pairs(documents, threshold=threshold, max_df=max_df)
        return neardup_components(pairs, a="doc_a", b="doc_b")
    groups = masks.groupBy("mask").agg(F.collect_list("doc_id").alias("ids"))
    g1 = groups.select(F.col("mask").alias("m1"))
    g2 = groups.select(F.col("mask").alias("m2"))
    inter = F.bit_count(F.col("m1").bitwiseAND(F.col("m2")))
    union = F.bit_count(F.col("m1").bitwiseOR(F.col("m2")))
    mask_pairs = (
        g1.join(F.broadcast(g2), F.col("m1") < F.col("m2"))
        .filter(inter / union >= threshold)
        .select("m1", "m2")
    )
    # The qualifying mask-pair graph is a bounded SUMMARY (distinct
    # shingle-sets, threshold-sparse by construction — j >= t implies
    # near-identical 64-bit sets), so its closure is driver work the
    # same way the packers' subtotal offsets are: ONE capped collect,
    # a union-find, and a 1-partition frame back out — instead of
    # O(log diameter) fixpoint rounds each paying 3 whole-cluster
    # job launches (measured: the rounds were ~85% of the keeplist
    # entry at sf0.1 with a 3.9k-node graph). The cap keeps driver
    # memory bounded no matter how hostile the corpus: cap+1 rows
    # collected means the graph is NOT summary-sized after all, and
    # the distributed fixpoint (identical result) takes over.
    edge_rows = mask_pairs.limit(MASK_EDGE_CAP + 1).collect()
    if len(edge_rows) > MASK_EDGE_CAP:
        mcomp = neardup_components(mask_pairs, a="m1", b="m2").select(
            F.col("doc_id").alias("mask"), F.col("component_id").alias("_mc")
        )
    else:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edge_rows:
            ra, rb = find(row.m1), find(row.m2)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = sorted({m for row in edge_rows for m in (row.m1, row.m2)})
        from clickhouse_observability_spark.session import local_df

        mcomp = local_df(
            documents.sparkSession,
            [(m, find(m)) for m in labels],
            "mask long, _mc long",
        )
    dc = (
        groups.select(F.explode("ids").alias("doc_id"), "mask")
        .join(F.broadcast(mcomp), "mask", "left")
        .withColumn("_mc", F.coalesce(F.col("_mc"), F.col("mask")))
    )
    per = dc.groupBy("_mc").agg(
        F.min("doc_id").alias("component_id"),
        F.count(F.lit(1)).alias("_sz"),
    )
    return (
        dc.join(F.broadcast(per), "_mc")
        .filter(F.col("_sz") >= 2)
        .select("doc_id", "component_id")
    )


def minhash_dedup_pairs(
    documents: DataFrame,
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """LSH candidates re-ranked by exact Jaccard (candidate-only — the
    expensive exact check runs on bucket-mates, not all pairs). On
    low-cardinality corpora the threshold is applied at the mask
    level BEFORE group expansion, so non-qualifying candidates never
    fan out to doc pairs.

    Default banding is 8 bands × 8 rows over the same 64 hashes: the
    steeper collision curve (1-(1-s^8)^8) cuts band-collision volume
    ~3× on an everything-similar corpus at ≥99.6% recall measured vs
    16×4 at threshold 0.9 (s=0.9 theoretical collision 0.989)."""
    masks, vocab_rows = _masks_and_vocab(documents, ngram=1)
    if masks is not None:
        return _lsh_candidates_grouped(
            documents, masks, num_hashes, bands, seed,
            min_jaccard=threshold, with_jaccard=True,
            vocab_rows=vocab_rows,
        )
    cand = minhash_lsh_candidates(documents, num_hashes, bands, seed)
    ranked = jaccard_for_candidates(documents, cand)
    return ranked.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(documents: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, simhash bigint): Charikar sketch. Per bit j, sum +1/-1
    by token-hash bit j; sign of the sum sets output bit j. The 64
    conditional sums are one groupBy over one explode — no row
    amplification, partial-aggregated map-side."""
    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(normalized_text("text")))).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*sums)
    out = F.lit(0).cast("long")
    for j in range(bits):
        # two's complement: bit 63 contributes -2^63
        weight = 2**j if j < 63 else -(2**63)
        out = out + F.when(F.col(f"s{j}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("doc_id", out.alias("simhash"))


def pigeonhole_chunk_key(hash_col: str, c: int, n_chunks: int) -> Column:
    """Chunk c of a 64-bit sketch split into n_chunks pigeonhole keys.

    THE single source of the chunk derivation: batch pairing
    (hamming_pairs) and the streaming vector-ingest at-rest index
    (streaming/vector_ingest.py) both call this — the index durably
    stores these keys, so any change here must rebuild it."""
    base, extra = divmod(64, n_chunks)
    start = c * base + min(c, extra)
    width = base + (1 if c < extra else 0)
    key = F.shiftrightunsigned(F.col(hash_col), start)
    if width < 64:
        key = key.bitwiseAND(F.lit((1 << width) - 1))
    return key


def hamming_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """GENERIC near-dup pairing over any 64-bit sketch column via the
    pigeonhole trick: the 64 bits split into max_hamming+1 chunks, so
    <= max_hamming differing bits leave at least one chunk identical —
    bucket join on chunk keys, not all-pairs. Chunk count DERIVES from
    max_hamming (a fixed 4-chunk split silently loses recall for
    max_hamming > 3)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63]")
    n_chunks = max_hamming + 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                pigeonhole_chunk_key(hash_col, c, n_chunks).alias("key"),
            )
            for c in range(n_chunks)
        ]
    )
    buck = hashes.select(id_col, hash_col, F.explode(chunks).alias("cc")).select(
        id_col, hash_col, F.col("cc.chunk").alias("chunk"), F.col("cc.key").alias("key")
    )
    a, b = buck.alias("a"), buck.alias("b")
    ham = F.bit_count(F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
            ham.alias("hamming"),
        )
        .distinct()
    )


def simhash_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance (pigeonhole bucket
    join — see hamming_pairs)."""
    return hamming_pairs(
        simhash(documents), "doc_id", "simhash", max_hamming
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.45
) -> DataFrame:
    """Vector near-dup: pairs with cosine >= threshold. Brute-force
    pairwise here (correctness baseline; the self-side broadcasts);
    the scale path is LSH bucketing (similarity.embedding_lsh_topk)
    which bounds candidates per vector."""
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )
    na = F.expr("sqrt(aggregate(transform(a.v, x -> x * x), 0D, (acc, x) -> acc + x))")
    nb = F.expr("sqrt(aggregate(transform(b.v, x -> x * x), 0D, (acc, x) -> acc + x))")
    cs = dot / (na * nb)
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cs, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def corpus_index(
    documents: DataFrame, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """One-pass per-doc dedup index: (doc_id, fp_md5, fp_tokenset,
    n_distinct_tokens, minhash sig, simhash) — every artifact the
    dedup families key on, built together.

    Scan-sharing is the point: minhash_signatures and simhash each
    explode the token set and run 64 conditional aggregates over the
    same (doc_id, token-hash) rows — fused, the 128 aggregates share
    ONE explode and ONE groupBy (partial-aggregated map-side), and the
    map-only fingerprints ride the same groupBy via first(). For the
    nightly 100 TB index build that halves both the corpus scans and
    the shuffles vs running the operators separately. Outputs are
    bit-identical to the standalone operators (pytest-asserted).
    """
    params = _perm_params(num_hashes, seed)
    toks = documents.select(
        "doc_id",
        fingerprint_md5("text").alias("fp_md5"),
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(tokens(normalized_text("text"))))
            )
        ).alias("fp_tokenset"),
        F.explode(F.array_distinct(tokens(normalized_text("text")))).alias("tok"),
    ).select(
        "doc_id", "fp_md5", "fp_tokenset",
        F.xxhash64("tok").alias("h64"),
        F.pmod(F.xxhash64("tok"), F.lit(_MERSENNE)).alias("h"),
    )
    min_aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sim_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("h64"), j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(
        F.first("fp_md5").alias("fp_md5"),
        F.first("fp_tokenset").alias("fp_tokenset"),
        # the explode is over the DISTINCT token set (the sketch
        # input), so this is the distinct count — named accordingly
        # to match token_stats' convention
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        *min_aggs,
        *sim_aggs,
    )
    sim = F.lit(0).cast("long")
    for j in range(64):
        weight = 2**j if j < 63 else -(2**63)
        sim = sim + F.when(F.col(f"s{j}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select(
        "doc_id", "fp_md5", "fp_tokenset", "n_distinct_tokens",
        F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"),
        sim.alias("simhash"),
    )


def _persisted_rdd_ids(sc) -> set:
    """Ids of currently persisted RDDs (JVM-side registry)."""
    return set(sc._jsc.getPersistentRDDs().keySet())


def _ckpt_rdd_id(df) -> int | None:
    """The persisted-RDD id backing an eagerly localCheckpointed
    DataFrame: its analyzed plan is a LogicalRDD wrapping exactly the
    RDD the checkpoint registered (r14 — replaces a session-wide
    persisted-ids snapshot diff that mis-attributed ids whenever
    anything else in the session persisted concurrently). None when
    the plan shape is unexpected; callers then skip the eager free
    and leave the blocks to driver GC (safe, just lazier)."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


def _unpersist_rdd_ids(sc, ids: set) -> None:
    """Drop the storage blocks behind superseded localCheckpoints.

    A localCheckpoint's data IS its persisted blocks, so this is only
    safe once no live plan references the frame — the fixpoint loop
    below frees round r-1 only after round r is eagerly materialized.
    Without this, every round's 1-2 checkpointed frames squat on the
    unified memory pool until driver GC + ContextCleaner catch up
    (r7 verdict: the lead suspect for session-wide bench drift)."""
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def neardup_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iterations: int = 30,
) -> DataFrame:
    """(doc_id, component_id): connected components of a near-dup pair
    graph — the clustering step between "these docs look alike"
    (pair generators above) and "keep one canonical doc per group"
    (canonical_per_component).

    Min-label propagation with POINTER JUMPING: every node starts as
    its own label; each round it (1) adopts the smallest label among
    itself and its neighbors, then (2) adopts its label's label (path
    halving). Fixpoint = components labeled by their smallest doc_id,
    reached in O(log diameter) rounds — worst-case chains included,
    not just the dense blobs dedup graphs usually form. Rounds are
    whole-graph joins (one shuffle each) over the (already LSH-pruned)
    edge list. Each round is localCheckpoint-ed: `labels` feeds BOTH
    sides of the next round's joins, so without lineage truncation the
    logical plan doubles per iteration (2^rounds analyzer nodes — an
    OOM long before the data is big). Convergence is an exact
    changed-row count (0 -> stop); exhausting max_iterations without
    converging RAISES rather than silently returning partial labels
    (merged-cluster output that under-deduped would be a correctness
    bug downstream).
    """
    sc = pairs.sparkSession.sparkContext
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
    )
    # `live` tracks the RDD ids backing the CURRENT round's
    # checkpointed frame; each eager checkpoint supersedes the
    # previous round's frame, whose blocks are freed immediately
    # instead of waiting on driver GC. Ids are read DIRECTLY off the
    # checkpointed frame (its analyzed plan is a LogicalRDD over the
    # persisted RDD) — r14: the old session-wide persisted-ids
    # snapshot diff mis-attributed ids under ANY concurrent persist
    # in the session (threaded test harnesses, API servers) and could
    # free another plan's checkpoint blocks out from under it.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
    ).localCheckpoint(eager=True)
    live = {_ckpt_rdd_id(labels)} - {None}
    edges = edges.persist()
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nbr_min"), F.col("component_id")),
                ).alias("component_id"),
                (F.col("nbr_min") < F.col("component_id")).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        _unpersist_rdd_ids(sc, live)  # prev round superseded
        live = {_ckpt_rdd_id(updated)} - {None}
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
        # pointer jump: label <- label[label] (path halving)
        l1, l2 = labels.alias("l1"), labels.alias("l2")
        labels = (
            l1.join(
                l2, F.col("l1.component_id") == F.col("l2.doc_id"), "left"
            ).select(
                F.col("l1.doc_id").alias("doc_id"),
                F.coalesce(
                    F.col("l2.component_id"), F.col("l1.component_id")
                ).alias("component_id"),
            )
        ).localCheckpoint(eager=True)
        _unpersist_rdd_ids(sc, live)  # updated superseded
        live = {_ckpt_rdd_id(labels)} - {None}
    else:
        edges.unpersist()
        raise RuntimeError(
            f"neardup_components did not converge in {max_iterations} rounds"
        )
    edges.unpersist()
    return labels


def canonical_per_component(
    documents: DataFrame, components: DataFrame
) -> DataFrame:
    """One keeper per near-dup component (smallest doc_id — swap the
    ordering struct for a quality score to keep the best instead),
    plus every unpaired doc (a component of one). The LLM-pipeline
    "dedup keep-list": LEFT join corpus -> component, default
    component = self, min_by per component."""
    with_comp = documents.join(components, "doc_id", "left").withColumn(
        "component_id", F.coalesce(F.col("component_id"), F.col("doc_id"))
    )
    return (
        with_comp.groupBy("component_id")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("component_size"),
        )
    )


# ---------------------------------------------------------------------------
# exact duplicated-span detection (substring-level dedup)
# ---------------------------------------------------------------------------

# SQL fragment: whitespace tokens of the normalized text (mirrors
# text_analysis.tokens(normalized_text(...)) for expr-string contexts).
_TOKS_SQL = (
    r"filter(split(lower(regexp_replace(trim(text), '\\s+', ' ')), ' '),"
    r" t -> t != '')"
)


def duplicated_spans(
    documents: DataFrame, k: int = 8, min_df: int = 2
) -> DataFrame:
    """Exact duplicated-SPAN detection: maximal token ranges in which
    every k-token window recurs elsewhere in the corpus (including
    elsewhere in the same document) at least `min_df` times total.

    The substring-level complement to whole-doc dedup — the
    distributed re-expression of suffix-array ExactSubstr dedup (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): boilerplate headers, license blocks and quoted chunks
    are invisible to document-hash dedup but dominate memorization.

    Plan (all linear in total tokens, the price of exact substring
    matching): one let-bound map stage emits (doc_id, pos,
    md5(k-gram)) per window position — the gram STRING never
    shuffles, only its 16-byte digest (md5 collisions at 2^-64 are
    the accepted trade, same as the fingerprint operators); one
    partial-agg groupBy counts gram frequency; one semi-join keeps
    duplicated positions (no occurrence-list fan-out — the join is
    row-per-position on both sides); adjacent/overlapping windows
    merge into maximal spans with doc-keyed window functions (the
    doc_id Exchange is shared by the sort and the final group).

    Output: (doc_id, span_start, span_end, n_grams) — 1-based
    inclusive TOKEN coordinates of maximal duplicated runs, n_grams =
    duplicated windows merged into the span. Span length is always
    >= k.
    """
    from pyspark.sql import Window

    # pos+digest per window, toks let-bound so the tokenization runs
    # once per row and each slice/md5 once per element (winnowing's
    # codegen trap, documented at text_analysis.winnowing_fingerprints)
    grams_expr = F.expr(
        f"""flatten(transform(array({_TOKS_SQL}), toks ->
            CASE WHEN size(toks) >= {k} THEN
              transform(sequence(1, size(toks) - {k} + 1),
                        i -> named_struct(
                            'pos', cast(i AS bigint),
                            'gh', unhex(md5(concat_ws(' ',
                                                      slice(toks, i, {k}))))))
            ELSE array() END))"""
    )
    grams = respread_for_compute(documents).select(
        "doc_id", F.explode(grams_expr).alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gh")
    )
    dup_pos = grams.join(dup_gh, "gh", "leftsemi")
    # gaps-and-islands: windows of width k starting at sorted
    # positions merge when the next start lands inside (or adjacent
    # to) the previous window's span
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") > F.lag("pos").over(w) + k, 1
    ).otherwise(F.when(F.lag("pos").over(w).isNull(), 1).otherwise(0))
    grp = F.sum(brk).over(
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return (
        dup_pos.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def remove_duplicated_spans(
    documents: DataFrame, spans: DataFrame
) -> DataFrame:
    """Drop every token covered by a duplicated span: (doc_id,
    clean_text, n_tokens_removed). Removal policy is drop-ALL-copies
    (vs the suffix-array formulation's keep-one) — the simple policy
    the ExactSubstr paper notes performs equivalently, and the only
    one with a clean distributed form when overlapping spans span
    documents. Spans per doc are bounded by doc length, so the
    per-doc interval array is safe to aggregate; coverage is tested
    per token with an exists() over that array (map-only after the
    one doc-keyed join). Docs with no spans pass through unchanged
    via the left join's empty-array coalesce. Removal can butt
    previously-distant tokens together and mint NEW k-grams; one
    re-run of detect+remove converges in practice (pytest pins the
    single-pass contract: all ORIGINAL duplicated windows are gone).
    """
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("iv")
    )
    joined = respread_for_compute(documents).join(
        per_doc, "doc_id", "left"
    ).withColumn("iv", F.coalesce(F.col("iv"), F.array()))
    # toks and the kept subset each bound once; transform's (t, i)
    # index is 0-based while spans are 1-based, hence i + 1
    summary = F.expr(
        f"""transform(array({_TOKS_SQL}), toks ->
              transform(array(filter(transform(toks, (t, i) ->
                    CASE WHEN exists(iv, s -> i + 1 >= s.span_start
                                          AND i + 1 <= s.span_end)
                         THEN NULL ELSE t END),
                  t -> t IS NOT NULL)), kept ->
                named_struct(
                    'clean_text', concat_ws(' ', kept),
                    'n_tokens_removed',
                    size(toks) - size(kept))))[0][0]"""
    )
    return joined.select("doc_id", summary.alias("r")).select(
        "doc_id", "r.clean_text", "r.n_tokens_removed"
    )


def cluster_report(n_total_docs: int, components: DataFrame) -> DataFrame:
    """Cluster-size histogram + keep-fraction summary over a
    (doc_id, component_id) frame (neardup_components output).

    'clusters' rows: one per observed cluster size — how many
    clusters, how many docs they hold, and the keep fraction a
    one-keeper-per-cluster policy yields at that size. 'summary' row:
    totals over the whole corpus (keepers = clusters + singletons).
    Aggregates run over the component frame only; the corpus
    contributes a single precomputed count."""
    spark = components.sparkSession
    sizes = components.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
        .select(
            F.lit("clusters").alias("section"),
            "cluster_size", "n_clusters", "n_docs",
            # int/int quotient -> floor-quantize, not round (the
            # engines' round() algorithms diverge on the same double;
            # functions/moneydec policy)
            (F.floor(F.col("n_clusters") / F.col("n_docs")
                     * F.lit(1000000.0)) / F.lit(1000000.0))
            .alias("keep_frac"),
        )
    )
    agg = sizes.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_comp"),
        F.coalesce(F.sum("cluster_size"), F.lit(0)).alias("n_in_comp"),
    ).collect()[0]  # bounded: one row
    n_singletons = int(n_total_docs) - int(agg.n_in_comp)
    n_keepers = int(agg.n_comp) + n_singletons
    summary = spark.createDataFrame(
        [(
            "summary", None, n_keepers, int(n_total_docs),
            # same IEEE ops as the SQL floor-quantize (int/int divide,
            # *1e6, floor, /1e6) — bit-identical cross-engine
            (math.floor(n_keepers / n_total_docs * 1000000.0) / 1000000.0
             if n_total_docs else None),
        )],
        "section string, cluster_size long, n_clusters long, "
        "n_docs long, keep_frac double",
    )
    return hist.unionByName(summary).orderBy("section", "cluster_size")
