"""Document deduplication operators (LLM-data-pipeline extension).

The reference's only dedup is identity-key dedup before writes
(PipelineMain.deduplicateDocumentsByStringKey:927-945 → A11). A 100 TB
training-data pipeline needs content dedup as well; these operators provide
exact and near-dup detection, all as native DataFrame programs:

- exact:    hash-groupBy on content digest
- near-dup: word-shingle → MinHash → banded LSH → candidate pairs →
            exact n-gram Jaccard verification
- SimHash:  64-bit sign-sum fingerprint, Hamming-bucketed

Scale design: every stage is shuffle-by-key (doc_id / shingle / band
signature); nothing widens beyond (num_perms ×) the shingle relation.
Candidate generation joins on band signature — a high-cardinality key whose
groups are the (rare) collision buckets, so the pair expansion is bounded;
hot buckets (boilerplate docs) are handled by AQE skew splitting. Exact
Jaccard runs only on LSH survivors, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.staging import stage

TOKEN_RE = r"([a-z0-9]+)"

#: Mersenne prime modulus for the affine permutation family; 31-bit values
#: keep every product inside a signed 64-bit long on both Spark and DuckDB.
MERSENNE_31 = (1 << 31) - 1
#: Per-word mix coefficients for combining k word hashes into a shingle hash.
WORD_COEFFS = (3, 5, 7, 13, 17, 19, 23, 29)
WORD_BIAS = 11


def _perm_coeffs(j: int) -> tuple[int, int]:
    """The j-th affine permutation (a, b): h ↦ (a·h + b) mod 2³¹−1.
    Fixed family — the DuckDB oracles hard-code the same arithmetic."""
    return 2 * j + 3, 5 * j + 7


def words_expr(text_col: str = "text") -> Column:
    """Lower-token array: ``[a-z0-9]+`` matches of the text column."""
    return F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 1)


def shingle_strings(words: Column, k: int = 3) -> Column:
    """Word k-gram strings as a per-row array (space-joined, in order).
    Empty when the document has fewer than k words (``sequence(1, 0)``
    counts *down* in Spark, so the guard is required)."""
    idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(1), F.size(words) - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(k)])
    )


def shingle_hash_frame(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, shv ARRAY<LONG>) — 31-bit shingle hashes as a per-row array,
    computed without materializing shingle strings: one md5 per *word*,
    then an affine mix of the k word hashes per shingle position. A pure
    narrow projection; documents with fewer than k words are absent."""
    if k > len(WORD_COEFFS):
        raise ValueError(f"k={k} exceeds the fixed coefficient table ({len(WORD_COEFFS)})")
    words = words_expr(text_col)
    d = docs.select(F.col(id_col).alias("doc_id"), words.alias("words")).where(
        F.size("words") >= k
    )
    hw = F.transform(
        F.col("words"), lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long")
    )
    d = d.select("doc_id", hw.alias("hw"))
    coeffs = WORD_COEFFS[:k]
    shv = F.transform(
        F.sequence(F.lit(1), F.size("hw") - F.lit(k - 1)),
        lambda i: (
            sum(F.element_at(F.col("hw"), i + j) * F.lit(c) for j, c in enumerate(coeffs))
            + F.lit(WORD_BIAS)
        )
        % F.lit(MERSENNE_31),
    )
    return d.select("doc_id", shv.alias("shv"))


def minhash_signatures_doc(
    docs: DataFrame,
    k: int = 3,
    num_perms: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures with ZERO shuffles and zero explodes: a pure
    per-document projection (tokenize → hash each word once → mix k word
    hashes into 31-bit shingle hashes → per permutation j take
    ``array_min((aⱼ·h + bⱼ) mod 2³¹−1)``).

    Versus the shingle-relation formulation (:func:`minhash_signatures`)
    this computes one md5 per *word* instead of ``num_perms`` md5s per
    *shingle occurrence*, and never shuffles — measured 5× faster at
    sf0.1 and embarrassingly parallel at 100 TB (a single narrow
    WholeStageCodegen scan; see tests/test_plan_shapes.py). MinHash min
    is duplicate-invariant, so skipping the shingle DISTINCT is exact.

    Returns (doc_id, sig ARRAY<STRING>[num_perms]); documents with fewer
    than k words are absent (same semantics as the shingle relation).
    Signature values are decimal-rendered longs — opaque inputs to
    :func:`lsh_bands`."""
    d = shingle_hash_frame(docs, k=k, text_col=text_col, id_col=id_col)

    # ONE fold over shv maintaining all num_perms running minima (r12):
    # the per-permutation ``array_min(transform(shv, …))`` form
    # materialized num_perms full-length permuted copies of the
    # shingle-hash array per document; the fold allocates only the
    # num_perms-element accumulator per step. Values are identical —
    # same affine images, same min over the same multiset (shv is
    # non-empty: size(words) >= k). MERSENNE_31 is a safe +inf sentinel
    # because (a·v+b) mod M < M.
    coeffs = [_perm_coeffs(j) for j in range(num_perms)]
    mins = F.aggregate(
        F.col("shv"),
        F.array(*[F.lit(MERSENNE_31).cast("long") for _ in range(num_perms)]),
        lambda acc, v: F.array(
            *[
                F.least(
                    F.get(acc, j), (F.lit(a) * v + F.lit(b)) % F.lit(MERSENNE_31)
                )
                for j, (a, b) in enumerate(coeffs)
            ]
        ),
    )
    return d.select(
        "doc_id",
        F.transform(mins, lambda m: m.cast("string")).alias("sig"),
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one row per duplicate group with the
    canonical (min-id) representative and the group's members. First-wins
    semantics mirror A11 (deduplicateByKey keeps an arbitrary element; we
    keep min id for determinism)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
    )


def word_shingles(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct word k-gram shingles per document, tokenized with
    ``[a-z0-9]+``. Entirely JVM-side (regexp tokenize + array expansion,
    no UDF). This is the *relation* form — needed where pairs of documents
    join on shared shingles (exact Jaccard). For MinHash use the
    zero-shuffle :func:`minhash_signatures_doc` instead.

    The word array is STAGED as a bound attribute through a select
    boundary before the k-gram transform references it: inlined, every
    ``element_at(words, i+j)`` inside the lambda re-evaluates the whole
    regexp tokenization per element — O(words²) regexp runs per document
    (the _dsir_features re-inline trap; measured 9.8 s → 1.2 s for this
    frame over the sf0.1 corpus, r12)."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), words_expr(text_col).alias("__w")
    ).where(F.size("__w") >= k)
    return d.select(
        "doc_id",
        F.explode(shingle_strings(F.col("__w"), k)).alias("shingle"),
    ).distinct()


def minhash_signatures(shingles: DataFrame, num_perms: int = 16, k: int = 3) -> DataFrame:
    """MinHash over a pre-materialized shingle *relation* (e.g. a shingle
    table persisted at 100 TB scale) as ONE aggregation: per shingle row
    the 31-bit hash is computed once, the signature is ``num_perms``
    affine-permuted MIN aggregates with map-side partial combine — same
    value semantics and permutation family as
    :func:`minhash_signatures_doc` (which is faster when starting from
    documents: no shuffle at all). Value parity holds because shingles are
    single-space-joined tokens: splitting recovers the words, and the same
    word-hash mix applies."""
    if k > len(WORD_COEFFS):
        raise ValueError(f"k={k} exceeds the fixed coefficient table ({len(WORD_COEFFS)})")
    hw = F.transform(
        F.split(F.col("shingle"), " "),
        lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long"),
    )
    hv = (
        sum(F.element_at(F.col("hw"), j + 1) * F.lit(c) for j, c in enumerate(WORD_COEFFS[:k]))
        + F.lit(WORD_BIAS)
    ) % F.lit(MERSENNE_31)
    mins = []
    for j in range(num_perms):
        a, b = _perm_coeffs(j)
        mins.append(F.min((F.lit(a) * F.col("hv") + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"h{j}"))
    wide = (
        shingles.select("doc_id", hw.alias("hw"))
        .select("doc_id", hv.alias("hv"))
        .groupBy("doc_id")
        .agg(*mins)
    )
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"h{j}").cast("string") for j in range(num_perms)]).alias("sig"),
    )


def lsh_bands(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """Fold the signature array into bands of ``rows_per_band`` entries;
    band signature = md5 of the ','-joined values. Pure projection — no
    extra shuffle. Docs sharing any (band, band_sig) are candidates.

    The separator is load-bearing: signature values are variable-length
    decimal strings, so a separator-less concatenation would be ambiguous
    ('123'+'45' = '12'+'345') and collide unequal signatures. The DuckDB
    oracles join with the same ','."""
    bands = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size("sig") - 1) / rows_per_band).cast("int")),
            lambda b: F.md5(
                F.array_join(F.slice("sig", b * rows_per_band + 1, rows_per_band), ",")
            ),
        )
    )
    return signatures.select("doc_id", bands.alias("band", "band_sig"))


def lsh_candidate_pairs(
    bands: DataFrame,
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
) -> DataFrame:
    """Candidate pairs via bucket grouping, not a self-join: docs collect
    per (band, band_sig) bucket and unordered pairs expand JVM-side inside
    each bucket row. One shuffle, the upstream chain is evaluated once
    (a self-join would recompute it for both sides), and the expansion is
    bounded by bucket size.

    ``max_bucket_size`` is the 100 TB guard for pathological boilerplate
    buckets (one wide row that AQE cannot split): a k-member bucket emits
    k·(k-1)/2 pairs, so clusters whose size grows with the corpus make the
    pair volume quadratic (measured: 100-member clusters at the sf10 slice
    → 33M pairs, 12-minute verify, GC pressure — SCALING.md). Buckets over
    the cap follow ``oversize_policy``:

    - ``"drop"`` (default, backward-compatible): the bucket is discarded;
      correct when giant buckets are boilerplate that exact dedup removes
      upstream, but measured recall collapses when they are real near-dup
      clusters (300 of 493k cluster members found at sf10/cap 8).
    - ``"star"``: the bucket emits k-1 representative edges (minimum
      member → each other member) instead of k²/2 pairs — LINEAR in
      bucket size. Downstream Jaccard verification still applies to every
      emitted edge, and connected components restore the full cluster
      through the representative, so the keep list is unchanged whenever
      every member clears the Jaccard threshold against the minimum-id
      representative (identical-boilerplate clusters do; CHAIN-shaped
      clusters — member above threshold to its neighbor but below it to
      the representative — can lose members that the full expansion keeps
      transitively). Candidate volume stays corpus-linear (measured at
      sf10: 721 s → 40 s with 99.5% of members still collapsed; the 0.5%
      loss is exactly those chain members — see
      :func:`star_second_hop_pairs` for the repair pass). Pairs far from
      the representative are not individually verified — the policy
      trades pairwise certainty inside over-cap buckets for linear cost,
      which is the right trade when the bucket IS one tight cluster."""
    if oversize_policy not in ("drop", "star"):
        raise ValueError(f"unknown oversize_policy {oversize_policy!r}")
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    all_pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ds"), i + F.lit(2), F.greatest(F.size("ds") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    if max_bucket_size is None:
        expansion = all_pairs
    else:
        small = F.size("ds") <= max_bucket_size
        if oversize_policy == "star":
            star = F.transform(
                F.slice(F.col("ds"), 2, F.greatest(F.size("ds") - 1, F.lit(0))),
                lambda y: F.struct(
                    F.get(F.col("ds"), 0).alias("doc_a"), y.alias("doc_b")
                ),
            )
            expansion = F.when(small, all_pairs).otherwise(star)
        else:
            buckets = buckets.where(small)
            expansion = all_pairs
    pair = F.explode(expansion)
    return buckets.select(pair.alias("p")).select("p.doc_a", "p.doc_b").distinct()


def star_second_hop_pairs(
    bands: DataFrame,
    verified: DataFrame,
    max_bucket_size: int,
    attempted: DataFrame | None = None,
    reps_per_hop: int = 8,
    overcap_bands: DataFrame | None = None,
) -> DataFrame:
    """Repair candidates for ``oversize_policy="star"``: over-cap bucket
    members left UNATTACHED after verification re-star against the
    minimum unattached member of their bucket.

    The star policy only verifies representative→member edges, so an
    over-cap bucket holding two distinct near-dup clusters, or a
    chain-shaped cluster whose far members drift below threshold vs the
    representative, loses every member outside the representative's own
    reach — the measured 0.5% member-recall gap at sf10 (SCALING.md).
    This pass promotes the ``reps_per_hop`` smallest globally-unattached
    members of each over-cap bucket to additional representatives and
    stars each against ALL other bucket members (attached ones included —
    a stranded chain member reattaches through its genuine ≥-threshold
    neighbor, not the failed first representative): candidate volume is
    bounded by ``reps_per_hop × bucket_size`` per bucket per hop, so the
    cap's linearity guarantee survives (one rep per hop was measured at
    sf10 to peel only ~200 of 2,579 stranded members per hop — too slow;
    8 reps converges in 2-3 hops at the same asymptotic cost).
    "Unattached" is global (no verified edge at all): any verified edge
    implies genuine Jaccard ≥ threshold, so connected components already
    place such members correctly.

    ``attempted`` (candidate pairs already Jaccard-tested, e.g. the
    first-pass candidate set plus earlier hops) is anti-joined away so
    failed edges are never re-verified. Convergence: each hop the chosen
    representative either attaches (unattached set shrinks) or all its
    edges fail and enter ``attempted`` — a genuinely-alone member whose
    every bucket edge has been tried yields zero fresh candidates, and
    the caller's empty-candidate check ends the loop. The residual
    bound: promotion always picks the ``reps_per_hop`` SMALLEST
    unattached members, so once those stall (all their edges attempted,
    none attaching) the loop terminates and members ranked below them
    are never promoted — any unattempted edge of theirs, including a
    genuine >=threshold edge to an ATTACHED member, stays unattempted.
    Promoting until every unattached member has had a turn would
    degenerate to full pairwise expansion of over-cap buckets (the
    quadratic trap the cap exists to fence), so the bound is
    deliberate; it is also why the incremental index's reconcile — which
    promotes from a much smaller unattached set — can attach a handful
    of genuine near-dups this batch pass strands (measured: 4 docs of
    500k on the mixed sf10 corpus, SCALING.md round-9 block). Returns
    (doc_a, doc_b) candidates (doc_a < doc_b) for the caller to
    Jaccard-verify and union into the pair set before connected
    components. Recovered members attach to a genuine ≥-threshold
    neighbor, which may be a DIFFERENT component than full pairwise
    expansion would produce for chain clusters — recall is repaired,
    exact component equality is not promised.

    ``overcap_bands`` (optional): the band rows of over-cap buckets,
    already restricted (and typically materialized) by the caller — a
    hop LOOP otherwise re-derives the full band pipeline every
    iteration even though the band table is static within a run (r11).
    Must be derived from the same ``bands`` at the same cap; the size
    filter is re-applied, so a superset restriction only wastes, never
    corrupts."""
    src = overcap_bands if overcap_bands is not None else bands
    over = (
        src.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where(F.size("ds") > max_bucket_size)
    )
    members = over.select("band", "band_sig", F.explode("ds").alias("doc_id"))
    vids = verified.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    reps = (
        members.join(vids, "doc_id", "left_anti")
        .groupBy("band", "band_sig")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("doc_id")), 1, reps_per_hop
            ).alias("__reps")
        )
        .select("band", "band_sig", F.explode("__reps").alias("__rep"))
    )
    out = (
        over.join(reps, ["band", "band_sig"])
        .select("__rep", F.explode("ds").alias("__other"))
        .where(F.col("__rep") != F.col("__other"))
        .select(
            F.least("__rep", "__other").alias("doc_a"),
            F.greatest("__rep", "__other").alias("doc_b"),
        )
        .distinct()
    )
    if attempted is not None:
        out = out.join(
            attempted.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        )
    return out


def _overcap_band_rows(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """DISTINCT (doc_id, band, band_sig) rows of buckets above the cap —
    the shared derivation under the star hop/rescue machinery (r11: one
    definition so the distinct semantics and the cap comparison cannot
    drift across call sites). Idempotent: re-applying it to an
    already-restricted (or superset) input only re-filters, so callers
    that pre-materialize the restriction stay safe if they ever pass a
    wider frame."""
    ob = bands.select("doc_id", "band", "band_sig").distinct()
    over = (
        ob.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") > max_bucket_size)
        .select("band", "band_sig")
    )
    return ob.join(over, ["band", "band_sig"], "left_semi")


def _star_untried_edges(
    bands: DataFrame,
    verified: DataFrame,
    max_bucket_size: int,
    attempted: DataFrame | None = None,
    min_shared_bands: int = 1,
    member_buckets: DataFrame | None = None,
    overcap_bands: DataFrame | None = None,
) -> DataFrame:
    """(band, band_sig, __m, doc_a, doc_b): every UNTRIED qualifying
    rescue edge — an unattached over-cap bucket member (``__m``) paired
    with an ATTACHED co-bucket member — keyed by the unattached member's
    over-cap buckets. The shared enumeration under
    :func:`star_rescue_pairs` and the incremental index's rescue pass;
    callers slice the member set per bucket (bounded verification per
    round) and use the per-bucket member counts for overflow/watermark
    decisions.

    Scope and scale shape (r10, measured): the rescue exists to close
    promotion starvation — an unattached member whose GENUINE neighbor
    is already attached (and therefore never promoted by the hop loop).
    Its edge enumeration is therefore unattached × ATTACHED per bucket,
    never unattached × bucket: on the mixed sf10 corpus the latter is
    Σ n² ≈ 45M rows (max bucket 2,433 members — the quadratic trap the
    cap exists to fence; enumerating it OOM'd a 16g driver), while
    stranger-to-stranger edges are out of rescue scope by construction
    (a fully stranded genuine pair is the base candidates' job — any
    shared under-cap bucket proposes it full-pairwise).

    ``min_shared_bands`` prunes further: a pair qualifies only when it
    co-occurs in at least that many distinct over-cap buckets. Band
    signatures are a pure function of the two immutable documents
    (seedless MinHash), so the filter is DETERMINISTIC and identical on
    the batch and index paths — keep-list equality holds at any shared
    setting. At J ≥ 0.8 a pair shares ≈ 6.6 of 16 bands (P(<3) ≈ 1.3%),
    while half-splice strangers (J ≈ 0.33) share ≥3 with probability
    <1%, so ``min_shared_bands=3`` keeps the genuine starved edges and
    kills the stranger × attached bulk — set it ≥ 2 at scale, leave 1
    (no filter) for small corpora and unit fixtures.

    "Unattached" is global (no verified edge at all), as in
    :func:`star_second_hop_pairs`; "untried" anti-joins ``attempted``
    (the caller's cumulative candidate set — base star + hops + persisted
    failures where available). The enumeration shrinks every round as
    members attach or their edges enter ``attempted``.

    ``member_buckets`` (optional (band, band_sig) frame) restricts WHICH
    buckets' unattached members are eligible — the incremental index's
    round scope — while the pair enumeration and the shared-bucket count
    always run over ALL over-cap buckets: a scoped count would
    under-report pairs whose other shared buckets are watermark-covered
    and mis-filter them below the floor, breaking the fixpoint the
    watermark certifies. The returned bucket keys (for the caller's
    slice) are likewise restricted to the scope.

    ``overcap_bands`` (optional): the over-cap band-row restriction
    (doc_id, band, band_sig) precomputed — and typically
    localCheckpoint'd — by the caller. The rescue loop calls this
    function every round, and without it each round re-derives the full
    band pipeline and the bucket-size aggregate from scratch even
    though the band table is static within a run (r11). The
    distinct+cap filter is RE-APPLIED to the provided frame (cheap on
    the restricted table), so a superset input only wastes, never
    corrupts — same contract as :func:`star_second_hop_pairs`."""
    ob = _overcap_band_rows(
        overcap_bands if overcap_bands is not None else bands,
        max_bucket_size,
    )
    vids = verified.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    u = ob.join(vids, "doc_id", "left_anti").withColumnRenamed(
        "doc_id", "__m"
    )
    u_scope = u
    if member_buckets is not None:
        u_scope = u.join(
            member_buckets.select("band", "band_sig"),
            ["band", "band_sig"], "left_semi",
        )
        u_ids = u_scope.select("__m").distinct()
        u = u.join(u_ids, "__m", "left_semi")
    a = ob.join(vids, "doc_id", "left_semi").withColumnRenamed(
        "doc_id", "__o"
    )
    qual = (
        u.join(a, ["band", "band_sig"])
        .groupBy("__m", "__o")
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    if min_shared_bands > 1:
        qual = qual.where(F.col("__nb") >= min_shared_bands)
    edges = qual.select(
        "__m",
        F.least("__m", "__o").alias("doc_a"),
        F.greatest("__m", "__o").alias("doc_b"),
    )
    if attempted is not None:
        edges = edges.join(
            attempted.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        )
    # re-attach the unattached member's (scope) bucket keys for the
    # caller's per-bucket slice/overflow logic — the qualifying untried
    # set is small by now, so this join is cheap
    return edges.join(
        u_scope.select("band", "band_sig", "__m"), "__m"
    ).select("band", "band_sig", "__m", "doc_a", "doc_b")


def star_rescue_pairs(
    bands: DataFrame,
    verified: DataFrame,
    max_bucket_size: int,
    attempted: DataFrame | None = None,
    reps_per_bucket: int = 64,
    min_shared_bands: int = 1,
    overcap_bands: DataFrame | None = None,
) -> DataFrame:
    """Post-convergence rescue candidates for the star policy — closes the
    promotion-starvation residual of :func:`star_second_hop_pairs` (its
    docstring: the hop loop ranks by id among ALL unattached members, so
    once the smallest ``reps_per_hop`` stall with every edge attempted,
    members ranked below them are never promoted, and a genuine
    ≥-threshold edge to an ATTACHED member stays unattempted — the 74-row
    index-vs-batch keep-list divergence measured on the mixed sf10
    corpus, SCALING.md round-9/10 blocks).

    Two fixes over the hop loop's ranking: (1) promote only unattached
    members that still HAVE an untried qualifying edge — stalled
    strangers (fully attempted, never attaching) drop out of the ranking
    instead of monopolizing the promotion slots; (2) the proposed edges
    target only ATTACHED co-bucket members, optionally pre-filtered by
    deterministic band agreement (``min_shared_bands``; see
    :func:`_star_untried_edges` for the scope and scale reasoning — the
    starvation signature is precisely a genuine neighbor that is
    attached). Each chosen member proposes all its untried qualifying
    edges at once, so after one turn it is fully attempted against the
    CURRENT attached set and leaves the ranking; members it newly
    attaches can enlarge the target set for the next round, so the
    caller's verify-union-anti-join loop iterates until no qualifying
    untried edge remains — per-round candidate volume stays bounded by
    reps_per_bucket × attached_per_bucket per bucket, never the
    quadratic all-pairs expansion the cap exists to prevent. Returns
    (doc_a, doc_b) candidates for the caller to Jaccard-verify."""
    edges = _star_untried_edges(
        bands, verified, max_bucket_size, attempted=attempted,
        min_shared_bands=min_shared_bands, overcap_bands=overcap_bands,
    )
    return _rescue_round(edges, reps_per_bucket)[0]


def _rescue_round(
    edges: DataFrame, reps_per_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """One rescue round over :func:`_star_untried_edges` output: the
    ``reps_per_bucket`` smallest members of each bucket propose ALL their
    untried edges. Returns the (doc_a, doc_b) candidates and the
    (band, band_sig) keys of the buckets whose member list overflowed the
    slice — the buckets the per-round bound, not a new attachment, sends
    into the next round's scope. The one definition under
    :func:`star_rescue_pairs` and the repair tower's rescue drain."""
    sliced = edges.groupBy("band", "band_sig").agg(
        F.slice(
            F.array_sort(F.collect_set("__m")), 1, reps_per_bucket
        ).alias("__rs"),
        (F.size(F.collect_set("__m")) > reps_per_bucket).alias("__ovf"),
    )
    chosen = sliced.select("band", "band_sig", F.explode("__rs").alias("__m"))
    cands = (
        edges.join(chosen, ["band", "band_sig", "__m"], "left_semi")
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cands, sliced.where(F.col("__ovf")).select("band", "band_sig")


def _star_repair(
    docs: DataFrame,
    bands: DataFrame,
    verified: DataFrame,
    attempted: DataFrame,
    max_bucket_size: int,
    *,
    k: int,
    threshold: float,
    text_col: str,
    id_col: str,
    hops: int,
    reps_per_hop: int,
    rescue_reps: int,
    rescue_min_bands: int,
    scope: DataFrame | None = None,
    repair_stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The star-repair tower shared by :func:`near_duplicates` and the
    incremental index's ``reconcile_capped_buckets``: the
    :func:`star_second_hop_pairs` hop loop (``hops`` rounds; negative =
    until converged), then the :func:`_star_untried_edges` rescue drain
    (``rescue_reps`` members per bucket per round, until no qualifying
    untried edge remains). Every round is candidates → verify → union
    into ``verified`` → union into ``attempted``, so failed edges are
    never re-verified and each round shrinks the untried set.

    ``verified`` / ``attempted``: every (doc_a, doc_b) edge already
    verified / already Jaccard-tested before the tower (extra columns are
    ignored). ``verified`` must be materialized by the caller — every
    round reads it. ``scope``: (band, band_sig) keys of the over-cap
    buckets to repair; ``None`` means every over-cap bucket. Hops promote
    only scope-bucket members. The rescue starts from ``scope`` and
    drains: round r+1's scope is the buckets touched by round r's
    attachments (a newly attached member is a fresh rescue target
    wherever it sits) plus the buckets whose member slice overflowed
    (:func:`_rescue_round`). At exit no qualifying untried edge remains
    anywhere — the attachment fixpoint both callers certify, identical
    at the same ``rescue_min_bands`` (keep-list equality between the
    batch path and a drained index).

    Returns ``(found, tried)``: the pairs the tower verified (doc_a,
    doc_b, jaccard) and the candidates it tested (doc_a, doc_b). Fills
    ``repair_stats`` with ``hops_run``/``converged`` and
    ``rescue_rounds``/``rescue_converged`` for the loops that ran.

    Staging: each round stages its candidates (and, in the rescue, its
    untried-edge enumeration) and its verified pairs exactly once; the
    cumulative verified, attempted, found and tried frames are flat
    unions over those staged pieces, so plans never stack across rounds
    and no frame is re-staged. When a loop proves it loops (a first
    productive round that admits another), the over-cap band rows
    (:func:`_overcap_band_rows`) and the attempted set are materialized
    once and reused by every later round of both loops — instead of
    re-deriving the band pipeline per iteration (r11: the converged sf10
    hop loop re-derived the full-corpus band table 6×). Lazy on purpose:
    a single-round run is cheaper re-deriving than checkpointing
    (measured at sf0.1 — the eager version cost the 1-hop bench query
    ~2 s in pure job-scheduling overhead)."""
    edges = verified.select("doc_a", "doc_b")
    attempted = attempted.select("doc_a", "doc_b")
    # empty, typed like the outputs: every productive round unions into them
    found = verified.select(
        "doc_a", "doc_b", F.lit(None).cast("double").alias("jaccard")
    ).limit(0)
    tried = attempted.limit(0)
    ob = None  # materialized over-cap band rows, once a loop loops

    def in_scope(rows: DataFrame) -> DataFrame:
        if scope is None:
            return rows
        return rows.join(scope, ["band", "band_sig"], "left_semi")

    def drain(propose, limit: int | None) -> tuple[int, bool]:
        """Rounds of ``propose(last round's verified pairs)`` → verify
        until a round proposes nothing (converged) or ``limit``
        productive rounds ran."""
        nonlocal edges, attempted, found, tried, ob
        n, v = 0, None
        while limit is None or n < limit:
            cands = stage(propose(v))
            if not cands.head(1):
                return n, True
            if n == 0 and limit != 1 and ob is None:
                ob = stage(_overcap_band_rows(bands, max_bucket_size))
                attempted = stage(attempted)
            n += 1
            v = stage(
                _verify_candidates(
                    docs, cands, k=k, threshold=threshold,
                    text_col=text_col, id_col=id_col,
                )
            )
            edges = edges.unionByName(v.select("doc_a", "doc_b"))
            found = found.unionByName(v)
            attempted = attempted.unionByName(cands)
            tried = tried.unionByName(cands)
        return n, False

    def hop(_):
        return star_second_hop_pairs(
            in_scope(bands), edges, max_bucket_size, attempted=attempted,
            reps_per_hop=reps_per_hop,
            overcap_bands=None if ob is None else in_scope(ob),
        )

    rescue_scope, overflow = scope, None

    def rescue(last):
        nonlocal rescue_scope, overflow
        if last is not None:
            touched = ob.join(
                last.select(
                    F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
                ).distinct(),
                "doc_id",
                "left_semi",
            ).select("band", "band_sig")
            rescue_scope = touched.unionByName(overflow).distinct()
        # eligible members come from the scope buckets, but the pair
        # enumeration and the shared-bucket count run over ALL over-cap
        # buckets (a scoped count would mis-filter pairs whose other
        # shared buckets are out of scope — see _star_untried_edges)
        untried = stage(
            _star_untried_edges(
                bands, edges, max_bucket_size, attempted=attempted,
                min_shared_bands=rescue_min_bands,
                member_buckets=rescue_scope, overcap_bands=ob,
            )
        )
        cands, overflow = _rescue_round(untried, rescue_reps)
        return cands

    stats = {} if repair_stats is None else repair_stats
    if hops:
        n, done = drain(hop, hops if hops > 0 else None)
        stats.update({"hops_run": n, "converged": done})
    if rescue_reps:
        n, done = drain(rescue, None)
        stats.update({"rescue_rounds": n, "rescue_converged": done})
    return found, tried


def jaccard_for_pairs(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs — the
    verification stage after LSH candidate generation."""
    counts = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_inter": 0})
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 8
            ).alias("jaccard"),
        )
    )


def near_duplicates(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist: bool = False,
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    star_repair_hops: int = 0,
    star_rescue_reps: int = 0,
    star_rescue_min_bands: int = 1,
    repair_stats: dict | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: shingle → signature → bands →
    candidates → exact-Jaccard filter ≥ threshold.

    ``repair_stats`` (optional dict) is filled with
    ``{"hops_run": k, "converged": bool}`` after the repair loop — the
    observability hook the sf10 scaling runs record the auto-hops count
    through (a converged run reports how many hops it actually needed).
    With ``star_rescue_reps`` it additionally carries
    ``{"rescue_rounds": n, "rescue_converged": bool}``.

    ``star_rescue_reps`` (star policy only) runs the promotion-starvation
    rescue AFTER the hop loop: unattached over-cap bucket members that
    still have an untried qualifying edge to an ATTACHED co-bucket
    member — members the hop loop's smallest-id ranking never promoted
    because stalled strangers monopolized its slots
    (:func:`star_rescue_pairs`) — propose those edges,
    ``star_rescue_reps`` members per bucket per round, iterated until no
    qualifying untried edge remains. ``star_rescue_min_bands`` is the
    deterministic band-agreement prefilter (identical on the incremental
    index's reconcile, so keep-list equality holds at any shared
    setting — see :func:`_star_untried_edges`). The default of 1
    deliberately optimizes EXACTNESS (no qualifying edge is ever
    prefiltered away, keep-list equality 0 rows at sf10); **2 is the
    100 TB setting** — it cuts ~32-34% of maintenance wall for ~0.01%
    of attachments (floor sweep, SCALING.md), and the floor is part of
    the reconcile watermark fingerprint so retuning is always safe. With
    this on (and converged hops) the keep list converges to the same
    attachment set as the index's drained reconcile (the r9 74-row
    divergence → 0; SCALING.md round-10 block). Total extra verification
    is one Jaccard per stranded-member × attached-member qualifying
    edge — starvation-population scale, never the quadratic all-pairs
    the cap fences.

    ``star_repair_hops`` (only meaningful with ``oversize_policy="star"``
    and a ``max_bucket_size``) runs up to that many
    :func:`star_second_hop_pairs` repair passes after the first
    verification: each hop re-stars the still-unattached members of
    over-cap buckets around a new representative and verifies those
    edges, recovering chain-cluster members whose Jaccard to the first
    representative fell below threshold (the measured 0.5% recall gap at
    sf10). Each hop costs one pass over the over-cap buckets plus
    verification of the fresh candidates only. Pass a NEGATIVE value to
    repair until converged (no fresh candidates — full keep-list parity
    with the uncapped run at sf10 took 6 hops, 2.4× cheaper than
    uncapped; SCALING.md "Star-repair hops").

    ``max_bucket_size`` / ``oversize_policy`` reach
    :func:`lsh_candidate_pairs` — the operational guard for pathological
    boilerplate buckets (one wide bucket row AQE cannot split at 100 TB):
    buckets above the cap are dropped, or star-reduced to linear
    representative edges with ``oversize_policy="star"`` (see there for
    the measured trade). ``None`` keeps every bucket.

    Candidate generation runs on the zero-shuffle
    :func:`minhash_signatures_doc` path (never touches the shingle
    relation). The exact-Jaccard stage shingles ONLY candidate documents:
    a semi-join restricts the corpus to LSH survivors before the shingle
    explode, so the widest relation scales with the near-dup population,
    not the corpus. The candidate chain is evaluated twice (once for the
    id filter, once for the pairs) — it is a cheap narrow pass, and
    recompute beats persisting it (measured; same reasoning as below).

    ``persist`` (off by default — measured slower at bench scale: caching
    serializes the shingle relation and breaks codegen pipelines, while
    recompute is one cheap scan) caches shingles for the Jaccard branch;
    enable it when the upstream is expensive, or better, write
    shingles/signatures to intermediate tables at 100 TB."""
    if star_rescue_reps < 0:
        # the rescue loop runs on truthiness; a negative bound would
        # reach star_rescue_pairs as an ill-defined F.slice length
        # (same guard as the incremental index's reconcile, r12 ADVICE)
        raise ValueError(
            f"star_rescue_reps must be >= 0 (0 disables the rescue), "
            f"got {star_rescue_reps}"
        )
    sig = minhash_signatures_doc(
        docs, k=k, num_perms=num_perms, text_col=text_col, id_col=id_col
    )
    bands_df = lsh_bands(sig, rows_per_band)
    # LAZY localCheckpoint: the candidate-pair frame is consumed at least
    # twice (the verify stage's id semi-join + the pair join) and by
    # every hop/rescue round's anti-join — without it each consumer
    # re-evaluates the whole minhash→bands→bucket tower over the corpus
    # (3 full-corpus evaluations in the r11 near_duplicates plan; guide
    # §1.2 "don't compute things twice"). Lazy (eager=False) so plan
    # CONSTRUCTION stays action-free — the frame materializes inside the
    # first action and later consumers (including connected-components
    # rounds downstream) reuse it. The frame is near-dup-population
    # sized, not corpus sized. Measured 2.8 → 2.2 s on the sf0.1 bench
    # query (plans/r12/near_duplicates_{before,after}.txt).
    cands = stage(
        lsh_candidate_pairs(
            bands_df,
            max_bucket_size=max_bucket_size,
            oversize_policy=oversize_policy,
        ),
        eager=False,
    )
    verified = _verify_candidates(
        docs, cands, k=k, threshold=threshold, text_col=text_col,
        id_col=id_col, persist=persist,
    )
    if not (
        (star_repair_hops or star_rescue_reps)
        and max_bucket_size is not None
        and oversize_policy == "star"
    ):
        return verified
    # every repair round reads the verified set (id set + anti-joins):
    # materialize it once instead of stacking the verify pipeline per
    # round. The tower starts from every over-cap bucket and no prior
    # edges; star_repair_hops < 0 = repair until converged (at sf10 full
    # convergence took 6 hops, SCALING.md)
    verified = stage(verified)
    found, _ = _star_repair(
        docs, bands_df, verified, cands, max_bucket_size,
        k=k, threshold=threshold, text_col=text_col, id_col=id_col,
        hops=star_repair_hops, reps_per_hop=8,
        rescue_reps=star_rescue_reps, rescue_min_bands=star_rescue_min_bands,
        repair_stats=repair_stats,
    )
    return verified.unionByName(found)


def distinct_shingle_arrays(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sharr ARRAY<STRING>) — each document's DISTINCT word
    k-gram shingles as ONE array row, built by a pure narrow projection
    (tokenize → k-gram strings → array_distinct). Documents with fewer
    than k words are absent — identical presence semantics to the
    exploded :func:`word_shingles` relation (whose empty explode drops
    the row), so inner joins against either form keep the same pairs.

    This is the array-form twin of :func:`word_shingles` for consumers
    that compare WHOLE shingle sets per document pair (exact-Jaccard
    verification): set intersection becomes a per-row ``array_intersect``
    after two doc-keyed equi-joins, instead of a shingle-level join whose
    shuffle carries |pairs| x |shingles-per-doc| exploded rows. Row width
    is bounded by the document's own distinct-shingle count (~ the text
    column itself x small constant), so rows stay within normal limits
    wherever the raw text row did.

    Every non-cheap intermediate (word array, raw shingle array) is
    staged as a bound attribute through its own select boundary: inlined,
    the k-gram lambda's ``element_at(words, ...)`` re-runs the regexp
    tokenization per element (O(words²) — the _dsir_features re-inline
    trap) and the presence filter re-evaluates the whole chain (measured
    22.7 s → 0.6 s for this frame over the sf0.1 corpus, r12). The
    ``size(words) >= k`` pre-filter is exactly the absence rule: k or
    more words ⟺ at least one shingle."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), words_expr(text_col).alias("__w")
    ).where(F.size("__w") >= k)
    d = d.select("doc_id", shingle_strings(F.col("__w"), k).alias("__sh0"))
    return d.select("doc_id", F.array_distinct("__sh0").alias("sharr"))


def jaccard_for_pairs_arrays(arrays: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for (doc_a, doc_b) pairs over the
    array-form shingle frame (:func:`distinct_shingle_arrays`): two
    doc-keyed equi-joins attach each side's array, then one
    ``array_intersect`` per pair computes the overlap — no shingle-level
    shuffle, no per-pair aggregation (guide §2.3/§2.4: the r11 shape
    shuffled |pairs| x |shingles-of-doc_a| exploded rows into the
    (doc_b, shingle) join and paid a (doc_a, doc_b) groupBy on top;
    measured 2.2x on near_duplicates at sf0.1). Pairs whose doc is
    absent from ``arrays`` (fewer than k words) are dropped, matching
    the inner count-joins of :func:`jaccard_for_pairs`; pairs with no
    shared shingle get jaccard 0.0, also as before.

    The intersection size is staged as a real attribute through a select
    boundary so the jaccard expression references it twice without
    re-evaluating ``array_intersect`` (CollapseProject keeps non-cheap,
    multiply-referenced expressions staged — same trap as
    training._dsir_features)."""
    a = arrays.select(F.col("doc_id").alias("doc_a"), F.col("sharr").alias("__sa"))
    b = arrays.select(F.col("doc_id").alias("doc_b"), F.col("sharr").alias("__sb"))
    staged = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("__ni"),
            F.size("__sa").alias("__na"),
            F.size("__sb").alias("__nb"),
        )
    )
    return staged.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("__ni") / (F.col("__na") + F.col("__nb") - F.col("__ni")), 8
        ).alias("jaccard"),
    )


def _verify_candidates(
    docs: DataFrame,
    cands: DataFrame,
    k: int,
    threshold: float,
    text_col: str,
    id_col: str,
    persist: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: shingle ONLY the
    candidate documents (semi-join), attach each side's distinct-shingle
    array, and filter at the threshold (array route —
    :func:`jaccard_for_pairs_arrays`)."""
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("__cand_id")
    ).distinct()
    cand_docs = docs.join(
        cand_ids, on=docs[id_col] == cand_ids["__cand_id"], how="left_semi"
    )
    # Repartition BEFORE the shingle-array projection: AQE coalesces the
    # semi-join output by its pre-projection byte size, but building the
    # distinct-shingle array multiplies the work ~word-count×, so the
    # array-consuming stages otherwise run in a handful of tasks (measured
    # at the sf1 slice on the exploded form: 2-8 tasks, 293 s stage wall;
    # with this exchange 27-30 s — event-log numbers in SCALING.md
    # "Oversize buckets"). One narrow exchange of only the candidate
    # texts, bounded by the near-dup survivor population.
    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cand_docs = cand_docs.repartition(n_part, id_col)
    arrays = distinct_shingle_arrays(
        cand_docs, k=k, text_col=text_col, id_col=id_col
    )
    if persist:
        from pyspark.storagelevel import StorageLevel

        arrays = arrays.persist(StorageLevel.MEMORY_AND_DISK)
    return jaccard_for_pairs_arrays(arrays, cands).where(
        F.col("jaccard") >= threshold
    )


def simhash(
    docs: DataFrame,
    bits: int = 31,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: per bit position b, sum(±1) over the document's
    distinct shingle hashes by the b-th bit; fingerprint bit b = 1 iff the
    sum > 0. Near-dup docs differ in O(1) bits (compare via
    :func:`hamming_distance`).

    Built on the 31-bit affine shingle hashes (:func:`shingle_hash_frame`)
    — no shingle strings, no md5 per shingle, and the shingle DISTINCT is a
    per-row ``array_distinct`` instead of a relation-wide shuffle. The only
    shuffle is the per-doc bit-sum aggregation, which combines map-side
    (shuffle volume = docs × bits partials, independent of document
    length). The wide-aggregate shape beats a per-element array fold ~2×
    (measured: codegen'd sum aggregates vs 32-wide zip_with per shingle)."""
    if bits > 31:
        raise ValueError("bits > 31 exceeds the 31-bit shingle hash")
    hv = shingle_hash_frame(docs, k=k, text_col=text_col, id_col=id_col).select(
        "doc_id", F.explode(F.array_distinct("shv")).alias("hv")
    )
    bitsums = [
        F.sum(F.expr(f"(shiftright(hv, {b}) & 1) * 2 - 1")).alias(f"b{b}")
        for b in range(bits)
    ]
    wide = hv.groupBy("doc_id").agg(*bitsums)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return wide.select("doc_id", fingerprint.alias("simhash"))


def hamming_distance(a, b):
    """Hamming distance between two simhash longs (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Near-dup clusters → keep list (the end state of a dedup pass)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node of the near-dup pair graph, where
    ``component`` is the minimum member id — min-label propagation over
    the symmetric edge list, one join + map-side-combining min per round,
    converging in graph-diameter rounds (near-dup clusters are shallow:
    members are mutually similar, so diameters are small). Labels only
    decrease, so the fixpoint check is a changed-row count. For graphs
    with adversarial diameters use :func:`connected_components_star`
    (alternating large-star/small-star, O(log n) rounds on any
    topology) — same output contract.

    Scale-adaptive: surviving near-dup edge sets are usually FAR smaller
    than the corpus (the whole point of dedup), and each distributed
    round costs a fixed multi-job overhead that dwarfs the work at that
    size. Up to ``driver_threshold`` edges the components come from a
    driver-side union-find on the collected edge list — identical output
    (min member id per component), one job instead of
    diameter × (join + count). Above the threshold, or with
    ``driver_threshold=0``, the distributed loop runs.

    **100 TB callers: pass ``driver_threshold=0``.** There the edge set
    is always far above any driver-sized threshold, so the probe below
    only costs a full-edge-set ``count()`` and an executor-local cache
    that is not durable; ``0`` skips both and goes straight to the
    staged distributed loop.

    The threshold probe must not evaluate the (possibly expensive)
    upstream twice: the pair frame is persisted and the probe is ONE
    ``count()`` over it (r13, guide §1.2 — the previous
    ``limit(threshold+1).collect()`` ran Spark's incremental
    scale-up-factor job ladder, several driver job rounds whose gaps
    dominate at bench scale). The count fully materializes the cache,
    which every continuation needs anyway: the small path re-reads it
    with one cached ``collect()``, the distributed path with the
    symmetric edge checkpoint."""
    from pyspark.storagelevel import StorageLevel

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))

    e_probe = None
    if driver_threshold:
        e_probe = e.persist(StorageLevel.MEMORY_AND_DISK)
        if e_probe.count() <= driver_threshold:
            head = e_probe.collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in head:
                ra, rb = find(r.a), find(r.b)
                if ra != rb:
                    # union by min so the representative IS the min id
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = {x for r in head for x in (r.a, r.b)}
            rows = [(n, find(n)) for n in sorted(nodes)]
            schema = e.schema["a"].dataType
            e_probe.unpersist()
            return pairs.sparkSession.createDataFrame(
                rows, f"node {schema.simpleString()}, component {schema.simpleString()}"
            )
        e = e_probe

    # localCheckpoint (not persist): every round's frame references the
    # previous one, so a cached-but-unbroken lineage DOUBLES the logical
    # plan per iteration and analysis time alone goes exponential in the
    # round count. Checkpointing truncates the plan to the materialized
    # data — each round's plan is flat.
    edges = stage(
        e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
    )
    if e_probe is not None:
        e_probe.unpersist()
    labels = stage(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.b == labels.node)
            .select(edges.a.alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                    "label"
                ),
                (F.coalesce("nbr_min", F.col("label")) < F.col("label")).alias(
                    "__chg"
                ),
            )
        )
        new_labels = stage(new_labels)
        changed = new_labels.where("__chg").count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) via the alternating large-star/small-star
    iteration (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — the adversarial-diameter-safe companion to
    :func:`connected_components`: min-label propagation needs
    graph-diameter rounds (a D-node chain takes D rounds), while
    star-contraction halves path lengths every alternation and converges
    in O(log n) rounds on ANY topology. Same output contract: component
    = minimum member id.

    Per round, two shuffles:

    - **large-star**: every node's strictly-larger neighbors re-point to
      the minimum of its closed neighborhood — one groupBy(min) + one
      join over the symmetric edge view;
    - **small-star**: every node and its smaller neighbors re-point to
      the smallest of them — one groupBy(min) + one join over the
      (larger → smaller)-directed edge list that large-star guarantees.

    Fixpoint = star forest: each non-root points directly at its
    component minimum. localCheckpoint per round keeps plans flat,
    exactly as in :func:`connected_components`. Use this variant when
    cluster chains may be long (transitive near-dup chains, record-
    linkage graphs); the default min-label loop stays cheaper on the
    shallow clusters LSH dedup actually produces."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # orient larger → smaller; the invariant v < u holds from here on
    edges = stage(
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    n_edges = edges.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        lmins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(lmins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(lmins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        small = stage(small)
        n_small = small.count()
        if n_small == n_edges and small.exceptAll(edges).isEmpty():
            edges = small
            break
        edges, n_edges = small, n_small
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        edges.select(F.col("v").alias("node"))
        .distinct()
        .join(edges.select(F.col("u").alias("node")), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return members.unionByName(roots)


def near_dup_keep_list(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    star_repair_hops: int = 0,
    star_rescue_reps: int = 0,
    star_rescue_min_bands: int = 1,
    repair_stats: dict | None = None,
) -> DataFrame:
    """The dedup pass's end product: (doc_id, canonical_id, is_kept) for
    EVERY document — near-duplicate clusters (MinHash-LSH candidates,
    exact-Jaccard verification, connected components over the surviving
    pairs) collapse to their minimum-id member; untouched documents keep
    themselves. Filter ``is_kept`` to materialize the deduplicated
    corpus; group by ``canonical_id`` to audit cluster sizes.
    ``max_bucket_size`` passes through to :func:`lsh_candidate_pairs`;
    with the default ``oversize_policy="drop"`` members of dropped
    over-cap boilerplate buckets (absent other surviving pairs) keep
    themselves, while ``"star"`` keeps collapsing them through linear
    representative edges (the 100 TB setting when giant buckets are real
    near-dup clusters — measured trade in SCALING.md)."""
    pairs = near_duplicates(
        docs,
        threshold=threshold,
        k=k,
        num_perms=num_perms,
        rows_per_band=rows_per_band,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        oversize_policy=oversize_policy,
        star_repair_hops=star_repair_hops,
        star_rescue_reps=star_rescue_reps,
        star_rescue_min_bands=star_rescue_min_bands,
        repair_stats=repair_stats,
    )
    comp = connected_components(pairs)
    out = docs.select(F.col(id_col).alias("doc_id")).join(
        comp, F.col("doc_id") == comp.node, "left"
    )
    canonical = F.coalesce(F.col("component"), F.col("doc_id"))
    return out.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (canonical == F.col("doc_id")).alias("is_kept"),
    )


def near_dup_keep_best(
    docs: DataFrame,
    quality_col: str,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    star_repair_hops: int = 0,
    star_rescue_reps: int = 0,
    star_rescue_min_bands: int = 1,
    repair_stats: dict | None = None,
) -> DataFrame:
    """Quality-aware near-dup keep list (the FineWeb/DataComp refinement
    of min-id dedup): clusters still form exactly as in
    :func:`near_dup_keep_list` (``canonical_id`` stays the minimum-id
    member, the stable CLUSTER key), but the kept representative is the
    member with the highest ``quality_col`` value, doc-id ascending as
    the tie-break. Min-id keep discards high-quality copies in favor of
    whichever duplicate happened to get the smallest id; at pretraining
    scale the kept copy is the one the model sees, so keep the best.
    Output: (doc_id, canonical_id, is_kept, kept_id) — ``kept_id`` is the
    chosen representative for the doc's cluster (equal to doc_id for
    untouched docs).

    One extra shuffle over the min-id variant: an argmax-by-struct
    aggregate per component (map-side combined, volume = cluster
    members), no window sort."""
    pairs = near_duplicates(
        docs,
        threshold=threshold,
        k=k,
        num_perms=num_perms,
        rows_per_band=rows_per_band,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        oversize_policy=oversize_policy,
        star_repair_hops=star_repair_hops,
        star_rescue_reps=star_rescue_reps,
        star_rescue_min_bands=star_rescue_min_bands,
        repair_stats=repair_stats,
    )
    comp = connected_components(pairs)
    # argmax(quality, tie min doc_id) per CLUSTER, computed over cluster
    # MEMBERS only (r12): an untouched document is always its own singleton
    # group — its kept_id is itself by construction — so grouping the whole
    # corpus by canonical_id (as before) aggregated and re-shuffled mostly
    # rows whose answer is forced. The member set is comp-sized (the
    # near-dup population, the quantity dedup exists to make small), so the
    # argmax aggregate and the kept_id attach below move member rows, never
    # the corpus, and the corpus frame is evaluated once instead of twice
    # (the old scored frame fed both the groupBy and the final join).
    # Cluster ids can't collide with untouched doc_ids: a cluster's
    # canonical is its min member id and that member IS in comp.
    members = docs.select(
        F.col(id_col).alias("__mid"), F.col(quality_col).alias("__q")
    ).join(comp, F.col("__mid") == comp.node, "inner")
    best = (
        members.groupBy("component")
        .agg(
            F.min(F.struct((-F.col("__q")).alias("nq"), F.col("__mid").alias("d")))
            .alias("__b")
        )
        .select(F.col("component").alias("__bc"), F.col("__b.d").alias("kept_id"))
    )
    # ONE corpus-side join (r13, guide §2.4): attach kept_id to the
    # member-sized comp relation first (every component's members are in
    # comp, so the inner join keeps every node), then label the corpus
    # once. The previous form joined the corpus against comp AND then
    # against best (keyed on the derived canonical_id) — two corpus-wide
    # probe passes for one lookup. Untouched docs coalesce to themselves
    # exactly as before (cluster ids are min MEMBER ids, so they can
    # never collide with a doc id outside comp).
    comp_kept = comp.join(best, comp.component == F.col("__bc"), "inner").select(
        "node", "component", "kept_id"
    )
    out = docs.select(F.col(id_col).alias("doc_id")).join(
        comp_kept, F.col("doc_id") == F.col("node"), "left"
    )
    canonical = F.coalesce(F.col("component"), F.col("doc_id"))
    kept = F.coalesce(F.col("kept_id"), F.col("doc_id"))
    return out.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (F.col("doc_id") == kept).alias("is_kept"),
        kept.alias("kept_id"),
    )


# ---------------------------------------------------------------------------
# Cross-document paragraph dedup (C4 / MassiveText-style)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    docs: DataFrame,
    sep: str = "\n\n",
    min_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup (the C4/MassiveText recipe that
    complements document-level dedup): split every document on ``sep``,
    keep each distinct trimmed paragraph only at its FIRST occurrence —
    deterministically min(doc_id, paragraph position) — and reassemble
    documents from their surviving paragraphs in original order.

    Paragraphs shorter than ``min_chars`` after trimming are never
    treated as duplicates (boilerplate-level fragments like list bullets
    stay put); empty paragraphs are dropped from the reassembly like the
    split artifacts they are.

    Output: (doc_id, text, n_paragraphs, n_kept) — documents whose every
    paragraph was a duplicate come back with empty text and n_kept = 0,
    so the caller can filter or audit.

    Scale: one explode (narrow), one groupBy on the paragraph hash with a
    map-side-combining min(struct) — shuffle volume is one small struct
    per DISTINCT paragraph per partition, never the paragraph text — one
    min-struct semi-side join back on the hash, and one per-doc
    reassembly groupBy. No driver-side state."""
    paras = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "para"),
        )
        .withColumn("para", F.trim("para"))
        .where(F.length("para") > 0)
    )
    dedupable = paras.where(F.length("para") >= min_chars)
    winners = dedupable.select(
        F.md5(F.col("para")).alias("h"),
        F.struct(F.col("doc_id"), F.col("pos")).alias("o"),
    ).groupBy("h").agg(F.min("o").alias("w"))
    tagged = paras.join(
        winners,
        F.md5(F.col("para")) == F.col("h"),
        "left",
    ).where(
        (F.length("para") < min_chars)
        | ((F.col("w.doc_id") == F.col("doc_id")) & (F.col("w.pos") == F.col("pos")))
    )
    return (
        paras.groupBy("doc_id")
        .agg(F.count("*").alias("n_paragraphs"))
        .join(
            tagged.groupBy("doc_id").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("para")))
                        ),
                        lambda s: s["para"],
                    ),
                    sep,
                ).alias("text"),
                F.count("*").alias("n_kept"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_paragraphs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def repeated_kgram_spans(
    docs: DataFrame,
    k: int = 50,
    stride: int | None = None,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication spans (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" family,
    re-expressed for distribution): every ``stride``-aligned ``k``-char
    window whose content occurs ≥ ``min_count`` times anywhere in the
    corpus (other documents OR elsewhere in the same one) marks its
    characters duplicated; overlapping/adjacent marked windows merge
    into maximal (doc_id, span_start, span_end) rows, end exclusive.

    Recall contract (weaker than the suffix-array method): windows are
    taken only at per-document stride-aligned offsets, so two
    occurrences of a repeated substring are detected only when they
    share window alignment — i.e. their offsets are congruent mod
    ``stride`` (always true for exact whole-document duplicates and for
    any repeat whose copies start at offsets o1 ≡ o2 (mod stride)).
    Occurrences at incommensurate offsets generically share no gram and
    are missed. ``stride=1`` restores the full alignment-free guarantee
    (any repeat of length ≥ k is caught) at k× the exploded volume —
    the high-recall setting; the default ``stride = k // 2`` is the
    throughput setting. Lee et al.'s suffix array has the unconditional
    guarantee only because suffixes exist at every offset.

    Scale shape: windows hash to md5 BEFORE the shuffle (constant-width
    keys — and the DuckDB oracle reproduces them bit-for-bit, which no
    engine-native hash would allow); duplicate detection is one count
    window over the gram key (no join-back); span merging shuffles ONLY
    the duplicated positions on doc_id — corpus text never shuffles.
    ~2/k rows per character keeps the exploded frame a bounded multiple
    of the corpus."""
    from pyspark.sql import Window

    stride = stride or max(1, k // 2)
    text = F.col(text_col)
    npos = F.when(
        F.length(text) >= k, ((F.length(text) - k) / stride).cast("int") + 1
    ).otherwise(F.lit(0))
    staged = docs.select(F.col(id_col).alias("doc_id"), text.alias("__t"), npos.alias("__n"))
    exploded = staged.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("__n") > 0,
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - 1),
                    lambda i: F.struct(
                        (i * stride).alias("pos"),
                        F.md5(F.substring(F.col("__t"), i * stride + 1, k)).alias("g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
    dup = (
        exploded.withColumn("__c", F.count("*").over(Window.partitionBy("g")))
        .where(F.col("__c") >= min_count)
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    marked = dup.select("doc_id", "pos", F.lag("pos").over(w_doc).alias("__prev"))
    islands = marked.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("__prev").isNull() | (F.col("pos") > F.col("__prev") + k), 1
            ).otherwise(0)
        )
        .over(w_doc)
        .alias("__isl"),
    )
    return (
        islands.groupBy("doc_id", "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )
