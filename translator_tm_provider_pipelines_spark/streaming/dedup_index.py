"""Incremental MinHash/LSH near-duplicate index — the streaming twin of
the batch dedup family (``operators.dedup``).

The batch path recomputes signature → bands → buckets → pairs over the
whole corpus. At 100 TB with a daily ingest that is a full-corpus pass to
absorb a 0.1% delta. This module maintains a persisted index instead:

    <index_dir>/bands/      (doc_id, band, band_sig)    partitioned by batch
    <index_dir>/docs/       (doc_id, text)              partitioned by batch
    <index_dir>/pairs/      (doc_a, doc_b, jaccard)     partitioned by batch
    <index_dir>/reconciled/ (band, band_sig, config_sig, watermark)
                            per-bucket repair watermarks (negative
                            reconcile partitions only; see
                            :func:`reconcile_capped_buckets`)
    <index_dir>/failed/     (doc_a, doc_b, config_sig)
                            reconcile candidates whose exact Jaccard
                            FAILED the threshold — immutable facts under
                            a (threshold, k) fingerprint, persisted so a
                            re-activated bucket never re-verifies the
                            same below-threshold edge twice

Each update computes band signatures for the NEW documents only (the
zero-shuffle per-row program), joins them against the accumulated band
table on (band, band_sig) — new-vs-old and new-vs-new candidates in one
equi-join, with the new side small enough to broadcast — and
exact-Jaccard-verifies only the candidates (shingling is restricted to
candidate documents by a semi-join, batch-path invariant). The batch's
band rows and its distinct candidate pairs are each staged once
(``functions/staging.stage``): several branches of one physical plan read
them, and Catalyst does not share a subplan across branches, so unstaged
every branch re-derived the MinHash bands and re-scanned the old band
table. Appends are idempotent: every batch writes its own ``batch_id=N``
partition with dynamic partition overwrite and reads the index without
that partition, so a foreachBatch retry overwrites rather than
duplicates.

Equivalence contract (pinned by test): with unique doc ids and no bucket
cap, the union of per-batch verified pairs over any batch split equals
the single-batch ``near_duplicates`` pairs — an LSH pair materializes in
whichever batch its LATER member arrives, with identical band signatures
and identical Jaccard. Hence :func:`keep_list_from_index` ==
``near_dup_keep_list`` on the full corpus. ``max_bucket_size`` is the one
deliberate divergence: the incremental guard sees bucket sizes as of the
current batch, so a bucket that only later outgrows the cap keeps its
early pairs (the batch path drops all of them); leave it ``None`` when
exact batch equivalence matters. With ``oversize_policy="star"`` late
arrivals to over-cap buckets still link through the bucket's minimum-id
representative (batch-star parity on tight clusters, pinned by test);
with the default ``"drop"`` they stay unlinked until
:func:`reconcile_capped_buckets` runs.

No counterpart in the reference (its incrementality is status-flag
reprocessing, PipelineMain.java:555-610); this is the Spark-native
extension of that redo loop to continuous ingest.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..functions.staging import stage
from ..operators import dedup

_SUBDIRS = ("bands", "docs", "pairs")


def _part_path(index_dir: str, sub: str) -> str:
    return os.path.join(index_dir, sub)


def _write_batch(df: DataFrame, index_dir: str, sub: str, batch_id: int) -> None:
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(_part_path(index_dir, sub))
    )


def _read_index(spark: SparkSession, index_dir: str, sub: str) -> DataFrame | None:
    """Read one index sub-table, or None when it genuinely holds nothing
    yet: the path does not exist (first batch), or it exists but contains
    no data files (a batch whose every stage produced zero rows still
    creates the partitioned directory — e.g. pairs/ after batches with no
    duplicates — and Spark raises UNABLE_TO_INFER_SCHEMA on a file-less
    parquet dir). Any OTHER read failure — corrupt footer, permission
    error, transient storage fault — must raise: treating it as 'empty
    index' would make the batch skip every new-vs-old candidate pair, and
    since a pair only materializes in the batch of its later member,
    those pairs would be silently and permanently lost."""
    path = _part_path(index_dir, sub)
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        err = ""
        get_cls = getattr(exc, "getCondition", None)  # Spark 4 name
        if callable(get_cls):
            err = get_cls() or ""
        for empty_cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            if empty_cond in err or empty_cond in str(exc):
                return None  # nothing indexed yet (missing or file-less)
        raise


def update_near_dup_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    batch_id: int,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    broadcast_row_cap: int = 500_000,
) -> DataFrame:
    """Absorb one batch of new documents into the index; returns the
    newly verified near-dup pairs (doc_a, doc_b, jaccard) — every pair
    with at least one member in this batch whose exact Jaccard meets the
    threshold. Docs already present in the index must not be re-sent
    (ids are assumed unique across batches, as in any ingest log).

    ``oversize_policy`` mirrors the batch path's over-cap bucket
    handling (``dedup.lsh_candidate_pairs``): ``"drop"`` discards every
    candidate in a bucket above ``max_bucket_size`` (late arrivals to
    giant-boilerplate buckets stay unlinked — run
    :func:`reconcile_capped_buckets` at maintenance cadence), while
    ``"star"`` keeps only candidates incident to the bucket's CURRENT
    minimum-id member, so every late arrival still links through the
    representative at linear cost. Star keeps incremental ⊇ batch-star:
    pairs verified while the bucket was under cap persist (all genuine),
    and when a new batch brings a smaller id the new representative
    stars against the whole bucket in that batch's equi-join — keep-list
    equality with the batch star path on tight clusters is pinned by
    test for arrival orders where the representative comes first, last,
    and mid-stream.

    The batch's band rows and its distinct candidates are staged once
    (``functions/staging.stage``; localCheckpoint, or parquet under a
    configured staging dir): the band join, the bucket-size aggregate,
    both verify sides, the candidate-id semi-join and the bands write
    all read them, and an unstaged frame is recomputed once per plan
    branch that reads it. Writes stay pairs, then bands, then docs."""
    batch = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    # staged: read by the band join, the size aggregate and the bands write
    new_bands = stage(
        dedup.lsh_bands(
            dedup.minhash_signatures_doc(batch, k=k, num_perms=num_perms),
            rows_per_band=rows_per_band,
        )
    )

    def prior(sub: str, *cols: str) -> DataFrame | None:
        # the index as it stood before this batch: a retried batch_id skips
        # the partition its earlier attempt wrote, or the batch's docs
        # would join the corpus twice and every new pair would land twice
        df = _read_index(spark, index_dir, sub)
        if df is None:
            return None
        return df.where(F.col("batch_id") != batch_id).select(*cols)

    old_bands = prior("bands", "doc_id", "band", "band_sig")
    all_bands = new_bands if old_bands is None else new_bands.unionByName(old_bands)
    # one equi-join on the bucket key: the new side is the micro-batch;
    # every candidate has >= 1 new member, so new-vs-old and new-vs-new
    # pairs both fall out. least/greatest normalizes pair order so
    # cross-batch re-derivations dedupe. Broadcast only when the batch is
    # genuinely small: under trigger(availableNow=True) the first
    # micro-batch can be the ENTIRE backlog (no maxFilesPerTrigger
    # default), and an unconditional broadcast of that is a driver OOM.
    # Above the cap, let AQE pick the join strategy.
    nb = new_bands.select(F.col("doc_id").alias("__new_id"), "band", "band_sig")
    n_new = batch.limit(broadcast_row_cap + 1).count()
    if n_new <= broadcast_row_cap:
        nb = F.broadcast(nb)
    cands = (
        all_bands.join(nb, ["band", "band_sig"])
        .where(F.col("doc_id") != F.col("__new_id"))
        .select(
            F.least("doc_id", "__new_id").alias("doc_a"),
            F.greatest("doc_id", "__new_id").alias("doc_b"),
            "band",
            "band_sig",
        )
    )
    if max_bucket_size is not None:
        if oversize_policy not in ("drop", "star"):
            raise ValueError(f"unknown oversize_policy {oversize_policy!r}")
        sizes = all_bands.groupBy("band", "band_sig").agg(
            F.countDistinct("doc_id").alias("__bn"),
            F.min("doc_id").alias("__bmin"),
        )
        keep = F.col("__bn") <= max_bucket_size
        if oversize_policy == "star":
            # over-cap: only representative-incident edges; the pair is
            # (least, greatest)-normalized, so an edge touching the
            # bucket's global min always carries it in doc_a
            keep = keep | (F.col("doc_a") == F.col("__bmin"))
        cands = cands.join(sizes, ["band", "band_sig"]).where(keep)
    # staged: read by both verify sides and the candidate-id semi-join
    cands = stage(cands.select("doc_a", "doc_b").distinct())

    old_docs = prior("docs", "doc_id", "text")
    corpus = batch if old_docs is None else batch.unionByName(old_docs)
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    cand_docs = corpus.join(cand_ids, "doc_id", "left_semi")
    # pre-explode repartition: same AQE-coalesce-before-explode trap as in
    # dedup.near_duplicates (see the comment there)
    n_part = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cand_docs = cand_docs.repartition(n_part, "doc_id")
    arrays = dedup.distinct_shingle_arrays(cand_docs, k=k)
    verified = dedup.jaccard_for_pairs_arrays(arrays, cands).where(
        F.col("jaccard") >= threshold
    )

    # land pairs before bands: if the job dies between writes, the batch
    # re-run regenerates candidates (bands not yet visible) instead of
    # silently losing pairs for docs whose bands are already indexed
    _write_batch(verified, index_dir, "pairs", batch_id)
    _write_batch(new_bands, index_dir, "bands", batch_id)
    _write_batch(batch, index_dir, "docs", batch_id)
    return verified


def reconcile_partition_id(reconcile_id: int) -> int:
    """Partition id a reconcile run lands in: ``-(1 + reconcile_id)``.

    foreachBatch epoch ids are monotonically increasing and NON-NEGATIVE,
    so repair pairs live in a disjoint negative id space — a resumed
    stream can never reach a repair partition's id and dynamic-overwrite
    it away (which a 'last committed + 1' convention would eventually do,
    silently losing the repaired pairs on the very next micro-batch)."""
    if reconcile_id < 0:
        raise ValueError("reconcile_id must be >= 0")
    return -(1 + reconcile_id)


def _reconcile_config_sig(
    max_bucket_size: int,
    threshold: float,
    k: int,
    repair_hops: int,
    reps_per_hop: int,
    fresh_reps_per_bucket: int = 64,
    rescue_min_shared_bands: int = 1,
) -> str:
    """Settings fingerprint a reconcile watermark is valid under. A
    watermark written by a run with different settings must not skip the
    bucket: a deeper ``repair_hops`` or different ``reps_per_hop`` can
    attach members the shallower run could not, and threshold/k/cap
    changes redefine which edges the bucket even owes (``repair_hops < 0``
    always means "until converged", so every negative value normalizes to
    the same fingerprint).

    The rescue knobs are fingerprinted too (round-11): a watermark
    certifies "no qualifying untried edge remains" only AT a specific
    ``rescue_min_shared_bands`` floor and only when the rescue ran at
    all, so a run with the rescue newly enabled, disabled, or at a
    different floor must not be skipped on the strength of it. The
    rescue BOUND magnitude (``fresh_reps_per_bucket`` above zero) stays
    out for the same reason ``reps_per_hop``'s pacing does not redefine
    the fixpoint: it only changes WHICH edges are tried per round — the
    within-run round loop drains to the same fixpoint regardless."""
    hops = "conv" if repair_hops < 0 else str(repair_hops)
    rescue = (
        "off" if fresh_reps_per_bucket == 0
        else f"minbands={rescue_min_shared_bands}"
    )
    return (
        f"cap={max_bucket_size}|t={threshold!r}|k={k}|hops={hops}"
        f"|reps={reps_per_hop}|rescue={rescue}"
    )


def _gated_attachment_clock(
    pairs: DataFrame, band_cols: DataFrame, completed_wm: int
) -> DataFrame:
    """Per-bucket post-watermark attachment clock ``(band, band_sig,
    __attwm)`` — the max NON-NEGATIVE pairs ``batch_id`` incident to any
    bucket member, gated at ``completed_wm`` (the max batch visible in
    docs/). One definition shared by ``reconcile_capped_buckets`` (the
    re-activation + watermark-write side) and ``index_bucket_stats``
    (the scheduling gauge) so the round-10 attachment rule and the
    round-11 completed-batch gate cannot drift between them (r12
    ADVICE). The gate: pairs land BEFORE bands within a batch, so pairs
    from a batch not yet visible in docs/ (written LAST) may describe
    band rows this run cannot see — trusting them would stamp or
    schedule work the bands snapshot can't support. Reconcile-partition
    pairs (negative ids) are excluded because the run that wrote them
    already pulled every touched bucket into its own rescue scope."""
    att = (
        pairs.where(
            (F.col("batch_id") >= 0)
            & (F.col("batch_id") <= F.lit(completed_wm))
        )
        .select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
            "batch_id",
        )
        .groupBy("doc_id")
        .agg(F.max("batch_id").alias("__att"))
    )
    return (
        band_cols.join(att, "doc_id")
        .groupBy("band", "band_sig")
        .agg(F.max("__att").alias("__attwm"))
    )


def _failure_config_sig(threshold: float, k: float) -> str:
    """Fingerprint a persisted verification FAILURE is valid under. An
    edge's exact Jaccard is a pure function of the two immutable documents
    and the shingle size ``k``; ``threshold`` decides pass/fail. Cap, hop
    depth, and reps-per-hop only choose WHICH edges get attempted, never
    the verdict, so failures persisted under one maintenance configuration
    stay valid when those knobs change (unlike the reconcile watermarks,
    which fingerprint all five)."""
    return f"t={threshold!r}|k={k}"


def reconcile_capped_buckets(
    spark: SparkSession,
    index_dir: str,
    max_bucket_size: int,
    threshold: float = 0.8,
    k: int = 3,
    reconcile_id: int = 0,
    repair_hops: int = 0,
    reps_per_hop: int = 8,
    use_watermarks: bool = True,
    persist_failures: bool = True,
    fresh_reps_per_bucket: int = 64,
    rescue_min_shared_bands: int = 1,
) -> DataFrame:
    """Repair pass for an index maintained with ``max_bucket_size``: emit
    the star-policy edges for every bucket that has OUTGROWN the cap,
    then optionally run the same star-repair tower as the batch path
    (``dedup._star_repair``, behind ``dedup.near_duplicates``'
    ``star_repair_hops`` / ``star_rescue_reps``).

    The per-batch guard evaluates bucket sizes as of each batch, so a
    bucket that crosses the cap mid-stream splits into two regimes: early
    members carry full pairwise edges (verified while the bucket was
    small — genuine, kept), while members arriving after the crossing get
    NO edges at all (their candidates are filtered by the cap guard) —
    the documented batch/incremental divergence (module docstring). The
    batch path with ``oversize_policy="star"`` would instead link every
    member through the bucket's minimum-id representative. This pass
    re-derives exactly those representative→member edges for currently
    over-cap buckets, anti-joins the pairs already verified, and
    exact-Jaccard verifies the remainder against the indexed docs.

    ``repair_hops`` then mirrors :func:`..operators.dedup.near_duplicates`
    ``star_repair_hops``: each hop promotes the ``reps_per_hop`` smallest
    still-unattached members of every over-cap bucket to additional
    representatives (``dedup.star_second_hop_pairs``) and verifies those
    edges, recovering CHAIN-shaped cluster members whose Jaccard to the
    first representative fell below threshold. Pass a negative value to
    repair until converged (no fresh candidates). With converged hops the
    index keep list matches the batch ``star_repair_hops=-1`` keep list
    on a chain cluster grown past the cap across batches (pinned by
    test).

    All repaired pairs land in ONE partition at
    ``batch_id = reconcile_partition_id(reconcile_id)`` — a NEGATIVE id,
    disjoint by construction from the stream's non-negative epoch ids, so
    no future micro-batch can overwrite a repair partition. Re-running
    the same ``reconcile_id`` is SAFE even after interleaved ingest: the
    rows already stored in the target partition are unioned back into
    the rewrite (they are exact-verified pairs over immutable docs, so
    always still valid), so the dynamic overwrite never loses a prior
    run's repairs — a cron'd maintenance job can keep the CLI default id
    forever. :func:`compact_index` merges repair partitions into a
    single negative partition of their own (they must never enter the
    non-negative ingest attachment clock). Returns the newly verified
    pairs (prior-partition rows are rewritten but not returned).

    After reconciling, the index's pair set is a superset of the batch
    star path's for those buckets (the early full-pairwise edges are all
    genuine ≥-threshold pairs), so connected components collapse at least
    as much — keep-list equality for a single cluster that outgrew the
    cap is pinned by test. ``threshold`` and ``k`` must MATCH the values
    the index was built with (:func:`update_near_dup_index`): a different
    k shingles differently and a different threshold admits pairs the
    per-batch passes would have rejected — both silently break the
    accumulated pair set's semantics.

    **Per-bucket watermarks** (``use_watermarks``, default on): each run
    records, per repaired bucket, the max ingest ``batch_id`` among the
    bucket's band rows at repair time plus a settings fingerprint, in the
    ``reconciled/`` side table (same negative-partition + union-back
    discipline as the pairs). The next run SKIPS over-cap buckets whose
    recorded watermark still covers their current max band batch_id under
    the same fingerprint: a bucket's membership can only change through
    new band rows (documents are immutable, ids unique), and the verified
    pair set only grows, so an unchanged bucket repaired to these
    settings owes nothing new. This turns the cron'd maintenance pass
    from O(all over-cap buckets) per run into O(buckets touched since the
    last run) — on a converged index a re-reconcile is a near-no-op
    instead of a full re-verification (the r8 honest negative: converged
    reconcile cost 0.82× of a FULL recompute on the all-duplicates sf10
    slice because every run re-verified every bucket). Compaction rewrites
    band rows to a single higher batch_id, which conservatively
    invalidates every watermark — one wasteful re-verification, never a
    lost repair. Watermarks land AFTER the pairs partition, so a crash
    between the writes re-verifies rather than skips.

    **Persisted failures** (``persist_failures``, default on): watermarks
    skip UNCHANGED buckets, but a bucket re-activated by a single new
    member still re-derives its full star candidate set — and in a
    chain-shaped boilerplate bucket most representative edges genuinely
    fail the threshold, so without a record of failures every re-activated
    bucket re-pays exact-Jaccard verification for edges already known to
    be below threshold. Each run therefore also lands its
    attempted-but-failed candidate pairs in the ``failed/`` side table
    (same negative-partition + union-back discipline), fingerprinted by
    ``(threshold, k)`` only: a failed Jaccard is an immutable fact of the
    two documents, so cap/hop/reps changes never invalidate it (and
    compaction, which bumps band batch_ids past the watermarks, does not
    touch it either). The next run anti-joins its candidates against the
    matching failures, so a re-activated bucket verifies ONLY edges
    involving genuinely new members — the step from O(touched buckets ×
    bucket size) back down to O(new members). Failures land after the
    pairs and before the watermarks: a crash anywhere re-verifies at most
    the in-flight run's candidates, never skips an unverified edge.

    **Untried-member rescue** (``fresh_reps_per_bucket``, default 64):
    the hop loop promotes only UNATTACHED members, smallest ids first,
    and stops when the smallest stall — so a member whose genuine
    neighbor is already attached (and therefore never promoted) can be
    starved if enough smaller-id stranded strangers sit above it in the
    promotion order (measured: 4 of 500k docs on the mixed sf10 corpus
    before r9's fix). After the base star and hop loop, unattached
    members of ACTIVE over-cap buckets that still have an UNTRIED
    qualifying edge — a pair with an ATTACHED co-bucket member, passing
    the ``rescue_min_shared_bands`` band-agreement prefilter (default 1
    = exactness-first: nothing prefiltered, keep-list equality 0 rows
    at sf10; 2 is the 100 TB setting — ~32-34% maintenance wall saved
    for ~0.01% of attachments, floor sweep in SCALING.md; the floor is
    fingerprinted into the watermark so retuning never skips certified
    buckets), not
    verified, not attempted this run, not in the persisted failures —
    propose those edges, up to the ``fresh_reps_per_bucket`` smallest
    such member ids per bucket per run
    (:func:`..operators.dedup._star_untried_edges`; targeting attached
    members only is the 100 TB cost fence — the starvation signature is
    precisely a genuine neighbor that is attached, while
    stranger-to-stranger expansion is the quadratic trap the cap
    exists to prevent, measured at Σn² ≈ 45M pairs on the mixed sf10
    corpus). Ranking by has-an-untried-qualifying-edge rather than r9's
    arrived-after-the-watermark closes both residuals that criterion
    left (round-10): members that exhaust their targets become fully
    attempted and DROP OUT of the ranking and the overflow test — the
    slice progresses and the watermark always eventually advances — and
    backlog members starved on the very first reconcile (which pre-date
    any watermark) are reachable, so a fully drained index attains the
    same attachment fixpoint as the batch path with
    ``star_rescue_reps`` at the same ``min_shared_bands`` (the filter
    is a pure function of the two immutable documents, hence identical
    across paths; keep-list equality on the mixed corpus, SCALING.md
    round-10 block). The rescue runs as a post-pass, so members the
    normal repair already attached cost nothing; newly attached members
    enlarge the target set, so the drain iterates across runs. A bucket
    whose untried-member count EXCEEDS the per-run bound keeps its old
    watermark (the hold below), stays visible as unreconciled in the
    gauge, and re-activates next run — delta-scale work each run. Set
    0 to disable."""
    if fresh_reps_per_bucket < 0:
        # the rescue loop runs on truthiness and the fingerprint maps
        # only ==0 to "off" — a negative value would run the rescue with
        # an ill-defined F.slice bound while stamping watermarks as
        # rescue-on (r12 ADVICE). Fail loudly instead.
        raise ValueError(
            f"fresh_reps_per_bucket must be >= 0 (0 disables the "
            f"rescue), got {fresh_reps_per_bucket}"
        )
    # READ ORDER INVARIANT: docs strictly before bands. docs is the LAST
    # table update_near_dup_index writes (pairs -> bands -> docs), and
    # stream batches are serial, so any batch id visible in this docs
    # snapshot had fully committed its bands write BEFORE this (later)
    # bands listing — max(docs.batch_id) is therefore a certificate that
    # every band row of batches <= it is present in `bands`. The
    # attachment clock below leans on exactly that (round-11 ADVICE fix).
    docs = _read_index(spark, index_dir, "docs")
    bands = _read_index(spark, index_dir, "bands")
    if bands is None or docs is None:
        raise FileNotFoundError(f"no index at {index_dir}")
    band_cols = bands.select("doc_id", "band", "band_sig")
    doc_cols = docs.select("doc_id", "text")
    cfg_sig = _reconcile_config_sig(
        max_bucket_size, threshold, k, repair_hops, reps_per_hop,
        fresh_reps_per_bucket, rescue_min_shared_bands,
    )
    over = (
        bands.groupBy("band", "band_sig")
        .agg(
            F.array_sort(F.collect_set("doc_id")).alias("ds"),
            F.max("batch_id").alias("__wm"),
        )
        .where(F.size("ds") > max_bucket_size)
    )
    old_pairs = _read_index(spark, index_dir, "pairs")
    if use_watermarks:
        if old_pairs is not None:
            # post-watermark ATTACHMENT clock (round-10): a covered
            # bucket's member attached by a LATER ingest batch (a pair
            # verified in another bucket at ingest) creates new
            # qualifying rescue targets here without any new band row,
            # so "band rows unchanged" alone is not fixpoint evidence.
            # Per bucket, track the max NON-NEGATIVE pairs batch_id
            # incident to its members — reconcile-partition pairs
            # (negative ids) are excluded because the run that wrote
            # them already pulled every touched bucket into its own
            # rescue scope (the repair tower below). The activation filter
            # compares the stored watermark against this clock, and the
            # watermark WRITE covers it (greatest of band and attachment
            # clocks), so a drained bucket settles instead of
            # re-activating forever. One linear pass over the pairs
            # table.
            #
            # COMPLETED-BATCH GATE (round-11 ADVICE): pairs land BEFORE
            # bands within a batch, so a reconcile racing a live
            # micro-batch N (or running after a crash between the
            # writes) can see batch-N pairs while its bands snapshot
            # ends at N-1. Trusting such a pair would stamp the bucket's
            # watermark at N, and when batch N's band rows later land
            # (the stream's idempotent retry), __wm == stored ==
            # __attwm == N — the bucket never re-activates and the new
            # members' owed edges are skipped forever. Only batches
            # visible in docs/ (written LAST, read FIRST above) are
            # provably complete in this run's bands snapshot, so the
            # clock is capped at max(docs.batch_id); later pairs
            # re-activate the bucket on the run that can actually see
            # their batch's band rows.
            completed_wm = docs.agg(F.max("batch_id")).first()[0]
            b_att = _gated_attachment_clock(old_pairs, band_cols, completed_wm)
            over = over.join(b_att, ["band", "band_sig"], "left")
        wm_tab = _read_index(spark, index_dir, "reconciled")
        if wm_tab is not None:
            stored = (
                wm_tab.where(F.col("config_sig") == cfg_sig)
                .groupBy("band", "band_sig")
                .agg(F.max("watermark").alias("__stored"))
            )
            over = over.join(stored, ["band", "band_sig"], "left")
            active = F.col("__stored").isNull() | (
                F.col("__stored") < F.col("__wm")
            )
            if "__attwm" in over.columns:
                active = active | (
                    F.col("__stored")
                    < F.coalesce(F.col("__attwm"), F.lit(-(1 << 60)))
                )
            over = over.where(active)
    if "__stored" not in over.columns:
        over = over.withColumn("__stored", F.lit(None).cast("long"))
    if "__attwm" not in over.columns:
        over = over.withColumn("__attwm", F.lit(None).cast("long"))
    # the active over-cap bucket set drives the base star candidates, the
    # repair tower's bucket scope, and the watermark write — materialize
    # once
    over = stage(
        over.select("band", "band_sig", "ds", "__wm", "__stored", "__attwm")
    )
    star = F.transform(
        F.slice(F.col("ds"), 2, F.greatest(F.size("ds") - 1, F.lit(0))),
        lambda y: F.struct(F.get(F.col("ds"), 0).alias("doc_a"), y.alias("doc_b")),
    )
    cands = (
        over.select(F.explode(star).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    old_edges = (
        old_pairs.select("doc_a", "doc_b").distinct() if old_pairs is not None else None
    )
    if old_edges is not None:
        cands = cands.join(old_edges, ["doc_a", "doc_b"], "left_anti")
    known_failed = None
    if persist_failures:
        fail_sig = _failure_config_sig(threshold, k)
        failed_tab = _read_index(spark, index_dir, "failed")
        if failed_tab is not None:
            known_failed = (
                failed_tab.where(F.col("config_sig") == fail_sig)
                .select("doc_a", "doc_b")
                .distinct()
            )
            cands = cands.join(known_failed, ["doc_a", "doc_b"], "left_anti")
    repaired = dedup._verify_candidates(
        doc_cols, cands, k=k, threshold=threshold, text_col="text", id_col="doc_id"
    )
    attempted_new = cands  # every candidate exact-verified THIS run
    if repair_hops or fresh_reps_per_bucket:
        # the shared star-repair tower (dedup._star_repair): its hop loop
        # promotes from the ACTIVE buckets only, and its rescue drain
        # starts from them (watermark-skipped ones were already repaired
        # to convergence under this exact settings fingerprint; the drain
        # re-enters them only when this run attaches one of their
        # members). Already verified: this
        # run's base repairs plus every stored pair. Already attempted:
        # the base star candidates, the stored pairs and the persisted
        # failures; failed edges from ORIGINAL per-batch candidate sets
        # are unknown to the index (only successes persist) and may be
        # retried once — wasted verification, never wrong output. The
        # rescue's scoped drain reaches the global fixpoint WITHIN the
        # run (no qualifying untried edge anywhere, the watermark-covered
        # buckets included), which is exactly the batch path's
        # star_rescue_reps fixpoint at the same min_shared_bands — the
        # keep-list equality invariant.
        repaired = stage(repaired)
        verified = repaired.select("doc_a", "doc_b")
        attempted = cands
        if old_edges is not None:
            verified = stage(verified.unionByName(old_edges))
            attempted = attempted.unionByName(old_edges)
        if known_failed is not None:
            attempted = attempted.unionByName(known_failed)
        found, tried = dedup._star_repair(
            doc_cols, band_cols, verified, attempted, max_bucket_size,
            k=k, threshold=threshold, text_col="text", id_col="doc_id",
            hops=repair_hops, reps_per_hop=reps_per_hop,
            rescue_reps=fresh_reps_per_bucket,
            rescue_min_bands=rescue_min_shared_bands,
            scope=over.select("band", "band_sig"),
        )
        repaired = repaired.unionByName(found)
        attempted_new = attempted_new.unionByName(tried)
    pid = reconcile_partition_id(reconcile_id)
    # materialize the return value BEFORE the overwrite: its lineage
    # anti-joins against ALL existing pairs partitions, including the one
    # the dynamic overwrite below replaces — a caller materializing the
    # returned DataFrame afterwards would otherwise re-read a deleted file
    repaired = stage(repaired)
    ghost = None
    if use_watermarks:
        # the GHOST hold (see the watermark write below) is derivation
        # -time state, and it is the LAST consumer of the run's original
        # bands/docs file snapshot — materialize it with the other
        # pre-write state (r11): a compact_index racing this run deletes
        # the snapshot's partition directories after merging them, and a
        # lazy evaluation at watermark-write time would crash on the
        # deleted files (FAILED_READ_FILE) after the pairs already
        # landed — a crash the watermark ordering makes safe but a cron
        # shouldn't pay. Cheap: bucket keys anti-joined on doc ids.
        ghost = stage(
            bands.select("doc_id", "band", "band_sig")
            .join(over.select("band", "band_sig"), ["band", "band_sig"],
                  "left_semi")
            .join(doc_cols.select("doc_id"), "doc_id", "left_anti")
            .select("band", "band_sig")
            .distinct()
        )
    failed_new = None
    if persist_failures:
        # attempted-but-unverified = this run's failures; materialized
        # BEFORE the pairs overwrite for the same reads-what-it-overwrites
        # reason as `repaired` (its lineage anti-joins the pairs table).
        # Only edges whose BOTH endpoints have a doc row may fail: the
        # verification inner-joins per-doc shingle counts, so a pair with
        # an endpoint present in bands/ but missing from docs/ (a crash
        # between update_near_dup_index's bands and docs writes, or a
        # reconcile racing a live micro-batch) is silently DROPPED, not
        # computed — persisting it as a (threshold, k) failure would
        # anti-join it away forever, even after the retry lands the doc
        # text (round-10 ADVICE fix). Such edges stay untried instead —
        # the foreachBatch retry that completes the half-written batch
        # re-derives and verifies them itself (per-batch idempotence),
        # and until then re-proposing them is a few dropped rows per run,
        # never a lost pair.
        doc_ids = doc_cols.select("doc_id")
        failed_new = stage(
            attempted_new.join(
                repaired.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
            )
            .join(
                doc_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
            )
            .join(
                doc_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi"
            )
            .distinct()
        )
    to_write = repaired
    if old_pairs is not None and "batch_id" in old_pairs.columns:
        # keep the prior run's rows for this reconcile_id: the fresh
        # candidates were anti-joined against ALL existing pairs
        # (including this partition), so without this union the dynamic
        # overwrite would silently delete previously repaired pairs on
        # every re-run that follows new ingest. Disjoint by construction
        # (anti-join above), so no dedup needed. Materialized for the same
        # reads-what-it-overwrites reason as `repaired`.
        prior = stage(
            old_pairs.where(F.col("batch_id") == pid).select(*repaired.columns)
        )
        to_write = repaired.unionByName(prior)
    _write_batch(to_write, index_dir, "pairs", pid)
    if persist_failures:
        # after the pairs, before the watermarks: a crash here re-verifies
        # this run's candidates on the next run (watermark not yet
        # advanced) but never skips an unverified edge
        new_fl = failed_new.select(
            "doc_a", "doc_b", F.lit(fail_sig).alias("config_sig")
        )
        failed_tab = _read_index(spark, index_dir, "failed")
        if failed_tab is not None:
            prior_fl = failed_tab.where(F.col("batch_id") == pid).select(
                "doc_a", "doc_b", "config_sig"
            )
            new_fl = new_fl.unionByName(prior_fl).distinct()
        new_fl = stage(new_fl)
        _write_batch(new_fl, index_dir, "failed", pid)
    if use_watermarks:
        # AFTER the pairs land (crash between the writes → re-verify, never
        # skip-with-lost-pairs). Same union-back + overwrite discipline as
        # the pairs partition: prior rows of this partition — every config
        # fingerprint — survive the rewrite, deduped to max per bucket.
        new_wm = over.select(
            "band",
            "band_sig",
            F.lit(cfg_sig).alias("config_sig"),
            # cover BOTH clocks: band rows and incident ingest
            # attachments as of derivation (greatest skips nulls)
            F.greatest(F.col("__wm"), F.col("__attwm")).alias("watermark"),
        )
        # No overflow hold is needed (round-10): the tower's rescue drain
        # above drains to the global fixpoint WITHIN the run (per-round
        # slice overflow feeds the next round's scope), so an advanced
        # watermark genuinely certifies "no qualifying untried edge
        # remains for this bucket as of this attached set"; later
        # attachments re-activate it through the pairs-batch comparison
        # in the activation filter.
        # GHOST hold: a bucket holding a band row whose doc text never
        # landed (crash between update_near_dup_index's bands and docs
        # writes) has edges this run could not verify OR fail — they were
        # silently dropped by the shingle inner-join, and the failure
        # persistence above deliberately excludes them. Advancing the
        # watermark would hide those edges until unrelated new ingest
        # re-activates the bucket; holding it keeps the bucket honestly
        # unreconciled in the gauge. The normal path out is the stream's
        # idempotent retry of the half-written batch (which re-derives and
        # verifies its own candidates AND lands the doc row, clearing the
        # hold); until then each cron run redoes only the ghost edges —
        # everything else is anti-joined away by pairs and failures.
        # (`ghost` was materialized with the pre-write state above.)
        new_wm = new_wm.join(ghost, ["band", "band_sig"], "left_anti")
        wm_tab = _read_index(spark, index_dir, "reconciled")
        if wm_tab is not None:
            prior_wm = wm_tab.where(F.col("batch_id") == pid).select(
                "band", "band_sig", "config_sig", "watermark"
            )
            new_wm = new_wm.unionByName(prior_wm)
        new_wm = stage(
            new_wm.groupBy("band", "band_sig", "config_sig")
            .agg(F.max("watermark").alias("watermark"))
        )
        _write_batch(new_wm, index_dir, "reconciled", pid)
    return repaired


def bucket_stats_frame(
    band_cols: DataFrame, pairs: DataFrame | None, max_bucket_size: int
) -> DataFrame:
    """The gauge's relational core as a one-row DataFrame
    ``(n_over_cap_buckets, n_over_cap_members, n_stranded)`` over a
    bands relation ``(doc_id, band, band_sig)`` and an optional verified
    pairs relation ``(doc_a, doc_b)``. :func:`index_bucket_stats` reads
    these from an index directory; the registry's ``index_bucket_gauge``
    query derives them from the batch pipeline on the documents table so
    the same derivation sits under the DuckDB oracle (r12, VERDICT r11
    task 7). Members/stranded are DISTINCT across buckets (a document in
    two over-cap buckets counts once); the three scalars combine via
    1-row broadcast joins, never a row-level cartesian."""
    over = (
        band_cols.groupBy("band", "band_sig")
        .agg(F.countDistinct("doc_id").alias("__bn"))
        .where(F.col("__bn") > max_bucket_size)
        .select("band", "band_sig")
    )
    members = (
        band_cols.join(over, ["band", "band_sig"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    if pairs is None:
        stranded = members
    else:
        attached = pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        stranded = members.join(attached, "doc_id", "left_anti")
    return (
        over.agg(F.count(F.lit(1)).alias("n_over_cap_buckets"))
        .crossJoin(
            members.agg(F.count(F.lit(1)).alias("n_over_cap_members"))
        )
        .crossJoin(stranded.agg(F.count(F.lit(1)).alias("n_stranded")))
    )


def index_bucket_stats(
    spark: SparkSession,
    index_dir: str,
    max_bucket_size: int,
    reconcile_settings: dict | None = None,
) -> dict[str, int]:
    """Maintenance gauge for a capped index — answers "is a reconcile run
    worth scheduling yet?" without running one:

    - ``n_over_cap_buckets``: band buckets currently above the cap;
    - ``n_over_cap_members``: distinct documents in those buckets;
    - ``n_stranded``: those members with NO verified pair at all — the
      population a :func:`reconcile_capped_buckets` (+ repair hops) run
      would try to link. Late arrivals to over-cap buckets land here
      under ``oversize_policy="drop"``; under ``"star"`` only members
      whose representative edge failed verification (chain shapes).
    - ``n_unreconciled_buckets`` (only when ``reconcile_settings`` is
      given): over-cap buckets a reconcile under those settings would NOT
      skip — no stored watermark under the matching fingerprint, or band
      rows newer than it. Permanently stranded members (every candidate
      edge genuinely below threshold) keep ``n_stranded`` positive
      forever; this column is what actually predicts the next reconcile's
      scope, so :func:`should_reconcile` requires it to be positive when
      present. ``reconcile_settings`` takes the reconcile knobs the cron
      passes to :func:`reconcile_capped_buckets` — ``threshold``, ``k``,
      ``repair_hops``, ``reps_per_hop``, ``fresh_reps_per_bucket``,
      ``rescue_min_shared_bands`` — defaulting to that function's
      defaults; ``max_bucket_size`` is this function's own argument.

    One bucket-keyed aggregate over the bands table and one distinct over
    the pair endpoints — both dimension-of-the-duplicate-population
    sized, far cheaper than the reconcile pass itself. Wire it to a
    watermark via :func:`should_reconcile`."""
    # docs before bands: same read-order invariant as
    # reconcile_capped_buckets — max(docs.batch_id) certifies which pairs
    # batches are complete in the bands snapshot (attachment-clock gate).
    # Only the watermark-aware gauge consumes it; the legacy path skips
    # the extra table listing.
    docs = (
        _read_index(spark, index_dir, "docs")
        if reconcile_settings is not None
        else None
    )
    bands = _read_index(spark, index_dir, "bands")
    if bands is None:
        raise FileNotFoundError(f"no index at {index_dir}")
    band_cols = bands.select("doc_id", "band", "band_sig")
    sizes = bands.groupBy("band", "band_sig").agg(
        F.countDistinct("doc_id").alias("__bn"),
        F.max("batch_id").alias("__wm"),
    )
    over = sizes.where(F.col("__bn") > max_bucket_size)
    n_over = over.count()
    n_unreconciled: int | None = None
    if reconcile_settings is not None:
        s = dict(reconcile_settings)
        cfg_sig = _reconcile_config_sig(
            max_bucket_size,
            s.pop("threshold", 0.8),
            s.pop("k", 3),
            s.pop("repair_hops", 0),
            s.pop("reps_per_hop", 8),
            s.pop("fresh_reps_per_bucket", 64),
            s.pop("rescue_min_shared_bands", 1),
        )
        if s:
            raise ValueError(f"unknown reconcile_settings keys: {sorted(s)}")
        unrec = over
        wm_tab = _read_index(spark, index_dir, "reconciled")
        if wm_tab is not None:
            stored = (
                wm_tab.where(F.col("config_sig") == cfg_sig)
                .groupBy("band", "band_sig")
                .agg(F.max("watermark").alias("__stored"))
            )
            unrec = over.join(stored, ["band", "band_sig"], "left")
            active = F.col("__stored").isNull() | (
                F.col("__stored") < F.col("__wm")
            )
            pairs_tab = _read_index(spark, index_dir, "pairs")
            completed_wm = (
                docs.agg(F.max("batch_id")).first()[0]
                if docs is not None
                else None
            )
            if pairs_tab is not None and completed_wm is not None:
                # same attachment re-activation rule + completed-batch
                # gate as reconcile_capped_buckets — shared derivation,
                # see _gated_attachment_clock
                b_att = _gated_attachment_clock(
                    pairs_tab, band_cols, completed_wm
                )
                unrec = unrec.join(b_att, ["band", "band_sig"], "left")
                active = active | (
                    F.col("__stored")
                    < F.coalesce(F.col("__attwm"), F.lit(-(1 << 60)))
                )
            unrec = unrec.where(active)
        n_unreconciled = unrec.count()
    if n_over == 0:
        stats = {"n_over_cap_buckets": 0, "n_over_cap_members": 0, "n_stranded": 0}
        if n_unreconciled is not None:
            stats["n_unreconciled_buckets"] = 0
        return stats
    pairs = _read_index(spark, index_dir, "pairs")
    row = bucket_stats_frame(
        band_cols,
        None if pairs is None else pairs.select("doc_a", "doc_b"),
        max_bucket_size,
    ).first()
    stats = {
        "n_over_cap_buckets": int(row["n_over_cap_buckets"]),
        "n_over_cap_members": int(row["n_over_cap_members"]),
        "n_stranded": int(row["n_stranded"]),
    }
    if n_unreconciled is not None:
        stats["n_unreconciled_buckets"] = n_unreconciled
    return stats


def should_reconcile(stats: dict[str, int], max_stranded: int = 0) -> bool:
    """Watermark rule for :func:`index_bucket_stats`: reconcile when more
    than ``max_stranded`` over-cap members have no verified pair. Zero is
    the strict setting (any stranded member schedules maintenance); set a
    positive watermark to amortize reconcile cost over more ingest.

    When the stats carry ``n_unreconciled_buckets`` (watermark-aware
    gauge), it must also be positive: members whose every candidate edge
    genuinely fails the threshold stay stranded FOREVER, and without this
    gate a strict cron would schedule a no-op reconcile after every gauge
    once such members exist."""
    if stats["n_stranded"] <= max_stranded:
        return False
    if "n_unreconciled_buckets" in stats:
        return stats["n_unreconciled_buckets"] > 0
    return True


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _delete_old_batch_dirs(
    spark: SparkSession,
    index_dir: str,
    sub: str,
    upto_batch: int,
    keep: tuple[int, ...] = (),
) -> int:
    """Remove ``batch_id=b`` partition directories with b < upto_batch via
    the Hadoop FileSystem API (works on HDFS/S3/local alike). ``keep``
    exempts specific ids — compaction's own negative merge target for
    the pairs table sorts below every original partition."""
    fs, jpath, jvm = _hadoop_fs(spark, _part_path(index_dir, sub))
    if not fs.exists(jpath):
        return 0
    removed = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if b < upto_batch and b not in keep:
            fs.delete(st.getPath(), True)
            removed += 1
    return removed


def compact_index(
    spark: SparkSession,
    index_dir: str,
    upto_batch: int,
    target_partitions: int | None = None,
) -> dict[str, int]:
    """Merge every ``batch_id <= upto_batch`` partition of the three index
    sub-tables into the single ``batch_id=upto_batch`` partition — the
    small-file / partition-explosion fix after hundreds of micro-batches
    (one directory + O(shuffle.partitions) files per batch otherwise).
    Returns {sub: partitions_removed}.

    Only compact batches that can no longer be RETRIED (i.e. committed in
    the stream's checkpoint): a foreachBatch retry of a compacted batch id
    would dynamic-overwrite the merged partition with just that batch's
    rows and lose the rest. ``upto_batch`` strictly below the last
    committed batch is always safe.

    Crash safety, by construction rather than coordination:
    1. the merged rows are first written OUTSIDE the readable tables, to
       ``<index_dir>/.compact_tmp/<sub>`` (dot-prefixed → invisible to
       Spark's file listing), so readers never see a half-written merge
       and the dynamic overwrite in step 2 never reads the path it writes;
    2. the merge lands via dynamic partition overwrite of the single
       ``batch_id=upto_batch`` partition — older partitions untouched;
    3. old partition directories are deleted one by one.
    Dying between 2 and 3 leaves duplicate rows (a batch present both
    merged and original) — harmless to every consumer (bucket sizes use
    countDistinct, candidates/pairs are distinct'd, the keep list
    distinct's pairs) — and re-running the compaction converges because
    the merge dedupes: docs by doc_id, bands and pairs by full row.
    Keep-list equality across compaction is pinned by test.

    The ``reconciled/`` watermark and ``failed/`` failure side tables ARE
    compacted too (round-10): a cron that keeps one reconcile_id forever
    holds a single partition each, but the in-stream maintenance path
    uses ``reconcile_id=batch_id`` — one negative partition per
    triggering micro-batch — and the failed table's rows grow
    monotonically with every run (failures are immutable facts that are
    never deleted, only deduplicated). Their rows merge into the same
    ``batch_id=upto_batch`` partition as the main tables — reconcile
    runs only ever dynamic-overwrite their own NEGATIVE partition, so a
    non-negative merge partition can never be clobbered — deduplicated
    by full row (failed) / max watermark per bucket+fingerprint
    (reconciled). Skip-reverification behavior is preserved: the
    reconcile reads these tables across ALL partitions (pinned by test).
    Rewriting bands to ``batch_id=upto_batch`` raises every bucket's max
    band batch_id past its stored watermark, so the next reconcile
    conservatively re-verifies every over-cap bucket's candidate set
    once — wasteful, never wrong (pinned by test) — and the compacted
    failures are exactly what keeps that conservative pass cheap.

    The PAIRS table's negative (repair) partitions merge into their own
    single NEGATIVE partition, ``reconcile_partition_id(upto_batch)``,
    never the non-negative merge target (round-11): the attachment
    clock in :func:`reconcile_capped_buckets` / :func:`index_bucket_stats`
    reads non-negative pairs batch_ids as ingest attachments, so folding
    repair pairs into ``batch_id=upto_batch`` would count every past
    repair as fresh ingest and pile a second cause onto the
    post-compaction conservative pass. A later reconcile whose id maps
    to the merged partition simply unions the merged rows back (the
    standard re-run discipline above), so the merge is never lost."""
    tmp_root = os.path.join(index_dir, ".compact_tmp")
    removed: dict[str, int] = {}
    dedupe_keys = {"docs": ["doc_id"], "bands": None, "pairs": None,
                   "failed": None}
    for sub in (*_SUBDIRS, "failed", "reconciled"):
        df = _read_index(spark, index_dir, sub)
        if df is None:
            removed[sub] = 0
            continue
        keep_dirs: tuple[int, ...] = ()
        sel = F.col("batch_id") <= upto_batch
        if sub == "pairs":
            # repair pairs stay NEGATIVE (docstring): merge every
            # negative partition into reconcile_partition_id(upto_batch)
            # so they never enter the ingest attachment clock
            sel = sel & (F.col("batch_id") >= 0)
            neg_pid = reconcile_partition_id(upto_batch)
            neg = df.where(F.col("batch_id") < 0).drop("batch_id").distinct()
            if target_partitions:
                neg = neg.coalesce(target_partitions)
            # stage to tmp FIRST, probe the staged result: the merge's
            # union+distinct over every negative partition runs exactly
            # once (an emptiness probe on `neg` itself would execute the
            # whole plan a second time for the write)
            tmp_neg = os.path.join(tmp_root, sub + "_neg")
            neg.write.mode("overwrite").parquet(tmp_neg)
            merged_neg = spark.read.schema(neg.schema).parquet(tmp_neg)
            if merged_neg.head(1):
                _write_batch(merged_neg, index_dir, sub, neg_pid)
                keep_dirs = (neg_pid,)
        old = df.where(sel).drop("batch_id")
        if sub == "reconciled":
            # one row per bucket+fingerprint, keeping the max watermark —
            # the exact value every reconcile's skip check aggregates to
            old = old.groupBy("band", "band_sig", "config_sig").agg(
                F.max("watermark").alias("watermark")
            )
        else:
            keys = dedupe_keys[sub]
            old = old.dropDuplicates(keys) if keys else old.distinct()
        if target_partitions:
            old = old.coalesce(target_partitions)
        tmp = os.path.join(tmp_root, sub)
        old.write.mode("overwrite").parquet(tmp)
        # explicit schema, symmetric with the negative-merge branch: the
        # staged frame can be legitimately EMPTY (e.g. every pair row in
        # negative reconcile partitions now that repair pairs are
        # excluded from `old`), and an empty read-back must not depend
        # on Spark having written a schema-bearing file (r12 ADVICE).
        merged = spark.read.schema(old.schema).parquet(tmp)
        if sub in ("docs", "bands") or merged.head(1):
            # docs/bands are always written — their presence is the
            # "index exists" marker (keep_list_from_index and
            # reconcile_capped_buckets raise on absence); the optional
            # subs simply vanish when empty, which every reader already
            # handles (_read_index -> None)
            _write_batch(merged, index_dir, sub, upto_batch)
        removed[sub] = _delete_old_batch_dirs(
            spark, index_dir, sub, upto_batch, keep=keep_dirs
        )
    fs, jpath, _ = _hadoop_fs(spark, tmp_root)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    return removed


def keep_list_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, canonical_id, is_kept) over every indexed document —
    connected components (min member id) of the accumulated verified
    pairs; untouched documents keep themselves. Identical contract to
    ``dedup.near_dup_keep_list`` on the accumulated corpus."""
    docs = _read_index(spark, index_dir, "docs")
    if docs is None:
        raise FileNotFoundError(f"no index at {index_dir}")
    pairs = _read_index(spark, index_dir, "pairs")
    # distinct: a compaction interrupted between its merged write and its
    # old-partition deletes legitimately leaves duplicate doc rows (see
    # compact_index crash-safety note); the keep list must stay one row
    # per document regardless. Partial agg makes this near-free.
    out = docs.select("doc_id").distinct()
    if pairs is None or not pairs.head(1):
        return out.select(
            "doc_id",
            F.col("doc_id").alias("canonical_id"),
            F.lit(True).alias("is_kept"),
        )
    comp = dedup.connected_components(pairs.select("doc_a", "doc_b").distinct())
    joined = out.join(comp, out.doc_id == comp.node, "left")
    canonical = F.coalesce(F.col("component"), F.col("doc_id"))
    return joined.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (canonical == F.col("doc_id")).alias("is_kept"),
    )


def keep_best_from_index(
    spark: SparkSession,
    index_dir: str,
    quality: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keep list over the accumulated index — the
    incremental twin of ``dedup.near_dup_keep_best``: clusters are the
    connected components of the index's verified pairs (canonical_id =
    min member, the stable cluster key), but the KEPT member is the
    cluster's highest-``quality_col`` row from the supplied ``quality``
    relation (doc-id ascending tie-break). The index stores only
    (doc_id, text), so quality rides in as a side table — typically the
    same ingest metadata that fed the stream. Documents missing from
    ``quality`` rank below every scored member (quality −∞) but are
    still listed; a document with MULTIPLE quality rows scores as their
    max (the side table is aggregated to one row per doc_id before the
    join, so duplicate metadata can never fan the keep list out past one
    row per document). Output: (doc_id, canonical_id, is_kept, kept_id)
    — identical contract to the batch operator, pinned by an equality
    test on the accumulated corpus."""
    docs = _read_index(spark, index_dir, "docs")
    if docs is None:
        raise FileNotFoundError(f"no index at {index_dir}")
    pairs = _read_index(spark, index_dir, "pairs")
    out = docs.select("doc_id").distinct()  # compaction-crash duplicates
    if pairs is None:
        comp = None
    else:
        comp = dedup.connected_components(
            pairs.select("doc_a", "doc_b").distinct()
        )
    q = (
        quality.select(
            F.col(id_col).alias("doc_id"),
            F.col(quality_col).cast("double").alias("__q"),
        )
        # one row per doc_id (max quality): a duplicate-keyed side table
        # must not fan out the left join below — the batch operator
        # guarantees one output row per document and so do we
        .groupBy("doc_id")
        .agg(F.max("__q").alias("__q"))
    )
    base = out.join(q, "doc_id", "left")
    if comp is not None:
        base = base.join(comp, base.doc_id == comp.node, "left")
        canonical = F.coalesce(F.col("component"), F.col("doc_id"))
    else:
        canonical = F.col("doc_id")
    scored = base.select(
        "doc_id",
        F.coalesce(F.col("__q"), F.lit(float("-inf"))).alias("__q"),
        canonical.alias("canonical_id"),
    )
    best = (
        scored.groupBy("canonical_id")
        .agg(
            F.min(F.struct((-F.col("__q")).alias("nq"), F.col("doc_id").alias("d")))
            .alias("__b")
        )
        .select("canonical_id", F.col("__b.d").alias("kept_id"))
    )
    return scored.join(best, "canonical_id").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") == F.col("kept_id")).alias("is_kept"),
        "kept_id",
    )


def incremental_near_dup_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    reconcile_every: int | None = None,
    reconcile_repair_hops: int = 0,
    reconcile_max_stranded: int = 0,
    reconcile_fresh_reps_per_bucket: int = 64,
    reconcile_rescue_min_bands: int = 1,
) -> DataStreamWriter:
    """foreachBatch wrapper: each micro-batch of newly ingested documents
    updates the index via :func:`update_near_dup_index`. Combine with
    ``trigger(availableNow=True)`` for catch-up runs; the per-batch
    dynamic-partition writes make retries idempotent.

    ``reconcile_every`` (requires ``max_bucket_size``) schedules the
    capped-bucket maintenance INSIDE the stream: after every N-th batch
    the :func:`index_bucket_stats` gauge runs, and when more than
    ``reconcile_max_stranded`` over-cap members are pair-less,
    :func:`reconcile_capped_buckets` repairs them (with
    ``reconcile_repair_hops``). The reconcile run uses
    ``reconcile_id=batch_id``, so a foreachBatch RETRY re-runs the same
    idempotent reconcile at the same (negative) partition, and distinct
    trigger batches never collide. The gauge is watermark-aware (it
    passes this stream's reconcile settings), so members that stay
    stranded after a converged reconcile — every candidate edge genuinely
    below threshold — do not re-schedule a no-op repair on every N-th
    batch. Leave it ``None`` to run maintenance out-of-band (the CLI's
    NEAR_DUP_INDEX_STATS / _RECONCILE pair)."""
    if reconcile_every is not None and max_bucket_size is None:
        raise ValueError("reconcile_every requires max_bucket_size")

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_near_dup_index(
            batch_df.sparkSession,
            batch_df,
            index_dir,
            batch_id,
            threshold=threshold,
            k=k,
            num_perms=num_perms,
            rows_per_band=rows_per_band,
            text_col=text_col,
            id_col=id_col,
            max_bucket_size=max_bucket_size,
            oversize_policy=oversize_policy,
        )
        if reconcile_every is not None and (batch_id + 1) % reconcile_every == 0:
            # watermark-aware gauge under the exact settings the reconcile
            # below would run with: permanently stranded members (every
            # candidate edge genuinely below threshold) stop scheduling
            # no-op maintenance once their buckets are reconciled
            stats = index_bucket_stats(
                batch_df.sparkSession,
                index_dir,
                max_bucket_size,
                reconcile_settings={
                    "threshold": threshold,
                    "k": k,
                    "repair_hops": reconcile_repair_hops,
                    "fresh_reps_per_bucket": reconcile_fresh_reps_per_bucket,
                    "rescue_min_shared_bands": reconcile_rescue_min_bands,
                },
            )
            if should_reconcile(stats, reconcile_max_stranded):
                reconcile_capped_buckets(
                    batch_df.sparkSession,
                    index_dir,
                    max_bucket_size,
                    threshold=threshold,
                    k=k,
                    reconcile_id=batch_id,
                    repair_hops=reconcile_repair_hops,
                    fresh_reps_per_bucket=reconcile_fresh_reps_per_bucket,
                    rescue_min_shared_bands=reconcile_rescue_min_bands,
                )

    return (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
