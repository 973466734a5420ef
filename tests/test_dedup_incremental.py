"""Incremental near-dup index (streaming twin of the batch dedup family):
batch-vs-incremental keep-list equivalence on a two-batch corpus, retry
idempotency, and the foreachBatch stream wrapper."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from translator_tm_provider_pipelines_spark.operators import dedup
from translator_tm_provider_pipelines_spark.streaming import dedup_index as di

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest where nobody ever goes at night"
)
ROWS_B1 = [
    (1, BASE),
    (2, BASE + " extra"),          # near-dup of 1
    (3, "completely different text about spark shuffles and parquet files "
        "with predicate pushdown and column pruning everywhere always"),
]
ROWS_B2 = [
    (4, BASE + " tail"),           # near-dup of 1/2, arrives later
    (5, "yet another unrelated document mentioning window functions joins "
        "aggregations and broadcast hash tables in great detail today"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_incremental_equals_batch_keep_list(spark, tmp_path):
    idx = str(tmp_path / "idx")
    p1 = di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0)
    assert p1.count() >= 1  # 1-2 verified within batch 1
    p2 = di.update_near_dup_index(spark, _df(spark, ROWS_B2), idx, batch_id=1)
    # the late arrival links to BOTH earlier cluster members
    linked = {(r.doc_a, r.doc_b) for r in p2.collect()}
    assert (1, 4) in linked and (2, 4) in linked

    inc = {
        (r.doc_id, r.canonical_id, r.is_kept)
        for r in di.keep_list_from_index(spark, idx).collect()
    }
    batch = {
        (r.doc_id, r.canonical_id, r.is_kept)
        for r in dedup.near_dup_keep_list(_df(spark, ROWS_B1 + ROWS_B2)).collect()
    }
    assert inc == batch
    # accumulated pairs equal the single-batch pair set too
    inc_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.read.parquet(f"{idx}/pairs").select(
            "doc_a", "doc_b", "jaccard"
        ).collect()
    }
    batch_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.near_duplicates(_df(spark, ROWS_B1 + ROWS_B2)).collect()
    }
    assert inc_pairs == batch_pairs


@pytest.mark.slow
def test_incremental_batch_retry_idempotent(spark, tmp_path):
    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0)
    before = sorted(
        map(tuple, di.keep_list_from_index(spark, idx).collect())
    )
    # foreachBatch retry: same batch_id re-runs, dynamic partition
    # overwrite must leave the index unchanged (no duplicated rows)
    di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0)
    after = sorted(map(tuple, di.keep_list_from_index(spark, idx).collect()))
    assert before == after
    assert spark.read.parquet(f"{idx}/docs").count() == len(ROWS_B1)


def test_incremental_near_dup_stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _df(spark, ROWS_B1).coalesce(1).write.parquet(str(src / "b1"))
    _df(spark, ROWS_B2).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    idx = str(tmp_path / "idx")
    q = di.incremental_near_dup_stream(
        stream, idx, str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    keep = {
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    }
    assert keep == {(1, 1), (2, 1), (3, 3), (4, 1), (5, 5)}


def test_near_dup_index_cli(spark, tmp_path):
    from translator_tm_provider_pipelines_spark import cli

    _df(spark, ROWS_B1).write.parquet(str(tmp_path / "b1"))
    _df(spark, ROWS_B2).write.parquet(str(tmp_path / "b2"))
    idx = str(tmp_path / "idx")
    for i, b in enumerate(("b1", "b2")):
        cli.main(
            [
                "NEAR_DUP_INDEX_UPDATE",
                "--newDocs", str(tmp_path / b),
                "--indexDir", idx,
                "--batchId", str(i),
            ]
        )
    cli.main(
        ["NEAR_DUP_KEEP_LIST", "--indexDir", idx, "--output", str(tmp_path / "keep")]
    )
    keep = {
        (r.doc_id, r.canonical_id)
        for r in spark.read.parquet(str(tmp_path / "keep")).collect()
    }
    assert keep == {(1, 1), (2, 1), (3, 3), (4, 1), (5, 5)}


def test_update_pairs_plan_reads_staged_bands_and_candidates(
    spark, tmp_path, monkeypatch
):
    """The batch's band rows and its distinct candidates are staged once:
    the pairs write of a later batch must neither re-derive band rows
    (posexplode) nor rescan the old band table. Unstaged, Catalyst copies
    both subplans into every branch that reads them (15 posexplodes and
    10 bands scans on this fixture)."""
    idx = str(tmp_path / "idx")
    plans = {}
    write = di._write_batch

    def capture(df, index_dir, sub, batch_id):
        if sub == "pairs":
            plans[batch_id] = df._jdf.queryExecution().executedPlan().toString()
        write(df, index_dir, sub, batch_id)

    monkeypatch.setattr(di, "_write_batch", capture)
    for bi, rows in enumerate((ROWS_B1, ROWS_B2)):
        di.update_near_dup_index(
            spark, _df(spark, rows), idx, batch_id=bi,
            max_bucket_size=2, oversize_policy="star",
        )
    plan = plans[1]
    assert "posexplode" not in plan
    assert f"{idx}/bands" not in plan
    # the staged frames still feed a correct verify: 4 links to 1 and 2
    linked = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(f"{idx}/pairs").where("batch_id = 1").collect()
    }
    assert (1, 4) in linked


def test_update_durable_staging_and_retry_match_local(spark, tmp_path, capsys):
    """NEAR_DUP_INDEX_UPDATE stages the batch's bands and candidates
    through functions/staging.stage: with --stagingDir they land as
    parquet under it, and the index tables and printed counts equal a
    localCheckpoint run's. A retried --batchId prints the same count and
    leaves every table unchanged (dynamic partition overwrite)."""
    import os

    from translator_tm_provider_pipelines_spark import cli

    batches = []
    for b, rows in enumerate((ROWS_B1, ROWS_B2)):
        path = str(tmp_path / f"b{b}")
        _df(spark, rows).write.parquet(path)
        batches.append(path)
    sdir = str(tmp_path / "staging")

    def update(idx, bi, *extra):
        cli.main([
            "NEAR_DUP_INDEX_UPDATE", "--newDocs", batches[bi], "--indexDir", idx,
            "--batchId", str(bi), "--maxBucketSize", "2",
            "--oversizePolicy", "star", *extra,
        ])
        return capsys.readouterr().out

    def tables(idx):
        return {
            sub: sorted(map(tuple, spark.read.parquet(f"{idx}/{sub}").collect()))
            for sub in ("pairs", "bands", "docs")
        }

    local, durable = str(tmp_path / "local"), str(tmp_path / "durable")
    local_out = [update(local, bi) for bi in range(2)]
    durable_out = [update(durable, bi, "--stagingDir", sdir) for bi in range(2)]
    assert durable_out == local_out
    # star over the capped 3-member bucket: only the representative edge 1-4
    assert "batch 1: 1 new verified pairs" in local_out[1]
    before = tables(durable)
    assert before == tables(local)
    staged = [
        name
        for d in os.listdir(sdir)
        for name in os.listdir(os.path.join(sdir, d))
        if name.endswith(".parquet")
    ]
    assert staged

    assert update(durable, 1, "--stagingDir", sdir) == durable_out[1]
    assert tables(durable) == before


@pytest.mark.slow
def test_incremental_equals_batch_random_splits(spark, tmp_path):
    """Property: for ANY partition of the corpus into ordered batches, the
    incremental index keep list equals the single-batch keep list (pair
    materialization is split-invariant: a pair lands in the batch of its
    later member). Three deterministic splits of a 12-doc corpus with two
    planted clusters and background docs."""
    base1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon")
    base2 = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    rows = [
        (1, base1), (2, base1 + " phi"), (3, base1 + " chi"),
        (4, base2), (5, base2 + " nineteen"),
        (6, "totally unrelated document about parquet files and shuffles"),
        (7, "another singleton document mentioning broadcast joins only"),
        (8, base1 + " psi"), (9, base2 + " twenty"),
        (10, "third unrelated text on window functions and sorting"),
        (11, base1 + " omega"), (12, base2 + " twentyone"),
    ]
    batch_expected = sorted(
        map(tuple, dedup.near_dup_keep_list(_df(spark, rows)).collect())
    )
    splits = [
        [rows[:4], rows[4:8], rows[8:]],
        [rows[:1], rows[1:2], rows[2:7], rows[7:]],
        [rows[:6], rows[6:]],
    ]
    for si, split in enumerate(splits):
        idx = str(tmp_path / f"idx{si}")
        for bi, batch in enumerate(split):
            di.update_near_dup_index(spark, _df(spark, batch), idx, batch_id=bi)
        inc = sorted(
            map(tuple, di.keep_list_from_index(spark, idx).collect())
        )
        assert inc == batch_expected, f"split {si} diverged"


def test_read_index_missing_path_is_first_batch(spark, tmp_path):
    assert di._read_index(spark, str(tmp_path / "nonexistent"), "bands") is None


def test_read_index_corrupt_table_raises(spark, tmp_path):
    """A readable-but-broken index must FAIL the batch (so the streaming
    retry re-runs it), never masquerade as 'first batch': a pair only
    materializes in the batch of its later member, so treating a corrupt
    index as empty silently and permanently drops every new-vs-old pair."""
    import pytest

    idx = tmp_path / "idx"
    bands = idx / "bands" / "batch_id=0"
    bands.mkdir(parents=True)
    (bands / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        df = di._read_index(spark, str(idx), "bands")
        assert df is not None  # must not be mistaken for 'first batch'
        df.collect()  # if schema inference deferred, the read must fail


def _keep(spark, idx):
    return sorted(map(tuple, di.keep_list_from_index(spark, idx).collect()))


def _batch_dirs(idx, sub):
    import os

    p = os.path.join(idx, sub)
    return sorted(
        d for d in os.listdir(p) if d.startswith("batch_id=")
    )


def test_compact_index_preserves_keep_list_and_merges_partitions(
    spark, tmp_path
):
    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0)
    di.update_near_dup_index(spark, _df(spark, ROWS_B2), idx, batch_id=1)
    di.update_near_dup_index(
        spark, _df(spark, [(6, BASE + " coda"), (7, "lone doc")]), idx, batch_id=2
    )
    before = _keep(spark, idx)
    removed = di.compact_index(spark, idx, upto_batch=2, target_partitions=1)
    assert removed == {"bands": 2, "docs": 2, "pairs": 2,
                       "failed": 0, "reconciled": 0}
    for sub in ("bands", "docs", "pairs"):
        assert _batch_dirs(idx, sub) == ["batch_id=2"], sub
    assert _keep(spark, idx) == before
    # the index keeps absorbing batches after compaction
    di.update_near_dup_index(
        spark, _df(spark, [(8, BASE + " fin")]), idx, batch_id=3
    )
    keep = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep[8] == 1  # new arrival joins the old cluster via merged bands


def test_compact_index_converges_after_partial_failure(spark, tmp_path):
    """Crash window between the merged write and the old-partition deletes
    leaves duplicate rows; consumers are unaffected and re-running the
    compaction converges to the clean single-partition state."""
    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0)
    di.update_near_dup_index(spark, _df(spark, ROWS_B2), idx, batch_id=1)
    clean = _keep(spark, idx)

    # simulate the crash: do the merge+overwrite by hand, skip the deletes
    for sub in ("bands", "docs", "pairs"):
        df = spark.read.parquet(f"{idx}/{sub}")
        merged = df.where(F.col("batch_id") <= 1).drop("batch_id")
        merged.write.mode("overwrite").parquet(str(tmp_path / f"tmp_{sub}"))
        di._write_batch(
            spark.read.parquet(str(tmp_path / f"tmp_{sub}")), idx, sub, 1
        )
    # duplicates now present (batch 0 rows live in batch_id=0 AND =1) …
    assert spark.read.parquet(f"{idx}/docs").count() > len(ROWS_B1 + ROWS_B2)
    # … but the keep list is unchanged
    assert _keep(spark, idx) == clean
    # re-run converges: single partition, exact row counts, same keep list
    di.compact_index(spark, idx, upto_batch=1, target_partitions=1)
    assert _batch_dirs(idx, "docs") == ["batch_id=1"]
    assert spark.read.parquet(f"{idx}/docs").count() == len(ROWS_B1 + ROWS_B2)
    assert _keep(spark, idx) == clean


def test_compact_index_cli(spark, tmp_path):
    from translator_tm_provider_pipelines_spark import cli

    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0)
    di.update_near_dup_index(spark, _df(spark, ROWS_B2), idx, batch_id=1)
    before = _keep(spark, idx)
    cli.run_near_dup_index_compact(
        spark, ["--indexDir", idx, "--uptoBatch", "1", "--targetPartitions", "1"]
    )
    assert _batch_dirs(idx, "pairs") == ["batch_id=1"]
    assert _keep(spark, idx) == before


def test_reconcile_capped_buckets_restores_star_keep_list(spark, tmp_path):
    """A 6-member cluster arrives 2-at-a-time with max_bucket_size=3: the
    bucket crosses the cap at batch 1, so members 3-6 get no edges from
    the per-batch guard. reconcile_capped_buckets re-stars the over-cap
    bucket and restores keep-list equality with BOTH the batch star path
    and the uncapped run (single tight cluster: star reaches everyone)."""
    # identical texts: every band bucket is the FULL cluster, so once the
    # bucket crosses the cap there is no under-cap sub-bucket left to
    # sneak late pairs through (suffix-variant texts split into small
    # per-band sub-buckets and dodge the guard)
    cluster = [(i, BASE) for i in range(1, 7)]
    lone = [(9, "entirely different text on broadcast joins and windows "
                "with aggregates sorting and shuffle partitions")]
    rows = cluster + lone
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2] + (lone if bi == 0 else [])),
            idx, batch_id=bi, max_bucket_size=3,
        )
    # divergence before reconcile: late members are singletons
    keep0 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep0[2] == 1 and keep0[9] == 9
    assert any(keep0[d] == d for d in (3, 4, 5, 6))  # stranded late arrivals

    repaired = di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    assert repaired.count() >= 1
    inc = _keep(spark, idx)
    star = sorted(map(tuple, dedup.near_dup_keep_list(
        _df(spark, rows), max_bucket_size=3, oversize_policy="star"
    ).collect()))
    uncapped = sorted(map(tuple, dedup.near_dup_keep_list(_df(spark, rows)).collect()))
    assert inc == star == uncapped
    # repaired pairs live in the NEGATIVE id space — a resumed stream's
    # monotonically increasing epoch ids can never overwrite them
    import os

    assert "batch_id=-1" in os.listdir(f"{idx}/pairs")
    # idempotent: a re-run (same reconcile_id) adds nothing and changes nothing
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    assert _keep(spark, idx) == inc
    # the stream keeps absorbing batches after a reconcile: a batch at the
    # next epoch id must NOT land on (or clobber) the repair partition
    di.update_near_dup_index(
        spark, _df(spark, [(20, BASE), (21, BASE)]), idx, batch_id=3,
        max_bucket_size=3,
    )
    assert "batch_id=-1" in os.listdir(f"{idx}/pairs")
    keep2 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep2[6] == 1  # repaired link survived the new batch


def test_reconcile_cli(spark, tmp_path):
    from translator_tm_provider_pipelines_spark import cli

    cluster = [(i, BASE) for i in range(1, 6)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 5, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=2,
        )
    cli.main([
        "NEAR_DUP_INDEX_RECONCILE", "--indexDir", idx,
        "--maxBucketSize", "2",
    ])
    keep = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert all(keep[d] == 1 for d in range(1, 6))


@pytest.mark.slow
def test_incremental_star_policy_matches_batch_star(spark, tmp_path):
    """oversize_policy='star' in the incremental guard: a 6-member
    identical-text cluster arriving 2-at-a-time with cap 3 keeps linking
    late arrivals through the bucket representative — keep list equals
    the batch star path (and the uncapped run, single tight cluster)
    WITHOUT a reconcile pass, for representative-first, -last, and
    mid-stream arrival orders."""
    rows = [(i, BASE) for i in range(1, 7)] + [
        (9, "entirely different text on broadcast joins and windows "
            "with aggregates sorting and shuffle partitions")
    ]
    batch_star = sorted(map(tuple, dedup.near_dup_keep_list(
        _df(spark, rows), max_bucket_size=3, oversize_policy="star"
    ).collect()))
    uncapped = sorted(map(tuple, dedup.near_dup_keep_list(_df(spark, rows)).collect()))
    assert batch_star == uncapped

    orders = {
        "rep_first": [1, 2, 3, 4, 5, 6, 9],
        "rep_last": [9, 6, 5, 4, 3, 2, 1],
        "rep_mid": [4, 5, 2, 6, 9, 1, 3],
    }
    by_id = dict(rows)
    for label, order in orders.items():
        idx = str(tmp_path / f"idx_{label}")
        seq = [(d, by_id[d]) for d in order]
        for bi, lo in enumerate(range(0, len(seq), 2)):
            di.update_near_dup_index(
                spark, _df(spark, seq[lo:lo + 2]), idx, batch_id=bi,
                max_bucket_size=3, oversize_policy="star",
            )
        assert _keep(spark, idx) == batch_star, label


def test_incremental_star_policy_caps_candidates(spark, tmp_path):
    """The star guard still bounds candidate volume: non-representative
    pairs inside an over-cap bucket are NOT emitted (only rep-incident
    edges land in the new batch's pairs)."""
    rows = [(i, BASE) for i in range(1, 6)]
    idx = str(tmp_path / "idx")
    di.update_near_dup_index(
        spark, _df(spark, rows[:4]), idx, batch_id=0,
        max_bucket_size=2, oversize_policy="star",
    )
    p1 = di.update_near_dup_index(
        spark, _df(spark, rows[4:]), idx, batch_id=1,
        max_bucket_size=2, oversize_policy="star",
    )
    got = {(r.doc_a, r.doc_b) for r in p1.collect()}
    assert got == {(1, 5)}  # rep edge only, not 2-5/3-5/4-5


def test_empty_pairs_index_reads_as_no_duplicates(spark, tmp_path):
    """Batches with ZERO verified pairs leave pairs/ as a directory with
    no data files (Spark's empty partitioned write still creates the
    path); every index consumer must treat that as a legitimately empty
    pair set, not crash on UNABLE_TO_INFER_SCHEMA."""
    idx = str(tmp_path / "idx")
    rows = [
        (1, "first singleton document about broadcast joins and shuffles "
            "in distributed query engines with columnar storage"),
        (2, "second entirely unrelated text covering window functions and "
            "partition pruning across large parquet tables"),
    ]
    di.update_near_dup_index(spark, _df(spark, rows[:1]), idx, batch_id=0)
    di.update_near_dup_index(spark, _df(spark, rows[1:]), idx, batch_id=1)
    import os

    assert os.path.isdir(f"{idx}/pairs")  # the empty table exists on disk
    assert di._read_index(spark, idx, "pairs") is None
    keep = {(r.doc_id, r.canonical_id, r.is_kept)
            for r in di.keep_list_from_index(spark, idx).collect()}
    assert keep == {(1, 1, True), (2, 2, True)}
    # reconcile over a pair-less index must not crash either
    out = di.reconcile_capped_buckets(spark, idx, max_bucket_size=1)
    assert out.count() == 0


def test_empty_pairs_index_cli_counts_zero(spark, tmp_path, capsys):
    from translator_tm_provider_pipelines_spark import cli

    _df(spark, [(1, "a lone document with no duplicate anywhere in sight "
                    "discussing adaptive query execution")]).write.parquet(
        str(tmp_path / "b1")
    )
    idx = str(tmp_path / "idx")
    cli.main([
        "NEAR_DUP_INDEX_UPDATE", "--newDocs", str(tmp_path / "b1"),
        "--indexDir", idx, "--batchId", "0",
    ])
    assert "0 new verified pairs" in capsys.readouterr().out


@pytest.mark.slow
def test_incremental_repair_hops_match_batch_star_repaired(spark, tmp_path):
    """VERDICT r6 task 2: the index-mode analogue of star second-hop
    repair. A CHAIN-shaped cluster (cumulative word drift, same fixture
    family as tests/test_dedup_star_repair.py) grows past the cap across
    batches; the stranded far member has no repair path through the base
    reconcile (its edge to the bucket representative fails verification),
    but converged repair hops reattach it through its genuine neighbor —
    keep list ≡ the batch near_duplicates(star_repair_hops=-1) path."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu amber birch cedar dune "
        "ember fjord grove heath iris jade knoll lotus maple nectar "
        "onyx pearl quartz reef slate topaz umber vale willow zenith "
        "arbor basin cliff ridge marsh glen fen moor crag peak"
    ).split()
    repl = "one two three four five six seven eight nine ten".split()
    rows = [(i, " ".join(repl[: 2 * i] + base[2 * i:])) for i in range(5)]
    lsh = dict(threshold=0.85, k=3, num_perms=8, rows_per_band=1)

    batch_repaired = sorted(map(tuple, dedup.near_dup_keep_list(
        _df(spark, rows), max_bucket_size=2, oversize_policy="star",
        star_repair_hops=-1, **lsh,
    ).collect()))

    idx = str(tmp_path / "idx")
    for bi, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        di.update_near_dup_index(
            spark, _df(spark, batch), idx, batch_id=bi,
            max_bucket_size=2, **lsh,
        )
    # base reconcile with hops AND rescue disabled strands the far chain
    # member: its star edge to the bucket representative fails
    # exact-Jaccard verification (diagnostic control — watermarks off so
    # this run does not consume the re-activation the repair run needs,
    # which also disables failure persistence at the CLI level; here the
    # library default persist_failures=True is fine, failed edges are
    # immutable facts)
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3, reconcile_id=0,
        fresh_reps_per_bucket=0, use_watermarks=False,
    )
    keep0 = dict((r.doc_id, r.canonical_id)
                 for r in di.keep_list_from_index(spark, idx).collect())
    assert keep0[4] == 4  # still a singleton without repair hops or rescue
    # converged repair hops reattach it — full keep-list parity with the
    # batch star_repair_hops=-1 run. (r10: the default untried-member
    # rescue would reattach it even WITHOUT hops; hops are kept here to
    # pin the hop path itself.)
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3,
        reconcile_id=1, repair_hops=-1,
    )
    assert _keep(spark, idx) == batch_repaired
    # idempotent re-run of the repair reconcile
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3,
        reconcile_id=1, repair_hops=-1,
    )
    assert _keep(spark, idx) == batch_repaired


@pytest.mark.slow
def test_index_bucket_stats_watermark(spark, tmp_path, capsys):
    """index_bucket_stats + should_reconcile: the maintenance gauge counts
    over-cap buckets and stranded (pair-less) members; a reconcile run
    drains the stranded population and the watermark stops tripping."""
    cluster = [(i, BASE) for i in range(1, 7)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=3,
        )
    stats = di.index_bucket_stats(spark, idx, max_bucket_size=3)
    assert stats["n_over_cap_buckets"] >= 1
    assert stats["n_over_cap_members"] == 6
    assert stats["n_stranded"] == 4  # batches 2-3 arrived after the cap
    assert di.should_reconcile(stats)
    assert not di.should_reconcile(stats, max_stranded=4)  # amortizing watermark

    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    after = di.index_bucket_stats(spark, idx, max_bucket_size=3)
    assert after["n_stranded"] == 0
    assert not di.should_reconcile(after)

    from translator_tm_provider_pipelines_spark import cli

    cli.main(["NEAR_DUP_INDEX_STATS", "--indexDir", idx, "--maxBucketSize", "3"])
    out = capsys.readouterr().out
    assert '"n_stranded": 0' in out and "reconcile recommended" not in out


def test_keep_best_from_index_matches_batch(spark, tmp_path):
    """keep_best_from_index ≡ batch near_dup_keep_best on the accumulated
    corpus: same clusters, highest-quality member kept, quality supplied
    as a side table (the index stores only doc_id/text)."""
    rows = [
        (1, BASE, 10), (2, BASE + " extra", 99), (3, ROWS_B1[2][1], 5),
        (4, BASE + " tail", 50),
        (5, ROWS_B2[1][1], 7),
    ]
    quality = spark.createDataFrame(
        [(d, q) for d, _t, q in rows], "doc_id int, quality int"
    )
    docs = spark.createDataFrame(
        [(d, t) for d, t, _q in rows], "doc_id int, text string"
    )
    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, docs.where("doc_id <= 3"), idx, batch_id=0)
    di.update_near_dup_index(spark, docs.where("doc_id > 3"), idx, batch_id=1)

    batch_docs = spark.createDataFrame(rows, "doc_id int, text string, quality int")
    want = sorted(map(tuple, dedup.near_dup_keep_best(batch_docs, "quality").collect()))
    got = sorted(map(tuple, di.keep_best_from_index(
        spark, idx, quality, "quality"
    ).collect()))
    assert got == want
    kb = {r.doc_id: r for r in di.keep_best_from_index(
        spark, idx, quality, "quality"
    ).collect()}
    assert kb[2].is_kept and not kb[1].is_kept  # quality 99 beats min-id
    # docs missing from the quality side rank last but stay listed: with
    # doc 2 unscored, the cluster's best scored member (doc 4, q=50) wins
    got2 = {r.doc_id: r for r in di.keep_best_from_index(
        spark, idx, quality.where("doc_id <> 2"), "quality"
    ).collect()}
    assert not got2[2].is_kept and got2[2].kept_id == 4
    assert got2[2].canonical_id == 1  # cluster key unchanged


@pytest.mark.slow
def test_stream_auto_reconcile(spark, tmp_path):
    """reconcile_every wires the stranded-watermark maintenance into the
    stream: a 6-member identical-text cluster arriving 2-at-a-time under
    cap 3 ends FULLY collapsed without any out-of-band reconcile call."""
    rows = [(i, BASE) for i in range(1, 7)]
    src = tmp_path / "src"
    src.mkdir()
    for bi, lo in enumerate(range(0, 6, 2)):
        _df(spark, rows[lo:lo + 2]).coalesce(1).write.parquet(str(src / f"b{bi}"))
    stream = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    idx = str(tmp_path / "idx")
    q = di.incremental_near_dup_stream(
        stream, idx, str(tmp_path / "ckpt"),
        max_bucket_size=3, reconcile_every=3,
    ).start()
    q.awaitTermination(180)
    keep = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep == {i: 1 for i in range(1, 7)}
    import os

    assert any(d.startswith("batch_id=-") for d in os.listdir(f"{idx}/pairs"))


def test_near_dup_index_keep_best_cli(spark, tmp_path):
    from translator_tm_provider_pipelines_spark import cli

    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0)
    spark.createDataFrame(
        [(1, 10), (2, 80), (3, 5)], "doc_id int, quality int"
    ).write.parquet(str(tmp_path / "q"))
    cli.main([
        "NEAR_DUP_INDEX_KEEP_BEST", "--indexDir", idx,
        "--quality", str(tmp_path / "q"), "--qualityColumn", "quality",
        "--output", str(tmp_path / "kb"),
    ])
    kb = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "kb")).collect()}
    assert kb[2].is_kept and not kb[1].is_kept and kb[1].kept_id == 2
    assert kb[3].is_kept  # singleton keeps itself


@pytest.mark.slow
def test_reconcile_rerun_same_id_after_ingest_keeps_prior_repairs(
    spark, tmp_path
):
    """r7 ADVICE (medium): re-running reconcile with the SAME id after new
    ingest must not lose the prior run's repairs. The fresh candidates
    anti-join against ALL existing pairs (including the prior repair
    partition), so the dynamic overwrite of that partition would silently
    delete them unless the still-valid stored rows are unioned back in —
    a cron'd NEAR_DUP_INDEX_RECONCILE keeps the CLI default id forever."""
    cluster = [(i, BASE) for i in range(1, 7)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=3,
        )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)  # id=0
    keep1 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert all(keep1[d] == 1 for d in range(2, 7))  # repaired: all link to 1
    # interleaved ingest: two more members join the (already over-cap)
    # bucket and get no edges from the per-batch guard
    di.update_near_dup_index(
        spark, _df(spark, [(20, BASE), (21, BASE)]), idx, batch_id=3,
        max_bucket_size=3,
    )
    # re-run with the SAME reconcile id (the CLI default): must repair the
    # new arrivals AND keep every previously repaired pair
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    keep2 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert all(keep2[d] == 1 for d in (2, 3, 4, 5, 6, 20, 21)), keep2
    # and the rewrite stayed one-partition / idempotent: a third same-id
    # run with nothing new changes nothing
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    keep3 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep3 == keep2


@pytest.mark.slow
def test_reconcile_watermark_skips_unchanged_buckets(spark, tmp_path):
    """r8 VERDICT task 1: a reconcile run records a per-bucket watermark
    (max band batch_id at repair time + settings fingerprint); the next
    run under the same settings SKIPS buckets with no newer band rows —
    near-no-op instead of a full re-verification — and fresh ingest into
    a bucket re-activates exactly that bucket."""
    import os

    cluster = [(i, BASE) for i in range(1, 7)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=3,
        )
    first = di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    assert first.count() >= 1
    assert "batch_id=-1" in os.listdir(f"{idx}/reconciled")
    wm1 = {
        (r.band, r.band_sig): r.watermark
        for r in spark.read.parquet(f"{idx}/reconciled").collect()
    }
    assert wm1 and all(v == 2 for v in wm1.values())  # last ingest batch
    keep1 = _keep(spark, idx)

    # unchanged index: the re-run skips every bucket — zero new pairs,
    # zero candidate verification, watermarks unchanged
    second = di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    assert second.count() == 0
    assert _keep(spark, idx) == keep1
    wm2 = {
        (r.band, r.band_sig): r.watermark
        for r in spark.read.parquet(f"{idx}/reconciled").collect()
    }
    assert wm2 == wm1

    # fresh ingest into the over-cap bucket raises its band batch_id past
    # the stored watermark: the bucket re-activates and the late arrivals
    # are repaired; the watermark advances to the new batch
    di.update_near_dup_index(
        spark, _df(spark, [(20, BASE), (21, BASE)]), idx, batch_id=3,
        max_bucket_size=3,
    )
    third = di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    linked = {
        d for r in third.collect() for d in (r.doc_a, r.doc_b)
    }
    assert {20, 21} <= linked
    keep3 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep3[20] == 1 and keep3[21] == 1 and keep3[6] == 1
    wm3 = {
        (r.band, r.band_sig): r.watermark
        for r in spark.read.parquet(f"{idx}/reconciled").collect()
    }
    assert all(v == 3 for v in wm3.values())


@pytest.mark.slow
def test_reconcile_watermark_config_change_is_not_skipped(spark, tmp_path):
    """A watermark written under one settings fingerprint must not skip a
    run with different settings (deeper hops can attach members the
    shallower run could not): each config writes its own watermark rows."""
    cluster = [(i, BASE) for i in range(1, 7)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=3,
        )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3, repair_hops=0)
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3, repair_hops=-1)
    sigs = {
        r.config_sig for r in spark.read.parquet(f"{idx}/reconciled").collect()
    }
    assert sigs == {
        di._reconcile_config_sig(3, 0.8, 3, 0, 8),
        di._reconcile_config_sig(3, 0.8, 3, -1, 8),
    }
    # every negative repair_hops value normalizes to the same converged
    # fingerprint: a -2 run after a -1 run is a skip, not a re-verify
    assert di._reconcile_config_sig(3, 0.8, 3, -2, 8) == di._reconcile_config_sig(
        3, 0.8, 3, -1, 8
    )


@pytest.mark.slow
def test_reconcile_watermarks_disabled(spark, tmp_path):
    """use_watermarks=False keeps the pre-r9 behavior: no reconciled/
    side table is written and every run re-derives candidates."""
    import os

    cluster = [(i, BASE) for i in range(1, 6)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 5, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=2,
        )
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, use_watermarks=False
    )
    assert not os.path.isdir(f"{idx}/reconciled")
    keep = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert all(keep[d] == 1 for d in range(1, 6))


@pytest.mark.slow
def test_reconcile_watermark_compaction_never_hides_repairs(spark, tmp_path):
    """Compaction collapses band rows into one higher batch_id, so a
    stored watermark can never mask post-watermark arrivals that the
    merge folded in: after ingest(batch 3) + compact(upto 3), the bucket's
    current watermark (3) exceeds the stored one (2) and reconcile still
    repairs the late members. Compacting with NO intervening ingest keeps
    the skip (batch ids don't advance past the stored watermark)."""
    cluster = [(i, BASE) for i in range(1, 7)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=3,
        )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    keep1 = _keep(spark, idx)
    # no-ingest compaction: bucket max batch_id stays at the stored
    # watermark, so the next run still skips and changes nothing
    di.compact_index(spark, idx, upto_batch=2)
    assert di.reconcile_capped_buckets(spark, idx, max_bucket_size=3).count() == 0
    assert _keep(spark, idx) == keep1
    # ingest into the over-cap bucket, then compact BEFORE reconciling:
    # the merge rewrites every band row to batch_id=3 — the watermark
    # comparison must still see the bucket as newer than its repair
    di.update_near_dup_index(
        spark, _df(spark, [(20, BASE), (21, BASE)]), idx, batch_id=3,
        max_bucket_size=3,
    )
    di.compact_index(spark, idx, upto_batch=3)
    repaired = di.reconcile_capped_buckets(spark, idx, max_bucket_size=3)
    linked = {d for r in repaired.collect() for d in (r.doc_a, r.doc_b)}
    assert {20, 21} <= linked
    keep2 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep2[20] == 1 and keep2[21] == 1


def test_keep_best_from_index_duplicate_quality_rows(spark, tmp_path):
    """r7 ADVICE: a quality side table with duplicate doc_id rows must not
    fan out the keep list — one output row per document, scored by the
    doc's MAX quality value."""
    rows = [(1, BASE), (2, BASE + " extra"), (3, ROWS_B1[2][1])]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, docs, idx, batch_id=0)
    quality = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 50), (2, 40), (3, 5)],
        "doc_id int, quality int",
    )
    out = di.keep_best_from_index(spark, idx, quality, "quality").collect()
    assert len(out) == 3  # one row per doc despite duplicate quality rows
    by_id = {r.doc_id: r for r in out}
    # doc 1 scores as max(10, 99) = 99 > doc 2's max(50, 40): doc 1 kept
    assert by_id[1].is_kept and not by_id[2].is_kept and by_id[2].kept_id == 1


CHAIN_LSH = dict(threshold=0.85, k=3, num_perms=8, rows_per_band=1)


def _chain_rows(n=5):
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu amber birch cedar dune "
        "ember fjord grove heath iris jade knoll lotus maple nectar "
        "onyx pearl quartz reef slate topaz umber vale willow zenith "
        "arbor basin cliff ridge marsh glen fen moor crag peak"
    ).split()
    repl = "one two three four five six seven eight nine ten".split()
    return [(i, " ".join(repl[: 2 * i] + base[2 * i:])) for i in range(n)]


def _spy_verify(monkeypatch):
    """Record every candidate pair reconcile actually exact-verifies."""
    attempted: list[tuple[int, int]] = []
    orig = di.dedup._verify_candidates

    def wrapper(docs, cands, **kw):
        attempted.extend(
            (r.doc_a, r.doc_b) for r in cands.select("doc_a", "doc_b").collect()
        )
        return orig(docs, cands, **kw)

    monkeypatch.setattr(di.dedup, "_verify_candidates", wrapper)
    return attempted


@pytest.mark.slow
def test_reconcile_persists_failures_skips_reverification(
    spark, tmp_path, monkeypatch
):
    """r9: persisted verification failures. The chain cluster's far
    members fail their star edge to the representative; those failures
    land in the failed/ side table, and a bucket RE-ACTIVATED by fresh
    ingest (watermark no longer covers it) re-verifies only edges
    involving the new member — never a known-failed edge again."""
    rows = _chain_rows()
    idx = str(tmp_path / "idx")
    for bi, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        di.update_near_dup_index(
            spark, _df(spark, batch), idx, batch_id=bi,
            max_bucket_size=2, **CHAIN_LSH,
        )
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3, repair_hops=-1
    )
    failed = {
        (r.doc_a, r.doc_b, r.config_sig)
        for r in spark.read.parquet(f"{idx}/failed").collect()
    }
    assert failed  # chain shape: some star/hop edges genuinely fail
    assert {s for (_, _, s) in failed} == {di._failure_config_sig(0.85, 3)}
    failed_pairs = {(a, b) for (a, b, _) in failed}

    # fresh ingest re-activates the bucket: an exact twin of the chain
    # MIDDLE joins late — its every band bucket is the over-cap
    # {2,3,4} bucket, so the per-batch cap guard strands it (a twin of
    # the chain HEAD would link at ingest through the under-cap {0,1}
    # buckets and leave the reconcile nothing to do)
    di.update_near_dup_index(
        spark, _df(spark, [(10, rows[2][1])]), idx, batch_id=3,
        max_bucket_size=2, **CHAIN_LSH,
    )
    attempted = _spy_verify(monkeypatch)
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3, repair_hops=-1
    )
    assert attempted  # the new member's edges were verified...
    assert all(10 in p for p in attempted)  # ...and ONLY those
    assert not failed_pairs & set(attempted)
    keep = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep[10] == 2  # late twin joined the chain-tail cluster
    # full keep-list parity with the batch converged-star path
    batch_kl = sorted(map(tuple, dedup.near_dup_keep_list(
        _df(spark, rows + [(10, rows[2][1])]),
        max_bucket_size=2, oversize_policy="star", star_repair_hops=-1,
        **CHAIN_LSH,
    ).collect()))
    assert _keep(spark, idx) == batch_kl


@pytest.mark.slow
def test_reconcile_failures_survive_maintenance_config_changes(
    spark, tmp_path, monkeypatch
):
    """Failures are fingerprinted by (threshold, k) ONLY: changing hop
    depth or reps-per-hop invalidates the reconcile watermark (bucket
    re-activates) but not the failures — the re-verification that follows
    attempts zero already-failed edges. A different threshold is a
    different fingerprint and must re-verify."""
    rows = _chain_rows()
    idx = str(tmp_path / "idx")
    for bi, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        di.update_near_dup_index(
            spark, _df(spark, batch), idx, batch_id=bi,
            max_bucket_size=2, **CHAIN_LSH,
        )
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3, repair_hops=-1
    )
    keep1 = _keep(spark, idx)
    # different reps_per_hop => different watermark fingerprint => the
    # bucket is NOT skipped — but successes + failures cover every edge,
    # so nothing is re-verified
    attempted = _spy_verify(monkeypatch)
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3, repair_hops=-1,
        reps_per_hop=4,
    )
    assert attempted == []
    assert _keep(spark, idx) == keep1
    # a STRICTER threshold must not trust 0.85-failures (sig differs), and
    # re-verifies the bucket's star edges
    attempted2 = _spy_verify(monkeypatch)
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.95, k=3
    )
    assert attempted2
    sigs = {
        r.config_sig for r in spark.read.parquet(f"{idx}/failed").collect()
    }
    assert di._failure_config_sig(0.95, 3) in sigs


@pytest.mark.slow
def test_reconcile_persist_failures_disabled(spark, tmp_path):
    """persist_failures=False keeps the pre-r9 behavior: no failed/ side
    table, identical keep list."""
    import os

    rows = _chain_rows()
    idx = str(tmp_path / "idx")
    for bi, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        di.update_near_dup_index(
            spark, _df(spark, batch), idx, batch_id=bi,
            max_bucket_size=2, **CHAIN_LSH,
        )
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3, repair_hops=-1,
        use_watermarks=False, persist_failures=False,
    )
    assert not os.path.isdir(f"{idx}/failed")
    batch_kl = sorted(map(tuple, dedup.near_dup_keep_list(
        _df(spark, rows), max_bucket_size=2, oversize_policy="star",
        star_repair_hops=-1, **CHAIN_LSH,
    ).collect()))
    assert _keep(spark, idx) == batch_kl


@pytest.mark.slow
def test_index_bucket_stats_watermark_aware(spark, tmp_path, capsys):
    """r9: the watermark-aware gauge. A member stranded because its every
    candidate edge genuinely fails (chain far member under repair_hops=0)
    keeps n_stranded positive forever; with reconcile_settings the gauge
    reports n_unreconciled_buckets=0 after the repair and should_reconcile
    stops recommending no-op runs — until fresh ingest re-activates the
    bucket."""
    rows = _chain_rows()
    idx = str(tmp_path / "idx")
    for bi, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        di.update_near_dup_index(
            spark, _df(spark, batch), idx, batch_id=bi,
            max_bucket_size=2, **CHAIN_LSH,
        )
    # rescue-off in BOTH the gauge settings and the reconcile run below:
    # the rescue knobs are part of the watermark fingerprint (r11), so a
    # gauge querying under different knobs would correctly report the
    # bucket as unreconciled
    settings = {"threshold": 0.85, "k": 3, "repair_hops": 0,
                "fresh_reps_per_bucket": 0}
    before = di.index_bucket_stats(
        spark, idx, max_bucket_size=2, reconcile_settings=settings
    )
    assert before["n_unreconciled_buckets"] == before["n_over_cap_buckets"] > 0
    assert di.should_reconcile(before)

    # rescue off: this test pins the gauge's behavior around members that
    # STAY stranded after a reconcile (r10's untried-member rescue would
    # reattach these chain members even at hops=0)
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, threshold=0.85, k=3, repair_hops=0,
        fresh_reps_per_bucket=0,
    )
    after = di.index_bucket_stats(
        spark, idx, max_bucket_size=2, reconcile_settings=settings
    )
    # far chain members stay stranded (their star edges genuinely fail at
    # hops=0) but every over-cap bucket is reconciled: no run recommended
    assert after["n_stranded"] > 0
    assert after["n_unreconciled_buckets"] == 0
    assert not di.should_reconcile(after)
    # the settings-less gauge (pre-r9 contract) would keep recommending
    legacy = di.index_bucket_stats(spark, idx, max_bucket_size=2)
    assert "n_unreconciled_buckets" not in legacy
    assert di.should_reconcile(legacy)

    # fresh ingest re-activates the bucket
    di.update_near_dup_index(
        spark, _df(spark, [(10, rows[0][1] + " tail")]), idx, batch_id=3,
        max_bucket_size=2, **CHAIN_LSH,
    )
    reactivated = di.index_bucket_stats(
        spark, idx, max_bucket_size=2, reconcile_settings=settings
    )
    assert reactivated["n_unreconciled_buckets"] > 0
    assert di.should_reconcile(reactivated)

    from translator_tm_provider_pipelines_spark import cli

    cli.main([
        "NEAR_DUP_INDEX_STATS", "--indexDir", idx, "--maxBucketSize", "2",
        "--watermarkAware", "--threshold", "0.85", "--repairHops", "0",
        "--freshRepsPerBucket", "0",  # match the reconcile's fingerprint
    ])
    out = capsys.readouterr().out
    assert '"n_unreconciled_buckets"' in out and "reconcile recommended" in out


@pytest.mark.slow
def test_reconcile_fresh_member_star_attaches_starved_late_arrival(
    spark, tmp_path
):
    """r9: the fresh-member star (promotion-starvation fix). Handcrafted
    index state reproducing the mixed-sf10 4-doc divergence: a late
    arrival lands in an already-reconciled boilerplate bucket whose
    min-id rep is a genuine stranger; its true neighbors are ATTACHED
    (never promoted by the hop loop) and a smaller-id stranded stranger
    monopolizes the reps_per_hop=1 promotion slot — without the fix the
    late arrival stays a singleton forever (every hop re-promotes the
    stalled stranger and converges). With the fix (r10 criterion:
    unattached members that still have UNTRIED bucket edges), the late
    arrival stars against the whole bucket and the genuine edges are
    found."""
    uniq = ("garnet beryl opal topaz spinel zircon "
            "peridot iolite kunzite morganite heliodor sphene").split()
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    rows0 = [
        (1, " ".join(f"{w}{i}" for i, w in enumerate(uniq))),   # stranger
        (2, " ".join(f"{w}x{i}" for i, w in enumerate(uniq))),  # stranger
        (3, T + " member one"),
        (4, T + " member two"),
    ]
    idx = str(tmp_path / "idx")
    di._write_batch(_df(spark, rows0), idx, "docs", 0)
    di._write_batch(
        spark.createDataFrame(
            [(d, 0, "B") for d in (1, 2, 3, 4)],
            "doc_id int, band int, band_sig string",
        ),
        idx, "bands", 0,
    )
    # (3,4) verified at ingest through a private under-cap bucket
    di._write_batch(
        spark.createDataFrame([(3, 4, 1.0)], "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 0,
    )
    # backlog reconcile converges: rep 1 fails against everyone, the hop
    # loop re-promotes 1 (still the min unattached) and stalls
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, repair_hops=-1, reps_per_hop=1
    )
    keep1 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep1 == {1: 1, 2: 2, 3: 3, 4: 3}

    # late arrival: genuine near-dup of 3/4 lands ONLY in the shared
    # boilerplate bucket (its minhash happened to diverge on the
    # private band) — the measured sf10 shape
    di._write_batch(_df(spark, [(9, T + " member three")]), idx, "docs", 1)
    di._write_batch(
        spark.createDataFrame(
            [(9, 0, "B")], "doc_id int, band int, band_sig string"
        ),
        idx, "bands", 1,
    )
    # control: with the fresh star disabled the starvation strands 9
    # (use_watermarks=False so this diagnostic run does not advance the
    # bucket's watermark and consume the re-activation the default run
    # below must see)
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, repair_hops=-1, reps_per_hop=1,
        fresh_reps_per_bucket=0, use_watermarks=False,
    )
    keep2 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep2[9] == 9  # stranded: genuine neighbors attached, never promoted
    # default path: fresh member 9 stars against the whole bucket
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, repair_hops=-1, reps_per_hop=1
    )
    keep3 = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    assert keep3[9] == 3 and keep3[4] == 3  # attached through (3,9)/(4,9)
    # strangers stay apart; (1, 9) was proposed by the base star (rep 1)
    # and its genuine failure is persisted. (2, 9) was out of rescue
    # scope in round 1 (both endpoints unattached — stranger-to-stranger
    # edges are the 100 TB quadratic trap), but once 9 ATTACHED, round 2
    # of the same run re-derived the bucket and proposed it — exactly
    # what the batch fixpoint does — and its failure is persisted too
    assert keep3[1] == 1 and keep3[2] == 2
    failed = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(f"{idx}/failed").collect()
    }
    assert (1, 9) in failed and (2, 9) in failed


@pytest.mark.slow
def test_reconcile_rescue_bound_drains_within_run(spark, tmp_path):
    """r10: the per-bucket rescue bound is a per-ROUND fence, not a
    per-run result cap — a bucket with more untried-edge members than
    fresh_reps_per_bucket feeds its overflow into the next round's scope
    and the run drains to the global fixpoint before the watermark is
    written (r9 held the watermark across runs instead; the round loop
    replaces that so an advanced watermark always certifies
    no-qualifying-untried-edge)."""
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    rows0 = [(3, T + " member one"), (4, T + " member two"),
             (1, "completely unrelated words about nothing in particular "
                 "echoing through an empty hall of mirrors and dust")]
    idx = str(tmp_path / "idx")
    di._write_batch(_df(spark, rows0), idx, "docs", 0)
    di._write_batch(
        spark.createDataFrame(
            [(d, 0, "B") for d in (1, 3, 4)],
            "doc_id int, band int, band_sig string",
        ),
        idx, "bands", 0,
    )
    di._write_batch(
        spark.createDataFrame([(3, 4, 1.0)], "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 0,
    )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2, repair_hops=-1,
                                reps_per_hop=1)
    wm0 = {r.watermark for r in spark.read.parquet(f"{idx}/reconciled").collect()}
    assert wm0 == {0}
    # two fresh members arrive in one batch: 8 is a genuine member of the
    # 3/4 cluster, 9 is a genuine stranger (8 and 9 must not attach
    # through each other — unattached-to-unattached edges are outside
    # the rescue's attached-targeted scope by design)
    di._write_batch(
        _df(spark, [(8, T + " member eight"),
                    (9, "entirely distinct vocabulary discussing watermark "
                        "holds slices backlogs and overflow semantics at "
                        "length without any shared boilerplate words")]),
        idx, "docs", 1,
    )
    di._write_batch(
        spark.createDataFrame(
            [(8, 0, "B"), (9, 0, "B")], "doc_id int, band int, band_sig string"
        ),
        idx, "bands", 1,
    )
    settings = {"repair_hops": -1, "reps_per_hop": 1}
    # ONE run, bound 1: round 1 slices {8} (smallest with an untried
    # qualifying edge) and attaches it; 9 overflows the slice, so the
    # bucket re-enters the next round's scope, where 9's edges are
    # verified (and genuinely fail, persisted) — the run ends at the
    # fixpoint and the watermark advances
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2, repair_hops=-1,
                                reps_per_hop=1, fresh_reps_per_bucket=1)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[8] == 3 and keep[9] == 9  # 9 genuinely alone, verified so
    failed = {(r.doc_a, r.doc_b)
              for r in spark.read.parquet(f"{idx}/failed").collect()}
    assert (3, 9) in failed and (4, 9) in failed
    wm1 = {r.watermark for r in spark.read.parquet(f"{idx}/reconciled").collect()}
    assert wm1 == {1}  # drained within the run: watermark advanced
    stats = di.index_bucket_stats(spark, idx, max_bucket_size=2,
                                  reconcile_settings=settings)
    assert stats["n_unreconciled_buckets"] == 0
    assert not di.should_reconcile(stats)
    # idempotent no-op re-run
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2, repair_hops=-1,
                                reps_per_hop=1, fresh_reps_per_bucket=1)
    keep2 = dict((r.doc_id, r.canonical_id)
                 for r in di.keep_list_from_index(spark, idx).collect())
    assert keep2 == keep


@pytest.mark.slow
def test_reconcile_never_verified_ghost_edge_not_persisted_as_failure(
    spark, tmp_path
):
    """r10 ADVICE fix: an edge whose endpoint exists in bands/ but not in
    docs/ (crash between update_near_dup_index's bands and docs writes)
    is silently DROPPED by verification, not computed — it must NOT be
    persisted as a permanent (threshold, k) failure, and the bucket's
    watermark must be HELD so the edge stays visible. Once the doc text
    lands, the next reconcile verifies the edge and the genuine pair
    attaches — with the old derivation (attempted minus repaired) it
    would have been anti-joined away forever."""
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    uniq = "garnet beryl opal topaz spinel zircon peridot iolite".split()
    idx = str(tmp_path / "idx")
    di._write_batch(
        _df(spark, [
            (1, " ".join(f"{w}{i}" for i, w in enumerate(uniq))),  # stranger
            (3, T + " member one"),
            (4, T + " member two"),
        ]),
        idx, "docs", 0,
    )
    di._write_batch(
        spark.createDataFrame(
            [(d, 0, "B") for d in (1, 3, 4, 9)],
            "doc_id int, band int, band_sig string",
        ),
        idx, "bands", 0,
    )
    di._write_batch(
        spark.createDataFrame([(3, 4, 1.0)],
                              "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 0,
    )
    # doc 9's text never landed: bands row exists, docs row does not.
    # Reconcile proposes its edges, verification drops them silently.
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reps_per_hop=1)
    failed = {(r.doc_a, r.doc_b)
              for r in spark.read.parquet(f"{idx}/failed").collect()}
    assert not any(9 in e for e in failed), failed  # never-verified ≠ failed
    assert (1, 3) in failed and (1, 4) in failed    # genuine failures persist
    # ghost hold: the bucket stays unreconciled (no watermark row), so the
    # gauge keeps scheduling maintenance instead of hiding the lost edges
    wm_tab = di._read_index(spark, idx, "reconciled")
    assert wm_tab is None or wm_tab.count() == 0
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert 9 not in keep  # no doc row yet
    # the doc text lands (in the real protocol: the stream's idempotent
    # retry of the half-written batch) — the next reconcile verifies the
    # previously dropped edges and the genuine pair attaches
    di._write_batch(_df(spark, [(9, T + " member three")]), idx, "docs", 1)
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reps_per_hop=1)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[9] == 3  # attached through (3,9)/(4,9)
    failed = {(r.doc_a, r.doc_b)
              for r in spark.read.parquet(f"{idx}/failed").collect()}
    assert (1, 9) in failed  # stranger edge now genuinely verified-failed
    # and with the ghost gone the watermark finally advances
    wm = spark.read.parquet(f"{idx}/reconciled").collect()
    assert len(wm) == 1 and wm[0].watermark == 0


@pytest.mark.slow
def test_reconcile_rescue_slice_drains_past_permanent_strangers(
    spark, tmp_path
):
    """r10 ADVICE fix: members that exhaust their qualifying targets
    become fully attempted and drop OUT of the rescue ranking — under
    r9's post-watermark criterion a permanent stranger with a smaller id
    than a genuine late near-dup would pin the bound-1 slice forever
    (held watermark, starved genuine member, no-op reconciles scheduled
    indefinitely). With the round loop both members get their turn
    within ONE run."""
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    idx = str(tmp_path / "idx")
    # min-id member 1 is itself a stranger, so the base star attaches
    # nothing and attachment can only come through the rescue slice
    di._write_batch(
        _df(spark, [
            (1, "ancient lexicon of untranslatable riddles carved into "
                "basalt cliffs by forgotten cartographers at midnight"),
            (3, T + " member one"), (4, T + " member two"),
        ]),
        idx, "docs", 0,
    )
    di._write_batch(
        spark.createDataFrame([(1, 0, "B"), (3, 0, "B"), (4, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 0,
    )
    di._write_batch(
        spark.createDataFrame([(3, 4, 1.0)],
                              "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 0,
    )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=1, repair_hops=-1,
                                reps_per_hop=1)
    # batch 1: 5 = permanent stranger (smaller id), 8 = genuine member
    di._write_batch(
        _df(spark, [
            (5, "completely unrelated words about nothing in particular "
                "echoing through an empty hall of mirrors and dust"),
            (8, T + " member eight"),
        ]),
        idx, "docs", 1,
    )
    di._write_batch(
        spark.createDataFrame([(5, 0, "B"), (8, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 1,
    )
    # ONE run (bound 1): round 1 slices {5} — the permanent stranger's
    # qualifying edges all fail and are persisted; the overflow feeds
    # round 2, where 5 is fully attempted and DROPS OUT of the ranking,
    # so {8} gets its turn and attaches; the watermark advances
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=1, repair_hops=-1,
                                reps_per_hop=1, fresh_reps_per_bucket=1)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[8] == 3 and keep[5] == 5 and keep[1] == 1
    failed = {(r.doc_a, r.doc_b)
              for r in spark.read.parquet(f"{idx}/failed").collect()}
    assert (3, 5) in failed and (4, 5) in failed
    wm = {r.watermark
          for r in spark.read.parquet(f"{idx}/reconciled").collect()}
    assert wm == {1}
    stats = di.index_bucket_stats(
        spark, idx, max_bucket_size=1,
        reconcile_settings={"repair_hops": -1, "reps_per_hop": 1},
    )
    assert stats["n_unreconciled_buckets"] == 0
    assert not di.should_reconcile(stats)


@pytest.mark.slow
def test_compact_index_merges_side_tables_preserving_skip(spark, tmp_path):
    """r10: compact_index also merges the failed/ and reconciled/ side
    tables (the in-stream maintenance path writes one negative partition
    per triggering micro-batch — partition explosion at cron cadence),
    and the merge preserves skip-reverification: a reconcile after
    compaction must not re-propose edges recorded as failed, nor re-
    process buckets whose merged watermark still covers them."""
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    idx = str(tmp_path / "idx")
    di._write_batch(
        _df(spark, [
            (1, "ancient lexicon of untranslatable riddles carved into "
                "basalt cliffs by forgotten cartographers at midnight"),
            (3, T + " member one"), (4, T + " member two"),
        ]),
        idx, "docs", 0,
    )
    di._write_batch(
        spark.createDataFrame([(1, 0, "B"), (3, 0, "B"), (4, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 0,
    )
    di._write_batch(
        spark.createDataFrame([(3, 4, 1.0)],
                              "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 0,
    )
    # two maintenance runs at distinct ids, each with fresh work -> two
    # negative partitions in failed/ and reconciled/ (the in-stream
    # reconcile_id=batch_id shape)
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reconcile_id=0)
    di._write_batch(
        _df(spark, [(2, "completely unrelated words about nothing in "
                        "particular echoing through an empty hall of "
                        "mirrors and dust")]),
        idx, "docs", 1,
    )
    di._write_batch(
        spark.createDataFrame([(2, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 1,
    )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reconcile_id=1)
    import os
    n_failed_parts = len([d for d in os.listdir(f"{idx}/failed")
                          if d.startswith("batch_id=")])
    assert n_failed_parts == 2
    removed = di.compact_index(spark, idx, upto_batch=1, target_partitions=1)
    assert removed["failed"] == 2 and removed["reconciled"] == 2
    failed = spark.read.parquet(f"{idx}/failed")
    assert {(r.doc_a, r.doc_b) for r in failed.collect()} == {
        (1, 3), (1, 4), (1, 2), (2, 3), (2, 4),
    }
    assert {r.batch_id for r in failed.collect()} == {1}
    wm = spark.read.parquet(f"{idx}/reconciled").collect()
    assert len(wm) == 1 and wm[0].watermark == 1  # max-merged, one row
    # skip-reverification is preserved through the merge: re-activate the
    # bucket with a genuine new member and record every candidate set the
    # verification stage receives — the known-failed edges never reappear
    di._write_batch(_df(spark, [(8, T + " member eight")]), idx, "docs", 2)
    di._write_batch(
        spark.createDataFrame([(8, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 2,
    )
    seen: list[set] = []
    real_verify = dedup._verify_candidates

    def recording_verify(docs, cands, **kw):
        seen.append({(r.doc_a, r.doc_b)
                     for r in cands.select("doc_a", "doc_b").collect()})
        return real_verify(docs, cands, **kw)

    import unittest.mock as mock
    with mock.patch.object(dedup, "_verify_candidates", recording_verify):
        di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                    repair_hops=-1, reconcile_id=2)
    proposed = set().union(*seen) if seen else set()
    assert not proposed & {(1, 3), (1, 4), (1, 2), (2, 3), (2, 4)}
    assert (3, 8) in proposed  # the genuinely new member's edges ran
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[8] == 3 and keep[1] == 1 and keep[2] == 2


@pytest.mark.slow
def test_reconcile_watermark_frozen_against_mid_run_ingest(
    spark, tmp_path, monkeypatch
):
    """r10 (VERDICT task 6): the reconcile watermark records the bucket's
    max band batch_id AS OF CANDIDATE DERIVATION, not as of the write. A
    batch ingested between derivation and the watermark write must keep
    the bucket active for the NEXT run — re-reading max batch_id at
    write time would stamp the post-derivation batch as covered and
    silently skip its members forever. The ingest is injected through
    the _write_batch seam, immediately before the reconcile's first
    (pairs) write — after all derivation/verification, before the
    watermark lands."""
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    idx = str(tmp_path / "idx")
    di._write_batch(
        _df(spark, [
            (1, "ancient lexicon of untranslatable riddles carved into "
                "basalt cliffs by forgotten cartographers at midnight"),
            (3, T + " member one"), (4, T + " member two"),
        ]),
        idx, "docs", 0,
    )
    di._write_batch(
        spark.createDataFrame([(1, 0, "B"), (3, 0, "B"), (4, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 0,
    )
    di._write_batch(
        spark.createDataFrame([(3, 4, 1.0)],
                              "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 0,
    )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reconcile_id=0)
    # normal ingest re-activates the bucket (batch 1 > watermark 0);
    # band rows handcrafted into the same bucket, as throughout this file
    di._write_batch(_df(spark, [(8, T + " member eight")]), idx, "docs", 1)
    di._write_batch(
        spark.createDataFrame([(8, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 1,
    )
    real_write = di._write_batch
    state = {"injected": False}

    def inject_then_write(df, index_dir, sub, batch_id):
        if not state["injected"] and batch_id < 0:
            state["injected"] = True
            # mid-run ingest: member 9 lands in the same bucket at batch 2
            # AFTER the running reconcile derived its candidates (what a
            # racing micro-batch's update_near_dup_index writes)
            real_write(_df(spark, [(9, T + " member nine")]),
                       idx, "docs", 2)
            real_write(
                spark.createDataFrame(
                    [(9, 0, "B")], "doc_id int, band int, band_sig string"
                ),
                idx, "bands", 2,
            )
        return real_write(df, index_dir, sub, batch_id)

    monkeypatch.setattr(di, "_write_batch", inject_then_write)
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reconcile_id=1)
    monkeypatch.setattr(di, "_write_batch", real_write)
    assert state["injected"]
    # the watermark must be the DERIVATION-time max (1), not the
    # post-ingest max (2); the skip check aggregates max over all runs'
    # partitions
    wm = max(r.watermark
             for r in spark.read.parquet(f"{idx}/reconciled").collect())
    assert wm == 1, wm
    stats = di.index_bucket_stats(
        spark, idx, max_bucket_size=2,
        reconcile_settings={"repair_hops": -1},
    )
    assert stats["n_unreconciled_buckets"] == 1  # bucket stays active
    # ... so the next run still processes the mid-run arrival
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reconcile_id=2)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[9] == 3 and keep[8] == 3
    wm = max(r.watermark
             for r in spark.read.parquet(f"{idx}/reconciled").collect())
    assert wm == 2


def test_cli_nowatermarks_implies_nopersistfailures(spark, tmp_path, capsys):
    """r10 ADVICE fix: NEAR_DUP_INDEX_RECONCILE --noWatermarks is the
    ground-truth control and must neither skip known-failed edges nor
    record this diagnostic run's failures — i.e. it implies
    --noPersistFailures (previously a control run with failures still
    persisted silently skipped known-failed edges, making it
    incomparable to the default path)."""
    from unittest import mock

    from translator_tm_provider_pipelines_spark import cli
    from translator_tm_provider_pipelines_spark.streaming import dedup_index

    idx = str(tmp_path / "idx")
    di._write_batch(_df(spark, [(3, BASE), (4, BASE + " tail")]),
                    idx, "docs", 0)
    di._write_batch(
        spark.createDataFrame([(3, 0, "B"), (4, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 0,
    )
    seen = {}
    real = dedup_index.reconcile_capped_buckets

    def record(*a, **kw):
        seen.update(kw)
        return real(*a, **kw)

    with mock.patch.object(dedup_index, "reconcile_capped_buckets", record):
        cli.main([
            "NEAR_DUP_INDEX_RECONCILE", "--indexDir", idx,
            "--maxBucketSize", "1", "--noWatermarks",
        ])
    assert seen["use_watermarks"] is False
    assert seen["persist_failures"] is False  # implied by --noWatermarks
    # no failed/ table may exist after a pure control run
    assert di._read_index(spark, idx, "failed") is None


@pytest.mark.slow
def test_reconcile_reactivates_on_post_watermark_ingest_attachment(
    spark, tmp_path
):
    """r10: a watermark-covered bucket whose member ATTACHES via a later
    ingest batch (a pair verified in another bucket — no new band row
    here) owes a rescue re-derivation: the newly attached member is now
    a qualifying target for its starved genuine neighbors. The
    activation filter and the gauge compare the stored watermark against
    the bucket's max incident ingest-pairs batch_id, and the watermark
    write covers that clock so the bucket settles after the repair."""
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    idx = str(tmp_path / "idx")
    # bucket B = {1 stranger, 6, 7}; 6 and 7 are genuine near-dups but
    # BOTH unattached, so the attached-targeted rescue cannot see their
    # edge yet
    di._write_batch(
        _df(spark, [
            (1, "ancient lexicon of untranslatable riddles carved into "
                "basalt cliffs by forgotten cartographers at midnight"),
            (6, T + " member six"), (7, T + " member seven"),
        ]),
        idx, "docs", 0,
    )
    di._write_batch(
        spark.createDataFrame([(1, 0, "B"), (6, 0, "B"), (7, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 0,
    )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reps_per_hop=1)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    # (6, 7) is a stranded genuine pair visible only in an over-cap
    # bucket: out of the attached-targeted rescue's scope, both singleton
    assert keep[6] == 6 and keep[7] == 7
    # ingest batch 1: doc 9 joins 7 in a PRIVATE bucket C and their pair
    # verifies at ingest — 7 is now attached, with no new band row in B
    di._write_batch(_df(spark, [(9, T + " member seven prime")]),
                    idx, "docs", 1)
    di._write_batch(
        spark.createDataFrame([(9, 1, "C"), (7, 1, "C")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 1,
    )
    di._write_batch(
        spark.createDataFrame([(7, 9, 0.95)],
                              "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 1,
    )
    stats = di.index_bucket_stats(
        spark, idx, max_bucket_size=2,
        reconcile_settings={"repair_hops": -1, "reps_per_hop": 1},
    )
    assert stats["n_unreconciled_buckets"] >= 1  # B re-activated
    assert di.should_reconcile(stats)
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reps_per_hop=1)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    # the rescue proposed (6, 7) — 7 is attached now — and it verified
    assert keep[6] == 6 and keep[7] == 6 and keep[9] == 6
    # ...and the bucket settles: the written watermark covers the
    # attachment clock, so no further run is recommended
    stats = di.index_bucket_stats(
        spark, idx, max_bucket_size=2,
        reconcile_settings={"repair_hops": -1, "reps_per_hop": 1},
    )
    assert stats["n_unreconciled_buckets"] == 0
    assert not di.should_reconcile(stats)


@pytest.mark.slow
def test_reconcile_attachment_clock_gated_to_completed_batches(
    spark, tmp_path
):
    """r11 ADVICE (high): update_near_dup_index writes pairs BEFORE
    bands, so a reconcile racing a live micro-batch N (or running after
    a crash between the writes) can see batch-N pairs while its
    bands/docs snapshots end at N-1. The attachment clock must not
    trust those pairs: stamping watermark=N would permanently mask
    batch N's band rows when the retry lands them (wm == stored ==
    attwm == N, bucket never re-activates, the new member's owed
    rescue edges are skipped forever). The clock is gated to batches
    visible in docs/ — written LAST, read FIRST — so the racing run
    leaves the watermark alone and the completed batch re-activates
    the bucket."""
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    idx = str(tmp_path / "idx")
    # bucket B = {1 stranger, 6, 7}; 6 and 7 genuine dups, both
    # unattached after the first reconcile (rep 1 fails everyone, the
    # hop loop stalls on the stranger) -- watermark for B lands at 0
    di._write_batch(
        _df(spark, [
            (1, "ancient lexicon of untranslatable riddles carved into "
                "basalt cliffs by forgotten cartographers at midnight"),
            (6, T + " member six"), (7, T + " member seven"),
        ]),
        idx, "docs", 0,
    )
    di._write_batch(
        spark.createDataFrame(
            [(1, 0, "B"), (6, 0, "B"), (7, 0, "B"), (7, 1, "C")],
            "doc_id int, band int, band_sig string",
        ),
        idx, "bands", 0,
    )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reps_per_hop=1)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[6] == 6 and keep[7] == 7  # both stranded in over-cap B

    # batch 1 IN FLIGHT: doc 8 (dup of 7, private bucket C -> pair
    # verified at ingest) and doc 9 (dup of 7, lands in over-cap B ->
    # its candidates were cap-dropped at ingest). Only the PAIRS write
    # has landed; bands/docs of batch 1 are not yet visible.
    di._write_batch(
        spark.createDataFrame([(7, 8, 0.95)],
                              "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 1,
    )
    raced = di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                        repair_hops=-1, reps_per_hop=1)
    # the racing run must not certify anything on the strength of the
    # incomplete batch: bucket B stays covered at watermark 0
    assert raced.count() == 0
    wm = spark.read.parquet(f"{idx}/reconciled")
    assert wm.agg(F.max("watermark")).first()[0] == 0

    # the stream's idempotent retry completes batch 1
    di._write_batch(
        _df(spark, [(8, T + " member seven prime"),
                    (9, T + " member seven second")]),
        idx, "docs", 1,
    )
    di._write_batch(
        spark.createDataFrame([(8, 1, "C"), (9, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 1,
    )
    # now the bucket re-activates (band clock 1 > stored 0) and the
    # rescue attaches both stranded genuine members through attached 7
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=2,
                                repair_hops=-1, reps_per_hop=1)
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[6] == 6 and keep[7] == 6 and keep[8] == 6 and keep[9] == 6
    assert keep[1] == 1
    # and settles: watermark now covers both clocks
    stats = di.index_bucket_stats(
        spark, idx, max_bucket_size=2,
        reconcile_settings={"repair_hops": -1, "reps_per_hop": 1},
    )
    assert stats["n_unreconciled_buckets"] == 0


@pytest.mark.slow
def test_reconcile_watermark_rescue_knob_change_is_not_skipped(
    spark, tmp_path
):
    """r11 ADVICE (medium): the watermark certifies 'no qualifying
    untried edge remains' only AT a given rescue configuration, so the
    rescue knobs are part of the settings fingerprint: a run with the
    rescue newly enabled (or at a different min-shared-bands floor)
    must not skip buckets covered by a rescue-off watermark. The
    rescue BOUND magnitude stays out (pacing only)."""
    sig = di._reconcile_config_sig
    off = sig(3, 0.8, 3, 0, 8, fresh_reps_per_bucket=0)
    on1 = sig(3, 0.8, 3, 0, 8, fresh_reps_per_bucket=64,
              rescue_min_shared_bands=1)
    on2 = sig(3, 0.8, 3, 0, 8, fresh_reps_per_bucket=64,
              rescue_min_shared_bands=2)
    assert off != on1 and on1 != on2
    # floor is irrelevant while the rescue is off; bound magnitude is
    # pacing, not fixpoint
    assert off == sig(3, 0.8, 3, 0, 8, fresh_reps_per_bucket=0,
                      rescue_min_shared_bands=3)
    assert on1 == sig(3, 0.8, 3, 0, 8, fresh_reps_per_bucket=128,
                      rescue_min_shared_bands=1)

    # integration: rescue-off reconcile covers the bucket with a
    # watermark; the late arrival stays starved. Re-running with the
    # rescue ON must process the bucket (different fingerprint) and
    # attach it -- under a shared fingerprint it would be skipped.
    T = ("the shared boilerplate block about spark shuffles parquet files "
         "broadcast joins and adaptive execution repeated verbatim across "
         "this synthetic near duplicate cluster fixture corpus")
    idx = str(tmp_path / "idx")
    di._write_batch(
        _df(spark, [
            (1, "ancient lexicon of untranslatable riddles carved into "
                "basalt cliffs by forgotten cartographers at midnight"),
            (3, T + " member one"), (4, T + " member two"),
        ]),
        idx, "docs", 0,
    )
    di._write_batch(
        spark.createDataFrame([(1, 0, "B"), (3, 0, "B"), (4, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 0,
    )
    di._write_batch(
        spark.createDataFrame([(3, 4, 1.0)],
                              "doc_a int, doc_b int, jaccard double"),
        idx, "pairs", 0,
    )
    # late arrival 9: genuine neighbor of attached 3/4, starved by the
    # stranger-stalled hop loop while the rescue is off
    di._write_batch(_df(spark, [(9, T + " member three")]), idx, "docs", 1)
    di._write_batch(
        spark.createDataFrame([(9, 0, "B")],
                              "doc_id int, band int, band_sig string"),
        idx, "bands", 1,
    )
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, repair_hops=-1, reps_per_hop=1,
        fresh_reps_per_bucket=0,
    )
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[9] == 9  # starved under rescue-off, bucket now covered
    di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=2, repair_hops=-1, reps_per_hop=1,
    )
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep[9] == 3  # rescue-on run was NOT skipped


@pytest.mark.slow
def test_compact_index_repair_pairs_stay_negative(spark, tmp_path):
    """r11 ADVICE (low): compaction merges the pairs table's repair
    (negative) partitions into a single NEGATIVE partition of their
    own, never the non-negative merge target -- folded-in repair pairs
    would otherwise read as fresh ingest attachments and pile onto the
    post-compaction conservative pass. Keep list and repair rows are
    unchanged across the merge."""
    cluster = [(i, BASE) for i in range(1, 7)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=3,
        )
    # two maintenance runs at distinct ids -> two negative partitions
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3,
                                reconcile_id=0)
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3,
                                reconcile_id=1, repair_hops=-1)
    pairs = spark.read.parquet(f"{idx}/pairs")
    pre_ids = {r.batch_id for r in pairs.select("batch_id").distinct().collect()}
    assert min(pre_ids) < 0
    repair_rows = {
        (r.doc_a, r.doc_b)
        for r in pairs.where(F.col("batch_id") < 0).collect()
    }
    assert repair_rows
    keep_before = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    di.compact_index(spark, idx, upto_batch=2, target_partitions=1)
    pairs = spark.read.parquet(f"{idx}/pairs")
    post_ids = {r.batch_id for r in pairs.select("batch_id").distinct().collect()}
    assert post_ids <= {2, di.reconcile_partition_id(2)}
    post_repairs = {
        (r.doc_a, r.doc_b)
        for r in pairs.where(F.col("batch_id") < 0).collect()
    }
    assert post_repairs == repair_rows  # merged, still negative
    assert dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    ) == keep_before


@pytest.mark.slow
def test_compact_during_reconcile_never_loses_repairs(
    spark, tmp_path, monkeypatch
):
    """r11 (VERDICT task 7): a compact_index racing an in-flight
    reconcile — injected through the _write_batch seam immediately
    before the reconcile's first negative-partition write, i.e. after
    every derivation but before any of its outputs land — must never
    lose repairs or watermarks: the reconcile's outputs are materialized
    before its writes (reads-what-it-overwrites discipline), its dynamic
    overwrite touches only its own negative partition, and the merge's
    row movement at worst duplicates rows every consumer distinct's.
    After the race the keep list equals the no-race result and a
    follow-up reconcile is a watermark no-op."""
    cluster = [(i, BASE) for i in range(1, 7)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 6, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=3,
        )
    real_write = di._write_batch
    state = {"injected": False}

    def inject(df, index_dir, sub, batch_id):
        if not state["injected"] and batch_id < 0:
            state["injected"] = True
            # maintenance compaction lands between the reconcile's
            # derivation and its first write (compact_index's own writes
            # re-enter this seam with the flag already set)
            di.compact_index(spark, idx, upto_batch=2, target_partitions=1)
        return real_write(df, index_dir, sub, batch_id)

    monkeypatch.setattr(di, "_write_batch", inject)
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=3,
                                repair_hops=-1, reconcile_id=5)
    monkeypatch.setattr(di, "_write_batch", real_write)
    assert state["injected"]
    keep = dict((r.doc_id, r.canonical_id)
                for r in di.keep_list_from_index(spark, idx).collect())
    assert keep == {i: 1 for i in range(1, 7)}
    # the watermark written by the raced run still covers the merged
    # bands (compaction merged into the pre-existing max batch id), so
    # the follow-up run is a no-op and changes nothing
    assert di.reconcile_capped_buckets(
        spark, idx, max_bucket_size=3, repair_hops=-1, reconcile_id=6
    ).count() == 0
    assert dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    ) == keep


def test_compact_index_empty_nonneg_pairs_readback(spark, tmp_path):
    """r12 ADVICE (low): when every pair row lives in NEGATIVE reconcile
    partitions (here: ingest at cap 1 / policy drop writes only empty
    non-negative pairs batches, the reconcile then attaches the cluster
    as repair pairs), compaction's staged non-negative pairs frame is
    legitimately empty — the read-back must use an explicit schema (the
    negative-merge branch always did) and the empty merge target is
    simply not written. Keep list and repair rows survive the merge."""
    cluster = [(i, BASE) for i in range(1, 5)]
    idx = str(tmp_path / "idx")
    for bi, lo in enumerate(range(0, 4, 2)):
        di.update_near_dup_index(
            spark, _df(spark, cluster[lo:lo + 2]), idx, batch_id=bi,
            max_bucket_size=1, oversize_policy="drop",
        )
    di.reconcile_capped_buckets(spark, idx, max_bucket_size=1,
                                reconcile_id=0)
    pairs = spark.read.parquet(f"{idx}/pairs")
    assert pairs.where(F.col("batch_id") >= 0).count() == 0
    repair_rows = {
        (r.doc_a, r.doc_b)
        for r in pairs.where(F.col("batch_id") < 0).collect()
    }
    assert repair_rows
    keep_before = dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    )
    di.compact_index(spark, idx, upto_batch=1, target_partitions=1)
    # the empty non-negative merge target was skipped; only the merged
    # negative partition remains and nothing was lost
    post = spark.read.parquet(f"{idx}/pairs")
    post_ids = {r.batch_id for r in post.select("batch_id").distinct().collect()}
    assert post_ids == {di.reconcile_partition_id(1)}
    assert {
        (r.doc_a, r.doc_b)
        for r in post.where(F.col("batch_id") < 0).collect()
    } == repair_rows
    assert dict(
        (r.doc_id, r.canonical_id)
        for r in di.keep_list_from_index(spark, idx).collect()
    ) == keep_before
    # the index keeps absorbing batches after the skipped-empty merge
    di.update_near_dup_index(
        spark, _df(spark, [(9, BASE + " tail")]), idx, batch_id=2,
    )
    assert di.keep_list_from_index(spark, idx).count() == 5


def test_negative_rescue_bound_rejected(spark, tmp_path):
    """r12 ADVICE (low): the rescue loops run on truthiness while the
    watermark fingerprint maps only ==0 to 'off' — a negative bound
    would run the rescue with an ill-defined F.slice length and stamp
    watermarks as rescue-on. Both paths fail loudly instead."""
    import pytest

    idx = str(tmp_path / "idx")
    di.update_near_dup_index(spark, _df(spark, ROWS_B1), idx, batch_id=0,
                             max_bucket_size=2)
    with pytest.raises(ValueError, match="fresh_reps_per_bucket"):
        di.reconcile_capped_buckets(
            spark, idx, max_bucket_size=2, fresh_reps_per_bucket=-1
        )
    with pytest.raises(ValueError, match="star_rescue_reps"):
        dedup.near_duplicates(
            _df(spark, ROWS_B1), max_bucket_size=2, oversize_policy="star",
            star_rescue_reps=-1,
        )


def test_reconcile_durable_staging_matches_local_checkpoint(spark, tmp_path):
    """Reconcile's lineage cuts — the repair tower's rounds and the
    pre-overwrite state (repaired, ghost hold, failures, prior partition
    rows, watermarks) — all go through functions/staging.stage, so a
    configured staging dir makes the longest-lived production path
    durable. Two copies of one capped chain-cluster index, reconciled with
    the staging dir set and unset, must return the same pairs and leave
    identical pairs/, failed/ and reconciled/ tables; the durable run must
    have written its intermediates as parquet under the staging dir."""
    import os
    import shutil

    from translator_tm_provider_pipelines_spark.functions.staging import (
        STAGING_DIR_CONF,
    )

    rows = _chain_rows()
    local_idx = str(tmp_path / "local")
    for bi, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        di.update_near_dup_index(
            spark, _df(spark, batch), local_idx, batch_id=bi,
            max_bucket_size=2, **CHAIN_LSH,
        )
    durable_idx = str(tmp_path / "durable")
    shutil.copytree(local_idx, durable_idx)
    settings = dict(max_bucket_size=2, threshold=0.85, k=3, repair_hops=-1)

    def pairs(df):
        return sorted(map(tuple, df.select("doc_a", "doc_b", "jaccard").collect()))

    spark.conf.unset(STAGING_DIR_CONF)
    got_local = pairs(di.reconcile_capped_buckets(spark, local_idx, **settings))
    sdir = str(tmp_path / "staging")
    spark.conf.set(STAGING_DIR_CONF, sdir)
    try:
        got_durable = pairs(
            di.reconcile_capped_buckets(spark, durable_idx, **settings)
        )
    finally:
        spark.conf.unset(STAGING_DIR_CONF)
    assert got_local and got_durable == got_local
    for sub in ("pairs", "failed", "reconciled"):
        local_rows = spark.read.parquet(f"{local_idx}/{sub}").collect()
        durable_rows = spark.read.parquet(f"{durable_idx}/{sub}").collect()
        assert local_rows and sorted(map(tuple, durable_rows)) == sorted(
            map(tuple, local_rows)
        ), sub
    staged = [
        name
        for d in os.listdir(sdir)
        for name in os.listdir(os.path.join(sdir, d))
        if name.endswith(".parquet")
    ]
    assert staged
