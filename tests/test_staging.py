"""Durable-staging tests (r13, VERDICT r12 task 7): the lineage-truncation
helper (functions/staging.stage) must behave exactly like localCheckpoint
when unconfigured (the bench/registry form) and must materialize parquet
intermediates under ``spark.translator_tm.stagingDir`` when configured —
the production form whose intermediates survive executor loss because they
live on the filesystem, not in executor block-manager state."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from translator_tm_provider_pipelines_spark import cli
from translator_tm_provider_pipelines_spark.functions.staging import (
    STAGING_DIR_CONF,
    stage,
)


def _frame(spark):
    return spark.range(0, 100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )


def test_stage_default_is_local_checkpoint(spark):
    spark.conf.unset(STAGING_DIR_CONF)
    out = stage(_frame(spark))
    # plan truncated to the materialized RDD — no upstream Range left
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan
    assert "LogicalRDD" in plan
    assert out.count() == 100


def test_stage_durable_writes_parquet(spark, tmp_path):
    sdir = str(tmp_path / "staging")
    spark.conf.set(STAGING_DIR_CONF, sdir)
    try:
        out = stage(_frame(spark))
    finally:
        spark.conf.unset(STAGING_DIR_CONF)
    # the staged frame reads back from durable files: its plan is a
    # parquet scan of the staging dir, not executor-local blocks
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    stages = os.listdir(sdir)
    assert len(stages) == 1 and stages[0].startswith("stage-")
    assert sorted(r.doc_id for r in out.collect()) == list(range(100))


def test_cli_defaults_to_durable_staging_and_cleans_up(spark, tmp_path):
    """A near-dup CLI run (whose tower stages candidate/verified frames)
    must default to durable intermediates derived from --output and
    remove the scratch dir after the run."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river", 0.5),
            (2, "the quick brown fox jumps over the lazy dog near the river", 0.9),
            (3, "completely unrelated text about spark parquet shuffles", 0.1),
        ],
        "doc_id int, text string, quality double",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    out = str(tmp_path / "keep")

    seen = {}
    orig_stage = stage

    def probe(df, eager=True):
        sess = df.sparkSession
        seen["dir"] = sess.conf.get(STAGING_DIR_CONF, None)
        return orig_stage(df, eager=eager)

    from translator_tm_provider_pipelines_spark.operators import dedup as dd

    monkey_ref = dd.stage
    dd.stage = probe
    try:
        rc = cli.main(
            [
                "NEAR_DUP_KEEP_BEST",
                "--documents", str(tmp_path / "docs"),
                "--output", out,
                "--qualityColumn", "quality",
            ]
        )
    finally:
        dd.stage = monkey_ref
    assert rc == 0
    assert seen["dir"] == out + "__staging"
    # scratch staging removed after the run; conf not leaked
    assert not os.path.exists(out + "__staging")
    assert spark.conf.get(STAGING_DIR_CONF, None) in (None, "")
    kept = {r.doc_id: r.kept_id for r in spark.read.parquet(out).collect()}
    assert kept[1] == 2 and kept[2] == 2 and kept[3] == 3


def test_cli_output_dir_flag_defaults_to_durable_staging(spark, tmp_path):
    """A pipeline whose output flag is --outputDir (CLASSIFIED_SENTENCE_
    STORAGE, which stages its gated base table) must derive the default
    <outputDir>__staging like --output runs do, not fall back to
    localCheckpoint, and remove it after the run."""
    from translator_tm_provider_pipelines_spark import schemas
    from translator_tm_provider_pipelines_spark.operators import classified as clf

    spark.createDataFrame(
        [(
            "s1", "d1", "CHEBI:1", "aspirin", [(0, 7)], "MONDO:2", "headache",
            [(15, 23)], None, "aspirin treats headache", None, "abstract",
            [], "1999", 0, [], [], [],
        )],
        schema=schemas.EXTRACTED_SENTENCE,
    ).write.parquet(str(tmp_path / "meta"))
    (tmp_path / "bert").mkdir()
    (tmp_path / "bert" / "part-0.tsv").write_text("s1\tph\t0.9\t0.05\t0.05\n")
    out = str(tmp_path / "out")

    seen = {}
    orig_stage = clf.stage

    def probe(df, eager=True):
        seen["dir"] = df.sparkSession.conf.get(STAGING_DIR_CONF, None)
        return orig_stage(df, eager=eager)

    clf.stage = probe
    try:
        rc = cli.main(
            [
                "CLASSIFIED_SENTENCE_STORAGE",
                "--bertOutput", str(tmp_path / "bert"),
                "--metadata", str(tmp_path / "meta"),
                "--association",
                "biolink:ChemicalToDiseaseOrPhenotypicFeatureAssociation",
                "--bertScoreInclusionMinimumThreshold", "0.5",
                f"--outputDir={out}/",
            ]
        )
    finally:
        clf.stage = orig_stage
    assert rc == 0
    assert seen["dir"] == out + "__staging"
    assert not os.path.exists(out + "__staging")
    assert spark.conf.get(STAGING_DIR_CONF, None) in (None, "")
    assert spark.read.parquet(f"{out}/assertion").count() == 1


def test_cli_explicit_staging_dir_is_kept(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", 0.5),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa", 0.9),
        ],
        "doc_id int, text string, quality double",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    sdir = str(tmp_path / "mystaging")
    rc = cli.main(
        [
            "NEAR_DUP_KEEP_BEST",
            "--documents", str(tmp_path / "docs"),
            "--output", str(tmp_path / "keep"),
            "--qualityColumn", "quality",
            "--stagingDir", sdir,
        ]
    )
    assert rc == 0
    # user-specified staging survives the run with at least one staged table
    assert os.path.isdir(sdir) and any(
        n.startswith("stage-") for n in os.listdir(sdir)
    )
    assert spark.conf.get(STAGING_DIR_CONF, None) in (None, "")


def test_no_raw_local_checkpoint_outside_staging():
    """Every lineage-truncation point goes through ``stage`` so that a
    configured staging dir makes it durable: no module of the package
    may call ``.localCheckpoint(`` itself."""
    import translator_tm_provider_pipelines_spark as pkg

    root = os.path.dirname(pkg.__file__)
    allowed = os.path.join(root, "functions", "staging.py")
    offenders = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == allowed:
                continue
            with open(path, encoding="utf-8") as fh:
                for no, line in enumerate(fh, 1):
                    if ".localCheckpoint(" in line:
                        offenders.append(f"{os.path.relpath(path, root)}:{no}")
    assert not offenders, offenders
