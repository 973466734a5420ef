"""CLI dispatch + option-grammar tests (end-to-end through tmp parquet)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from translator_tm_provider_pipelines_spark import cli, schemas


def test_parse_flags():
    assert cli.parse_flags("A|B|C") == ["A", "B", "C"]
    assert cli.parse_flags("") == []
    assert cli.parse_flags(None) == []


def test_unknown_pipeline_key():
    with pytest.raises(SystemExit):
        cli.main(["NOT_A_PIPELINE"])


def test_trailing_staging_dir_without_value_fails_loudly(tmp_path):
    """A trailing ``--stagingDir`` with no operand is a half-given flag:
    it must stop the run with a message naming the flag, not fall
    through to the pipeline parser or run without the asked-for
    durable staging."""
    out = tmp_path / "keep"
    with pytest.raises(SystemExit, match="--stagingDir requires a value"):
        cli.main(
            [
                "NEAR_DUP_KEEP_BEST",
                "--documents", str(tmp_path / "docs"),
                "--output", str(out),
                "--stagingDir",
            ]
        )
    assert not out.exists()


def test_sentence_segmentation_pipeline(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            ("d1", "TEXT", "TEXT", "MEDLINE_XML_TO_TEXT", "0.1.0",
             "One sentence. Two sentence.", 0, 1, ["PUBMED"]),
        ],
        schema=schemas.DOCUMENT,
    )
    status = spark.createDataFrame(
        [("d1", "2155", [], {"TEXT_DONE": True}, ["PUBMED"])], schema=schemas.STATUS
    )
    docs.write.parquet(str(tmp_path / "docs"))
    status.write.parquet(str(tmp_path / "status"))
    cli.run_sentence_segmentation(
        spark,
        [
            "--documents", str(tmp_path / "docs"),
            "--status", str(tmp_path / "status"),
            "--output", str(tmp_path / "out"),
            "--failures", str(tmp_path / "fail"),
            "--inputDocumentCriteria", "TEXT|TEXT|MEDLINE_XML_TO_TEXT|recent",
            "--requiredProcessingStatusFlags", "TEXT_DONE",
            "--collection", "PUBMED",
        ],
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 2
    assert {r.covered_text for r in out.collect()} == {"One sentence.", "Two sentence."}
    assert spark.read.parquet(str(tmp_path / "fail")).count() == 0


def test_metrics_pipeline_roundtrip(spark, tmp_path):
    uc = spark.createDataFrame(
        [("t1", "A:1"), ("t1", "A:2"), ("t2", "A:1"), ("t2", "A:2"), ("t3", "A:1")],
        "text_id string, concept_id string",
    )
    uc.write.parquet(str(tmp_path / "uc"))
    cli.run_concept_cooccurrence_metrics(
        spark,
        ["--unitConcepts", str(tmp_path / "uc"), "--output", str(tmp_path / "metrics")],
    )
    m = spark.read.parquet(str(tmp_path / "metrics")).collect()
    assert len(m) == 1
    assert m[0].pair_count == 2 and m[0].concept1_count == 3
    cli.run_concept_idf(
        spark,
        ["--unitConcepts", str(tmp_path / "uc"), "--output", str(tmp_path / "idf")],
    )
    idf = {r.concept_id: r.idf for r in spark.read.parquet(str(tmp_path / "idf")).collect()}
    import math
    assert idf["A:1"] == pytest.approx(round(math.log(3 / 3), 8))
    assert idf["A:2"] == pytest.approx(round(math.log(3 / 2), 8))


def test_oger_and_postprocess_pipelines(spark, tmp_path):
    docs = spark.createDataFrame(
        [("d1", "Breast cancer and the cancer spread fast.")],
        "doc_id string, content string",
    )
    dictionary = spark.createDataFrame(
        [("breast cancer", "MONDO:0007254"), ("cancer", "MONDO:0004992")],
        "term string, concept_id string",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    dictionary.write.parquet(str(tmp_path / "dict"))
    cli.run_oger(
        spark,
        ["--documents", str(tmp_path / "docs"), "--dictionary", str(tmp_path / "dict"),
         "--output", str(tmp_path / "annots")],
    )
    annots = spark.read.parquet(str(tmp_path / "annots"))
    assert annots.count() == 3
    cli.run_concept_post_process(
        spark,
        ["--annotations", str(tmp_path / "annots"), "--output", str(tmp_path / "clean")],
    )
    clean = spark.read.parquet(str(tmp_path / "clean"))
    # nested 'cancer' inside 'Breast cancer' removed; standalone kept
    assert clean.count() == 2


def test_abbreviation_pipeline(spark, tmp_path):
    docs = spark.createDataFrame(
        [("d1", "The heat shock protein (HSP) family is large.")],
        "doc_id string, content string",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    cli.run_abbreviation(
        spark, ["--documents", str(tmp_path / "docs"), "--output", str(tmp_path / "ab")]
    )
    out = spark.read.parquet(str(tmp_path / "ab"))
    assert {r.annot_type for r in out.collect()} == {"short_form", "long_form"}


def test_classified_storage_pipeline(spark, tmp_path):
    from translator_tm_provider_pipelines_spark import schemas

    meta = spark.createDataFrame(
        [(
            "s1", "d1", "CHEBI:1", "aspirin", [(0, 7)], "MONDO:2", "headache",
            [(15, 23)], None, "aspirin treats headache", None, "abstract",
            [], "1999", 0, [], [], [],
        )],
        schema=schemas.EXTRACTED_SENTENCE,
    )
    meta.write.parquet(str(tmp_path / "meta"))
    (tmp_path / "bert").mkdir()
    (tmp_path / "bert" / "part-0.tsv").write_text("s1\tph\t0.9\t0.05\t0.05\n")
    cli.run_classified_sentence_storage(
        spark,
        ["--bertOutput", str(tmp_path / "bert"),
         "--metadata", str(tmp_path / "meta"),
         "--association", "biolink:ChemicalToDiseaseOrPhenotypicFeatureAssociation",
         "--bertScoreInclusionMinimumThreshold", "0.5",
         "--outputDir", str(tmp_path / "out")],
    )
    assert spark.read.parquet(str(tmp_path / "out" / "assertion")).count() == 1
    assert spark.read.parquet(str(tmp_path / "out" / "evidence_score")).count() == 3


def test_full_pipeline_key_coverage():
    # every runnable PipelineMain dispatch case has a runner here
    reference_keys = {
        "ABBREVIATION", "BIOC_TO_TEXT", "COLLECTION_ASSIGNMENT", "CRF",
        "CONCEPT_COUNT_DISTRIBUTION", "CONCEPT_POST_PROCESS", "OGER_POST_PROCESS",
        "CONCEPT_ANNOTATION_EXPORT", "MEDLINE_XML_TO_TEXT",
        "CONCEPT_COOCCURRENCE_COUNTS", "CONCEPT_COOCCURRENCE_METRICS",
        "CONCEPT_IDF", "FILE_LOAD", "OGER", "BIGQUERY_EXPORT",
        "SENTENCE_EXTRACTION", "DEPENDENCY_PARSE_IMPORT",
        "DEPENDENCY_PARSE_TO_SENTENCE", "DEPENDENCY_PARSE_TO_CONLL03",
        "SENTENCE_SEGMENTATION", "SENTENCE_COOCCURRENCE_EXPORT",
        "WEBANNO_SENTENCE_EXTRACTION", "CLASSIFIED_SENTENCE_STORAGE",
        "UPDATE_MEDLINE_STATUS_ENTITIES", "ELASTICSEARCH_LOAD",
        "DOC_TEXT_AUGMENTATION", "FILTER_UNACTIONABLE_TEXT", "TEXT_EXPORT",
        "DRY_RUN", "BIORXIV_XML_TO_TEXT", "PUBANNOTATION_EXPORT",
    }
    assert reference_keys <= set(cli.PIPELINES)


@pytest.fixture()
def status_table(spark, tmp_path):
    status = spark.createDataFrame(
        [
            ("d1", "2155", [], {"TEXT_DONE": True, "SENT_DONE": False}, ["PUBMED"]),
            ("d2", "1999", [], {"TEXT_DONE": True, "SENT_DONE": True}, ["PUBMED"]),
            ("d3", "2001", [], {"TEXT_DONE": False}, ["PMC"]),
        ],
        schema=schemas.STATUS,
    )
    path = str(tmp_path / "status")
    status.write.parquet(path)
    return path


def test_dry_run(spark, tmp_path, status_table):
    cli.run_dry_run(
        spark,
        ["--status", status_table, "--output", str(tmp_path / "out"),
         "--requiredProcessingStatusFlags", "TEXT_DONE",
         "--targetProcessingStatusFlag", "SENT_DONE", "--collection", "PUBMED"],
    )
    assert {r.value for r in spark.read.text(str(tmp_path / "out")).collect()} == {"d1"}


def test_collection_assignment_runner(spark, tmp_path, status_table):
    cli.run_collection_assignment(
        spark,
        ["--status", status_table, "--output", str(tmp_path / "o1"), "--collection", "REDO"],
    )
    out = spark.read.parquet(str(tmp_path / "o1"))
    assert all("REDO" in r.collections for r in out.collect())
    cli.run_collection_assignment(
        spark,
        ["--status", str(tmp_path / "o1"), "--output", str(tmp_path / "o2"),
         "--collection", "REDO", "--remove"],
    )
    out2 = spark.read.parquet(str(tmp_path / "o2"))
    assert all("REDO" not in (r.collections or []) for r in out2.collect())


def test_update_medline_status_runner(spark, tmp_path, status_table):
    spark.createDataFrame(
        [("d3", "2020", ["JournalArticle"])],
        "doc_id string, pub_year string, pub_types array<string>",
    ).write.parquet(str(tmp_path / "med"))
    cli.run_update_medline_status(
        spark,
        ["--status", status_table, "--medlineDocs", str(tmp_path / "med"),
         "--output", str(tmp_path / "out")],
    )
    rows = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows["d3"].pub_year == "2020" and rows["d1"].pub_year == "2155"


def test_text_and_pubannotation_export_runners(spark, tmp_path):
    spark.createDataFrame(
        [("d1", "Aspirin treats headache.", ["PUBMED"])],
        "doc_id string, content string, collections array<string>",
    ).write.parquet(str(tmp_path / "docs"))
    cli.run_text_export(
        spark, ["--documents", str(tmp_path / "docs"), "--output", str(tmp_path / "t")]
    )
    lines = "\n".join(r.value for r in spark.read.text(str(tmp_path / "t")).collect())
    assert "###C: DOCUMENT_ID" in lines and "PUBMED" in lines
    spark.createDataFrame(
        [("d1", "concept", "CHEBI:1", [(0, 7)], "Aspirin")], schema=schemas.ANNOTATION
    ).write.parquet(str(tmp_path / "ann"))
    cli.run_pubannotation_export(
        spark,
        ["--documents", str(tmp_path / "docs"), "--annotations", str(tmp_path / "ann"),
         "--output", str(tmp_path / "pa")],
    )
    import json

    js = json.loads(spark.read.text(str(tmp_path / "pa")).collect()[0].value)
    assert js["sourceid"] == "d1" and js["denotations"][0]["obj"] == "CHEBI:1"


def test_bionlp_and_bigquery_export_runners(spark, tmp_path):
    spark.createDataFrame(
        [("d1", "Aspirin treats headache.")], "doc_id string, content string"
    ).write.parquet(str(tmp_path / "docs"))
    spark.createDataFrame(
        [("d1", "concept", "CHEBI:1", [(0, 7)], "Aspirin"),
         ("d1", "concept", "HP:2", [(15, 23)], "headache")],
        schema=schemas.ANNOTATION,
    ).write.parquet(str(tmp_path / "ann"))
    spark.createDataFrame(
        [("d1", "section", None, [(0, 24)], "Aspirin treats headache.")],
        schema=schemas.ANNOTATION,
    ).write.parquet(str(tmp_path / "sec"))
    cli.run_concept_annotation_export(
        spark,
        ["--documents", str(tmp_path / "docs"), "--annotations", str(tmp_path / "ann"),
         "--output", str(tmp_path / "bio")],
    )
    row = spark.read.parquet(str(tmp_path / "bio")).collect()[0]
    assert row.bionlp.startswith("T1\tCHEBI:1 0 7\tAspirin")
    cli.run_bigquery_export(
        spark,
        ["--conceptAnnotations", str(tmp_path / "ann"),
         "--sectionAnnotations", str(tmp_path / "sec"),
         "--output", str(tmp_path / "bq")],
    )
    assert spark.read.parquet(str(tmp_path / "bq/annotation_concept")).count() == 2
    assert spark.read.parquet(str(tmp_path / "bq/in_section")).count() == 2


def test_sentence_cooccurrence_and_webanno_runners(spark, tmp_path):
    spark.createDataFrame(
        [("d1", 0, 24, "Aspirin treats headache.")],
        "doc_id string, start int, end int, covered_text string",
    ).write.parquet(str(tmp_path / "sents"))
    spark.createDataFrame(
        [("d1", 0, 7, "CHEBI:1", "Aspirin"), ("d1", 15, 23, "HP:2", "headache")],
        "doc_id string, start int, end int, concept_id string, covered_text string",
    ).write.parquet(str(tmp_path / "concs"))
    cli.run_sentence_cooccurrence_export(
        spark,
        ["--sentences", str(tmp_path / "sents"), "--concepts", str(tmp_path / "concs"),
         "--output", str(tmp_path / "sc")],
    )
    lines = [r.value for r in spark.read.text(str(tmp_path / "sc")).collect()]
    assert any(line.startswith("SENT_COUNT\t1\td1") for line in lines)
    assert any("0|7|CHEBI:1;15|23|HP:2;" in line for line in lines)
    cli.run_webanno_sentence_extraction(
        spark,
        ["--sentences", str(tmp_path / "sents"), "--concepts", str(tmp_path / "concs"),
         "--output", str(tmp_path / "wa")],
    )
    wa = {r.value for r in spark.read.text(str(tmp_path / "wa")).collect()}
    assert "1-1\t0-7\tAspirin\tCHEBI:1" in wa


def test_crf_and_oger_post_process_runners(spark, tmp_path):
    spark.createDataFrame(
        [("d1", "concept", "CHEBI:1", [(0, 7)], "Aspirin"),
         ("d1", "concept", "CL:9", [(15, 23)], "headache")],
        schema=schemas.ANNOTATION,
    ).write.parquet(str(tmp_path / "ann"))
    spark.createDataFrame(
        [("d1", "crf", None, [(0, 5)], "Aspir")], schema=schemas.ANNOTATION
    ).write.parquet(str(tmp_path / "crf"))
    cli.run_crf(
        spark,
        ["--annotations", str(tmp_path / "ann"), "--crfAnnotations", str(tmp_path / "crf"),
         "--output", str(tmp_path / "out")],
    )
    kept = {r.concept_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert "CHEBI:1" in kept and "CL:9" not in kept
    spark.createDataFrame(
        [("CHEBI:1", "aspirin")], "concept_id string, dict_entry string"
    ).write.parquet(str(tmp_path / "dict"))
    cli.run_oger_post_process(
        spark,
        ["--annotations", str(tmp_path / "ann"), "--dictionary", str(tmp_path / "dict"),
         "--output", str(tmp_path / "o2")],
    )
    kept2 = {r.concept_id for r in spark.read.parquet(str(tmp_path / "o2")).collect()}
    assert "CHEBI:1" in kept2


def test_dependency_parse_import_and_augmentation_runners(spark, tmp_path):
    conllu_dir = tmp_path / "conllu"
    conllu_dir.mkdir()
    (conllu_dir / "doc1.conllu").write_text("1\tAspirin\t_\tNOUN\n")
    cli.run_dependency_parse_import(
        spark,
        ["--inputDir", str(conllu_dir), "--documents", str(tmp_path / "store"),
         "--collection", "PUBMED"],
    )
    docs = spark.read.parquet(str(tmp_path / "store"))
    row = docs.collect()[0]
    assert row.doc_format == "CONLLU" and row.collections == ["PUBMED"]
    spark.createDataFrame(
        [("d1", "The heart rate (HR) was high. " + chr(10))],
        "doc_id string, content string",
    ).write.parquet(str(tmp_path / "docs"))
    cli.run_doc_text_augmentation(
        spark, ["--documents", str(tmp_path / "docs"), "--output", str(tmp_path / "aug")]
    )
    assert spark.read.parquet(str(tmp_path / "aug")).count() == 1


def test_dict_kgx_trapi_runners(spark, tmp_path):
    import os
    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    out = str(tmp_path)
    cli.main([
        "OGER_DICT_BUILD", "--ontologyFile", os.path.join(fixtures, "sample_taxon.obo"),
        "--config", "NCBITaxon", "--promote", "--output", f"{out}/dict",
    ])
    d = spark.read.parquet(f"{out}/dict")
    assert d.where("term = 'homo'").count() == 1  # promotion applied
    cli.main([
        "ONTOLOGY_TO_KGX", "--ontologyFile", os.path.join(fixtures, "sample_kg.obo"),
        "--output", f"{out}/kgx",
    ])
    assert spark.read.parquet(f"{out}/kgx/nodes").count() == 14
    cli.main([
        "TRAPI_SERIALIZE", "--mode", "ontology", "--nodes", f"{out}/kgx/nodes",
        "--edges", f"{out}/kgx/edges", "--output", f"{out}/nt",
    ])
    # 42 node triples + 7 edge triples (incl. the unmapped develops_from
    # edge, which serializes with a literal <null> predicate)
    assert spark.read.text(f"{out}/nt").count() == 49


def test_brat_and_ner_runners(spark, tmp_path):
    import os
    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    out = str(tmp_path)
    cli.main([
        "BRAT_TO_BERT", "--bratDir", os.path.join(fixtures, "brat"),
        "--association", "biolink:ChemicalToDiseaseOrPhenotypicFeatureAssociation",
        "--output", f"{out}/bert",
    ])
    assert spark.read.csv(f"{out}/bert", sep="\t").count() == 3
    cli.main([
        "NER_BERT_TO_BIONLP", "--bertInput", os.path.join(fixtures, "bert_ner", "input.txt"),
        "--bertLabels", os.path.join(fixtures, "bert_ner", "labels.txt"),
        "--output", f"{out}/bionlp",
    ])
    assert spark.read.parquet(f"{out}/bionlp").count() == 2


def test_sql_upsert_runner(spark, tmp_path):
    import sqlite3

    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE scores (id TEXT PRIMARY KEY, v INTEGER)")
    conn.commit()
    conn.close()
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long")
    df.write.parquet(str(tmp_path / "in"))
    cli.main([
        "SQL_UPSERT", "--input", str(tmp_path / "in"), "--sqlite", db,
        "--table", "scores", "--keys", "id",
    ])
    df.selectExpr("id", "v + 10 AS v").write.mode("overwrite").parquet(str(tmp_path / "in2"))
    cli.main([
        "SQL_UPSERT", "--input", str(tmp_path / "in2"), "--sqlite", db,
        "--table", "scores", "--keys", "id",
    ])
    conn = sqlite3.connect(db)
    got = dict(conn.execute("SELECT id, v FROM scores").fetchall())
    conn.close()
    assert got == {"a": 11, "b": 12}


def test_pmid_extractor_runners(spark, tmp_path):
    xml = tmp_path / "m.xml"
    xml.write_text(
        """<?xml version="1.0"?>
<PubmedArticleSet>
  <PubmedArticle>
    <MedlineCitation>
      <PMID>11</PMID>
      <Article>
        <Journal><JournalIssue><PubDate><Year>1999</Year></PubDate></JournalIssue></Journal>
        <ArticleTitle>Has &lt;b&gt;bold&lt;/b&gt; markup.</ArticleTitle>
      </Article>
    </MedlineCitation>
  </PubmedArticle>
  <PubmedArticle>
    <MedlineCitation>
      <PMID>12</PMID>
      <Article>
        <Journal><JournalIssue><PubDate><Year>2005</Year></PubDate></JournalIssue></Journal>
        <ArticleTitle>Clean.</ArticleTitle>
      </Article>
    </MedlineCitation>
  </PubmedArticle>
</PubmedArticleSet>
"""
    )
    out = str(tmp_path)
    cli.main([
        "PMID_EXTRACT", "--xml", str(xml), "--target", "contains_html",
        "--output", f"{out}/html_ids",
    ])
    assert [r.value for r in spark.read.text(f"{out}/html_ids").collect()] == ["11"]
    cli.main(["PMID_TO_YEAR", "--xml", str(xml), "--output", f"{out}/years"])
    got = {
        tuple(r) for r in spark.read.csv(f"{out}/years", sep="\t").collect()
    }
    assert got == {("PMID:11", "1999"), ("PMID:12", "2005")}


def test_annot_batch_stats_runner(spark, tmp_path):
    lines = spark.createDataFrame(
        [
            ("annotator1", "batch1", "One."),
            ("annotator1", "batch1", "Two."),
            ("annotator1", "batch1", "DONE"),
            ("annotator2", "batch1", "Two."),
        ],
        "annotator string, batch string, line string",
    )
    src = str(tmp_path / "lines")
    lines.write.parquet(src)
    cli.main([
        "ANNOT_BATCH_STATS",
        "--lines", src,
        "--sizesOutput", str(tmp_path / "sizes"),
        "--overlapOutput", str(tmp_path / "overlap"),
    ])
    sizes = spark.read.csv(str(tmp_path / "sizes"), sep="\t", header=True)
    got = {(r.annotator, r.batch): int(r.n_sentences) for r in sizes.collect()}
    assert got == {("annotator1", "batch1"): 2, ("annotator2", "batch1"): 1}
    overlap = spark.read.csv(str(tmp_path / "overlap"), sep="\t", header=True)
    cells = {(r.batch_a, r.batch_b): int(r.n_overlap) for r in overlap.collect()}
    assert cells[("annotator1_batch1", "annotator2_batch1")] == 1
    assert len(cells) == 4


def test_semmed_idf_runner(spark, tmp_path):
    spark.createDataFrame(
        [("s1", "C1"), ("s2", "C1"), ("s1", "C2")], "sentence_id string, cui string"
    ).write.parquet(str(tmp_path / "ents"))
    spark.createDataFrame(
        [("s1", "p1"), ("s2", "p2")], "sentence_id string, pmid string"
    ).write.parquet(str(tmp_path / "sents"))
    cli.main([
        "SEMMED_IDF",
        "--entities", str(tmp_path / "ents"),
        "--sentences", str(tmp_path / "sents"),
        "--totalPmids", "100",
        "--output", str(tmp_path / "idf"),
    ])
    out = spark.read.csv(str(tmp_path / "idf"), sep="\t", header=True)
    got = {r.cui: float(r.idf) for r in out.collect()}
    import math

    assert got["C1"] == round(math.log(2 / 100), 3)
    assert got["C2"] == round(math.log(1 / 100), 3)


def test_semmed_eval_runner(spark, tmp_path):
    spark.createDataFrame(
        [
            ("f1", "pr1", "a1", "Assertion Correct", "TRUE"),
            ("f2", "pr2", "a2", "Assertion Incorrect", "TRUE"),
        ],
        "feedback_id string, predication_id string, answer_id string, "
        "answer string, response string",
    ).write.parquet(str(tmp_path / "results"))
    cli.main([
        "SEMMED_EVAL",
        "--results", str(tmp_path / "results"),
        "--output", str(tmp_path / "eval"),
    ])
    acc = spark.read.csv(str(tmp_path / "eval/accuracy"), sep="\t", header=True)
    row = acc.collect()[0]
    assert int(row.n_correct) == 1 and int(row.n_incorrect) == 1
    assert float(row.accuracy) == 0.5


def test_dictionary_dict_build_runners(spark, tmp_path):
    out = str(tmp_path)
    drugs = spark.createDataFrame(
        [("DB00945", "Aspirin", "pain reliever", ["Acetylsalicylic acid"]),
         ("DB99903", "Bee venom", None, ["apitoxin"])],
        "drugbank_id string, name string, description string, synonyms array<string>",
    )
    drugs.write.parquet(f"{out}/drugs")
    cli.main([
        "DRUGBANK_DICT_BUILD", "--drugs", f"{out}/drugs",
        "--output", f"{out}/dbdict",
    ])
    d = spark.read.parquet(f"{out}/dbdict")
    assert {r.concept_id for r in d.collect()} == {"DRUGBANK:DB00945"}

    descs = spark.createDataFrame(
        [("80146002", "Appendectomy"), ("363779003", "genotype"),
         ("12345678", "not a procedure")],
        "concept_id string, term string",
    )
    rels = spark.createDataFrame(
        [("71388002", "80146002"), ("71388002", "363779003")],
        "supertype_id string, subtype_id string",
    )
    descs.write.parquet(f"{out}/descs")
    rels.write.parquet(f"{out}/rels")
    cli.main([
        "PROCEDURE_DICT_BUILD", "--descriptions", f"{out}/descs",
        "--relations", f"{out}/rels", "--applySpecificFilter",
        "--output", f"{out}/procdict",
    ])
    pd_ = spark.read.parquet(f"{out}/procdict")
    got = {(r.concept_id, r.term) for r in pd_.collect()}
    assert ("SNOMEDCT:80146002", "Appendectomy") in got
    assert ("SNOMEDCT:363779003", "genotype") not in got  # specific filter on
    assert not any(c == "SNOMEDCT:12345678" for c, _ in got)


def test_round6_cli_keys(spark, tmp_path):
    """The round-6 PipelineKeys drive their operators end-to-end through
    cli.main: keep-best dedup, DSIR selection, temperature sampling,
    CCNet quality buckets."""
    from translator_tm_provider_pipelines_spark import cli

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "into the deep dark forest tonight again")
    rows = [
        (1, base, "src_a", 10),
        (2, base + " extra", "src_a", 99),
        (3, "completely different text about shuffle partitions windows "
            "aggregates and broadcast joins today", "src_b", 5),
        (4, "north south east west compass words entirely", "src_b", 7),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string, quality int")
    docs.write.parquet(str(tmp_path / "docs"))
    docs.where("doc_id >= 3").write.parquet(str(tmp_path / "target"))

    cli.main(["NEAR_DUP_KEEP_BEST", "--documents", str(tmp_path / "docs"),
              "--output", str(tmp_path / "kb"), "--qualityColumn", "quality"])
    kb = {r.doc_id: (r.is_kept, r.kept_id)
          for r in spark.read.parquet(str(tmp_path / "kb")).collect()}
    assert kb[2] == (True, 2) and kb[1] == (False, 2)  # best quality kept

    cli.main(["DSIR_SELECT", "--documents", str(tmp_path / "docs"),
              "--target", str(tmp_path / "target"),
              "--output", str(tmp_path / "dsir"), "--fraction", "0.5"])
    sel = {r.doc_id for r in spark.read.parquet(str(tmp_path / "dsir")).collect()}
    assert sel == {3, 4}  # target-register docs win

    cli.main(["TEMPERATURE_SAMPLE", "--documents", str(tmp_path / "docs"),
              "--output", str(tmp_path / "ts"), "--total", "2", "--alpha", "0.5"])
    ts = spark.read.parquet(str(tmp_path / "ts"))
    assert ts.count() == 2 and ts.select("source").distinct().count() == 2

    cli.main(["CCNET_QUALITY", "--documents", str(tmp_path / "docs"),
              "--output", str(tmp_path / "cq")])
    cq = spark.read.parquet(str(tmp_path / "cq"))
    assert set(cq.columns) == {"doc_id", "mean_logprob", "n_tokens", "bucket"}
    assert cq.count() == 4


def test_round7_sampling_keys_end_to_end(spark, tmp_path):
    """Round-7 PipelineKeys through cli.main: Gumbel importance
    resampling and token-budget source mixing."""
    from translator_tm_provider_pipelines_spark import cli

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "into the deep dark forest tonight again")
    rows = [
        (i, base + f" filler {i}", "src_a", 120) for i in range(8)
    ] + [
        (100 + i, "compass words north south east west entirely different "
                  f"text body {i}", "src_b", 60)
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id int, text string, source string, n_tokens int"
    )
    docs.write.parquet(str(tmp_path / "docs"))
    docs.where("doc_id >= 100").write.parquet(str(tmp_path / "target"))

    cli.main(["DSIR_GUMBEL_SAMPLE", "--documents", str(tmp_path / "docs"),
              "--target", str(tmp_path / "target"),
              "--output", str(tmp_path / "gs"), "--fraction", "0.5"])
    gs = spark.read.parquet(str(tmp_path / "gs"))
    assert gs.count() == 6  # floor(12 * 0.5)
    again = str(tmp_path / "gs2")
    cli.main(["DSIR_GUMBEL_SAMPLE", "--documents", str(tmp_path / "docs"),
              "--target", str(tmp_path / "target"),
              "--output", again, "--fraction", "0.5"])
    assert sorted(map(tuple, gs.collect())) == sorted(
        map(tuple, spark.read.parquet(again).collect())
    )  # seeded noise: reproducible

    cli.main(["TOKEN_BUDGET_SAMPLE", "--documents", str(tmp_path / "docs"),
              "--output", str(tmp_path / "tb"), "--budget", "500",
              "--alpha", "0.5"])
    tb = spark.read.parquet(str(tmp_path / "tb"))
    assert set(tb.columns) == {"doc_id", "source"}
    assert 0 < tb.count() < 12  # a real prefix cut, not all/nothing
