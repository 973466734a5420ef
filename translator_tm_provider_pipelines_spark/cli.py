"""CLI: PipelineKey dispatch + the reference's option grammar (SURVEY §3.1).

Reference: .../etl/PipelineMain.java:124-236 — ``args[0]`` selects a
PipelineKey, the rest configure it; input documents are specified with the
``TYPE|FORMAT|PIPELINE|VERSION;...`` mini-DSL
(compileInputDocumentCriteria :1065-1078) and required status flags as a
'|'-delimited list (compileRequiredProcessingStatusFlags :1080-1086).

Each pipeline here is a thin wiring function: read partitioned parquet
tables, run the operator-layer functions, write outputs. The heavy
semantics live in ``operators/``; the CLI is replaceable by any
orchestrator (Airflow, dbt, plain spark-submit).
"""

from __future__ import annotations

import argparse
from collections.abc import Callable

from pyspark.sql import SparkSession

from .operators import documents as docops
from .operators.documents import parse_criteria  # re-export for callers


def parse_flags(spec: str | None) -> list[str]:
    """'FLAG_A|FLAG_B' → list (compileRequiredProcessingStatusFlags)."""
    if not spec:
        return []
    return [f for f in spec.split("|") if f]


def _common_io_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--documents", required=True, help="documents parquet table path")
    p.add_argument("--status", required=True, help="status parquet table path")
    p.add_argument("--output", required=True, help="output path")
    p.add_argument("--failures", help="failure side-channel output path")
    p.add_argument(
        "--inputDocumentCriteria",
        required=True,
        help="TYPE|FORMAT|PIPELINE|VERSION;... (PipelineMain.java:1065-1078)",
    )
    p.add_argument("--requiredProcessingStatusFlags", default="")
    p.add_argument("--targetProcessingStatusFlag")
    p.add_argument("--collection")
    p.add_argument("--overwrite", action="store_true")


def _load_joined(spark: SparkSession, ns: argparse.Namespace):
    status = spark.read.parquet(ns.status)
    docs = spark.read.parquet(ns.documents)
    criteria = parse_criteria(ns.inputDocumentCriteria)
    joined, failures = docops.universal_input_join(
        status,
        docs,
        criteria,
        required_flags=parse_flags(ns.requiredProcessingStatusFlags),
        target_flag=ns.targetProcessingStatusFlag,
        collection=ns.collection,
        overwrite=ns.overwrite,
    )
    if ns.failures:
        failures.write.mode("overwrite").parquet(ns.failures)
    return joined, criteria


def run_sentence_segmentation(spark: SparkSession, argv: list[str]) -> None:
    """SENTENCE_SEGMENTATION: text documents → sentence annotations."""
    from pyspark.sql import functions as F

    from .operators import sentences as sentops

    p = argparse.ArgumentParser(prog="SENTENCE_SEGMENTATION")
    _common_io_args(p)
    ns = p.parse_args(argv)
    joined, criteria = _load_joined(spark, ns)
    text = joined.select(
        "doc_id", F.col("contents").getItem(criteria[0].key).alias("content")
    )
    sents = sentops.segment_sentences(text)
    sentops.sentences_as_annotations(sents).write.mode("overwrite").parquet(ns.output)


def run_concept_cooccurrence_counts(spark: SparkSession, argv: list[str]) -> None:
    """CONCEPT_COOCCURRENCE_COUNTS: annotations → doc-to-concept relation."""
    from pyspark.sql import functions as F

    p = argparse.ArgumentParser(prog="CONCEPT_COOCCURRENCE_COUNTS")
    p.add_argument("--annotations", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    annots = spark.read.parquet(ns.annotations)
    annots.where(F.col("concept_id").isNotNull()).select(
        F.col("doc_id").alias("text_id"), "concept_id"
    ).distinct().write.mode("overwrite").parquet(ns.output)


def run_concept_cooccurrence_metrics(spark: SparkSession, argv: list[str]) -> None:
    """CONCEPT_COOCCURRENCE_METRICS: doc-to-concept → pair metrics table."""
    from .operators import cooccurrence as co

    p = argparse.ArgumentParser(prog="CONCEPT_COOCCURRENCE_METRICS")
    p.add_argument("--unitConcepts", required=True)
    p.add_argument("--ancestorMap", help="(concept_id, ancestor_id) parquet")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    uc = spark.read.parquet(ns.unitConcepts)
    anc = spark.read.parquet(ns.ancestorMap) if ns.ancestorMap else None
    co.cooccurrence_chain_from_rows(uc, ancestors=anc).write.mode(
        "overwrite"
    ).parquet(ns.output)


def run_concept_idf(spark: SparkSession, argv: list[str]) -> None:
    """CONCEPT_IDF: doc-to-concept → per-concept IDF."""
    from .operators import cooccurrence as co

    p = argparse.ArgumentParser(prog="CONCEPT_IDF")
    p.add_argument("--unitConcepts", required=True)
    p.add_argument("--ancestorMap")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    uc = spark.read.parquet(ns.unitConcepts)
    anc = spark.read.parquet(ns.ancestorMap) if ns.ancestorMap else None
    co.concept_idf(uc, ancestors=anc).write.mode("overwrite").parquet(ns.output)


def run_medline_xml_to_text(spark: SparkSession, argv: list[str]) -> None:
    """MEDLINE_XML_TO_TEXT: PubMed XML → documents + section annotations.

    With ``--documentsStore``/``--statusStore`` also materializes the
    engine's document + status tables the way the reference's
    MedlineXmlToTextPipeline seeds Datastore (a TEXT|TEXT document content
    entity per article and a status entity with TEXT_DONE set,
    MedlineXmlToTextPipeline.java + PipelineMain status creation) — the
    entry point of the chained workflow."""
    from pyspark.sql import functions as F

    from .sources import medline

    p = argparse.ArgumentParser(prog="MEDLINE_XML_TO_TEXT")
    p.add_argument("--xml", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--sectionsOutput")
    p.add_argument("--documentsStore", help="DOCUMENT-schema parquet store output")
    p.add_argument("--statusStore", help="STATUS-schema parquet store output")
    p.add_argument("--collection", default="PUBMED")
    p.add_argument("--pipelineVersion", default="0.1.0")
    ns = p.parse_args(argv)
    docs = medline.medline_documents(medline.read_medline_xml(spark, ns.xml))
    docs.write.mode("overwrite").parquet(ns.output)
    if ns.sectionsOutput:
        medline.medline_section_annotations(docs).write.mode("overwrite").parquet(
            ns.sectionsOutput
        )
    if ns.documentsStore:
        docs.select(
            "doc_id",
            F.lit("TEXT").alias("doc_type"),
            F.lit("TEXT").alias("doc_format"),
            F.lit("MEDLINE_XML_TO_TEXT").alias("pipeline_key"),
            F.lit(ns.pipelineVersion).alias("pipeline_version"),
            "content",
            F.lit(0).cast("long").alias("chunk_id"),
            F.lit(1).cast("long").alias("chunk_total"),
            F.array(F.lit(ns.collection)).alias("collections"),
        ).write.mode("overwrite").parquet(ns.documentsStore)
    if ns.statusStore:
        docs.select(
            "doc_id",
            F.coalesce("pub_year", F.lit("2155")).alias("pub_year"),
            "pub_types",
            F.create_map(F.lit("TEXT_DONE"), F.lit(True)).alias("flags"),
            F.array(F.lit(ns.collection)).alias("collections"),
        ).write.mode("overwrite").parquet(ns.statusStore)


def run_pmid_extract(spark: SparkSession, argv: list[str]) -> None:
    """PMID_EXTRACT (corpora/PmidExtractor.java): PMIDs whose
    title/abstract does / does not contain HTML markup, as one-column
    text shards (the .ids files)."""
    from .sources import medline

    p = argparse.ArgumentParser(prog="PMID_EXTRACT")
    p.add_argument("--xml", required=True)
    p.add_argument(
        "--target",
        required=True,
        choices=["contains_html", "does_not_contain_html"],
    )
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    raw = medline.read_medline_xml(spark, ns.xml)
    pmids = medline.extract_pmids(raw, ns.target == "contains_html")
    pmids.write.mode("overwrite").text(ns.output)


def run_pmid_to_year(spark: SparkSession, argv: list[str]) -> None:
    """PMID_TO_YEAR (corpora/PmidToYearExtractor.java): (PMID:id, year)
    TSV shards (the .pubyear.tsv files)."""
    from .sources import medline, sinks

    p = argparse.ArgumentParser(prog="PMID_TO_YEAR")
    p.add_argument("--xml", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    raw = medline.read_medline_xml(spark, ns.xml)
    sinks.write_tsv(medline.pmid_to_year(raw), ns.output)


def run_medline_ui_metadata(spark: SparkSession, argv: list[str]) -> None:
    """MEDLINE_UI_METADATA (corpora/MedlineUiMetadataExtractor.java):
    publication metadata TSV for the Translator UI team, plus the
    DeleteCitation PMID sidecar (.delete.tsv equivalent)."""
    from .sources import medline, sinks

    p = argparse.ArgumentParser(prog="MEDLINE_UI_METADATA")
    p.add_argument("--xml", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--deleteOutput", help="where to write deleted PMIDs")
    ns = p.parse_args(argv)
    raw = medline.read_medline_xml(spark, ns.xml)
    sinks.write_tsv(medline.ui_metadata(raw), ns.output, header=True)
    if ns.deleteOutput:
        medline.deleted_pmids(spark, ns.xml).write.mode("overwrite").text(
            ns.deleteOutput
        )


def run_bioc_to_text(spark: SparkSession, argv: list[str]) -> None:
    """BIOC_TO_TEXT: PMC BioC XML → documents + section annotations."""
    from .sources import bioc

    p = argparse.ArgumentParser(prog="BIOC_TO_TEXT")
    p.add_argument("--xml", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--sectionsOutput")
    ns = p.parse_args(argv)
    docs = bioc.bioc_documents(bioc.read_bioc_xml(spark, ns.xml))
    docs.write.mode("overwrite").parquet(ns.output)
    if ns.sectionsOutput:
        bioc.bioc_section_annotations(docs).write.mode("overwrite").parquet(
            ns.sectionsOutput
        )


def run_biorxiv_xml_to_text(spark: SparkSession, argv: list[str]) -> None:
    """BIORXIV_XML_TO_TEXT: JATS XML files → documents."""
    from .sources import bioc

    p = argparse.ArgumentParser(prog="BIORXIV_XML_TO_TEXT")
    p.add_argument("--xml", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    bioc.jats_documents(spark, ns.xml).write.mode("overwrite").parquet(ns.output)


def run_file_load(spark: SparkSession, argv: list[str]) -> None:
    """FILE_LOAD: <dir>/*<suffix> files → documents (id = basename)."""
    from .sources import files as filesrc

    p = argparse.ArgumentParser(prog="FILE_LOAD")
    p.add_argument("--dir", required=True)
    p.add_argument("--suffix", default=".txt")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    filesrc.load_files(spark, ns.dir, ns.suffix).write.mode("overwrite").parquet(ns.output)


def run_oger(spark: SparkSession, argv: list[str]) -> None:
    """OGER: dictionary concept recognition over text documents.

    Two input shapes: a plain (doc_id, content) parquet via
    ``--documents`` alone, or the chained-workflow store form — pass
    ``--status`` + ``--inputDocumentCriteria`` (and optionally the flag
    gates) and the documents are pulled through the universal input join
    exactly as the reference's OgerPipeline reads Datastore through
    PipelineMain's status gating."""
    from pyspark.sql import functions as F

    from .operators import ner

    p = argparse.ArgumentParser(prog="OGER")
    p.add_argument("--documents", required=True, help="(doc_id, content) parquet")
    p.add_argument("--dictionary", required=True, help="(term, concept_id) parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--caseSensitive", action="store_true")
    p.add_argument("--maxTermTokens", type=int, default=3)
    p.add_argument("--status", help="STATUS parquet: enables gated store input")
    p.add_argument("--inputDocumentCriteria")
    p.add_argument("--requiredProcessingStatusFlags", default="")
    p.add_argument("--targetProcessingStatusFlag")
    p.add_argument("--collection")
    p.add_argument("--overwrite", action="store_true")
    p.add_argument("--failures")
    ns = p.parse_args(argv)
    if ns.status:
        if not ns.inputDocumentCriteria:
            raise SystemExit("--status requires --inputDocumentCriteria")
        joined, criteria = _load_joined(spark, ns)
        docs = joined.select(
            "doc_id", F.col("contents").getItem(criteria[0].key).alias("content")
        )
    else:
        docs = spark.read.parquet(ns.documents)
    dictionary = ner.normalize_dictionary(spark.read.parquet(ns.dictionary))
    ner.dictionary_concept_recognition(
        docs, dictionary,
        max_term_tokens=ns.maxTermTokens,
        case_insensitive=not ns.caseSensitive,
    ).write.mode("overwrite").parquet(ns.output)


def run_concept_post_process(spark: SparkSession, argv: list[str]) -> None:
    """CONCEPT_POST_PROCESS: stopword/short/bracket/nesting cleanup chain."""
    from .operators import conceptfilters as cf

    p = argparse.ArgumentParser(prog="CONCEPT_POST_PROCESS")
    p.add_argument("--annotations", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--lengthThreshold", type=int, default=4)
    ns = p.parse_args(argv)
    annots = spark.read.parquet(ns.annotations)
    out = cf.remove_nested_annotations(
        cf.remove_odd_bracket_matches(
            cf.remove_ncbi_stopwords(
                cf.remove_matches_less_than(annots, ns.lengthThreshold)
            )
        )
    )
    out.write.mode("overwrite").parquet(ns.output)


def run_sentence_extraction(spark: SparkSession, argv: list[str]) -> None:
    """SENTENCE_EXTRACTION: relation-candidate sentences for an association."""
    from .functions import biolink
    from .operators import ner, sentences as sentops

    p = argparse.ArgumentParser(prog="SENTENCE_EXTRACTION")
    p.add_argument("--documents", required=True, help="(doc_id, content) parquet")
    p.add_argument("--annotations", required=True, help="concept annotations parquet")
    p.add_argument("--association", required=True, choices=sorted(biolink.ASSOCIATIONS))
    p.add_argument("--keywords", default="")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    docs = spark.read.parquet(ns.documents)
    annots = spark.read.parquet(ns.annotations)
    sents = sentops.segment_sentences(docs)
    ext = sentops.extract_sentences(
        sents, annots,
        keywords=[k for k in ns.keywords.split("|") if k] or None,
        **biolink.extraction_args(ns.association),
    )
    sentops.extracted_sentence_tsv(ext).write.mode("overwrite").text(ns.output)


def run_abbreviation(spark: SparkSession, argv: list[str]) -> None:
    """ABBREVIATION: Schwartz-Hearst short/long-form annotation pairs."""
    from .operators import abbreviations as ab

    p = argparse.ArgumentParser(prog="ABBREVIATION")
    p.add_argument("--documents", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    abbrevs = ab.detect_abbreviations(spark.read.parquet(ns.documents))
    ab.abbreviation_annotations(abbrevs).write.mode("overwrite").parquet(ns.output)


def run_dependency_parse_to_sentence(spark: SparkSession, argv: list[str]) -> None:
    """DEPENDENCY_PARSE_TO_SENTENCE: CoNLL-U → sentence rows."""
    from .operators import conllu

    p = argparse.ArgumentParser(prog="DEPENDENCY_PARSE_TO_SENTENCE")
    p.add_argument("--conllu", required=True, help="(doc_id, conllu) parquet")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    conllu.conllu_sentences(spark.read.parquet(ns.conllu)).write.mode(
        "overwrite"
    ).parquet(ns.output)


def run_dependency_parse_to_conll03(spark: SparkSession, argv: list[str]) -> None:
    """DEPENDENCY_PARSE_TO_CONLL03: CoNLL-U → CoNLL03 token lines."""
    from .operators import conllu

    p = argparse.ArgumentParser(prog="DEPENDENCY_PARSE_TO_CONLL03")
    p.add_argument("--conllu", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    conllu.conll03_export(
        conllu.conllu_tokens(spark.read.parquet(ns.conllu))
    ).write.mode("overwrite").parquet(ns.output)


def run_filter_unactionable_text(spark: SparkSession, argv: list[str]) -> None:
    """FILTER_UNACTIONABLE_TEXT: truncate trailing non-actionable sections."""
    from .operators import conceptfilters as cf

    p = argparse.ArgumentParser(prog="FILTER_UNACTIONABLE_TEXT")
    p.add_argument("--documents", required=True)
    p.add_argument("--sections", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    cf.filter_unactionable_text(
        spark.read.parquet(ns.documents), spark.read.parquet(ns.sections)
    ).write.mode("overwrite").parquet(ns.output)


def run_concept_count_distribution(spark: SparkSession, argv: list[str]) -> None:
    """CONCEPT_COUNT_DISTRIBUTION: (count, concept, label) TSV."""
    from .operators import exports as ex

    p = argparse.ArgumentParser(prog="CONCEPT_COUNT_DISTRIBUTION")
    p.add_argument("--unitConcepts", required=True)
    p.add_argument("--labels")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    uc = spark.read.parquet(ns.unitConcepts)
    labels = spark.read.parquet(ns.labels) if ns.labels else None
    from .sources.sinks import write_tsv

    write_tsv(ex.concept_count_distribution(uc, labels), ns.output)


def run_classified_sentence_storage(spark: SparkSession, argv: list[str]) -> None:
    """CLASSIFIED_SENTENCE_STORAGE: scores ⋈ metadata → assertion DB tables."""
    from .functions import biolink
    from .operators import classified as clf

    p = argparse.ArgumentParser(prog="CLASSIFIED_SENTENCE_STORAGE")
    p.add_argument("--bertOutput", required=True, help="classifier TSV lines")
    p.add_argument("--metadata", required=True, help="EXTRACTED_SENTENCE parquet")
    p.add_argument("--association", required=True, choices=sorted(biolink.ASSOCIATIONS))
    p.add_argument("--bertScoreInclusionMinimumThreshold", type=float, required=True)
    p.add_argument("--outputDir", required=True)
    ns = p.parse_args(argv)
    assoc = biolink.ASSOCIATIONS[ns.association]
    scores = clf.parse_bert_output(spark.read.text(ns.bertOutput), list(assoc.predicates))
    tables = clf.classified_sentence_tables(
        scores,
        spark.read.parquet(ns.metadata),
        association_id=assoc.association_id,
        subject_placeholder=assoc.subject.placeholder,
        entity1_placeholder=assoc.subject.placeholder,
        threshold=ns.bertScoreInclusionMinimumThreshold,
    )
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{ns.outputDir.rstrip('/')}/{name}")


def run_elasticsearch_load(spark: SparkSession, argv: list[str]) -> None:
    """ELASTICSEARCH_LOAD: sentence JSON docs → bulk-format lines."""
    from .operators import exports as ex
    from .sources.sinks import es_bulk_lines

    p = argparse.ArgumentParser(prog="ELASTICSEARCH_LOAD")
    p.add_argument("--sentences", required=True, help="(sentence_id, doc_id, sentence, start, end, concepts) parquet")
    p.add_argument("--index", default="sentences")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    docs = ex.es_sentence_json(spark.read.parquet(ns.sentences))
    es_bulk_lines(docs, ns.index, "sentence_id", "json").write.mode("overwrite").text(
        ns.output
    )


def run_dry_run(spark: SparkSession, argv: list[str]) -> None:
    """DRY_RUN (DryRunPipeline): list the document ids the given status
    filters WOULD select, without processing anything."""
    p = argparse.ArgumentParser(prog="DRY_RUN")
    p.add_argument("--status", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--requiredProcessingStatusFlags", default="")
    p.add_argument("--targetProcessingStatusFlag", required=True)
    p.add_argument("--collection")
    ns = p.parse_args(argv)
    status = spark.read.parquet(ns.status)
    selected = docops.status_to_process(
        status,
        required_flags=parse_flags(ns.requiredProcessingStatusFlags),
        target_flag=ns.targetProcessingStatusFlag,
        collection=ns.collection,
    )
    selected.select("doc_id").write.mode("overwrite").text(ns.output)


def run_collection_assignment(spark: SparkSession, argv: list[str]) -> None:
    """COLLECTION_ASSIGNMENT: add/remove a collection label on status rows
    (CollectionAssignmentPipeline / UpdateIdCollectionPipeline)."""
    from .operators import collections as coll

    p = argparse.ArgumentParser(prog="COLLECTION_ASSIGNMENT")
    p.add_argument("--status", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--collection", required=True, help="collection label to edit")
    p.add_argument("--docIds", help="(doc_id) parquet; default: all rows")
    p.add_argument("--remove", action="store_true", help="remove instead of add")
    ns = p.parse_args(argv)
    status = spark.read.parquet(ns.status)
    ids = spark.read.parquet(ns.docIds) if ns.docIds else None
    if ns.remove:
        out = coll.remove_collection(status, ns.collection, doc_ids=ids)
    else:
        # ids=None → pure column edit on every row (no join, no broadcast)
        out = coll.assign_collection(status, ids, ns.collection)
    out.write.mode("overwrite").parquet(ns.output)


def run_update_medline_status(spark: SparkSession, argv: list[str]) -> None:
    """UPDATE_MEDLINE_STATUS_ENTITIES: backfill pub_year/pub_types on status
    rows from freshly parsed Medline documents."""
    from .operators import collections as coll

    p = argparse.ArgumentParser(prog="UPDATE_MEDLINE_STATUS_ENTITIES")
    p.add_argument("--status", required=True)
    p.add_argument("--medlineDocs", required=True, help="(doc_id, pub_year, pub_types) parquet")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    coll.update_medline_status(
        spark.read.parquet(ns.status), spark.read.parquet(ns.medlineDocs)
    ).write.mode("overwrite").parquet(ns.output)


def run_update_status_flags(spark: SparkSession, argv: list[str]) -> None:
    """UPDATE_STATUS_FLAGS: stage-end status maintenance — set a done-flag
    true for every document a stage actually processed (updateStatusEntity,
    PipelineMain.java:954-1030). The chained workflow runs this between
    stages so the next stage's required/target flag gating sees the new
    state."""
    from .operators import documents as docops_mod

    p = argparse.ArgumentParser(prog="UPDATE_STATUS_FLAGS")
    p.add_argument("--status", required=True, help="current STATUS parquet")
    p.add_argument(
        "--processed", required=True, help="parquet with a doc_id column"
    )
    p.add_argument("--flag", required=True)
    p.add_argument("--output", required=True, help="updated STATUS parquet")
    ns = p.parse_args(argv)
    docops_mod.update_status_flags(
        spark.read.parquet(ns.status),
        spark.read.parquet(ns.processed),
        ns.flag,
    ).write.mode("overwrite").parquet(ns.output)


def run_near_dup_index_update(spark: SparkSession, argv: list[str]) -> None:
    """NEAR_DUP_INDEX_UPDATE: absorb a batch of new documents into the
    persisted incremental MinHash/LSH index (streaming/dedup_index.py);
    prints how many new verified near-dup pairs the batch produced."""
    from pyspark.sql import functions as F

    from .streaming import dedup_index as di

    p = argparse.ArgumentParser(prog="NEAR_DUP_INDEX_UPDATE")
    p.add_argument("--newDocs", required=True, help="(doc_id, text) parquet")
    p.add_argument("--indexDir", required=True)
    p.add_argument("--batchId", type=int, required=True)
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--maxBucketSize", type=int, default=None)
    p.add_argument("--oversizePolicy", choices=["drop", "star"], default="drop")
    p.add_argument("--textColumn", default="text")
    p.add_argument("--idColumn", default="doc_id")
    ns = p.parse_args(argv)
    pairs = di.update_near_dup_index(
        spark,
        spark.read.parquet(ns.newDocs),
        ns.indexDir,
        ns.batchId,
        threshold=ns.threshold,
        text_col=ns.textColumn,
        id_col=ns.idColumn,
        max_bucket_size=ns.maxBucketSize,
        oversize_policy=ns.oversizePolicy,
    )
    # count from the freshly WRITTEN partition, not the `pairs` plan:
    # re-executing the plan would (a) roughly double batch cost and (b) on
    # a retried --batchId read through a stale file listing whose old
    # batch files the dynamic-partition overwrite just deleted
    # (FileNotFoundException after the index was already updated).
    # _read_index returns None for a pairs table with no data files yet —
    # legitimate while no batch has produced a duplicate.
    written = di._read_index(spark, ns.indexDir, "pairs")
    n = (
        0
        if written is None
        else written.where(F.col("batch_id") == ns.batchId).count()
    )
    print(f"batch {ns.batchId}: {n} new verified pairs")


def run_near_dup_index_compact(spark: SparkSession, argv: list[str]) -> None:
    """NEAR_DUP_INDEX_COMPACT: merge all batch partitions <= --uptoBatch of
    the incremental index into one partition (small-file maintenance after
    hundreds of micro-batches; see streaming/dedup_index.py:compact_index
    for the crash-safety contract). Only pass committed batch ids."""
    from .streaming import dedup_index as di

    p = argparse.ArgumentParser(prog="NEAR_DUP_INDEX_COMPACT")
    p.add_argument("--indexDir", required=True)
    p.add_argument("--uptoBatch", type=int, required=True)
    p.add_argument("--targetPartitions", type=int, default=None)
    ns = p.parse_args(argv)
    removed = di.compact_index(
        spark, ns.indexDir, ns.uptoBatch, target_partitions=ns.targetPartitions
    )
    for sub, n in removed.items():
        print(f"{sub}: merged, {n} old batch partitions removed")


def run_near_dup_index_reconcile(spark: SparkSession, argv: list[str]) -> None:
    """NEAR_DUP_INDEX_RECONCILE: re-derive star-policy edges for buckets
    that outgrew --maxBucketSize across batches (late arrivals to capped
    buckets otherwise stay unlinked; see dedup_index.reconcile_capped_buckets)."""
    from pyspark.sql import functions as F

    from .streaming import dedup_index as di

    p = argparse.ArgumentParser(prog="NEAR_DUP_INDEX_RECONCILE")
    p.add_argument("--indexDir", required=True)
    p.add_argument("--reconcileId", type=int, default=0,
                   help="maintenance-run counter; pairs land at the NEGATIVE "
                        "partition batch_id=-(1+reconcileId), disjoint from "
                        "stream epoch ids. Re-running the same id is safe "
                        "even after new ingest (prior repairs are unioned "
                        "back into the rewrite) — a cron job can keep the "
                        "default forever")
    p.add_argument("--maxBucketSize", type=int, required=True)
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--repairHops", type=int, default=0,
                   help="star second-hop repair passes after the base "
                        "re-star; negative = until converged")
    p.add_argument("--noWatermarks", action="store_true",
                   help="ground-truth control: ignore AND do not advance "
                        "stored repair watermarks, re-verifying every "
                        "over-cap bucket. Implies --noPersistFailures — a "
                        "true control must not skip known-failed edges "
                        "either, and must not record this diagnostic "
                        "run's failures into the live index")
    p.add_argument("--noPersistFailures", action="store_true",
                   help="neither skip known-failed edges nor record this "
                        "run's failures (ground-truth control runs; "
                        "implied by --noWatermarks)")
    p.add_argument("--freshRepsPerBucket", type=int, default=64,
                   help="per-bucket per-run bound on the untried-member "
                        "rescue star (unattached over-cap members with "
                        "untried qualifying edges to ATTACHED co-bucket "
                        "members — starved late arrivals and backlog "
                        "members alike); 0 disables")
    p.add_argument("--rescueMinBands", type=int, default=1,
                   help="deterministic band-agreement prefilter for "
                        "rescue edges: a pair qualifies only when it "
                        "shares at least this many over-cap buckets. "
                        "The default 1 optimizes exactness (nothing "
                        "prefiltered); 2 is the 100 TB setting, saving "
                        "~32-34%% maintenance wall for ~0.01%% of "
                        "attachments (J>=0.8 pairs share ~6.6 of 16 "
                        "bands; half-overlap strangers ~1). Must match "
                        "the batch comparator's --starRescueMinBands "
                        "for keep-list equality")
    ns = p.parse_args(argv)
    repaired = di.reconcile_capped_buckets(
        spark, ns.indexDir, ns.maxBucketSize, threshold=ns.threshold,
        reconcile_id=ns.reconcileId, repair_hops=ns.repairHops,
        use_watermarks=not ns.noWatermarks,
        # --noWatermarks implies --noPersistFailures: with failures still
        # persisted (or skipped) the "re-verify everything" promise above
        # would be false, and the control would contaminate the live
        # failed/ table with a partition keyed by this diagnostic run's id
        persist_failures=not (ns.noPersistFailures or ns.noWatermarks),
        fresh_reps_per_bucket=ns.freshRepsPerBucket,
        rescue_min_shared_bands=ns.rescueMinBands,
    )
    # count the function's return (materialized handle): the partition on
    # disk is cumulative across same-id re-runs — counting it would report
    # prior runs' repairs as this run's
    n = repaired.count()
    part = di.reconcile_partition_id(ns.reconcileId)
    written = di._read_index(spark, ns.indexDir, "pairs")
    total = 0 if written is None else written.where(F.col("batch_id") == part).count()
    print(
        f"reconcile run {ns.reconcileId}: {n} newly repaired pairs "
        f"({total} total in reconcile partition)"
    )


def run_near_dup_index_stats(spark: SparkSession, argv: list[str]) -> None:
    """NEAR_DUP_INDEX_STATS: maintenance gauge for a capped incremental
    index — prints over-cap bucket/member/stranded counts as one JSON
    line, plus 'reconcile recommended' when stranded members exceed the
    --maxStranded watermark (see dedup_index.index_bucket_stats)."""
    import json as _json

    from .streaming import dedup_index as di

    p = argparse.ArgumentParser(prog="NEAR_DUP_INDEX_STATS")
    p.add_argument("--indexDir", required=True)
    p.add_argument("--maxBucketSize", type=int, required=True)
    p.add_argument("--maxStranded", type=int, default=0)
    p.add_argument("--watermarkAware", action="store_true",
                   help="also report n_unreconciled_buckets under the "
                        "reconcile settings below, and only recommend a "
                        "reconcile when some over-cap bucket is NOT "
                        "covered by its stored repair watermark — "
                        "permanently stranded members stop scheduling "
                        "no-op maintenance runs")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--shingleK", type=int, default=3)
    p.add_argument("--repairHops", type=int, default=0)
    p.add_argument("--repsPerHop", type=int, default=8)
    p.add_argument("--freshRepsPerBucket", type=int, default=64)
    p.add_argument("--rescueMinBands", type=int, default=1)
    ns = p.parse_args(argv)
    settings = None
    if ns.watermarkAware:
        settings = {
            "threshold": ns.threshold,
            "k": ns.shingleK,
            "repair_hops": ns.repairHops,
            "reps_per_hop": ns.repsPerHop,
            "fresh_reps_per_bucket": ns.freshRepsPerBucket,
            "rescue_min_shared_bands": ns.rescueMinBands,
        }
    stats = di.index_bucket_stats(
        spark, ns.indexDir, ns.maxBucketSize, reconcile_settings=settings
    )
    print(_json.dumps(stats))
    if di.should_reconcile(stats, ns.maxStranded):
        print("reconcile recommended")


def run_near_dup_keep_best(spark: SparkSession, argv: list[str]) -> None:
    """NEAR_DUP_KEEP_BEST: quality-aware dedup keep list — clusters as in
    NEAR_DUP_KEEP_LIST (batch), but the kept representative is the member
    with the highest --qualityColumn value (FineWeb/DataComp recipe)."""
    from .operators import dedup as dd

    p = argparse.ArgumentParser(prog="NEAR_DUP_KEEP_BEST")
    p.add_argument("--documents", required=True, help="(doc_id, text, quality) parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--qualityColumn", required=True)
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--maxBucketSize", type=int, default=None)
    p.add_argument("--oversizePolicy", choices=["drop", "star"], default="drop")
    p.add_argument("--starRepairHops", type=int, default=0,
                   help="star-repair hops; negative = until converged")
    p.add_argument("--starRescueReps", type=int, default=0,
                   help="per-bucket per-round bound on the post-hop "
                        "promotion-starvation rescue (unattached over-cap "
                        "members propose untried edges to ATTACHED "
                        "co-bucket members, iterated until drained); "
                        "0 disables")
    p.add_argument("--starRescueMinBands", type=int, default=1,
                   help="deterministic band-agreement prefilter for "
                        "rescue edges (shared over-cap buckets); the "
                        "default 1 optimizes exactness, 2 is the "
                        "100 TB setting (floor sweep in SCALING.md)")
    ns = p.parse_args(argv)
    dd.near_dup_keep_best(
        spark.read.parquet(ns.documents),
        quality_col=ns.qualityColumn,
        threshold=ns.threshold,
        max_bucket_size=ns.maxBucketSize,
        oversize_policy=ns.oversizePolicy,
        star_repair_hops=ns.starRepairHops,
        star_rescue_reps=ns.starRescueReps,
        star_rescue_min_bands=ns.starRescueMinBands,
    ).write.mode("overwrite").parquet(ns.output)


def run_dsir_select(spark: SparkSession, argv: list[str]) -> None:
    """DSIR_SELECT: importance-resampling data selection (Xie et al.
    2023) — score raw docs by hashed-n-gram likelihood ratio against a
    target corpus, keep the top fraction."""
    from .operators import training as tr

    p = argparse.ArgumentParser(prog="DSIR_SELECT")
    p.add_argument("--documents", required=True, help="raw corpus parquet")
    p.add_argument("--target", required=True, help="target-distribution corpus parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--fraction", type=float, required=True)
    p.add_argument("--nBuckets", type=int, default=8192)
    p.add_argument("--textColumn", default="text")
    p.add_argument("--idColumn", default="doc_id")
    ns = p.parse_args(argv)
    tr.dsir_select(
        spark.read.parquet(ns.documents),
        spark.read.parquet(ns.target),
        fraction=ns.fraction,
        n_buckets=ns.nBuckets,
        text_col=ns.textColumn,
        id_col=ns.idColumn,
    ).write.mode("overwrite").parquet(ns.output)


def run_temperature_sample(spark: SparkSession, argv: list[str]) -> None:
    """TEMPERATURE_SAMPLE: n^alpha source-mixing quotas filled by
    deterministic md5 rank (mT5/XLM-R alpha-sampling)."""
    from .operators import training as tr

    p = argparse.ArgumentParser(prog="TEMPERATURE_SAMPLE")
    p.add_argument("--documents", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--total", type=int, required=True)
    p.add_argument("--alpha", type=float, default=0.5)
    p.add_argument("--sourceColumn", default="source")
    p.add_argument("--idColumn", default="doc_id")
    ns = p.parse_args(argv)
    tr.temperature_sample(
        spark.read.parquet(ns.documents),
        total=ns.total,
        alpha=ns.alpha,
        source_col=ns.sourceColumn,
        id_col=ns.idColumn,
    ).write.mode("overwrite").parquet(ns.output)


def run_dsir_gumbel_sample(spark: SparkSession, argv: list[str]) -> None:
    """DSIR_GUMBEL_SAMPLE: DSIR importance resampling proper — a
    without-replacement sample ∝ importance weight via seeded
    deterministic Gumbel-top-k (engine-reproducible; boundary-slice
    ranked like DSIR_SELECT)."""
    from .operators import training as tr

    p = argparse.ArgumentParser(prog="DSIR_GUMBEL_SAMPLE")
    p.add_argument("--documents", required=True, help="raw corpus parquet")
    p.add_argument("--target", required=True, help="target-distribution corpus parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--fraction", type=float, required=True)
    p.add_argument("--seed", default="g0")
    p.add_argument("--nBuckets", type=int, default=8192)
    p.add_argument("--textColumn", default="text")
    p.add_argument("--idColumn", default="doc_id")
    ns = p.parse_args(argv)
    tr.dsir_gumbel_sample(
        spark.read.parquet(ns.documents),
        spark.read.parquet(ns.target),
        fraction=ns.fraction,
        seed=ns.seed,
        n_buckets=ns.nBuckets,
        text_col=ns.textColumn,
        id_col=ns.idColumn,
    ).write.mode("overwrite").parquet(ns.output)


def run_token_budget_sample(spark: SparkSession, argv: list[str]) -> None:
    """TOKEN_BUDGET_SAMPLE: temperature source mixing with the quota
    denominated in tokens — per-source (Σtokens)^alpha quotas filled as a
    greedy prefix of the deterministic md5 order."""
    from .operators import training as tr

    p = argparse.ArgumentParser(prog="TOKEN_BUDGET_SAMPLE")
    p.add_argument("--documents", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--budget", type=float, required=True, help="total token budget")
    p.add_argument("--alpha", type=float, default=0.5)
    p.add_argument("--tokenColumn", default="n_tokens")
    p.add_argument("--sourceColumn", default="source")
    p.add_argument("--idColumn", default="doc_id")
    ns = p.parse_args(argv)
    tr.token_budget_sample(
        spark.read.parquet(ns.documents),
        budget=ns.budget,
        alpha=ns.alpha,
        token_col=ns.tokenColumn,
        source_col=ns.sourceColumn,
        id_col=ns.idColumn,
    ).write.mode("overwrite").parquet(ns.output)


def run_ccnet_quality(spark: SparkSession, argv: list[str]) -> None:
    """CCNET_QUALITY: unigram-LM mean logprob + head/middle/tail tercile
    buckets (Wenzek et al. 2020); optional external --reference corpus."""
    from .operators import textanalysis as ta

    p = argparse.ArgumentParser(prog="CCNET_QUALITY")
    p.add_argument("--documents", required=True)
    p.add_argument("--reference", help="reference-LM corpus parquet (default: self)")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    ref = spark.read.parquet(ns.reference) if ns.reference else None
    ta.perplexity_buckets(
        spark.read.parquet(ns.documents), reference=ref
    ).write.mode("overwrite").parquet(ns.output)


def run_ivf_retrain(spark: SparkSession, argv: list[str]) -> None:
    """IVF_RETRAIN: retrain the frozen IVF coarse quantizer over the
    indexed corpus and rewrite the index (the ivf_should_retrain
    prescription); prints the fresh centroids as JSON lines."""
    import json as _json

    from .operators import similarity as sim

    p = argparse.ArgumentParser(prog="IVF_RETRAIN")
    p.add_argument("--indexDir", required=True)
    p.add_argument("--nLists", type=int, default=16)
    p.add_argument("--nIters", type=int, default=3)
    p.add_argument("--sampleFraction", type=float, default=None)
    p.add_argument("--exactSeed", action="store_true",
                   help="exact full-corpus farthest-first seeding: "
                        "n_lists driver-coordinated scans — small "
                        "corpora only (measured 111x slower than the "
                        "default one-scan deterministic oversample at "
                        "2k vectors / 16 lists)")
    ns = p.parse_args(argv)
    cents = sim.retrain_ivf_index(
        spark, ns.indexDir, n_lists=ns.nLists, n_iters=ns.nIters,
        sample_fraction=ns.sampleFraction, exact_seed=ns.exactSeed,
    )
    for cid, vec in cents:
        print(_json.dumps({"centroid_id": cid, "vector": vec}))


def run_near_dup_keep_list_export(spark: SparkSession, argv: list[str]) -> None:
    """NEAR_DUP_KEEP_LIST: materialize (doc_id, canonical_id, is_kept)
    from the incremental index."""
    from .streaming import dedup_index as di

    p = argparse.ArgumentParser(prog="NEAR_DUP_KEEP_LIST")
    p.add_argument("--indexDir", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    di.keep_list_from_index(spark, ns.indexDir).write.mode("overwrite").parquet(
        ns.output
    )



def run_near_dup_index_keep_best(spark: SparkSession, argv: list[str]) -> None:
    """NEAR_DUP_INDEX_KEEP_BEST: quality-aware keep list from the
    incremental index — clusters from the accumulated verified pairs,
    kept member = highest --qualityColumn in the --quality side table
    (the index stores only doc_id/text); unscored docs rank last."""
    from .streaming import dedup_index as di

    p = argparse.ArgumentParser(prog="NEAR_DUP_INDEX_KEEP_BEST")
    p.add_argument("--indexDir", required=True)
    p.add_argument("--quality", required=True,
                   help="(doc_id, <qualityColumn>) parquet side table")
    p.add_argument("--qualityColumn", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--idColumn", default="doc_id")
    ns = p.parse_args(argv)
    di.keep_best_from_index(
        spark, ns.indexDir, spark.read.parquet(ns.quality),
        ns.qualityColumn, id_col=ns.idColumn,
    ).write.mode("overwrite").parquet(ns.output)


def run_text_export(spark: SparkSession, argv: list[str]) -> None:
    """TEXT_EXPORT: '###C:'-commented text hand-off files (Turku input)."""
    from .operators import collections as coll

    p = argparse.ArgumentParser(prog="TEXT_EXPORT")
    p.add_argument("--documents", required=True, help="(doc_id, content[, collections]) parquet")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    coll.text_export_lines(spark.read.parquet(ns.documents)).write.mode("overwrite").text(ns.output)


def run_pubannotation_export(spark: SparkSession, argv: list[str]) -> None:
    """PUBANNOTATION_EXPORT: {text, denotations} JSON per document."""
    from .operators import collections as coll

    p = argparse.ArgumentParser(prog="PUBANNOTATION_EXPORT")
    p.add_argument("--documents", required=True)
    p.add_argument("--annotations", required=True)
    p.add_argument("--sourceDb", default="PubMed")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    coll.pubannotation_json(
        spark.read.parquet(ns.documents), spark.read.parquet(ns.annotations), source_db=ns.sourceDb
    ).select("json").write.mode("overwrite").text(ns.output)


def run_bigquery_export(spark: SparkSession, argv: list[str]) -> None:
    """BIGQUERY_EXPORT: the 4-table relational annotation export
    (annotation / in-section / relation / ancestor load files)."""
    from .operators import exports as ex

    p = argparse.ArgumentParser(prog="BIGQUERY_EXPORT")
    p.add_argument("--conceptAnnotations", required=True)
    p.add_argument("--sectionAnnotations", required=True)
    p.add_argument("--ancestorMap", help="(concept_id, ancestor_id) parquet")
    p.add_argument("--output", required=True, help="output directory (one subdir per table)")
    ns = p.parse_args(argv)
    concepts = spark.read.parquet(ns.conceptAnnotations)
    sections = spark.read.parquet(ns.sectionAnnotations)
    c_table = ex.bigquery_annotation_table(concepts, layer="CONCEPT")
    s_table = ex.bigquery_annotation_table(sections, layer="SECTION")
    c_table.write.mode("overwrite").parquet(f"{ns.output}/annotation_concept")
    s_table.write.mode("overwrite").parquet(f"{ns.output}/annotation_section")
    ex.bigquery_in_section_table(c_table, s_table).write.mode("overwrite").parquet(
        f"{ns.output}/in_section"
    )
    if ns.ancestorMap:
        ex.bigquery_ancestor_table(spark.read.parquet(ns.ancestorMap)).write.mode(
            "overwrite"
        ).parquet(f"{ns.output}/ancestor")


def run_concept_annotation_export(spark: SparkSession, argv: list[str]) -> None:
    """CONCEPT_ANNOTATION_EXPORT: post-processed annotations as BioNLP
    standoff blobs + the document text."""
    from .operators import exports as ex

    p = argparse.ArgumentParser(prog="CONCEPT_ANNOTATION_EXPORT")
    p.add_argument("--documents", required=True, help="(doc_id, content) parquet")
    p.add_argument("--annotations", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    docs = spark.read.parquet(ns.documents)
    bionlp = ex.bionlp_lines(spark.read.parquet(ns.annotations))
    docs.join(bionlp, "doc_id", "left").write.mode("overwrite").parquet(ns.output)


def run_sentence_cooccurrence_export(spark: SparkSession, argv: list[str]) -> None:
    """SENTENCE_COOCCURRENCE_EXPORT: per-sentence concept membership lines
    (SentenceCooccurrenceBuilder format)."""
    from .operators import exports as ex

    p = argparse.ArgumentParser(prog="SENTENCE_COOCCURRENCE_EXPORT")
    p.add_argument("--sentences", required=True, help="(doc_id, start, end, covered_text)")
    p.add_argument("--concepts", required=True, help="(doc_id, start, end, concept_id, covered_text)")
    p.add_argument("--stopwords", help="one stopword per line, text file")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    sw = None
    if ns.stopwords:
        sw = [r.value for r in spark.read.text(ns.stopwords).collect()]
    # blob form: one row per document (header + ordered sentence lines), so
    # sharded text output keeps every document's lines contiguous
    ex.sentence_cooccurrence_blobs(
        spark.read.parquet(ns.sentences), spark.read.parquet(ns.concepts), stopwords=sw
    ).select("blob").write.mode("overwrite").text(ns.output)


def run_webanno_sentence_extraction(spark: SparkSession, argv: list[str]) -> None:
    """WEBANNO_SENTENCE_EXTRACTION: WebAnno token TSV for sentences with
    ≥ 2 concept annotations."""
    from .operators import exports as ex

    p = argparse.ArgumentParser(prog="WEBANNO_SENTENCE_EXTRACTION")
    p.add_argument("--sentences", required=True)
    p.add_argument("--concepts", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    # blob form: token lines stay in (sent_num, tok_num) order per document
    ex.webanno_sentence_blobs(
        spark.read.parquet(ns.sentences), spark.read.parquet(ns.concepts)
    ).select("blob").write.mode("overwrite").text(ns.output)


def run_crf(spark: SparkSession, argv: list[str]) -> None:
    """CRF: confirm concept annotations against CRF model output (overlap
    semi-join; types without a model pass through)."""
    from .operators import conceptfilters as cf

    p = argparse.ArgumentParser(prog="CRF")
    p.add_argument("--annotations", required=True)
    p.add_argument("--crfAnnotations", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    cf.filter_via_crf(
        spark.read.parquet(ns.annotations), spark.read.parquet(ns.crfAnnotations)
    ).write.mode("overwrite").parquet(ns.output)


def run_oger_post_process(spark: SparkSession, argv: list[str]) -> None:
    """OGER_POST_PROCESS: spurious-match removal against the OGER dictionary
    (Levenshtein + slash/digit/number-suffix rules)."""
    from .operators import conceptfilters as cf

    p = argparse.ArgumentParser(prog="OGER_POST_PROCESS")
    p.add_argument("--annotations", required=True)
    p.add_argument("--dictionary", required=True, help="(concept_id, dict_entry) parquet")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    cf.remove_spurious_matches(
        spark.read.parquet(ns.annotations), spark.read.parquet(ns.dictionary)
    ).write.mode("overwrite").parquet(ns.output)


def run_dependency_parse_import(spark: SparkSession, argv: list[str]) -> None:
    """DEPENDENCY_PARSE_IMPORT (DependencyParseStoragePipeline): load
    externally produced CoNLL-U files into the document store."""
    from .sources.files import load_files
    from .sources.tables import write_documents

    p = argparse.ArgumentParser(prog="DEPENDENCY_PARSE_IMPORT")
    p.add_argument("--inputDir", required=True)
    p.add_argument("--suffix", default=".conllu")
    p.add_argument("--documents", required=True, help="documents table path")
    p.add_argument("--pipelineVersion", default="0.1.0")
    p.add_argument("--collection")
    ns = p.parse_args(argv)
    from pyspark.sql import functions as F

    loaded = load_files(spark, ns.inputDir, suffix=ns.suffix)
    docs = loaded.select(
        "doc_id",
        F.lit("DEPENDENCY_PARSE").alias("doc_type"),
        F.lit("CONLLU").alias("doc_format"),
        F.lit("DEPENDENCY_PARSE").alias("pipeline_key"),
        F.lit(ns.pipelineVersion).alias("pipeline_version"),
        "content",
        F.lit(0).cast("long").alias("chunk_id"),
        F.lit(1).cast("long").alias("chunk_total"),
        (F.array(F.lit(ns.collection)) if ns.collection else F.array().cast("array<string>")).alias(
            "collections"
        ),
    )
    write_documents(docs, ns.documents)


def run_doc_text_augmentation(spark: SparkSession, argv: list[str]) -> None:
    """DOC_TEXT_AUGMENTATION: append blanked abbreviation-definition
    sentences after the document end marker."""
    from .operators import abbreviations as ab

    p = argparse.ArgumentParser(prog="DOC_TEXT_AUGMENTATION")
    p.add_argument("--documents", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    docs = spark.read.parquet(ns.documents)
    ab.augment_document_text(docs, ab.detect_abbreviations(docs)).write.mode(
        "overwrite"
    ).parquet(ns.output)


def run_oger_dict_build(spark: SparkSession, argv: list[str]) -> None:
    """OGER_DICT_BUILD (oger/dict/*OgerDictFileFactory): OBO ontology →
    (term, concept_id) match dictionary with the per-ontology rule chain;
    optional NCBITaxon promotion."""
    from .operators import ogerdict
    from .sources import obo

    p = argparse.ArgumentParser(prog="OGER_DICT_BUILD")
    p.add_argument("--ontologyFile", required=True, help="OBO file (.obo or .obo.gz)")
    p.add_argument("--config", required=True, choices=sorted(ogerdict.CONFIGS))
    p.add_argument("--promote", action="store_true", help="apply taxon promotion")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    terms = obo.read_obo_terms(spark, ns.ontologyFile)
    d = ogerdict.build_oger_dictionary(terms, ogerdict.CONFIGS[ns.config])
    if ns.promote:
        d = ogerdict.promote_taxon_dictionary(d, terms)
    d.write.mode("overwrite").parquet(ns.output)


def run_drugbank_dict_build(spark: SparkSession, argv: list[str]) -> None:
    """DRUGBANK_DICT_BUILD (oger/dict/DrugbankOgerDictFileFactory.java:25-135):
    Drugbank-record parquet (drugbank_id, name, description,
    synonyms array<string>) → drug match dictionary."""
    from .operators import ogerdict

    p = argparse.ArgumentParser(prog="DRUGBANK_DICT_BUILD")
    p.add_argument("--drugs", required=True, help="Drugbank-record parquet")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    d = ogerdict.drugbank_dictionary(spark.read.parquet(ns.drugs))
    d.write.mode("overwrite").parquet(ns.output)


def run_procedure_dict_build(spark: SparkSession, argv: list[str]) -> None:
    """PROCEDURE_DICT_BUILD (oger/dict/ProcedureOgerDictFileFactory.java:28-287):
    SNOMED descriptions parquet (concept_id, term) + transitive-subclass
    relations parquet (supertype_id, subtype_id) → procedure dictionary."""
    from .operators import ogerdict

    p = argparse.ArgumentParser(prog="PROCEDURE_DICT_BUILD")
    p.add_argument("--descriptions", required=True, help="(concept_id, term) parquet")
    p.add_argument(
        "--relations", required=True, help="(supertype_id, subtype_id) parquet"
    )
    p.add_argument(
        "--applySpecificFilter", action="store_true",
        help="engage the reference's dead-code per-concept synonym drops",
    )
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    d = ogerdict.procedure_dictionary(
        spark.read.parquet(ns.descriptions),
        spark.read.parquet(ns.relations),
        apply_specific_filter=ns.applySpecificFilter,
    )
    d.write.mode("overwrite").parquet(ns.output)


def run_ontology_to_kgx(spark: SparkSession, argv: list[str]) -> None:
    """ONTOLOGY_TO_KGX (kg/OntologyToKgx): OBO ontology → KGX node/edge
    tables with biolink categories and association types."""
    from .operators import kgxontology as kgo
    from .sources import obo

    p = argparse.ArgumentParser(prog="ONTOLOGY_TO_KGX")
    p.add_argument("--ontologyFile", required=True)
    p.add_argument("--output", required=True, help="output dir (nodes/ + edges/)")
    ns = p.parse_args(argv)
    terms = obo.read_obo_terms(spark, ns.ontologyFile)
    attrs = kgo._with_categories(terms)
    kgo.ontology_kgx_nodes(terms, attrs=attrs).write.mode("overwrite").parquet(
        f"{ns.output}/nodes"
    )
    kgo.ontology_kgx_edges(terms, attrs=attrs).write.mode("overwrite").parquet(
        f"{ns.output}/edges"
    )


def run_trapi_serialize(spark: SparkSession, argv: list[str]) -> None:
    """TRAPI_SERIALIZE (trapi/*TrapiBackendSerializer): KGX node/edge
    tables → N-triples lines for the Blazegraph TRAPI backend."""
    from .operators import trapi

    p = argparse.ArgumentParser(prog="TRAPI_SERIALIZE")
    p.add_argument("--mode", choices=("ontology", "assoc"), required=True)
    p.add_argument("--nodes", required=True)
    p.add_argument("--edges", required=True)
    p.add_argument("--evidenceNodes", help="evidence node table (assoc mode)")
    p.add_argument("--strict", action="store_true", help="raise on unmapped prefixes")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    nodes = spark.read.parquet(ns.nodes)
    edges = spark.read.parquet(ns.edges)
    if ns.mode == "ontology":
        lines = trapi.ontology_nodes_nt(nodes, strict=ns.strict).unionByName(
            trapi.ontology_edges_nt(edges, strict=ns.strict)
        )
    else:
        lines = trapi.assoc_entity_nodes_nt(nodes).unionByName(
            trapi.assoc_edges_nt(edges)
        )
        if ns.evidenceNodes:
            lines = lines.unionByName(
                trapi.assoc_evidence_nodes_nt(spark.read.parquet(ns.evidenceNodes))
            )
    lines.write.mode("overwrite").text(ns.output)


def run_brat_to_bert(spark: SparkSession, argv: list[str]) -> None:
    """BRAT_TO_BERT (relation_extraction/BratToBertConverter): annotated
    brat directory → BERT training rows."""
    from .functions import biolink
    from .operators import relext
    from .sources import brat as bratsrc

    p = argparse.ArgumentParser(prog="BRAT_TO_BERT")
    p.add_argument("--bratDir", required=True)
    p.add_argument("--association", required=True, choices=sorted(biolink.ASSOCIATIONS))
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    ann = bratsrc.read_brat_files(spark, ns.bratDir, "ann")
    txt = bratsrc.read_brat_files(spark, ns.bratDir, "txt")
    relext.bert_training_examples(
        bratsrc.txt_sentences(txt),
        bratsrc.parse_ann_entities(ann),
        bratsrc.parse_ann_relations(ann),
        biolink.ASSOCIATIONS[ns.association],
    ).write.mode("overwrite").option("sep", "\t").csv(ns.output)


def run_brat_batch_create(spark: SparkSession, argv: list[str]) -> None:
    """BRAT_BATCH_CREATE (BratAssertionAnnotationFileCreator): extracted
    sentences → paged brat .ann/.txt annotation batch contents."""
    from .functions import biolink
    from .operators import relext

    p = argparse.ArgumentParser(prog="BRAT_BATCH_CREATE")
    p.add_argument("--extractedSentences", required=True)
    p.add_argument("--association", required=True, choices=sorted(biolink.ASSOCIATIONS))
    p.add_argument("--batchSize", type=int, required=True)
    p.add_argument("--alreadyAnnotated", help="parquet with a 'hash' column")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    already = spark.read.parquet(ns.alreadyAnnotated) if ns.alreadyAnnotated else None
    relext.brat_annotation_batch(
        spark.read.parquet(ns.extractedSentences),
        biolink.ASSOCIATIONS[ns.association],
        batch_size=ns.batchSize,
        already_annotated=already,
    ).write.mode("overwrite").partitionBy("page").parquet(ns.output)


def run_sheet_batch_create(spark: SparkSession, argv: list[str]) -> None:
    """SHEET_BATCH_CREATE (GoogleSheetsAssertionAnnotationSheetCreator):
    extracted sentences → annotation-sheet rows (header+cells parquet;
    push through operators.sheets.write_assertion_sheet with a real
    SheetsClient to create the spreadsheet)."""
    from .functions import biolink
    from .operators import sheets as sheetops

    p = argparse.ArgumentParser(prog="SHEET_BATCH_CREATE")
    p.add_argument("--extractedSentences", required=True)
    p.add_argument("--association", required=True, choices=sorted(biolink.ASSOCIATIONS))
    p.add_argument("--batchSize", type=int, required=True)
    p.add_argument("--includeInverse", action="store_true")
    p.add_argument("--alreadyAnnotated", help="parquet with a 'hash' column")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    already = spark.read.parquet(ns.alreadyAnnotated) if ns.alreadyAnnotated else None
    sheetops.assertion_sheet_rows(
        spark.read.parquet(ns.extractedSentences),
        biolink.ASSOCIATIONS[ns.association],
        batch_size=ns.batchSize,
        include_inverse=ns.includeInverse,
        already_annotated=already,
    ).write.mode("overwrite").parquet(ns.output)


def run_sheet_to_bert(spark: SparkSession, argv: list[str]) -> None:
    """SHEET_TO_BERT (GoogleSheetsToBertInputFileCreator): annotated
    sheet rows → (hash, sentence, label) BERT training TSV."""
    from .functions import biolink
    from .operators import sheets as sheetops
    from .sources import sinks

    p = argparse.ArgumentParser(prog="SHEET_TO_BERT")
    p.add_argument("--sheetRows", required=True, help="parquet of sheet rows")
    p.add_argument("--association", required=True, choices=sorted(biolink.ASSOCIATIONS))
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    sinks.write_tsv(
        sheetops.sheet_to_bert_training(
            spark.read.parquet(ns.sheetRows), biolink.ASSOCIATIONS[ns.association]
        ),
        ns.output,
    )


def run_ner_bert_to_bionlp(spark: SparkSession, argv: list[str]) -> None:
    """NER_BERT_TO_BIONLP (NerBertToBionlpConverter): line-aligned BERT
    NER input/label files → BioNLP standoff blobs per document."""
    from .operators import relext
    from .operators import exports as ex

    p = argparse.ArgumentParser(prog="NER_BERT_TO_BIONLP")
    p.add_argument("--bertInput", required=True)
    p.add_argument("--bertLabels", required=True)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    tokens = relext.parse_bert_ner_files(spark, ns.bertInput, ns.bertLabels)
    ex.bionlp_lines(relext.ner_bert_entities(tokens)).write.mode("overwrite").parquet(
        ns.output
    )


def run_sql_upsert(spark: SparkSession, argv: list[str]) -> None:
    """SQL_UPSERT (K3, ConceptCooccurrenceMetricsPipeline JDBC loads):
    batched INSERT..ON CONFLICT DO UPDATE of a parquet table into a SQL
    database — sqlite via --sqlite here; programmatic callers pass any
    picklable DB-API factory to sinks.write_upsert."""
    import functools
    import sqlite3

    from .sources import sinks

    p = argparse.ArgumentParser(prog="SQL_UPSERT")
    p.add_argument("--input", required=True, help="parquet path")
    p.add_argument("--sqlite", required=True, help="sqlite database file")
    p.add_argument("--table", required=True)
    p.add_argument("--keys", required=True, help="'|'-separated key columns")
    p.add_argument("--batchSize", type=int, default=5000)
    p.add_argument("--numPartitions", type=int, default=1)
    p.add_argument(
        "--dialect",
        choices=["ansi", "mysql"],
        default="ansi",
        help="upsert statement flavor (mysql = ON DUPLICATE KEY UPDATE, "
        "the reference's Cloud SQL form)",
    )
    ns = p.parse_args(argv)
    sinks.write_upsert(
        spark.read.parquet(ns.input),
        functools.partial(sqlite3.connect, ns.sqlite, timeout=60),
        ns.table,
        parse_flags(ns.keys),
        batchsize=ns.batchSize,
        num_partitions=ns.numPartitions,
        dialect=ns.dialect,
    )


def run_inception_subset(spark: SparkSession, argv: list[str]) -> None:
    """INCEPTION_SUBSET (InceptionInputFileCreator): WebAnno TSV → a new
    annotation subset with contiguous offsets and renumbered entities."""
    from .operators import relext

    p = argparse.ArgumentParser(prog="INCEPTION_SUBSET")
    p.add_argument("--webannoFile", required=True)
    p.add_argument("--batchSize", type=int, required=True)
    p.add_argument("--alreadyAnnotated", help="parquet with a 'hash' column")
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    already = spark.read.parquet(ns.alreadyAnnotated) if ns.alreadyAnnotated else None
    blocks = relext.parse_webanno_blocks(spark, ns.webannoFile)
    relext.inception_subset(blocks, ns.batchSize, already_annotated=already).write.mode(
        "overwrite"
    ).parquet(ns.output)


def run_annot_batch_stats(spark: SparkSession, argv: list[str]) -> None:
    """ANNOT_BATCH_STATS (relation_extraction/annot_batch_cli/
    RepoStatsCommand.java, the ``stats`` command): per-annotator batch
    sentence counts + the batch×batch overlap matrix, from a parquet line
    table (annotator, batch, line)."""
    from .operators import annotbatch
    from .sources import sinks

    p = argparse.ArgumentParser(prog="ANNOT_BATCH_STATS")
    p.add_argument("--lines", required=True, help="parquet: annotator, batch, line")
    p.add_argument("--sizesOutput", required=True)
    p.add_argument("--overlapOutput", required=True)
    ns = p.parse_args(argv)
    lines = spark.read.parquet(ns.lines)
    sinks.write_tsv(annotbatch.batch_sentence_counts(lines), ns.sizesOutput, header=True)
    sinks.write_tsv(annotbatch.batch_overlap_matrix(lines), ns.overlapOutput, header=True)


def run_semmed_idf(spark: SparkSession, argv: list[str]) -> None:
    """SEMMED_IDF (corpora/semmed/SemmedDbIdf.java): entity⋈sentence
    CUI→PMID assembly, optional UMLS is-a ancestor propagation, and the
    reference's ln(count/total) IDF at 3 decimals."""
    from .operators import semmed
    from .sources import sinks

    p = argparse.ArgumentParser(prog="SEMMED_IDF")
    p.add_argument("--entities", required=True, help="parquet: sentence_id, cui")
    p.add_argument("--sentences", required=True, help="parquet: sentence_id, pmid")
    p.add_argument("--mrrelIsa", help="text lines of the MRREL isa export")
    p.add_argument("--labels", help="parquet: cui, name")
    p.add_argument("--totalPmids", type=float, default=semmed.TOTAL_PMIDS)
    p.add_argument("--output", required=True)
    ns = p.parse_args(argv)
    # distinct=False: ancestor_pmid_counts aggregates with countDistinct,
    # so the pair dedup exchange is redundant (r12, guide §2.4)
    cp = semmed.cui_to_pmid(
        spark.read.parquet(ns.entities), spark.read.parquet(ns.sentences),
        distinct=False,
    )
    closure = None
    if ns.mrrelIsa:
        closure = semmed.ancestor_closure(
            semmed.isa_edges(spark.read.text(ns.mrrelIsa).withColumnRenamed("value", "line"))
        )
    counts = semmed.ancestor_pmid_counts(cp, closure)
    labels = spark.read.parquet(ns.labels) if ns.labels else None
    sinks.write_tsv(
        semmed.semmed_idf(counts, labels, total_pmids=ns.totalPmids),
        ns.output,
        header=True,
    )


def run_semmed_eval(spark: SparkSession, argv: list[str]) -> None:
    """SEMMED_EVAL (corpora/semmed/SemmedDbFebRelayResultsCompiler.java):
    compile relay review sessions into overall accuracy, reason /
    improvement distributions, and accuracy by subject type + sentence
    complexity."""
    from .operators import semmed
    from .sources import sinks

    p = argparse.ArgumentParser(prog="SEMMED_EVAL")
    p.add_argument(
        "--results",
        required=True,
        help="parquet: feedback_id, predication_id, answer_id, answer, response",
    )
    p.add_argument("--metadata", help="parquet shaped like intervening_token_stats")
    p.add_argument("--testPredicationIds", default="", help="comma-separated")
    p.add_argument("--output", required=True, help="output directory")
    ns = p.parse_args(argv)
    results = spark.read.parquet(ns.results)
    test_ids = tuple(t for t in ns.testPredicationIds.split(",") if t)
    sinks.write_tsv(
        semmed.overall_accuracy(results, test_ids), f"{ns.output}/accuracy", header=True
    )
    sinks.write_tsv(
        semmed.incorrect_reason_distribution(results, test_ids),
        f"{ns.output}/incorrect_reasons",
        header=True,
    )
    sinks.write_tsv(
        semmed.improvement_distribution(results, test_ids),
        f"{ns.output}/improvements",
        header=True,
    )
    if ns.metadata:
        meta = spark.read.parquet(ns.metadata)
        resolved = semmed.resolved_answers(results, test_ids)
        sinks.write_tsv(
            semmed.accuracy_by_subject_type(resolved, meta),
            f"{ns.output}/accuracy_by_type",
            header=True,
        )
        sinks.write_tsv(
            semmed.accuracy_by_complexity(resolved, meta),
            f"{ns.output}/accuracy_by_complexity",
            header=True,
        )


#: PipelineKey → runner (the implemented subset of PipelineMain.java:124-236;
#: keys match the reference's PipelineKey enum verbatim)
PIPELINES: dict[str, Callable[[SparkSession, list[str]], None]] = {
    "SENTENCE_SEGMENTATION": run_sentence_segmentation,
    "CONCEPT_COOCCURRENCE_COUNTS": run_concept_cooccurrence_counts,
    "CONCEPT_COOCCURRENCE_METRICS": run_concept_cooccurrence_metrics,
    "CONCEPT_IDF": run_concept_idf,
    "MEDLINE_XML_TO_TEXT": run_medline_xml_to_text,
    "PMID_EXTRACT": run_pmid_extract,
    "PMID_TO_YEAR": run_pmid_to_year,
    "MEDLINE_UI_METADATA": run_medline_ui_metadata,
    "BIOC_TO_TEXT": run_bioc_to_text,
    "BIORXIV_XML_TO_TEXT": run_biorxiv_xml_to_text,
    "FILE_LOAD": run_file_load,
    "OGER": run_oger,
    "CONCEPT_POST_PROCESS": run_concept_post_process,
    "SENTENCE_EXTRACTION": run_sentence_extraction,
    "ABBREVIATION": run_abbreviation,
    "DEPENDENCY_PARSE_TO_SENTENCE": run_dependency_parse_to_sentence,
    "DEPENDENCY_PARSE_TO_CONLL03": run_dependency_parse_to_conll03,
    "FILTER_UNACTIONABLE_TEXT": run_filter_unactionable_text,
    "CONCEPT_COUNT_DISTRIBUTION": run_concept_count_distribution,
    "CLASSIFIED_SENTENCE_STORAGE": run_classified_sentence_storage,
    "ELASTICSEARCH_LOAD": run_elasticsearch_load,
    "DRY_RUN": run_dry_run,
    "COLLECTION_ASSIGNMENT": run_collection_assignment,
    "UPDATE_MEDLINE_STATUS_ENTITIES": run_update_medline_status,
    "UPDATE_STATUS_FLAGS": run_update_status_flags,
    "NEAR_DUP_INDEX_UPDATE": run_near_dup_index_update,
    "NEAR_DUP_INDEX_COMPACT": run_near_dup_index_compact,
    "NEAR_DUP_INDEX_RECONCILE": run_near_dup_index_reconcile,
    "NEAR_DUP_INDEX_STATS": run_near_dup_index_stats,
    "NEAR_DUP_INDEX_KEEP_BEST": run_near_dup_index_keep_best,
    "NEAR_DUP_KEEP_BEST": run_near_dup_keep_best,
    "DSIR_SELECT": run_dsir_select,
    "DSIR_GUMBEL_SAMPLE": run_dsir_gumbel_sample,
    "TOKEN_BUDGET_SAMPLE": run_token_budget_sample,
    "TEMPERATURE_SAMPLE": run_temperature_sample,
    "CCNET_QUALITY": run_ccnet_quality,
    "IVF_RETRAIN": run_ivf_retrain,
    "NEAR_DUP_KEEP_LIST": run_near_dup_keep_list_export,
    "TEXT_EXPORT": run_text_export,
    "PUBANNOTATION_EXPORT": run_pubannotation_export,
    "BIGQUERY_EXPORT": run_bigquery_export,
    "CONCEPT_ANNOTATION_EXPORT": run_concept_annotation_export,
    "SENTENCE_COOCCURRENCE_EXPORT": run_sentence_cooccurrence_export,
    "WEBANNO_SENTENCE_EXTRACTION": run_webanno_sentence_extraction,
    "CRF": run_crf,
    "OGER_POST_PROCESS": run_oger_post_process,
    "DEPENDENCY_PARSE_IMPORT": run_dependency_parse_import,
    "DOC_TEXT_AUGMENTATION": run_doc_text_augmentation,
    "OGER_DICT_BUILD": run_oger_dict_build,
    "DRUGBANK_DICT_BUILD": run_drugbank_dict_build,
    "PROCEDURE_DICT_BUILD": run_procedure_dict_build,
    "ONTOLOGY_TO_KGX": run_ontology_to_kgx,
    "TRAPI_SERIALIZE": run_trapi_serialize,
    "BRAT_TO_BERT": run_brat_to_bert,
    "BRAT_BATCH_CREATE": run_brat_batch_create,
    "SHEET_BATCH_CREATE": run_sheet_batch_create,
    "SHEET_TO_BERT": run_sheet_to_bert,
    "NER_BERT_TO_BIONLP": run_ner_bert_to_bionlp,
    "INCEPTION_SUBSET": run_inception_subset,
    "SQL_UPSERT": run_sql_upsert,
    "ANNOT_BATCH_STATS": run_annot_batch_stats,
    "SEMMED_IDF": run_semmed_idf,
    "SEMMED_EVAL": run_semmed_eval,
}


def main(argv: list[str] | None = None) -> int:
    import sys

    args = list(sys.argv[1:] if argv is None else argv)
    if not args or args[0] in ("-h", "--help"):
        print("usage: engine <PIPELINE_KEY> [pipeline options]")
        print("pipelines: " + ", ".join(sorted(PIPELINES)))
        return 0 if args else 2
    key = args[0]
    if key not in PIPELINES:
        raise SystemExit(
            f"unknown pipeline key {key!r}; known: {', '.join(sorted(PIPELINES))}"
        )
    from .functions.staging import STAGING_DIR_CONF
    from .session import get_spark

    # Durable intermediates by default (r13, VERDICT r12 task 7; guide
    # §3.3/§5): lineage-truncation points inside the operators
    # (functions/staging.stage) are executor-local localCheckpoint blocks
    # in bench/library use — fast, but non-replicated, so an executor
    # loss on a real cluster kills the run instead of recomputing. CLI
    # runs are the production surface, so they stage those intermediates
    # as parquet tables instead: --stagingDir DIR picks the location
    # (kept afterward for inspection/resume), omitted it defaults to
    # <output>__staging (removed after the run), and --stagingDir ''
    # explicitly opts back into localCheckpoint.
    rest = list(args[1:])
    staging: str | None = None
    user_staging = False
    for i, a in enumerate(rest):
        if a == "--stagingDir":
            if i + 1 == len(rest):
                raise SystemExit("--stagingDir requires a value")
            staging, user_staging = rest[i + 1], True
            del rest[i : i + 2]
            break
        if a.startswith("--stagingDir="):
            staging, user_staging = a.split("=", 1)[1], True
            del rest[i]
            break
    if not user_staging:
        # the pipelines name their output --output or --outputDir
        # (CLASSIFIED_SENTENCE_STORAGE); both derive the default
        for i, a in enumerate(rest):
            flag, eq, val = a.partition("=")
            if flag not in ("--output", "--outputDir"):
                continue
            if not eq and i + 1 < len(rest):
                val = rest[i + 1]
            if val:
                staging = val.rstrip("/") + "__staging"
            break

    spark = get_spark(app_name=f"engine-{key.lower()}")
    if staging:
        spark.conf.set(STAGING_DIR_CONF, staging)
    try:
        PIPELINES[key](spark, rest)
    finally:
        if staging:
            # the conf is session-scoped: never leak one run's staging
            # location into the next main() call on a shared session
            spark.conf.unset(STAGING_DIR_CONF)
        if staging and not user_staging:
            # default staging dir is run-scoped scratch: remove it
            jvm = spark._jvm
            hp = jvm.org.apache.hadoop.fs.Path(staging)
            fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(hp, True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
