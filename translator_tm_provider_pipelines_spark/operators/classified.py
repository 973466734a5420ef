"""Classified-sentence storage (SURVEY §2.3 J2, §2.5 threshold filter):
join BERT classifier output with extracted-sentence metadata and produce the
relational assertion/evidence/entity/score tables of the text-mined
assertion database.

Reference: .../etl/ClassifiedSentenceStoragePipeline.java:131-146 (the
sentence-id CoGroupByKey) and
.../etl/fn/ClassifiedSentenceStorageSqlValuesFn.java:534-700 (threshold
gate, subject/object resolution by placeholder, spliced-CURIE unsplicing,
id hashing :640-660-region, column-width truncations :656-695); table
schemas in scripts/sql/text-mined-assertion-db.sql.

Spark-first: one inner equi-join on sentence_id (high-cardinality, no
skew), per-row column expressions for everything else; the four output
tables are projections + ``distinct()`` of the same joined frame (reference
A12), so Catalyst caches nothing driver-side and each table write is an
independent action.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.staging import stage

#: the predicate CURIE meaning "no relation present" (BiolinkPredicate
#: NO_RELATION_PRESENT serializes as "false" in the classifier TSVs)
NO_RELATION_CURIE = "false"

# column-width truncations (ClassifiedSentenceStorageSqlValuesFn.java:656-695)
_SENTENCE_MAX = 1900
_CURIE_MAX = 95
_COVERED_TEXT_MAX = 100
_ZONE_MAX = 45
# quirk preserved: pub types longer than 500 are cut to 450 (not 500)
_PUBTYPES_CHECK, _PUBTYPES_CUT = 500, 450


def _span_str(spans: Column) -> Column:
    """TSV span-list form: 'start end' pairs ';'-joined (matches
    operators.sentences.extracted_sentence_tsv)."""
    return F.array_join(
        F.transform(spans, lambda s: F.concat_ws(" ", s["start"], s["end"])), ";"
    )


def classified_sentence_tables(
    scores: DataFrame,
    metadata: DataFrame,
    association_id: str,
    subject_placeholder: str,
    entity1_placeholder: str,
    threshold: float,
    no_relation_curie: str = NO_RELATION_CURIE,
) -> dict[str, DataFrame]:
    """``scores`` = (sentence_id, scores MAP<predicate_curie, double>) — the
    parsed BERT output; ``metadata`` = schemas.EXTRACTED_SENTENCE rows.

    Returns {'assertion', 'evidence', 'entity', 'evidence_score'} tables.

    Semantics (ClassifiedSentenceStorageSqlValuesFn.processLines):
    - J2: inner join on sentence_id — both sides required;
    - gate: keep iff any predicate other than ``no_relation_curie`` scores
      above ``threshold``;
    - entity1 is the subject iff its placeholder equals the association's
      subject placeholder (both constants per pipeline run), else swapped;
    - spliced '|'-delimited CURIEs are exploded into separate rows;
    - ids: assertion = sha256(sub+obj+assoc);
      evidence = sha256(doc+sentence+sub+subSpan+obj+objSpan+assoc);
      entity = sha256(doc+sentence+curie+spanStr+assoc);
    - truncations: sentence 1900, CURIEs 95, association 95, zone 45,
      covered text 100, pub types >500 → first 450 chars.
    """
    swap = entity1_placeholder != subject_placeholder
    e_sub, e_obj = ("entity2", "entity1") if swap else ("entity1", "entity2")

    keep = F.exists(
        F.map_entries("scores"),
        lambda kv: (kv["key"] != no_relation_curie) & (kv["value"] > threshold),
    )
    gated = scores.where(keep).join(metadata, "sentence_id")

    sub_curie = F.explode(F.split(F.col(f"{e_sub}_id"), r"\|")).alias("subject_curie_raw")
    exploded = gated.select("*", sub_curie).select(
        "*", F.explode(F.split(F.col(f"{e_obj}_id"), r"\|")).alias("object_curie_raw")
    )

    assoc = F.lit(association_id[: _CURIE_MAX])
    sentence = F.substring(F.col("sentence_text"), 1, _SENTENCE_MAX)
    sub = F.substring(F.col("subject_curie_raw"), 1, _CURIE_MAX)
    obj = F.substring(F.col("object_curie_raw"), 1, _CURIE_MAX)
    sub_span = _span_str(F.col(f"{e_sub}_spans"))
    obj_span = _span_str(F.col(f"{e_obj}_spans"))
    pub_types = F.array_join(F.coalesce("pub_types", F.array()), "|")
    pub_types = F.when(
        F.length(pub_types) > _PUBTYPES_CHECK, F.substring(pub_types, 1, _PUBTYPES_CUT)
    ).otherwise(pub_types)

    base = exploded.select(
        F.col("sentence_id"),
        F.col("doc_id").alias("document_id"),
        sentence.alias("sentence"),
        sub.alias("subject_curie"),
        obj.alias("object_curie"),
        sub_span.alias("subject_span_str"),
        obj_span.alias("object_span_str"),
        F.substring(F.col(f"{e_sub}_text"), 1, _COVERED_TEXT_MAX).alias("subject_covered_text"),
        F.substring(F.col(f"{e_obj}_text"), 1, _COVERED_TEXT_MAX).alias("object_covered_text"),
        F.substring(F.col("doc_zone"), 1, _ZONE_MAX).alias("document_zone"),
        pub_types.alias("document_publication_types"),
        F.coalesce(F.col("pub_year"), F.lit("2155")).alias("document_year_published"),
        assoc.alias("association_id"),
        F.col("scores"),
    )
    base = base.withColumn(
        "assertion_id",
        F.sha2(F.concat("subject_curie", "object_curie", "association_id"), 256),
    ).withColumn(
        "evidence_id",
        F.sha2(
            F.concat(
                "document_id", "sentence", "subject_curie", "subject_span_str",
                "object_curie", "object_span_str", "association_id",
            ),
            256,
        ),
    ).withColumn(
        "subject_entity_id",
        F.sha2(
            F.concat("document_id", "sentence", "subject_curie", "subject_span_str", "association_id"),
            256,
        ),
    ).withColumn(
        "object_entity_id",
        F.sha2(
            F.concat("document_id", "sentence", "object_curie", "object_span_str", "association_id"),
            256,
        ),
    )

    # LAZY localCheckpoint (r12, guide §1.2/§3.3): the four returned tables
    # (and multi-table consumers like the KGX/TRAPI exports, which also
    # re-join them) each re-evaluated the whole gate+explode+sha256 tower —
    # the trapi_assoc_nt plan held 5 copies. base is extraction-output-
    # sized (what a production run materializes between stages anyway) and
    # is computed inside the query run, never across runs. Under a
    # configured staging dir (CLI runs) stage() ignores eager=False: the
    # durable form is a parquet write, so base is computed right here.
    base = stage(base, eager=False)

    assertion = base.select(
        "assertion_id", "subject_curie", "object_curie", "association_id"
    ).distinct()
    evidence = base.select(
        "evidence_id",
        "assertion_id",
        "document_id",
        "sentence",
        "subject_entity_id",
        "object_entity_id",
        "document_zone",
        "document_publication_types",
        "document_year_published",
    ).distinct()
    entity = (
        base.select(
            F.col("subject_entity_id").alias("entity_id"),
            F.col("subject_span_str").alias("span_str"),
            F.col("subject_covered_text").alias("covered_text"),
        )
        .unionByName(
            base.select(
                F.col("object_entity_id").alias("entity_id"),
                F.col("object_span_str").alias("span_str"),
                F.col("object_covered_text").alias("covered_text"),
            )
        )
        .distinct()
    )
    evidence_score = (
        base.select("evidence_id", F.explode("scores").alias("predicate_curie", "score"))
        .distinct()
    )
    return {
        "assertion": assertion,
        "evidence": evidence,
        "entity": entity,
        "evidence_score": evidence_score,
    }


def parse_bert_output(
    lines: DataFrame, predicate_curies: list[str], line_col: str = "value"
) -> DataFrame:
    """Parse raw classifier TSV lines (sentence_id, placeholder sentence,
    one score column per predicate) into (sentence_id, scores MAP) —
    getPredicateCurieToScoreMap (:530-546)."""
    cols = F.split(F.col(line_col), "\t")
    entries = [
        (F.lit(curie), F.get(cols, i + 2).cast("double"))
        for i, curie in enumerate(predicate_curies)
    ]
    return lines.select(
        F.get(cols, 0).alias("sentence_id"),
        F.map_from_arrays(
            F.array(*[e[0] for e in entries]), F.array(*[e[1] for e in entries])
        ).alias("scores"),
    )
