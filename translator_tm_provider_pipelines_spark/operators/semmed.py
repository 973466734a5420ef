"""SemMedDB corpus-preparation operators: CUI→PMID extraction, hierarchical
PMID-count propagation, IDF, predication distance statistics, and the UMLS
is-a / HPO cross-reference side tables.

Reference (corpora/semmed/):
- ``SemmedDbIdf.java:1`` — CUI-to-PMID assembly from the SemMedDB entity +
  sentence tables, ancestor propagation over the UMLS is-a hierarchy, and
  idf = ln(pmid_count / total_pmids). The reference builds a 237M-row
  sentence→PMID HashMap and walks a 1.7B-row entity file on ONE machine
  (createCui2PmidFile:166-224) — the exact shape Spark exists for; here it
  is two equi-joins and a distinct-count aggregate.
- ``SemmedDbFileParser.java:1`` — the TREATS predication export analysis:
  per-predication intervening-token counts between subject and object
  (getSubjectObjectDistanceDistribution:229-343), PMID-count and
  token-count buckets (:345-388), semantic-type pair counts
  (getSemanticTypeMatrix:456-495), per-edge PMID counts
  (getSubjObjCuiToPmidCountMap:158-210).
- ``CreateUmlsSubclassOntology.java:1`` — is-a edge extraction from the
  MRREL-derived file (parent = col 0, child = col 4, pipe-delimited;
  addSubclassAxioms:73-91). The OWL serialization is owned by the OWL API
  in the reference; the engine keeps the edge *relation*, which is what
  every consumer (closure, IDF) actually uses.
- ``SemmedDbIdf.populateUmlsToHpoMaps:471-497`` — UMLS↔HPO cross-reference
  from MRCONSO (source name col 11 == 'HPO', source code col 13).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.staging import stage

#: PubMed corpus size constant used by the reference for IDF
#: (SemmedDbIdf.java:53).
TOTAL_PMIDS = 34_315_455.0


# ---------------------------------------------------------------------------
# CUI → PMID → IDF chain (SemmedDbIdf)
# ---------------------------------------------------------------------------


def cui_to_pmid(
    entities: DataFrame, sentences: DataFrame, distinct: bool = True
) -> DataFrame:
    """Distinct (cui, pmid) pairs: the entity table's (sentence_id, cui)
    joined to the sentence table's (sentence_id, pmid)
    (SemmedDbIdf.createCui2PmidFile:166-224). One shuffle join on
    sentence_id + a distinct — versus the reference's single-JVM HashMap of
    the full 237M-row sentence table.

    ``distinct=False`` skips the dedup exchange: pass it when the consumer
    is multiplicity-insensitive (``ancestor_pmid_counts`` aggregates with
    ``countDistinct``), which saves a full shuffle of the pair relation
    (r12, guide §2.4 — a distinct whose duplicates the next aggregate
    removes anyway)."""
    pairs = (
        entities.select("sentence_id", "cui")
        .join(sentences.select("sentence_id", "pmid"), "sentence_id")
        .select("cui", "pmid")
    )
    return pairs.distinct() if distinct else pairs


def isa_edges(mrrel_lines: DataFrame, line_col: str = "line") -> DataFrame:
    """(child_cui, parent_cui) is-a edges from the MRREL-derived
    pipe-delimited export: parent = column 0, child = column 4
    (CreateUmlsSubclassOntology.addSubclassAxioms:73-91)."""
    cols = F.split(F.col(line_col), r"\|")
    return mrrel_lines.select(
        cols.getItem(4).alias("child_cui"), cols.getItem(0).alias("parent_cui")
    ).distinct()


def ancestor_closure(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(cui, ancestor_cui) transitive closure of the is-a edge list —
    fully distributed iterative frontier join (one join + distinct per
    hierarchy level, staged to keep the plan flat), because the
    UMLS closure is corpus-vocabulary-sized and must NOT round-trip
    through the driver the way dimension-sized ontology closures may
    (contrast ogerdict.transitive_descendants, which is driver-bounded by
    design for the small OBO exclusion sets)."""
    paths = stage(
        edges.select(
            F.col("child_cui").alias("cui"), F.col("parent_cui").alias("ancestor_cui")
        ).distinct()
    )
    up = edges.select(
        F.col("child_cui").alias("__c"), F.col("parent_cui").alias("__p")
    )
    # each level's size is carried into the next comparison instead of
    # recounting `paths` — one count job per hierarchy level
    n_paths = paths.count()
    for _ in range(max_iter):
        grown = stage(
            paths.join(up, paths.ancestor_cui == up.__c)
            .select("cui", F.col("__p").alias("ancestor_cui"))
            .unionByName(paths)
            .distinct()
        )
        n_grown = grown.count()
        if n_grown == n_paths:
            return grown
        paths, n_paths = grown, n_grown
    return paths


def ancestor_pmid_counts(
    cui_pmids: DataFrame, closure: DataFrame | None = None
) -> DataFrame:
    """(cui, pmid_count) where every CUI also receives the PMIDs of all its
    descendants (SemmedDbIdf.createCui2PmidCountFile:224-272: each key's
    PMID set is added to every ancestor, then sizes are written). With
    ``closure=None`` no hierarchy is applied (the reference's
    non-hierarchical first pass)."""
    observed = cui_pmids.select("cui", "pmid")
    if closure is not None:
        inherited = observed.join(closure, "cui").select(
            F.col("ancestor_cui").alias("cui"), "pmid"
        )
        observed = observed.unionByName(inherited)
    return observed.groupBy("cui").agg(
        F.countDistinct("pmid").cast("long").alias("pmid_count")
    )


def semmed_idf(
    counts: DataFrame,
    labels: DataFrame | None = None,
    total_pmids: float = TOTAL_PMIDS,
    sort: bool = True,
) -> DataFrame:
    """(cui, name, idf) with idf = round(ln(pmid_count / total_pmids), 3)
    — SemmedDbIdf.computeIdf:308-357. Faithful to the reference: the
    formula is ``log(count/total)`` (a NEGATIVE log-frequency, not the
    classic ln(total/count); rarer concepts score LOWER) and the output is
    printed with ``%4.3f`` → 3 decimals, descending by idf. ``labels`` is
    the (cui, name) relation; missing labels surface as NULL name, like the
    reference's ``map.get`` returning null into ``%s``.

    ``sort=False`` drops the presentation ``orderBy`` — a global range
    exchange + sort (plus its sampling job) that only fixes display order;
    pass it when the consumer is order-insensitive (the oracle harness
    compares sorted rows), keep the default for the TSV export the
    reference prints descending (r12, guide §2.4 — an orderBy used only
    to make output deterministic). The registry's ``semmed_cui_idf``
    declared query intentionally uses ``sort=False`` — its contract is an
    unordered relation (documented there; r13, VERDICT r12 item 8)."""
    out = counts.select(
        "cui",
        F.round(F.log(F.col("pmid_count") / F.lit(float(total_pmids))), 3).alias(
            "idf"
        ),
    )
    if labels is not None:
        out = out.join(labels.select("cui", "name"), "cui", "left")
    else:
        out = out.withColumn("name", F.lit(None).cast("string"))
    out = out.select("cui", "name", "idf")
    return out.orderBy(F.desc("idf"), "cui") if sort else out


def umls_hpo_xrefs(mrconso_lines: DataFrame, line_col: str = "line") -> DataFrame:
    """(cui, hpo_id) cross-references from MRCONSO rows whose source (col
    11) is HPO; the HPO id is source code col 13
    (SemmedDbIdf.populateUmlsToHpoMaps:471-497). Both lookup directions
    are projections of this one relation."""
    cols = F.split(F.col(line_col), r"\|")
    return (
        mrconso_lines.where(cols.getItem(11) == "HPO")
        .select(cols.getItem(0).alias("cui"), cols.getItem(13).alias("hpo_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# TREATS predication analysis (SemmedDbFileParser)
# ---------------------------------------------------------------------------


def java_space_token_count(text: Column) -> Column:
    """Token count with Java ``String.split(" ").length`` semantics, which
    both engines must reproduce for parity: trailing empty strings are
    dropped (``"a b ".split`` → 2), leading/interior empties kept
    (``" a".split`` → 2), the empty string counts 1, and an all-separator
    string counts 0."""
    stripped = F.regexp_replace(text, " +$", "")
    return (
        F.when(text == "", F.lit(1))
        .when(stripped == "", F.lit(0))
        .otherwise(F.size(F.split(stripped, " ")))
        .cast("int")
    )


def pmid_count_bucket(n: Column) -> Column:
    """Somewhat-arbitrary PMID-count buckets
    (SemmedDbFileParser.getPmidCountBucket:371-388)."""
    return (
        F.when(n == 1, "PMID_1")
        .when((n > 1) & (n < 5), "PMID_2_4")
        .when((n >= 5) & (n < 10), "PMID_5_9")
        .when((n >= 10) & (n < 20), "PMID_10_19")
        .otherwise("PMID_20")
    )


def token_count_bucket(n: Column) -> Column:
    """Intervening-token buckets (getTokenCountBucket:345-363)."""
    return (
        F.when(n == 0, "TOKEN_0")
        .when(n == 1, "TOKEN_1")
        .when((n >= 2) & (n < 5), "TOKEN_2_4")
        .when((n >= 5) & (n < 10), "TOKEN_5_9")
        .when((n >= 10) & (n < 15), "TOKEN_10_14")
        .otherwise("TOKEN_15")
    )


def subj_obj_pmid_counts(
    edge_lines: DataFrame, predicate: str = "TREATS", line_col: str = "line"
) -> DataFrame:
    """(subject_cui, object_cui, pmid_count) from the per-edge PMID-list
    TSV (header PREDICATE SUBJECT_CUI ... OBJECT_CUI ... PMIDS): rows for
    the requested predicate, PMID count = list length, counts SUMMED over
    rows that differ only in semantic types
    (getSubjObjCuiToPmidCountMap:158-210)."""
    cols = F.split(F.col(line_col), "\t")
    return (
        edge_lines.where(cols.getItem(0) == predicate)
        .select(
            cols.getItem(1).alias("subject_cui"),
            cols.getItem(4).alias("object_cui"),
            F.size(F.split(cols.getItem(7), ",")).alias("__n"),
        )
        .groupBy("subject_cui", "object_cui")
        .agg(F.sum("__n").cast("long").alias("pmid_count"))
    )


def intervening_token_stats(
    predications: DataFrame, pair_pmid_counts: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Per-predication intervening-token statistics joined with per-edge
    PMID counts (getSubjectObjectDistanceDistribution:229-343). Returns
    (stats, errors):

    stats — (predication_id, intervening_token_count, sentence_token_count,
    pmid_count, sem_types, pmid_count_bucket, intervening_token_count_bucket)
    for rows whose subject/object spans reproduce the recorded entity text
    and whose CUI pair has a PMID count;

    errors — the reference's error side-channel rows: ``text_mismatch``
    (spans don't reproduce the recorded text — the reference throws and
    logs per line), ``span_overlap`` (seg_end < seg_start, i.e. the
    subject/object spans overlap — the reference's segment
    ``substring(segStart, segEnd)`` throws StringIndexOutOfBounds into the
    same catch; checked AFTER text match, as the reference's mismatch
    throw precedes the segment substring), and ``no_cui_key`` (pair
    absent from the PMID counts).

    ``predications`` columns (the SemMedDB export projected to what the
    analysis reads): predication_id, sentence, sent_start_index,
    subject_text, subject_cui, subject_semtype, subject_start_index,
    subject_end_index, object_text, object_cui, object_semtype,
    object_start_index, object_end_index. Span indexes are document-level;
    sentence-relative = index − sent_start_index, exactly as the reference
    rebases them. All column expressions; the only shuffle is the
    pair-count equi-join."""
    p = predications
    s_start = (F.col("subject_start_index") - F.col("sent_start_index")).cast("int")
    s_end = (F.col("subject_end_index") - F.col("sent_start_index")).cast("int")
    o_start = (F.col("object_start_index") - F.col("sent_start_index")).cast("int")
    o_end = (F.col("object_end_index") - F.col("sent_start_index")).cast("int")
    seg_start = F.when(o_start < s_start, o_end).otherwise(s_end)
    seg_end = F.when(o_start < s_start, s_start).otherwise(o_start)
    sent = F.col("sentence")
    observed_subj = F.substring(sent, s_start + 1, s_end - s_start)
    observed_obj = F.substring(sent, o_start + 1, o_end - o_start)
    segment = F.substring(sent, seg_start + 1, seg_end - seg_start)

    staged = p.select(
        "predication_id",
        "subject_cui",
        "object_cui",
        F.concat_ws("_", "subject_semtype", "object_semtype").alias("sem_types"),
        (observed_subj == F.col("subject_text")).alias("__subj_ok"),
        (observed_obj == F.col("object_text")).alias("__obj_ok"),
        (seg_end < seg_start).alias("__overlap"),
        java_space_token_count(segment).alias("intervening_token_count"),
        java_space_token_count(sent).alias("sentence_token_count"),
    )
    mismatches = staged.where(~(F.col("__subj_ok") & F.col("__obj_ok"))).select(
        "predication_id", F.lit("text_mismatch").alias("error")
    )
    overlaps = staged.where(
        F.col("__subj_ok") & F.col("__obj_ok") & F.col("__overlap")
    ).select("predication_id", F.lit("span_overlap").alias("error"))
    mismatches = mismatches.unionByName(overlaps)
    ok = staged.where(
        F.col("__subj_ok") & F.col("__obj_ok") & ~F.col("__overlap")
    )
    joined = ok.join(pair_pmid_counts, ["subject_cui", "object_cui"], "left")
    no_key = joined.where(F.col("pmid_count").isNull()).select(
        "predication_id", F.lit("no_cui_key").alias("error")
    )
    stats = joined.where(F.col("pmid_count").isNotNull()).select(
        "predication_id",
        "intervening_token_count",
        "sentence_token_count",
        "pmid_count",
        "sem_types",
        pmid_count_bucket(F.col("pmid_count")).alias("pmid_count_bucket"),
        token_count_bucket(F.col("intervening_token_count")).alias(
            "intervening_token_count_bucket"
        ),
    )
    return stats, mismatches.unionByName(no_key)


# ---------------------------------------------------------------------------
# Relay evaluation-results compilation (SemmedDbFebRelayResultsCompiler)
# ---------------------------------------------------------------------------

ASSERTION_CORRECT = "Assertion Correct"
ASSERTION_INCORRECT = "Assertion Incorrect"

#: UMLS semantic types grouped as chemical vs treatment subjects
#: (SemmedDbFebRelayResultsCompiler.java:27-31).
CHEMICAL_TYPES = (
    "aapp", "antb", "bacs", "bodm", "chem", "chvf", "chvs", "clnd", "elii",
    "enzy", "hops", "horm", "imft", "irda", "inch", "nnon", "orch", "phsu",
    "rcpt", "vita",
)
TREATMENT_TYPES = (
    "diap", "edac", "hlca", "lbpr", "mbrt", "resa", "topp", "drdd", "medd",
    "resd",
)


def resolved_answers(
    results: DataFrame, test_predication_ids: tuple[str, ...] = ()
) -> DataFrame:
    """(predication_id, answer) with any-incorrect-wins resolution: a
    predication reviewed more than once is Incorrect if ANY review marked
    it incorrect, else Correct if any marked it correct
    (SemmedDbFebRelayResultsCompiler.computeOverallSemmedAccuracy:63-131 —
    the incorrect ``put`` is unconditional, the correct ``put`` only fills
    an absent key). Reviews whose answer is neither verdict (the reason /
    improvement checkboxes share the file) don't resolve anything.
    ``test_predication_ids`` are dropped, as the reference skips its two
    hard-coded test records."""
    r = results
    if test_predication_ids:
        r = r.where(~F.col("predication_id").isin(*test_predication_ids))
    return (
        r.where(F.col("answer").isin(ASSERTION_CORRECT, ASSERTION_INCORRECT))
        .groupBy("predication_id")
        .agg(
            F.when(
                F.max(F.col("answer") == ASSERTION_INCORRECT), ASSERTION_INCORRECT
            )
            .otherwise(ASSERTION_CORRECT)
            .alias("answer")
        )
    )


def overall_accuracy(
    results: DataFrame, test_predication_ids: tuple[str, ...] = ()
) -> DataFrame:
    """One-row summary (n_reviews, n_unique, n_correct, n_incorrect,
    accuracy) — computeOverallSemmedAccuracy:63-131. ``n_reviews`` counts
    distinct feedback sessions, accuracy = correct / resolved."""
    r = results
    if test_predication_ids:
        r = r.where(~F.col("predication_id").isin(*test_predication_ids))
    resolved = resolved_answers(r)
    agg = resolved.agg(
        F.count("*").alias("n_unique"),
        F.sum((F.col("answer") == ASSERTION_CORRECT).cast("long")).alias(
            "n_correct"
        ),
        F.sum((F.col("answer") == ASSERTION_INCORRECT).cast("long")).alias(
            "n_incorrect"
        ),
    )
    reviews = r.agg(F.countDistinct("feedback_id").alias("n_reviews"))
    return reviews.crossJoin(agg).select(
        "n_reviews",
        "n_unique",
        "n_correct",
        "n_incorrect",
        F.round(F.col("n_correct") / (F.col("n_correct") + F.col("n_incorrect")), 8)
        .alias("accuracy"),
    )


def _designated_feedback(
    results: DataFrame, resolved: DataFrame, verdict: str
) -> DataFrame:
    """(predication_id, feedback_id): one designated feedback session per
    predication resolved to ``verdict``. The reference keeps whichever row
    the file yields last (HashMap overwrite in file order); file order is
    an accident of the export, so the engine designates max(feedback_id) —
    deterministic under any row order, same cardinality.

    WHICH rows compete differs by verdict, matching the reference's two
    overwrite loops exactly:

    - INCORRECT (computeIncorrectReasonDistribution:133-213): the ``put``
      sits inside ``if (answer.equals(ASSERTION_INCORRECT))`` — only
      incorrect-marking rows overwrite, so the designated session must
      itself have marked the predication incorrect. Without this
      restriction a conflicting correct-marking session with a larger
      feedback_id would have its improvement checkboxes miscounted as
      incorrect reasons.
    - CORRECT (computeImprovementDistribution:214-341): the ``put`` runs
      for EVERY row of a correct-resolved predication (the loop only gates
      on the resolved verdict), so all of the predication's rows compete.
    """
    keep = resolved.where(F.col("answer") == verdict).select("predication_id")
    pool = results
    if verdict == ASSERTION_INCORRECT:
        pool = pool.where(F.col("answer") == verdict)
    return (
        pool.join(keep, "predication_id", "left_semi")
        .groupBy("predication_id")
        .agg(F.max("feedback_id").alias("feedback_id"))
    )


def incorrect_reason_distribution(
    results: DataFrame, test_predication_ids: tuple[str, ...] = ()
) -> DataFrame:
    """(answer, n, fraction): counts of every checkbox answer ticked in the
    feedback sessions designated for incorrect predications, as a fraction
    of incorrect predications
    (computeIncorrectReasonDistribution:133-213; the reference matches on
    feedback id membership alone, so verdict rows appear in the output
    too, exactly as its count map does)."""
    r = results
    if test_predication_ids:
        r = r.where(~F.col("predication_id").isin(*test_predication_ids))
    resolved = resolved_answers(r)
    designated = _designated_feedback(r, resolved, ASSERTION_INCORRECT)
    n_incorrect = designated.count()
    matched = r.join(
        designated.select("feedback_id").distinct(), "feedback_id", "left_semi"
    )
    return (
        matched.groupBy("answer")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "answer", "n", F.round(F.col("n") / F.lit(n_incorrect), 8).alias("fraction")
        )
    )


def improvement_distribution(
    results: DataFrame, test_predication_ids: tuple[str, ...] = ()
) -> DataFrame:
    """(answer, n, fraction): answers ticked in the designated feedback
    session of each CORRECT predication — matched on (predication,
    feedback) pairs, fractions over the Assertion-Correct count
    (computeImprovementDistribution:214-341)."""
    r = results
    if test_predication_ids:
        r = r.where(~F.col("predication_id").isin(*test_predication_ids))
    resolved = resolved_answers(r)
    designated = _designated_feedback(r, resolved, ASSERTION_CORRECT)
    matched = r.join(designated, ["predication_id", "feedback_id"], "left_semi")
    counts = matched.groupBy("answer").agg(F.count("*").cast("long").alias("n"))
    total = counts.where(F.col("answer") == ASSERTION_CORRECT).select(
        F.col("n").alias("__t")
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "answer", "n", F.round(F.col("n") / F.col("__t"), 8).alias("fraction")
    )


def accuracy_by_subject_type(
    resolved: DataFrame, metadata: DataFrame
) -> DataFrame:
    """(subject_group, n_correct, n_incorrect, n_total, accuracy) with
    subjects grouped chemical vs treatment by their UMLS semantic type
    (computeSemmedAccuracyBySubjectType:342-448). ``metadata`` is the
    :func:`intervening_token_stats` output shape — subject type = the
    first ``_``-part of ``sem_types`` (getPredicationIdToMetadataMap
    :558-588). Predications without metadata are skipped, as the
    reference logs-and-continues. A subject type in NEITHER list makes
    the reference throw IllegalStateException
    (computeSemmedAccuracyBySubjectType:398-404) — i.e. it never occurs
    on reference data; the engine surfaces such rows as an explicit
    ``UNKNOWN`` group (documented deviation: visible, not fatal) rather
    than letting a NULL group silently absorb typo'd types."""
    subj = F.split(F.col("sem_types"), "_").getItem(0)
    grouped = resolved.join(
        metadata.select("predication_id", subj.alias("__st")), "predication_id"
    ).select(
        "answer",
        F.when(F.col("__st").isin(*CHEMICAL_TYPES), "CHEMICAL")
        .when(F.col("__st").isin(*TREATMENT_TYPES), "TREATMENT")
        .otherwise("UNKNOWN")
        .alias("subject_group"),
    )
    return _group_accuracy(grouped, "subject_group")


def accuracy_by_complexity(
    resolved: DataFrame, metadata: DataFrame, low_max_tokens: int = 10
) -> DataFrame:
    """(complexity, n_correct, n_incorrect, n_total, accuracy): LOW when
    the intervening token count is ≤ ``low_max_tokens``, HIGH above it
    (computeSemmedAccuracyBySentenceComplexity:449-556)."""
    grouped = resolved.join(
        metadata.select("predication_id", "intervening_token_count"),
        "predication_id",
    ).select(
        "answer",
        F.when(
            F.col("intervening_token_count") <= low_max_tokens, "LOW"
        )
        .otherwise("HIGH")
        .alias("complexity"),
    )
    return _group_accuracy(grouped, "complexity")


def _group_accuracy(grouped: DataFrame, key: str) -> DataFrame:
    correct = F.sum((F.col("answer") == ASSERTION_CORRECT).cast("long"))
    incorrect = F.sum((F.col("answer") == ASSERTION_INCORRECT).cast("long"))
    return (
        grouped.groupBy(key)
        .agg(correct.alias("n_correct"), incorrect.alias("n_incorrect"))
        .select(
            key,
            "n_correct",
            "n_incorrect",
            (F.col("n_correct") + F.col("n_incorrect")).alias("n_total"),
            F.round(
                F.col("n_correct") / (F.col("n_correct") + F.col("n_incorrect")), 8
            ).alias("accuracy"),
        )
    )


def semtype_pair_counts(predications: DataFrame) -> DataFrame:
    """(subject_semtype, object_semtype, n) — the semantic-type heatmap
    relation (getSemanticTypeMatrix:456-495; the reference prints it as a
    dense numpy literal, zero cells implied by the sorted axes)."""
    return (
        predications.groupBy("subject_semtype", "object_semtype")
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# Metadata enrichment + BERT input (SemmedDbMetadataRetriever)
# ---------------------------------------------------------------------------

SUBJECT_PLACEHOLDER = "@CHEMICAL$"
OBJECT_PLACEHOLDER = "@DISEASE$"


def bert_input_sentences(
    predications: DataFrame,
    subject_placeholder: str = SUBJECT_PLACEHOLDER,
    object_placeholder: str = OBJECT_PLACEHOLDER,
) -> tuple[DataFrame, DataFrame]:
    """(predication_id, sentence) BERT-input rows with the subject/object
    entity text replaced by placeholders —
    SemmedDbMetadataRetriever.getSentenceWithPlaceholders:383-437. The
    reference replaces the later-starting entity first so the earlier
    span's offsets stay valid; building the output as a 5-piece concat
    (prefix + placeholder + middle + placeholder + suffix) has the same
    effect in one expression. Rows whose recorded entity text does not
    match the span (the reference throws) land in the errors frame as
    ``text_mismatch``; rows whose subject/object spans OVERLAP land there
    as ``span_overlap`` — in the reference the first replacement alters
    the overlapped region so the second replacement's covered-text check
    throws IllegalArgumentException (replaceEntityTextWithPlaceholder
    :425-437), it never silently emits a corrupted sentence.

    Input columns as :func:`intervening_token_stats`; span indexes are
    document-level and rebased by ``sent_start_index``."""
    s_start = (F.col("subject_start_index") - F.col("sent_start_index")).cast("int")
    s_end = (F.col("subject_end_index") - F.col("sent_start_index")).cast("int")
    o_start = (F.col("object_start_index") - F.col("sent_start_index")).cast("int")
    o_end = (F.col("object_end_index") - F.col("sent_start_index")).cast("int")
    sent = F.col("sentence")
    subj_ok = F.substring(sent, s_start + 1, s_end - s_start) == F.col("subject_text")
    obj_ok = F.substring(sent, o_start + 1, o_end - o_start) == F.col("object_text")

    first_s, first_e, first_ph = (
        F.when(s_start <= o_start, s_start).otherwise(o_start),
        F.when(s_start <= o_start, s_end).otherwise(o_end),
        F.when(s_start <= o_start, F.lit(subject_placeholder)).otherwise(
            F.lit(object_placeholder)
        ),
    )
    second_s, second_e, second_ph = (
        F.when(s_start <= o_start, o_start).otherwise(s_start),
        F.when(s_start <= o_start, o_end).otherwise(s_end),
        F.when(s_start <= o_start, F.lit(object_placeholder)).otherwise(
            F.lit(subject_placeholder)
        ),
    )
    replaced = F.concat(
        F.substring(sent, 1, first_s),
        first_ph,
        F.substring(sent, first_e + 1, second_s - first_e),
        second_ph,
        F.substring(sent, second_e + 1, F.length(sent) - second_e),
    )
    overlap = second_s < first_e
    staged = predications.select(
        "predication_id",
        (subj_ok & obj_ok).alias("__ok"),
        overlap.alias("__overlap"),
        replaced.alias("sentence"),
    )
    out = staged.where(F.col("__ok") & ~F.col("__overlap")).select(
        "predication_id", "sentence"
    )
    errors = staged.where(~F.col("__ok")).select(
        "predication_id", F.lit("text_mismatch").alias("error")
    )
    errors = errors.unionByName(
        staged.where(F.col("__ok") & F.col("__overlap")).select(
            "predication_id", F.lit("span_overlap").alias("error")
        )
    )
    return out, errors


def enriched_metadata(
    existing: DataFrame,
    predication_meta: DataFrame,
    is_treats: DataFrame,
    nodenorm_ic: DataFrame | None = None,
    cui_idf: DataFrame | None = None,
) -> DataFrame:
    """The updated relay metadata relation —
    SemmedDbMetadataRetriever.writeUpdatedMetadataFile:553-600: every
    existing metadata row extended with zone, subject/object scores, the
    TM-KP treats verdict, and (when provided) per-CUI node-norm
    information content and IDF for both entities. ``predication_meta``
    and ``is_treats`` are required per row, matching the reference's
    unchecked map lookups (inner joins); the IC/IDF lookups are nullable
    left joins.

    ``predication_meta`` columns: predication_id, zone, subject_score,
    object_score, subject_cui, object_cui. ``is_treats``:
    (predication_id, tmkp_treats). ``nodenorm_ic`` / ``cui_idf``:
    (cui, value) relations."""
    out = existing.join(
        predication_meta.select(
            "predication_id", "zone", "subject_score", "object_score",
            "subject_cui", "object_cui",
        ),
        "predication_id",
    ).join(is_treats.select("predication_id", "tmkp_treats"), "predication_id")

    if nodenorm_ic is not None:
        ic = nodenorm_ic.select(F.col("cui"), F.col("value").alias("__ic"))
        out = (
            out.join(ic.withColumnRenamed("cui", "subject_cui"), "subject_cui", "left")
            .withColumnRenamed("__ic", "subj_nodenorm_ic")
            .join(ic.withColumnRenamed("cui", "object_cui"), "object_cui", "left")
            .withColumnRenamed("__ic", "obj_nodenorm_ic")
        )
    else:
        out = out.withColumn("subj_nodenorm_ic", F.lit(None).cast("double"))
        out = out.withColumn("obj_nodenorm_ic", F.lit(None).cast("double"))
    if cui_idf is not None:
        idf = cui_idf.select(F.col("cui"), F.col("value").alias("__idf"))
        out = (
            out.join(idf.withColumnRenamed("cui", "subject_cui"), "subject_cui", "left")
            .withColumnRenamed("__idf", "subj_idf")
            .join(idf.withColumnRenamed("cui", "object_cui"), "object_cui", "left")
            .withColumnRenamed("__idf", "obj_idf")
        )
    else:
        out = out.withColumn("subj_idf", F.lit(None).cast("double"))
        out = out.withColumn("obj_idf", F.lit(None).cast("double"))
    return out
