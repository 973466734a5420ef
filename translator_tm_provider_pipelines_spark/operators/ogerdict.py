"""OGER dictionary builders: ontology → (term, concept_id) match dictionary.

Re-expresses the reference's ``oger/util/OgerDictFileFactory.java`` and its
per-ontology subclasses (``oger/dict/*OgerDictFileFactory.java``) as ONE
declarative DataFrame pipeline parameterized by :class:`OgerDictConfig`.
Where the reference subclasses override ``augmentSynonyms`` imperatively,
here every ontology is a config row: exclusion roots, per-class synonym
removals/additions and spelling-variant flags — the full rule set becomes
array expressions + two broadcast-size joins.

Semantics mirrored from the reference (file:line cites inline):
- synonym set = label + EXACT (+RELATED) synonyms, cleaned
  (``getSynonyms``, OgerDictFileFactory.java:128-139);
- label cleanup: unescape quotes, strip unbalanced trailing quote, strip a
  trailing parenthetical (``fixLabel`` :644-668) — applied when the synonym
  set is built AND again at emit, exactly like the reference (which calls
  ``fixLabels`` in getSynonyms and ``fixLabel`` in getDictLine);
- stopword / minimum-length pruning (``removeStopWords`` :228-240,
  ``removeWordsLessThenLength`` :247-255);
- case-sensitivity split + all-caps alternates (``getCaseSensitiveSynonyms``
  :145-171, ``isCaseSensitive`` :180-222);
- CURIE processing with optional GO sub-ontology add-on (``getDictLine``
  :606-630).

The output feeds ``ner.normalize_dictionary`` →
``ner.dictionary_concept_recognition`` directly, closing the
ontology-file → NER loop that the reference runs out-of-band.

Scale: ontologies are dimension tables (NCBITaxon, the largest, is a few
million terms). Parsing is distributed (sources/obo.py); everything here is
narrow array logic plus broadcast joins against literal-sized side tables;
the descendant closure iterates one broadcast join per hierarchy level.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.staging import stage
from ..sources.obo import curie
from .conceptfilters import DEFAULT_STOPWORDS

EXACT_ONLY = "EXACT_ONLY"
EXACT_PLUS_RELATED = "EXACT_PLUS_RELATED"


@dataclass(frozen=True)
class OgerDictConfig:
    """Declarative equivalent of one ``*OgerDictFileFactory`` subclass."""

    ont_key: str
    main_type: str
    id_prefix: str | None = None  # CURIE prefix filter; default = ont_key
    syn_selection: str = EXACT_ONLY
    excluded_roots: tuple[str, ...] = ()  # CURIEs; descendants excluded too
    excluded_classes: tuple[str, ...] = ()  # CURIEs; emit nothing for these
    removed_synonyms: tuple[tuple[str, str], ...] = ()  # (CURIE, term) drops
    added_synonyms: tuple[tuple[str, str], ...] = ()  # (CURIE, term) adds
    min_term_length: int = 3
    id_add_on: str | None = None  # '_BP' → GO_BP:0008150
    add_virus_contractions: bool = False  # '... virus infection' → '... virus'
    add_formerly_stripped: bool = False  # drop ', formerly' / '(formerly)'
    add_hemo_variants: bool = False  # hemo… → haemo…
    add_heart_cardiac: bool = False  # heart → cardiac
    add_activity_stripped: bool = False  # '... activity' → '...' (GO_MF)
    add_formulas: bool = False  # append chebi formula property values (CHEBI)
    max_hyphen_tokens: int | None = None  # CHEBI filterSynonyms: <5 '-' tokens
    max_comma_tokens: int | None = None  # CHEBI filterSynonyms: <4 ',' tokens
    stopwords: tuple[str, ...] = field(default_factory=lambda: tuple(DEFAULT_STOPWORDS))


def fix_label(c: Column) -> Column:
    """``fixLabel`` (OgerDictFileFactory.java:644-668): unescape ``\\"``,
    drop a trailing quote when the quote count is odd, strip one trailing
    space-separated parenthetical, trim."""
    c = F.regexp_replace(c, r'\\"', '"')
    quotes = F.length(c) - F.length(F.regexp_replace(c, '"', ""))
    c = F.when(
        (quotes % 2 == 1) & c.endswith('"'), F.substring(c, F.lit(1), F.length(c) - 1)
    ).otherwise(c)
    c = F.regexp_replace(c, r" \([^)]+\)$", "")
    return F.trim(c)


def _single_token_cs(t: Column) -> Column:
    """Token-level case-sensitivity (isCaseSensitive single-token rules,
    OgerDictFileFactory.java:185-212). Note the reference's
    ``s.matches("^\\d")`` uses Java full-string matching, so that clause
    fires only for a lone digit character — mirrored literally."""
    trimmed = F.trim(t)
    uc = F.length(F.regexp_replace(trimmed, "[^A-Z0-9]", ""))
    ratio_cs = (F.length(trimmed) > 0) & (uc / F.length(trimmed) > 0.4)
    return t.rlike("^[0-9]$") | ratio_cs | t.rlike("[a-z][A-Z]")


def is_case_sensitive(s: Column) -> Column:
    """Full case-sensitivity rule incl. the any-token clause
    (OgerDictFileFactory.java:215-221)."""
    toks = F.split(s, " ")
    return _single_token_cs(s) | (
        (F.size(toks) > 1) & F.exists(toks, _single_token_cs)
    )


#: largest driver-resident id set inlined as an ``isin`` literal instead of
#: a broadcast-join side (r12, guide §2.4/§3.1): the literal removes a whole
#: BroadcastExchange round from the plan, but a very large In-list bloats
#: plan size, so bigger sets fall back to the broadcast join.
ISIN_LITERAL_CAP = 10_000


def _parent_child_edges(terms: DataFrame) -> DataFrame:
    """(parent, child) CURIE edge list of the ``is_a`` hierarchy."""
    return terms.select(
        F.explode("parents").alias("parent"), F.col("term_id").alias("child")
    ).select(
        curie(F.col("parent")).alias("parent"), curie(F.col("child")).alias("child")
    )


def transitive_descendant_ids(
    terms: DataFrame, root_ids: list[str], driver_threshold: int = 1_000_000
) -> list[str] | None:
    """Driver-side variant of :func:`transitive_descendants`: the sorted
    CURIE list of ``root_ids`` plus every descendant, or ``None`` when the
    edge list exceeds ``driver_threshold`` (callers then take the fully
    distributed walk). Ontology hierarchies are dimension tables, so the
    common case is one bounded ``collect`` and zero joins downstream —
    the id set becomes a literal predicate instead of a broadcast-join
    side (r12, guide §2.4)."""
    if not driver_threshold:
        return None
    head = _parent_child_edges(terms).limit(driver_threshold + 1).collect()
    if len(head) > driver_threshold:
        return None
    children: dict[str, list[str]] = {}
    for r in head:
        children.setdefault(r.parent, []).append(r.child)
    acc = set(root_ids)
    stack = list(acc)
    while stack:
        for c in children.get(stack.pop(), ()):
            if c not in acc:
                acc.add(c)
                stack.append(c)
    return sorted(acc)


def transitive_descendants(
    terms: DataFrame, root_ids: list[str], driver_threshold: int = 1_000_000
) -> DataFrame:
    """CURIE ids of ``root_ids`` and every descendant via ``is_a``
    (``getExclusionClasses``, OgerDictFileFactory.java:262-276).

    Scale-adaptive: ontology edge lists are dimension tables, and for the
    common case (≤ ``driver_threshold`` edges) the whole closure runs
    driver-side off ONE collected edge list — one job total, versus one
    job per hierarchy level. Giant hierarchies (NCBITaxon-scale) exceed
    the threshold and take a FULLY distributed level-wise walk: each
    level is one join + anti-join + stage (the same shape as
    ``dedup.connected_components``), and no frontier ids ever round-trip
    through the driver — the only per-level driver traffic is the
    ``isEmpty`` termination probe.
    """
    spark = terms.sparkSession
    ids = transitive_descendant_ids(terms, root_ids, driver_threshold)
    if ids is not None:
        return spark.createDataFrame([(r,) for r in ids], "id string")
    edges = (
        _parent_child_edges(terms)
        # one materialization feeds every closure level; without this each
        # level's action re-parses the ontology source
        .persist()
    )
    try:
        acc = stage(
            spark.createDataFrame(
                [(r,) for r in sorted(set(root_ids))], "id string"
            )
        )
        frontier = acc
        while True:
            nxt = stage(
                edges.join(frontier, edges.parent == frontier.id, "left_semi")
                .select(F.col("child").alias("id"))
                .distinct()
                .join(acc, "id", "left_anti")
            )
            if nxt.isEmpty():
                return acc
            acc = stage(acc.unionByName(nxt))
            frontier = nxt
    finally:
        edges.unpersist()


def build_oger_dictionary(terms: DataFrame, config: OgerDictConfig) -> DataFrame:
    """Ontology term dimension (sources/obo.read_obo_terms) →
    (ont_key, concept_id, term, primary_label, main_type, case_sensitive).

    Stage order matches ``createOgerDictionaryFile`` +
    ``augmentSynonyms`` in the reference subclasses: synonym set → fix
    labels → stopwords → spelling-variant augments → min-length →
    per-class removals → per-class additions → class exclusions → case
    split (+all-caps alternates) → CURIE/add-on processing → final label
    fix → distinct."""
    spark = terms.sparkSession
    prefix = config.id_prefix or config.ont_key

    base = terms.where(~F.col("is_obsolete")).where(
        F.split(curie(F.col("term_id")), ":").getItem(0) == prefix
    )
    base = base.where(F.col("label").isNotNull() & (F.col("label") != ""))

    if config.excluded_roots:
        # excluded-class closures are id sets over a dimension hierarchy:
        # inline small ones as a literal predicate (no broadcast-join
        # round — r12, guide §2.4); only oversized closures pay the join
        excluded_ids = transitive_descendant_ids(terms, list(config.excluded_roots))
        if excluded_ids is not None and len(excluded_ids) <= ISIN_LITERAL_CAP:
            base = base.where(~curie(F.col("term_id")).isin(excluded_ids))
        else:
            excluded = (
                spark.createDataFrame([(r,) for r in excluded_ids], "id string")
                if excluded_ids is not None
                else transitive_descendants(terms, list(config.excluded_roots))
            )
            base = base.join(
                F.broadcast(excluded),
                curie(base.term_id) == excluded.id,
                "left_anti",
            )

    syn_cols = [F.array(F.col("label")), F.col("exact_synonyms")]
    if config.syn_selection == EXACT_PLUS_RELATED:
        syn_cols.append(F.col("related_synonyms"))
    syns = F.array_distinct(F.transform(F.concat(*syn_cols), fix_label))

    sw = [w.lower() for w in config.stopwords]
    syns = F.filter(syns, lambda x: ~F.lower(x).isin(sw))

    if config.add_virus_contractions:
        # MondoOgerDictFileFactory.augmentVirusSynonyms :123-137
        adds = F.transform(
            F.filter(syns, lambda x: x.endswith("virus infection") | x.endswith("virus infections")),
            lambda x: F.regexp_replace(x, " infections?$", ""),
        )
        syns = F.array_distinct(F.concat(syns, adds))
    if config.add_formerly_stripped:
        # MondoOgerDictFileFactory.augmentSynonymsWithFormerly :104-116
        adds = F.transform(
            F.filter(syns, lambda x: x.contains(", formerly") | x.contains("(formerly)")),
            lambda x: F.replace(F.replace(x, F.lit(", formerly")), F.lit("(formerly)")),
        )
        syns = F.array_distinct(F.concat(syns, adds))
    if config.add_hemo_variants:
        # MondoOgerDictFileFactory.augmentHemoSynonyms :144-152 (startsWith,
        # but Java String.replace replaces every occurrence)
        adds = F.transform(
            F.filter(syns, lambda x: x.startswith("hemo")),
            lambda x: F.replace(x, F.lit("hemo"), F.lit("haemo")),
        )
        syns = F.array_distinct(F.concat(syns, adds))
    if config.add_heart_cardiac:
        # MondoOgerDictFileFactory.augmentHeartSynonyms :159-167
        adds = F.transform(
            F.filter(syns, lambda x: x.contains("heart")),
            lambda x: F.replace(x, F.lit("heart"), F.lit("cardiac")),
        )
        syns = F.array_distinct(F.concat(syns, adds))

    syns = F.filter(syns, lambda x: F.length(x) >= config.min_term_length)

    if config.max_hyphen_tokens is not None or config.max_comma_tokens is not None:
        # ChebiOgerDictFileFactory.filterSynonyms :113-121 — drop
        # complicated chemical names unlikely to ever match
        max_h = config.max_hyphen_tokens or 10**9
        max_c = config.max_comma_tokens or 10**9
        syns = F.filter(
            syns,
            lambda x: (F.size(F.split(x, "-")) < max_h)
            & (F.size(F.split(x, ",")) < max_c),
        )

    rows = base.select(
        curie(F.col("term_id")).alias("concept_id"),
        fix_label(F.col("label")).alias("primary_label"),
        F.explode(syns).alias("term"),
    )

    if config.removed_synonyms:
        # static config pairs as a map literal instead of a broadcast
        # anti-join: one BroadcastExchange round less (r12, guide §2.4)
        rm: dict[str, list[str]] = {}
        for cid, term in config.removed_synonyms:
            rm.setdefault(cid, []).append(term)
        rm_map = F.create_map(
            *[
                x
                for cid in sorted(rm)
                for x in (F.lit(cid), F.array(*[F.lit(t) for t in rm[cid]]))
            ]
        )
        rows = rows.where(
            ~F.coalesce(
                F.array_contains(rm_map[F.col("concept_id")], F.col("term")),
                F.lit(False),
            )
        )

    if config.add_formulas:
        # ChebiOgerDictFileFactory.addChemicalFormula :93-111 — formulas
        # join the synonym set after the length/complexity filters
        formulas = base.select(
            curie(F.col("term_id")).alias("concept_id"),
            fix_label(F.col("label")).alias("primary_label"),
            F.explode("formulas").alias("term"),
        ).where(F.col("term") != "")
        rows = rows.unionByName(formulas)

    if config.added_synonyms:
        # static config pairs as a map literal + explode on the base
        # branch instead of a broadcast join against it (r12, guide §2.4);
        # explode of the NULL lookup yields no rows = the old inner join
        add: dict[str, list[str]] = {}
        for cid, term in config.added_synonyms:
            add.setdefault(cid, []).append(term)
        add_map = F.create_map(
            *[
                x
                for cid in sorted(add)
                for x in (F.lit(cid), F.array(*[F.lit(t) for t in add[cid]]))
            ]
        )
        rows = rows.unionByName(
            base.select(
                curie(F.col("term_id")).alias("concept_id"),
                fix_label(F.col("label")).alias("primary_label"),
                F.explode(add_map[curie(F.col("term_id"))]).alias("term"),
            )
        )

    if config.add_activity_stripped:
        # GoMfOgerDictFileFactory.augmentActivitySynonyms (runs after the
        # min-length / per-class filters; its outputs are not re-filtered)
        rows = rows.unionByName(
            rows.where(F.col("term").endswith(" activity")).withColumn(
                "term", F.regexp_replace("term", " activity$", "")
            )
        )

    if config.excluded_classes:
        rows = rows.where(~F.col("concept_id").isin(list(config.excluded_classes)))

    # case split + all-caps alternate forms (Brca1 for BRCA1):
    # getCaseSensitiveSynonyms, OgerDictFileFactory.java:145-171
    rows = rows.withColumn("case_sensitive", is_case_sensitive(F.col("term")))
    alternates = (
        rows.where(F.col("case_sensitive") & F.col("term").rlike("^[A-Z]+[0-9]+$"))
        .withColumn(
            "term",
            F.concat(
                F.substring("term", 1, 1), F.lower(F.substring("term", 2, 10_000))
            ),
        )
    )
    rows = rows.unionByName(alternates)

    if config.id_add_on:
        parts = F.split(F.col("concept_id"), ":")
        rows = rows.withColumn(
            "concept_id",
            F.concat(
                parts.getItem(0), F.lit(config.id_add_on), F.lit(":"), parts.getItem(1)
            ),
        )

    return rows.select(
        F.lit(config.ont_key).alias("ont_key"),
        "concept_id",
        fix_label(F.col("term")).alias("term"),
        "primary_label",
        F.lit(config.main_type).alias("main_type"),
        "case_sensitive",
    ).distinct()


# ---------------------------------------------------------------------------
# Reference per-ontology configs (oger/dict/*OgerDictFileFactory.java) —
# the imperative subclasses collapse to data. Exclusion/filter lists are
# reproduced from the cited constructors/maps.
# ---------------------------------------------------------------------------

_P = ""  # CURIEs below are already prefix-form

CL_CONFIG = OgerDictConfig(
    # ClOgerDictFileFactory.java:16-40
    ont_key="CL",
    main_type="cell",
    excluded_classes=("CL:0000000", "CL:0000378", "CL:0000619"),
    added_synonyms=(
        ("CL:0000601", "outer hair cell"),
        ("CL:0000589", "inner hair cell"),
    ),
)

GO_BP_CONFIG = OgerDictConfig(
    # GoBpOgerDictFileFactory.java:18-77
    ont_key="GO_BP",
    main_type="biological_process",
    id_prefix="GO",
    id_add_on="_BP",
    excluded_roots=("GO:0003674", "GO:0005575"),  # MF, CC
    excluded_classes=(
        # exclusion is checked on the raw CURIE, before the _BP add-on
        "GO:0003002",
        "GO:0023052",
        "GO:0035282",
        "GO:0007612",
        "GO:0007610",
        "GO:0050890",
        "GO:0046960",
    ),
    removed_synonyms=(
        ("GO:0009056", "breakdown"),
        ("GO:0051179", "localisation"),
    ),
    added_synonyms=(("GO:0000380", "alternative splicing"),),
)

GO_CC_CONFIG = OgerDictConfig(
    # GoCcOgerDictFileFactory.java:14-40
    ont_key="GO_CC",
    main_type="cellular_component",
    id_prefix="GO",
    id_add_on="_CC",
    excluded_roots=("GO:0003674", "GO:0008150"),  # MF, BP
    added_synonyms=(("GO:0005730", "nucleoli"),),
)

GO_MF_CONFIG = OgerDictConfig(
    # GoMfOgerDictFileFactory.java:7-88
    ont_key="GO_MF",
    main_type="molecular_function",
    id_prefix="GO",
    id_add_on="_MF",
    excluded_roots=("GO:0005575", "GO:0008150"),  # CC, BP
    excluded_classes=(
        "GO:0141047",
        "GO:0015267",
        "GO:0048018",
        "GO:0022804",
        "GO:0022836",
        "GO:0031386",
        # the reference also lists purl+'GO:0005488' (binding), but that
        # string can never equal a real IRI (which uses GO_0005488) — the
        # entry is inert there and therefore omitted here
    ),
    removed_synonyms=(("GO:0008158", "patched activity"),),
    add_activity_stripped=True,
)

HP_CONFIG = OgerDictConfig(
    # HpOgerDictFileFactory.java:14-62
    ont_key="HP",
    main_type="phenotype",
    excluded_roots=(
        "HP:0012823",
        "HP:0040279",
        "HP:0032443",
        "HP:0000005",
        "HP:0032223",
    ),
    excluded_classes=("HP:0001548",),
    removed_synonyms=(
        ("HP:0030212", "Collecting"),
        ("HP:0000733", "Stereotyped"),
    ),
)

MONDO_CONFIG = OgerDictConfig(
    # MondoOgerDictFileFactory.java:15-204
    ont_key="MONDO",
    main_type="disease",
    min_term_length=4,
    add_virus_contractions=True,
    add_formerly_stripped=True,
    add_hemo_variants=True,
    add_heart_cardiac=True,
    excluded_roots=("MONDO:0021125", "MONDO:0042489"),
    excluded_classes=(
        "MONDO:0000001",
        "MONDO:0002254",
        "MONDO:0021178",
        "MONDO:0006025",
        "MONDO:0000429",
        "MONDO:0003847",
        "MONDO:0700096",
        "MONDO:0020683",
        "MONDO:0002409",
        "MONDO:0002657",
        "MONDO:0045024",
        "MONDO:0004995",
        "MONDO:0003900",
        "MONDO:0004335",
        "MONDO:0021147",
        "MONDO:0002022",
        "MONDO:0024458",
        "MONDO:0005151",
        "MONDO:0005570",
        "MONDO:0043543",
        "MONDO:0700007",
        "MONDO:0005046",
        "MONDO:0021166",
        "MONDO:0002051",
        "MONDO:0005066",
        "MONDO:0044970",
        "MONDO:0006858",
        "MONDO:0002081",
        "MONDO:0005071",
        "MONDO:0005137",
        "MONDO:0700003",
        "MONDO:0100366",
        "MONDO:0024623",
        "MONDO:0100086",
        "MONDO:0029000",
        "MONDO:0002025",
        "MONDO:0043459",
        "MONDO:0005039",
        "MONDO:0005087",
        "MONDO:0044991",
        "MONDO:0002118",
    ),
    removed_synonyms=(
        ("MONDO:0005059", "blood"),
        ("MONDO:0008568", "defect"),
        ("MONDO:0015074", "THYROID"),
        ("MONDO:0007620", "fed"),
        ("MONDO:0000179", "nuclear localization signal"),
        ("MONDO:0044688", "ion"),
        ("MONDO:0015404", "rich"),
        ("MONDO:0005002", "cold"),
        ("MONDO:0006767", "gave"),
        ("MONDO:0005386", "pad"),
        ("MONDO:0010953", "face"),
        ("MONDO:0005047", "sterile"),
        ("MONDO:0009994", "arms"),
        ("MONDO:0007127", "dish"),
        ("MONDO:0019065", "amyloid"),
        ("MONDO:0015595", "pale"),
        ("MONDO:0006466", "settle"),
        ("MONDO:0014493", "chai"),
        ("MONDO:0004938", "dependence"),
        ("MONDO:0015285", "lamb"),
    ),
    added_synonyms=(
        ("MONDO:0005129", "cataracts"),
        ("MONDO:0005044", "hypertension"),
    ),
)

UBERON_CONFIG = OgerDictConfig(
    # UberonOgerDictFileFactory.java:14-93
    ont_key="UBERON",
    main_type="anatomy",
    excluded_roots=("UBERON:0000104",),
    excluded_classes=(
        "UBERON:2000106",
        "UBERON:0004529",
        "UBERON:0000914",
        "UBERON:0000025",
        "UBERON:0002542",
        "UBERON:0002415",
        "UBERON:0010164",
        "UBERON:0000014",
        "UBERON:0000026",
        "UBERON:0000170",
    ),
    removed_synonyms=(
        ("UBERON:2001463", "bars"),
        ("UBERON:2001463", "bar"),
        ("UBERON:2001463", "stripe"),
        ("UBERON:2001463", "stripes"),
        ("UBERON:0014402", "sex-specific"),
        ("UBERON:0014402", "gender-specific"),
        ("UBERON:2000859", "ha(pu)"),
        ("UBERON:2000859", "ha"),
        ("UBERON:0003062", "shield"),
        ("UBERON:0003062", "organizer"),
        ("UBERON:0007380", "scales"),
        ("UBERON:0001093", "axis"),
        ("UBERON:2000271", "radials"),
        ("UBERON:0000104", "life"),
        ("UBERON:2000006", "ball"),
        ("UBERON:0001137", "back"),
        ("UBERON:2001840", "tip"),
        ("UBERON:2002284", "markings"),
        ("UBERON:2000438", "phy"),
        ("UBERON:0002488", "helix (auricula)"),
        ("UBERON:0002488", "helix"),
        ("UBERON:0000180", "lateral region"),
    ),
    added_synonyms=(
        ("UBERON:0000970", "eyes"),
        ("UBERON:0001690", "ears"),
    ),
)

NCBITAXON_CONFIG = OgerDictConfig(
    # NcbiTaxonOgerDictFileFactory.java:30-103
    ont_key="NCBITaxon",
    main_type="organism",
    excluded_roots=("NCBITaxon#:taxonomic_rank",),
    excluded_classes=("NCBITaxon:3493", "NCBITaxon:169495"),
    removed_synonyms=(
        ("NCBITaxon:201850", "Car"),
        ("NCBITaxon:5882", "Glaucoma"),
        ("NCBITaxon:1369087", "Data"),
        ("NCBITaxon:1", "root"),
        ("NCBITaxon:15957", "Timothy"),
        ("NCBITaxon:6754", "Cancer"),
        ("NCBITaxon:3554", "β"),
        ("NCBITaxon:3554", "Beta"),
        ("NCBITaxon:1118549", "Electron"),
        ("NCBITaxon:79338", "Codon"),
        ("NCBITaxon:29278", "vectors"),
        ("NCBITaxon:1233420", "vectors (genetic code 6)"),
        ("NCBITaxon:3863", "Lens"),
        ("NCBITaxon:9596", "Pan"),
        ("NCBITaxon:49990", "Thymus"),
        ("NCBITaxon:228055", "Nasa"),
        ("NCBITaxon:274080", "Camera"),
        ("NCBITaxon:37965", "hybrid"),
        ("NCBITaxon:117893", "rays"),
        ("NCBITaxon:1925465", "Major"),
        ("NCBITaxon:189528", "Indicator"),
    ),
    added_synonyms=(("NCBITaxon:6239", "C. elegans"),),
)

SO_CONFIG = OgerDictConfig(
    # SoOgerDictFileFactory.java:14-118 (filterSpecificSynonyms map)
    ont_key="SO",
    main_type="sequence_feature",
    excluded_roots=("SO:0001237", "SO:0000104", "SO:0000400", "SO:0001060"),
    excluded_classes=("SO:0000695", "SO:0000340", "SO:0002072", "SO:0000699"),
    removed_synonyms=(
        ("SO:0000667", "insertion"),
        ("SO:0000001", "region"),
        ("SO:0000001", "sequence"),
        ("SO:0001236", "base"),
        ("SO:0000984", "single"),
        ("SO:0000699", "junction"),
        ("SO:0001411", "biological region"),
        ("SO:0000104", "polypeptide"),
        ("SO:0000104", "protein"),
        ("SO:1000029", "deficiency"),
        ("SO:0000440", "vector"),
        ("SO:0000804", "construct"),
        ("SO:0001514", "direct"),
        ("SO:0001248", "assembly"),
        ("SO:0000985", "double"),
        ("SO:0000856", "conserved"),
        ("SO:0000051", "probe"),
        ("SO:0000343", "match"),
        ("SO:0000151", "clone"),
        ("SO:0000731", "fragment"),
        ("SO:0001516", "free"),
        ("SO:0000324", "tag"),
        ("SO:0001635", "upstream"),
        ("SO:0000068", "overlapping"),
        ("SO:0001515", "inverted"),
        ("SO:0000146", "capped"),
        ("SO:0000150", "read"),
        ("SO:0000933", "intermediate"),
        ("SO:0000814", "rescue"),
        ("SO:0000119", "regulated"),
        ("SO:1000002", "substitution"),
        ("SO:0001085", "conlict"),
        ("SO:0000700", "remark"),
    ),
)

CONFIGS: dict[str, OgerDictConfig] = {
    c.ont_key: c
    for c in (
        CL_CONFIG,
        GO_BP_CONFIG,
        GO_CC_CONFIG,
        GO_MF_CONFIG,
        HP_CONFIG,
        MONDO_CONFIG,
        UBERON_CONFIG,
        NCBITAXON_CONFIG,
        SO_CONFIG,
    )
}


# ---------------------------------------------------------------------------
# NCBITaxon dictionary promotion
# (NcbiTaxonOgerDictFileFactory.performTaxonPromotion :105-220)
# ---------------------------------------------------------------------------


def ancestor_pairs_for(
    terms: DataFrame, ids: DataFrame, driver_threshold: int = 1_000_000
) -> DataFrame:
    """(id, ancestor) pairs for the given ``ids`` (one ``id`` column) via
    the ``is_a`` hierarchy — the walk goes UP from just the requested ids,
    so the closure cost scales with |ids| × depth, not with the whole
    ontology.

    Scale-adaptive like :func:`transitive_descendants`: up to
    ``driver_threshold`` edges the collected edge list is walked
    driver-side in one job; above it, one distributed frontier join +
    anti-join + stage per level over the persisted edge list —
    no pair ever round-trips through the driver, only the per-level
    ``isEmpty`` termination probe."""
    spark = terms.sparkSession
    edges = (
        terms.select(
            F.explode("parents").alias("parent"), F.col("term_id").alias("child")
        )
        .select(curie(F.col("child")).alias("child"), curie(F.col("parent")).alias("parent"))
        .persist()
    )
    try:
        if driver_threshold:
            head = edges.limit(driver_threshold + 1).collect()
            if len(head) <= driver_threshold:
                parents: dict[str, list[str]] = {}
                for r in head:
                    parents.setdefault(r.child, []).append(r.parent)
                want = [r.id for r in ids.select("id").distinct().collect()]
                acc: set[tuple[str, str]] = set()
                for i in want:
                    stack = list(parents.get(i, ()))
                    seen: set[str] = set()
                    while stack:
                        a = stack.pop()
                        if a in seen:
                            continue
                        seen.add(a)
                        acc.add((i, a))
                        stack.extend(parents.get(a, ()))
                return spark.createDataFrame(
                    sorted(acc) or [], "id string, anc string"
                )

        frontier = stage(
            ids.join(edges, ids.id == edges.child)
            .select(ids.id, edges.parent.alias("anc"))
            .distinct()
        )
        acc = frontier
        while not frontier.isEmpty():
            nxt = stage(
                frontier.join(edges, frontier.anc == edges.child)
                .select(frontier.id, edges.parent.alias("anc"))
                .distinct()
                .join(acc, ["id", "anc"], "left_anti")
            )
            acc = stage(acc.unionByName(nxt))
            frontier = nxt
        return acc
    finally:
        edges.unpersist()


def promote_taxon_dictionary(
    dictionary: DataFrame, terms: DataFrame, large_group_cap: int = 20
) -> DataFrame:
    """Taxon promotion (performPromotion/prefer,
    NcbiTaxonOgerDictFileFactory.java:105-220): when one dictionary term
    maps to multiple taxon ids, drop every id that has ANOTHER member of
    the same group among its ``is_a`` ancestors — the ambiguous name
    promotes to the most general taxon. Groups larger than
    ``large_group_cap`` keep a single id (the reference picks an
    arbitrary HashSet element; here the minimum id, deterministically).
    The case-sensitive and case-insensitive halves promote independently,
    like the reference's two dictionary files."""
    key = ["case_sensitive", "term"]
    counts = Window.partitionBy(*key)
    # the (dimension-size) dictionary feeds four branches below; persist
    # once instead of re-deriving the whole build per branch. Cache
    # contract: stays persisted after return (the returned plan reads
    # it) — long-lived multi-call sessions release it via
    # spark.catalog.clearCache() after materializing the result
    d = dictionary.withColumn(
        "__n", F.size(F.collect_set("concept_id").over(counts))
    ).persist()
    multi = d.where(F.col("__n") > 1)
    cand_ids = multi.select(F.col("concept_id").alias("id")).distinct()
    anc = ancestor_pairs_for(terms, cand_ids)

    g1 = multi.select(*key, "concept_id")
    g2 = multi.select(
        *[F.col(k).alias(f"__{k}") for k in key],
        F.col("concept_id").alias("__other"),
    )
    removed = (
        g1.join(
            g2,
            (F.col("case_sensitive") == F.col("__case_sensitive"))
            & (F.col("term") == F.col("__term"))
            & (F.col("concept_id") != F.col("__other")),
        )
        .join(
            anc,
            (anc.id == F.col("concept_id")) & (anc.anc == F.col("__other")),
            "left_semi",
        )
        .select(*key, "concept_id")
        .distinct()
    )

    kept = d.join(F.broadcast(removed), [*key, "concept_id"], "left_anti")
    w_cap = Window.partitionBy(*key)
    kept = (
        kept.withColumn("__min", F.min("concept_id").over(w_cap))
        .where((F.col("__n") <= large_group_cap) | (F.col("concept_id") == F.col("__min")))
        .drop("__n", "__min")
    )
    return kept


CHEBI_CONFIG = OgerDictConfig(
    # ChebiOgerDictFileFactory.java:14-130
    ont_key="CHEBI",
    main_type="chemical",
    excluded_roots=(
        "CHEBI:50906",  # role
        "CHEBI:36342",  # subatomic particle
        "CHEBI:33250",  # atom
        "CHEBI:24433",  # group
        "CHEBI:33704",  # alpha-amino acid
    ),
    excluded_classes=(
        "CHEBI:15035", "CHEBI:18367", "CHEBI:26020", "CHEBI:36976",
        "CHEBI:16670", "CHEBI:7998", "CHEBI:7999", "CHEBI:8001",
        "CHEBI:36080", "CHEBI:8580", "CHEBI:2645", "CHEBI:33709",
        "CHEBI:33731", "CHEBI:8762", "CHEBI:60004", "CHEBI:5386",
        "CHEBI:33696", "CHEBI:49807", "CHEBI:15841", "CHEBI:79381",
        "CHEBI:18059", "CHEBI:75958", "CHEBI:27889", "CHEBI:24870",
        "CHEBI:15377", "CHEBI:25367", "CHEBI:36357", "CHEBI:46662",
        "CHEBI:7754", "CHEBI:4705", "CHEBI:9160",
    ),
    removed_synonyms=(("CHEBI:37409", "crown"),),
    added_synonyms=(("CHEBI:26710", "NaCl"),),  # formula in chebi.owl is ClNa
    add_formulas=True,
    max_hyphen_tokens=5,
    max_comma_tokens=4,
)

#: PR is the most bespoke reference factory (PrOgerDictFileFactory.java:
#: gene-template species promotion against external NCBI gene-info files,
#: hand-curated English-word exclusions). The base rule chain is this
#: config; curated exclusions apply via :func:`english_word_exclusions`.
PR_CONFIG = OgerDictConfig(ont_key="PR", main_type="protein")

CONFIGS["CHEBI"] = CHEBI_CONFIG
CONFIGS["PR"] = PR_CONFIG


def english_word_exclusions(dictionary: DataFrame, words: DataFrame) -> DataFrame:
    """Drop CASE-INSENSITIVE dictionary terms whose lowercase form is a
    common English word (PrOgerDictFileFactory.java:570-585 flags them;
    the manually curated file then removes them — ``words`` is one
    lowercase ``word`` column). Case-sensitive entries always survive,
    like the reference."""
    w = F.broadcast(words.select(F.lower("word").alias("__w")).distinct())
    flagged = dictionary.join(
        w, (~F.col("case_sensitive")) & (F.lower("term") == F.col("__w")), "left"
    )
    return flagged.where(F.col("__w").isNull()).drop("__w")


# ---------------------------------------------------------------------------
# Non-ontology dictionary sources
# (OgerDictFileFactory.createOgerDictFileFromHGNC :339-390,
#  createChemicalOgerDictFile + processChemicalLabel :396-500)
# ---------------------------------------------------------------------------


def hgnc_dictionary(hgnc: DataFrame) -> DataFrame:
    """HGNC download rows (hgnc_id, approved_symbol, approved_name,
    alias_name, alias_symbol) → dictionary rows: approved symbol + name
    and the aliases, each mapped to the approved symbol as primary label,
    type 'gene', no id processing (createOgerDictFileFromHGNC)."""
    entries = F.array_compact(
        F.array(
            F.col("approved_symbol"),
            F.col("approved_name"),
            F.col("alias_name"),
            F.col("alias_symbol"),
        )
    )
    return (
        hgnc.select(
            F.lit("HGNC").alias("ont_key"),
            F.col("hgnc_id").alias("concept_id"),
            F.explode(entries).alias("term"),
            F.col("approved_symbol").alias("primary_label"),
            F.lit("gene").alias("main_type"),
            F.lit(False).alias("case_sensitive"),
        )
        .where(F.col("term") != "")
        .distinct()
    )


#: Individual Drugbank records excluded outright — allergy-test extracts and
#: catch-all entries (DrugbankOgerDictFileFactory.java:31-49).
DRUGBANK_EXCLUDED_CLASSES = (
    "DRUGBANK:DB10415", "DRUGBANK:DB10633", "DRUGBANK:DB14245",
    "DRUGBANK:DB14244", "DRUGBANK:DB10509", "DRUGBANK:DB10551",
    "DRUGBANK:DB09393", "DRUGBANK:DB09145", "DRUGBANK:DB04540",
    "DRUGBANK:DB11017", "DRUGBANK:DB10632", "DRUGBANK:DB12938",
    "DRUGBANK:DB10519", "DRUGBANK:DB02891", "DRUGBANK:DB11577",
    "DRUGBANK:DB10549", "DRUGBANK:DB10537", "DRUGBANK:DB10561",
)

#: Record-level rejection regexes: ANY synonym matching one of these drops
#: the record's whole synonym set (DrugbankOgerDictFileFactory.java:118-133
#: — the loop sets ``toReturn = emptySet`` on a match, it does not remove
#: just the matching synonym).
_DRUGBANK_REJECT_REGEXES = (
    r"\b[Ee]xtracts?\b",
    r"\b[Vv]enom\b",
    r"\b[Dd]ander\b",
    r"\b[Aa]llergenic\b",
    r"\b[Ss]tomach\b",
    r"\b[Ll]iver\b",
)


def _caps_alternates(rows: DataFrame) -> DataFrame:
    """All-caps alternate forms (Brca1 for BRCA1) for case-sensitive terms
    — getCaseSensitiveSynonyms, OgerDictFileFactory.java:145-171 — plus
    the union with the input rows."""
    alternates = rows.where(
        F.col("case_sensitive") & F.col("term").rlike("^[A-Z]+[0-9]+$")
    ).withColumn(
        "term",
        F.concat(F.substring("term", 1, 1), F.lower(F.substring("term", 2, 10_000))),
    )
    return rows.unionByName(alternates)


def drugbank_dictionary(
    drugs: DataFrame, stopwords: tuple[str, ...] = tuple(DEFAULT_STOPWORDS)
) -> DataFrame:
    """Drugbank record frame → OGER drug dictionary
    (DrugbankOgerDictFileFactory.java:25-135).

    ``drugs`` columns: ``drugbank_id`` (bare DBxxxxx accession), ``name``,
    ``description`` (nullable), ``synonyms array<string>`` (nullable) —
    the fields DrugbankXmlFileRecordReader yields that the factory reads.

    Chain, in the reference's order:

    1. drop records whose description contains ``allergenic`` or
       ``animal extract`` (:66-71 — the allergy-test entries);
    2. synonym set = drug name + synonyms (:73-82);
    3. ``augmentSynonyms`` (:111-135): stopword removal (lowercase
       compare), min term length 3, the 18 excluded individual classes,
       and the record-level extract/venom/dander/allergenic/stomach/liver
       regex rejection evaluated against the RAW synonym set;
    4. case-sensitivity split + all-caps alternates;
    5. emit with ``processId=false`` (:97-106) — the DRUGBANK CURIE is
       used as-is and labels are only trimmed, never ``fixLabel``-ed.

    Output schema matches :func:`build_oger_dictionary`; ``ont_key`` is
    the reference's dict-line source column, ``DrugBank``. Scale: narrow
    per-record array expressions, no joins, no shuffle before the final
    ``distinct``."""
    desc = F.coalesce(F.col("description"), F.lit(""))
    kept = drugs.where(
        ~(desc.contains("allergenic") | desc.contains("animal extract"))
    )
    cid = F.concat(F.lit("DRUGBANK:"), F.col("drugbank_id"))
    kept = kept.where(~cid.isin(list(DRUGBANK_EXCLUDED_CLASSES)))

    raw = F.array_distinct(
        F.concat(
            F.array(F.col("name")),
            F.coalesce(F.col("synonyms"), F.array().cast("array<string>")),
        )
    )
    reject_rx = "|".join(f"(?:{rx})" for rx in _DRUGBANK_REJECT_REGEXES)
    kept = kept.where(~F.exists(raw, lambda x: x.rlike(reject_rx)))

    sw = [w.lower() for w in stopwords]
    syns = F.filter(raw, lambda x: ~F.lower(x).isin(sw))
    syns = F.filter(syns, lambda x: F.length(x) >= 3)

    rows = kept.select(
        cid.alias("concept_id"),
        F.col("name").alias("primary_label"),
        F.explode(syns).alias("term"),
    ).withColumn("case_sensitive", is_case_sensitive(F.col("term")))
    rows = _caps_alternates(rows)
    return rows.select(
        F.lit("DrugBank").alias("ont_key"),
        "concept_id",
        F.trim("term").alias("term"),
        F.trim("primary_label").alias("primary_label"),
        F.lit("drug").alias("main_type"),
        "case_sensitive",
    ).distinct()


#: SNOMED procedure concepts excluded outright — overly generic terms
#: (ProcedureOgerDictFileFactory.java:170-260).
PROCEDURE_EXCLUDED_CLASSES = (
    "243114000", "10012005", "14788002", "119265000", "118629009",
    "119271006", "122467006", "122465003", "122464004", "122869004",
    "122546009", "122502001", "14509009", "1431002", "19207007",
    "18629005", "183376001", "182832007", "169443000", "223482009",
    "223458004", "21147007", "225313009", "225307000", "225414002",
    "243115004", "233546007", "231097002", "229824005", "229494005",
    "229169001", "250194009", "252628008", "2677003", "252886007",
    "29513000", "28485005", "29703006", "304383000", "313556000",
    "313402005", "33230000", "32750006", "35860002", "33879002",
    "33747003", "363778006", "387713003", "386639001", "386476006",
    "386453008", "386053000", "373784005", "39250009", "392230005",
    "39857003", "410617001", "410614008", "410538000", "410025003",
    "41902000", "4365001", "444635008", "67191004", "781087000",
    "8378006", "91400004", "115979005", "115956009", "122545008",
    "231287002", "229057006", "257941004",
)

#: Per-concept synonym drops the reference DEFINES but never calls
#: (filterSpecificSynonyms, ProcedureOgerDictFileFactory.java:263-287 —
#: the factory is marked "TODO: implement this" upstream and the method is
#: dead code there). Exposed behind ``apply_specific_filter`` so a user
#: can engage the evidently-intended behavior.
PROCEDURE_SPECIFIC_SYNONYM_DROPS = (
    ("363778006", "phenotype"),
    ("386397008", "presence"),
    ("363779003", "genotype"),
    ("4365001", "repair"),
    ("122501008", "fusion"),
)

#: SNOMED id of the 'procedure' root concept
#: (ProcedureOgerDictFileFactory.java:30).
PROCEDURE_SNOMED_ID = "71388002"


def snomed_procedure_ids(
    transitive_subclass: DataFrame, root_id: str = PROCEDURE_SNOMED_ID
) -> DataFrame:
    """(id) frame of procedure concept ids: subtype ids (column
    ``subtype_id``) of rows whose ``supertype_id`` is the procedure root —
    ProcedureOgerDictFileFactory.loadIdentifiers:52-74. The input is the
    already-transitive SNOMED subclass-relations export, so no closure is
    computed here; faithfully, the root itself is only included if the
    export lists it as its own subtype."""
    return (
        transitive_subclass.where(F.col("supertype_id") == root_id)
        .select(F.col("subtype_id").alias("id"))
        .distinct()
    )


def procedure_dictionary(
    descriptions: DataFrame,
    transitive_subclass: DataFrame,
    stopwords: tuple[str, ...] = tuple(DEFAULT_STOPWORDS),
    apply_specific_filter: bool = False,
) -> DataFrame:
    """SNOMED descriptions + transitive-subclass relations → OGER
    procedure dictionary (ProcedureOgerDictFileFactory.java:28-287; the
    reference file is itself marked "TODO: implement this" upstream and
    was never finished — this port covers the code that exists).

    ``descriptions`` columns: ``concept_id`` (descriptions-file column 4),
    ``term`` (column 7). ``transitive_subclass``: ``supertype_id``,
    ``subtype_id``. Chain: keep concepts that are procedure descendants
    (semi-join against :func:`snomed_procedure_ids` — the reference's
    in-memory HashSet becomes a broadcast join), primary label = the
    reference's ``synonyms.iterator().next()`` which is an ARBITRARY
    HashSet element, made deterministic here as min(term) over the raw
    set; then ``augmentSynonyms`` (stopwords, min length 3, excluded
    individual classes :170-260), case split + alternates, emit with
    ``processId=false``."""
    proc_ids = snomed_procedure_ids(transitive_subclass)
    rows = descriptions.select("concept_id", "term").join(
        F.broadcast(proc_ids), F.col("concept_id") == F.col("id"), "left_semi"
    )
    # deterministic stand-in for the reference's arbitrary iterator().next()
    # (taken from the RAW synonym set, before augmentSynonyms)
    labels = rows.groupBy("concept_id").agg(F.min("term").alias("primary_label"))

    rows = rows.where(~F.col("concept_id").isin(list(PROCEDURE_EXCLUDED_CLASSES)))
    sw = [w.lower() for w in stopwords]
    rows = rows.where(~F.lower("term").isin(sw)).where(F.length("term") >= 3)
    if apply_specific_filter:
        drops = F.broadcast(
            rows.sparkSession.createDataFrame(
                list(PROCEDURE_SPECIFIC_SYNONYM_DROPS), "concept_id string, term string"
            )
        )
        rows = rows.join(drops, ["concept_id", "term"], "left_anti")

    rows = (
        rows.join(labels, "concept_id")
        .withColumn("case_sensitive", is_case_sensitive(F.col("term")))
    )
    rows = _caps_alternates(rows)
    return rows.select(
        F.lit("SNOMEDCT").alias("ont_key"),
        F.concat(F.lit("SNOMEDCT:"), F.col("concept_id")).alias("concept_id"),
        F.trim("term").alias("term"),
        F.trim("primary_label").alias("primary_label"),
        F.lit("procedure").alias("main_type"),
        "case_sensitive",
    ).distinct()


def chemical_label_dictionary(labels: DataFrame) -> DataFrame:
    """MolePro (pubchem_id, label) rows → dictionary rows with the
    reference's label cleanup (processChemicalLabel :484-545): drop
    labels under 4 chars after punctuation removal, flip single-comma
    labels (right side first), drop >1-comma labels, drop >30%-digit
    labels, strip surrounding square brackets, and the enumerated
    (id, label) false-positive exclusions."""
    no_punct = F.regexp_replace("label", r"\p{Punct}", "")
    commas = F.size(F.split(F.col("label"), ",")) - 1
    left = F.split(F.col("label"), ",").getItem(0)
    right = F.split(F.col("label"), ",").getItem(1)
    flipped = F.concat(
        right, F.when(right.endswith("-"), F.lit("")).otherwise(F.lit(" ")), left
    )
    no_digits = F.regexp_replace(F.regexp_replace("label", r"\d", ""), r"\s", "")
    pct_digits = (F.length("label") - F.length(no_digits)) / F.length("label")
    bracketed = F.col("label").startswith("[") & F.col("label").endswith("]")
    processed = F.when(commas == 1, flipped).otherwise(
        F.when(
            bracketed, F.substring(F.col("label"), F.lit(2), F.length("label") - 2)
        ).otherwise(F.col("label"))
    )
    exclusions = [
        ("PUBCHEM.COMPOUND:444212", "acid"),
        ("PUBCHEM.COMPOUND:139199449", "ligand"),
        ("PUBCHEM.COMPOUND:4201", "solution"),
        ("PUBCHEM.COMPOUND:3036828", "methyl"),
        ("PUBCHEM.COMPOUND:135616186", "focus"),
        ("PUBCHEM.COMPOUND:135438605", "focus"),
        ("PUBCHEM.COMPOUND:4641", "optimal"),
    ]
    excluded = None
    for cid, lbl in exclusions:
        cond = (F.upper("pubchem_id") == cid) & (F.lower("label") == lbl)
        excluded = cond if excluded is None else (excluded | cond)
    kept = labels.where(
        (F.length(no_punct) >= 4) & (commas <= 1) & (pct_digits <= 0.3) & ~excluded
    )
    out = kept.select(
        F.lit("PUBCHEM").alias("ont_key"),
        F.col("pubchem_id").alias("concept_id"),
        processed.alias("term"),
        processed.alias("primary_label"),
        F.lit("chemical").alias("main_type"),
        F.lit(False).alias("case_sensitive"),
    )
    return out.distinct()
