"""Driver-facing query registry: every implemented operator from SURVEY §2
mapped onto the driver's synthetic tables (TESTDATA.md: region nation
customer supplier part orders lineitem events documents embeddings), each
with a DuckDB-runnable ANSI-SQL oracle producing identical column names,
types and values.

Conventions for oracle parity:
- every computed column is aliased identically on both sides;
- counts are BIGINT on both sides (DuckDB ``sum(bigint)`` returns HUGEINT →
  always ``cast(... as bigint)``);
- doubles are ``round(x, s)`` on both sides with the same shape of
  arithmetic, so engine-order float noise stays far below the rounding
  scale;
- orderings feeding row_number/limit use rounded values + id tie-breaks so
  both engines pick the same rows;
- DuckDB 1.0 lacks WITH ORDINALITY / lateral generate_series, so word
  positions come from a cross-joined position series (cap ``_POS_CAP``)
  and sha1 is avoided in oracle-checked outputs (md5/sha256 only).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.staging import stage
from ..operators import annotbatch as ab
from ..operators import classified as clf
from ..operators import collections as coll
from ..operators import conceptfilters as cf
from ..operators import cooccurrence as co
from ..operators import dedup, documents as docops, similarity, spans, textanalysis
from ..operators import exports as ex
from ..operators import ner
from ..operators import sentences as sentops
from ..operators import versioning
from ..sources.tables import read_table

# position-series cap for the oracle's shingle expansion; asserted against
# the corpus in tests (max words per doc ≪ this)
_POS_CAP = 4000

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ``ts`` arrives as TIMESTAMP_NTZ on PySpark 4.x (the
    3.x ``nanosAsLong`` legacy conf is gone); expose ``ts_ns`` as epoch
    nanoseconds. ``timestampdiff`` against the NTZ epoch is timezone-free,
    so the value equals DuckDB's ``epoch_ns(ts)`` for the same parquet.
    Epoch math downstream uses integer DIV — nanos exceed 2^53, so double
    division would lose precision."""
    e = read_table(spark, sf_dir, "events")
    ts_type = dict(e.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):  # reader already delivered raw nanos
        ts_ns = F.col("ts")
    else:
        ts_ns = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            "cast(ts as timestamp_ntz)) * 1000"
        )
    return e.withColumn("ts_ns", ts_ns.cast("long"))


# ---------------------------------------------------------------------------
# Relational core (A-aggs, J1-style joins, windows, dedup)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                AS sum_qty,
           round(sum(l_extendedprice), 2)                           AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc_price,
           round(avg(l_quantity), 6)                                AS avg_qty,
           round(avg(l_extendedprice), 6)                           AS avg_price,
           count(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with map-side partials; the
    shipdate predicate and 6-column projection push into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "regional_revenue",
    """
    SELECT r.r_name, o.o_orderstatus,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*)                      AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, o.o_orderstatus
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-style multi-stream equi-join: the fact table joins two broadcast
    dims (nation/region are tiny; customer is broadcastable at bench SF —
    AQE decides) then aggregates."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type,
           round(value, 8)                         AS value,
           cast(floor(epoch(ts)) as bigint)        AS ts_epoch
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins resolution — the window-function replacement for the
    reference's filterForMostRecent version compare
    (PipelineMain.java:408-505): row_number over (key ORDER BY recency) = 1."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts_ns").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.round("value", 8).alias("value"),
            F.expr("ts_ns div 1000000000").alias("ts_epoch"),
        )
    )


@register(
    "filter_documents",
    """
    SELECT doc_id, source, lang, n_chars
    FROM documents
    WHERE source IN ('src1','src2','src3') AND n_chars BETWEEN 100 AND 400
    """,
)
def filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 shape: predicate + projection, fully pushed into the scan
    (collection membership ≈ source IN (...), criteria ≈ range filter)."""
    d = _t(spark, sf_dir, "documents")
    return d.where(
        F.col("source").isin("src1", "src2", "src3") & F.col("n_chars").between(100, 400)
    ).select("doc_id", "source", "lang", "n_chars")


@register(
    "exact_duplicates",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def exact_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 first-wins dedup as content-hash grouping."""
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Document substrate (SURVEY §3.2): versioned documents, status gating, the
# universal input join. Versioned document streams are synthesized
# deterministically from the `documents` table: every doc has a TEXT stream
# with two versions (0.{k}.0 and 0.{k+1}.0 — latest must win) and, when
# doc_id % 5 != 0, a SECTIONS stream (so the join has real failures).
# Status: TEXT_DONE ⇔ n_chars >= 50, SENT_DONE ⇔ doc_id % 7 == 0,
# collection = source.
# ---------------------------------------------------------------------------


def _synth_document_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        "lang",
        "source",
        (F.col("doc_id") % 3).alias("k"),
        (F.col("doc_id") % 5).alias("m5"),
    )
    text_v = base.select(
        "doc_id",
        F.lit("TEXT").alias("doc_type"),
        F.lit("TEXT").alias("doc_format"),
        F.lit("MEDLINE_XML_TO_TEXT").alias("pipeline_key"),
        F.explode(
            F.array(
                F.struct(
                    F.format_string("0.%d.0", F.col("k")).alias("pipeline_version"),
                    F.concat(F.lit("A:"), F.col("text")).alias("content"),
                ),
                F.struct(
                    F.format_string("0.%d.0", F.col("k") + 1).alias("pipeline_version"),
                    F.concat(F.lit("B:"), F.col("text")).alias("content"),
                ),
            )
        ).alias("v"),
        F.array("source").alias("collections"),
    ).select(
        "doc_id", "doc_type", "doc_format", "pipeline_key",
        F.col("v.pipeline_version").alias("pipeline_version"),
        F.col("v.content").alias("content"),
        F.lit(0).cast("long").alias("chunk_id"),
        F.lit(1).cast("long").alias("chunk_total"),
        "collections",
    )
    sect_v = base.where(F.col("m5") != 0).select(
        "doc_id",
        F.lit("SECTIONS").alias("doc_type"),
        F.lit("BIONLP").alias("doc_format"),
        F.lit("SECTIONS").alias("pipeline_key"),
        F.lit("0.1.0").alias("pipeline_version"),
        F.concat(F.lit("S:"), F.col("lang")).alias("content"),
        F.lit(0).cast("long").alias("chunk_id"),
        F.lit(1).cast("long").alias("chunk_total"),
        F.array("source").alias("collections"),
    )
    return text_v.unionByName(sect_v)


def _synth_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("2155").alias("pub_year"),
        F.array().cast("array<string>").alias("pub_types"),
        F.map_from_arrays(
            F.array(F.lit("TEXT_DONE"), F.lit("SENT_DONE")),
            F.array(F.col("n_chars") >= 50, F.col("doc_id") % 7 == 0),
        ).alias("flags"),
        F.array("source").alias("collections"),
    )


_UIJ_CRITERIA = [
    docops.DocumentCriteria("TEXT", "TEXT", "MEDLINE_XML_TO_TEXT", "recent"),
    docops.DocumentCriteria("SECTIONS", "BIONLP", "SECTIONS", "0.1.0"),
]


@register(
    "latest_version_documents",
    """
    SELECT cast(doc_id AS varchar) AS doc_id,
           'B:' || text            AS content,
           '0.' || cast(doc_id % 3 + 1 AS varchar) || '.0' AS pipeline_version
    FROM documents
    """,
)
def latest_version_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins version resolution (filterForMostRecent,
    PipelineMain.java:408-436) over the synthesized two-version TEXT stream:
    the 0.{k+1}.0 'B:' content must win for every document."""
    streams = _synth_document_streams(spark, sf_dir)
    text_stream = streams.where(F.col("doc_type") == "TEXT")
    return versioning.filter_most_recent(text_stream).select(
        "doc_id", "content", "pipeline_version"
    )


@register(
    "universal_input_join",
    """
    SELECT cast(doc_id AS varchar) AS doc_id,
           'B:' || text            AS text_content,
           'S:' || lang            AS sections_content
    FROM documents
    WHERE n_chars >= 50 AND doc_id % 7 <> 0 AND source = 'src1' AND doc_id % 5 <> 0
    """,
)
def universal_input_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (getStatusEntity2Content, PipelineMain.java:287-406): status gate
    (required flags true, target flag false, collection membership) joined
    with two document streams; only documents with ALL required inputs
    survive. Single scan + one shuffle replaces the reference's N Datastore
    queries + CoGroupByKey."""
    joined, _failures = docops.universal_input_join(
        _synth_status(spark, sf_dir),
        _synth_document_streams(spark, sf_dir),
        _UIJ_CRITERIA,
        required_flags=["TEXT_DONE"],
        target_flag="SENT_DONE",
        collection="src1",
    )
    return joined.select(
        "doc_id",
        F.col("contents").getItem(_UIJ_CRITERIA[0].key).alias("text_content"),
        F.col("contents").getItem(_UIJ_CRITERIA[1].key).alias("sections_content"),
    )


@register(
    "input_join_failures",
    """
    SELECT cast(doc_id AS varchar) AS doc_id,
           'input-join' AS stage,
           'missing required documents: SECTIONS|BIONLP|SECTIONS|0.1.0' AS message
    FROM documents
    WHERE n_chars >= 50 AND doc_id % 7 <> 0 AND source = 'src1' AND doc_id % 5 = 0
    """,
)
def input_join_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The failure side-channel of J1 (EtlFailureData; warn+skip at
    PipelineMain.java:361-379): status-selected documents whose SECTIONS
    stream is absent."""
    _joined, failures = docops.universal_input_join(
        _synth_status(spark, sf_dir),
        _synth_document_streams(spark, sf_dir),
        _UIJ_CRITERIA,
        required_flags=["TEXT_DONE"],
        target_flag="SENT_DONE",
        collection="src1",
    )
    return failures.select("doc_id", "stage", "message")


# ---------------------------------------------------------------------------
# Cooccurrence chain on (order → supplier) "concepts"
# ---------------------------------------------------------------------------

_UC_SQL = """
    uc AS (
      SELECT DISTINCT cast(l_orderkey AS varchar)        AS text_id,
                      'S:' || cast(l_suppkey AS varchar) AS concept_id
      FROM lineitem
    )
"""


def _supplier_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("text_id"),
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias("concept_id"),
    ).distinct()


@register(
    "cooccurrence_metrics",
    f"""
    WITH {_UC_SQL},
    counts AS (SELECT concept_id, count(*) AS concept_count FROM uc GROUP BY 1),
    totals AS (SELECT count(DISTINCT text_id) AS total_docs FROM uc),
    tc     AS (SELECT cast(sum(concept_count) AS bigint) AS total_concepts FROM counts),
    pairs  AS (
      SELECT a.text_id, a.concept_id AS concept1, b.concept_id AS concept2
      FROM uc a JOIN uc b ON a.text_id = b.text_id AND a.concept_id < b.concept_id
    ),
    pc AS (SELECT concept1, concept2, count(*) AS pair_count FROM pairs GROUP BY 1, 2)
    SELECT pc.concept1, pc.concept2, pc.pair_count,
           c1.concept_count AS concept1_count,
           c2.concept_count AS concept2_count,
           round((greatest(log10(c1.concept_count), log10(c2.concept_count)) - log10(pc.pair_count))
                 / (log10(tc.total_concepts) - least(log10(c1.concept_count), log10(c2.concept_count))), 8) AS ngd,
           round(ln((pc.pair_count / cast(t.total_docs AS double))
                    / ((c1.concept_count / cast(t.total_docs AS double))
                       * (c2.concept_count / cast(t.total_docs AS double)))), 8) AS pmi,
           round(ln((pc.pair_count / cast(t.total_docs AS double))
                    / ((c1.concept_count / cast(t.total_docs AS double))
                       * (c2.concept_count / cast(t.total_docs AS double))))
                 / (-1 * ln(pc.pair_count / cast(t.total_docs AS double) + 0.000000001)), 8) AS npmi,
           round(ln((pc.pair_count / cast(t.total_docs AS double))
                    / ((c1.concept_count / cast(t.total_docs AS double))
                       * (c2.concept_count / cast(t.total_docs AS double))))
                 / (-1 * ln(greatest(c1.concept_count / cast(t.total_docs AS double),
                                     c2.concept_count / cast(t.total_docs AS double)) + 0.000000001)), 8) AS npmi_max,
           round(ln(pow(pc.pair_count / cast(t.total_docs AS double), 2)
                    / ((c1.concept_count / cast(t.total_docs AS double))
                       * (c2.concept_count / cast(t.total_docs AS double)))), 8) AS md,
           round(ln(pow(pc.pair_count / cast(t.total_docs AS double), 2)
                    / ((c1.concept_count / cast(t.total_docs AS double))
                       * (c2.concept_count / cast(t.total_docs AS double))))
                 + ln(pc.pair_count / cast(t.total_docs AS double)), 8) AS lfmd
    FROM pc
    JOIN counts c1 ON c1.concept_id = pc.concept1
    JOIN counts c2 ON c2.concept_id = pc.concept2
    CROSS JOIN totals t CROSS JOIN tc
    """,
)
def cooccurrence_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/A8: the full metrics chain with orders as text units and
    suppliers as concepts (pair id omitted — sha1 is unverifiable in
    DuckDB; covered bit-exactly by unit tests instead)."""
    return co.cooccurrence_chain_from_rows(
        _supplier_units(spark, sf_dir), with_pair_id=False
    )


@register(
    "concept_idf",
    f"""
    WITH {_UC_SQL},
    counts AS (SELECT concept_id, count(*) AS concept_count FROM uc GROUP BY 1),
    totals AS (SELECT count(DISTINCT text_id) AS total_docs FROM uc)
    SELECT concept_id, concept_count,
           round(ln(cast(total_docs AS double) / cast(concept_count AS double)), 8) AS idf
    FROM counts CROSS JOIN totals
    """,
)
def concept_idf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: IDF over the same unit-concept relation."""
    return co.concept_idf(_supplier_units(spark, sf_dir))


@register(
    "pair_top_publications",
    f"""
    WITH {_UC_SQL},
    pairs AS (
      SELECT a.text_id, a.concept_id AS concept1, b.concept_id AS concept2
      FROM uc a JOIN uc b ON a.text_id = b.text_id AND a.concept_id < b.concept_id
    )
    SELECT concept1, concept2, text_id AS document_id
    FROM (
      SELECT *, row_number() OVER (PARTITION BY concept1, concept2 ORDER BY text_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
)
def pair_top_publications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: ≤ N publications per pair (reference cap 25; 5 here to make the
    cap bind at test scale)."""
    pairs = co.concept_pairs(_supplier_units(spark, sf_dir))
    return co.pair_publications(pairs, max_per_pair=5)


# ---------------------------------------------------------------------------
# Span joins (J3/J4) on synthetic intervals
# ---------------------------------------------------------------------------

# Each order is a "document". Sentences are two tiled layers of 140-wide
# spans (layer 1 offset by 70 → up to two containers per concept, so the
# first-containing tie-break is exercised); concepts are 10-wide spans
# derived from lineitem keys. Realistic density: ~16 sentences and ~4
# concepts per doc — output stays O(input), join key is the high-cardinality
# doc id.
_SENT_SQL = """
    sent AS (
      SELECT o_orderkey * 100 + layer * 10 + j AS id,
             o_orderkey                        AS doc,
             layer * 70 + j * 140              AS start,
             layer * 70 + j * 140 + 140        AS "end"
      FROM orders,
           (SELECT unnest(generate_series(0, 7)) AS j) js,
           (SELECT unnest(generate_series(0, 1)) AS layer) ls
    )
"""
_CONC_SQL = """
    conc AS (
      SELECT l_orderkey * 100 + l_linenumber AS id,
             l_orderkey                      AS doc,
             (l_partkey * 7) % 1100          AS start,
             (l_partkey * 7) % 1100 + 10     AS "end"
      FROM lineitem
    )
"""


def _sent_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
        )
        .select(
            "o_orderkey",
            "j",
            F.explode(F.sequence(F.lit(0), F.lit(1))).alias("layer"),
        )
        .select(
            (F.col("o_orderkey") * 100 + F.col("layer") * 10 + F.col("j")).alias("id"),
            F.col("o_orderkey").alias("doc"),
            (F.col("layer") * 70 + F.col("j") * 140).alias("start"),
            (F.col("layer") * 70 + F.col("j") * 140 + 140).alias("end"),
        )
    )


def _conc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("doc"),
        ((F.col("l_partkey") * 7) % 1100).alias("start"),
        ((F.col("l_partkey") * 7) % 1100 + 10).alias("end"),
    )


@register(
    "span_containment_counts",
    f"""
    WITH {_SENT_SQL}, {_CONC_SQL}
    SELECT s.id AS sentence_id, count(*) AS n_contained
    FROM sent s JOIN conc c
      ON s.doc = c.doc AND c.start >= s.start AND c."end" <= s."end"
    GROUP BY 1
    """,
)
def span_containment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 + A1 shape: concepts contained in sentence spans, counted per
    sentence (intervals synthesized deterministically from keys)."""
    joined = spans.containment_join(
        _sent_frame(spark, sf_dir), _conc_frame(spark, sf_dir), on=("doc",)
    )
    return joined.groupBy(F.col("outer_id").alias("sentence_id")).agg(
        F.count("*").alias("n_contained")
    )


@register(
    "span_first_containing",
    f"""
    WITH {_SENT_SQL}, {_CONC_SQL}
    SELECT concept_id, sentence_id FROM (
      SELECT c.id AS concept_id, s.id AS sentence_id,
             row_number() OVER (PARTITION BY c.doc, c.id, c.start, c."end"
                                ORDER BY s.start, s."end", s.id) AS rn
      FROM sent s JOIN conc c
        ON s.doc = c.doc AND c.start >= s.start AND c."end" <= s."end"
    ) WHERE rn = 1
    """,
)
def span_first_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 tie-break parity: each concept goes to the *first* containing
    sentence by span order (reference sort + early break)."""
    joined = spans.containment_join(
        _sent_frame(spark, sf_dir),
        _conc_frame(spark, sf_dir),
        on=("doc",),
        first_containing_only=True,
    )
    return joined.select(
        F.col("inner_id").alias("concept_id"), F.col("outer_id").alias("sentence_id")
    )


@register(
    "span_overlap_filter",
    f"""
    WITH {_CONC_SQL},
    crf AS (
      SELECT l_orderkey                 AS doc,
             (l_suppkey * 11) % 1100    AS start,
             (l_suppkey * 11) % 1100 + 30 AS "end"
      FROM lineitem WHERE l_linenumber = 1
    )
    SELECT c.id, c.doc, c.start, c."end"
    FROM conc c WHERE EXISTS (
      SELECT 1 FROM crf f
      WHERE f.doc = c.doc AND c.start < f."end" AND f.start < c."end"
    )
    """,
)
def span_overlap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-semi overlap join — keep concept spans confirmed by any
    CRF span on the same document (PipelineMain.filterViaCrf shape)."""
    li = _t(spark, sf_dir, "lineitem")
    crf = li.where(F.col("l_linenumber") == 1).select(
        F.col("l_orderkey").alias("doc"),
        ((F.col("l_suppkey") * 11) % 1100).alias("start"),
        ((F.col("l_suppkey") * 11) % 1100 + 30).alias("end"),
    )
    return spans.overlap_semi_join(_conc_frame(spark, sf_dir), crf, on=("doc",))


# ---------------------------------------------------------------------------
# Sentence layer (X1 segmentation, J5/P9/P10 extraction)
# ---------------------------------------------------------------------------

# DuckDB twin of segment_sentences: same marker-insert + split + cumulative
# offsets. Whitespace classes are written explicitly ([ \t\n\r\f]) so RE2 and
# Java agree; the position-series cap is far above any real sentence count.
_SEG_SQL = r"""
    seg_parts AS (
      SELECT doc_id,
             string_split(
               regexp_replace(
                 regexp_replace(text, '\n', chr(30) || '\n', 'g'),
                 '([.!?])([ \t\n\r\f]+)', '\1' || chr(30) || '\2', 'g'),
               chr(30)) AS ps
      FROM documents
    ),
    seg_pos AS (SELECT unnest(generate_series(1, 512)) AS p),
    seg_exploded AS (
      SELECT doc_id, p, list_extract(ps, p) AS part,
             length(coalesce(array_to_string(list_slice(ps, 1, p - 1), ''), '')) AS off
      FROM seg_parts, seg_pos WHERE p <= len(ps)
    ),
    seg AS (
      SELECT doc_id,
             cast(row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS int) AS sent_idx,
             cast(off + length(regexp_extract(part, '^([ \t\n\r\f]*)', 1)) AS int) AS start,
             cast(off + length(part) - length(regexp_extract(part, '([ \t\n\r\f]*)$', 1)) AS int) AS "end",
             regexp_replace(part, '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g') AS sentence
      FROM seg_exploded
      WHERE regexp_replace(part, '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g') <> ''
    )
"""


@register(
    "sentence_segmentation",
    f"""
    WITH {_SEG_SQL}
    SELECT doc_id, sent_idx, start, "end", sentence FROM seg
    """,
)
def sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (OpenNLPSentenceSegmentFn.java:127-193 boundary semantics):
    punctuation+whitespace and line-break boundaries with exact character
    spans — all column expressions, offsets from a cumulative-length
    window."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("content")
    )
    out = sentops.segment_sentences(d)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "sent_idx", "start", "end", "sentence")


@register(
    "extracted_relation_sentences",
    """
    WITH eligible AS (SELECT * FROM documents WHERE n_chars >= 40)
    SELECT sha256(cast(doc_id AS varchar) || 'Unknown'
                  || 'CHEBI:' || cast(doc_id AS varchar) || '[5..12]'
                  || 'HP:' || cast(doc_id AS varchar) || '[20..30]'
                  || text)                                   AS sentence_id,
           cast(doc_id AS varchar)                           AS doc_id,
           'CHEBI:' || cast(doc_id AS varchar)               AS entity1_id,
           substr(text, 6, 7)                                AS entity1_text,
           'HP:' || cast(doc_id AS varchar)                  AS entity2_id,
           substr(text, 21, 10)                              AS entity2_text,
           substr(text, 1, 5) || '@CHEMICAL$' || substr(text, 13, 8)
             || '@DISEASE$' || substr(text, 31)              AS sentence_with_placeholders,
           'Unknown'                                         AS doc_zone,
           '2155'                                            AS pub_year,
           0                                                 AS sentence_span_start,
           cast(3 AS bigint)                                 AS n_other
    FROM eligible
    """,
)
def extracted_relation_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/P9/P10 + sha256 sentence id (SentenceExtractionFn +
    ExtractedSentence.java:104-143) over synthesized concept annotations:
    every doc ≥ 40 chars carries a CHEBI span [5,12), an HP span [20,30)
    and one other (PR) entity; the whole document acts as the containing
    sentence so the oracle can reproduce ids and placeholder surgery
    bit-for-bit. n_other = 3: the other-entity lists include the pair
    entities themselves (getAllConceptsInSentence :341-350) plus the PR
    entity."""
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 40)
    docs = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text", "n_chars")
    sents = docs.select(
        "doc_id",
        F.lit(0).alias("sent_idx"),
        F.lit(0).alias("start"),
        F.col("n_chars").cast("int").alias("end"),
        F.col("text").alias("sentence"),
    )
    mk = lambda pfx, s, e: docs.select(  # noqa: E731
        "doc_id",
        F.lit("concept").alias("annot_type"),
        F.concat(F.lit(pfx + ":"), F.col("doc_id")).alias("concept_id"),
        F.array(F.struct(F.lit(s).cast("int").alias("start"), F.lit(e).cast("int").alias("end"))).alias("spans"),
        F.substring("text", s + 1, e - s).alias("covered_text"),
    )
    concepts = mk("CHEBI", 5, 12).unionByName(mk("HP", 20, 30)).unionByName(mk("PR", 13, 18))
    ext = sentops.extract_sentences(
        sents, concepts,
        x_prefixes=["CHEBI"], y_prefixes=["HP"],
        x_placeholder="@CHEMICAL$", y_placeholder="@DISEASE$",
    )
    return ext.select(
        "sentence_id",
        "doc_id",
        "entity1_id",
        "entity1_text",
        "entity2_id",
        "entity2_text",
        "sentence_with_placeholders",
        "doc_zone",
        "pub_year",
        "sentence_span_start",
        F.size("other_entity_ids").cast("bigint").alias("n_other"),
    )


# ---------------------------------------------------------------------------
# Classified-sentence storage (J2) + exports on synthesized metadata: every
# doc ≥ 40 chars is one extracted sentence (CHEBI:<id> [5,12) / HP:<id>
# [20,30), sentence = full text); classifier scores derive from doc_id.
# ---------------------------------------------------------------------------

_CLS_ASSOC = "biolink:ChemicalToDiseaseOrPhenotypicFeatureAssociation"

# shared CTE: rows passing the gate (treats score > 0.5)
_CLS_SQL = """
    cls AS (
      SELECT cast(doc_id AS varchar) AS doc, text,
             'CHEBI:' || cast(doc_id AS varchar) AS sub,
             'HP:' || cast(doc_id AS varchar)    AS obj
      FROM documents
      WHERE n_chars >= 40 AND ((doc_id * 37) % 100) / 100.0 > 0.5
    )
"""


def _cls_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 40)
    span = lambda s, e: F.array(  # noqa: E731
        F.struct(F.lit(s).cast("int").alias("start"), F.lit(e).cast("int").alias("end"))
    )
    return d.select(
        F.concat(F.lit("S"), F.col("doc_id").cast("string")).alias("sentence_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("CHEBI:"), F.col("doc_id").cast("string")).alias("entity1_id"),
        F.substring("text", 6, 7).alias("entity1_text"),
        span(5, 12).alias("entity1_spans"),
        F.concat(F.lit("HP:"), F.col("doc_id").cast("string")).alias("entity2_id"),
        F.substring("text", 21, 10).alias("entity2_text"),
        span(20, 30).alias("entity2_spans"),
        F.lit(None).cast("string").alias("keyword"),
        F.col("text").alias("sentence_text"),
        F.lit(None).cast("string").alias("sentence_with_placeholders"),
        F.lit("abstract").alias("doc_zone"),
        F.array(F.lit("JournalArticle")).alias("pub_types"),
        F.lit("1999").alias("pub_year"),
        F.lit(0).cast("int").alias("sentence_span_start"),
        F.array().cast("array<string>").alias("other_entity_ids"),
        F.array().cast("array<string>").alias("other_entity_texts"),
        F.array().cast(
            "array<struct<start:int,end:int>>"
        ).alias("other_entity_spans"),
    )


def _cls_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 40)
    return d.select(
        F.concat(F.lit("S"), F.col("doc_id").cast("string")).alias("sentence_id"),
        F.map_from_arrays(
            F.array(F.lit("biolink:treats"), F.lit("false")),
            F.array(
                ((F.col("doc_id") * 37) % 100) / 100.0,
                ((F.col("doc_id") * 53) % 100) / 100.0,
            ),
        ).alias("scores"),
    )


def _cls_tables(spark: SparkSession, sf_dir: str):
    return clf.classified_sentence_tables(
        _cls_scores(spark, sf_dir),
        _cls_metadata(spark, sf_dir),
        association_id=_CLS_ASSOC,
        subject_placeholder="@CHEMICAL$",
        entity1_placeholder="@CHEMICAL$",
        threshold=0.5,
    )


@register(
    "classified_evidence",
    f"""
    WITH {_CLS_SQL}
    SELECT sha256(doc || text || sub || '5 12' || obj || '20 30' || '{_CLS_ASSOC}') AS evidence_id,
           sha256(sub || obj || '{_CLS_ASSOC}')                                     AS assertion_id,
           doc                                                                      AS document_id,
           text                                                                     AS sentence,
           sha256(doc || text || sub || '5 12' || '{_CLS_ASSOC}')                   AS subject_entity_id,
           sha256(doc || text || obj || '20 30' || '{_CLS_ASSOC}')                  AS object_entity_id,
           'abstract'                                                               AS document_zone,
           'JournalArticle'                                                         AS document_publication_types,
           '1999'                                                                   AS document_year_published
    FROM cls
    """,
)
def classified_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + threshold gate + sha256 id hashing + truncations
    (ClassifiedSentenceStorageSqlValuesFn.java:534-700): the evidence table
    of the assertion database."""
    return _cls_tables(spark, sf_dir)["evidence"]


@register(
    "classified_assertions",
    f"""
    WITH {_CLS_SQL}
    SELECT DISTINCT sha256(sub || obj || '{_CLS_ASSOC}') AS assertion_id,
           sub AS subject_curie, obj AS object_curie,
           '{_CLS_ASSOC[:95]}' AS association_id
    FROM cls
    """,
)
def classified_assertions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion table (distinct subject/object/association rows with
    sha256 ids)."""
    return _cls_tables(spark, sf_dir)["assertion"]


@register(
    "kgx_edge_export",
    f"""
    WITH {_CLS_SQL}
    SELECT sub                                         AS subject,
           'biolink:treats'                            AS edge_label,
           obj                                         AS object,
           'RO:0002606'                                AS relation,
           sha256(sub || obj || '{_CLS_ASSOC}')        AS id,
           '{_CLS_ASSOC}'                              AS biolink_association_type,
           cast(1 AS bigint)                           AS evidence_count,
           sha256(doc || text || sub || '5 12' || obj || '20 30' || '{_CLS_ASSOC}') AS evidence_ids
    FROM cls
    """,
)
def kgx_edge_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KGX edge serialization (KgxEdge.toKgxString shape) over the
    assertion+evidence tables; every synthesized assertion has exactly one
    evidence sentence."""
    t = _cls_tables(spark, sf_dir)
    return ex.kgx_edges(
        t["assertion"], t["evidence"],
        edge_label="biolink:treats", relation_curie="RO:0002606",
        association_type=_CLS_ASSOC,
    )


@register(
    "concept_count_distribution",
    f"""
    WITH {_UC_SQL},
    counts AS (
      SELECT concept_id, count(DISTINCT text_id) AS count FROM uc GROUP BY 1
    ),
    labels AS (
      SELECT 'S:' || cast(s_suppkey AS varchar) AS concept_id, s_name AS label
      FROM supplier WHERE s_suppkey % 2 = 0
    )
    SELECT c.count, c.concept_id, coalesce(l.label, 'UKNOWN') AS label
    FROM counts c LEFT JOIN labels l ON l.concept_id = c.concept_id
    """,
)
def concept_count_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 + J7 (ConceptCountDistributionPipeline.java:60-135): per-concept
    document counts with broadcast label decoration, default 'UKNOWN'."""
    s = _t(spark, sf_dir, "supplier")
    labels = s.where(F.col("s_suppkey") % 2 == 0).select(
        F.concat(F.lit("S:"), F.col("s_suppkey").cast("string")).alias("concept_id"),
        F.col("s_name").alias("label"),
    )
    return ex.concept_count_distribution(_supplier_units(spark, sf_dir), labels)


# ---------------------------------------------------------------------------
# Dictionary concept recognition (X2-equivalent) — token-offset NER
# ---------------------------------------------------------------------------

_NER_DICT = [
    ("spark", "T:1"),
    ("join", "T:2"),
    ("hash join", "T:3"),
    ("window", "T:4"),
    ("table scan", "T:5"),
]
_NER_DICT_SQL = ", ".join(f"('{t}', '{c}')" for t, c in _NER_DICT)


@register(
    "dictionary_ner",
    f"""
    WITH tok_parts AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '([A-Za-z0-9]+)', chr(30) || '\\1' || chr(30), 'g'), chr(30)) AS ps
      FROM documents
    ),
    tok_pos AS (SELECT unnest(generate_series(1, 1024)) AS p),
    toks0 AS (
      SELECT doc_id, p, list_extract(ps, p) AS part,
             length(coalesce(array_to_string(list_slice(ps, 1, p - 1), ''), '')) AS off
      FROM tok_parts, tok_pos WHERE p <= len(ps)
    ),
    toks AS (
      SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS ti,
             cast(off AS int) AS start, cast(off + length(part) AS int) AS "end", part AS token
      FROM toks0 WHERE regexp_matches(part, '^[A-Za-z0-9]+$')
    ),
    grams AS (
      SELECT doc_id, start,
             token AS t0, lead(token, 1) OVER w AS t1, lead(token, 2) OVER w AS t2,
             "end" AS e0, lead("end", 1) OVER w AS e1, lead("end", 2) OVER w AS e2
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ti)
    ),
    cand AS (
      SELECT doc_id, start, e0 AS "end", t0 AS gram FROM grams
      UNION ALL
      SELECT doc_id, start, e1, t0 || ' ' || t1 FROM grams WHERE t1 IS NOT NULL
      UNION ALL
      SELECT doc_id, start, e2, t0 || ' ' || t1 || ' ' || t2 FROM grams WHERE t2 IS NOT NULL
    ),
    dict(term, concept_id) AS (VALUES {_NER_DICT_SQL})
    SELECT c.doc_id, d.concept_id, c.start, c."end", c.gram AS covered_text
    FROM cand c JOIN dict d ON lower(c.gram) = d.term
    """,
)
def dictionary_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-equivalent concept recognition: token n-grams with exact character
    offsets (marker-split tokenizer) broadcast-joined against a normalized
    term dictionary; output shape = schemas.ANNOTATION."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("content")
    )
    dictionary = spark.createDataFrame(_NER_DICT, "term string, concept_id string")
    annots = ner.dictionary_concept_recognition(d, dictionary, max_term_tokens=3)
    return annots.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "concept_id",
        F.col("spans").getItem(0).getField("start").alias("start"),
        F.col("spans").getItem(0).getField("end").alias("end"),
        "covered_text",
    )


# ---------------------------------------------------------------------------
# Concept post-processing chain (P6/P8) on part-name "annotations"
# ---------------------------------------------------------------------------

_STOPWORD_IN = ", ".join(f"'{w}'" for w in cf.DEFAULT_STOPWORDS)


@register(
    "concept_postprocess_chain",
    f"""
    WITH annots AS (
      SELECT DISTINCT l.l_orderkey                              AS doc_id,
             'C:' || cast(l.l_partkey % 100 AS varchar)          AS concept_id,
             cast((l.l_partkey * 7) % 1100 AS int)               AS start,
             cast((l.l_partkey * 7) % 1100 + length(p.p_name) AS int) AS "end",
             p.p_name                                            AS covered_text
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    filtered AS (
      SELECT * FROM annots
      WHERE length(covered_text) >= 4
        AND length(covered_text) > 2
        AND lower(covered_text) NOT IN ({_STOPWORD_IN})
    ),
    nested AS (
      -- reference overlap resolution (ExcludeCraftNestedConcepts, NO mode):
      -- dropped iff an earlier-starting annotation overlaps it, or a
      -- same-start annotation extends strictly beyond it; equal spans stay
      SELECT DISTINCT a.doc_id, a.start, a."end"
      FROM filtered a JOIN filtered b
        ON a.doc_id = b.doc_id
       AND ((b.start < a.start AND b."end" > a.start)
         OR (b.start = a.start AND b."end" > a."end"))
    )
    SELECT f.doc_id, f.concept_id, f.start, f."end", f.covered_text
    FROM filtered f LEFT JOIN nested n
      ON n.doc_id = f.doc_id AND n.start = f.start AND n."end" = f."end"
    WHERE n.doc_id IS NULL
    """,
)
def concept_postprocess_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 subset as one chain (ConceptPostProcessingFn.postProcess:215-251):
    short-match removal → NCBI stopword removal → nested-annotation removal,
    over annotations synthesized from lineitem/part (span position keyed by
    partkey, covered text = part name)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    annots = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            F.col("l_orderkey").alias("doc_id"),
            F.concat(F.lit("C:"), (F.col("l_partkey") % 100).cast("string")).alias("concept_id"),
            ((F.col("l_partkey") * 7) % 1100).cast("int").alias("s"),
            ((F.col("l_partkey") * 7) % 1100 + F.length("p_name")).cast("int").alias("e"),
            F.col("p_name").alias("covered_text"),
        )
        .select(
            "doc_id",
            F.lit("concept").alias("annot_type"),
            "concept_id",
            F.array(F.struct(F.col("s").alias("start"), F.col("e").alias("end"))).alias("spans"),
            "covered_text",
        )
    )
    # distinct AFTER the chain: nested-removal is duplicate-invariant, and
    # post-window the data is already clustered by doc_id so the dedup
    # aggregate adds no exchange (distinct-first costs a full-width shuffle)
    out = cf.remove_nested_annotations(
        cf.remove_ncbi_stopwords(cf.remove_matches_less_than(annots, 4))
    ).distinct()
    return out.select(
        "doc_id",
        "concept_id",
        F.col("spans").getItem(0).getField("start").alias("start"),
        F.col("spans").getItem(0).getField("end").alias("end"),
        "covered_text",
    )


@register(
    "spurious_match_filter",
    r"""
    WITH annots AS (
      SELECT DISTINCT 'C:' || cast(l.l_partkey % 100 AS varchar) AS concept_id,
             p.p_name AS covered_text
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    dict AS (
      SELECT DISTINCT 'C:' || cast(p_partkey % 100 AS varchar) AS concept_id,
             p_name AS entry
      FROM part WHERE p_partkey < 300
    ),
    eligible AS (
      SELECT * FROM annots
      WHERE length(regexp_replace(regexp_replace(covered_text, '\s+', ' ', 'g'),
                                  '[\d[:punct:][:space:]]', '', 'g')) >= 2
    ),
    judged AS (
      SELECT a.concept_id, a.covered_text,
             CASE WHEN d.entry IS NULL THEN NULL
                  WHEN contains(lower(a.covered_text), '/')
                       AND levenshtein(lower(regexp_replace(a.covered_text, '\s+', ' ', 'g')), lower(d.entry))
                           / cast(length(d.entry) AS float) <> 0.0 THEN false
                  WHEN levenshtein(lower(regexp_replace(a.covered_text, '\s+', ' ', 'g')), lower(d.entry))
                       / cast(length(d.entry) AS float) < 0.3
                       AND NOT (starts_with(lower(d.entry), lower(a.covered_text))
                                AND regexp_matches(substr(lower(d.entry), length(a.covered_text) + 1), '^\d+$'))
                  THEN true ELSE false END AS ok
      FROM eligible a LEFT JOIN dict d ON d.concept_id = a.concept_id
    )
    SELECT concept_id, covered_text
    FROM judged GROUP BY 1, 2
    HAVING count(ok) = 0 OR bool_or(ok)
    """,
)
def spurious_match_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 in full (OgerPostProcessingFn.removeSpuriousMatches:134-197):
    whitespace collapse, digits+punct-only drop, slash exact-match rule,
    normalized-Levenshtein < 0.3, digit-suffix lexical trap, and
    pass-through for concepts absent from the dictionary — value-checked
    against the oracle's identical rule set."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    annots = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            F.concat(F.lit("C:"), (F.col("l_partkey") % 100).cast("string")).alias("concept_id"),
            F.col("p_name").alias("covered_text"),
        )
        .distinct()
        .select(
            F.lit("d").alias("doc_id"),
            F.lit("concept").alias("annot_type"),
            "concept_id",
            F.array(
                F.struct(F.lit(0).cast("int").alias("start"), F.lit(1).cast("int").alias("end"))
            ).alias("spans"),
            "covered_text",
        )
    )
    entries = p.where(F.col("p_partkey") < 300).select(
        F.concat(F.lit("C:"), (F.col("p_partkey") % 100).cast("string")).alias("concept_id"),
        F.col("p_name").alias("dict_entry"),
    ).distinct()
    out = cf.remove_spurious_matches(annots, entries)
    return out.select("concept_id", "covered_text")


@register(
    "unactionable_truncation",
    """
    SELECT doc_id, rtrim(substr(text, 1, cast(n_chars // 2 AS int))) AS content
    FROM documents
    """,
)
def unactionable_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (FilterUnactionableTextFn:115-145): every document gets a
    'results' section in its first half and a trailing 'references' section
    in its second half — the trailing unactionable run is truncated."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("content"), "n_chars"
    )
    half = F.floor(F.col("n_chars") / 2).cast("int")
    sections = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("results").alias("annot_type"),
                    F.lit(0).cast("int").alias("s"),
                    half.alias("e"),
                ),
                F.struct(
                    F.lit("references").alias("annot_type"),
                    half.alias("s"),
                    F.col("n_chars").cast("int").alias("e"),
                ),
            )
        ).alias("sec"),
    ).select(
        "doc_id",
        F.col("sec.annot_type").alias("annot_type"),
        F.lit(None).cast("string").alias("concept_id"),
        F.array(
            F.struct(F.col("sec.s").alias("start"), F.col("sec.e").alias("end"))
        ).alias("spans"),
        F.lit(None).cast("string").alias("covered_text"),
    )
    out = cf.filter_unactionable_text(d, sections)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "content")


# ---------------------------------------------------------------------------
# Per-row text transforms (P3, P7) + text analysis
# ---------------------------------------------------------------------------


@register(
    "keyword_filter",
    r"""
    SELECT doc_id, n_chars
    FROM documents
    WHERE regexp_matches(text, '(?i)\bspark\b') AND regexp_matches(text, '(?i)\bjoin\b')
    """,
)
def keyword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: case-insensitive word-boundary keyword match
    (SentenceExtractionFn.sentenceContainsKeyword:449-462)."""
    d = _t(spark, sf_dir, "documents")
    return d.where(
        F.col("text").rlike(r"(?i)\bspark\b") & F.col("text").rlike(r"(?i)\bjoin\b")
    ).select("doc_id", "n_chars")


_DICT = ("small ring", "red widget", "blue bolt", "hot gear", "fast cog")


@register(
    "levenshtein_dict_filter",
    f"""
    SELECT p_partkey, p_name, lev_dist, norm_dist FROM (
      SELECT p_partkey, p_name,
             least({", ".join(f"levenshtein(lower(p_name), '{e}')" for e in _DICT)}) AS lev_dist,
             round(least({", ".join(f"levenshtein(lower(p_name), '{e}')" for e in _DICT)})
                   / cast(length(p_name) AS double), 8) AS norm_dist
      FROM part
    ) WHERE norm_dist < 0.3
    """,
)
def levenshtein_dict_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: spurious-match filter — keep entries whose best normalized
    Levenshtein distance against the dictionary is < 0.3
    (OgerPostProcessingFn.removeSpuriousMatches:134-197). Dictionary is a
    broadcast array literal; levenshtein runs JVM-side."""
    p = _t(spark, sf_dir, "part")
    dists = F.array(*[F.levenshtein(F.lower(F.col("p_name")), F.lit(e)) for e in _DICT])
    lev = F.array_min(dists)
    norm = F.round(lev / F.length("p_name").cast("double"), 8)
    return (
        p.select("p_partkey", "p_name", lev.alias("lev_dist"), norm.alias("norm_dist"))
        .where(F.col("norm_dist") < 0.3)
    )


@register(
    "token_stats",
    r"""
    SELECT doc_id,
           cast(length(text) AS bigint) AS n_chars,
           cast(array_length(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS bigint) AS n_tokens,
           cast(array_length(list_distinct(regexp_extract_all(lower(text), '([a-z0-9]+)', 1))) AS bigint) AS n_types,
           cast(array_length(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS bigint) AS n_subwords,
           cast(array_length(regexp_extract_all(lower(text), '(\b(the|a|of|and|to|in|is)\b)', 1)) AS bigint) AS n_stopwords
    FROM documents
    """,
)
def token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token/type/subword/stopword accounting, all regex
    column expressions."""
    return textanalysis.token_stats(_t(spark, sf_dir, "documents"))


@register(
    "repetition_metrics",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS lines,
             regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS words
      FROM documents
    ),
    grams AS (
      SELECT *,
             list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                            i -> words[i] || ' ' || words[i + 1]) AS bigrams,
             list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                            i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) AS trigrams
      FROM base
    ),
    counted AS (
      SELECT *,
             coalesce(list_max(list_transform(bigrams,
               b -> len(list_filter(bigrams, x -> x = b)))), 0) AS top_count
      FROM grams
    ),
    top AS (
      SELECT *,
             list_min(list_filter(bigrams,
               b -> len(list_filter(bigrams, x -> x = b)) = top_count)) AS top_bigram,
             coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS line_chars,
             coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS dist_line_chars,
             coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS word_chars
      FROM counted
    )
    SELECT doc_id,
           round(CASE WHEN len(lines) > 0
                 THEN (len(lines) - len(list_distinct(lines))) / cast(len(lines) AS double)
                 ELSE 0 END, 8) AS dup_line_frac,
           round(CASE WHEN line_chars > 0
                 THEN (line_chars - dist_line_chars) / cast(line_chars AS double)
                 ELSE 0 END, 8) AS dup_line_char_frac,
           round(CASE WHEN word_chars > 0
                 THEN top_count * (length(top_bigram) - 1) / cast(word_chars AS double)
                 ELSE 0 END, 8) AS top_bigram_char_frac,
           round(CASE WHEN len(trigrams) > 0
                 THEN (len(trigrams) - len(list_distinct(trigrams))) / cast(len(trigrams) AS double)
                 ELSE 0 END, 8) AS dup_ngram_frac
    FROM top
    """,
)
def repetition_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screens (duplicate-line fractions, top
    bigram character coverage, duplicate trigram fraction) as pure
    per-row array expressions — the oracle mirrors every list operation
    with DuckDB lambdas."""
    return textanalysis.repetition_metrics(_t(spark, sf_dir, "documents"))


@register(
    "quality_scores",
    r"""
    WITH s AS (
      SELECT doc_id,
             cast(array_length(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS bigint) AS n_tokens,
             cast(array_length(list_distinct(regexp_extract_all(lower(text), '([a-z0-9]+)', 1))) AS bigint) AS n_types,
             cast(array_length(regexp_extract_all(lower(text), '(\b(the|a|of|and|to|in|is)\b)', 1)) AS bigint) AS n_stopwords
      FROM documents
    )
    SELECT doc_id, n_tokens,
           round(CASE WHEN n_tokens > 0 THEN n_types / cast(n_tokens AS double) ELSE 0.0 END, 8) AS type_token_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_stopwords / cast(n_tokens AS double) ELSE 0.0 END, 8) AS stopword_ratio,
           round(0.4 * least(n_tokens / 100.0, 1.0)
                 + 0.3 * (CASE WHEN n_tokens > 0 THEN n_types / cast(n_tokens AS double) ELSE 0.0 END)
                 + 0.3 * least((CASE WHEN n_tokens > 0 THEN n_stopwords / cast(n_tokens AS double) ELSE 0.0 END) * 5.0, 1.0), 8) AS quality_score
    FROM s
    """,
)
def quality_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality pre-filter scores (C4/Gopher-style cheap heuristics)."""
    return textanalysis.quality_scores(_t(spark, sf_dir, "documents"))


@register(
    "language_id",
    r"""
    WITH s AS (
      SELECT doc_id,
             cast(array_length(regexp_extract_all(lower(text), '(\b(der|die|das|und|nicht)\b)', 1)) AS bigint) AS s_de,
             cast(array_length(regexp_extract_all(lower(text), '(\b(the|and|of|to|a)\b)', 1)) AS bigint)      AS s_en,
             cast(array_length(regexp_extract_all(lower(text), '(\b(el|la|los|que|y)\b)', 1)) AS bigint)      AS s_es,
             cast(array_length(regexp_extract_all(lower(text), '(\b(le|la|les|et|que)\b)', 1)) AS bigint)     AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang,
           greatest(s_de, s_en, s_es, s_fr) AS lang_score
    FROM s
    """,
)
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (deterministic argmax, lexicographic
    tie-break)."""
    return textanalysis.language_id(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Dedup family (shingles → fingerprint / MinHash-LSH / Jaccard)
# ---------------------------------------------------------------------------

@register(
    "doc_fingerprints",
    """
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(text, '([a-z0-9]+)', 1) AS words FROM documents
    ),
    hw AS (
      SELECT doc_id, list_transform(words, w -> ('0x' || substr(md5(w), 1, 7))::bigint) AS hw
      FROM docs WHERE len(words) >= 3
    ),
    shv AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(hw) - 2),
                     i -> (3*hw[i] + 5*hw[i+1] + 7*hw[i+2] + 11) % 2147483647)) AS v
      FROM hw
    )
    SELECT doc_id, min(v) AS fingerprint,
           cast(count(DISTINCT v) AS bigint) AS n_shingles
    FROM shv GROUP BY 1
    """,
)
def doc_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-hash fingerprint over word 3-shingles (affine
    31-bit shingle hashes; zero-shuffle)."""
    return textanalysis.doc_fingerprints(_t(spark, sf_dir, "documents"))


# Affine shingle-hash oracle CTEs — mirror dedup.shingle_hash_frame exactly:
# word hash = first 28 bits of md5(word); shingle hash = (3·h₁+5·h₂+7·h₃+11)
# mod 2³¹−1. The Spark side is a zero-shuffle array program; the oracle uses
# the equivalent relational unnest formulation.
_AFFINE_SHINGLE_SQL = """
    docs AS (
      SELECT doc_id, regexp_extract_all(text, '([a-z0-9]+)', 1) AS words FROM documents
    ),
    hw AS (
      SELECT doc_id, list_transform(words, w -> ('0x' || substr(md5(w), 1, 7))::bigint) AS hw
      FROM docs WHERE len(words) >= 3
    ),
    shv AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(hw) - 2),
                     i -> (3*hw[i] + 5*hw[i+1] + 7*hw[i+2] + 11) % 2147483647)) AS v
      FROM hw
    )
"""

# MinHash permutation j = (2j+3)·h + (5j+7) mod 2³¹−1 over the affine
# shingle hashes (min is duplicate-invariant, so no DISTINCT needed).
_MINHASH_SQL = f"""
    {_AFFINE_SHINGLE_SQL},
    perms AS (SELECT unnest(generate_series(0, 15)) AS perm),
    mh AS (
      SELECT doc_id, perm, min(((2*perm + 3)*v + (5*perm + 7)) % 2147483647) AS minhash
      FROM shv, perms GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, cast(perm // 4 AS int) AS band,
             md5(string_agg(cast(minhash AS varchar), ',' ORDER BY perm)) AS band_sig
      FROM mh GROUP BY 1, 2
    )
"""


@register(
    "minhash_band_signatures",
    f"""
    WITH {_MINHASH_SQL}
    SELECT doc_id, band, band_sig FROM bands
    """,
)
def minhash_band_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures folded into LSH band signatures (16 perms, 4
    bands × 4 rows) — the hash-heavy core of near-dup detection, verified
    value-exactly against the oracle. Runs on the zero-shuffle doc-level
    path: the whole stage is one narrow projection."""
    sig = dedup.minhash_signatures_doc(_t(spark, sf_dir, "documents"), num_perms=16)
    return dedup.lsh_bands(sig, rows_per_band=4)


@register(
    "lsh_candidate_pairs",
    f"""
    WITH {_MINHASH_SQL}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """,
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket collisions → near-dup candidate pairs."""
    sig = dedup.minhash_signatures_doc(_t(spark, sf_dir, "documents"), num_perms=16)
    return dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, 4))


@register(
    "lsh_candidate_pairs_star",
    f"""
    WITH {_MINHASH_SQL},
    bsz AS (
      SELECT band, band_sig, count(DISTINCT doc_id) AS n, min(doc_id) AS m
      FROM bands GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
    ),
    small_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      JOIN bsz s ON s.band = a.band AND s.band_sig = a.band_sig AND s.n <= 2
      WHERE a.doc_id < b.doc_id
    ),
    star_pairs AS (
      SELECT DISTINCT s.m AS doc_a, a.doc_id AS doc_b
      FROM bands a
      JOIN bsz s ON s.band = a.band AND s.band_sig = a.band_sig AND s.n > 2
      WHERE a.doc_id > s.m
    )
    SELECT doc_a, doc_b FROM small_pairs UNION
    SELECT doc_a, doc_b FROM star_pairs
    """,
)
def lsh_candidate_pairs_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The over-cap bucket star policy, value-checked: buckets of ≤ 2
    docs expand to all pairs, larger buckets to linear min-member →
    member representative edges (the 100 TB giant-cluster path; see
    SCALING.md 'Oversize buckets')."""
    sig = dedup.minhash_signatures_doc(_t(spark, sf_dir, "documents"), num_perms=16)
    return dedup.lsh_candidate_pairs(
        dedup.lsh_bands(sig, 4), max_bucket_size=2, oversize_policy="star"
    )


@register(
    "near_duplicates",
    f"""
    WITH {_MINHASH_SQL},
    pos AS (SELECT unnest(generate_series(1, {_POS_CAP})) AS p),
    sh AS (
      SELECT DISTINCT doc_id,
             list_extract(words, p) || ' ' || list_extract(words, p + 1) || ' ' || list_extract(words, p + 2) AS shingle
      FROM docs, pos WHERE p <= len(words) - 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN cnt ca ON ca.doc_id = c.doc_a
    JOIN cnt cb ON cb.doc_id = c.doc_b
    WHERE round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) >= 0.8
    """,
)
def near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline with exact-Jaccard verification
    at threshold 0.8."""
    return dedup.near_duplicates(_t(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "near_dup_star_repaired",
    f"""
    WITH {_MINHASH_SQL},
    pos AS (SELECT unnest(generate_series(1, {_POS_CAP})) AS p),
    sh AS (
      SELECT DISTINCT doc_id,
             list_extract(words, p) || ' ' || list_extract(words, p + 1) || ' ' || list_extract(words, p + 2) AS shingle
      FROM docs, pos WHERE p <= len(words) - 2
    ),
    bsz AS (
      SELECT band, band_sig, count(DISTINCT doc_id) AS n, min(doc_id) AS m
      FROM bands GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
    ),
    cand1 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      JOIN bsz s ON s.band = a.band AND s.band_sig = a.band_sig AND s.n <= 2
      WHERE a.doc_id < b.doc_id
      UNION
      SELECT DISTINCT s.m AS doc_a, a.doc_id AS doc_b
      FROM bands a
      JOIN bsz s ON s.band = a.band AND s.band_sig = a.band_sig AND s.n > 2
      WHERE a.doc_id > s.m
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter1 AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand1 c JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    v1 AS (
      SELECT c.doc_a, c.doc_b,
             round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) AS jaccard
      FROM cand1 c
      LEFT JOIN inter1 i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnt ca ON ca.doc_id = c.doc_a
      JOIN cnt cb ON cb.doc_id = c.doc_b
      WHERE round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) >= 0.8
    ),
    vids AS (SELECT doc_a AS d FROM v1 UNION SELECT doc_b FROM v1),
    unatt AS (
      SELECT b.band, b.band_sig, b.doc_id,
             row_number() OVER (PARTITION BY b.band, b.band_sig ORDER BY b.doc_id) AS rn
      FROM bands b
      JOIN bsz s ON s.band = b.band AND s.band_sig = b.band_sig AND s.n > 2
      WHERE b.doc_id NOT IN (SELECT d FROM vids)
    ),
    cand2 AS (
      SELECT DISTINCT least(r.doc_id, b.doc_id) AS doc_a,
                      greatest(r.doc_id, b.doc_id) AS doc_b
      FROM unatt r
      JOIN bands b ON b.band = r.band AND b.band_sig = r.band_sig
      WHERE r.rn <= 8 AND b.doc_id != r.doc_id
      EXCEPT SELECT doc_a, doc_b FROM cand1
    ),
    inter2 AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand2 c JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    v2 AS (
      SELECT c.doc_a, c.doc_b,
             round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) AS jaccard
      FROM cand2 c
      LEFT JOIN inter2 i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnt ca ON ca.doc_id = c.doc_a
      JOIN cnt cb ON cb.doc_id = c.doc_b
      WHERE round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) >= 0.8
    )
    SELECT doc_a, doc_b, jaccard FROM v1
    UNION SELECT doc_a, doc_b, jaccard FROM v2
    """,
)
def near_dup_star_repaired_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-capped near-dup pipeline (cap 2) plus ONE star-repair hop
    (operators/dedup.py:star_second_hop_pairs): the 8 smallest
    still-unattached members of each over-cap bucket re-star against all
    bucket members, already-attempted edges excluded, fresh edges
    exact-Jaccard verified — the recall-repair pass for chain-shaped
    clusters whose far members fall below threshold vs the first
    representative (measured at sf10 in SCALING.md). The oracle
    reproduces candidate generation, both verification stages, and the
    unattached-representative promotion value-exactly."""
    docs = _t(spark, sf_dir, "documents")
    # r12: same checkpointed-lineage treatment the rescued query got in
    # r11 task 4. near_duplicates(star_repair_hops=1) checkpoints
    # `verified` inside the hop loop, but v1's OWN lineage still
    # re-derives the minhash→bands→star pipeline per consumer (id
    # semi-join + three joins in jaccard_for_pairs), and the hop reads
    # the band lineage again — ~6.6 s / 1.27× its v2 median at sf0.1 in
    # the r11 bench. Materializing the loop-static band and candidate
    # tables once runs each base stage exactly once; the hop then builds
    # on ExistingRDD scans (plan+job shape pinned in
    # tests/test_plan_shapes.py alongside the rescued pin).
    bands_df = stage(dedup.lsh_bands(dedup.minhash_signatures_doc(docs)))
    cands = stage(
        dedup.lsh_candidate_pairs(
            bands_df, max_bucket_size=2, oversize_policy="star"
        )
    )
    v1 = stage(
        dedup._verify_candidates(
            docs, cands, k=3, threshold=0.8, text_col="text", id_col="doc_id"
        )
    )
    cand2 = stage(
        dedup.star_second_hop_pairs(
            bands_df, v1, 2, attempted=cands, reps_per_hop=8
        )
    )
    v2 = dedup._verify_candidates(
        docs, cand2, k=3, threshold=0.8, text_col="text", id_col="doc_id"
    )
    return v1.unionByName(v2)


@register(
    "near_dup_star_rescued",
    f"""
    WITH {_MINHASH_SQL},
    pos AS (SELECT unnest(generate_series(1, {_POS_CAP})) AS p),
    sh AS (
      SELECT DISTINCT doc_id,
             list_extract(words, p) || ' ' || list_extract(words, p + 1) || ' ' || list_extract(words, p + 2) AS shingle
      FROM docs, pos WHERE p <= len(words) - 2
    ),
    bsz AS (
      SELECT band, band_sig, count(DISTINCT doc_id) AS n, min(doc_id) AS m
      FROM bands GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
    ),
    cand1 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      JOIN bsz s ON s.band = a.band AND s.band_sig = a.band_sig AND s.n <= 2
      WHERE a.doc_id < b.doc_id
      UNION
      SELECT DISTINCT s.m AS doc_a, a.doc_id AS doc_b
      FROM bands a
      JOIN bsz s ON s.band = a.band AND s.band_sig = a.band_sig AND s.n > 2
      WHERE a.doc_id > s.m
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter1 AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand1 c JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    v1 AS (
      SELECT c.doc_a, c.doc_b,
             round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) AS jaccard
      FROM cand1 c
      LEFT JOIN inter1 i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnt ca ON ca.doc_id = c.doc_a
      JOIN cnt cb ON cb.doc_id = c.doc_b
      WHERE round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) >= 0.8
    ),
    vids AS (SELECT doc_a AS d FROM v1 UNION SELECT doc_b FROM v1),
    unatt AS (
      SELECT b.band, b.band_sig, b.doc_id
      FROM bands b
      JOIN bsz s ON s.band = b.band AND s.band_sig = b.band_sig AND s.n > 2
      WHERE b.doc_id NOT IN (SELECT d FROM vids)
    ),
    att AS (
      SELECT b.band, b.band_sig, b.doc_id
      FROM bands b
      JOIN bsz s ON s.band = b.band AND s.band_sig = b.band_sig AND s.n > 2
      WHERE b.doc_id IN (SELECT d FROM vids)
    ),
    cand2 AS (
      SELECT DISTINCT least(r.doc_id, a.doc_id) AS doc_a,
                      greatest(r.doc_id, a.doc_id) AS doc_b
      FROM unatt r
      JOIN att a ON a.band = r.band AND a.band_sig = r.band_sig
      WHERE a.doc_id != r.doc_id
      EXCEPT SELECT doc_a, doc_b FROM cand1
    ),
    inter2 AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand2 c JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    v2 AS (
      SELECT c.doc_a, c.doc_b,
             round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) AS jaccard
      FROM cand2 c
      LEFT JOIN inter2 i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnt ca ON ca.doc_id = c.doc_a
      JOIN cnt cb ON cb.doc_id = c.doc_b
      WHERE round(coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double), 8) >= 0.8
    )
    SELECT doc_a, doc_b, jaccard FROM v1
    UNION SELECT doc_a, doc_b, jaccard FROM v2
    """,
)
def near_dup_star_rescued_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-capped near-dup pipeline (cap 2) plus ONE round of the r10
    promotion-starvation rescue (operators/dedup.py:star_rescue_pairs):
    still-unattached over-cap bucket members propose their untried edges
    to ATTACHED co-bucket members — the starvation signature is exactly
    a genuine neighbor that is attached, so stranger-to-stranger edges
    stay out of scope (the 100 TB cost fence; see _star_untried_edges).
    One explicit round is value-exactly expressible as two-stage SQL
    (base star verify, then unattached x attached expansion minus the
    attempted set, verified); the production loop iterates rounds
    because newly attached members enlarge the target set — the
    iterated fixpoint is pinned by unit tests and the sf10 keep-list
    equality artifact (SCALING.md round-10 block)."""
    docs = _t(spark, sf_dir, "documents")
    # materialize the band table and the base candidate set ONCE: both
    # are tiny (4 band rows per doc; candidate pairs are star-bounded)
    # but sit under every downstream consumer — v1 evaluates the
    # candidate lineage four times (id semi-join + three joins in
    # jaccard_for_pairs), the rescue reads bands twice and anti-joins
    # the attempted set. Without the checkpoints the whole
    # minhash→bands→star pipeline re-runs per consumer (~95 Spark
    # stages, 11.3 s at sf0.1 in the r10 bench); with them the query
    # runs each stage once (r11 task 4).
    bands_df = stage(dedup.lsh_bands(dedup.minhash_signatures_doc(docs)))
    cands = stage(
        dedup.lsh_candidate_pairs(
            bands_df, max_bucket_size=2, oversize_policy="star"
        )
    )
    v1 = stage(
        dedup._verify_candidates(
            docs, cands, k=3, threshold=0.8, text_col="text", id_col="doc_id"
        )
    )
    cand2 = stage(
        dedup.star_rescue_pairs(
            bands_df, v1, 2, attempted=cands, reps_per_bucket=1_000_000
        )
    )
    v2 = dedup._verify_candidates(
        docs, cand2, k=3, threshold=0.8, text_col="text", id_col="doc_id"
    )
    return v1.unionByName(v2)


@register(
    "near_dup_keep_list",
    f"""
    WITH RECURSIVE {_MINHASH_SQL},
    pos AS (SELECT unnest(generate_series(1, {_POS_CAP})) AS p),
    sh AS (
      SELECT DISTINCT doc_id,
             list_extract(words, p) || ' ' || list_extract(words, p + 1) || ' ' || list_extract(words, p + 2) AS shingle
      FROM docs, pos WHERE p <= len(words) - 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnt ca ON ca.doc_id = c.doc_a
      JOIN cnt cb ON cb.doc_id = c.doc_b
      WHERE coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM nd
      UNION SELECT doc_b, doc_a FROM nd
    ),
    reach AS (
      SELECT a AS node, b AS x FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    canon AS (
      SELECT node, least(node, min(x)) AS comp FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           coalesce(c.comp, d.doc_id) AS canonical_id,
           coalesce(c.comp, d.doc_id) = d.doc_id AS is_kept
    FROM documents d LEFT JOIN canon c ON c.node = d.doc_id
    """,
)
def near_dup_keep_list_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup end product: every document mapped to the minimum-id
    member of its near-duplicate cluster (MinHash-LSH → exact Jaccard →
    connected components via min-label propagation) with an is_kept
    flag. The oracle closes the same pair graph with a recursive
    reachability CTE."""
    return dedup.near_dup_keep_list(_t(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "near_dup_keep_best",
    f"""
    WITH RECURSIVE {_MINHASH_SQL},
    pos AS (SELECT unnest(generate_series(1, {_POS_CAP})) AS p),
    sh AS (
      SELECT DISTINCT doc_id,
             list_extract(words, p) || ' ' || list_extract(words, p + 1) || ' ' || list_extract(words, p + 2) AS shingle
      FROM docs, pos WHERE p <= len(words) - 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnt ca ON ca.doc_id = c.doc_a
      JOIN cnt cb ON cb.doc_id = c.doc_b
      WHERE coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM nd
      UNION SELECT doc_b, doc_a FROM nd
    ),
    reach AS (
      SELECT a AS node, b AS x FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.x
    ),
    canon AS (
      SELECT node, least(node, min(x)) AS comp FROM reach GROUP BY node
    ),
    kscored AS (
      SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS canonical_id, d.n_chars AS q
      FROM documents d LEFT JOIN canon c ON c.node = d.doc_id
    ),
    kbest AS (
      SELECT canonical_id, doc_id AS kept_id FROM (
        SELECT canonical_id, doc_id,
               row_number() OVER (PARTITION BY canonical_id ORDER BY q DESC, doc_id) AS rn
        FROM kscored
      ) WHERE rn = 1
    )
    SELECT s.doc_id, s.canonical_id, s.doc_id = b.kept_id AS is_kept, b.kept_id
    FROM kscored s JOIN kbest b ON b.canonical_id = s.canonical_id
    """,
)
def near_dup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep list (FineWeb/DataComp refinement): clusters
    identical to near_dup_keep_list, but the kept representative is the
    member with the highest n_chars (doc-id tie-break) instead of the
    minimum id — at pretraining scale the kept copy is the one the model
    sees, so keep the best. The oracle re-derives the cluster closure and
    the argmax-by-quality selection."""
    return dedup.near_dup_keep_best(
        _t(spark, sf_dir, "documents"), quality_col="n_chars", threshold=0.8
    )


@register(
    "index_bucket_gauge",
    f"""
    WITH {_MINHASH_SQL},
    pos AS (SELECT unnest(generate_series(1, {_POS_CAP})) AS p),
    sh AS (
      SELECT DISTINCT doc_id,
             list_extract(words, p) || ' ' || list_extract(words, p + 1) || ' ' || list_extract(words, p + 2) AS shingle
      FROM docs, pos WHERE p <= len(words) - 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnt ca ON ca.doc_id = c.doc_a
      JOIN cnt cb ON cb.doc_id = c.doc_b
      WHERE coalesce(i.n_inter, 0) / cast(ca.n + cb.n - coalesce(i.n_inter, 0) AS double) >= 0.8
    ),
    over AS (
      SELECT band, band_sig FROM bands
      GROUP BY 1, 2 HAVING count(DISTINCT doc_id) > 2
    ),
    mem AS (
      SELECT DISTINCT b.doc_id
      FROM bands b JOIN over o ON o.band = b.band AND o.band_sig = b.band_sig
    ),
    att AS (SELECT doc_a AS d FROM nd UNION SELECT doc_b FROM nd)
    SELECT (SELECT count(*) FROM over) AS n_over_cap_buckets,
           (SELECT count(*) FROM mem) AS n_over_cap_members,
           (SELECT count(*) FROM mem WHERE doc_id NOT IN (SELECT d FROM att))
             AS n_stranded
    """,
)
def index_bucket_gauge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped-index maintenance gauge's relational core
    (streaming/dedup_index.py:bucket_stats_frame, the derivation under
    index_bucket_stats' "is a reconcile worth scheduling" dict): over-cap
    bucket count at cap 2, distinct members of those buckets, and the
    stranded subset with no verified near-dup pair at all — here fed by
    the batch pipeline's bands and verified pairs on the documents table
    so the oracle can replay the same counts (r12, VERDICT r11 task 7;
    the watermark-aware unreconciled column stays under its unit tests —
    it reads reconcile state a stateless oracle has no analogue for)."""
    from ..streaming import dedup_index as di

    docs = _t(spark, sf_dir, "documents")
    # r12: ONE band tower shared between the gauge's bucket stats and the
    # near-dup pipeline feeding its attached set — the previous form
    # called near_duplicates() alongside a second lsh_bands() chain, so
    # the minhash tower ran twice (and bucket_stats_frame reads its bands
    # input three more times). Lazy stages materialize bands
    # and the candidate set once; _verify_candidates with
    # near_duplicates' defaults (k=3, uncapped buckets, drop policy)
    # yields the identical verified-pairs relation.
    bands = stage(dedup.lsh_bands(dedup.minhash_signatures_doc(docs)), eager=False)
    cands = stage(dedup.lsh_candidate_pairs(bands), eager=False)
    pairs = dedup._verify_candidates(
        docs, cands, k=3, threshold=0.8, text_col="text", id_col="doc_id"
    )
    return di.bucket_stats_frame(
        bands.select("doc_id", "band", "band_sig"),
        pairs.select("doc_a", "doc_b"),
        max_bucket_size=2,
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_COS_EXPAND = """
    pos AS (SELECT unnest(generate_series(1, 64)) AS i)
"""


@register(
    "knn_cosine",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    {_COS_EXPAND},
    comp AS (
      SELECT e.vec_id,
             sum(cast(list_extract(e.embedding, p.i) AS double) * cast(list_extract(q.qe, p.i) AS double)) AS d,
             sum(cast(list_extract(e.embedding, p.i) AS double) * cast(list_extract(e.embedding, p.i) AS double)) AS na,
             sum(cast(list_extract(q.qe, p.i) AS double) * cast(list_extract(q.qe, p.i) AS double)) AS nb
      FROM embeddings e, q, pos p GROUP BY 1
    )
    SELECT vec_id, round(d / (sqrt(na) * sqrt(nb)), 6) AS cosine
    FROM comp ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector — the
    exact ANN baseline (ordering on rounded score + id, engine-stable)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [r[0] for r in emb.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    return similarity.knn_brute_force(emb, qvec, k=10)


@register(
    "topk_similar_pairs",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    {_COS_EXPAND},
    norms AS (
      SELECT vec_id, sum(cast(list_extract(embedding, i) AS double) * cast(list_extract(embedding, i) AS double)) AS nn
      FROM e, pos GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             sum(cast(list_extract(a.embedding, p.i) AS double) * cast(list_extract(b.embedding, p.i) AS double)) AS d
      FROM e a JOIN e b ON a.vec_id < b.vec_id, pos p GROUP BY 1, 2
    )
    SELECT vec_a, vec_b, round(d / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS cosine
    FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
    ORDER BY cosine DESC, vec_a, vec_b LIMIT 20
    """,
)
def topk_similar_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup shape: top-20 most-similar pairs. Runs the
    banded-LSH scale path (candidate buckets → exact-cosine verification,
    no all-pairs self-join) and is hash-checked against the all-pairs SQL
    oracle — LSH recall is total at these band settings, verified at
    sf0.01 and sf0.1 by tests/test_similarity."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return similarity.topk_similar_pairs_lsh(emb, k=20)


@register(
    "ann_ivf_cosine",
    f"""
    WITH {_COS_EXPAND},
    cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < 16),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id, cent.cid,
             round(sum(cast(list_extract(e.embedding, i) AS double) * cast(list_extract(cent.c, i) AS double))
                   / (sqrt(sum(cast(list_extract(e.embedding, i) AS double) * cast(list_extract(e.embedding, i) AS double)))
                      * sqrt(sum(cast(list_extract(cent.c, i) AS double) * cast(list_extract(cent.c, i) AS double)))), 6) AS cs
      FROM embeddings e, cent, pos GROUP BY 1, 2
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM sims
      ) WHERE rn = 1
    ),
    qsims AS (
      SELECT cent.cid,
             round(sum(cast(list_extract(q.qe, i) AS double) * cast(list_extract(cent.c, i) AS double))
                   / (sqrt(sum(cast(list_extract(q.qe, i) AS double) * cast(list_extract(q.qe, i) AS double)))
                      * sqrt(sum(cast(list_extract(cent.c, i) AS double) * cast(list_extract(cent.c, i) AS double)))), 6) AS qs
      FROM q, cent, pos GROUP BY 1
    ),
    probes AS (
      SELECT cid FROM (SELECT cid, row_number() OVER (ORDER BY qs DESC, cid) AS rn FROM qsims)
      WHERE rn <= 4
    ),
    cand AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN probes p ON a.cid = p.cid
    ),
    scored AS (
      SELECT c.vec_id,
             round(sum(cast(list_extract(c.embedding, i) AS double) * cast(list_extract(q.qe, i) AS double))
                   / (sqrt(sum(cast(list_extract(c.embedding, i) AS double) * cast(list_extract(c.embedding, i) AS double)))
                      * sqrt(sum(cast(list_extract(q.qe, i) AS double) * cast(list_extract(q.qe, i) AS double)))), 6) AS cosine
      FROM cand c, q, pos GROUP BY 1
    )
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic seed centroids (vec_id < 16), rounded
    argmax list assignment, nprobe=4 probing, exact scoring inside probed
    lists — the whole approximate pipeline is value-checked against the
    oracle because every step is deterministic."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [r[0] for r in emb.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    return similarity.ann_ivf(emb, qvec, k=10, n_lists=16, nprobe=4)


def _lsh_planes_sql(n_planes: int, n_dims: int) -> str:
    """Inline the md5-deterministic hyperplane constants as a VALUES table
    ``planes(p, i, c)`` (1-based dim index, matching list_extract), so the
    DuckDB oracle reproduces the exact bucketing arithmetic."""
    rows = ", ".join(
        f"({p}, {d + 1}, {c!r})"
        for p, plane in enumerate(similarity.hyperplanes(n_planes, n_dims))
        for d, c in enumerate(plane)
    )
    return f"planes AS (SELECT * FROM (VALUES {rows}) AS t(p, i, c))"


@register(
    "ann_lsh_cosine",
    f"""
    WITH {_lsh_planes_sql(6, 64)},
    dots AS (
      SELECT e.vec_id, pl.p,
             round(sum(cast(list_extract(e.embedding, pl.i) AS double) * pl.c), 6) AS d
      FROM embeddings e, planes pl GROUP BY 1, 2
    ),
    buckets AS (
      SELECT vec_id,
             string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      FROM dots GROUP BY 1
    ),
    qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    {_COS_EXPAND},
    cand AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN buckets b ON b.vec_id = e.vec_id JOIN qb ON b.bucket = qb.bucket
    ),
    scored AS (
      SELECT c.vec_id,
             round(sum(cast(list_extract(c.embedding, i) AS double) * cast(list_extract(q.qe, i) AS double))
                   / (sqrt(sum(cast(list_extract(c.embedding, i) AS double) * cast(list_extract(c.embedding, i) AS double)))
                      * sqrt(sum(cast(list_extract(q.qe, i) AS double) * cast(list_extract(q.qe, i) AS double)))), 6) AS cosine
      FROM cand c, q, pos GROUP BY 1
    )
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket the corpus, score only the query's
    bucket. The hyperplanes are md5-deterministic and the sign test runs on
    the ROUNDED dot product, so the whole approximate pipeline is
    value-checked against a DuckDB oracle that inlines the same plane
    constants (same approach as ``ann_ivf_cosine``)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [r[0] for r in emb.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    return similarity.ann_lsh(emb, qvec, k=10, n_planes=6)


@register(
    "simhash_fingerprints",
    f"""
    WITH {_AFFINE_SHINGLE_SQL},
    dv AS (SELECT DISTINCT doc_id, v FROM shv),
    bits AS (SELECT unnest(generate_series(0, 30)) AS b),
    sums AS (
      SELECT doc_id, b, sum(((v >> b) & 1) * 2 - 1) AS s
      FROM dv, bits GROUP BY 1, 2
    )
    SELECT doc_id,
           cast(sum(CASE WHEN s > 0 THEN (1::bigint << b) ELSE 0 END) AS bigint) AS simhash
    FROM sums GROUP BY 1
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 31-bit fingerprints over the affine shingle hashes —
    per-bit ±1 sign sums, value-checked bit-for-bit against the oracle's
    shift arithmetic. Distinct shingles via per-row array_distinct (no
    relation-wide shuffle)."""
    return dedup.simhash(_t(spark, sf_dir, "documents"), bits=31)


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload columns through the Arrow decode stage
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    """
    SELECT cast(doc_id AS varchar) AS media_id,
           'image' AS modality,
           16 + ('0x' || substr(sha256(text), 1, 2))::int  AS width,
           16 + ('0x' || substr(sha256(text), 3, 2))::int  AS height,
           cast(octet_length(encode(text)) AS bigint)      AS n_bytes
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns through the mapInPandas feature stage: document
    text bytes act as the opaque payload; the deterministic fake decoder
    derives dimensions from the payload digest, so the Arrow plumbing
    (binary transfer, batch shapes, schema) is value-checked end-to-end."""
    from ..operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("image/txt").alias("mime_type"),
        F.col("text").cast("binary").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    out = mm.extract_media_features(media)
    return out.select("media_id", "modality", "width", "height", "n_bytes")


# ---------------------------------------------------------------------------
# Event-stream shapes (windowed aggs, sessionization)
# ---------------------------------------------------------------------------


@register(
    "windowed_event_counts",
    """
    SELECT cast(floor(epoch(ts)) AS bigint) // 3600 AS hour_bucket,
           event_type,
           count(*)                AS n_events,
           round(sum(value), 6)    AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (1h) — the batch shape of the
    Structured-Streaming windowed count (streaming.ingest runs the same
    logical plan over readStream)."""
    e = _events(spark, sf_dir)
    return (
        e.withColumn("hour_bucket", F.expr("ts_ns div 3600000000000"))
        .groupBy("hour_bucket", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


@register(
    "first_seen_events",
    """
    SELECT cast(user_id AS varchar) AS key,
           max(CASE WHEN rn = 1 THEN event_type END) AS first_value,
           count(*) - 1 AS n_dropped
    FROM (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ) GROUP BY 1
    """,
)
def first_seen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stateful.streaming_first_seen
    (exactly-once-per-key emission with duplicate accounting): first
    event_type per user by (ts, event_id) plus the dropped-duplicate
    count — one keyed shuffle with a map-side-combining min-by-struct."""
    from ..streaming import stateful

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key"),
        F.col("event_type").alias("value"),
        "ts_ns",
        "event_id",
    )
    return stateful.first_seen_batch(e, order_cols=("ts_ns", "event_id"))


@register(
    "sessionize_events",
    """
    WITH ordered AS (
      SELECT user_id, event_id,
             cast(floor(epoch(ts)) AS bigint) AS es,
             lag(cast(floor(epoch(ts)) AS bigint)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    sess AS (
      SELECT user_id, event_id, es,
             cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(es) AS start_epoch, max(es) AS end_epoch
    FROM sess GROUP BY 1, 2
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag + running sum — the batch
    twin of applyInPandasWithState session windows."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    es = F.expr("ts_ns div 1000000000")
    flagged = e.select(
        "user_id",
        "event_id",
        es.alias("es"),
        F.when(
            F.lag(es).over(w).isNull() | ((es - F.lag(es).over(w)) > 1800), 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(w2))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("es").alias("start_epoch"),
        F.max("es").alias("end_epoch"),
    )


# ---------------------------------------------------------------------------
# Collection maintenance + export shapes (CollectionAssignment /
# UpdateIdCollection pipelines; Turku text hand-off; PubAnnotation JSON)
# ---------------------------------------------------------------------------


@register(
    "collection_assignment",
    """
    SELECT cast(doc_id AS varchar) AS doc_id,
           CASE
             WHEN doc_id % 10 = 0 THEN source
             WHEN doc_id % 5 = 0 THEN array_to_string(list_sort([source, 'REDO']), '|')
             ELSE source
           END AS collections
    FROM documents
    """,
)
def collection_assignment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection add/remove (CollectionAssignmentPipeline /
    UpdateIdCollectionPipeline semantics): add REDO to ids % 5 = 0, then
    remove it again from ids % 10 = 0 — both idempotent array edits in one
    narrow pass over the status table."""
    st = _synth_status(spark, sf_dir)
    add_ids = st.where(F.col("doc_id").cast("long") % 5 == 0).select("doc_id")
    rm_ids = st.where(F.col("doc_id").cast("long") % 10 == 0).select("doc_id")
    out = coll.assign_collection(st, add_ids, "REDO")
    out = coll.remove_collection(out, "REDO", doc_ids=rm_ids)
    return out.select(
        "doc_id", F.array_join(F.array_sort("collections"), "|").alias("collections")
    )


@register(
    "text_export",
    """
    SELECT cast(doc_id AS varchar) AS doc_id,
           '###C: DOCUMENT_ID' || chr(9) || cast(doc_id AS varchar) || chr(10) ||
           '###C: DOCUMENT_COLLECTIONS' || chr(9) || source || chr(10) || text AS line
    FROM documents
    """,
)
def text_export_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT_EXPORT (Turku hand-off): per document a '###C: DOCUMENT_ID'
    comment, a '###C: DOCUMENT_COLLECTIONS' comment, then the text."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").alias("content"),
        F.array("source").alias("collections"),
    )
    lines = coll.text_export_lines(d)
    return lines.select(
        F.split("line", "\t|\n").getItem(1).alias("doc_id"), "line"
    )


@register(
    "pubannotation_export",
    """
    WITH ann AS (
      SELECT doc_id, 0 AS b, 5 AS e, 'C:' || lang AS obj FROM documents
      UNION ALL
      SELECT doc_id, 2 AS b, 9 AS e, 'D:' || source AS obj FROM documents
    ),
    ordered AS (
      SELECT doc_id, b, e, obj,
             row_number() OVER (PARTITION BY doc_id ORDER BY b, e, obj) AS rn
      FROM ann
    ),
    per_doc AS (
      SELECT doc_id,
             list(json_object('id', 'T' || cast(rn AS varchar),
                              'span', json_object('begin', b, 'end', e),
                              'obj', obj) ORDER BY rn) AS denotations
      FROM ordered GROUP BY 1
    )
    SELECT cast(d.doc_id AS varchar) AS doc_id,
           json_object('sourcedb', 'PubMed',
                       'sourceid', cast(d.doc_id AS varchar),
                       'text', d.text,
                       'denotations', p.denotations)::varchar AS json
    FROM documents d JOIN per_doc p ON p.doc_id = d.doc_id
    """,
)
def pubannotation_export_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBANNOTATION_EXPORT: {sourcedb, sourceid, text, denotations} JSON
    per document (PubAnnotationFormatter semantics), byte-compared against
    DuckDB's json construction."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("content")
    )
    mk = lambda b, e, obj: F.struct(  # noqa: E731
        F.lit("concept").alias("type"),
        obj.alias("concept_id"),
        F.array(F.struct(F.lit(b).alias("start"), F.lit(e).alias("end"))).alias("spans"),
        F.lit("").alias("covered_text"),
    )
    d = _t(spark, sf_dir, "documents")
    annots = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(
            F.array(
                mk(0, 5, F.concat(F.lit("C:"), F.col("lang"))),
                mk(2, 9, F.concat(F.lit("D:"), F.col("source"))),
            )
        ).alias("a"),
    ).select("doc_id", "a.type", "a.concept_id", "a.spans", "a.covered_text")
    return coll.pubannotation_json(docs, annots)


@register(
    "bionlp_export",
    """
    WITH annots AS (
      SELECT DISTINCT l.l_orderkey                     AS doc_id,
             'C:' || cast(l.l_partkey % 100 AS varchar) AS concept_id,
             cast((l.l_partkey * 7) % 1100 AS int)      AS s,
             cast((l.l_partkey * 7) % 1100 + length(p.p_name) AS int) AS e,
             replace(replace(p.p_name, chr(10), ' '), chr(9), ' ')    AS txt
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    numbered AS (
      SELECT doc_id, s, e, concept_id, txt,
             row_number() OVER (PARTITION BY doc_id ORDER BY s, e, concept_id, txt) AS rn
      FROM annots
    )
    SELECT doc_id,
           string_agg('T' || cast(rn AS varchar) || chr(9) || concept_id || ' ' ||
                      cast(s AS varchar) || ' ' || cast(e AS varchar) || chr(9) || txt,
                      chr(10) ORDER BY rn) AS bionlp
    FROM numbered GROUP BY 1
    """,
)
def bionlp_export_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCEPT_ANNOTATION_EXPORT shape: one BioNLP standoff blob per
    document (T-numbered, span-ordered), byte-compared with the oracle's
    ordered string_agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    annots = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            F.col("l_orderkey").alias("doc_id"),
            F.concat(F.lit("C:"), (F.col("l_partkey") % 100).cast("string")).alias("concept_id"),
            ((F.col("l_partkey") * 7) % 1100).cast("int").alias("s"),
            ((F.col("l_partkey") * 7) % 1100 + F.length("p_name")).cast("int").alias("e"),
            F.col("p_name").alias("covered_text"),
        )
        .select(
            "doc_id",
            F.lit("concept").alias("annot_type"),
            "concept_id",
            F.array(F.struct(F.col("s").alias("start"), F.col("e").alias("end"))).alias("spans"),
            "covered_text",
        )
    )
    # dedupe inside the aggregation: one shuffle instead of distinct+groupBy
    return ex.bionlp_lines(annots, dedupe=True)


@register(
    "sentence_cooccurrence_export",
    """
    WITH sent AS (
      SELECT o_orderkey                  AS doc_id,
             j * 140                     AS start,
             j * 140 + 140               AS "end",
             'sentence ' || cast(j AS varchar) AS covered_text
      FROM orders, (SELECT unnest(generate_series(0, 7)) AS j) js
    ),
    conc AS (
      SELECT l_orderkey                     AS doc_id,
             (l_partkey * 7) % 1100         AS c_start,
             (l_partkey * 7) % 1100 + 10    AS c_end,
             'C:' || cast(l_partkey % 100 AS varchar) AS concept_id
      FROM lineitem
    ),
    sent_id AS (
      SELECT doc_id, start, "end",
             sha256(cast(doc_id AS varchar) || cast(start AS varchar) || covered_text
                    || 'SENTENCE' || '[sentence]') AS sid
      FROM sent
    ),
    ov AS (
      SELECT DISTINCT s.doc_id, s.sid, c.c_start - s.start AS rs, c.c_end - s.start AS re, c.concept_id
      FROM sent_id s JOIN conc c
        ON s.doc_id = c.doc_id AND c.c_start < s."end" AND s.start < c.c_end
    ),
    body AS (
      SELECT doc_id,
             sid || chr(9) || string_agg(cast(rs AS varchar) || '|' || cast(re AS varchar) || '|'
                                         || concept_id || ';', '' ORDER BY rs, re, concept_id) AS line
      FROM ov GROUP BY doc_id, sid
    ),
    header AS (
      SELECT doc_id, 'SENT_COUNT' || chr(9) || cast(count(*) AS varchar) || chr(9)
             || cast(doc_id AS varchar) AS line
      FROM sent GROUP BY 1
    )
    SELECT cast(doc_id AS varchar) AS doc_id, line FROM header
    UNION ALL
    SELECT cast(doc_id AS varchar) AS doc_id, line FROM body
    """,
)
def sentence_cooccurrence_export_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE_COOCCURRENCE_EXPORT: SentenceCooccurrenceBuilder lines
    (SENT_COUNT headers + per-sentence rebased concept triples with the
    BigQueryUtil sha256 sentence ids) — value-exact against the oracle."""
    o = _t(spark, sf_dir, "orders")
    sents = o.select(
        "o_orderkey", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j")
    ).select(
        F.col("o_orderkey").cast("string").alias("doc_id"),
        (F.col("j") * 140).alias("start"),
        (F.col("j") * 140 + 140).alias("end"),
        F.concat(F.lit("sentence "), F.col("j").cast("string")).alias("covered_text"),
    )
    li = _t(spark, sf_dir, "lineitem")
    concs = li.select(
        F.col("l_orderkey").cast("string").alias("doc_id"),
        ((F.col("l_partkey") * 7) % 1100).alias("start"),
        ((F.col("l_partkey") * 7) % 1100 + 10).alias("end"),
        F.concat(F.lit("C:"), (F.col("l_partkey") % 100).cast("string")).alias("concept_id"),
        F.lit("x").alias("covered_text"),
    )
    return ex.sentence_cooccurrence_lines(sents, concs)


# ---------------------------------------------------------------------------
# OGER dictionary building (oger/dict/*OgerDictFileFactory.java parity)
# ---------------------------------------------------------------------------

import os as _os

from ..operators import ogerdict
from ..sources import obo

_OBO_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "sample.obo",
)

#: fixture config exercising every builder rule: EXACT+RELATED synonyms,
#: excluded root (+descendant via is_a), excluded individual class, per-class
#: synonym removal/addition, virus/formerly spelling augments, stopword and
#: min-length pruning, case-sensitivity split with all-caps alternates.
_TEST_DICT_CONFIG = ogerdict.OgerDictConfig(
    ont_key="TEST",
    main_type="operator",
    syn_selection=ogerdict.EXACT_PLUS_RELATED,
    excluded_roots=("TEST:0008",),
    excluded_classes=("TEST:0009",),
    removed_synonyms=(("TEST:0003", "full scan"),),
    added_synonyms=(("TEST:0001", "sort merge join"),),
    add_virus_contractions=True,
    add_formerly_stripped=True,
)


def _sql_fixlabel(x: str) -> str:
    """DuckDB twin of ogerdict.fix_label (OgerDictFileFactory fixLabel)."""
    y = f'replace({x}, \'\\"\', \'"\')'
    dequoted = (
        f"CASE WHEN (length({y}) - length(replace({y}, '\"', ''))) % 2 = 1 "
        f"AND {y} LIKE '%\"' THEN substr({y}, 1, length({y}) - 1) ELSE {y} END"
    )
    return f"trim(regexp_replace({dequoted}, ' \\([^)]+\\)$', ''))"


def _sql_tok_cs(t: str) -> str:
    """DuckDB twin of ogerdict._single_token_cs."""
    tr = f"trim({t})"
    return (
        f"(regexp_matches({t}, '^[0-9]$') OR "
        f"(length({tr}) > 0 AND "
        f"length(regexp_replace({tr}, '[^A-Z0-9]', '', 'g')) * 1.0 / length({tr}) > 0.4) OR "
        f"regexp_matches({t}, '[a-z][A-Z]'))"
    )


_SQL_IS_CS = (
    f"({_sql_tok_cs('term')} OR (array_length(string_split(term, ' ')) > 1 AND "
    f"len(list_filter(string_split(term, ' '), zz -> {_sql_tok_cs('zz')})) > 0))"
)

_OGER_DICT_ORACLE = f"""
    WITH RECURSIVE
    raw AS (
      SELECT trim(unnest(string_split(content, chr(10) || chr(10)))) AS stanza
      FROM read_text('{_OBO_FIXTURE}')
    ),
    t AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS term_id,
             regexp_extract(stanza, '(?m)^name: (.*?)\\s*$', 1) AS label_raw,
             regexp_extract_all(stanza, '(?m)^synonym: "((?:[^"\\\\]|\\\\.)*)" EXACT', 1) AS exact_syns,
             regexp_extract_all(stanza, '(?m)^synonym: "((?:[^"\\\\]|\\\\.)*)" RELATED', 1) AS rel_syns,
             regexp_extract_all(stanza, '(?m)^is_a: (\\S+)', 1) AS parents,
             regexp_matches(stanza, '(?m)^is_obsolete: true') AS obsolete
      FROM raw WHERE stanza LIKE '[Term]%'
    ),
    excl AS (
      SELECT 'TEST:0008' AS id
      UNION
      SELECT t.term_id FROM t, excl WHERE list_contains(t.parents, excl.id)
    ),
    base AS (
      SELECT term_id, {_sql_fixlabel('label_raw')} AS primary_label,
             list_distinct(list_transform(
               list_concat(list_concat([label_raw], exact_syns), rel_syns),
               s -> {_sql_fixlabel('s')})) AS syns0
      FROM t
      WHERE NOT obsolete AND term_id LIKE 'TEST:%' AND label_raw <> ''
            AND term_id NOT IN (SELECT id FROM excl)
    ),
    sw AS (
      SELECT term_id, primary_label,
             list_filter(syns0, s -> NOT list_contains([{_STOPWORD_IN}], lower(s))) AS syns1
      FROM base
    ),
    aug AS (
      SELECT term_id, primary_label,
        list_distinct(list_concat(list_concat(syns1,
          list_transform(
            list_filter(syns1, s -> s LIKE '%virus infection' OR s LIKE '%virus infections'),
            s -> regexp_replace(s, ' infections?$', ''))),
          list_transform(
            list_filter(syns1, s -> s LIKE '%, formerly%' OR s LIKE '%(formerly)%'),
            s -> replace(replace(s, ', formerly', ''), '(formerly)', '')))) AS syns2
      FROM sw
    ),
    exploded AS (
      SELECT term_id AS concept_id, primary_label,
             unnest(list_filter(syns2, s -> length(s) >= 3)) AS term
      FROM aug
    ),
    afterrm AS (
      SELECT * FROM exploded
      WHERE NOT (concept_id = 'TEST:0003' AND term = 'full scan')
    ),
    withadds AS (
      SELECT * FROM afterrm
      UNION ALL
      SELECT 'TEST:0001',
             (SELECT primary_label FROM base WHERE term_id = 'TEST:0001'),
             'sort merge join'
    ),
    kept AS (SELECT * FROM withadds WHERE concept_id <> 'TEST:0009'),
    flagged AS (
      SELECT concept_id, primary_label, term, {_SQL_IS_CS} AS case_sensitive
      FROM kept
    ),
    withalts AS (
      SELECT * FROM flagged
      UNION ALL
      SELECT concept_id, primary_label,
             substr(term, 1, 1) || lower(substr(term, 2)) AS term, true AS case_sensitive
      FROM flagged WHERE case_sensitive AND regexp_matches(term, '^[A-Z]+[0-9]+$')
    )
    SELECT DISTINCT 'TEST' AS ont_key, concept_id,
           {_sql_fixlabel('term')} AS term, primary_label,
           'operator' AS main_type, case_sensitive
    FROM withalts
"""


@register("oger_dictionary", _OGER_DICT_ORACLE)
def oger_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology-file → OGER match dictionary (OgerDictFileFactory parity):
    parses the fixture OBO distributively, applies the full synonym /
    exclusion / case-split rule chain, value-checked against a DuckDB twin
    that recomputes every rule (incl. a recursive-CTE descendant closure)
    from the same file."""
    terms = obo.read_obo_terms(spark, _OBO_FIXTURE)
    return ogerdict.build_oger_dictionary(terms, _TEST_DICT_CONFIG)


_ONTOLOGY_NER_ORACLE = f"""
    WITH tok_parts AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '([A-Za-z0-9]+)', chr(30) || '\\1' || chr(30), 'g'), chr(30)) AS ps
      FROM documents
    ),
    tok_pos AS (SELECT unnest(generate_series(1, 1024)) AS p),
    toks0 AS (
      SELECT doc_id, p, list_extract(ps, p) AS part,
             length(coalesce(array_to_string(list_slice(ps, 1, p - 1), ''), '')) AS off
      FROM tok_parts, tok_pos WHERE p <= len(ps)
    ),
    toks AS (
      SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY p) AS ti,
             cast(off AS int) AS start, cast(off + length(part) AS int) AS "end", part AS token
      FROM toks0 WHERE regexp_matches(part, '^[A-Za-z0-9]+$')
    ),
    grams AS (
      SELECT doc_id, start,
             token AS t0, lead(token, 1) OVER w AS t1, lead(token, 2) OVER w AS t2,
             "end" AS e0, lead("end", 1) OVER w AS e1, lead("end", 2) OVER w AS e2
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ti)
    ),
    cand AS (
      SELECT doc_id, start, e0 AS "end", t0 AS gram FROM grams
      UNION ALL
      SELECT doc_id, start, e1, t0 || ' ' || t1 FROM grams WHERE t1 IS NOT NULL
      UNION ALL
      SELECT doc_id, start, e2, t0 || ' ' || t1 || ' ' || t2 FROM grams WHERE t2 IS NOT NULL
    ),
    odict AS (
      SELECT DISTINCT
             lower(array_to_string(regexp_extract_all(term, '([A-Za-z0-9]+)', 1), ' ')) AS term,
             concept_id
      FROM ({_OGER_DICT_ORACLE})
      WHERE NOT case_sensitive
            AND array_to_string(regexp_extract_all(term, '([A-Za-z0-9]+)', 1), ' ') <> ''
    )
    SELECT c.doc_id, d.concept_id, c.start, c."end", c.gram AS covered_text
    FROM cand c JOIN odict d ON lower(c.gram) = d.term
"""


@register("ontology_dictionary_ner", _ONTOLOGY_NER_ORACLE)
def ontology_dictionary_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ontology → dictionary → NER: build the OGER dictionary
    from the fixture OBO, normalize it, and run the broadcast n-gram
    matcher over ``documents`` — closing the loop the reference runs
    out-of-band between its dict factories and OGER services. Uses the
    case-insensitive dictionary half, like OGER's case-insensitive file."""
    terms = obo.read_obo_terms(spark, _OBO_FIXTURE)
    d = ogerdict.build_oger_dictionary(terms, _TEST_DICT_CONFIG)
    raw_terms = d.where(~F.col("case_sensitive")).select("term", "concept_id")
    dictionary = ner.normalize_dictionary(raw_terms)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("content")
    )
    annots = ner.dictionary_concept_recognition(docs, dictionary, max_term_tokens=3)
    return annots.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "concept_id",
        F.col("spans").getItem(0).getField("start").alias("start"),
        F.col("spans").getItem(0).getField("end").alias("end"),
        "covered_text",
    )


# ---------------------------------------------------------------------------
# Ontology → KGX export (kg/ontology_kg/OntologyToKgx.java)
# ---------------------------------------------------------------------------

from ..operators import kgxontology as kgo

_KG_FIXTURE = _os.path.join(
    _os.path.dirname(_OBO_FIXTURE), "sample_kg.obo"
)

_KG_PREFIX_CASES = " ".join(
    f"WHEN '{p}' THEN '{c}'" for p, c in kgo.PREFIX_CATEGORIES.items()
)
_KG_GO_CASES = " ".join(
    f"WHEN '{n}' THEN '{c}'" for n, c in kgo.GO_NAMESPACE_CATEGORIES.items()
)
_KG_REL_VALUES = ", ".join(
    f"('{rel}', '{lbl}', '{cur}')" for rel, (lbl, cur) in kgo.RELATION_MAP.items()
)
_KG_ASSOC_VALUES = ", ".join(
    f"('{sc}', '{tc}', '{rel}', '{assoc}')"
    for (sc, tc, rel), assoc in kgo.ASSOCIATION_MAP.items()
)

#: shared CTE block: parse the KG fixture, compute the SO-gene closure and
#: per-class biolink categories exactly as OntologyToKgx does
_KG_ATTRS_CTES = f"""
    raw AS (
      SELECT trim(unnest(string_split(content, chr(10) || chr(10)))) AS stanza
      FROM read_text('{_KG_FIXTURE}')
    ),
    t AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS term_id,
             regexp_extract(stanza, '(?m)^name: (.*?)\\s*$', 1) AS label,
             regexp_extract(stanza, '(?m)^namespace: (.*?)\\s*$', 1) AS namespace,
             regexp_extract_all(stanza, '(?m)^is_a: (\\S+)', 1) AS parents,
             regexp_extract_all(stanza, '(?m)^relationship: (\\S+) (\\S+)', 1) AS rel_names,
             regexp_extract_all(stanza, '(?m)^relationship: (\\S+) (\\S+)', 2) AS rel_targets,
             regexp_extract_all(stanza, '(?m)^xref: (\\S+)', 1) AS xrefs,
             regexp_matches(stanza, '(?m)^is_obsolete: true') AS obsolete
      FROM raw WHERE stanza LIKE '[Term]%'
    ),
    genes AS (
      SELECT '{kgo.SO_GENE}' AS id
      UNION
      SELECT t.term_id FROM t, genes WHERE list_contains(t.parents, genes.id)
    ),
    attrs AS (
      SELECT term_id, label, parents, rel_names, rel_targets,
             list_min(list_filter(xrefs, x -> x LIKE 'UniProtKB:%')) AS uniprot_id,
             CASE WHEN cat0 IS NULL AND term_id = '{kgo.OBI_ORGANISM}'
                  THEN '{kgo.BIOLINK_ORGANISMAL_ENTITY}'
                  ELSE coalesce(cat0, '{kgo.BIOLINK_THING}') END AS category
      FROM (
        SELECT *,
          CASE WHEN string_split(term_id, ':')[1] = 'GO'
                 THEN (CASE namespace {_KG_GO_CASES} ELSE NULL END)
               WHEN string_split(term_id, ':')[1] IN ({", ".join(f"'{p}'" for p in kgo.PREFIX_CATEGORIES)})
                 THEN (CASE string_split(term_id, ':')[1] {_KG_PREFIX_CASES} ELSE NULL END)
               WHEN term_id IN (SELECT id FROM genes) THEN 'biolink:Gene'
               ELSE NULL END AS cat0
        FROM t
      )
    )
"""


@register(
    "ontology_kgx_nodes",
    f"""
    WITH RECURSIVE
    {_KG_ATTRS_CTES}
    SELECT id, name, category FROM (
      SELECT term_id AS id, label AS name, category FROM attrs
      UNION ALL
      SELECT uniprot_id AS id, label AS name, 'biolink:GeneProduct' AS category
      FROM attrs WHERE uniprot_id IS NOT NULL
    ) QUALIFY row_number() OVER (PARTITION BY id ORDER BY id) = 1
    """,
)
def ontology_kgx_nodes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OntologyToKgx node export: per-class biolink category (prefix map,
    GO namespace, SO-gene ancestry via recursive closure) + UniProtKB
    GeneProduct nodes — the oracle recomputes categories from the same
    OBO fixture with a recursive CTE."""
    terms = obo.read_obo_terms(spark, _KG_FIXTURE)
    return kgo.ontology_kgx_nodes(terms)


@register(
    "ontology_kgx_edges",
    f"""
    WITH RECURSIVE
    {_KG_ATTRS_CTES},
    rel_map(rel, edge_label, relation) AS (VALUES {_KG_REL_VALUES}),
    assoc_map(sc, tc, rel, assoc) AS (VALUES {_KG_ASSOC_VALUES}),
    raw_edges AS (
      SELECT term_id AS subject, category AS sc, 'SUBCLASS_OF' AS rel,
             unnest(parents) AS object
      FROM attrs
      UNION ALL
      SELECT term_id AS subject, category AS sc,
             list_extract(rel_names, i) AS rel, list_extract(rel_targets, i) AS object
      FROM attrs, (SELECT unnest(generate_series(1, 64)) AS i)
      WHERE i <= len(rel_names)
    ),
    typed AS (
      -- relations absent from rel_map keep their edges with the literal
      -- 'null' label/curie (KgxEdge String.format of null fields)
      SELECT e.subject, coalesce(m.edge_label, 'null') AS edge_label,
             e.object, coalesce(m.relation, 'null') AS relation,
             coalesce(a.assoc, 'null') AS association_type
      FROM raw_edges e
      LEFT JOIN rel_map m ON m.rel = e.rel
      JOIN attrs tgt ON tgt.term_id = e.object
      LEFT JOIN assoc_map a
        ON a.sc = e.sc AND a.tc = tgt.category
       AND a.rel = (CASE WHEN e.rel = 'SUBCLASS_OF' THEN 'SUBCLASS_OF' ELSE m.relation END)
    ),
    uniprot AS (
      SELECT term_id AS subject, 'biolink:same_as' AS edge_label,
             uniprot_id AS object, 'owl:equivalentClass' AS relation,
             'biolink:GeneToGeneAssociation' AS association_type
      FROM attrs WHERE uniprot_id IS NOT NULL
    )
    SELECT DISTINCT subject, edge_label, object, relation, association_type
    FROM (SELECT * FROM typed UNION ALL SELECT * FROM uniprot)
    """,
)
def ontology_kgx_edges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OntologyToKgx edge export: SUBCLASS_OF + typed relationship edges +
    UniProt same-as, with (source cat, target cat, relation) association
    resolution. The base64-sha1 edge id (KgxEdge.getId) is dropped from
    the oracle-checked projection — DuckDB has no sha1 — and is pinned
    bit-exact against hashlib in tests/test_kgx_ontology.py."""
    terms = obo.read_obo_terms(spark, _KG_FIXTURE)
    return kgo.ontology_kgx_edges(terms).select(
        "subject", "edge_label", "object", "relation", "association_type"
    )


# ---------------------------------------------------------------------------
# TRAPI backend serialization (trapi/*.java)
# ---------------------------------------------------------------------------

from ..operators import trapi

_TRAPI_URI_VALUES = ", ".join(
    f"('{p}', '{u}')" for p, u in trapi.URI_PREFIXES.items()
)
_BL = "https://w3id.org/biolink/vocab/"


@register(
    "trapi_ontology_nt",
    f"""
    WITH RECURSIVE
    {_KG_ATTRS_CTES},
    uri_map(prefix, uri) AS (VALUES {_TRAPI_URI_VALUES}),
    nodes AS (
      SELECT id, name, category FROM (
        SELECT term_id AS id, label AS name, category FROM attrs
        UNION ALL
        SELECT uniprot_id AS id, label AS name, 'biolink:GeneProduct' AS category
        FROM attrs WHERE uniprot_id IS NOT NULL
      ) QUALIFY row_number() OVER (PARTITION BY id ORDER BY id) = 1
    ),
    nuri AS (
      SELECT n.*, '<' || m.uri || string_split(n.id, ':')[2] || '>' AS uri
      FROM nodes n JOIN uri_map m ON m.prefix = string_split(n.id, ':')[1]
    ),
    rel_map(rel, edge_label, relation) AS (VALUES {_KG_REL_VALUES}),
    raw_edges AS (
      SELECT term_id AS subject, 'SUBCLASS_OF' AS rel, unnest(parents) AS object
      FROM attrs
      UNION ALL
      SELECT term_id AS subject, list_extract(rel_names, i) AS rel,
             list_extract(rel_targets, i) AS object
      FROM attrs, (SELECT unnest(generate_series(1, 64)) AS i)
      WHERE i <= len(rel_names)
      UNION ALL
      SELECT term_id AS subject, 'UNIPROT_SAME_AS' AS rel, uniprot_id AS object
      FROM attrs WHERE uniprot_id IS NOT NULL
    ),
    edges AS (
      -- unmapped relations serialize with the literal 'null' label
      -- (getFullBiolinkUri of the KGX 'null' cell -> <null>)
      SELECT DISTINCT e.subject,
             CASE WHEN e.rel = 'UNIPROT_SAME_AS' THEN 'biolink:same_as'
                  ELSE coalesce(m.edge_label, 'null') END AS edge_label,
             e.object
      FROM raw_edges e LEFT JOIN rel_map m ON m.rel = e.rel
    ),
    node_lines AS (
      SELECT uri || ' <{_BL}id> "' || id || '"@en .' AS line FROM nuri
      UNION ALL
      SELECT uri || ' <http://www.w3.org/2000/01/rdf-schema#label> "' || name || '"@en .' FROM nuri
      UNION ALL
      SELECT uri || ' <http://www.w3.org/2000/01/rdf-schema#subClassOf> <'
             || replace(category, 'biolink:', '{_BL}') || '> .' FROM nuri
    ),
    edge_lines AS (
      SELECT s.uri || ' <' || replace(e.edge_label, 'biolink:', '{_BL}') || '> ' || o.uri || ' .' AS line
      FROM edges e
      JOIN nuri s ON s.id = e.subject
      JOIN nuri o ON o.id = e.object
    )
    SELECT line FROM node_lines UNION ALL SELECT line FROM edge_lines
    """,
)
def trapi_ontology_nt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OntologyKgTrapiBackendSerializer parity: the sample-KG KGX nodes
    and edges as N-triples lines (biolink id / rdfs label / subClassOf per
    node, one biolink-predicate triple per edge). strict=False mirrors
    the drop of prefixes absent from the reference's URI switch (UBERON
    here), which the oracle reproduces with an inner join on the same
    prefix→URI table."""
    terms = obo.read_obo_terms(spark, _KG_FIXTURE)
    # one shared category/gene-closure derivation feeds both exports (r12)
    attrs = kgo._with_categories(terms)
    nodes = kgo.ontology_kgx_nodes(terms, attrs=attrs)
    edges = kgo.ontology_kgx_edges(terms, attrs=attrs)
    return trapi.ontology_nodes_nt(nodes, strict=False).unionByName(
        trapi.ontology_edges_nt(edges, strict=False)
    )


@register(
    "trapi_assoc_nt",
    f"""
    WITH {_CLS_SQL},
    ev AS (
      SELECT sha256(doc || text || sub || '5 12' || obj || '20 30' || '{_CLS_ASSOC}') AS evid,
             sha256(sub || obj || '{_CLS_ASSOC}') AS aid,
             doc, text, sub, obj
      FROM cls
    ),
    entities AS (
      SELECT DISTINCT id FROM (SELECT sub AS id FROM cls UNION ALL SELECT obj FROM cls)
    ),
    euri AS (
      SELECT id, '<http://purl.obolibrary.org/obo/' || replace(id, ':', '_') || '>' AS uri,
             id LIKE 'PR:%' AS is_pr
      FROM entities
    ),
    entity_lines AS (
      SELECT uri || ' <{_BL}id> "' || id || '"@en .' AS line FROM euri
      UNION ALL
      SELECT uri || ' <http://www.w3.org/2000/01/rdf-schema#label> "' || id || '"@en .' FROM euri
      UNION ALL
      SELECT uri || ' <http://www.w3.org/2000/01/rdf-schema#subClassOf> <'
             || '{_BL}' || (CASE WHEN is_pr THEN 'GeneProduct' ELSE 'ChemicalSubstance' END) || '> .'
      FROM euri
      UNION ALL
      SELECT uri || ' <http://www.w3.org/2000/01/rdf-schema#subClassOf> <{_BL}GeneOrGeneProduct> .'
      FROM euri WHERE is_pr
    ),
    evn AS (
      SELECT '<_:' || evid || '_evidence>' AS bn, evid, aid, doc, text, sub, obj FROM ev
    ),
    evidence_lines AS (
      SELECT bn || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_BL}InformationContentEntity> .' AS line FROM evn
      UNION ALL SELECT bn || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_BL}TextMinedEvidence> .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}id> "' || evid || '"@en .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}name> "Evidence: ' || sub || ' -pos-reg-> ' || obj || '"@en .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}publications> "PMID:' || doc || '"@en .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}sentence> "' || text || '"@en .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}subject_spans> "start: 5, end: 12"@en .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}object_spans> "start: 20, end: 30"@en .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}provided_by> "TMProvider"@en .' FROM evn
      UNION ALL SELECT bn || ' <{_BL}score> "0.99"^^<http://www.w3.org/2001/XMLSchema#decimal> .' FROM evn
    ),
    edg AS (
      SELECT aid, sub, obj, evid,
             '<_:' || aid || '_subj>' AS si, '<_:' || aid || '_obj>' AS oi, '<_:' || aid || '_assoc>' AS ai,
             '<http://purl.obolibrary.org/obo/' || replace(sub, ':', '_') || '>' AS su,
             '<http://purl.obolibrary.org/obo/' || replace(obj, ':', '_') || '>' AS ou
      FROM ev
    ),
    edge_lines AS (
      SELECT si || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_BL}ChemicalSubstance> .' AS line FROM edg
      UNION ALL SELECT si || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ' || su || ' .' FROM edg
      UNION ALL SELECT si || ' <http://www.openrdf.org/schema/sesame#directType> ' || su || ' .' FROM edg
      UNION ALL SELECT oi || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_BL}GeneProduct> .' FROM edg
      UNION ALL SELECT oi || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_BL}GeneOrGeneProduct> .' FROM edg
      UNION ALL SELECT oi || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ' || ou || ' .' FROM edg
      UNION ALL SELECT oi || ' <http://www.openrdf.org/schema/sesame#directType> ' || ou || ' .' FROM edg
      UNION ALL SELECT si || ' <http://purl.obolibrary.org/obo/RO_0002213> ' || oi || ' .' FROM edg
      UNION ALL SELECT ai || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_BL}ChemicalToGeneAssociation> .' FROM edg
      UNION ALL SELECT ai || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_BL}Association> .' FROM edg
      UNION ALL SELECT ai || ' <{_BL}subject> ' || si || ' .' FROM edg
      UNION ALL SELECT ai || ' <{_BL}object> ' || oi || ' .' FROM edg
      UNION ALL SELECT ai || ' <{_BL}id> "' || aid || '"@en .' FROM edg
      UNION ALL SELECT ai || ' <{_BL}relation> <http://purl.obolibrary.org/obo/RO_0002213> .' FROM edg
      UNION ALL SELECT ai || ' <{_BL}evidence> <_:' || evid || '_evidence> .' FROM edg
    )
    SELECT line FROM entity_lines
    UNION ALL SELECT line FROM evidence_lines
    UNION ALL SELECT line FROM edge_lines
    """,
)
def trapi_assoc_nt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AssocKgTrapiBackendSerializer parity over the synthesized
    classified-sentence KG: entity nodes (obo-purl, PR→GeneProduct pair of
    categories), evidence blank nodes (id/name/publications/sentence/
    spans/provided_by/xsd:decimal score) and association edge blocks
    (subj/obj/assoc blank nodes, RO:0002213 relation switch, one evidence
    link per '|'-joined evidence id)."""
    t = _cls_tables(spark, sf_dir)
    edges = ex.kgx_edges(
        t["assertion"], t["evidence"],
        edge_label="biolink:positively_regulates",
        relation_curie="RO:0002213",
        association_type="biolink:ChemicalToGeneAssociation",
    )
    evn = t["evidence"].join(t["assertion"], "assertion_id").select(
        F.col("evidence_id").alias("id"),
        F.concat(
            F.lit("Evidence: "), F.col("subject_curie"),
            F.lit(" -pos-reg-> "), F.col("object_curie"),
        ).alias("name"),
        F.concat(F.lit("PMID:"), F.col("document_id")).alias("publications"),
        F.lit("0.99").alias("score"),
        F.col("sentence"),
        F.lit("start: 5, end: 12").alias("subject_spans"),
        F.lit("start: 20, end: 30").alias("object_spans"),
        F.lit("TMProvider").alias("provided_by"),
    )
    entities = (
        t["assertion"]
        .select(F.explode(F.array("subject_curie", "object_curie")).alias("id"))
        .distinct()
        .select("id", F.col("id").alias("name"))
    )
    return (
        trapi.assoc_entity_nodes_nt(entities)
        .unionByName(trapi.assoc_evidence_nodes_nt(evn))
        .unionByName(trapi.assoc_edges_nt(edges))
    )


# ---------------------------------------------------------------------------
# Relation-extraction corpus tooling (relation_extraction/BratToBertConverter)
# ---------------------------------------------------------------------------

from ..operators import relext
from ..sources import brat as bratsrc
from ..functions import biolink as bl

_BRAT_DIR = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "brat")


@register(
    "brat_bert_training",
    f"""
    WITH ann AS (
      SELECT regexp_replace(regexp_replace(filename, '^.*/', ''), '\\.ann$', '') AS doc_id,
             content
      FROM read_text('{_BRAT_DIR}/*.ann')
    ),
    txt AS (
      SELECT regexp_replace(regexp_replace(filename, '^.*/', ''), '\\.txt$', '') AS doc_id,
             content
      FROM read_text('{_BRAT_DIR}/*.txt')
    ),
    tl AS (
      SELECT doc_id, unnest(string_split(content, chr(10))) AS line FROM ann
    ),
    ents0 AS (
      SELECT doc_id,
             regexp_extract(line, '^(T\\S+)\t', 1) AS ann_id,
             regexp_extract(line, '^T\\S+\t(\\S+) ', 1) AS entity_type,
             list_min(list_transform(regexp_extract_all(regexp_extract(line, '^T\\S+\t\\S+ ([0-9 ;]+)\t', 1), '([0-9]+)', 1), x -> cast(x AS int))) AS estart,
             list_max(list_transform(regexp_extract_all(regexp_extract(line, '^T\\S+\t\\S+ ([0-9 ;]+)\t', 1), '([0-9]+)', 1), x -> cast(x AS int))) AS eend
      FROM tl WHERE regexp_matches(line, '^T\\S+\t')
    ),
    victims AS (
      SELECT DISTINCT a.doc_id, a.ann_id
      FROM ents0 a JOIN ents0 b
        ON a.doc_id = b.doc_id AND a.ann_id <> b.ann_id
       AND a.estart < b.eend AND b.estart < a.eend
       AND b.entity_type LIKE '%corrected%' AND a.entity_type NOT LIKE '%corrected%'
    ),
    ents AS (
      SELECT e.doc_id, e.ann_id, e.estart, e.eend,
             CASE WHEN lower(regexp_replace(e.entity_type, '^(corrected_|missed_)', ''))
                       IN ('disease', 'phenotype', 'phenotypic_feature')
                  THEN 'disease_or_phenotypic_feature'
                  ELSE regexp_replace(e.entity_type, '^(corrected_|missed_)', '') END AS entity_type
      FROM ents0 e
      LEFT JOIN victims v ON v.doc_id = e.doc_id AND v.ann_id = e.ann_id
      WHERE v.ann_id IS NULL AND upper(e.entity_type) <> 'DONE'
    ),
    classed AS (
      SELECT *,
        CASE WHEN entity_type LIKE '%:%' THEN
               CASE WHEN string_split(entity_type, ':')[1] IN ('DRUGBANK', 'CHEBI') THEN 'CHEMICAL'
                    WHEN string_split(entity_type, ':')[1] IN ('MONDO', 'HP') THEN 'DISEASE_OR_PHENOTYPIC_FEATURE'
                    ELSE NULL END
             ELSE upper(entity_type) END AS blclass
      FROM ents
    ),
    rl AS (
      SELECT doc_id,
             regexp_extract(line, '^R\\S+\t(\\S+) ', 1) AS relation,
             regexp_extract(line, 'Arg1:(\\S+)', 1) AS s_id,
             regexp_extract(line, 'Arg2:(\\S+)', 1) AS o_id
      FROM tl WHERE regexp_matches(line, '^R\\S+\t')
    ),
    sl0 AS (
      SELECT doc_id, i AS line_idx, list_extract(string_split(content, chr(10)), i) AS sentence_text
      FROM txt, (SELECT unnest(generate_series(1, 1024)) AS i)
      WHERE i <= len(string_split(content, chr(10)))
    ),
    sents AS (
      SELECT doc_id, sentence_text,
             cast(coalesce(sum(length(sentence_text) + 1)
               OVER (PARTITION BY doc_id ORDER BY line_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS int) AS sent_start
      FROM sl0
    ),
    in_sent AS (
      SELECT c.*, s.sentence_text, s.sent_start,
             s.sent_start + length(s.sentence_text) AS sent_end
      FROM classed c JOIN sents s
        ON s.doc_id = c.doc_id
       AND c.estart < s.sent_start + length(s.sentence_text)
       AND s.sent_start < c.eend
      WHERE s.sentence_text <> '' AND c.blclass IS NOT NULL
    ),
    pairs AS (
      SELECT s.doc_id, s.sentence_text, s.sent_start,
             s.ann_id AS s_id, s.estart AS s_start, s.eend AS s_end,
             o.ann_id AS o_id, o.estart AS o_start, o.eend AS o_end
      FROM in_sent s JOIN in_sent o
        ON s.doc_id = o.doc_id AND s.sent_start = o.sent_start
       AND s.ann_id <> o.ann_id
       AND NOT (s.estart < o.eend AND o.estart < s.eend)
      WHERE s.blclass = 'CHEMICAL' AND o.blclass = 'DISEASE_OR_PHENOTYPIC_FEATURE'
    ),
    labeled AS (
      SELECT p.*, coalesce(r.relation, 'false') AS relation
      FROM pairs p LEFT JOIN rl r
        ON r.doc_id = p.doc_id AND r.s_id = p.s_id AND r.o_id = p.o_id
    ),
    subst AS (
      SELECT
        substr(sentence_text, 1, least(s_start, o_start) - sent_start)
        || (CASE WHEN s_start <= o_start THEN '@CHEMICAL$' ELSE '@DISEASE$' END)
        || substr(sentence_text,
                  least(s_end, o_end) - sent_start + 1,
                  greatest(s_start, o_start) - least(s_end, o_end))
        || (CASE WHEN s_start <= o_start THEN '@DISEASE$' ELSE '@CHEMICAL$' END)
        || substr(sentence_text, greatest(s_end, o_end) - sent_start + 1) AS sentence,
        relation
      FROM labeled
    )
    SELECT sentence, relation FROM subst
    QUALIFY row_number() OVER (PARTITION BY sentence ORDER BY relation) = 1
    """,
)
def brat_bert_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BratToBertConverter parity: annotated brat fixture directory →
    BERT training rows (sentence with subject/object placeholders +
    relation label; corrected/missed normalization, CURIE-prefix class
    mapping, non-overlap pair generation, NO-RELATION fallback). The
    sha1-hex example id is pinned by pytest (DuckDB has no sha1), so the
    oracle checks (sentence, relation)."""
    ann = bratsrc.read_brat_files(spark, _BRAT_DIR, "ann")
    txt = bratsrc.read_brat_files(spark, _BRAT_DIR, "txt")
    assoc = bl.ASSOCIATIONS["biolink:ChemicalToDiseaseOrPhenotypicFeatureAssociation"]
    out = relext.bert_training_examples(
        bratsrc.txt_sentences(txt),
        bratsrc.parse_ann_entities(ann),
        bratsrc.parse_ann_relations(ann),
        assoc,
    )
    return out.select("sentence", "relation")


@register(
    "brat_annotation_export",
    """
    WITH eligible AS (SELECT DISTINCT text FROM documents WHERE n_chars >= 40),
    ordered AS (
      SELECT text, row_number() OVER (ORDER BY text) - 1 AS i
      FROM eligible QUALIFY i < 45
    ),
    paged AS (
      SELECT text,
             chr(cast(97 + ((i // 20) // 676) % 26 AS int))
               || chr(cast(97 + ((i // 20) // 26) % 26 AS int))
               || chr(cast(97 + (i // 20) % 26 AS int)) AS page,
             i % 20 AS sent_idx
      FROM ordered
    ),
    offs AS (
      SELECT *,
             cast(coalesce(sum(length(text) + 1)
               OVER (PARTITION BY page ORDER BY sent_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS int) AS off
      FROM paged
    ),
    ann AS (
      SELECT page, 'ann' AS kind, 2 * sent_idx AS line_no,
             'T' || cast(2 * sent_idx + 1 AS varchar) || chr(9) || 'chemical '
               || cast(5 + off AS varchar) || ' ' || cast(12 + off AS varchar)
               || chr(9) || substr(text, 6, 7) AS line
      FROM offs
      UNION ALL
      SELECT page, 'ann', 2 * sent_idx + 1,
             'T' || cast(2 * sent_idx + 2 AS varchar) || chr(9) || 'disease '
               || cast(20 + off AS varchar) || ' ' || cast(30 + off AS varchar)
               || chr(9) || substr(text, 21, 10)
      FROM offs
    ),
    txt AS (
      SELECT page, 'txt' AS kind, sent_idx AS line_no, text AS line FROM paged
      UNION ALL
      SELECT page, 'txt', max(sent_idx) + 1, 'DONE' FROM paged GROUP BY page
    )
    SELECT page, kind, line_no, line FROM ann
    UNION ALL SELECT page, kind, line_no, line FROM txt
    """,
)
def brat_annotation_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BratAssertionAnnotationFileCreator parity: the synthesized
    extracted-sentence relation → paged brat .ann/.txt contents (45
    sentences → pages aaa/aab/aac of ≤20, per-page T numbering and span
    offsets, DONE-terminated txt). Deterministic text-ordered batching
    replaces the reference's random sampling; the sentence hash dedup and
    entity-id exclusions run before paging."""
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 40)
    docs = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text", "n_chars")
    sents = docs.select(
        "doc_id", F.lit(0).alias("sent_idx"), F.lit(0).alias("start"),
        F.col("n_chars").cast("int").alias("end"), F.col("text").alias("sentence"),
    )
    mk = lambda pfx, s, e: docs.select(  # noqa: E731
        "doc_id",
        F.lit("concept").alias("annot_type"),
        F.concat(F.lit(pfx + ":"), F.col("doc_id")).alias("concept_id"),
        F.array(F.struct(F.lit(s).cast("int").alias("start"), F.lit(e).cast("int").alias("end"))).alias("spans"),
        F.substring("text", s + 1, e - s).alias("covered_text"),
    )
    concepts = mk("CHEBI", 5, 12).unionByName(mk("HP", 20, 30))
    ext = sentops.extract_sentences(
        sents, concepts,
        x_prefixes=["CHEBI"], y_prefixes=["HP"],
        x_placeholder="@CHEMICAL$", y_placeholder="@DISEASE$",
    )
    assoc = bl.ASSOCIATIONS["biolink:ChemicalToDiseaseOrPhenotypicFeatureAssociation"]
    return relext.brat_annotation_batch(ext, assoc, batch_size=45)


from ..operators import sheets as sheetops

#: shared CTE: the brat-export synthesized extraction deduped to one row
#: per sentence text (first by entity-id order) and capped at 45, ranked
#: by sentence text — the sheet batch's deterministic selection
_SHEET_BATCH_SQL = """
    eligible AS (SELECT doc_id, text FROM documents WHERE n_chars >= 40),
    first_per_text AS (
      SELECT text, cast(doc_id AS varchar) AS doc_id
      FROM eligible
      QUALIFY row_number() OVER (
        PARTITION BY text
        ORDER BY text, 'CHEBI:' || cast(doc_id AS varchar),
                 'HP:' || cast(doc_id AS varchar)
      ) = 1
    ),
    batch AS (
      SELECT *, row_number() OVER (ORDER BY text) AS row_no
      FROM first_per_text QUALIFY row_no <= 45
    ),
    cells AS (
      SELECT row_no,
             substr(text, 1, 5) || '@CHEMICAL$' || substr(text, 13, 8)
               || '@DISEASE$' || substr(text, 31) AS sentence_with_placeholders,
             doc_id AS document_id,
             'CHEBI:' || doc_id AS subject_id,
             substr(text, 6, 7) AS subject_text,
             'HP:' || doc_id AS object_id,
             substr(text, 21, 10) AS object_text,
             text || '                  ' AS sentence
      FROM batch
    )
"""


def _sheet_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 40)
    docs = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text", "n_chars")
    sents = docs.select(
        "doc_id", F.lit(0).alias("sent_idx"), F.lit(0).alias("start"),
        F.col("n_chars").cast("int").alias("end"), F.col("text").alias("sentence"),
    )
    mk = lambda pfx, s, e: docs.select(  # noqa: E731
        "doc_id",
        F.lit("concept").alias("annot_type"),
        F.concat(F.lit(pfx + ":"), F.col("doc_id")).alias("concept_id"),
        F.array(F.struct(F.lit(s).cast("int").alias("start"), F.lit(e).cast("int").alias("end"))).alias("spans"),
        F.substring("text", s + 1, e - s).alias("covered_text"),
    )
    concepts = mk("CHEBI", 5, 12).unionByName(mk("HP", 20, 30))
    ext = sentops.extract_sentences(
        sents, concepts,
        x_prefixes=["CHEBI"], y_prefixes=["HP"],
        x_placeholder="@CHEMICAL$", y_placeholder="@DISEASE$",
    )
    assoc = bl.ASSOCIATIONS["biolink:ChemicalToDiseaseOrPhenotypicFeatureAssociation"]
    return sheetops.assertion_sheet_rows(ext, assoc, batch_size=45), assoc


@register(
    "annotation_sheet_export",
    f"""
    WITH {_SHEET_BATCH_SQL}
    SELECT row_no, sentence_with_placeholders, document_id, subject_id,
           subject_text, object_id, object_text, sentence,
           true AS no_relation,
           false AS "biolink:treats",
           false AS "biolink:contributes_to"
    FROM cells
    """,
)
def annotation_sheet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GoogleSheetsAssertionAnnotationSheetCreator parity over the same
    synthesized extraction the brat export uses: one sheet row per
    deduped sentence (text-ordered batch of 45), NO-RELATION defaulted
    true and both predicate checkboxes false, the padded sentence cell
    verbatim. The base64-sha1 sentence_id column is dropped from the
    checked projection (DuckDB has no sha1) and pinned by
    tests/test_sheets.py instead."""
    rows, _assoc = _sheet_rows(spark, sf_dir)
    return rows.drop("sentence_id")


@register(
    "sheet_bert_training",
    f"""
    WITH {_SHEET_BATCH_SQL}
    SELECT sha256(sentence_with_placeholders) AS hash,
           sentence_with_placeholders AS sentence,
           CASE WHEN cast(document_id AS int) % 2 = 0
                THEN 'treats' ELSE 'false' END AS label
    FROM cells
    """,
)
def sheet_bert_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GoogleSheetsToBertInputFileCreator parity: the created sheet rows
    come back 'annotated' (treats checked for even document ids, the
    NO-RELATION default kept otherwise — a deterministic stand-in for
    the human pass) and export as BERT training rows with sha256
    placeholder-sentence hashes, value-checked hash included."""
    rows, assoc = _sheet_rows(spark, sf_dir)
    even = F.col("document_id").cast("int") % 2 == 0
    annotated = rows.withColumn("no_relation", ~even).withColumn(
        "biolink:treats", even
    )
    return sheetops.sheet_to_bert_training(annotated, assoc)


@register(
    "bio_tag_export",
    """
    WITH marked AS (
      SELECT cast(doc_id AS varchar) AS doc_id,
             string_split(
               regexp_replace(text, '([A-Za-z0-9]+)', chr(30) || '\\1' || chr(30), 'g'),
               chr(30)) AS ps
      FROM documents WHERE n_chars >= 40
    ),
    parts AS (
      SELECT doc_id, unnest(ps) AS part, generate_subscripts(ps, 1) AS i FROM marked
    ),
    offs AS (
      SELECT doc_id, part, i,
             cast(coalesce(sum(length(part)) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS int) AS strt
      FROM parts
    ),
    toks AS (
      SELECT doc_id, part AS token, strt, strt + length(part) AS fin,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS tok_idx
      FROM offs WHERE regexp_matches(part, '^[A-Za-z0-9]+$')
    ),
    tagged AS (
      SELECT doc_id, tok_idx, token,
        CASE
          WHEN strt < 12 AND 5 < fin THEN
            CASE WHEN strt = (SELECT min(t2.strt) FROM toks t2
                              WHERE t2.doc_id = toks.doc_id AND t2.strt < 12 AND 5 < t2.fin)
                 THEN 'B-CHEBI' ELSE 'I-CHEBI' END
          WHEN strt < 30 AND 20 < fin THEN
            CASE WHEN strt = (SELECT min(t2.strt) FROM toks t2
                              WHERE t2.doc_id = toks.doc_id AND t2.strt < 30 AND 20 < t2.fin)
                 THEN 'B-MONDO' ELSE 'I-MONDO' END
          ELSE 'O' END AS tag
      FROM toks
    )
    SELECT doc_id, tok_idx, token || chr(9) || tag AS line FROM tagged
    """,
)
def bio_tag_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CraftToBioTagFormat parity on the synthesized concept layout the
    brat export uses: whitespace-run tokens with exact offsets, CHEBI
    span [5,12) and HP span [20,30) per document — first overlapping
    token B-, the rest I-, everything else O, and the reference's
    HP→MONDO label remap. The oracle recomputes tokenization offsets
    with the same marker-split trick in SQL."""
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 40)
    docs = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    toks = ner.tokenize_with_offsets(docs, text="text")
    concepts = docs.select(
        "doc_id",
        F.concat(F.lit("CHEBI:"), F.col("doc_id")).alias("concept_id"),
        F.lit(5).alias("start"), F.lit(12).alias("end"),
    ).unionByName(
        docs.select(
            "doc_id",
            F.concat(F.lit("HP:"), F.col("doc_id")).alias("concept_id"),
            F.lit(20).alias("start"), F.lit(30).alias("end"),
        )
    )
    return relext.bio_tag_lines(relext.bio_token_tags(toks, concepts))


@register(
    "distant_supervision_pairs",
    """
    WITH eligible AS (SELECT * FROM documents WHERE n_chars >= 40),
    ext AS (
      SELECT sha256(cast(doc_id AS varchar) || 'Unknown'
                    || 'CHEBI:' || cast(doc_id AS varchar) || '[5..12]'
                    || 'HP:' || cast(doc_id AS varchar) || '[20..30]'
                    || text)                     AS sentence_id,
             cast(doc_id AS varchar)             AS doc_id,
             'CHEBI:' || cast(doc_id AS varchar) AS entity1_id,
             'HP:' || cast(doc_id AS varchar)    AS entity2_id,
             text                                AS sentence_text
      FROM eligible
    ),
    pairs AS (
      SELECT 'CHEBI:' || cast(doc_id AS varchar) AS c1,
             'HP:' || cast(doc_id AS varchar)    AS c2
      FROM eligible WHERE doc_id % 3 = 0
    ),
    hit AS (
      SELECT e.* FROM ext e
      JOIN pairs p
        ON least(e.entity1_id, e.entity2_id) = least(p.c1, p.c2)
       AND greatest(e.entity1_id, e.entity2_id) = greatest(p.c1, p.c2)
    )
    SELECT sentence_id, doc_id, entity1_id, entity2_id, sentence_text
    FROM hit
    QUALIFY row_number() OVER (
      PARTITION BY least(entity1_id, entity2_id), greatest(entity1_id, entity2_id)
      ORDER BY sentence_id) <= 5
    """,
)
def distant_supervision_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConceptPairSentenceExtractor parity: a concept-pair list joined
    (broadcast, order-insensitive) against the extracted-sentence
    relation with the general-identifier exclusions and a deterministic
    per-pair cap — one corpus scan for all pairs instead of one
    Elasticsearch query per pair."""
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 40)
    docs = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text", "n_chars")
    sents = docs.select(
        "doc_id", F.lit(0).alias("sent_idx"), F.lit(0).alias("start"),
        F.col("n_chars").cast("int").alias("end"), F.col("text").alias("sentence"),
    )
    mk = lambda pfx, s, e: docs.select(  # noqa: E731
        "doc_id",
        F.lit("concept").alias("annot_type"),
        F.concat(F.lit(pfx + ":"), F.col("doc_id")).alias("concept_id"),
        F.array(F.struct(F.lit(s).cast("int").alias("start"), F.lit(e).cast("int").alias("end"))).alias("spans"),
        F.substring("text", s + 1, e - s).alias("covered_text"),
    )
    concepts = mk("CHEBI", 5, 12).unionByName(mk("HP", 20, 30))
    ext = sentops.extract_sentences(
        sents, concepts,
        x_prefixes=["CHEBI"], y_prefixes=["HP"],
        x_placeholder="@CHEMICAL$", y_placeholder="@DISEASE$",
    )
    pairs = d.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("CHEBI:"), F.col("doc_id").cast("string")).alias("concept1"),
        F.concat(F.lit("HP:"), F.col("doc_id").cast("string")).alias("concept2"),
    )
    out = relext.distant_supervision_sentences(ext, pairs, max_per_pair=5)
    return out.select("sentence_id", "doc_id", "entity1_id", "entity2_id", "sentence_text")


_BERT_NER_DIR = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "bert_ner")


@register(
    "ner_bert_bionlp",
    f"""
    WITH inl AS (
      SELECT i AS idx, list_extract(ls, i) AS line
      FROM (SELECT string_split(content, chr(10)) AS ls
            FROM read_text('{_BERT_NER_DIR}/input.txt')),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(ls)
    ),
    outl AS (
      SELECT i AS idx, list_extract(ls, i) AS line
      FROM (SELECT string_split(content, chr(10)) AS ls
            FROM read_text('{_BERT_NER_DIR}/labels.txt')),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(ls)
    ),
    inr AS (
      SELECT row_number() OVER (ORDER BY idx) AS rank, line FROM inl WHERE trim(line) <> ''
    ),
    outr AS (
      SELECT row_number() OVER (ORDER BY idx) AS rank, line FROM outl WHERE trim(line) <> ''
    ),
    toks0 AS (
      SELECT i.rank AS line_no,
             string_split(i.line, chr(9))[1] AS token,
             nullif(string_split(i.line, chr(9))[2], '-') AS doc_raw,
             cast(string_split(i.line, chr(9))[3] AS int) AS s,
             list_extract(regexp_split_to_array(o.line, '\\s+'), 3) AS tag
      FROM inr i JOIN outr o ON o.rank = i.rank
    ),
    toks AS (
      SELECT *,
             last_value(doc_raw IGNORE NULLS) OVER (ORDER BY line_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS doc_id,
             CASE WHEN tag <> 'O' THEN string_split(tag, '-')[2] END AS label
      FROM toks0
    ),
    lagged AS (
      SELECT *,
             lag(label) OVER (PARTITION BY doc_id ORDER BY line_no) AS prev_label
      FROM toks
    ),
    seg AS (
      SELECT *,
             sum(CASE WHEN label IS NOT NULL AND (prev_label IS DISTINCT FROM label)
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY line_no) AS seg_id
      FROM lagged
    ),
    padded AS (
      SELECT doc_id, seg_id, label, s, s + length(token) AS e,
             repeat(' ', s - coalesce(lag(s + length(token))
               OVER (PARTITION BY doc_id, seg_id ORDER BY s), s)) || token AS piece
      FROM seg WHERE label IS NOT NULL
    )
    SELECT doc_id, label AS concept_id,
           min(s) AS start, max(e) AS "end",
           string_agg(piece, '' ORDER BY s) AS covered_text
    FROM padded GROUP BY doc_id, seg_id, label
    """,
)
def ner_bert_bionlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NerBertToBionlpConverter parity: line-aligned BERT NER input/label
    fixture files → entity annotations (IOB(ES) collapse with
    adjacent-same-label merge, gap-padded covered text, doc ids
    forward-filled from sentence heads). bionlp_lines serializes the same
    rows to standoff blobs; the oracle checks the annotation relation."""
    tokens = relext.parse_bert_ner_files(
        spark,
        _os.path.join(_BERT_NER_DIR, "input.txt"),
        _os.path.join(_BERT_NER_DIR, "labels.txt"),
    )
    ents = relext.ner_bert_entities(tokens)
    return ents.select(
        "doc_id",
        "concept_id",
        F.col("spans").getItem(0).getField("start").alias("start"),
        F.col("spans").getItem(0).getField("end").alias("end"),
        "covered_text",
    )


# ---------------------------------------------------------------------------
# Percha-Altman bicluster training data (relation_extraction/bicluster/*)
# ---------------------------------------------------------------------------

from ..operators import bicluster

_BICLUSTER_DIR = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "bicluster")


@register(
    "bicluster_bert_training",
    f"""
    WITH p1l AS (
      SELECT unnest(string_split(content, chr(10))) AS line
      FROM read_text('{_BICLUSTER_DIR}/part1.tsv')
    ),
    p1 AS (SELECT string_split(line, chr(9)) AS c FROM p1l
           WHERE line <> '' AND NOT line LIKE 'path%'),
    path_themes AS (
      SELECT c[1] AS dependency_path, 'B_BINDING' AS theme FROM p1 WHERE cast(c[3] AS int) > 0
      UNION
      SELECT c[1], 'W_ENHANCES_RESPONSE' FROM p1 WHERE cast(c[5] AS int) > 0
      UNION
      SELECT c[1], 'Rg_REGULATION' FROM p1 WHERE cast(c[7] AS int) > 0
    ),
    p2l AS (
      SELECT unnest(string_split(content, chr(10))) AS line
      FROM read_text('{_BICLUSTER_DIR}/part2.tsv')
    ),
    p2 AS (
      SELECT string_split(line, chr(9)) AS c FROM p2l WHERE line <> ''
    ),
    sent AS (
      SELECT lower(c[13]) AS dependency_path,
             c[3] AS e1, upper(c[11]) AS t1,
             c[5] AS e2, upper(c[12]) AS t2,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               c[14], '-LRB- ', '(', 'g'), '-LSB- ', '[', 'g'), ' -RRB-', ')', 'g'),
               ' -RSB-', ']', 'g'), ' ,', ',', 'g'), ' \\.', '.', 'g') AS detok
      FROM p2
    ),
    sub1 AS (
      SELECT *, CASE WHEN strpos(detok, e1) > 0 THEN
               substr(detok, 1, strpos(detok, e1) - 1) || '@' || t1 || '$'
               || substr(detok, strpos(detok, e1) + length(e1))
             ELSE detok END AS s1
      FROM sent
    ),
    sub2 AS (
      SELECT dependency_path, CASE WHEN strpos(s1, e2) > 0 THEN
               substr(s1, 1, strpos(s1, e2) - 1) || '@' || t2 || '$'
               || substr(s1, strpos(s1, e2) + length(e2))
             ELSE s1 END AS sentence
      FROM sub1
    )
    SELECT sentence, lower(t.theme) AS theme
    FROM sub2 s JOIN path_themes t USING (dependency_path)
    QUALIFY row_number() OVER (PARTITION BY sentence ORDER BY lower(t.theme)) = 1
    """,
)
def bicluster_bert_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percha-Altman bicluster chain parity: part-i flagship themes per
    dependency path, part-ii sentences joined on the lowercased path,
    PTB de-tokenization, first-literal-occurrence @TYPE$ placeholders,
    cross-theme dedup (deterministic smallest-label variant). sha1-hex
    ids pinned in pytest; oracle checks (sentence, theme)."""
    pt = bicluster.part1_path_themes(spark, _os.path.join(_BICLUSTER_DIR, "part1.tsv"))
    p2 = bicluster.parse_part2(spark, _os.path.join(_BICLUSTER_DIR, "part2.tsv"))
    out = bicluster.bert_training_rows(
        p2, pt, themes_to_include=("B_BINDING", "W_ENHANCES_RESPONSE", "Rg_REGULATION")
    )
    return out.select("sentence", "theme")


_TAXON_FIXTURE = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "sample_taxon.obo")


@register(
    "taxon_promoted_dictionary",
    f"""
    WITH RECURSIVE
    raw AS (
      SELECT trim(unnest(string_split(content, chr(10) || chr(10)))) AS stanza
      FROM read_text('{_TAXON_FIXTURE}')
    ),
    t AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS term_id,
             regexp_extract(stanza, '(?m)^name: (.*?)\\s*$', 1) AS label_raw,
             regexp_extract_all(stanza, '(?m)^synonym: "((?:[^"\\\\]|\\\\.)*)" EXACT', 1) AS exact_syns,
             regexp_extract_all(stanza, '(?m)^is_a: (\\S+)', 1) AS parents,
             regexp_matches(stanza, '(?m)^is_obsolete: true') AS obsolete
      FROM raw WHERE stanza LIKE '[Term]%'
    ),
    base AS (
      SELECT term_id, {_sql_fixlabel('label_raw')} AS primary_label,
             list_distinct(list_transform(
               list_concat([label_raw], exact_syns),
               s -> {_sql_fixlabel('s')})) AS syns0,
             parents
      FROM t WHERE NOT obsolete AND term_id LIKE 'NCBITaxon:%' AND label_raw <> ''
    ),
    exploded AS (
      SELECT term_id AS concept_id, primary_label,
             unnest(list_filter(
               list_filter(syns0, s -> NOT list_contains([{_STOPWORD_IN}], lower(s))),
               s -> length(s) >= 3)) AS term
      FROM base
    ),
    flagged AS (
      SELECT concept_id, primary_label, term, {_SQL_IS_CS} AS case_sensitive
      FROM exploded
    ),
    withalts AS (
      SELECT * FROM flagged
      UNION ALL
      SELECT concept_id, primary_label,
             substr(term, 1, 1) || lower(substr(term, 2)) AS term, true AS case_sensitive
      FROM flagged WHERE case_sensitive AND regexp_matches(term, '^[A-Z]+[0-9]+$')
    ),
    dict AS (
      SELECT DISTINCT 'NCBITaxon' AS ont_key, concept_id,
             {_sql_fixlabel('term')} AS term, primary_label,
             'organism' AS main_type, case_sensitive
      FROM withalts
    ),
    anc AS (
      SELECT t.term_id AS id, unnest(t.parents) AS anc FROM t
      UNION
      SELECT a.id, unnest(t2.parents) AS anc
      FROM anc a JOIN t t2 ON t2.term_id = a.anc
    ),
    grp AS (
      SELECT case_sensitive, term, concept_id FROM dict
      GROUP BY 1, 2, 3
      QUALIFY count(*) OVER (PARTITION BY case_sensitive, term) > 1
    ),
    removed AS (
      SELECT DISTINCT g1.case_sensitive, g1.term, g1.concept_id
      FROM grp g1
      JOIN grp g2 ON g1.case_sensitive = g2.case_sensitive
                 AND g1.term = g2.term AND g1.concept_id <> g2.concept_id
      JOIN anc a ON a.id = g1.concept_id AND a.anc = g2.concept_id
    )
    SELECT d.* FROM dict d
    LEFT JOIN removed r
      ON r.case_sensitive = d.case_sensitive AND r.term = d.term
     AND r.concept_id = d.concept_id
    WHERE r.concept_id IS NULL
    """,
)
def taxon_promoted_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NCBITaxon promotion (performTaxonPromotion,
    NcbiTaxonOgerDictFileFactory.java:105-220): terms mapping to multiple
    taxa drop every id whose ancestors include another group member — the
    ambiguous name promotes to the most general taxon; CS/CI halves
    promote independently. Oracle recomputes the dictionary and a
    recursive ancestor closure from the same fixture."""
    terms = obo.read_obo_terms(spark, _TAXON_FIXTURE)
    cfg = ogerdict.OgerDictConfig(ont_key="NCBITaxon", main_type="organism")
    d = ogerdict.build_oger_dictionary(terms, cfg)
    return ogerdict.promote_taxon_dictionary(d, terms)


#: registered LSH parameters for the embedding near-dup query. 24 bands:
#: recall verified total at sf0.001/sf0.01/sf0.1 (more bands only widen
#: the candidate set; the exact-cosine gate is unchanged), and
#: tests/test_similarity.py pins lsh_recall_bound(threshold, n_bands,
#: band_planes) ≥ 0.999 so the band count can't drop below the analytic
#: requirement unnoticed.
EMB_NEARDUP_PARAMS = dict(threshold=0.3, n_bands=24, band_planes=2)


@register(
    "embedding_near_duplicates",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
    {_COS_EXPAND},
    norms AS (
      SELECT vec_id, sum(cast(list_extract(embedding, i) AS double) * cast(list_extract(embedding, i) AS double)) AS nn
      FROM e, pos GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             sum(cast(list_extract(a.embedding, p.i) AS double) * cast(list_extract(b.embedding, p.i) AS double)) AS d
      FROM e a JOIN e b ON a.vec_id < b.vec_id, pos p GROUP BY 1, 2
    )
    SELECT vec_a, vec_b, round(d / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS cosine
    FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
    WHERE round(d / (sqrt(na.nn) * sqrt(nb.nn)), 6) >= 0.3
    """,
)
def embedding_near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (LLM-data-pipeline dedup family): banded
    random-hyperplane LSH candidates verified with exact cosine at the
    0.3 threshold — hash-checked against the all-pairs oracle (LSH recall
    is total at these settings, verified at sf0.01 and sf0.1), with no
    all-pairs join in the Spark plan."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    return similarity.embedding_near_duplicates(emb, **EMB_NEARDUP_PARAMS)


@register(
    "embedding_keep_list",
    f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
    {_COS_EXPAND},
    norms AS (
      SELECT vec_id, sum(cast(list_extract(embedding, i) AS double) * cast(list_extract(embedding, i) AS double)) AS nn
      FROM e, pos GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             sum(cast(list_extract(a.embedding, p.i) AS double) * cast(list_extract(b.embedding, p.i) AS double)) AS d
      FROM e a JOIN e b ON a.vec_id < b.vec_id, pos p GROUP BY 1, 2
    ),
    nd AS (
      SELECT vec_a, vec_b
      FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
      WHERE round(d / (sqrt(na.nn) * sqrt(nb.nn)), 6) >= 0.3
    ),
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM nd UNION SELECT vec_b, vec_a FROM nd
    ),
    reach AS (
      SELECT a AS node, b AS x FROM edges
      UNION
      SELECT r.node, e2.b FROM reach r JOIN edges e2 ON e2.a = r.x
    ),
    canon AS (SELECT node, least(node, min(x)) AS comp FROM reach GROUP BY node)
    SELECT v.vec_id,
           coalesce(c.comp, v.vec_id) AS canonical_id,
           coalesce(c.comp, v.vec_id) = v.vec_id AS is_kept
    FROM e v LEFT JOIN canon c ON c.node = v.vec_id
    """,
)
def embedding_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-side dedup end product: every vector mapped to the
    minimum-id member of its cosine near-duplicate cluster (banded-LSH
    candidates → exact cosine → connected components) with an is_kept
    flag — same keep-list shape as the MinHash document path, same
    recursive-reachability oracle."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    pairs = similarity.embedding_near_duplicates(emb, **EMB_NEARDUP_PARAMS)
    comp = dedup.connected_components(pairs, id_a="vec_a", id_b="vec_b")
    out = emb.select("vec_id").join(comp, F.col("vec_id") == comp.node, "left")
    canonical = F.coalesce(F.col("component"), F.col("vec_id"))
    return out.select(
        "vec_id",
        canonical.alias("canonical_id"),
        (canonical == F.col("vec_id")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Annotation-repo batch tooling (annot_batch_cli: RepoStatsCommand,
# BatchCreateCommand, OneOffAnnotationFileFixer)
# ---------------------------------------------------------------------------

#: fabricated annotation-repo line table: every eligible document text is
#: assigned to two (annotator, batch) directories so batches genuinely
#: overlap, plus one DONE marker line per batch to exercise the
#: countSentences filter. Mirrored verbatim in the SQL oracles.
_ANNOT_ASSIGN_SQL = """
    src AS (SELECT doc_id, text FROM documents WHERE n_chars >= 40),
    assign AS (
      SELECT 'a' || cast(doc_id % 2 AS varchar) AS annotator,
             'b' || cast(doc_id % 3 AS varchar) AS batch, text AS line
      FROM src
      UNION ALL
      SELECT 'a' || cast((doc_id + 1) % 2 AS varchar),
             'b' || cast((doc_id + 2) % 3 AS varchar), text
      FROM src
    )
"""


def _annot_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 40)
        .select("doc_id", "text")
    )

    def assign(ann_shift: int, batch_shift: int) -> DataFrame:
        return src.select(
            F.concat(
                F.lit("a"), ((F.col("doc_id") + ann_shift) % 2).cast("string")
            ).alias("annotator"),
            F.concat(
                F.lit("b"), ((F.col("doc_id") + batch_shift) % 3).cast("string")
            ).alias("batch"),
            F.col("text").alias("line"),
        )

    lines = assign(0, 0).unionByName(assign(1, 2))
    done = (
        lines.select("annotator", "batch")
        .distinct()
        .withColumn("line", F.lit("DONE"))
    )
    return lines.unionByName(done)


@register(
    "annotation_batch_sizes",
    f"""
    WITH {_ANNOT_ASSIGN_SQL}
    SELECT annotator, batch, count(*) AS n_sentences
    FROM assign
    WHERE trim(line) <> '' AND line <> 'DONE'
    GROUP BY annotator, batch
    """,
)
def annotation_batch_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The annot_batch_cli ``stats`` batch-size catalog
    (RepoStatsCommand.countBatchSizes:126-142) over the fabricated
    annotation-repo line table; DONE markers excluded by the same rule as
    the reference's countSentences."""
    return ab.batch_sentence_counts(_annot_lines(spark, sf_dir))


@register(
    "annotation_batch_overlap",
    f"""
    WITH {_ANNOT_ASSIGN_SQL},
    ids AS (
      SELECT DISTINCT annotator || '_' || batch AS batch_key,
             sha256(line) AS sentence_id
      FROM assign WHERE trim(line) <> '' AND line <> 'DONE'
    ),
    keys AS (SELECT DISTINCT batch_key FROM ids),
    ov AS (
      SELECT a.batch_key AS batch_a, b.batch_key AS batch_b,
             count(*) AS n
      FROM ids a JOIN ids b USING (sentence_id) GROUP BY 1, 2
    )
    SELECT k1.batch_key AS batch_a, k2.batch_key AS batch_b,
           cast(coalesce(ov.n, 0) AS bigint) AS n_overlap
    FROM keys k1 CROSS JOIN keys k2
    LEFT JOIN ov ON ov.batch_a = k1.batch_key AND ov.batch_b = k2.batch_key
    """,
)
def annotation_batch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``stats`` command's full batch×batch sentence-id overlap matrix
    (RepoStatsCommand.findOverlappingBatches:205-222), sentence ids the
    sha256 Elasticsearch hashes — one equi-join on sentence id plus a
    broadcast key grid, hash-checked cell by cell."""
    return ab.batch_overlap_matrix(_annot_lines(spark, sf_dir))


@register(
    "idf_allowed_concepts",
    f"""
    WITH {_UC_SQL},
    counts AS (SELECT concept_id, count(*) AS concept_count FROM uc GROUP BY 1),
    totals AS (SELECT count(DISTINCT text_id) AS total_docs FROM uc),
    idf AS (
      SELECT concept_id,
             round(ln(cast(total_docs AS double) / cast(concept_count AS double)), 8) AS idf
      FROM counts CROSS JOIN totals
    )
    SELECT DISTINCT split_part(concept_id, ':', 1) AS prefix, concept_id
    FROM idf
    WHERE idf > 3.2 AND split_part(concept_id, ':', 1) = 'S'
    """,
)
def idf_allowed_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix→allowed-concept filtering for new annotation batches
    (BatchCreateCommand.addConceptIdsAboveIdfThreshold:246-263,
    populatePrefixToIdMapBasedOnOntPrefixAndIdf:275-293): concepts above
    the IDF threshold with a requested ontology prefix, chained on the A9
    IDF computed from the same unit-concept relation as ``concept_idf``
    (level predicate skipped — single-level IDF frame)."""
    idf = co.concept_idf(_supplier_units(spark, sf_dir))
    return ab.allowed_concepts_by_idf(
        idf, 3.2, ontology_prefixes=["S"], level_col=None
    )


@register(
    "pmid_reference_fix",
    """
    WITH src AS (SELECT doc_id, text FROM documents),
    built AS (
      SELECT doc_id,
             text || ' -- PMID:' || cast(doc_id AS varchar) AS line1,
             'End marker.' AS line2
      FROM src
    ),
    fixed AS (
      SELECT doc_id,
             regexp_replace(line1, ' -- PMID:[0-9]+$', '') AS f1, line2,
             length(line1)
               - length(regexp_replace(line1, ' -- PMID:[0-9]+$', '')) AS rm,
             length(line1) AS l1
      FROM built
    )
    SELECT doc_id, f1 || chr(10) || line2 AS text,
           cast(l1 + 1 - rm AS int) AS span_start,
           cast(l1 + 1 + 11 - rm AS int) AS span_end
    FROM fixed
    """,
)
def pmid_reference_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OneOffAnnotationFileFixer.removePmidReferences:29-69 as a
    hash-checked transform: every document gets a PMID back-reference
    suffix and a trailing annotated line; the fixer must strip the suffix
    and shift the trailing annotation's span left by the removed length."""
    src = _t(spark, sf_dir, "documents").select("doc_id", "text")
    built = src.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" -- PMID:"),
            F.col("doc_id").cast("string"),
            F.lit("\nEnd marker."),
        ).alias("text"),
        (
            F.length("text")
            + F.length(F.concat(F.lit(" -- PMID:"), F.col("doc_id").cast("string")))
        ).alias("__l1"),
    )
    annots = built.select(
        "doc_id",
        F.array(
            F.struct(
                (F.col("__l1") + 1).cast("int").alias("start"),
                (F.col("__l1") + 12).cast("int").alias("end"),
            )
        ).alias("spans"),
    )
    fixed_docs, fixed_annots = ab.remove_pmid_references(
        built.drop("__l1"), annots
    )
    return fixed_docs.join(fixed_annots, "doc_id").select(
        "doc_id",
        "text",
        F.col("spans").getItem(0)["start"].alias("span_start"),
        F.col("spans").getItem(0)["end"].alias("span_end"),
    )


# ---------------------------------------------------------------------------
# SemMedDB corpus preparation (corpora/semmed: SemmedDbIdf, SemmedDbFileParser)
# ---------------------------------------------------------------------------

#: java String.split(" ").length semantics in DuckDB SQL — the same contract
#: as semmed.java_space_token_count (trailing empties dropped, leading and
#: interior kept, '' counts 1, all-spaces counts 0)
_JAVA_SPLIT_SQL = """
      CASE WHEN {s} = '' THEN 1
           WHEN regexp_replace({s}, ' +$', '') = '' THEN 0
           ELSE len(string_split(regexp_replace({s}, ' +$', ''), ' ')) END
"""


@register(
    "semmed_cui_idf",
    """
    WITH ents AS (
      SELECT DISTINCT cast(l_orderkey AS varchar) AS sentence_id,
             'C' || cast(l_suppkey AS varchar) AS cui
      FROM lineitem
    ),
    sents AS (
      SELECT cast(o_orderkey AS varchar) AS sentence_id,
             'p' || cast(o_custkey AS varchar) AS pmid
      FROM orders
    ),
    cp AS (SELECT DISTINCT cui, pmid FROM ents JOIN sents USING (sentence_id)),
    counts AS (SELECT cui, count(DISTINCT pmid) AS pmid_count FROM cp GROUP BY 1)
    SELECT cui, cast(NULL AS varchar) AS name,
           round(ln(cast(pmid_count AS double) / 34315455.0), 3) AS idf
    FROM counts
    """,
)
def semmed_cui_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemmedDbIdf chain on fabricated entity/sentence tables (lineitem
    supplies (sentence_id, cui) observations, orders the sentence→PMID
    map): two equi-joins + a distinct count + the reference's
    ln(count/total) at 3 decimals — replacing the reference's single-JVM
    HashMaps over 1.7B rows (SemmedDbIdf.createCui2PmidFile:166-224,
    computeIdf:308-357).

    ORDERING CONTRACT (intentional, r12→r13): this declared query returns
    an UNORDERED relation — the presentation sort (idf desc, cui) that
    r11 produced was dropped deliberately (``sort=False``) because it is
    a global range exchange + full sort that fixes display order only.
    The SQL oracle above has no ORDER BY and the harness compares sorted
    rows, so the relation contract is unchanged. Consumers that need the
    reference's descending TSV (the CLI export surface) keep
    ``semmed.semmed_idf(..., sort=True)``, the default."""
    from ..operators import semmed

    li = _t(spark, sf_dir, "lineitem")
    ords = _t(spark, sf_dir, "orders")
    # no pre-dedup of ents and no pair distinct (r12, guide §2.4): the
    # chain ends in a countDistinct(pmid) per cui, which is multiplicity-
    # insensitive, so both exchanges were pure overhead — value-identical
    # (oracle hash unchanged)
    ents = li.select(
        F.col("l_orderkey").cast("string").alias("sentence_id"),
        F.concat(F.lit("C"), F.col("l_suppkey").cast("string")).alias("cui"),
    )
    sents = ords.select(
        F.col("o_orderkey").cast("string").alias("sentence_id"),
        F.concat(F.lit("p"), F.col("o_custkey").cast("string")).alias("pmid"),
    )
    counts = semmed.ancestor_pmid_counts(
        semmed.cui_to_pmid(ents, sents, distinct=False)
    )
    # sort=False: the global presentation sort is dropped — the oracle
    # comparison is order-insensitive (r12, guide §2.4)
    return semmed.semmed_idf(counts, sort=False)


_SEMMED_PRED_SQL = """
    pred AS (
      SELECT doc_id, text,
             'pr' || cast(doc_id AS varchar) AS predication_id,
             'C' || cast(doc_id % 10 AS varchar) AS subject_cui,
             'D' || cast(doc_id % 7 AS varchar) AS object_cui,
             'st' || cast(doc_id % 3 AS varchar) AS subject_semtype,
             'ot' || cast(doc_id % 2 AS varchar) AS object_semtype
      FROM documents WHERE n_chars >= 40
    )
"""


@register(
    "semmed_token_stats",
    f"""
    WITH {_SEMMED_PRED_SQL},
    pc AS (
      SELECT subject_cui, object_cui, count(*) AS pmid_count
      FROM pred GROUP BY 1, 2
    ),
    st AS (
      SELECT p.predication_id,
             cast({_JAVA_SPLIT_SQL.format(s="substr(p.text, 5, 6)")} AS int)
               AS intervening_token_count,
             cast({_JAVA_SPLIT_SQL.format(s="p.text")} AS int)
               AS sentence_token_count,
             cast(pc.pmid_count AS bigint) AS pmid_count,
             p.subject_semtype || '_' || p.object_semtype AS sem_types
      FROM pred p JOIN pc USING (subject_cui, object_cui)
    )
    SELECT *,
           CASE WHEN pmid_count = 1 THEN 'PMID_1'
                WHEN pmid_count > 1 AND pmid_count < 5 THEN 'PMID_2_4'
                WHEN pmid_count >= 5 AND pmid_count < 10 THEN 'PMID_5_9'
                WHEN pmid_count >= 10 AND pmid_count < 20 THEN 'PMID_10_19'
                ELSE 'PMID_20' END AS pmid_count_bucket,
           CASE WHEN intervening_token_count = 0 THEN 'TOKEN_0'
                WHEN intervening_token_count = 1 THEN 'TOKEN_1'
                WHEN intervening_token_count >= 2 AND intervening_token_count < 5 THEN 'TOKEN_2_4'
                WHEN intervening_token_count >= 5 AND intervening_token_count < 10 THEN 'TOKEN_5_9'
                WHEN intervening_token_count >= 10 AND intervening_token_count < 15 THEN 'TOKEN_10_14'
                ELSE 'TOKEN_15' END AS intervening_token_count_bucket
    FROM st
    """,
)
def semmed_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemmedDbFileParser.getSubjectObjectDistanceDistribution:229-343 on
    fabricated predications (subject = chars 0..4 at document offset 100,
    object = chars 10..15, so the sentence-relative rebase and the
    between-entity segment arithmetic are both exercised; per-edge PMID
    counts come from the pair frequencies themselves). Java
    ``split(" ")`` token semantics are reproduced exactly on both
    engines."""
    from ..operators import semmed

    src = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 40)
        .select("doc_id", "text")
    )
    pred = src.select(
        F.concat(F.lit("pr"), F.col("doc_id").cast("string")).alias("predication_id"),
        F.col("text").alias("sentence"),
        F.lit(100).alias("sent_start_index"),
        F.substring("text", 1, 4).alias("subject_text"),
        F.concat(F.lit("C"), (F.col("doc_id") % 10).cast("string")).alias("subject_cui"),
        F.concat(F.lit("st"), (F.col("doc_id") % 3).cast("string")).alias("subject_semtype"),
        F.lit(100).alias("subject_start_index"),
        F.lit(104).alias("subject_end_index"),
        F.substring("text", 11, 5).alias("object_text"),
        F.concat(F.lit("D"), (F.col("doc_id") % 7).cast("string")).alias("object_cui"),
        F.concat(F.lit("ot"), (F.col("doc_id") % 2).cast("string")).alias("object_semtype"),
        F.lit(110).alias("object_start_index"),
        F.lit(115).alias("object_end_index"),
    )
    pair_counts = pred.groupBy("subject_cui", "object_cui").agg(
        F.count("*").cast("long").alias("pmid_count")
    )
    stats, _errors = semmed.intervening_token_stats(pred, pair_counts)
    return stats


#: fabricated relay-evaluation results + metadata (orders supplies review
#: sessions; custkey is the predication key), mirrored in the SQL oracles
_SEMMED_RESULTS_SQL = """
    res AS (
      SELECT 'f' || cast(o_orderkey % 97 AS varchar) AS feedback_id,
             'pr' || cast(o_custkey AS varchar) AS predication_id,
             'a' || cast(o_orderkey AS varchar) AS answer_id,
             CASE WHEN o_orderkey % 7 = 0 THEN 'Assertion Incorrect'
                  WHEN o_orderkey % 7 IN (1, 2, 3) THEN 'Assertion Correct'
                  ELSE 'Reason ' || cast(o_orderkey % 7 AS varchar) END AS answer,
             'TRUE' AS response
      FROM orders
    ),
    resolved AS (
      SELECT predication_id,
             CASE WHEN max(CASE WHEN answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) = 1
                  THEN 'Assertion Incorrect' ELSE 'Assertion Correct' END AS answer
      FROM res
      WHERE answer IN ('Assertion Correct', 'Assertion Incorrect')
      GROUP BY 1
    ),
    meta AS (
      SELECT DISTINCT 'pr' || cast(o_custkey AS varchar) AS predication_id,
             CASE o_custkey % 3 WHEN 0 THEN 'phsu_sosy'
                                WHEN 1 THEN 'topp_dsyn'
                                ELSE 'chem_dsyn' END AS sem_types,
             cast(o_custkey % 20 AS int) AS intervening_token_count
      FROM orders
    )
"""


def _semmed_eval_frames(spark: SparkSession, sf_dir: str):
    ords = _t(spark, sf_dir, "orders")
    res = ords.select(
        F.concat(F.lit("f"), (F.col("o_orderkey") % 97).cast("string")).alias(
            "feedback_id"
        ),
        F.concat(F.lit("pr"), F.col("o_custkey").cast("string")).alias(
            "predication_id"
        ),
        F.concat(F.lit("a"), F.col("o_orderkey").cast("string")).alias("answer_id"),
        F.when(F.col("o_orderkey") % 7 == 0, "Assertion Incorrect")
        .when((F.col("o_orderkey") % 7).isin(1, 2, 3), "Assertion Correct")
        .otherwise(F.concat(F.lit("Reason "), (F.col("o_orderkey") % 7).cast("string")))
        .alias("answer"),
        F.lit("TRUE").alias("response"),
    )
    meta = ords.select(
        F.concat(F.lit("pr"), F.col("o_custkey").cast("string")).alias(
            "predication_id"
        ),
        F.when(F.col("o_custkey") % 3 == 0, "phsu_sosy")
        .when(F.col("o_custkey") % 3 == 1, "topp_dsyn")
        .otherwise("chem_dsyn")
        .alias("sem_types"),
        (F.col("o_custkey") % 20).cast("int").alias("intervening_token_count"),
    ).distinct()
    return res, meta


_CHEM_SQL = "('aapp','antb','bacs','bodm','chem','chvf','chvs','clnd','elii','enzy','hops','horm','imft','irda','inch','nnon','orch','phsu','rcpt','vita')"
_TREAT_SQL = "('diap','edac','hlca','lbpr','mbrt','resa','topp','drdd','medd','resd')"


@register(
    "semmed_eval_accuracy",
    f"""
    WITH {_SEMMED_RESULTS_SQL},
    grouped AS (
      SELECT r.answer,
             CASE WHEN split_part(m.sem_types, '_', 1) IN {_CHEM_SQL} THEN 'CHEMICAL'
                  WHEN split_part(m.sem_types, '_', 1) IN {_TREAT_SQL} THEN 'TREATMENT'
             END AS subject_group
      FROM resolved r JOIN meta m USING (predication_id)
    )
    SELECT subject_group,
           cast(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS bigint) AS n_correct,
           cast(sum(CASE WHEN answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) AS bigint) AS n_incorrect,
           cast(count(*) AS bigint) AS n_total,
           round(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END)
                 / cast(count(*) AS double), 8) AS accuracy
    FROM grouped GROUP BY 1
    """,
)
def semmed_eval_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemmedDbFebRelayResultsCompiler accuracy-by-subject-type
    (:342-448) on fabricated review sessions: any-incorrect-wins
    resolution per predication, chemical vs treatment grouping by the
    UMLS semantic-type lists, per-group accuracy."""
    from ..operators import semmed

    res, meta = _semmed_eval_frames(spark, sf_dir)
    resolved = semmed.resolved_answers(res)
    return semmed.accuracy_by_subject_type(resolved, meta)


@register(
    "semmed_eval_complexity",
    f"""
    WITH {_SEMMED_RESULTS_SQL},
    grouped AS (
      SELECT r.answer,
             CASE WHEN m.intervening_token_count <= 10 THEN 'LOW' ELSE 'HIGH' END AS complexity
      FROM resolved r JOIN meta m USING (predication_id)
    )
    SELECT complexity,
           cast(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS bigint) AS n_correct,
           cast(sum(CASE WHEN answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) AS bigint) AS n_incorrect,
           cast(count(*) AS bigint) AS n_total,
           round(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END)
                 / cast(count(*) AS double), 8) AS accuracy
    FROM grouped GROUP BY 1
    """,
)
def semmed_eval_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy by sentence complexity (:449-556): LOW when the recorded
    intervening token count is ≤ 10, HIGH otherwise — same fabricated
    sessions and resolution as ``semmed_eval_accuracy``."""
    from ..operators import semmed

    res, meta = _semmed_eval_frames(spark, sf_dir)
    resolved = semmed.resolved_answers(res)
    return semmed.accuracy_by_complexity(resolved, meta)


# ---------------------------------------------------------------------------
# PR → UniProt map (trapi/PrToUniProtMapFileCreator.java)
# ---------------------------------------------------------------------------

_PR_FIXTURE = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "sample_pr.obo")


@register(
    "pr_uniprot_map",
    f"""
    WITH raw AS (
      SELECT trim(unnest(string_split(content, chr(10) || chr(10)))) AS stanza
      FROM read_text('{{pr_fixture}}')
    ),
    t AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS term_id,
             regexp_extract_all(stanza, '(?m)^is_a: (\\S+)', 1) AS parents,
             list_min(list_filter(
               regexp_extract_all(stanza, '(?m)^xref: (\\S+)', 1),
               x -> x LIKE 'UniProtKB:%')) AS uniprot_id,
             nullif(regexp_extract(stanza,
               '(?m)^relationship: (?:only_in_taxon|RO:0002160) (\\S+)', 1), '')
               AS taxon_id,
             regexp_matches(stanza, '(?m)^comment: .*Category=gene\\.') AS is_gene
      FROM raw WHERE stanza LIKE '[Term]%'
    ),
    edges AS (SELECT unnest(parents) AS parent, term_id AS child FROM t),
    q AS (
      SELECT term_id, uniprot_id, taxon_id FROM t
      WHERE taxon_id = 'NCBITaxon:9606' AND uniprot_id IS NOT NULL
    ),
    direct AS (
      SELECT term_id AS pr_id, uniprot_id, taxon_id FROM t
      WHERE NOT is_gene AND uniprot_id IS NOT NULL
    ),
    l1 AS (
      SELECT g.term_id AS pr_id, q.uniprot_id, q.taxon_id,
             1 AS lvl, e.child AS path
      FROM t g JOIN edges e ON e.parent = g.term_id
               JOIN q ON q.term_id = e.child
      WHERE g.is_gene
    ),
    l2 AS (
      SELECT g.term_id AS pr_id, q.uniprot_id, q.taxon_id,
             2 AS lvl, e1.child || '|' || e2.child AS path
      FROM t g JOIN edges e1 ON e1.parent = g.term_id
               JOIN edges e2 ON e2.parent = e1.child
               JOIN q ON q.term_id = e2.child
      WHERE g.is_gene
    ),
    via AS (
      SELECT pr_id, uniprot_id, taxon_id FROM (
        SELECT *, row_number() OVER (PARTITION BY pr_id ORDER BY lvl, path) AS rn
        FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2)
      ) WHERE rn = 1
    )
    SELECT pr_id, uniprot_id, taxon_id FROM direct
    UNION ALL
    SELECT pr_id, uniprot_id, taxon_id FROM via
    """.replace("{pr_fixture}", _PR_FIXTURE),
)
def pr_uniprot_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrToUniProtMapFileCreator.createPrToUniProtMapFile:34-66: the
    (pr_id, uniprot_id, taxon_id) map with the two-level human-descendant
    walk for gene-level classes — the oracle re-derives the walk from the
    same OBO fixture with the identical (level, path) precedence."""
    from ..operators import trapi as trapi_ops

    return trapi_ops.pr_to_uniprot_map(obo.read_obo_terms(spark, _PR_FIXTURE))


@register(
    "semmed_bert_input",
    f"""
    WITH {_SEMMED_PRED_SQL}
    SELECT predication_id,
           '@CHEMICAL$' || substr(text, 5, 6) || '@DISEASE$' || substr(text, 16)
             AS sentence
    FROM pred
    """,
)
def semmed_bert_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemmedDbMetadataRetriever.getSentenceWithPlaceholders:383-437 on the
    same fabricated predications as ``semmed_token_stats``: subject and
    object spans replaced by @CHEMICAL$/@DISEASE$ with the
    later-entity-first substitution, expressed as one five-piece concat."""
    from ..operators import semmed

    src = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 40)
        .select("doc_id", "text")
    )
    pred = src.select(
        F.concat(F.lit("pr"), F.col("doc_id").cast("string")).alias("predication_id"),
        F.col("text").alias("sentence"),
        F.lit(100).alias("sent_start_index"),
        F.substring("text", 1, 4).alias("subject_text"),
        F.lit(100).alias("subject_start_index"),
        F.lit(104).alias("subject_end_index"),
        F.substring("text", 11, 5).alias("object_text"),
        F.lit(110).alias("object_start_index"),
        F.lit(115).alias("object_end_index"),
    )
    out, _errors = semmed.bert_input_sentences(pred)
    return out


# ---------------------------------------------------------------------------
# Drugbank + SNOMED-procedure OGER dictionaries
# (oger/dict/DrugbankOgerDictFileFactory.java,
#  oger/dict/ProcedureOgerDictFileFactory.java)
# ---------------------------------------------------------------------------

from ..operators import ogerdict as _ogd

_DRUGBANK_EXCL_IN = ", ".join(
    f"'{c}'" for c in _ogd.DRUGBANK_EXCLUDED_CLASSES
)

_DRUGBANK_REJECT_SQL = (
    r"(?:\b[Ee]xtracts?\b)|(?:\b[Vv]enom\b)|(?:\b[Dd]ander\b)"
    r"|(?:\b[Aa]llergenic\b)|(?:\b[Ss]tomach\b)|(?:\b[Ll]iver\b)"
)


@register(
    "drugbank_dictionary",
    f"""
    WITH drugs AS (
      SELECT 'DB' || lpad(cast(p_partkey AS varchar), 5, '0') AS drugbank_id,
             p_name AS name,
             CASE WHEN p_partkey % 17 = 0 THEN 'allergenic extract for testing'
                  WHEN p_partkey % 23 = 0 THEN 'animal extract preparation'
                  ELSE p_brand END AS description,
             [p_brand, upper(string_split(p_name, ' ')[1]),
              CASE WHEN p_partkey % 19 = 0 THEN 'dried venom powder' ELSE p_type END,
              'the', 'Xy'] AS synonyms
      FROM part
    ),
    kept AS (
      SELECT 'DRUGBANK:' || drugbank_id AS concept_id, name,
             list_distinct(list_concat([name], synonyms)) AS raw
      FROM drugs
      WHERE NOT (contains(description, 'allergenic')
                 OR contains(description, 'animal extract'))
        AND 'DRUGBANK:' || drugbank_id NOT IN ({_DRUGBANK_EXCL_IN})
    ),
    norej AS (
      SELECT * FROM kept
      WHERE len(list_filter(raw, s -> regexp_matches(s, '{_DRUGBANK_REJECT_SQL}'))) = 0
    ),
    expl AS (
      SELECT concept_id, name AS primary_label,
             unnest(list_filter(
               list_filter(raw, s -> NOT list_contains([{_STOPWORD_IN}], lower(s))),
               s -> length(s) >= 3)) AS term
      FROM norej
    ),
    flagged AS (
      SELECT concept_id, primary_label, term, {_SQL_IS_CS} AS case_sensitive
      FROM expl
    ),
    withalts AS (
      SELECT * FROM flagged
      UNION ALL
      SELECT concept_id, primary_label,
             substr(term, 1, 1) || lower(substr(term, 2)) AS term, true AS case_sensitive
      FROM flagged WHERE case_sensitive AND regexp_matches(term, '^[A-Z]+[0-9]+$')
    )
    SELECT DISTINCT 'DrugBank' AS ont_key, concept_id, trim(term) AS term,
           trim(primary_label) AS primary_label, 'drug' AS main_type, case_sensitive
    FROM withalts
    """,
)
def drugbank_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DrugbankOgerDictFileFactory.java:25-135 on Drugbank-shaped records
    fabricated from ``part``: description-based allergy rejection
    (allergenic / animal extract), record-level synonym regex rejection
    (a 'venom' synonym drops the whole record), stopword + min-length-3
    pruning, excluded individual classes, case split with all-caps
    alternates — value-checked against a DuckDB twin of the full chain."""
    p = _t(spark, sf_dir, "part")
    drugs = p.select(
        F.concat(
            F.lit("DB"), F.lpad(F.col("p_partkey").cast("string"), 5, "0")
        ).alias("drugbank_id"),
        F.col("p_name").alias("name"),
        F.when(F.col("p_partkey") % 17 == 0, "allergenic extract for testing")
        .when(F.col("p_partkey") % 23 == 0, "animal extract preparation")
        .otherwise(F.col("p_brand"))
        .alias("description"),
        F.array(
            F.col("p_brand"),
            F.upper(F.split("p_name", " ").getItem(0)),
            F.when(F.col("p_partkey") % 19 == 0, F.lit("dried venom powder"))
            .otherwise(F.col("p_type")),
            F.lit("the"),
            F.lit("Xy"),
        ).alias("synonyms"),
    )
    return _ogd.drugbank_dictionary(drugs)


_PROCEDURE_EXCL_IN = ", ".join(
    f"'{c}'" for c in _ogd.PROCEDURE_EXCLUDED_CLASSES
)


@register(
    "procedure_dictionary",
    f"""
    WITH s AS (SELECT s_suppkey, s_name FROM supplier),
    proc_ids AS (
      SELECT DISTINCT cast(s_suppkey AS varchar) AS id FROM s WHERE s_suppkey % 3 = 0
    ),
    descs AS (
      SELECT cast(s_suppkey AS varchar) AS concept_id,
             unnest([s_name, lower(s_name),
                     'PROC' || cast(s_suppkey % 50 AS varchar), 'on', 'xy']) AS term
      FROM s
    ),
    kept AS (
      SELECT d.concept_id, d.term FROM descs d JOIN proc_ids p ON d.concept_id = p.id
    ),
    labels AS (
      SELECT concept_id, min(term) AS primary_label FROM kept GROUP BY 1
    ),
    pruned AS (
      SELECT * FROM kept
      WHERE concept_id NOT IN ({_PROCEDURE_EXCL_IN})
        AND NOT list_contains([{_STOPWORD_IN}], lower(term))
        AND length(term) >= 3
    ),
    flagged AS (
      SELECT p.concept_id, l.primary_label, p.term, {_SQL_IS_CS} AS case_sensitive
      FROM pruned p JOIN labels l USING (concept_id)
    ),
    withalts AS (
      SELECT * FROM flagged
      UNION ALL
      SELECT concept_id, primary_label,
             substr(term, 1, 1) || lower(substr(term, 2)) AS term, true AS case_sensitive
      FROM flagged WHERE case_sensitive AND regexp_matches(term, '^[A-Z]+[0-9]+$')
    )
    SELECT DISTINCT 'SNOMEDCT' AS ont_key, 'SNOMEDCT:' || concept_id AS concept_id,
           trim(term) AS term, trim(primary_label) AS primary_label,
           'procedure' AS main_type, case_sensitive
    FROM withalts
    """,
)
def procedure_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProcedureOgerDictFileFactory.java:28-287 on SNOMED-shaped frames
    fabricated from ``supplier``: every third supplier is a descendant of
    the procedure root in the transitive-subclass relation, descriptions
    supply the synonym rows (name, lowercased name, an all-caps+digits
    token that takes the Brca1-style alternate, a stopword and a
    too-short term), primary label is the deterministic min over the raw
    synonym set, then the shared augment/case-split chain. Value-checked
    against a DuckDB twin."""
    s = _t(spark, sf_dir, "supplier")
    rels = s.select(
        F.when(
            F.col("s_suppkey") % 3 == 0, F.lit(_ogd.PROCEDURE_SNOMED_ID)
        )
        .otherwise(F.lit("138875005"))
        .alias("supertype_id"),
        F.col("s_suppkey").cast("string").alias("subtype_id"),
    )
    descs = s.select(
        F.col("s_suppkey").cast("string").alias("concept_id"),
        F.explode(
            F.array(
                F.col("s_name"),
                F.lower(F.col("s_name")),
                F.concat(F.lit("PROC"), (F.col("s_suppkey") % 50).cast("string")),
                F.lit("on"),
                F.lit("xy"),
            )
        ).alias("term"),
    )
    return _ogd.procedure_dictionary(descs, rels)


# ---------------------------------------------------------------------------
# Cross-document paragraph dedup (LLM-data-pipeline extension)
# ---------------------------------------------------------------------------


@register(
    "paragraph_dedup",
    """
    WITH base AS (
      SELECT cast(doc_id AS varchar) AS doc_id,
             [substr(text, 1, 80), 'SHARED BOILERPLATE FOOTER PARAGRAPH',
              'AD', substr(text, 81, 80)] AS parts
      FROM documents WHERE n_chars >= 200
    ),
    paras0 AS (
      SELECT doc_id, unnest(range(4)) AS pos, trim(unnest(parts)) AS para
      FROM base
    ),
    paras AS (SELECT * FROM paras0 WHERE length(para) > 0),
    winners AS (
      SELECT md5(para) AS h, doc_id, pos FROM (
        SELECT para, doc_id, pos,
               row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
        FROM paras WHERE length(para) >= 10
      ) WHERE rn = 1
    ),
    kept AS (
      SELECT p.doc_id, p.pos, p.para
      FROM paras p LEFT JOIN winners w ON md5(p.para) = w.h
      WHERE length(p.para) < 10 OR (w.doc_id = p.doc_id AND w.pos = p.pos)
    ),
    reassembled AS (
      SELECT doc_id,
             string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
             cast(count(*) AS bigint) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id, coalesce(r.text, '') AS text,
           cast(a.n_paragraphs AS bigint) AS n_paragraphs,
           coalesce(r.n_kept, 0) AS n_kept
    FROM (SELECT doc_id, count(*) AS n_paragraphs FROM paras GROUP BY 1) a
    LEFT JOIN reassembled r USING (doc_id)
    """,
)
def paragraph_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact paragraph dedup (C4/MassiveText recipe) on a
    paragraph-shaped corpus fabricated from ``documents``: two 80-char
    body slices per doc plus a shared boilerplate footer paragraph (the
    cross-document duplicate every doc loses except the first) and a
    short 'AD' fragment under the min_chars floor (never deduped).
    First-occurrence = min(doc_id, pos), reassembly in original order —
    value-checked against a DuckDB twin."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 200)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat_ws(
                "\n\n",
                F.substring("text", 1, 80),
                F.lit("SHARED BOILERPLATE FOOTER PARAGRAPH"),
                F.lit("AD"),
                F.substring("text", 81, 80),
            ).alias("text"),
        )
    )
    return dedup.paragraph_dedup(docs, min_chars=10)


@register(
    "pq_adc_topk",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT unnest(range(8)) AS s),
    asgn AS (
      SELECT e.vec_id, subs.s, seeds.j,
             round(list_sum(list_transform(range(1, 9),
               i -> (cast(e.embedding[subs.s*8+i] AS double)
                   - cast(seeds.embedding[subs.s*8+i] AS double)) ** 2)), 6) AS d
      FROM e, subs, seeds
    ),
    best AS (
      SELECT vec_id, s, j FROM (
        SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
        FROM asgn) WHERE rn = 1
    ),
    q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0),
    qtab AS (
      SELECT subs.s, seeds.j,
             round(list_sum(list_transform(range(1, 9),
               i -> (cast(q.qe[subs.s*8+i] AS double)
                   - cast(seeds.embedding[subs.s*8+i] AS double)) ** 2)), 6) AS qd
      FROM q, subs, seeds
    ),
    dist AS (
      SELECT b.vec_id, round(sum(t.qd), 6) AS approx_dist
      FROM best b JOIN qtab t ON b.s = t.s AND b.j = t.j
      GROUP BY 1
    )
    SELECT vec_id, approx_dist FROM dist ORDER BY approx_dist, vec_id LIMIT 10
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 8×8 seed codebooks (first 16 vectors'
    subvectors — deterministic, SQL-expressible), every vector encoded to
    8 small codes by rounded-L2 argmin, then asymmetric-distance top-10
    against the vec_id=0 query via the driver-computed lookup table. The
    whole compress→search pipeline value-matches a DuckDB twin; the
    Lloyd-trained codebooks and the exact-rerank stage are covered by
    tests/test_similarity.py (recall asserted against brute force)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        r[0]
        for r in emb.where(F.col("vec_id") == 0)
        .select(F.explode("embedding"))
        .collect()
    ]
    books = similarity.pq_seed_codebooks(emb, m=8, n_codes=16)
    codes = similarity.pq_encode(emb, books)
    return similarity.pq_adc_search(codes, books, qvec, k=10)


# ---------------------------------------------------------------------------
# Embedding-based label quality tooling (oger/util/LabelFilterByEmbedding)
# ---------------------------------------------------------------------------

from ..operators import labelembed as _le


@register(
    "overlapping_labels",
    """
    WITH labels AS (
      SELECT 'PUBCHEM.COMPOUND:' || cast(p_partkey AS varchar) AS concept_id,
             p_type AS label
      FROM part
    ),
    grouped AS (
      SELECT label, cast(count(DISTINCT concept_id) AS bigint) AS n_ids,
             array_to_string((list_sort(list(DISTINCT concept_id)))[1:20], ';')
               AS sample_ids
      FROM labels GROUP BY 1
    )
    SELECT label, n_ids, sample_ids FROM grouped
    WHERE n_ids >= 2 ORDER BY n_ids DESC, label LIMIT 102
    """,
)
def overlapping_labels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """findOverlappingLabels (LabelFilterByEmbedding.java:89-138) on
    part-type labels: labels shared by ≥2 identifiers, ordered by id
    count, ≤20 sorted example ids each, the reference's 102-row print
    cutoff."""
    p = _t(spark, sf_dir, "part")
    labels = p.select(
        F.concat(F.lit("PUBCHEM.COMPOUND:"), F.col("p_partkey").cast("string")).alias(
            "concept_id"
        ),
        F.col("p_type").alias("label"),
    )
    out = _le.overlapping_labels(labels)
    # ';'-joined sample (the reference prints the list inline anyway);
    # array-typed columns break the sweep's pandas multi-key sort
    return out.select(
        "label", "n_ids", F.array_join("sample_ids", ";").alias("sample_ids")
    )


@register(
    "embedding_domain_average",
    """
    WITH domain AS (
      SELECT 'w' || cast(vec_id AS varchar) AS word, embedding
      FROM embeddings WHERE vec_id < 100
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY word) AS r,
             count(*) OVER () AS n, embedding
      FROM domain
    ),
    weighted AS (
      SELECT CASE WHEN r = 1 THEN power(0.5, n - 1)
                  ELSE power(0.5, n - r + 1) END AS wt,
             unnest(range(1, 65)) AS i, embedding
      FROM ranked
    )
    SELECT cast(i - 1 AS int) AS d,
           round(sum(cast(embedding[i] AS double) * wt), 6) AS value
    FROM weighted GROUP BY 1 ORDER BY 1
    """,
)
def embedding_domain_average_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """createAverageEmbedding (LabelFilterByEmbedding.java:35-80): the
    reference's avg=(avg+e)/2 fold over a domain's term embeddings,
    reproduced as a rank-weighted sum (weight 2^-(n-r+1), first word
    2^-(n-1)) in ascending word order — the HashSet iteration the
    reference folds over is nondeterministic, the engine's order is
    fixed and the DuckDB twin recomputes the identical weights."""
    emb = _t(spark, sf_dir, "embeddings")
    domain = emb.where(F.col("vec_id") < 100).select(
        F.concat(F.lit("w"), F.col("vec_id").cast("string")).alias("word"),
        "embedding",
    )
    out = _le.domain_average_embedding(domain)
    return out.select(F.col("d").cast("int").alias("d"), "value")


@register(
    "label_embedding_flags",
    """
    WITH domain AS (
      SELECT 'w' || cast(vec_id AS varchar) AS word, embedding
      FROM embeddings WHERE vec_id < 100
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY word) AS r,
             count(*) OVER () AS n, embedding
      FROM domain
    ),
    weighted AS (
      SELECT CASE WHEN r = 1 THEN power(0.5, n - 1)
                  ELSE power(0.5, n - r + 1) END AS wt,
             unnest(range(1, 65)) AS i, embedding
      FROM ranked
    ),
    avg_emb AS (
      SELECT i, sum(cast(embedding[i] AS double) * wt) AS av
      FROM weighted GROUP BY 1
    ),
    labels AS (
      SELECT 'PUBCHEM.COMPOUND:' || cast(p_partkey AS varchar) AS concept_id,
             'w' || cast(p_partkey % 500 AS varchar) AS label
      FROM part
    ),
    vecs AS (SELECT 'w' || cast(vec_id AS varchar) AS label, embedding FROM embeddings),
    scored AS (
      SELECT l.concept_id, l.label,
             sum(cast(v.embedding[a.i] AS double) * a.av) AS d,
             sum(cast(v.embedding[a.i] AS double) * cast(v.embedding[a.i] AS double)) AS nv,
             sum(a.av * a.av) AS na
      FROM labels l JOIN vecs v USING (label), avg_emb a
      GROUP BY 1, 2
    )
    SELECT concept_id, label, round(d / (sqrt(nv) * sqrt(na)), 6) AS cosine
    FROM scored WHERE round(d / (sqrt(nv) * sqrt(na)), 6) < 0.0
    """,
)
def label_embedding_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "possible bad label" filter (LabelFilterByEmbedding.java
    :283-296): single-token labels whose embedding's cosine against the
    domain-average embedding falls below the threshold. Labels come from
    part keyed into the embedding vocabulary; the average is the
    reference fold over the vec_id<100 domain (bounded 64-row collect);
    threshold 0 flags the anti-domain half."""
    emb = _t(spark, sf_dir, "embeddings")
    domain = emb.where(F.col("vec_id") < 100).select(
        F.concat(F.lit("w"), F.col("vec_id").cast("string")).alias("word"),
        "embedding",
    )
    avg = [
        r.value
        for r in _le.domain_average_embedding(domain, scale=12).orderBy("d").collect()
    ]
    p = _t(spark, sf_dir, "part")
    labels = p.select(
        F.concat(F.lit("PUBCHEM.COMPOUND:"), F.col("p_partkey").cast("string")).alias(
            "concept_id"
        ),
        F.concat(F.lit("w"), (F.col("p_partkey") % 500).cast("string")).alias("label"),
    )
    vecs = emb.select(
        F.concat(F.lit("w"), F.col("vec_id").cast("string")).alias("word"), "embedding"
    )
    return _le.label_embedding_flags(labels, vecs, avg, threshold=0.0)


# ---------------------------------------------------------------------------
# Ontology side-table factories (etl/util/*MapFactory.java)
# ---------------------------------------------------------------------------

from ..operators import ontmaps as _om

_TAXON_FIXTURE = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "sample_taxon.obo")
_MONDO_FIXTURE = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "sample_mondo.obo")
_HP_FIXTURE = _os.path.join(_os.path.dirname(_OBO_FIXTURE), "sample_hp.obo")

_OBO_STANZA_SQL = """
      SELECT trim(unnest(string_split(content, chr(10) || chr(10)))) AS stanza
      FROM read_text('{path}')
"""


@register(
    "ontology_ancestor_map",
    f"""
    WITH RECURSIVE
    raw AS ({_OBO_STANZA_SQL.format(path=_TAXON_FIXTURE)}),
    t AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS term_id,
             regexp_extract_all(stanza, '(?m)^is_a: (\\S+)', 1) AS parents
      FROM raw WHERE stanza LIKE '[Term]%'
    ),
    edges AS (SELECT term_id AS child, unnest(parents) AS parent FROM t),
    anc AS (
      SELECT child AS concept_id, parent AS ancestor_id FROM edges
      UNION
      SELECT a.concept_id, e.parent AS ancestor_id
      FROM anc a JOIN edges e ON a.ancestor_id = e.child
    )
    SELECT DISTINCT concept_id, ancestor_id FROM anc
    """,
)
def ontology_ancestor_map_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class → is_a ancestor relation (NcbiTaxonPromotionMapFactory.java
    :20-38 / OntologyClassAncestorMapFactory / AncestorTableFileFactory)
    on the taxon fixture — value-checked against a recursive-CTE DuckDB
    twin; classes without ancestors are absent on both engines."""
    terms = obo.read_obo_terms(spark, _TAXON_FIXTURE)
    return _om.ontology_ancestor_map(terms)


@register(
    "pr_promotion_map",
    f"""
    WITH RECURSIVE
    raw AS ({_OBO_STANZA_SQL.format(path=_PR_FIXTURE)}),
    t AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS term_id,
             regexp_extract_all(stanza, '(?m)^is_a: (\\S+)', 1) AS parents,
             regexp_matches(stanza, '(?m)^comment: .*Category=gene\\.') AS is_gene
      FROM raw WHERE stanza LIKE '[Term]%'
    ),
    edges AS (SELECT term_id AS child, unnest(parents) AS parent FROM t),
    anc AS (
      SELECT child AS id, parent AS anc FROM edges
      UNION
      SELECT a.id, e.parent FROM anc a JOIN edges e ON a.anc = e.child
    ),
    gene AS (SELECT term_id AS gid FROM t WHERE is_gene),
    gla AS (
      SELECT a.id, a.anc AS g FROM anc a
      JOIN gene ON a.anc = gene.gid
      WHERE a.id NOT IN (SELECT gid FROM gene)
    ),
    gdepth AS (
      SELECT a.id AS g, count(*) AS depth FROM anc a
      JOIN gene g1 ON a.id = g1.gid JOIN gene g2 ON a.anc = g2.gid
      GROUP BY 1
    ),
    ranked AS (
      SELECT gla.id, gla.g,
             row_number() OVER (
               PARTITION BY gla.id
               ORDER BY coalesce(gdepth.depth, 0) DESC, gla.g
             ) AS rn
      FROM gla LEFT JOIN gdepth ON gla.g = gdepth.g
    )
    SELECT id AS concept_id, g AS promoted_id FROM ranked WHERE rn = 1
    """,
)
def pr_promotion_map_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-gene PR class → deepest gene-level ancestor
    (PrPromotionMapFactory.java:15-55; Category=gene. comments mark gene
    level, incomparable ties break to min id — documented deviation from
    the reference's HashSet-order pick) on the PR fixture."""
    terms = obo.read_obo_terms(spark, _PR_FIXTURE)
    return _om.pr_promotion_map(terms)


@register(
    "hp_to_mondo_map",
    f"""
    WITH
    mraw AS ({_OBO_STANZA_SQL.format(path=_MONDO_FIXTURE)}),
    mondo AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS mondo_id,
             regexp_extract(stanza, '(?m)^name: (.*?)\\s*$', 1) AS mondo_label,
             regexp_extract_all(stanza, '(?m)^xref: (\\S+)', 1) AS xrefs,
             regexp_extract_all(stanza, '(?m)^property_value: (\\S*exactMatch) (\\S+)', 2) AS ems
      FROM mraw WHERE stanza LIKE '[Term]%' AND contains(stanza, 'MONDO')
    ),
    hraw AS ({_OBO_STANZA_SQL.format(path=_HP_FIXTURE)}),
    hp AS (
      SELECT regexp_extract(stanza, '(?m)^id: (\\S+)', 1) AS hp_id,
             regexp_extract(stanza, '(?m)^name: (.*?)\\s*$', 1) AS hp_label,
             regexp_extract_all(stanza, '(?m)^xref: (\\S+)', 1) AS xrefs
      FROM hraw WHERE stanza LIKE '[Term]%' AND contains(stanza, 'HP')
    ),
    direct AS (
      SELECT hp_id, mondo_id, true AS is_direct FROM (
        SELECT unnest(xrefs) AS hp_id, mondo_id FROM mondo
      ) WHERE contains(hp_id, 'HP:')
    ),
    mbridge AS (
      SELECT CASE
               WHEN contains(em, 'http://identifiers.org/mesh/')
                 THEN 'MSH:' || replace(em, 'http://identifiers.org/mesh/', '')
               WHEN contains(em, 'http://linkedlifedata.com/resource/umls/id/')
                 THEN 'UMLS:' || replace(em, 'http://linkedlifedata.com/resource/umls/id/', '')
               WHEN contains(em, 'http://identifiers.org/snomedct/')
                 THEN 'SNOMEDCT_US:' || replace(em, 'http://identifiers.org/snomedct/', '')
             END AS key, mondo_id
      FROM (SELECT mondo_id, unnest(ems) AS em FROM mondo)
    ),
    mbridge2 AS (SELECT key, mondo_id FROM mbridge WHERE key IS NOT NULL),
    hbridge AS (
      SELECT DISTINCT unnest(xrefs) AS key, hp_id FROM hp
    ),
    bridged AS (
      SELECT h.hp_id, m.mondo_id, false AS is_direct
      FROM (SELECT DISTINCT key, mondo_id FROM mbridge2) m
      JOIN hbridge h USING (key)
    ),
    pairs AS (SELECT * FROM direct UNION ALL SELECT * FROM bridged),
    labeled AS (
      SELECT p.hp_id, p.mondo_id, p.is_direct, m.mondo_label, h.hp_label
      FROM pairs p
      LEFT JOIN mondo m USING (mondo_id)
      LEFT JOIN hp h USING (hp_id)
    ),
    per_hp AS (
      SELECT hp_id,
             list_sort(list(DISTINCT {{'mondo_id': mondo_id, 'mondo_label': mondo_label}})) AS ms,
             max(is_direct) AS any_direct,
             max(lower(coalesce(hp_label, chr(1))) = lower(coalesce(mondo_label, chr(2)))) AS any_exact,
             any_value(hp_label) AS hp_label
      FROM labeled GROUP BY 1
    )
    SELECT CASE WHEN any_direct THEN '**' WHEN any_exact THEN '####' ELSE '' END AS indicator,
           hp_id,
           array_to_string(list_transform(ms, m -> m.mondo_id), '|') AS mondo_ids,
           hp_label,
           array_to_string(list_transform(ms, m -> coalesce(m.mondo_label, 'null')), '|') AS mondo_labels
    FROM per_hp
    """,
)
def hp_to_mondo_map_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HP↔MONDO equivalence rows (MondoToHpEquivalenceMapFileFactory.java
    :38-165): direct MONDO-side HP xrefs plus MeSH/UMLS/SNOMED
    skos:exactMatch bridges, ** / #### indicators — value-checked against
    a DuckDB twin over the committed MONDO/HP fixtures."""
    mondo = obo.read_obo_terms(spark, _MONDO_FIXTURE)
    hp = obo.read_obo_terms(spark, _HP_FIXTURE)
    return _om.hp_to_mondo_map(mondo, hp)


@register(
    "id_to_dict_entries",
    """
    WITH d AS (
      SELECT 'C' || cast(p_partkey % 50 AS varchar) AS concept_id,
             p_type AS term
      FROM part
    )
    SELECT concept_id,
           array_to_string(list_sort(list(DISTINCT term)), '|') AS dict_entries
    FROM d GROUP BY 1
    """,
)
def id_to_dict_entries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept → pipe-joined dictionary entries
    (IdToOgerDictEntryMapFileFactory.java:20-52) over part-type terms
    grouped into 50 concepts."""
    p = _t(spark, sf_dir, "part")
    d = p.select(
        F.concat(F.lit("C"), (F.col("p_partkey") % 50).cast("string")).alias(
            "concept_id"
        ),
        F.col("p_type").alias("term"),
    )
    return _om.id_to_dict_entries(d)


_DS_PAIR_LINES_SQL = """
    lines AS (
      SELECT 'http://purl.obolibrary.org/obo/MONDO_' || cast(o_custkey % 200 AS varchar)
             || chr(9) || 'http://purl.obolibrary.org/obo/HP_' || cast(o_orderkey % 30 AS varchar)
             || chr(9) || CASE WHEN o_orderkey % 3 = 0
                               THEN 'http://purl.obolibrary.org/obo/RO_0002200'
                               ELSE 'http://purl.obolibrary.org/obo/RO_0001025' END AS line
      FROM orders
    )
"""


def _ds_pair_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.concat(
            F.lit("http://purl.obolibrary.org/obo/MONDO_"),
            (F.col("o_custkey") % 200).cast("string"),
            F.lit("\thttp://purl.obolibrary.org/obo/HP_"),
            (F.col("o_orderkey") % 30).cast("string"),
            F.lit("\t"),
            F.when(
                F.col("o_orderkey") % 3 == 0,
                "http://purl.obolibrary.org/obo/RO_0002200",
            ).otherwise("http://purl.obolibrary.org/obo/RO_0001025"),
        ).alias("line")
    )


@register(
    "ds_positive_pairs",
    f"""
    WITH {_DS_PAIR_LINES_SQL},
    split AS (
      SELECT string_split(line, chr(9)) AS c FROM lines
    )
    SELECT DISTINCT
           replace(replace(c[1], 'http://purl.obolibrary.org/obo/', ''), '_', ':') AS subject_curie,
           replace(replace(c[2], 'http://purl.obolibrary.org/obo/', ''), '_', ':') AS object_curie,
           'biolink:has_phenotype' AS predicate_biolink
    FROM split
    WHERE c[3] = 'http://purl.obolibrary.org/obo/RO_0002200'
    """,
)
def ds_positive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision positive pairs
    (ConceptPairsFileParser.extractPositivePairs:30-56) on fabricated
    pair-file lines: target-predicate rows, URIs → CURIEs, biolink
    predicate mapping."""
    from ..operators import relext

    return relext.positive_concept_pairs(
        _ds_pair_lines(spark, sf_dir), "http://purl.obolibrary.org/obo/RO_0002200"
    )


@register(
    "ds_negative_pairs",
    f"""
    WITH {_DS_PAIR_LINES_SQL},
    split AS (SELECT string_split(line, chr(9)) AS c FROM lines),
    pos AS (
      SELECT DISTINCT
             replace(replace(c[1], 'http://purl.obolibrary.org/obo/', ''), '_', ':') AS s,
             replace(replace(c[2], 'http://purl.obolibrary.org/obo/', ''), '_', ':') AS o
      FROM split WHERE c[3] = 'http://purl.obolibrary.org/obo/RO_0002200'
    ),
    univ AS (SELECT list_sort(list(DISTINCT o)) AS allo FROM pos),
    per_subj AS (SELECT s, list(DISTINCT o) AS own FROM pos GROUP BY 1),
    negs AS (
      SELECT s, list_sort(list_filter(u.allo, x -> NOT list_contains(own, x))) AS ns
      FROM per_subj, univ u
    ),
    chunked AS (
      SELECT s, unnest(range(cast(ceil(len(ns) / 7.0) AS int))) AS i, ns
      FROM negs WHERE len(ns) > 0
    )
    SELECT s AS subject_curie,
           array_to_string(ns[i*7 + 1 : (i+1)*7], '|') AS object_curies,
           'false' AS predicate_biolink
    FROM chunked
    """,
)
def ds_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision negative pairs
    (extractNegativePairs:58-113 + subdivideNegativeCuries:97-113):
    per positive subject, the global object universe minus its own
    positives, subdivided into ≤7-element chunks in sorted order (the
    reference chunks HashSet order); pipe-joined for the value
    comparison."""
    from ..operators import relext

    out = relext.negative_concept_pairs(
        _ds_pair_lines(spark, sf_dir),
        "http://purl.obolibrary.org/obo/RO_0002200",
        chunk_size=7,
    )
    return out.select(
        "subject_curie",
        F.array_join("object_curies", "|").alias("object_curies"),
        "predicate_biolink",
    )


@register(
    "pii_redaction",
    r"""
    WITH fab AS (
      SELECT c_custkey AS doc_id,
             'Reach ' || c_name
             || CASE WHEN c_custkey % 3 = 0
                     THEN ' at user' || cast(c_custkey AS varchar) || '@example.com'
                     ELSE '' END
             || CASE WHEN c_custkey % 4 = 0
                     THEN ' call ' || cast(c_custkey % 900 + 100 AS varchar)
                          || '-555-' || cast(c_custkey % 9000 + 1000 AS varchar)
                     ELSE '' END
             || CASE WHEN c_custkey % 5 = 0
                     THEN ' from 10.' || cast(c_nationkey AS varchar)
                          || '.0.' || cast(c_custkey % 256 AS varchar)
                     ELSE '' END
             || ' segment ' || c_mktsegment AS text
      FROM customer
    )
    SELECT doc_id,
           cast(len(regexp_extract_all(text, '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})', 1)) AS bigint) AS n_emails,
           cast(len(regexp_extract_all(text, '(\b\d{3}-\d{3}-\d{4}\b)', 1)) AS bigint) AS n_phones,
           cast(len(regexp_extract_all(text, '(\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)', 1)) AS bigint) AS n_ips,
           len(regexp_extract_all(text, '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})', 1))
             + len(regexp_extract_all(text, '(\b\d{3}-\d{3}-\d{4}\b)', 1))
             + len(regexp_extract_all(text, '(\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)', 1)) = 0 AS pii_free,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted_text
    FROM fab
    """,
)
def pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (email / dashed phone / IPv4 counts + placeholder
    redaction) over text fabricated from the customer table so every
    pattern actually fires; rows without injected PII keep pii_free."""
    c = _t(spark, sf_dir, "customer")
    fab = c.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.lit("Reach "),
            F.col("c_name"),
            F.when(
                F.col("c_custkey") % 3 == 0,
                F.concat(
                    F.lit(" at user"),
                    F.col("c_custkey").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("c_custkey") % 4 == 0,
                F.concat(
                    F.lit(" call "),
                    (F.col("c_custkey") % 900 + 100).cast("string"),
                    F.lit("-555-"),
                    (F.col("c_custkey") % 9000 + 1000).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("c_custkey") % 5 == 0,
                F.concat(
                    F.lit(" from 10."),
                    F.col("c_nationkey").cast("string"),
                    F.lit(".0."),
                    (F.col("c_custkey") % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" segment "),
            F.col("c_mktsegment"),
        ).alias("text"),
    )
    return textanalysis.pii_redaction(fab)


@register(
    "benchmark_decontamination",
    r"""
    WITH w AS (
      SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(ws) - 3, 1)),
                                          i -> array_to_string(ws[i:i+4], ' '))) AS gs
      FROM w
    ),
    bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 50 = 0),
    corp AS (SELECT doc_id, gs, cast(len(gs) AS bigint) AS n_ngrams
             FROM g WHERE doc_id % 50 <> 0),
    hits AS (
      SELECT u.doc_id, cast(count(*) AS bigint) AS nc
      FROM (SELECT doc_id, unnest(gs) AS gram FROM corp) u
      JOIN bench USING (gram)
      GROUP BY u.doc_id
    )
    SELECT c.doc_id, c.n_ngrams,
           cast(coalesce(h.nc, 0) AS bigint) AS n_contaminated,
           round(CASE WHEN c.n_ngrams > 0
                      THEN coalesce(h.nc, 0) / cast(c.n_ngrams AS double)
                      ELSE 0.0 END, 8) AS contaminated_frac,
           coalesce(h.nc, 0) >= 1 AS contaminated
    FROM corp c LEFT JOIN hits h USING (doc_id)
    """,
)
def benchmark_decontamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram decontamination: documents with doc_id % 50 = 0
    act as the benchmark; every other document reports how many of its
    distinct 5-grams leak from the benchmark (broadcast n-gram dim, one
    row-per-doc exchange)."""
    d = _t(spark, sf_dir, "documents")
    return textanalysis.benchmark_decontamination(
        d.where(F.col("doc_id") % 50 != 0),
        d.where(F.col("doc_id") % 50 == 0),
        n=5,
    )


from ..operators import training as _tr  # noqa: E402


@register(
    "sequence_packing",
    r"""
    WITH s AS (
      SELECT doc_id,
             cast(len(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS bigint) AS n_tokens,
             cast(doc_id % 4 AS int) AS shard
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM s
    )
    SELECT doc_id, shard, n_tokens,
           cast((cum - n_tokens) // 2048 AS bigint) AS start_block,
           cast((cum - n_tokens) % 2048 AS bigint) AS block_offset,
           cast(CASE WHEN n_tokens > 0
                     THEN (cum - 1) // 2048 - (cum - n_tokens) // 2048 + 1
                     ELSE 0 END AS bigint) AS n_blocks_spanned
    FROM c
    """,
)
def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing of the documents table into 2048-token
    blocks across 4 independent shards (word count as the token proxy);
    the oracle mirrors the sharded running sum."""
    d = _t(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z0-9]+)"), 1)
        ).alias("n_tokens"),
    )
    return _tr.pack_sequences(staged, capacity=2048, n_shards=4)


# DSIR hashed-n-gram feature CTE shared by the two dsir_* oracles: word
# unigrams + bigrams hashed into 8192 buckets via the engine's md5-affine
# convention; target corpus = doc_id % 10 == 0 (deterministic subset).
_DSIR_SQL = """
    dsw AS (
      SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS words
      FROM documents
    ),
    dhw AS (
      SELECT doc_id, list_transform(words, w -> ('0x' || substr(md5(w), 1, 7))::bigint) AS hw
      FROM dsw
    ),
    feats AS (
      SELECT doc_id, unnest(list_transform(hw, h -> h % 8192)) AS bucket FROM dhw
      UNION ALL
      SELECT doc_id, unnest(list_transform(generate_series(1, len(hw) - 1),
             i -> ((3*hw[i] + 5*hw[i+1] + 11) % 2147483647) % 8192)) AS bucket
      FROM dhw WHERE len(hw) >= 2
    ),
    tgt AS (SELECT bucket FROM feats WHERE doc_id % 10 = 0),
    qc AS (SELECT bucket, count(*) AS qn FROM feats GROUP BY 1),
    pc AS (SELECT bucket, count(*) AS pn FROM tgt GROUP BY 1),
    ratio AS (
      SELECT coalesce(qc.bucket, pc.bucket) AS bucket,
             ln((coalesce(pn, 0) + 1.0) / ((SELECT count(*) FROM tgt) + 8192.0))
           - ln((coalesce(qn, 0) + 1.0) / ((SELECT count(*) FROM feats) + 8192.0)) AS log_ratio
      FROM qc FULL OUTER JOIN pc ON qc.bucket = pc.bucket
    ),
    scored AS (
      SELECT f.doc_id, sum(r.log_ratio) AS lw, count(*) AS nf
      FROM feats f JOIN ratio r ON r.bucket = f.bucket GROUP BY 1
    ),
    dsir AS (
      SELECT d.doc_id, round(coalesce(s.lw, 0.0), 6) AS log_weight,
             coalesce(s.nf, 0) AS n_features
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    )
"""


def _dsir_target(d):
    return d.where((F.col("doc_id") % 10) == 0)


# Unigram-LM scoring CTE shared by the CCNet-style quality oracles:
# self-referenced corpus LM, Laplace alpha=1 over the observed vocabulary.
_UNIGRAM_SQL = """
    uw AS (
      SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS words
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(words) AS w FROM uw),
    cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
    lp AS (
      SELECT w, ln((n + 1.0) / ((SELECT count(*) FROM tok) + (SELECT count(*) FROM cnt))) AS lp
      FROM cnt
    ),
    uscored AS (
      SELECT t.doc_id, avg(lp.lp) AS mlp, count(*) AS nt
      FROM tok t JOIN lp ON lp.w = t.w GROUP BY 1
    ),
    ulp AS (
      SELECT d.doc_id, round(s.mlp, 6) AS mean_logprob,
             coalesce(s.nt, 0) AS n_tokens
      FROM documents d LEFT JOIN uscored s ON s.doc_id = d.doc_id
    )
"""


@register(
    "unigram_logprob",
    f"""
    WITH {_UNIGRAM_SQL}
    SELECT doc_id, mean_logprob, n_tokens FROM ulp
    """,
)
def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    Laplace-smoothed unigram LM — the engine-native CCNet (Wenzek et al.
    2020) perplexity quality signal, value-exact against the oracle."""
    return textanalysis.unigram_logprob(_t(spark, sf_dir, "documents"))


@register(
    "ccnet_quality_buckets",
    f"""
    WITH {_UNIGRAM_SQL},
    thr AS (
      SELECT percentile_cont(0.3333333333) WITHIN GROUP (ORDER BY mean_logprob) AS t1,
             percentile_cont(0.6666666667) WITHIN GROUP (ORDER BY mean_logprob) AS t2
      FROM ulp
    )
    SELECT u.doc_id, u.mean_logprob, u.n_tokens,
           CASE WHEN u.mean_logprob IS NULL THEN 'tail'
                WHEN u.mean_logprob >= thr.t2 THEN 'head'
                WHEN u.mean_logprob >= thr.t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ulp u, thr
    """,
)
def ccnet_quality_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split by unigram-logprob terciles (head =
    most-fluent third; CCNet keeps head+middle for pretraining)."""
    return textanalysis.perplexity_buckets(_t(spark, sf_dir, "documents"))


@register(
    "dsir_log_weights",
    f"""
    WITH {_DSIR_SQL}
    SELECT doc_id, log_weight, n_features FROM dsir
    """,
)
def dsir_log_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every document scored
    by hashed-n-gram likelihood ratio of a deterministic target subset
    (doc_id % 10 == 0) vs the raw corpus — the importance-resampling
    pretraining-data selection recipe, value-exact against the oracle
    (same md5-affine bucket arithmetic as the dedup family)."""
    d = _t(spark, sf_dir, "documents")
    return _tr.dsir_log_weights(d, _dsir_target(d))


@register(
    "dsir_top_selection",
    f"""
    WITH {_DSIR_SQL},
    ranked AS (
      SELECT doc_id, log_weight, n_features,
             row_number() OVER (ORDER BY log_weight DESC, doc_id) AS r
      FROM dsir
    )
    SELECT doc_id, log_weight, n_features FROM ranked
    -- floor(), matching the engine's int() truncation: a bare BIGINT cast
    -- would round-to-nearest in DuckDB and diverge whenever count*fraction
    -- is non-integral
    WHERE r <= (SELECT cast(floor(count(*) * 0.2) AS bigint) FROM documents)
    """,
)
def dsir_top_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DSIR selection: top 20% of documents by (rounded)
    importance weight with doc-id tie-break."""
    d = _t(spark, sf_dir, "documents")
    return _tr.dsir_select(d, _dsir_target(d), fraction=0.2)


@register(
    "dsir_gumbel_resample",
    f"""
    WITH {_DSIR_SQL},
    gk AS (
      SELECT doc_id, log_weight, n_features,
             round(log_weight - ln(-ln(
               (('0x' || substr(md5('g0:' || cast(doc_id AS varchar)), 1, 7))::bigint + 0.5)
               / 268435456.0)), 6) AS gkey
      FROM dsir
    ),
    ranked AS (
      SELECT doc_id, log_weight, n_features,
             row_number() OVER (ORDER BY gkey DESC, doc_id) AS r
      FROM gk
    )
    SELECT doc_id, log_weight, n_features FROM ranked
    WHERE r <= (SELECT cast(floor(count(*) * 0.15) AS bigint) FROM documents)
    """,
)
def dsir_gumbel_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling proper (Gumbel-top-k, Xie et al. 2023):
    a without-replacement 15% sample ∝ importance weight via seeded
    deterministic Gumbel noise (md5-uniform convention, key rounded to 6
    decimals), replayed bit-for-bit by the oracle. Ranks through the same
    boundary-slice window as dsir_top_selection (operators/training.py:
    dsir_gumbel_sample), never a full-corpus single-partition sort."""
    d = _t(spark, sf_dir, "documents")
    return _tr.dsir_gumbel_sample(d, _dsir_target(d), fraction=0.15)


@register(
    "temperature_mixture_sample",
    """
    WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    qt AS (SELECT source, sqrt(cast(n AS double)) AS w FROM cnt),
    quota AS (
      SELECT source, cast(round(300 * w / (SELECT sum(w) FROM qt)) AS bigint) AS q
      FROM qt
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY md5(cast(doc_id AS varchar)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quota q ON q.source = r.source
    WHERE r.rn <= q.q
    """,
)
def temperature_mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (mT5/XLM-R alpha-sampling): a
    300-doc budget split across sources ∝ sqrt(n_source), each source's
    quota filled by deterministic md5 rank — small sources up-sampled
    relative to raw share, selection engine-reproducible."""
    return _tr.temperature_sample(
        _t(spark, sf_dir, "documents"), total=300, alpha=0.5
    )


@register(
    "token_budget_mixture_sample",
    """
    WITH cnt AS (SELECT source, sum(n_chars) AS tok FROM documents GROUP BY 1),
    qt AS (SELECT source, sqrt(cast(tok AS double)) AS w FROM cnt),
    quota AS (
      SELECT source, round(30000 * w / (SELECT sum(w) FROM qt), 4) AS q
      FROM qt
    ),
    ranked AS (
      SELECT doc_id, source,
             sum(cast(n_chars AS double)) OVER (
               PARTITION BY source ORDER BY md5(cast(doc_id AS varchar)), doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS ctok
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quota q ON q.source = r.source
    WHERE r.ctok <= q.q
    """,
)
def token_budget_mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget temperature mixing (r7): a 30,000-CHAR budget split
    across sources ∝ sqrt(total source chars), each source's quota filled
    greedily in deterministic md5 order — the quota is denominated in the
    unit a pretraining mixture actually budgets (tokens/chars), with the
    kept set a prefix of each source's md5 order. The engine side runs
    the per-source cumulative-sum window over an md5-prefix boundary
    slice, never the full source (operators/training.py:
    token_budget_sample)."""
    return _tr.token_budget_sample(
        _t(spark, sf_dir, "documents"), budget=30_000, alpha=0.5,
        token_col="n_chars",
    )


_SAMPLE_THR = _tr._hex_threshold(0.35)
_MIX_THRS = {
    "src1": _tr._hex_threshold(1.0),
    "src2": _tr._hex_threshold(0.5),
    "src3": _tr._hex_threshold(0.25),
}
_MIX_DEFAULT_THR = _tr._hex_threshold(0.1)


@register(
    "deterministic_corpus_sample",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5('s0:' || cast(doc_id AS varchar)), 1, 4) < '{_SAMPLE_THR}'
    """,
)
def deterministic_corpus_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 35% Bernoulli sample of the documents table via the
    md5 keep rule — the oracle reproduces the exact keep set, which no
    engine-native random sample can."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return _tr.deterministic_sample(d, 0.35, seed="s0")


@register(
    "stratified_corpus_mixture",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5('mix:' || cast(doc_id AS varchar)), 1, 4) <
          CASE source
            WHEN 'src1' THEN '{_MIX_THRS["src1"]}'
            WHEN 'src2' THEN '{_MIX_THRS["src2"]}'
            WHEN 'src3' THEN '{_MIX_THRS["src3"]}'
            ELSE '{_MIX_DEFAULT_THR}'
          END
    """,
)
def stratified_corpus_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: keep all of src1, half of src2, a quarter of src3,
    10% of everything else — per-stratum deterministic md5 sampling."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return _tr.stratified_sample(
        d,
        {"src1": 1.0, "src2": 0.5, "src3": 0.25},
        stratum_col="source",
        seed="mix",
        default_fraction=0.1,
    )


_SEMDEDUP_SQL_BODY = f"""
    e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
    {_COS_EXPAND.strip()},
    cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < 16),
    sims AS (
      SELECT e.vec_id, cent.cid,
             round(sum(cast(list_extract(e.embedding, i) AS double) * cast(list_extract(cent.c, i) AS double))
                   / (sqrt(sum(cast(list_extract(e.embedding, i) AS double) * cast(list_extract(e.embedding, i) AS double)))
                      * sqrt(sum(cast(list_extract(cent.c, i) AS double) * cast(list_extract(cent.c, i) AS double)))), 6) AS cs
      FROM e, cent, pos GROUP BY 1, 2
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM sims
      ) WHERE rn = 1
    ),
    norms AS (
      SELECT vec_id, sum(cast(list_extract(embedding, i) AS double) * cast(list_extract(embedding, i) AS double)) AS nn
      FROM e, pos GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             sum(cast(list_extract(a.embedding, p.i) AS double) * cast(list_extract(b.embedding, p.i) AS double)) AS d
      FROM e a
      JOIN assigned ca ON ca.vec_id = a.vec_id
      JOIN e b ON a.vec_id < b.vec_id
      JOIN assigned cb ON cb.vec_id = b.vec_id AND cb.cid = ca.cid,
      pos p
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT vec_a, vec_b, round(d / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS cosine
      FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
      WHERE round(d / (sqrt(na.nn) * sqrt(nb.nn)), 6) >= 0.3
    )
"""


@register(
    "semantic_near_duplicates",
    f"""
    WITH {_SEMDEDUP_SQL_BODY}
    SELECT vec_a, vec_b, cosine FROM nd
    """,
)
def semantic_near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pair discovery (Abbas et al. 2023): seed-centroid cluster
    assignment scopes the candidate set, exact rounded cosine verifies —
    the oracle mirrors the cluster scoping (NOT all pairs), because the
    scoping IS the semantics."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    return similarity.semantic_near_duplicates(emb, threshold=0.3, n_lists=16)


@register(
    "semantic_keep_list",
    f"""
    WITH RECURSIVE {_SEMDEDUP_SQL_BODY},
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM nd UNION SELECT vec_b, vec_a FROM nd
    ),
    reach AS (
      SELECT a AS node, b AS x FROM edges
      UNION
      SELECT r.node, e2.b FROM reach r JOIN edges e2 ON e2.a = r.x
    ),
    canon AS (SELECT node, least(node, min(x)) AS comp FROM reach GROUP BY node)
    SELECT v.vec_id, coalesce(c.comp, v.vec_id) = v.vec_id AS keep
    FROM e v LEFT JOIN canon c ON c.node = v.vec_id
    """,
)
def semantic_keep_list_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup end state: within-cluster cosine near-dup components,
    minimum id kept — the embedding twin of the MinHash keep list with
    cluster-scoped (not LSH) candidates."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    return similarity.semantic_dedup_keep_list(emb, threshold=0.3, n_lists=16)


@register(
    "repeated_kgram_spans",
    r"""
    WITH p AS (
      SELECT doc_id, text,
             unnest(range(0, CASE WHEN len(text) >= 60
                                  THEN ((len(text) - 60) // 30) + 1
                                  ELSE 0 END)) AS i
      FROM documents
    ),
    g AS (SELECT doc_id, cast(i * 30 AS int) AS pos,
                 md5(substr(text, cast(i * 30 + 1 AS int), 60)) AS gk
          FROM p),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY gk) AS c FROM g
      ) WHERE c >= 2
    ),
    m AS (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM dup),
    isl AS (SELECT doc_id, pos,
                   sum(CASE WHEN prev IS NULL OR pos > prev + 60 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM m)
    SELECT doc_id, cast(min(pos) AS bigint) AS span_start,
           cast(max(pos) + 60 AS bigint) AS span_end
    FROM isl GROUP BY doc_id, island
    """,
)
def repeated_kgram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2021 family) over
    the documents table at k=60/stride=30 — md5 window keys reproduce
    bit-for-bit in the oracle, which mirrors the count-window duplicate
    rule and the gaps-and-islands span merge."""
    return dedup.repeated_kgram_spans(_t(spark, sf_dir, "documents"), k=60)


_CUR_SAMPLE_THR = _tr._hex_threshold(0.6)


@register(
    "curation_manifest",
    rf"""
    WITH s AS (
      SELECT doc_id, text,
        cast(len(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS bigint) AS nt,
        cast(len(list_distinct(regexp_extract_all(lower(text), '([a-z0-9]+)', 1))) AS bigint) AS ntypes,
        cast(len(regexp_extract_all(lower(text), '(\b(the|a|of|and|to|in|is)\b)', 1)) AS bigint) AS nstop,
        cast(len(regexp_extract_all(lower(text), '(\b(der|die|das|und|nicht)\b)', 1)) AS bigint) AS s_de,
        cast(len(regexp_extract_all(lower(text), '(\b(the|and|of|to|a)\b)', 1)) AS bigint)      AS s_en,
        cast(len(regexp_extract_all(lower(text), '(\b(el|la|los|que|y)\b)', 1)) AS bigint)      AS s_es,
        cast(len(regexp_extract_all(lower(text), '(\b(le|la|les|et|que)\b)', 1)) AS bigint)     AS s_fr,
        md5(text) AS h
      FROM documents
    ),
    q AS (
      SELECT doc_id, nt,
        round(0.4 * least(nt / 100.0, 1.0)
              + 0.3 * (CASE WHEN nt > 0 THEN ntypes / cast(nt AS double) ELSE 0.0 END)
              + 0.3 * least((CASE WHEN nt > 0 THEN nstop / cast(nt AS double) ELSE 0.0 END) * 5.0, 1.0), 8) AS qsc,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             ELSE 'fr' END AS plang,
        min(doc_id) OVER (PARTITION BY h) AS minid
      FROM s
    ),
    kept AS (
      SELECT doc_id, nt AS n_tokens, cast(doc_id % 4 AS int) AS shard FROM q
      WHERE doc_id = minid AND qsc >= 0.4 AND plang = 'en'
        AND substr(md5('cur:' || cast(doc_id AS varchar)), 1, 4) < '{_CUR_SAMPLE_THR}'
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM kept
    )
    SELECT doc_id, shard, n_tokens,
           cast((cum - n_tokens) // 512 AS bigint) AS start_block,
           cast((cum - n_tokens) % 512 AS bigint) AS block_offset,
           cast(CASE WHEN n_tokens > 0
                     THEN (cum - 1) // 512 - (cum - n_tokens) // 512 + 1
                     ELSE 0 END AS bigint) AS n_blocks_spanned
    FROM c
    """,
)
def curation_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in one fused scan: quality >= 0.4,
    pred_lang = 'en', exact-dedup keep, 60% deterministic sample, packed
    into 512-token blocks across 4 shards — the oracle chains the exact
    per-step SQL fragments of the standalone queries."""
    return _tr.curation_manifest(
        _t(spark, sf_dir, "documents"),
        min_quality=0.4,
        lang="en",
        sample_fraction=0.6,
        seed="cur",
        capacity=512,
        n_shards=4,
    )


@register(
    "c4_line_filters",
    r"""
    WITH fab AS (
      SELECT o_orderkey AS doc_id,
             'Order placed on time.' || chr(10)
             || 'status ' || o_orderstatus || chr(10)
             || CASE WHEN o_orderkey % 7 = 0 THEN 'code { block'
                     ELSE 'the clerk noted the priority carefully.' END || chr(10)
             || CASE WHEN o_orderkey % 11 = 0 THEN 'lorem ipsum dolor sit.'
                     ELSE 'final remark with a question?' END AS text
      FROM orders
    ),
    k AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines,
             list_filter(string_split(text, chr(10)),
                         ln -> regexp_matches(trim(ln), '[.!?"]$')
                               AND len(regexp_extract_all(lower(ln), '([a-z0-9]+)', 1)) >= 3) AS kept,
             (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AS blocked
      FROM fab
    )
    SELECT doc_id,
           cast(len(lines) AS bigint) AS n_lines,
           cast(len(kept) AS bigint) AS n_kept_lines,
           blocked AS doc_blocked,
           CASE WHEN blocked THEN '' ELSE array_to_string(kept, chr(10)) END AS clean_text
    FROM k
    """,
)
def c4_line_filters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (terminal-punctuation + min-words line
    rules, lorem-ipsum / curly-brace document blocks) over fabricated
    line-structured text so every rule fires."""
    o = _t(spark, sf_dir, "orders")
    fab = o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.concat(
            F.lit("Order placed on time.\nstatus "),
            F.col("o_orderstatus"),
            F.lit("\n"),
            F.when(
                F.col("o_orderkey") % 7 == 0, F.lit("code { block")
            ).otherwise(F.lit("the clerk noted the priority carefully.")),
            F.lit("\n"),
            F.when(
                F.col("o_orderkey") % 11 == 0, F.lit("lorem ipsum dolor sit.")
            ).otherwise(F.lit("final remark with a question?")),
        ).alias("text"),
    )
    return textanalysis.c4_line_filters(fab)


_TFIDF_W_SQL = """
    t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS term
          FROM documents),
    tf AS (SELECT doc_id, term, cast(count(*) AS bigint) AS tf FROM t GROUP BY 1, 2),
    n AS (SELECT count(*) AS nd FROM documents),
    df AS (SELECT term, cast(count(*) AS bigint) AS df FROM tf GROUP BY 1),
    w AS (SELECT tf.doc_id, tf.term, tf.tf,
                 ln((n.nd + 1) / cast(df.df + 1 AS double)) + 1.0 AS idf_raw,
                 round(tf.tf * (ln((n.nd + 1) / cast(df.df + 1 AS double)) + 1.0), 8) AS weight
          FROM tf JOIN df USING (term), n)
"""


@register(
    "tfidf_terms",
    f"""
    WITH {_TFIDF_W_SQL}
    SELECT doc_id, term, tf, round(idf_raw, 8) AS idf, weight FROM w
    """,
)
def tfidf_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF document vectors (smoothed scikit-learn idf) —
    every (doc, term) weight hash-checked."""
    return textanalysis.tfidf_terms(_t(spark, sf_dir, "documents"))


@register(
    "tfidf_topk_docs",
    f"""
    WITH {_TFIDF_W_SQL},
    norms AS (SELECT doc_id, sqrt(sum(weight * weight)) AS norm FROM w GROUP BY 1),
    q AS (SELECT term, weight AS qw FROM w WHERE doc_id = 0),
    qn AS (SELECT norm AS qnorm FROM norms WHERE doc_id = 0),
    dots AS (
      SELECT w.doc_id, sum(w.weight * q.qw) AS dot
      FROM w JOIN q USING (term) WHERE w.doc_id <> 0 GROUP BY 1
    )
    SELECT d.doc_id, round(d.dot / (norms.norm * qn.qnorm), 6) AS cosine
    FROM dots d JOIN norms USING (doc_id), qn
    ORDER BY cosine DESC, doc_id LIMIT 10
    """,
)
def tfidf_topk_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by TF-IDF cosine against doc 0: broadcast sparse
    query vector, term-keyed broadcast join, doc-keyed aggregate — no
    corpus self-join."""
    return textanalysis.tfidf_topk_similar(
        _t(spark, sf_dir, "documents"), query_doc_id=0, k=10
    )


@register(
    "document_chunks",
    r"""
    WITH w AS (
      SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS ws
      FROM documents
    ),
    n AS (
      SELECT doc_id, ws, len(ws) AS n,
             CASE WHEN len(ws) <= 0 THEN 0
                  WHEN len(ws) <= 64 THEN 1
                  ELSE cast(ceil((len(ws) - 64) / 48.0) AS int) + 1 END AS n_chunks
      FROM w
    ),
    c AS (
      SELECT doc_id, ws, n, unnest(range(0, n_chunks)) AS i FROM n WHERE n_chunks > 0
    )
    SELECT doc_id,
           cast(i AS bigint) AS chunk_idx,
           cast(i * 48 AS bigint) AS start_token,
           cast(least(i * 48 + 64, n) AS bigint) AS end_token,
           cast(least(i * 48 + 64, n) - i * 48 AS bigint) AS n_chunk_tokens,
           array_to_string(ws[i*48 + 1 : least(i*48 + 64, n)], ' ') AS chunk_text
    FROM c
    """,
)
def document_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token chunks with 16-token overlap (step 48) over
    the documents table — the embedding/RAG prep shape, zero-shuffle."""
    return textanalysis.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@register(
    "corpus_report",
    r"""
    WITH s AS (
      SELECT doc_id, source AS stratum,
        cast(len(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS bigint) AS nt,
        cast(len(list_distinct(regexp_extract_all(lower(text), '([a-z0-9]+)', 1))) AS bigint) AS ntypes,
        cast(len(regexp_extract_all(lower(text), '(\b(the|a|of|and|to|in|is)\b)', 1)) AS bigint) AS nstop,
        cast(len(regexp_extract_all(lower(text), '(\b(der|die|das|und|nicht)\b)', 1)) AS bigint) AS s_de,
        cast(len(regexp_extract_all(lower(text), '(\b(the|and|of|to|a)\b)', 1)) AS bigint)      AS s_en,
        cast(len(regexp_extract_all(lower(text), '(\b(el|la|los|que|y)\b)', 1)) AS bigint)      AS s_es,
        cast(len(regexp_extract_all(lower(text), '(\b(le|la|les|et|que)\b)', 1)) AS bigint)     AS s_fr,
        md5(text) AS h
      FROM documents
    ),
    q AS (
      SELECT doc_id, stratum, nt,
        0.4 * least(nt / 100.0, 1.0)
          + 0.3 * (CASE WHEN nt > 0 THEN ntypes / cast(nt AS double) ELSE 0.0 END)
          + 0.3 * least((CASE WHEN nt > 0 THEN nstop / cast(nt AS double) ELSE 0.0 END) * 5.0, 1.0) AS qsc,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             ELSE 'fr' END AS plang,
        (min(doc_id) OVER (PARTITION BY h) <> doc_id) AS dup
      FROM s
    )
    SELECT stratum,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(nt) AS bigint) AS total_tokens,
           round(avg(qsc), 8) AS mean_quality,
           round(avg(CASE WHEN plang = 'en' THEN 1.0 ELSE 0.0 END), 8) AS en_share,
           round(avg(CASE WHEN dup THEN 1.0 ELSE 0.0 END), 8) AS dup_share
    FROM q GROUP BY 1
    """,
)
def corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card accounting (docs, tokens, mean quality,
    English share, exact-dup share) in one fused scan."""
    return textanalysis.corpus_report(_t(spark, sf_dir, "documents"))
