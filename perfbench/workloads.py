"""The benchmark workloads, their output checks and their tampers.

Both are closed loops: one caller runs the stages of a pass in sequence
and starts the next pass only when the previous one has been checked.
Every program call goes through a public entry point (``cli.main``,
``plans.pipelines``, ``sources.medline``) inside a tracer span named after
the layer it reaches.

Why these workloads:

* ``kg_chain`` — MEDLINE XML to cooccurrence metrics and IDF, twice over
  the same inputs. First the reference's production DAG as operators run
  it: MEDLINE_XML_TO_TEXT → SENTENCE_SEGMENTATION → OGER →
  CONCEPT_POST_PROCESS → COUNTS → METRICS + IDF through ``cli.main`` with
  status-flag gating, parquet hand-offs and durable ``<output>__staging``.
  Then the fused composition
  (``plans.pipelines.documents_to_cooccurrence_metrics`` plus
  ``concept_idf``), which shares the NER and cooccurrence layers but
  skips hand-offs, staging and segmentation; its ``fused`` span is the
  "no change" side of any change to those paths. Time goes to XML
  parsing, NER and the cooccurrence shuffle; there is no dedup work.
* ``near_dup_index`` — the write-heavy incremental path: K batches
  through NEAR_DUP_INDEX_UPDATE (bucket cap, star policy), then
  NEAR_DUP_INDEX_RECONCILE and NEAR_DUP_INDEX_KEEP_BEST, with index
  writes and small-file growth. No NER or cooccurrence work.

The staged and the fused chains share one workload because every run
pays about 20 s of set-ups and warm-up on four cores (twice that on a
busy host); as separate workloads they would not fit the run budget.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen

#: MEDLINE chain input size: documents per pass, and at toy size
CHAIN_DOCS, CHAIN_TOY_DOCS = 300, 24
#: near-dup input: documents, batches and boilerplate family size per
#: pass, and at toy size
NEAR_DUP_DOCS, NEAR_DUP_BATCHES, NEAR_DUP_FAMILY = 600, 4, 40
NEAR_DUP_TOY_DOCS, NEAR_DUP_TOY_BATCHES, NEAR_DUP_TOY_FAMILY = 120, 2, 20
#: LSH bucket cap (a stress setting, not a production value);
#: boilerplate families put ~40% of their members in one bucket per band,
#: well above it
MAX_BUCKET_SIZE = 8
#: score tolerance of the metric/IDF comparison: both sides round to 8
#: decimals, so they may differ by one unit in the last place
SCORE_TOL = 1e-7

_CRITERIA = "TEXT|TEXT|MEDLINE_XML_TO_TEXT|recent"


class PassAborted(Exception):
    """A program call raised; the rest of the pass cannot run."""


@dataclass
class Ops:
    """Operation accounting: an operation is one program call or one
    output check, and it fails when the call raises or the check fails."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def call(self, what: str, fn, *args):
        self.attempted += 1
        try:
            # program chatter goes to stderr: stdout's last line is the result
            with contextlib.redirect_stdout(sys.stderr):
                return fn(*args)
        # a failed operation, not a crashed benchmark; SystemExit is how the
        # CLI rejects its arguments
        except (Exception, SystemExit) as exc:
            self.failed += 1
            self.failures.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
            raise PassAborted(what) from exc

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {what} failed {detail}"[:500])
        return ok

    @contextlib.contextmanager
    def checking(self):
        """Checks that cannot even read an output (missing, malformed)
        count as one more failed check instead of ending the run."""
        try:
            yield
        except Exception as exc:  # an unreadable output is a failed check
            self.check("outputs_readable", False, f"{type(exc).__name__}: {exc}")


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _cli(ops: Ops, args: list[str]) -> None:
    from translator_tm_provider_pipelines_spark import cli

    ops.call(args[0], cli.main, args)


# ---------------------------------------------------------------------------
# MEDLINE → KG chain checks (shared by the staged and the fused chains)
# ---------------------------------------------------------------------------


def _planted_table(planted: dict[str, frozenset[str]]) -> pa.Table:
    rows = sorted((d, c) for d, cs in planted.items() for c in cs)
    return pa.table({"text_id": [r[0] for r in rows], "concept_id": [r[1] for r in rows]})


def _oracle(name: str) -> str:
    """The DuckDB oracle the registry already pins for ``name``, with its
    unit-concept relation swapped for the planted one."""
    from translator_tm_provider_pipelines_spark.plans import testdata_queries as tq

    sql = tq.ORACLES[name]
    swapped = sql.replace(tq._UC_SQL, " uc AS (SELECT text_id, concept_id FROM planted) ")
    if swapped == sql:
        raise RuntimeError(f"oracle {name} no longer defines its unit relation as expected")
    return swapped


def check_metrics_and_idf(ops: Ops, con, out: dict[str, str]) -> None:
    """Metrics and IDF equal DuckDB's recomputation from the planted sets."""
    score_cols = ("ngd", "pmi", "npmi", "npmi_max", "md", "lfmd")
    for what, oracle, keys, exact, scores in (
        (
            "metrics",
            _oracle("cooccurrence_metrics"),
            ("concept1", "concept2"),
            ("pair_count", "concept1_count", "concept2_count"),
            score_cols,
        ),
        ("idf", _oracle("concept_idf"), ("concept_id",), ("concept_count",), ("idf",)),
    ):
        on = " AND ".join(f"o.{k} = g.{k}" for k in keys)
        same = " AND ".join(
            [f"o.{c} = g.{c}" for c in exact]
            + [f"(o.{c} = g.{c} OR abs(o.{c} - g.{c}) <= {SCORE_TOL})" for c in scores]
        )
        key_list = ", ".join(keys)
        n_o, n_g, n_g_keys, n_same = con.sql(
            f"""
            WITH o AS ({oracle}), g AS (SELECT * FROM {_parquet(out[what])})
            SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM g),
                   (SELECT count(*) FROM (SELECT DISTINCT {key_list} FROM g)),
                   (SELECT count(*) FROM o JOIN g ON {on} WHERE {same})
            """
        ).fetchone()
        # distinct output keys: a duplicated row cannot stand in for a missing one
        ops.check(
            what,
            n_o == n_g == n_g_keys == n_same and n_o > 0,
            f"oracle rows {n_o}, output rows {n_g}, distinct keys {n_g_keys}, equal rows {n_same}",
        )


def check_unit_concepts(ops: Ops, con, uc_dir: str) -> None:
    """The unit-concept relation equals the planted concept sets."""
    n_g, n_g_distinct, n_missing, n_extra = con.sql(
        f"""
        WITH g AS (SELECT text_id, concept_id FROM {_parquet(uc_dir)})
        SELECT (SELECT count(*) FROM g),
               (SELECT count(*) FROM (SELECT DISTINCT * FROM g)),
               (SELECT count(*) FROM (SELECT * FROM planted EXCEPT SELECT * FROM g)),
               (SELECT count(*) FROM (SELECT * FROM g EXCEPT SELECT * FROM planted))
        """
    ).fetchone()
    ops.check(
        "unit_concepts",
        n_g == n_g_distinct and n_missing == 0 and n_extra == 0,
        f"rows {n_g}, distinct {n_g_distinct}, missing {n_missing}, extra {n_extra}",
    )


def tamper_metrics(out: dict[str, str]) -> None:
    """Self-test tamper: bump one pair count in the metrics output."""
    for f in sorted(os.listdir(out["metrics"])):
        p = os.path.join(out["metrics"], f)
        if f.endswith(".parquet") and pq.read_metadata(p).num_rows > 0:
            t = pq.read_table(p)
            counts = t.column("pair_count").to_pylist()
            counts[0] += 1
            i = t.schema.get_field_index("pair_count")
            pq.write_table(t.set_column(i, t.schema.field(i), pa.array(counts, t.schema.field(i).type)), p)
            return
    raise RuntimeError("no metrics rows to tamper with")


def _uses_cache(spark, df) -> bool:
    """Whether Spark substitutes cached data into ``df``'s plan (the plan
    lookup only, no optimization or execution)."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    return "InMemoryRelation" in cache.useCachedData(df._jdf.queryExecution().analyzed()).toString()


@dataclass
class PassResult:
    """What one pass reports beyond its wall time."""

    #: named durations inside the pass (per-batch ingest, maintenance)
    timings: dict[str, list[float]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)


class KgChain:
    name = "kg_chain"
    #: measured passes per run (~6.5 s each on 4 cores)
    passes = 2

    def make_inputs(self, work: str, seed: int, toy: bool):
        return gen.make_chain_inputs(work, seed, CHAIN_TOY_DOCS if toy else CHAIN_DOCS)

    def docs(self, inputs) -> int:
        return len(inputs.planted)

    def run_pass(self, spark, inputs, out_dir: str, tracer, ops: Ops, tamper=None) -> PassResult:
        res = PassResult()
        staged = self.staged(inputs, os.path.join(out_dir, "staged"), tracer, ops)
        fused, res.info["fused_units_cached"] = self.fused(
            spark, inputs, os.path.join(out_dir, "fused"), tracer, ops
        )
        if tamper:
            tamper(staged)
        with ops.checking(), duckdb.connect() as con:
            con.register("planted", _planted_table(inputs.planted))
            self.check_staged(ops, con, inputs, staged, res)
            check_metrics_and_idf(ops, con, fused)
        return res

    def staged(self, inputs, out_dir: str, tracer, ops: Ops) -> dict[str, str]:
        """The production DAG as operators run it: one CLI stage after the
        other, gated on status flags, handing off parquet tables."""
        p = {k: os.path.join(out_dir, k) for k in (
            "medline", "docstore", "status0", "sents", "segfail", "status1",
            "annots", "status2", "clean", "uc", "metrics", "idf")}
        gate = ["--inputDocumentCriteria", _CRITERIA, "--collection", "PUBMED"]
        with tracer.span("medline", watch=out_dir):
            _cli(ops, ["MEDLINE_XML_TO_TEXT", "--xml", inputs.xml_dir, "--output", p["medline"],
                       "--documentsStore", p["docstore"], "--statusStore", p["status0"]])
        with tracer.span("sentences", watch=out_dir):
            _cli(ops, ["SENTENCE_SEGMENTATION", "--documents", p["docstore"], "--status", p["status0"],
                       "--output", p["sents"], "--failures", p["segfail"], *gate,
                       "--requiredProcessingStatusFlags", "TEXT_DONE",
                       "--targetProcessingStatusFlag", "SENTENCE_DONE"])
            _cli(ops, ["UPDATE_STATUS_FLAGS", "--status", p["status0"], "--processed", p["sents"],
                       "--flag", "SENTENCE_DONE", "--output", p["status1"]])
        with tracer.span("ner", watch=out_dir):
            _cli(ops, ["OGER", "--documents", p["docstore"], "--status", p["status1"], *gate,
                       "--requiredProcessingStatusFlags", "TEXT_DONE|SENTENCE_DONE",
                       "--targetProcessingStatusFlag", "OGER_DONE",
                       "--dictionary", inputs.dictionary, "--output", p["annots"]])
            _cli(ops, ["UPDATE_STATUS_FLAGS", "--status", p["status1"], "--processed", p["annots"],
                       "--flag", "OGER_DONE", "--output", p["status2"]])
        with tracer.span("conceptfilters", watch=out_dir):
            _cli(ops, ["CONCEPT_POST_PROCESS", "--annotations", p["annots"], "--output", p["clean"],
                       "--lengthThreshold", "4"])
        with tracer.span("cooccurrence.counts", watch=out_dir):
            _cli(ops, ["CONCEPT_COOCCURRENCE_COUNTS", "--annotations", p["clean"], "--output", p["uc"]])
        with tracer.span("cooccurrence.metrics", watch=out_dir):
            _cli(ops, ["CONCEPT_COOCCURRENCE_METRICS", "--unitConcepts", p["uc"], "--output", p["metrics"]])
        with tracer.span("cooccurrence.idf", watch=out_dir):
            _cli(ops, ["CONCEPT_IDF", "--unitConcepts", p["uc"], "--output", p["idf"]])
        return p

    def fused(self, spark, inputs, out_dir: str, tracer, ops: Ops) -> tuple[dict[str, str], bool]:
        """The same chain as one DataFrame program: no hand-offs, no
        staging, no sentence segmentation. Parsing and dictionary loading
        are lazy, so the whole composition sits in the one span."""
        from pyspark.sql import functions as F

        from translator_tm_provider_pipelines_spark.operators import conceptfilters as cf
        from translator_tm_provider_pipelines_spark.operators import cooccurrence as co
        from translator_tm_provider_pipelines_spark.operators import ner
        from translator_tm_provider_pipelines_spark.plans import pipelines
        from translator_tm_provider_pipelines_spark.sources import medline

        p = {k: os.path.join(out_dir, k) for k in ("metrics", "idf")}

        def both():
            docs = medline.medline_documents(
                medline.read_medline_xml(spark, inputs.xml_dir)
            ).select("doc_id", "content")
            dictionary = ner.normalize_dictionary(spark.read.parquet(inputs.dictionary))
            # The document-level unit relation documents_to_cooccurrence_metrics
            # derives (plans/pipelines.py), rebuilt here because the program
            # has no entry point that returns it; concept_idf needs it. It is
            # cached under the composition's own plan, so the metrics write
            # fills the cache and the IDF write reads it: one parse and one
            # NER pass per fused chain, as in the staged chain.
            units = cf.remove_nested_annotations(
                cf.remove_matches_less_than(ner.dictionary_concept_recognition(docs, dictionary), 4)
            ).select(F.col("doc_id").alias("text_id"), "concept_id").distinct().persist()
            try:
                chain = pipelines.documents_to_cooccurrence_metrics(docs, dictionary)
                cached = _uses_cache(spark, chain)
                chain.write.mode("overwrite").parquet(p["metrics"])
                co.concept_idf(units).write.mode("overwrite").parquet(p["idf"])
            finally:
                units.unpersist()
            return cached

        os.makedirs(out_dir, exist_ok=True)
        with tracer.span("fused", watch=out_dir):
            cached = ops.call("documents_to_cooccurrence_metrics + concept_idf", both)
        return p, cached

    @staticmethod
    def check_staged(ops: Ops, con, inputs, p: dict[str, str], res: PassResult) -> None:
        con.register(
            "planted_sents",
            pa.table({"doc_id": list(inputs.sentences), "n": list(inputs.sentences.values())}),
        )
        n_bad, n_docs = con.sql(
            f"""
            WITH g AS (SELECT doc_id, count(*) AS n FROM {_parquet(p['sents'])} GROUP BY 1)
            SELECT count(*) FILTER (WHERE g.n IS DISTINCT FROM s.n), count(*)
            FROM planted_sents s FULL JOIN g USING (doc_id)
            """
        ).fetchone()
        has_failures = any(f.endswith(".parquet") for f in os.listdir(p["segfail"]))
        n_fail = (
            con.sql(f"SELECT count(*) FROM {_parquet(p['segfail'])}").fetchone()[0]
            if has_failures else 0
        )
        ops.check("sentences", n_bad == 0 and n_fail == 0,
                  f"{n_bad} of {n_docs} docs with a wrong sentence count, {n_fail} failures")
        check_unit_concepts(ops, con, p["uc"])
        check_metrics_and_idf(ops, con, p)
        n_annots, n_clean = (
            con.sql(f"SELECT count(*) FROM {_parquet(p[k])}").fetchone()[0]
            for k in ("annots", "clean")
        )
        res.info["conceptfilters.kept_ratio"] = n_clean / n_annots if n_annots else 0.0


class NearDupIndex:
    name = "near_dup_index"
    #: measured passes per run (~10 s each on 4 cores)
    passes = 1

    def make_inputs(self, work: str, seed: int, toy: bool):
        if toy:
            return gen.make_near_dup_inputs(
                work, seed, NEAR_DUP_TOY_DOCS, NEAR_DUP_TOY_BATCHES, NEAR_DUP_TOY_FAMILY
            )
        return gen.make_near_dup_inputs(
            work, seed, NEAR_DUP_DOCS, NEAR_DUP_BATCHES, NEAR_DUP_FAMILY
        )

    def docs(self, inputs) -> int:
        return len(inputs.texts)

    def run_pass(self, spark, inputs, out_dir: str, tracer, ops: Ops, tamper=None) -> PassResult:
        idx, keep = os.path.join(out_dir, "index"), os.path.join(out_dir, "keep")
        res = PassResult({"ingest_batch_s": [], "maintenance_s": []})
        cap = str(MAX_BUCKET_SIZE)
        for b, batch in enumerate(inputs.batches):
            t = time.perf_counter()
            with tracer.span("dedup_index.update", watch=out_dir):
                _cli(ops, ["NEAR_DUP_INDEX_UPDATE", "--newDocs", batch, "--indexDir", idx,
                           "--batchId", str(b), "--threshold", str(inputs.threshold),
                           "--maxBucketSize", cap, "--oversizePolicy", "star"])
            res.timings["ingest_batch_s"].append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("dedup_index.reconcile", watch=out_dir):
            _cli(ops, ["NEAR_DUP_INDEX_RECONCILE", "--indexDir", idx, "--maxBucketSize", cap,
                       "--threshold", str(inputs.threshold)])
        with tracer.span("dedup_index.keep_best", watch=out_dir):
            _cli(ops, ["NEAR_DUP_INDEX_KEEP_BEST", "--indexDir", idx, "--quality", inputs.quality,
                       "--qualityColumn", "quality", "--output", keep])
        res.timings["maintenance_s"].append(time.perf_counter() - t)
        if tamper:
            tamper(idx, inputs)
        with ops.checking():
            with duckdb.connect() as con:
                pairs = con.sql(f"SELECT doc_a, doc_b, jaccard FROM {_parquet(idx + '/pairs')}").fetchall()
                kept = con.sql(f"SELECT doc_id, canonical_id, is_kept, kept_id FROM {_parquet(keep)}").fetchall()
                res.info["dedup.verify_yield"] = _verify_yield(con, idx, len({(a, b) for a, b, _ in pairs}))
            res.info.update(check_near_dups(ops, inputs, pairs, kept))
        return res


def _verify_yield(con, idx: str, n_verified: int) -> float:
    """Verified pairs / LSH candidate pairs, the candidates recounted from
    the index's band table (every distinct pair sharing a bucket)."""
    n_cand = con.sql(
        f"""
        WITH b AS (SELECT DISTINCT doc_id, band, band_sig FROM {_parquet(idx + '/bands')})
        SELECT count(*) FROM (
          SELECT DISTINCT x.doc_id, y.doc_id FROM b x JOIN b y
          ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id)
        """
    ).fetchone()[0]
    return n_verified / n_cand if n_cand else 0.0


def check_near_dups(ops: Ops, inputs, pairs, kept) -> dict:
    """Exact-Jaccard verification of every reported pair and an
    independent recomputation of the keep-best list, outside Spark."""
    sh = {d: gen.shingles(t) for d, t in inputs.texts.items()}
    bad = [
        (a, b, j)
        for a, b, j in pairs
        if a not in sh or b not in sh
        or gen.jaccard(sh[a], sh[b]) < inputs.threshold
        or abs(gen.jaccard(sh[a], sh[b]) - j) > SCORE_TOL
    ]
    ops.check("near_dup_pairs", not bad and len(pairs) > 0,
              f"{len(bad)} of {len(pairs)} pairs below threshold or misreported, e.g. {bad[:2]}")

    parent = {d: d for d in inputs.texts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[str, list[str]] = {}
    for d in inputs.texts:
        comp.setdefault(find(d), []).append(d)
    q = inputs.quality_by_doc
    best = {r: min(ms, key=lambda d: (-q[d], d)) for r, ms in comp.items()}
    expect = {d: (r, d == best[r], best[r]) for r, ms in comp.items() for d in ms}
    got = {d: (c, k, kid) for d, c, k, kid in kept}
    wrong = [d for d in expect if got.get(d) != expect[d]]
    ops.check("keep_best", len(kept) == len(got) == len(expect) and not wrong,
              f"{len(kept)} rows for {len(expect)} docs, {len(wrong)} wrong, e.g. {wrong[:3]}")

    planted_pairs = [
        (a, b)
        for c in inputs.clusters
        for a, b in itertools.combinations(c, 2)
        if gen.jaccard(sh[a], sh[b]) >= inputs.threshold
    ]
    found = sum(1 for a, b in planted_pairs if find(a) == find(b))
    return {
        "planted_cluster_recall": found / len(planted_pairs) if planted_pairs else 1.0,
        "planted_pairs": len(planted_pairs),
        "reported_pairs": len(pairs),
    }


def tamper_pairs(idx: str, inputs) -> None:
    """Self-test tamper: plant one unrelated pair in the index's pair table."""
    pairs_dir = os.path.join(idx, "pairs")
    schema = None
    for root, _d, files in os.walk(pairs_dir):
        for f in files:
            if f.endswith(".parquet"):
                schema = pq.read_schema(os.path.join(root, f))
                break
        if schema is not None:
            break
    ids = sorted(inputs.texts)
    sh = {d: gen.shingles(inputs.texts[d]) for d in ids}
    a, b = next(
        (x, y) for x, y in itertools.combinations(ids, 2) if gen.jaccard(sh[x], sh[y]) < 0.5
    )
    row = pa.table({"doc_a": [a], "doc_b": [b], "jaccard": [0.99]})
    if schema is not None:
        row = row.select([n for n in schema.names if n in row.column_names]).cast(
            pa.schema([schema.field(n) for n in schema.names if n in row.column_names])
        )
    os.makedirs(os.path.join(pairs_dir, "batch_id=999"), exist_ok=True)
    pq.write_table(row, os.path.join(pairs_dir, "batch_id=999", "part-tampered.parquet"))


WORKLOADS = {w.name: w for w in (KgChain(), NearDupIndex())}
TAMPERS = {"kg_chain": tamper_metrics, "near_dup_index": tamper_pairs}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
