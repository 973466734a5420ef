"""Seeded single-process input generator for the benchmark.

Everything the program reads is written here from ``random.Random(seed)``;
the same seed gives byte-identical inputs. The generator also returns the
planted truth (what a correct program must output) and the traffic
properties of the workload, which the benchmark records next to its
metrics. The program itself only ever sees the files.

Two families of inputs:

* a MEDLINE batch (``.xml.gz`` shaped like the PubmedArticle records the
  MEDLINE_XML_TO_TEXT stage parses) plus a (term, concept_id) dictionary
  with multi-token terms; concept mentions follow a Zipf law, so a few hot
  concepts dominate the cooccurrence shuffle;
* a near-duplicate corpus arriving in K batches, with planted clusters of
  near-copies and "boilerplate families" whose members share most of
  their text (they collide in LSH buckets above the bucket cap) but stay
  below the Jaccard threshold, plus a quality side table.

The texts avoid every construct on which the staged and the fused
concept filters disagree (stopword-only terms, brackets, terms shorter
than the length threshold), and planted mentions are always separated by
filler words, so the outermost planted terms are exactly the concepts a
correct chain keeps.
"""

from __future__ import annotations

import bisect
import gzip
import json
import os
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

#: filler words: never dictionary terms (term words are generated below
#: and checked against this set)
FILLER = (
    "patients study results cohort analysis observed increased reduced "
    "measured samples levels response treatment during clinical outcome "
    "significant compared control group baseline associated effect model "
    "expression reported assessed data trial follow using higher lower "
    "human mouse tissue cells activity function structure pathway novel "
    "evidence suggest showed revealed across within among between under "
    "several multiple specific early late acute chronic primary secondary "
    "mechanism role potential marker rate risk factor exposure dose time"
).split()

_ONSETS = "b br d dr f g gr k kl l m n p pl r s st t tr v z".split()
_VOWELS = "a e i o u ai eo".split()
_CODAS = "n r s x l m".split()

ARTICLE = """  <PubmedArticle>
    <MedlineCitation>
      <PMID Version="1">{pmid}</PMID>
      <Article>
        <Journal><JournalIssue><PubDate><Year>{year}</Year></PubDate></JournalIssue></Journal>
        <ArticleTitle>{title}</ArticleTitle>
        <Abstract><AbstractText>{abstract}</AbstractText></Abstract>
      </Article>
    </MedlineCitation>
  </PubmedArticle>"""

_PREFIXES = ("CHEBI", "MONDO", "HP", "UBERON", "CL", "GO", "PR", "NCBITaxon")

#: near-dup tokenization, as the program's word shingles define it
_DEDUP_TOKEN = re.compile(r"[a-z0-9]+")

# Traffic of the MEDLINE chain. No measured MEDLINE traffic is in the
# repository: SCALING.md states only that concept frequency is Zipf-skewed
# (a few concepts in a large share of documents). Each value below is an
# unverified assumption, to be replaced once measured traffic is in the
# repository.
#: distinct concepts in the dictionary (assumption)
N_CONCEPTS = 1500
#: Zipf exponent of concept frequency (assumption; SCALING.md: Zipf, no exponent)
ZIPF_S = 1.1
#: abstract sentences per document, plus the title (assumption)
SENTENCES_PER_DOC = 8
#: distinct concepts planted per document, drawn uniformly (assumption)
CONCEPTS_PER_DOC = (3, 9)
#: share of concepts that also have a two-token synonym (assumption)
MULTI_TOKEN_SHARE = 0.25
#: .xml.gz files per MEDLINE batch
N_FILES = 4

# Traffic of the near-dup index. The duplicate mix is the repository's
# "realistic mixed corpus" (scripts/make_mixed_data.py, SCALING.md): 20% of
# the documents are members of near-duplicate clusters whose sizes follow
# Zipf(2) over 2-10, and members share a base text and differ in one
# per-member suffix token. Its unique texts splice halves of real seed
# texts that are not in the repository, so unique texts here are random
# words (assumption).
#: share of documents in near-duplicate clusters (make_mixed_data.py)
DUP_SHARE = 0.2
#: cluster sizes and their weights, pmf proportional to 1/s^2 (make_mixed_data.py)
CLUSTER_SIZES = tuple(range(2, 11))
CLUSTER_WEIGHTS = tuple(1.0 / s**2 for s in CLUSTER_SIZES)
#: share of documents in boilerplate families: members share a long common
#: block (pairwise Jaccard ~0.65), so their LSH buckets exceed the bucket
#: cap without being duplicates. A deliberate stress setting; the
#: repository documents no over-cap share for real corpora (assumption)
OVERCAP_SHARE = 0.2
#: words per document (assumption)
DOC_WORDS = (80, 140)
#: near-dup vocabulary (assumption)
VOCAB = 5000
#: Jaccard threshold, the program's default (cli.py --threshold)
THRESHOLD = 0.8


@dataclass
class ChainInputs:
    """Files and truth of one MEDLINE→KG chain input."""

    xml_dir: str
    dictionary: str
    #: doc_id (``PMID:<n>``) -> planted concept ids (outermost mentions)
    planted: dict[str, frozenset[str]]
    #: doc_id -> number of sentences (title + abstract sentences)
    sentences: dict[str, int]
    props: dict = field(default_factory=dict)


@dataclass
class NearDupInputs:
    """Files and truth of one near-duplicate index input."""

    batches: list[str]
    quality: str
    #: doc_id -> text (the exact-Jaccard reference recomputes from this)
    texts: dict[str, str]
    quality_by_doc: dict[str, float]
    #: planted near-copy clusters (lists of doc ids)
    clusters: list[list[str]]
    threshold: float
    props: dict = field(default_factory=dict)


def _word_pool(rng: random.Random, n: int, forbidden: set[str]) -> list[str]:
    """``n`` distinct pronounceable words of >= 6 letters, none in
    ``forbidden``."""
    out: list[str] = []
    seen = set(forbidden)
    while len(out) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(2, 3))
        ) + rng.choice(_CODAS)
        if len(w) >= 6 and w not in seen:
            seen.add(w)
            out.append(w)
    return out


class _Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1/(r+1)^s."""

    def __init__(self, n: int, s: float):
        acc, self.cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def _filler(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(FILLER) for _ in range(n)]


def _sentence(rng: random.Random, mentions: list[str]) -> str:
    """Filler words with each mention separated by at least one filler
    word, so no two mentions can form a longer dictionary n-gram."""
    words = _filler(rng, rng.randint(4, 10))
    for m in mentions:
        words.append(m)
        words += _filler(rng, rng.randint(2, 8))
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def make_chain_inputs(out_dir: str, seed: int, n_docs: int) -> ChainInputs:
    """Write a MEDLINE batch of ``n_docs`` abstracts (``N_FILES`` .xml.gz
    files) and a term dictionary under ``out_dir``; return the planted
    truth."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    words = _word_pool(rng, N_CONCEPTS, set(FILLER))
    # concept i has the single-token term words[i]; MULTI_TOKEN_SHARE of the
    # concepts ALSO have a two-token synonym ("w_i w_j"), whose constituent
    # words are themselves terms of other concepts — a planted two-token
    # mention therefore also matches two nested single-token terms, which
    # the nested-annotation filter must remove.
    terms: dict[str, list[str]] = {}
    ids = []
    for i, w in enumerate(words):
        cid = f"{_PREFIXES[i % len(_PREFIXES)]}:{1000000 + i}"
        ids.append(cid)
        terms[cid] = [w]
    multi: dict[str, str] = {}
    for i in rng.sample(range(N_CONCEPTS), int(N_CONCEPTS * MULTI_TOKEN_SHARE)):
        j = rng.randrange(N_CONCEPTS)
        if j != i:
            multi[ids[i]] = f"{words[i]} {words[j]}"
            terms[ids[i]].append(multi[ids[i]])
    dict_rows = [(t, cid) for cid in ids for t in terms[cid]]
    rng.shuffle(dict_rows)
    dict_path = os.path.join(out_dir, "dictionary.parquet")
    pq.write_table(
        pa.table(
            {"term": [t for t, _ in dict_rows], "concept_id": [c for _, c in dict_rows]}
        ),
        dict_path,
    )

    zipf = _Zipf(N_CONCEPTS, ZIPF_S)
    xml_dir = os.path.join(out_dir, "medline")
    os.makedirs(xml_dir, exist_ok=True)
    planted: dict[str, frozenset[str]] = {}
    n_sents: dict[str, int] = {}
    articles: list[list[str]] = [[] for _ in range(N_FILES)]
    pmid0 = 10_000_000 + rng.randrange(1_000_000)
    total_words = 0
    for d in range(n_docs):
        pmid = pmid0 + d
        k = rng.randint(*CONCEPTS_PER_DOC)
        concepts: set[str] = set()
        while len(concepts) < k:
            concepts.add(ids[zipf.draw(rng)])
        mentions = [rng.choice(terms[c]) for c in sorted(concepts)]
        rng.shuffle(mentions)
        title = _sentence(rng, mentions[:1])
        slots: list[list[str]] = [[] for _ in range(SENTENCES_PER_DOC)]
        for m in mentions[1:]:
            slots[rng.randrange(SENTENCES_PER_DOC)].append(m)
        sents = [_sentence(rng, s) for s in slots]
        abstract = " ".join(sents)
        total_words += len(title.split()) + len(abstract.split())
        planted[f"PMID:{pmid}"] = frozenset(concepts)
        n_sents[f"PMID:{pmid}"] = 1 + len(sents)
        articles[d % N_FILES].append(
            ARTICLE.format(
                pmid=pmid, year=rng.randint(1990, 2024), title=title, abstract=abstract
            )
        )
    for f, arts in enumerate(articles):
        xml = (
            '<?xml version="1.0"?>\n<PubmedArticleSet>\n'
            + "\n".join(arts)
            + "\n</PubmedArticleSet>\n"
        )
        # mtime=0: byte-identical files for a given seed
        with open(os.path.join(xml_dir, f"pubmed_{f:04d}.xml.gz"), "wb") as raw:
            with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
                gz.write(xml.encode())
    counts: dict[str, int] = {}
    for cs in planted.values():
        for c in cs:
            counts[c] = counts.get(c, 0) + 1
    props = {
        "docs": n_docs,
        "mean_words_per_doc": round(total_words / n_docs, 2),
        "sentences_per_doc": 1 + SENTENCES_PER_DOC,
        "concepts": N_CONCEPTS,
        "dictionary_terms": len(dict_rows),
        "multi_token_terms": len(multi),
        "zipf_s": ZIPF_S,
        "mean_concepts_per_doc": round(sum(map(len, planted.values())) / n_docs, 3),
        "hottest_concept_doc_share": round(max(counts.values()) / n_docs, 4),
        "distinct_concepts_used": len(counts),
    }
    _write_truth(
        out_dir, props, {"planted": {d: sorted(cs) for d, cs in planted.items()}, "sentences": n_sents}
    )
    return ChainInputs(xml_dir, dict_path, planted, n_sents, props)


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct word k-shingles under the program's ``[a-z0-9]+``
    tokenization (documents with fewer than k words have none)."""
    w = _DEDUP_TOKEN.findall(text)
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def make_near_dup_inputs(
    out_dir: str, seed: int, n_docs: int, n_batches: int, family_size: int
) -> NearDupInputs:
    """Write ``n_batches`` (doc_id, text) parquet batches and a
    (doc_id, quality) side table under ``out_dir``.

    * ``DUP_SHARE`` of the documents sit in planted near-duplicate
      clusters (sizes drawn from ``CLUSTER_SIZES``): a base text, and each
      member the base plus its own suffix token;
    * ``OVERCAP_SHARE`` sit in boilerplate families of ``family_size``
      documents sharing a long common block with unique tails — they share
      LSH buckets far above the bucket cap, but their pairwise Jaccard is
      about 0.65, below the threshold, so they are candidates that fail
      verification;
    * the rest are unrelated random texts.

    Arrival order is a seeded shuffle, so cluster members are spread over
    batches."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    pool = _word_pool(rng, VOCAB, set())

    def text(n: int) -> list[str]:
        return [rng.choice(pool) for _ in range(n)]

    docs: list[list[str]] = []
    clusters_idx: list[list[int]] = []
    target = int(n_docs * DUP_SHARE)
    while len(docs) < target:
        size = min(rng.choices(CLUSTER_SIZES, CLUSTER_WEIGHTS)[0], target - len(docs))
        if size < 2:
            break
        base = text(rng.randint(*DOC_WORDS))
        clusters_idx.append(list(range(len(docs), len(docs) + size)))
        docs += [base + text(1) for _ in range(size)]
    n_clustered = len(docs)
    n_family = int(n_docs * OVERCAP_SHARE) // family_size * family_size
    for _ in range(n_family // family_size):
        block = text(DOC_WORDS[1])
        for _ in range(family_size):
            docs.append(block + text(DOC_WORDS[1] // 4))
    while len(docs) < n_docs:
        docs.append(text(rng.randint(*DOC_WORDS)))

    order = list(range(len(docs)))
    rng.shuffle(order)
    # ids are assigned in arrival order, zero-padded so string order equals
    # arrival order (the star policy's representative is the minimum id)
    doc_id = {src: f"d{pos:07d}" for pos, src in enumerate(order)}
    texts = {doc_id[i]: " ".join(w) for i, w in enumerate(docs)}
    quality = {d: round(rng.random(), 6) for d in sorted(texts)}
    batches = []
    per = -(-len(order) // n_batches)
    for b in range(n_batches):
        ids = [doc_id[i] for i in order[b * per : (b + 1) * per]]
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": [texts[d] for d in ids]}), path)
        batches.append(path)
    q_path = os.path.join(out_dir, "quality.parquet")
    pq.write_table(
        pa.table({"doc_id": list(quality), "quality": list(quality.values())}), q_path
    )
    clusters = [[doc_id[i] for i in c] for c in clusters_idx]
    props = {
        "docs": len(texts),
        "batches": n_batches,
        "mean_words_per_doc": round(sum(map(len, docs)) / len(docs), 2),
        "dup_share": round(n_clustered / len(docs), 4),
        "clusters": len(clusters),
        "max_cluster_size": max(map(len, clusters), default=0),
        "overcap_share": round(n_family / len(docs), 4),
        "family_size": family_size,
        "threshold": THRESHOLD,
    }
    _write_truth(out_dir, props, {"clusters": clusters})
    return NearDupInputs(batches, q_path, texts, quality, clusters, THRESHOLD, props)


def _write_truth(out_dir: str, props: dict, truth: dict) -> None:
    """Record the planted truth and the traffic properties next to the
    inputs (the program is never pointed at this file)."""
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({"properties": props, "truth": truth}, f, sort_keys=True)
