"""Text-analysis and deduplication operators for the documents table.

Large-scale training-data pipeline operators, each expressed as native
DataFrame ops (JVM-side, whole-stage codegen — no Python in the data
path) with semantics deliberately chosen to be portable to ANSI SQL so
every operator has a DuckDB oracle:

* exact dedup           — hash groupBy (md5 of normalized text)
* word-set Jaccard      — exact near-dup pairs via explode + self-join
* MinHash LSH           — banded min-hash buckets with a tunable
                          (bands, rows-per-band) trade-off; candidates
                          by bucket equality (the 100TB-scale path)
* SimHash               — 64-bit sign-vote fingerprint + banded LSH
* language ID           — stopword-hit heuristic
* quality scoring       — length/punctuation/stopword/diversity ratios
* token counting        — whitespace + BPE-ish regex tokenization
* fingerprinting        — sha256 over whitespace-normalized text

Portability notes (kept identical in the SQL oracles): hashes are
``md5``/``sha2`` hex strings (never engine-specific ``xxhash64``),
min-hash minima are lexicographic string minima, SimHash bit votes are
parities of md5 hex digits (``ascii(char) % 2``), and all double
aggregates are rounded at the emit boundary with the engine-portable
``portable.pround`` (Spark's ROUND rounds the decimal string, other
engines round the binary value — they disagree at decimal ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .portable import pround, pround_signed

# Shared tokenization: lowercase, split on whitespace runs, drop empties.


def _tokens(col):
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


# Stopword tables per language for the language-ID heuristic —
# realistic sizes (55-65 words/lang, the standard published stopword
# inventories), loaded as a broadcast vocabulary table at query time
# (see ``lang_vocab_df``), NOT inlined into the expression tree: at
# these sizes an isin() per language bloats codegen, while a 360-row
# broadcast join costs one hash probe per token. Cross-language
# collisions ("la" fr/es/it, "is" en/nl, de/nl overlap, ...) are part
# of the data; the tie-break rule in ``language_id`` resolves them
# deterministically.
LANG_STOPWORDS = {
    "de": (
        "aber", "alle", "als", "also", "am", "an", "auch", "auf", "aus",
        "bei", "bin", "bis", "das", "dass", "dem", "den", "der", "des",
        "die", "doch", "durch", "ein", "eine", "einem", "einen", "einer",
        "er", "es", "für", "hat", "haben", "ich", "im", "in", "ist",
        "ja", "kann", "mit", "nach", "nicht", "noch", "nur", "oder",
        "sich", "sie", "sind", "so", "über", "um", "und", "von", "vor",
        "war", "wenn", "werden", "wie", "zu", "zum", "zur"),
    "en": (
        "a", "about", "after", "all", "also", "an", "and", "any", "are",
        "as", "at", "be", "been", "but", "by", "can", "could", "did",
        "do", "for", "from", "had", "has", "have", "he", "her", "his",
        "if", "in", "into", "is", "it", "its", "more", "my", "no",
        "not", "of", "on", "one", "or", "other", "our", "she", "so",
        "some", "than", "that", "the", "their", "them", "then", "there",
        "they", "this", "to", "was", "were", "which", "will", "with",
        "would", "you"),
    "es": (
        "al", "algo", "ante", "antes", "aunque", "bien", "cada", "como",
        "con", "cual", "cuando", "de", "del", "desde", "donde", "dos",
        "el", "ella", "ellos", "en", "entre", "era", "es", "esa", "ese",
        "esta", "este", "fue", "ha", "hay", "la", "las", "le", "lo",
        "los", "más", "me", "mi", "muy", "no", "nos", "o", "para",
        "pero", "por", "porque", "que", "se", "ser", "si", "sin",
        "sobre", "son", "su", "sus", "también", "te", "tiene", "todo",
        "un", "una", "uno", "y", "ya"),
    "fr": (
        "au", "aux", "avec", "ce", "ces", "cette", "dans", "de", "des",
        "du", "elle", "en", "est", "et", "être", "il", "ils", "je",
        "la", "le", "les", "leur", "lui", "mais", "me", "même", "mes",
        "moi", "mon", "ne", "nos", "notre", "nous", "on", "ou", "où",
        "par", "pas", "plus", "pour", "qui", "que", "sa", "se", "ses",
        "son", "sont", "sur", "tout", "tu", "un", "une", "vous", "y"),
    "it": (
        "a", "ai", "al", "alla", "anche", "che", "chi", "ci", "come",
        "con", "da", "dai", "dal", "della", "delle", "dei", "di", "e",
        "è", "era", "gli", "ha", "hanno", "i", "il", "in", "io", "la",
        "le", "lo", "loro", "ma", "mi", "ne", "nel", "nella", "non",
        "o", "per", "più", "quella", "questo", "se", "si", "sia",
        "sono", "su", "sua", "suo", "tra", "tu", "un", "una", "uno"),
    "nl": (
        "aan", "al", "alle", "als", "bij", "dan", "dat", "de", "der",
        "deze", "die", "dit", "door", "een", "en", "er", "had", "heb",
        "heeft", "hem", "het", "hier", "hij", "hoe", "ik", "in", "is",
        "je", "kan", "maar", "me", "meer", "met", "mij", "mijn", "naar",
        "niet", "nog", "nu", "of", "om", "ons", "ook", "op", "over",
        "te", "toen", "tot", "uit", "van", "veel", "voor", "was", "wat",
        "we", "wel", "wie", "wij", "zal", "ze", "zich", "zijn", "zo",
        "zou"),
}
LANG_IDS = tuple(sorted(LANG_STOPWORDS))

# The English table doubles as the stopword-ratio vocabulary of
# ``quality_score`` (single source with its oracle's IN-list).
EN_STOPWORDS = LANG_STOPWORDS["en"]


# --- exact dedup --------------------------------------------------------

def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5 of whitespace-normalized text.

    Keeps the lowest doc_id as the canonical representative; one
    shuffle (the groupBy), map-side partial aggregation for free.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        documents
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                F.md5(norm).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"),
             F.count("*").alias("n_copies"))
    )


# --- exact word-set Jaccard pairs ---------------------------------------

def jaccard_pairs(documents: DataFrame, threshold: float = 0.55,
                  max_doc_id: int = 200) -> DataFrame:
    """Exact 1-gram-set Jaccard near-dup pairs (a < b), via
    explode → equi-join on token → count intersections.

    The O(n²) candidate space is bounded (``max_doc_id``) — this is
    the *verifier*; at scale MinHash-LSH prunes candidates first and
    this join runs only inside buckets.
    """
    toks = (
        documents
        .where(F.col("doc_id") < max_doc_id)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                F.explode(F.array_distinct(_tokens(F.col("text"))))
                 .alias("tok"))
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_tok", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("n_tok", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            pround(F.col("n_inter")
                   / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- MinHash LSH ---------------------------------------------------------

N_BANDS = 4
SHINGLE_W = 3


def _shingles(tokens_col, width: int = SHINGLE_W):
    """Word ``width``-gram shingles; empty array when fewer than
    ``width`` tokens.

    Built from ``width`` shifted slices zipped together. Deliberately
    NOT ``transform(sequence(...), i -> element_at(tokens, i))``: a
    lambda that references the outer tokens *expression* makes
    interpreted higher-order functions re-evaluate it per element —
    O(n²) splits per row (measured 30×+ slowdown at 5k docs). Here
    every lambda touches only its own arguments.
    """
    n = F.size(tokens_col)
    m = F.greatest(n - (width - 1), F.lit(0))
    out = F.slice(tokens_col, 1, m)
    for k in range(2, width + 1):
        shifted = F.slice(tokens_col, k, m)
        out = F.zip_with(out, shifted,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def minhash_signatures(documents: DataFrame, n_bands: int = N_BANDS,
                       rows_per_band: int = 1) -> DataFrame:
    """Banded min-hash with a tunable (b, r) trade-off.

    ``n_bands * rows_per_band`` independent hash-family members; the
    signature of band ``b`` is the '|'-joined concatenation of the
    ``rows_per_band`` lexicographic minima of
    ``md5(member || ':' || shingle)`` for members ``b*r .. b*r+r-1``.
    Two documents collide in a band iff all ``r`` member minima agree,
    giving the classic S-curve candidate probability
    ``1 - (1 - s^r)^b`` for Jaccard similarity ``s`` — raise ``r`` to
    push the threshold up (fewer, higher-precision candidates), raise
    ``b`` to push recall up. ``r=1`` reproduces the legacy layout
    (member id == band id), keeping the r1 oracles byte-stable.

    Output: (doc_id, band, minhash) — long format so the bucket join
    is a plain equi-join on (band, minhash).
    """
    def member_hash(member: int):
        # NB: a single-parameter lambda is required — pyspark's
        # transform() treats two-parameter callables as (element,
        # index), so a `m=member` default would silently receive the
        # array index instead of the member id.
        prefix = f"{member}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    def band_sig(band: int):
        mins = [
            F.array_min(F.transform(
                F.col("sh"), member_hash(band * rows_per_band + j)))
            for j in range(rows_per_band)
        ]
        if rows_per_band == 1:
            return mins[0]
        # F.concat (not concat_ws): NULL-propagating like SQL ||, so
        # shingle-less docs yield NULL signatures in every engine.
        parts: list = []
        for j, m in enumerate(mins):
            if j:
                parts.append(F.lit("|"))
            parts.append(m)
        return F.concat(*parts)

    bands = [
        F.struct(
            F.lit(band).alias("band"),
            band_sig(band).alias("minhash"),
        )
        for band in range(n_bands)
    ]
    return (
        documents
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                _shingles(_tokens(F.col("text"))).alias("sh"))
        .select("doc_id", F.explode(F.array(*bands)).alias("bm"))
        .select("doc_id", F.col("bm.band").alias("band"),
                F.col("bm.minhash").alias("minhash"))
        .where(F.col("minhash").isNotNull())
    )


def minhash_candidates(documents: DataFrame, n_bands: int = N_BANDS,
                       rows_per_band: int = 1) -> DataFrame:
    """Near-dup candidate pairs: docs sharing any band bucket.

    This is the scale path: shuffle is on (band, minhash) — bucket
    sizes, not n² — and the exact Jaccard verifier then runs only on
    these pairs. (b, r) tune the similarity threshold of the S-curve;
    see ``minhash_signatures``.
    """
    sigs = minhash_signatures(documents, n_bands, rows_per_band)
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.minhash") == F.col("b.minhash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_clusters(documents: DataFrame,
                   max_iterations: int = 15,
                   n_bands: int = N_BANDS,
                   rows_per_band: int = 1) -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash
    candidate graph; cluster id = min doc_id of the component.
    """
    edges = minhash_candidates(documents, n_bands, rows_per_band)
    return _connected_components(documents, edges, max_iterations)


def _connected_components(documents: DataFrame, edges: DataFrame,
                          max_iterations: int = 15) -> DataFrame:
    """Connected components over ``edges`` (doc_a, doc_b); every
    document gets a row, singletons are their own root.

    Iterative Hash-to-Min-style label propagation with pointer
    jumping: each round a doc's label becomes the min of (its label,
    its neighbors' labels, its label's label). The pointer-jump term
    gives O(log n) convergence instead of O(diameter) — the property
    that matters when a hot template chains millions of near-dup pages
    at 10^12 scale. Lineage is cut per round (localCheckpoint) so the
    plan doesn't grow with iterations.
    """
    und = (
        edges.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst"))
        .unionByName(edges.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
    )
    und = und.localCheckpoint(eager=True)
    labels = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("doc_id").cast("bigint").alias("root"),
    ).localCheckpoint(eager=True)

    for _ in range(max_iterations):
        nbr = (
            und.join(labels, und.dst == labels.doc_id)
            .groupBy("src").agg(F.min("root").alias("nbr_root"))
            .withColumnRenamed("src", "doc_id")
        )
        jump = labels.select(F.col("doc_id").alias("jump_key"),
                             F.col("root").alias("jump_root"))
        new_labels = (
            labels
            .join(nbr, "doc_id", "left")
            .join(jump, labels.root == jump.jump_key, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("root"),
                    F.coalesce("nbr_root", F.col("root")),
                    F.coalesce("jump_root", F.col("root")),
                ).alias("root"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.root") != F.col("o.root"))
        )
        labels = new_labels
        if changed.isEmpty():
            break
    return labels.select("doc_id", F.col("root").alias("cluster_root"))


VERIFY_JACCARD_THRESHOLD = 0.8


def verified_near_dup_pairs(documents: DataFrame,
                            threshold: float = VERIFY_JACCARD_THRESHOLD,
                            n_bands: int = N_BANDS,
                            rows_per_band: int = 1) -> DataFrame:
    """Exact shingle-Jaccard verification ON CANDIDATE PAIRS ONLY.

    The composed candidates→verify step of the dedup pipeline: MinHash
    LSH proposes pairs (bucket equi-join, never n²), then the exact
    3-shingle Jaccard runs only on those pairs — the verifier's join
    fans out per candidate pair, so its cost is O(candidates ×
    shingles/doc), independent of corpus size. Output:
    (doc_a, doc_b, jaccard ≥ threshold).
    """
    cands = minhash_candidates(documents, n_bands, rows_per_band)
    return _verify_jaccard(documents, cands, threshold)


def _verify_jaccard(documents: DataFrame, cands: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact 3-shingle Jaccard over candidate pairs only: the joins
    against the shingle table restrict themselves to docs appearing
    in ``cands``, so cost is O(candidates × shingles/doc) regardless
    of how big ``documents`` is."""
    sh = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.array_distinct(_shingles(_tokens(F.col("text")))))
         .alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        cands
        .join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), (F.col("doc_b") == F.col("sb.doc_id"))
              & (F.col("sa.sh") == F.col("sb.sh")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            pround(F.col("n_inter")
                   / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                   6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def verified_near_dup_clusters(
        documents: DataFrame,
        threshold: float = VERIFY_JACCARD_THRESHOLD,
        n_bands: int = N_BANDS,
        rows_per_band: int = 1,
        max_iterations: int = 15) -> DataFrame:
    """The full dedup pipeline as ONE operator:
    candidates (MinHash LSH) → exact Jaccard verify on candidates only
    → connected components over the verified edges.

    This is :func:`dedup_clusters` with false-positive candidates
    (docs that merely collided in a band) removed before clustering —
    at a hot-template corpus scale the verify step is what keeps
    transitive chaining from collapsing loosely-similar pages into one
    giant cluster. Output: (doc_id, cluster_root) for every document.
    """
    edges = verified_near_dup_pairs(
        documents, threshold, n_bands, rows_per_band
    ).select("doc_a", "doc_b")
    return _connected_components(documents, edges, max_iterations)


# --- incremental (append-mode) dedup ---------------------------------------


def incremental_candidates(committed_sigs: DataFrame,
                           new_sigs: DataFrame) -> DataFrame:
    """Candidate pairs TOUCHING THE DELTA only: new-vs-new (banded
    self-join of the delta signatures) plus new-vs-committed (the
    delta probes the committed signature table on (band, minhash)).
    Committed-vs-committed pairs never form — their signatures are
    immutable, so snapshot 1 already resolved them. Output: distinct
    (doc_a, doc_b), doc_a < doc_b.

    Scale shape: both joins are equi-joins keyed on (band, minhash).
    The probe side (delta) is crawl-snapshot-sized; store the
    committed signature table bucketed by (band, minhash) and the
    probe is co-located — the committed side never reshuffles.
    """
    a, b = new_sigs.alias("a"), new_sigs.alias("b")
    cand_dd = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.minhash") == F.col("b.minhash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
    )
    c = committed_sigs.select(
        F.col("doc_id").cast("bigint").alias("cdoc"),
        "band", "minhash")
    cand_cd = (
        c.join(new_sigs, ["band", "minhash"])
        .where(F.col("cdoc") != F.col("doc_id"))
        .select(F.least("cdoc", "doc_id").alias("doc_a"),
                F.greatest("cdoc", "doc_id").alias("doc_b"))
    )
    return cand_dd.unionByName(cand_cd).distinct()


def incremental_near_dup_clusters(
        all_docs: DataFrame,
        committed_sigs: DataFrame,
        committed_clusters: DataFrame,
        new_docs: DataFrame,
        threshold: float = VERIFY_JACCARD_THRESHOLD,
        n_bands: int = N_BANDS,
        rows_per_band: int = 1,
        max_iterations: int = 15) -> DataFrame:
    """Append-mode dedup: fold a crawl delta into a committed
    clustering WITHOUT re-clustering the world.

    A 100 TB pipeline cannot recompute connected components over the
    full corpus per crawl snapshot. Docs never leave, so components
    only MERGE — which makes the incremental answer exactly the batch
    answer (``verified_near_dup_clusters`` over committed ∪ delta),
    provable because every stage is delta-restricted yet loses
    nothing:

    1. candidates touch the delta only (:func:`incremental_candidates`
       — committed-committed candidates are immutable and already
       resolved);
    2. exact-Jaccard verify runs on those candidates only
       (:func:`_verify_jaccard` — O(candidate pairs));
    3. connected components re-run ONLY over the touched subgraph:
       the delta docs plus the full membership of committed
       components containing a verified edge endpoint. Committed
       memberships enter as (doc → cluster_root) edges — they encode
       snapshot 1's connectivity exactly, so merging them with the
       new verified edges reproduces the batch components, and
       min-doc_id roots come out identical. Every other committed row
       keeps its assignment untouched.

    Cost therefore scales with the delta (candidates, verify, and the
    CC subgraph are all delta-proportional), not the corpus — proven
    by the resume-style test in ``tests/test_incremental_dedup.py``.
    ``new_docs.doc_id`` must be disjoint from the committed ids
    (append-mode contract; ``run_incremental_dedup_job`` derives the
    delta by anti-join, which guarantees it).
    """
    new_sigs = minhash_signatures(
        new_docs, n_bands, rows_per_band).localCheckpoint(eager=True)
    verified = _verify_jaccard(
        all_docs, incremental_candidates(committed_sigs, new_sigs),
        threshold,
    ).select("doc_a", "doc_b").localCheckpoint(eager=True)

    cc = committed_clusters.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_root").cast("bigint").alias("cluster_root"))
    touched = (
        verified.select(F.col("doc_a").alias("doc_id"))
        .unionByName(verified.select(F.col("doc_b").alias("doc_id")))
        .distinct())
    # components containing any touched committed doc: these (and
    # only these) can merge — pull their full membership into the CC
    affected_roots = (cc.join(touched, "doc_id")
                      .select("cluster_root").distinct())
    affected = cc.join(affected_roots, "cluster_root")
    new_ids = new_docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"))
    sub_docs = (affected.select("doc_id")
                .unionByName(new_ids).distinct())
    membership_edges = (
        affected.where(F.col("doc_id") != F.col("cluster_root"))
        .select(F.col("doc_id").alias("doc_a"),
                F.col("cluster_root").alias("doc_b")))
    sub_assign = _connected_components(
        sub_docs, verified.unionByName(membership_edges),
        max_iterations)
    untouched = cc.join(affected_roots, "cluster_root", "left_anti"
                        ).select("doc_id", "cluster_root")
    return untouched.unionByName(sub_assign)


def incremental_dedup(documents: DataFrame,
                      delta_mod: int = 4) -> DataFrame:
    """Driver-registered demonstration of append-mode dedup on one
    table: docs with ``doc_id % delta_mod == 0`` arrive as the second
    crawl snapshot; the rest are the committed corpus with its batch
    signatures and clustering. Because the incremental path equals
    the batch path by construction (see
    :func:`incremental_near_dup_clusters`), the oracle IS the batch
    ``verified_dedup_clusters`` SQL over the full table — equality
    with it is precisely the correctness claim.
    """
    did = F.col("doc_id").cast("bigint")
    committed = documents.where(did % delta_mod != 0)
    delta = documents.where(did % delta_mod == 0)
    return incremental_near_dup_clusters(
        documents,
        minhash_signatures(committed),
        verified_near_dup_clusters(committed),
        delta)


# --- benchmark decontamination -------------------------------------------

DECONTAM_NGRAM_W = 8
DECONTAM_BENCH_IDS = 20  # doc_id < 20 form the held-out benchmark set


def decontaminate(documents: DataFrame,
                  n_bench: int = DECONTAM_BENCH_IDS,
                  width: int = DECONTAM_NGRAM_W) -> DataFrame:
    """Train/test decontamination: flag documents sharing any
    ``width``-gram with the held-out benchmark set (here: doc_id <
    ``n_bench``, standing in for an eval-suite table).

    The standard pre-training hygiene pass (GPT-3/PaLM-style 8-13-gram
    overlap): the benchmark's distinct n-grams are a broadcast-sized
    set (eval suites are tiny next to the corpus), so the check is one
    broadcast-hash join probe per document n-gram plus one doc_id
    groupBy — no shuffle of the corpus against itself, which is what
    makes it a map-side pass at 10^12 rows. A sentinel empty gram
    keeps zero-hit documents in the output (no join back).

    Output: (doc_id, n_hits, is_contaminated) for EVERY document;
    benchmark members trivially match themselves (n_hits = their own
    gram count) — consumers drop ``doc_id < n_bench`` rows or use
    them as the positive control.
    """
    grams = _shingles(_tokens(F.col("text")), width=width)
    bench = (
        documents.where(F.col("doc_id") < n_bench)
        .select(F.explode(F.array_distinct(grams)).alias("bgram"))
        .distinct()
    )
    doc_grams = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.concat(grams, F.array(F.lit("")))).alias("gram"))
    return (
        doc_grams
        .join(F.broadcast(bench), doc_grams.gram == bench.bgram, "left")
        .groupBy("doc_id")
        .agg(F.sum(F.when(F.col("bgram").isNotNull(), 1).otherwise(0))
             .cast("bigint").alias("n_hits"))
        .select("doc_id", "n_hits",
                (F.col("n_hits") > 0).alias("is_contaminated"))
    )


DECONTAM_FUZZY_JACCARD = 0.5


def fuzzy_decontaminate(documents: DataFrame,
                        n_bench: int = DECONTAM_BENCH_IDS,
                        threshold: float = DECONTAM_FUZZY_JACCARD,
                        n_bands: int = N_BANDS,
                        rows_per_band: int = 1) -> DataFrame:
    """Fuzzy train/test decontamination: flag documents whose exact
    shingle-Jaccard against ANY held-out benchmark document reaches
    ``threshold``, with MinHash LSH proposing the candidate pairs.

    The n-gram pass (:func:`decontaminate`) only catches verbatim
    overlap; paraphrased or lightly-edited benchmark leakage needs a
    similarity check. Running Jaccard corpus × benchmark is an n×m
    cross product, so the same candidates→verify shape as the dedup
    pipeline applies — except the benchmark side is tiny (eval suites
    vs the corpus), so its band signatures BROADCAST and the candidate
    step is a map-side probe: the corpus never shuffles at all, at any
    corpus size. The exact verify then runs on candidates only
    (O(candidates × shingles/doc)).

    Output: (doc_id, n_bench_matches, max_jaccard, is_contaminated)
    for EVERY document; benchmark members (doc_id < ``n_bench``)
    trivially match themselves at jaccard 1.0 — the positive control,
    same convention as :func:`decontaminate`.
    """
    sigs = minhash_signatures(documents, n_bands, rows_per_band)
    bench = (sigs.where(F.col("doc_id") < n_bench)
             .select(F.col("doc_id").alias("bench_id"),
                     "band", "minhash"))
    cands = (sigs.join(F.broadcast(bench), ["band", "minhash"])
             .select(F.col("doc_id").alias("doc_a"),
                     F.col("bench_id").alias("doc_b"))
             .distinct())
    hits = _verify_jaccard(documents, cands, threshold)
    per_doc = hits.groupBy("doc_a").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.max("jaccard").alias("mx"))
    return (
        documents.select(F.col("doc_id").cast("bigint").alias("doc_id"))
        .join(per_doc, F.col("doc_id") == F.col("doc_a"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint"))
             .alias("n_bench_matches"),
            F.coalesce(F.col("mx"), F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")) > 0)
            .alias("is_contaminated"))
    )


# --- deterministic sampling ----------------------------------------------

SAMPLE_RATE_HEX = "40000000"  # md5-prefix cutoff: keep ≈ 25%
SOURCE_QUOTA = 10             # per-source document cap


def deterministic_sample(documents: DataFrame,
                         rate_hex: str = SAMPLE_RATE_HEX,
                         quota: int = SOURCE_QUOTA) -> DataFrame:
    """Reproducible corpus sampling — the mixing/subsetting step of a
    training-data pipeline, with two independent, engine-portable
    mechanisms:

    * **Bernoulli by content-free hash**: keep a document iff the hex
      ``md5(doc_id)`` prefix sorts below ``rate_hex`` — a pure string
      comparison, so any engine computes the identical sample (no RNG,
      no seed drift, stable under repartitioning). ``"40000000"`` ≈
      rate 0.25.
    * **Per-source quota** (domain capping): rank documents within
      each source by (hash, doc_id) and keep rank ≤ ``quota`` — the
      top-k-per-domain cap that stops hot domains from dominating the
      mixture. One shuffle on source; the rank is WindowGroupLimit-
      prunable.

    Output: every document with (hash_key, kept_bernoulli, src_rank,
    kept_quota) so downstream mixing can compose the two predicates.
    """
    hashed = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("hash_key"))
    w = Window.partitionBy("source").orderBy("hash_key", "doc_id")
    return (
        hashed
        .withColumn("kept_bernoulli",
                    F.substring("hash_key", 1, len(rate_hex)) < rate_hex)
        .withColumn("src_rank", F.row_number().over(w).cast("int"))
        .withColumn("kept_quota", F.col("src_rank") <= quota)
    )


# --- weighted sampling without replacement (A-ES) --------------------------

WS_SAMPLE_K = 500          # sample size of the registered query
_WS_HEX_CHARS = 15         # 60-bit uniform draw: exact in BIGINT+DOUBLE
_WS_SPACE = float(1 << 60)


def weighted_sample(documents: DataFrame,
                    k: int = WS_SAMPLE_K) -> DataFrame:
    """Weighted sampling WITHOUT replacement — Efraimidis & Spirakis
    2006 (A-ES), the distributed algorithm for "sample K documents
    with probability proportional to weight" that every
    quality-weighted data mixture needs (``deterministic_sample`` is
    its uniform-rate sibling; ``temperature_mixture`` reweights
    sources, this samples individual documents by their own weight).

    Per document: one uniform draw ``u`` from the md5 of the doc id
    (hex prefix -> 60-bit fraction — no RNG, stable under
    repartitioning) and key ``ln(u)/w`` with ``w = n_chars + 1`` (the
    +1 keeps empty documents finite); the K LARGEST keys are the
    sample — distributionally identical to taking ``u^(1/w)`` ranks.
    ln() is the one non-portable operation, so the key is snapped to
    9 decimals (``portable.pround``) before ranking, with doc_id as
    the deterministic tie-break.

    Scale shape: the key is a pure map-side expression and the rank
    is a ``TakeOrderedAndProject`` — per-partition top-K, then one
    K-row merge; nothing corpus-sized ever shuffles. This is exactly
    how A-ES is deployed over 10^12 rows.

    Output: the K sampled (doc_id, n_chars, es_key), es_key the
    ranking key for auditability.
    """
    from .portable import hex_prefix_val

    hexv = hex_prefix_val(
        F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
        _WS_HEX_CHARS)
    u = (hexv + F.lit(1)).cast("double") / F.lit(_WS_SPACE)
    w = (F.col("n_chars").cast("bigint") + F.lit(1)).cast("double")
    key = pround_signed(F.log(u) / w, 9)
    return (documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(k))


# --- SimHash -------------------------------------------------------------

# 64 bits (Manku et al.'s standard width): one parity vote per hex
# digit of md5(token) || md5('1:' || token). Narrower widths saturate —
# 16 bits collapses at a few thousand docs, and 32 bits is still noise
# at the 10^12 design point (2^32 distinct values ≪ corpus size, and
# 8-bit bands give only 256 buckets, so each band-bucket would hold
# ~4×10^9 docs and the candidate join explodes). 64 bits with 16-bit
# bands keeps band-buckets selective at 10^12 while staying
# oracle-expressible (two md5 halves, plain integer arithmetic).
SIMHASH_BITS = 64

# Signed-64 assembly: bit 63's weight is INT64_MIN (adding it flips
# the sign) so the full 64-bit pattern fits one BIGINT without
# overflow in any engine. Written as -(2^63 - 1) - 1 because the bare
# literal -9223372036854775808 does not parse as a BIGINT in SQL.
INT64_MIN = -9223372036854775807 - 1


def simhash(documents: DataFrame) -> DataFrame:
    """SimHash (SIMHASH_BITS wide): each distinct token votes ±1 per
    bit position, bit i taken from the parity of hex digit i of
    ``md5(token) || md5('1:' || token)``; positive vote sum ⇒ bit set.
    The sign trick above packs bit 63 into a signed BIGINT.
    """
    toks = (
        documents
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                F.explode(F.array_distinct(_tokens(F.col("text"))))
                 .alias("tok"))
        .withColumn("h", F.concat(
            F.md5(F.col("tok")),
            F.md5(F.concat(F.lit("1:"), F.col("tok")))))
    )
    votes = [
        F.sum(
            F.when(F.ascii(F.substring("h", i + 1, 1)) % 2 == 1, 1)
             .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sim = None
    for i in range(SIMHASH_BITS - 1):
        term = F.when(F.col(f"v{i}") > 0,
                      F.lit(2 ** i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    sim = sim + F.when(F.col(f"v{SIMHASH_BITS - 1}") > 0,
                       F.lit(INT64_MIN)).otherwise(F.lit(0))
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


SIMHASH_BANDS = 4                      # SIMHASH_BITS/4 = 16 bits per band
SIMHASH_MAX_HAMMING = 3


def simhash_candidates(documents: DataFrame) -> DataFrame:
    """Near-duplicate candidate pairs via banded SimHash LSH.

    The simhash splits into SIMHASH_BANDS bands (16 bits each at the
    current width); documents sharing any band value become candidates
    (equi-join on (band, key) — the classic LSH trick that replaces
    the O(n²) all-pairs comparison with bucket-local joins at 10^12
    scale), then candidates are verified with an exact
    Hamming-distance filter (``bit_count(a XOR b) <= 3``). Band keys
    mask to ``band_w`` bits after the shift, so arithmetic-vs-logical
    shift semantics on the signed simhash cannot differ across
    engines. Output: (doc_a, doc_b, hamming), doc_a < doc_b, distinct.
    """
    sims = simhash(documents)
    band_w = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_w) - 1
    bands = sims.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_w)
                 .bitwiseAND(F.lit(mask)).alias("key"))
            for b in range(SIMHASH_BANDS)])).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("a.simhash").alias("sim_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("b.simhash").alias("sim_b"))
        .distinct()  # a pair may collide in several bands
    )
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# --- language ID ----------------------------------------------------------

def lang_vocab_df(spark) -> DataFrame:
    """The stopword vocabulary as a (word, lang) table — the broadcast
    side of the language-ID join. On a real deployment this is where a
    full vocabulary table (thousands of words, loaded from storage)
    plugs in; the operator shape doesn't change with vocabulary size."""
    rows = [(w, lang) for lang in LANG_IDS
            for w in LANG_STOPWORDS[lang]]
    return spark.createDataFrame(rows, "word string, lang string")


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language guess over LANG_STOPWORDS (6 languages,
    ~60 words each).

    Shape: explode tokens → broadcast-hash LEFT join against the
    vocabulary table → one groupBy(doc_id) with per-language
    conditional counts (counting every occurrence). The join replaces
    per-language ``isin`` chains, so vocabulary size scales without
    bloating the codegen'd expression tree; the whole operator is one
    broadcast probe per token plus ONE shuffle (the doc_id groupBy).
    A sentinel empty token appended per document keeps zero-token
    documents in the groupBy — no second join back to the doc list
    (which would be a doc_id-sized shuffle join). Plan guarded in
    ``tests/test_plan_properties.py``.

    Emits per-language hit counts and the guess. Tie-break rule,
    applied deterministically: the guess is the unique language with
    the strictly highest hit count; if the maximum is zero or shared
    by two or more languages, the guess is 'unknown' (a shared
    maximum is genuine ambiguity — several languages share stopwords
    — and guessing one would be an arbitrary bias).
    """
    docs = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text")
    # sentinel "" matches no vocabulary word but keeps the doc's row
    toks = docs.select(
        "doc_id",
        F.explode(F.concat(_tokens(F.col("text")),
                           F.array(F.lit("")))).alias("tok"))
    vocab = lang_vocab_df(documents.sparkSession)
    counted = (
        toks.join(F.broadcast(vocab), toks.tok == vocab.word, "left")
        .groupBy("doc_id")
        .agg(*[
            F.sum(F.when(F.col("lang") == lang, 1).otherwise(0))
            .cast("int").alias(f"{lang}_hits")
            for lang in LANG_IDS])
    )
    hit_cols = [F.col(f"{lang}_hits") for lang in LANG_IDS]
    m = F.greatest(*hit_cols)
    n_max = None
    for c in hit_cols:
        term = F.when(c == m, 1).otherwise(0)
        n_max = term if n_max is None else n_max + term
    argmax = None
    for lang in LANG_IDS:
        cond = F.col(f"{lang}_hits") == m
        argmax = (F.when(cond, F.lit(lang)) if argmax is None
                  else argmax.when(cond, F.lit(lang)))
    guess = F.when((m > 0) & (n_max == 1), argmax).otherwise("unknown")
    return counted.select("doc_id", *[f"{lang}_hits" for lang in LANG_IDS],
                          guess.alias("lang_guess"))


# --- quality scoring -------------------------------------------------------

def quality_score(documents: DataFrame) -> DataFrame:
    """Deterministic quality features + a composite score.

    Features follow the published web-text quality heuristics
    (C4/Gopher-style): length, mean token length, stopword ratio,
    digit/punctuation density, token diversity.
    """
    text = F.col("text")
    toks = _tokens(text)
    n_chars = F.length(text).cast("double")
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast("double")
    n_digits = (n_chars - F.length(
        F.regexp_replace(text, r"[0-9]", ""))).cast("double")
    n_punct = (n_chars - F.length(
        F.regexp_replace(text, r"[^\w\s]", ""))).cast("double")

    safe_tokens = F.greatest(n_tokens, F.lit(1.0))
    safe_chars = F.greatest(n_chars, F.lit(1.0))
    # raw (unrounded) ratios feed the composite; rounding happens once
    # per emitted column. Composing *rounded* 1e-6 multiples would park
    # the composite exactly on round-half boundaries, where Spark and
    # other engines legitimately disagree on double rounding.
    stop_raw = stop_hits / safe_tokens
    digit_raw = n_digits / safe_chars
    punct_raw = n_punct / safe_chars
    div_raw = n_distinct / safe_tokens
    score = pround(
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.3
        + stop_raw * 0.2
        + div_raw * 0.3
        + (F.lit(1.0) - punct_raw) * 0.1
        + (F.lit(1.0) - digit_raw) * 0.1, 3)
    mean_tok_len = pround(
        (n_chars - (n_tokens - 1)) / safe_tokens, 6)
    stop_ratio = pround(stop_raw, 6)
    digit_ratio = pround(digit_raw, 6)
    punct_ratio = pround(punct_raw, 6)
    diversity = pround(div_raw, 6)
    return documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        mean_tok_len.alias("mean_tok_len"),
        stop_ratio.alias("stop_ratio"),
        digit_ratio.alias("digit_ratio"),
        punct_ratio.alias("punct_ratio"),
        diversity.alias("diversity"),
        score.alias("quality"),
    )


# --- token counting ---------------------------------------------------------

BPE_ISH_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens per document."""
    text = F.lower(F.col("text"))
    return documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(_tokens(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0)))
         .cast("bigint").alias("re_tokens"),
    )


# --- fingerprinting ----------------------------------------------------------

ROLL_BASE = 131
ROLL_MOD = 1_000_000_007  # keeps h*131+255 < 2^63: identical in any engine
CHAR_SHINGLE_W = 8


def fingerprints(documents: DataFrame) -> DataFrame:
    """Document fingerprints over whitespace-normalized lowered text:

    * ``fp_sha256`` — exact content fingerprint;
    * ``fp_prefix64`` — md5 of the 64-char prefix (cheap blocking key);
    * ``fp_roll`` — Karp-Rabin polynomial rolling hash over the char
      stream (fold ``h = (h*131 + code) mod 1e9+7`` — overflow-free in
      64-bit, so every engine computes the identical value);
    * ``fp_shingle_min`` — winnowing-style minimum md5 over 8-char
      shingles (robust to local edits, the near-dup blocking key).
    """
    norm_expr = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    df = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        norm_expr.alias("norm"))
    norm = F.col("norm")
    chars = F.filter(F.split(norm, ""), lambda ch: ch != "")
    codes = F.transform(chars, lambda ch: F.ascii(ch).cast("bigint"))
    fp_roll = F.aggregate(
        codes, F.lit(0).cast("bigint"),
        lambda h, c: (h * ROLL_BASE + c) % ROLL_MOD)
    n_sh = F.greatest(F.length(norm) - (CHAR_SHINGLE_W - 1), F.lit(0))
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.md5(norm.substr(i, F.lit(CHAR_SHINGLE_W))))
    return df.select(
        "doc_id",
        F.sha2(norm, 256).alias("fp_sha256"),
        F.md5(F.substring(norm, 1, 64)).alias("fp_prefix64"),
        fp_roll.alias("fp_roll"),
        F.when(n_sh > 0, F.array_min(shingle_hashes))
         .alias("fp_shingle_min"),
    )


# --- shingle (n-gram) Jaccard ------------------------------------------------

def shingle_jaccard_pairs(documents: DataFrame, threshold: float = 0.10,
                          max_doc_id: int = 150) -> DataFrame:
    """Exact word-3-gram-shingle Jaccard pairs (a < b) — the n-gram
    variant of ``jaccard_pairs``; the verifier MinHash-LSH candidates
    are checked against."""
    sh = (
        documents
        .where(F.col("doc_id") < max_doc_id)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                F.explode(F.array_distinct(
                    _shingles(_tokens(F.col("text"))))).alias("sh"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            pround(F.col("n_inter")
                   / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- repetition filtering (Gopher-style) ---------------------------------

TOP_WORD_FRAC_MAX = 0.20    # Gopher: top-unigram share of tokens
# Fraction of trigram OCCURRENCES belonging to duplicated trigrams —
# an occurrence-count variant of Gopher's character-fraction metric
# (Gopher weights by characters; this weights every occurrence
# equally, so the 0.30 cut is this engine's own calibration, not
# Gopher's published character-based threshold).
DUP_TRIGRAM_FRAC_MAX = 0.30


def repetition_score(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document — the filter
    family C4/Gopher used to drop boilerplate-heavy/looping pages:

    * ``top_word_frac``   — share of tokens taken by the single most
      frequent token (Gopher drops > 0.2 for the top unigram);
    * ``top_bigram_frac`` — share of bigrams taken by the most
      frequent bigram;
    * ``dup_trigram_frac`` — fraction of trigram occurrences whose
      trigram occurs more than once;
    * ``is_repetitive``   — the thresholded verdict.

    All three are explode → groupBy(doc, gram) → per-doc max/sum
    chains: every aggregate is map-side combinable, shuffles are on
    (doc_id, gram) then doc_id — the shape that survives 10^12 docs
    (no per-doc collect, no UDF). Ratios round at emit (cross-engine
    float rule, see module docstring).
    """
    toks = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _tokens(F.col("text")).alias("toks"))

    def gram_stats(df: DataFrame, prefix: str) -> DataFrame:
        per_gram = (
            df.select("doc_id", F.explode("toks").alias("g"))
            .groupBy("doc_id", "g").agg(F.count("*").alias("cnt")))
        return per_gram.groupBy("doc_id").agg(
            F.max("cnt").alias(f"top_{prefix}"),
            F.sum("cnt").alias(f"n_{prefix}"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))
                  .otherwise(0)).alias(f"dup_{prefix}"))

    bigrams = _shingles(F.col("toks"), width=2)
    trigrams = _shingles(F.col("toks"))

    uni = gram_stats(toks, "w")
    bi = gram_stats(toks.withColumn("toks", bigrams), "b")
    tri = gram_stats(toks.withColumn("toks", trigrams), "t")

    top_word_frac = pround(
        F.col("top_w") / F.greatest(F.col("n_w"), F.lit(1)), 6)
    top_bigram_frac = pround(
        F.coalesce(F.col("top_b"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n_b"), F.lit(0)), F.lit(1)), 6)
    dup_trigram_frac = pround(
        F.coalesce(F.col("dup_t"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n_t"), F.lit(0)), F.lit(1)), 6)
    return (
        uni.join(bi, "doc_id", "left").join(tri, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_w").cast("bigint").alias("n_tokens"),
            top_word_frac.alias("top_word_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            dup_trigram_frac.alias("dup_trigram_frac"),
            ((top_word_frac > TOP_WORD_FRAC_MAX)
             | (dup_trigram_frac > DUP_TRIGRAM_FRAC_MAX))
            .alias("is_repetitive"),
        )
    )


# --- canonical selection (dedup keep-best) ---------------------------------

def dedup_keep_best(documents: DataFrame,
                    threshold: float = VERIFY_JACCARD_THRESHOLD,
                    n_bands: int = N_BANDS,
                    rows_per_band: int = 1) -> DataFrame:
    """The final step of the dedup pipeline: pick ONE survivor per
    near-dup cluster, by quality.

    Composes :func:`verified_near_dup_clusters` (candidates → exact
    verify → connected components) with :func:`quality_score`: within
    each cluster the highest-quality document wins (``doc_id`` breaks
    exact quality ties — the composite is rounded to 3 decimals, so
    ties are real). Output: every document with its cluster root,
    quality, and an ``is_canonical`` keep flag — the filter a training
    mixture applies before tokenization.

    Scale shape: the cluster ⋈ quality join is doc_id-keyed (AQE picks
    the strategy), and the keep-flag window partitions by
    ``cluster_root`` — verified clusters are small by construction
    (the exact-Jaccard verify step removes the band-collision chains
    that create giant components), so the window never sees a hot key.
    """
    clusters = verified_near_dup_clusters(
        documents, threshold, n_bands, rows_per_band)
    quality = quality_score(documents).select("doc_id", "quality")
    w = Window.partitionBy("cluster_root").orderBy(
        F.desc("quality"), F.asc("doc_id"))
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_root", "quality",
                (F.col("rn") == 1).alias("is_canonical"))
    )


# --- TF-IDF top terms ------------------------------------------------------

TFIDF_TOP_K = 5


def tfidf_top_terms(documents: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (smoothed idf:
    ``ln((N+1)/(df+1)) + 1``, scikit-style so unseen-term idf stays
    positive).

    Shape: one token explode → (doc_id, term) count [shuffle 1] →
    term-level document frequency re-aggregated FROM the tf table
    [shuffle 2 — df is ``count(*)`` over (doc, term) rows, no second
    distinct pass over the corpus] → corpus size N broadcast as a
    1-row aggregate → per-doc top-k window (WindowGroupLimit prunes
    map-side). Ranking compares the ROUNDED score (term ascending on
    ties) so every engine ranks identical values.
    """
    toks = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(_tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.agg(
        F.count_distinct(F.col("doc_id")).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tf_idf",
            pround(F.col("tf")
                   * (F.log((F.col("n_docs") + F.lit(1.0))
                            / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
                   6)))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf_idf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term",
                F.col("tf").cast("bigint").alias("tf"),
                F.col("df").cast("bigint").alias("df"),
                "tf_idf", "rank")
    )


# --- exact substring-level dedup signal ------------------------------------

DUP_SPAN_W = 8          # token n-gram width of a "span" (Lee et al. use
                        # 50 BPE tokens; 8 whitespace tokens at the
                        # synthetic corpus' tiny vocabulary plays the
                        # same role: long enough that sharing is not
                        # chance, short enough to exist in every doc)
DUP_SPAN_FRAC_MAX = 0.5


def duplicate_spans(documents: DataFrame,
                    width: int = DUP_SPAN_W) -> DataFrame:
    """Exact substring-level duplication signal (the corpus-internal
    counterpart of :func:`decontaminate`, after Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, the fraction of token POSITIONS covered by at least
    one ``width``-gram that also occurs verbatim in another document.

    Unlike document-level MinHash, this catches boilerplate spans
    pasted into otherwise-unique pages. Suffix arrays don't
    distribute; the gram-postings formulation does, and coverage
    converges to the same span mask:

    * gram table: ``posexplode`` of the ``width``-gram shingles
      [the corpus-sized shuffle, keyed by gram];
    * shared grams: ``min(doc_id) < max(doc_id)`` per gram — a plain
      map-side-combinable min/max agg, NO count-distinct pass;
    * coverage: shared-gram hits explode to their ``width`` covered
      positions, distinct-counted per document.

    Output: (doc_id, n_tokens, n_covered, dup_span_frac, is_dup_span)
    for every document; ``is_dup_span`` compares the ROUNDED fraction
    so every engine flags identically.
    """
    docs = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _tokens(F.col("text")).alias("toks"))
    grams = docs.select(
        "doc_id",
        F.posexplode(_shingles(F.col("toks"), width=width))
         .alias("i0", "gram"))
    shared = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") < F.col("hi"))
        .select("gram"))
    cov = (
        grams.join(shared, "gram")
        .select("doc_id",
                F.explode(F.sequence(F.col("i0") + 1,
                                     F.col("i0") + width)).alias("pos"))
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("pos")).alias("n_covered")))
    base = docs.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    frac = pround(
        F.coalesce(F.col("n_covered"), F.lit(0))
        / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
    return (
        base.join(cov, "doc_id", "left")
        .select("doc_id", "n_tokens",
                F.coalesce(F.col("n_covered"), F.lit(0))
                 .cast("bigint").alias("n_covered"),
                frac.alias("dup_span_frac"),
                (frac > DUP_SPAN_FRAC_MAX).alias("is_dup_span"))
    )


# --- inverted index --------------------------------------------------------

POSTINGS_CAP = 20


def inverted_index(documents: DataFrame,
                   cap: int = POSTINGS_CAP) -> DataFrame:
    """Token → postings table: document frequency, total occurrences,
    and the first ``cap`` posting doc_ids (ascending, serialized as a
    comma string — raw arrays are banned in oracle-checked outputs).

    The postings head is capped BEFORE any collection: a stopword's
    full posting list is O(corpus) and would blow up any
    ``collect_set``-then-slice plan at 10^12 docs. Instead the
    (term, doc_id) pairs go through a rank window (WindowGroupLimit
    prunes to ``cap`` rows per term map-side, before the shuffle) and
    only the survivors are collected — per-group state is bounded by
    ``cap`` everywhere. df / n_occurrences aggregate the full pair
    table separately (plain counts, map-side combinable).
    """
    toks = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(_tokens(F.col("text"))).alias("term"))
    pairs = toks.groupBy("term", "doc_id").agg(F.count("*").alias("n"))
    stats = pairs.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("n").cast("bigint").alias("n_occurrences"))
    w = Window.partitionBy("term").orderBy("doc_id")
    head = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .groupBy("term")
        .agg(F.concat_ws(
            ",",
            F.transform(F.sort_array(F.collect_list("doc_id")),
                        lambda d: d.cast("string"))).alias("postings_head")))
    return stats.join(head, "term").select(
        "term", "df", "n_occurrences", "postings_head")


# --- PageRank over the near-dup candidate graph -----------------------------

PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85   # both constants appear as the SAME decimal
PAGERANK_BASE = 0.15      # literals in Spark and SQL: (1 - 0.85) and a
                          # literal 0.15 are DIFFERENT doubles in IEEE


def candidate_pagerank(documents: DataFrame,
                       iters: int = PAGERANK_ITERS,
                       n_bands: int = N_BANDS,
                       rows_per_band: int = 1) -> DataFrame:
    """Fixed-iteration PageRank over the MinHash candidate graph —
    which template families dominate the corpus (centrality of the
    near-dup neighborhood, the signal a crawl-prioritization or
    boilerplate-triage pass ranks by).

    Graph: :func:`minhash_candidates` pairs, symmetrized. Update:
    ``r'(v) = 0.15/N + 0.85 * Σ_{u→v} r(u)/deg(u)`` (simplified
    PageRank — dangling mass leaks, the standard formulation when
    ranks are only compared within one run). Deterministic bit-for-bit
    across engines, same discipline as ``kmeans_codebook``:

    * the per-target neighbor sum is an ORDERED left fold by source
      doc_id (``array_sort(collect_list(struct))`` + ``aggregate``) —
      float addition isn't associative, and shuffle arrival order
      isn't deterministic;
    * damping constants are the identical decimal literals on both
      sides (``1 - 0.85 != 0.15`` in IEEE doubles).

    Scale shape per iteration: one equi-join of the rank vector
    against the (src-keyed) edge list + one groupBy(dst) — both
    co-partitionable on the same key across iterations; lineage is cut
    per iteration (localCheckpoint, as in ``_connected_components``),
    so candidate generation runs exactly once and the plan stays
    constant-size regardless of ``iters``.
    The ordered fold materializes one vertex's in-neighbor
    contributions as a list — bounded by max degree, which the
    verify-threshold candidate graph keeps small (hubs in the RAW
    band-collision graph would instead call for the standard
    outer-join + plain-sum variant with a tolerance oracle).
    """
    edges = minhash_candidates(documents, n_bands, rows_per_band)
    und = (edges.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"))
           .unionAll(edges.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst"))))
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    # lineage cut (same discipline as _connected_components): without
    # it every iteration's plan re-embeds — and re-RUNS — the whole
    # candidate-generation subtree
    ed = und.join(deg, "src").localCheckpoint(eager=True)
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    nodes = (documents
             .select(F.col("doc_id").cast("bigint").alias("doc_id"))
             .crossJoin(F.broadcast(n_docs))
             .localCheckpoint(eager=True))
    ranks = nodes.select(
        "doc_id", (F.lit(1.0) / F.col("n_docs")).alias("r"))
    for _ in range(iters):
        contrib = (ed.join(ranks, ed.src == ranks.doc_id)
                   .select("dst", "src",
                           (F.col("r") / F.col("deg")).alias("c")))
        folded = contrib.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s["c"]).alias("s"))
        ranks = (nodes.join(folded, nodes.doc_id == folded.dst, "left")
                 .select("doc_id",
                         (F.lit(PAGERANK_BASE) / F.col("n_docs")
                          + F.lit(PAGERANK_DAMPING)
                          * F.coalesce(F.col("s"), F.lit(0.0)))
                         .alias("r"))
                 .localCheckpoint(eager=True))
    return ranks.select("doc_id", pround(F.col("r"), 9).alias("pagerank"))


# --- exact corpus percentiles ------------------------------------------------

PERCENTILE_PS = (0.5, 0.9, 0.99)


def corpus_percentiles(documents: DataFrame,
                       ps: tuple = PERCENTILE_PS) -> DataFrame:
    """Per-language length profile: exact type-7 percentiles of
    ``n_chars`` (the R/numpy/Spark/DuckDB default definition:
    ``h = p·(n−1)``, linear interpolation between the two adjacent
    order statistics).

    Built from first principles — rank window + interpolation —
    rather than ``F.percentile``/``quantile_cont``, because the two
    engines' builtins interpolate with DIFFERENTLY-ASSOCIATED float
    expressions; here the formula ``lo + (hi − lo) · frac`` is the
    identical IEEE operation sequence on both sides.

    Shape: one rank window per language partition + a language-level
    count, then each requested percentile joins exactly two ranked
    rows. Exact order statistics need the per-group sort; at 10^12
    rows the scale path is ``approx_percentile`` (t-digest) — this
    operator is the exact auditor you run on samples/strata.

    Output: (lang, p, n_docs, value).
    """
    docs = documents.select(
        "lang", F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("doc_id").cast("bigint").alias("doc_id"))
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang", "n_chars", F.row_number().over(w).alias("rk"))
    cnt = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    ps_df = documents.sparkSession.createDataFrame(
        [(p,) for p in ps], "p double")
    locs = (cnt.crossJoin(F.broadcast(ps_df))
            .withColumn("h", F.col("p") * (F.col("n_docs") - 1))
            .withColumn("lo_rk",
                        (F.floor("h") + 1).cast("bigint"))
            .withColumn("hi_rk",
                        F.least(F.floor("h") + 2,
                                F.col("n_docs")).cast("bigint"))
            .withColumn("frac", F.col("h") - F.floor("h")))
    lo = ranked.select(F.col("lang").alias("l_lang"),
                       F.col("rk").alias("l_rk"),
                       F.col("n_chars").alias("lo_v"))
    hi = ranked.select(F.col("lang").alias("h_lang"),
                       F.col("rk").alias("h_rk"),
                       F.col("n_chars").alias("hi_v"))
    return (
        locs
        .join(lo, (F.col("lang") == F.col("l_lang"))
              & (F.col("lo_rk") == F.col("l_rk")))
        .join(hi, (F.col("lang") == F.col("h_lang"))
              & (F.col("hi_rk") == F.col("h_rk")))
        .select("lang", "p", "n_docs",
                pround(F.col("lo_v")
                       + (F.col("hi_v") - F.col("lo_v")) * F.col("frac"),
                       6).alias("value"))
    )


PERCENTILE_ACCURACY = 1000


def approx_corpus_percentiles(documents: DataFrame,
                              ps: tuple = PERCENTILE_PS,
                              accuracy: int = PERCENTILE_ACCURACY
                              ) -> DataFrame:
    """The 10^12-row percentile path: ``percentile_approx`` (Spark's
    Greenwald-Khanna sketch — mergeable, map-side combinable, one
    aggregation pass, NO per-group global sort), plus an in-plan
    audit of the sketch's rank-error guarantee.

    The sketch guarantees the returned element's rank is within
    ``n/accuracy`` of the target rank ``p·n``. That bound is checked
    IN the plan: a second conditional-aggregation pass counts rows
    strictly below / at-or-below the approximate value (the value's
    exact rank interval), and ``within_bound`` states the interval
    intersects ``[p·n − n/accuracy − 1, p·n + n/accuracy + 1]``
    (±1 absorbs the rank-definition rounding). This is what makes the
    operator driver-oracle-checkable — the oracle can't reproduce
    Spark's sketch, but it CAN assert the bound must hold (a
    literal TRUE per row: any violation hash-mismatches). The exact
    :func:`corpus_percentiles` stays the auditor for samples/strata.

    Output: (lang, p, n_docs, approx_value, within_bound). The
    registered driver query drops ``approx_value`` (sketch-internal,
    engine-specific); the error-bound test inspects it against the
    exact auditor.
    """
    docs = documents.select(
        "lang", F.col("n_chars").cast("bigint").alias("n_chars"))
    agg = docs.groupBy("lang").agg(
        F.percentile_approx(
            "n_chars", F.array(*[F.lit(float(p)) for p in ps]),
            F.lit(accuracy)).alias("vals"),
        F.count("*").alias("n_docs"))
    ps_arr = F.array(*[F.lit(float(p)) for p in ps])
    th = agg.select(
        "lang", "n_docs",
        F.posexplode("vals").alias("pos", "approx_value"),
    ).withColumn("p", F.element_at(ps_arr, F.col("pos") + 1)
                 ).drop("pos")
    counts = (
        docs.join(F.broadcast(th), "lang")
        .groupBy("lang", "p", "n_docs", "approx_value")
        .agg(
            F.sum((F.col("n_chars") < F.col("approx_value"))
                  .cast("bigint")).alias("cnt_lt"),
            F.sum((F.col("n_chars") <= F.col("approx_value"))
                  .cast("bigint")).alias("cnt_le"))
    )
    eps = 1.0 / accuracy
    return counts.select(
        "lang", "p", "n_docs", "approx_value",
        (
            (F.col("cnt_le") + 1
             >= (F.col("p") - eps) * F.col("n_docs"))
            & (F.col("cnt_lt")
               <= (F.col("p") + eps) * F.col("n_docs") + 1)
        ).alias("within_bound"))


# --- corpus-trained unigram LM quality score -----------------------------

# Per-token −log p quantized to 9 decimals before the fold: ln() is the
# one non-exactly-rounded IEEE op in the formula (libm differs by ≤2 ulp
# across engines), so each term is snapped to a grid ~10^6× coarser than
# the ulp error before any cross-term arithmetic happens. All other ops
# (÷, ×, the ordered fold's +) are correctly rounded and sequenced
# identically in both engines.
UNIGRAM_TERM_DIGITS = 9

# Zipf-head split: vocabulary entries with corpus count >= this are
# the "head" (a few thousand tokens carry most of the mass) and join
# by BROADCAST; the long tail shuffle-joins. Threshold-based — not
# top-k — so membership needs no global sort and the head stays
# broadcast-sized by construction (at most total/threshold entries).
UNIGRAM_HEAD_MIN_COUNT = 100


def unigram_lm_score(documents: DataFrame) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained unigram LM:
    per-document cross-entropy ``H(doc) = Σ tf(t)·(−ln p(t)) / n_tokens``
    in nats, where ``p(t)`` is the token's relative frequency over the
    whole corpus. The classic cheap LM filter (CCNet/RedPajama use a
    KenLM 5-gram; the unigram variant is the same two-pass shape):
    low H ⇒ stopword-heavy boilerplate, high H ⇒ rare-token noise —
    both tails get cut.

    Two corpus passes, both shuffle-light:

    * **train**: token → global count (map-side combinable groupBy)
      plus one scalar total, giving ``nlogp = pround(−ln(n/total), 9)``
      per vocabulary entry;
    * **score**: per-(doc, token) tf (map-side combinable), joined
      against the vocabulary on token, then one groupBy(doc_id).
      The token join key is Zipf-skewed ("the" collides hard), so the
      join is SPLIT: head entries (count ≥ ``UNIGRAM_HEAD_MIN_COUNT``
      — at most total/threshold rows, broadcast-sized by
      construction) join as a broadcast-hash probe, so the skewed
      mass — which is by definition exactly the head keys — never
      shuffles at all; only the long tail, where every key is rare
      and hence skew-free, shuffle-joins. tf and vocab are
      materialized once before the split (eager lineage cut — they
      feed both sides, and without the cut Spark re-runs both
      subtrees, measured). The union of the two joins is
      row-identical to the single equi-join (each tf row matches
      exactly one vocab entry), so the oracle is the plain-join SQL.

    The per-document sum is an ORDERED left fold over token string
    order (float + isn't associative; same discipline as
    ``candidate_pagerank``) — bounded by the doc's distinct-token
    count, so the collected list is document-sized, not corpus-sized.

    Output: (doc_id, n_tokens, n_distinct, cross_entropy).
    """
    toks = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(_tokens(F.col("text"))).alias("tok"))
    total = toks.agg(F.count("*").cast("double").alias("total"))
    # tf and vocab are each consumed by BOTH sides of the head/tail
    # split; without a cut Spark re-embeds (and re-RUNS) their whole
    # subtrees — measured: no exchange reuse across the union, 2×
    # corpus passes. The eager cut materializes each once (same
    # discipline as _connected_components; a deployment would have
    # them as tables anyway).
    vocab = (toks.groupBy("tok").agg(F.count("*").alias("n"))
             .crossJoin(F.broadcast(total))
             .select("tok", "n", pround(
                 -F.log(F.col("n").cast("double") / F.col("total")),
                 UNIGRAM_TERM_DIGITS).alias("nlogp"))
             .localCheckpoint(eager=True))
    head = F.broadcast(
        vocab.where(F.col("n") >= UNIGRAM_HEAD_MIN_COUNT)
        .select("tok", "nlogp"))
    tail = vocab.where(
        F.col("n") < UNIGRAM_HEAD_MIN_COUNT).select("tok", "nlogp")
    tf = (toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    # each tf row matches exactly one vocab entry, so head-join ∪
    # tail-join ≡ the single equi-join, row for row
    terms = tf.join(head, "tok").unionByName(
        tf.join(tail, "tok")).select(
        "doc_id", "tok",
        (F.col("tf").cast("double") * F.col("nlogp")).alias("t"),
        "tf")
    return (
        terms.groupBy("doc_id").agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "t"))),
                F.lit(0.0),
                lambda acc, s: acc + s["t"]).alias("s"))
        .select("doc_id", "n_tokens", "n_distinct",
                pround(F.col("s") / F.col("n_tokens").cast("double"),
                       6).alias("cross_entropy"))
    )


# --- BPE merge training ----------------------------------------------------

BPE_MERGES = 8
BPE_SEP = "·"  # '·' — cannot occur in [a-z0-9]+ vocabulary words


def bpe_merges(documents: DataFrame,
               n_merges: int = BPE_MERGES) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016) as
    DataFrame operations: the first ``n_merges`` merge rules learned
    from the corpus. Output: (merge_rank, lhs, rhs, pair_count).

    The tokenizer-training step of a pre-training pipeline, and the
    textbook case for the word-frequency contraction: merges happen
    INSIDE words, so after one map-side-combinable groupBy the working
    set is the distinct-word table (Heap's law: ~10⁶–10⁷ rows at any
    corpus size), not the corpus — every Lloyd-style round thereafter
    costs O(vocabulary), independent of the 10^12 input rows.

    Determinism, the oracle-ability property: the winning pair each
    round is (count DESC, lhs ASC, rhs ASC) — a total order — and
    merge application is the exact greedy left-to-right scan of the
    reference algorithm, expressed as a string fold over the word's
    symbols: the accumulator is the '·'-delimited symbol string, and
    a step either replaces its suffix ``·lhs·`` with ``·lhs rhs·``
    (when the incoming symbol is ``rhs``) or appends. A merged symbol
    can never chain into the next step's suffix check (``lhs·rhs ≠
    lhs``), which is precisely the reference's skip-after-merge.
    Vocabulary words are restricted to ``[a-z0-9]+`` tokens, so the
    delimiter is unambiguous by construction.

    Per round: one groupBy over the vocabulary's adjacent symbol
    pairs (map-side combinable), a 1-row TakeOrderedAndProject for
    the winner, and a broadcast of that 1-row winner onto the
    vocabulary for the rewrite — with an eager lineage cut per round
    (same discipline as the CC/k-means/PageRank loops).
    """
    return _bpe_train(documents, n_merges)[0]


def _bpe_train(documents: DataFrame, n_merges: int
               ) -> tuple[DataFrame, DataFrame]:
    """Returns (merge rules, merged vocabulary) — the final rewrite
    round leaves every word in trained-tokenizer form, so the encode
    side (:func:`bpe_vocab`) reads it directly instead of re-applying
    the rules."""
    sep = F.lit(BPE_SEP)
    words = (
        documents
        .select(F.explode(_tokens(F.col("text"))).alias("w"))
        .where(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w").agg(F.count("*").alias("freq"))
        .withColumn("repr", F.concat(
            F.regexp_replace(F.col("w"), "(.)", BPE_SEP + "$1"), sep))
        .localCheckpoint(eager=True))
    merges: list[DataFrame] = []
    for t in range(1, n_merges + 1):
        split = F.split(F.col("repr"), BPE_SEP)
        sy = words.select(
            "w", "freq",
            F.slice(split, 2, F.size(split) - 2).alias("s"))
        npairs = F.greatest(F.lit(0), F.size("s") - 1)
        pairs = sy.select(
            "freq",
            F.explode(F.zip_with(
                F.slice("s", 1, npairs), F.slice("s", 2, npairs),
                lambda le, ri: F.struct(le.alias("l"), ri.alias("r")),
            )).alias("p"))
        counts = pairs.groupBy(
            F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
            F.sum("freq").cast("bigint").alias("pair_count"))
        best = (counts
                .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
                .limit(1)
                .localCheckpoint(eager=True))
        merges.append(best.select(
            F.lit(t).cast("int").alias("merge_rank"),
            F.col("l").alias("lhs"), F.col("r").alias("rhs"),
            "pair_count"))
        fold = F.aggregate(
            F.col("s"), sep,
            lambda a, x: F.when(
                F.endswith(a, F.concat(sep, F.col("l"), sep))
                & (x == F.col("r")),
                F.concat(
                    F.substring(
                        a, F.lit(1),
                        F.length(a) - F.length(F.col("l")) - F.lit(1)),
                    F.col("l"), F.col("r"), sep),
            ).otherwise(F.concat(a, x, sep)))
        words = (sy.crossJoin(F.broadcast(best.select("l", "r")))
                 .select("w", "freq", fold.alias("repr"))
                 .localCheckpoint(eager=True))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out, words


BPE_VOCAB_TOPK = 50


def bpe_vocab(documents: DataFrame, n_merges: int = BPE_MERGES,
              top_k: int = BPE_VOCAB_TOPK) -> DataFrame:
    """The encode-side payoff of :func:`bpe_merges`: the corpus token
    table AFTER the learned merges apply — i.e. what the trained
    tokenizer actually emits. Output: the ``top_k`` (token,
    n_occurrences) rows, (count DESC, token ASC)-ranked.

    Training already left every vocabulary word in its merged symbol
    form (the last rewrite round's checkpoint), so encoding is free:
    explode the final symbol strings weighted by word frequency and
    aggregate. Same vocabulary-sized working set as training —
    corpus-size-independent after the one word-count groupBy.
    """
    merged = _bpe_train(documents, n_merges)[1]
    split = F.split(F.col("repr"), BPE_SEP)
    toks = merged.select(
        "freq",
        F.explode(F.slice(split, 2, F.size(split) - 2)).alias("token"))
    return (toks.groupBy("token")
            .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("token"))
            .limit(top_k))


# --- CCNet-style perplexity bucketing -------------------------------------


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split: each document lands in the
    lowest-/middle-/highest-perplexity third of its language, by the
    unigram-LM cross-entropy (:func:`unigram_lm_score`; CCNet proper
    uses a KenLM 5-gram — same shape, richer model).

    The scale-critical choice is how the tertile boundaries are
    computed. Ranking documents directly (``row_number() over
    (partition by lang ...)``) would sort the whole corpus inside a
    handful of language partitions — the classic hot-key window. This
    instead builds a per-(lang, score) HISTOGRAM (map-side combinable
    groupBy over scores already rounded to 6 digits), takes the
    running count over that histogram — bounded by distinct score
    values, orders of magnitude under the corpus — and broadcasts the
    two per-language cutoffs back for a map-side comparison. Cutoff
    rule, deterministic in every engine: ``c1`` is the smallest score
    with ``3·cum ≥ n_docs`` (ties at the boundary all go to the lower
    bucket), ``c2`` likewise at ``2·n_docs``.

    Output: (doc_id, lang, cross_entropy, ppl_bucket).
    """
    scores = unigram_lm_score(documents).select(
        "doc_id", "cross_entropy")
    langs = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang")
    sc = scores.join(langs, "doc_id")
    hist = sc.groupBy("lang", "cross_entropy").agg(
        F.count("*").alias("n"))
    w = (Window.partitionBy("lang").orderBy("cross_entropy")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("cum", F.sum("n").over(w))
    tot = hist.groupBy("lang").agg(F.sum("n").alias("n_docs"))
    cuts = (
        cum.join(tot, "lang").groupBy("lang").agg(
            F.min(F.when(F.col("cum") * 3 >= F.col("n_docs"),
                         F.col("cross_entropy"))).alias("c1"),
            F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n_docs"),
                         F.col("cross_entropy"))).alias("c2")))
    return (
        sc.join(F.broadcast(cuts), "lang")
        .select("doc_id", "lang", "cross_entropy",
                F.when(F.col("cross_entropy") <= F.col("c1"), "head")
                 .when(F.col("cross_entropy") <= F.col("c2"), "middle")
                 .otherwise("tail").alias("ppl_bucket"))
    )


# --- temperature-based source rebalancing --------------------------------

# α = 0.5 exactly — the exponent is applied as sqrt(), which IEEE 754
# guarantees correctly rounded (unlike pow(x, 0.5), which libm does
# not), so the whole weight computation is bit-identical across
# engines with no quantization step.
MIXTURE_TARGET_FRAC = 0.5


def temperature_mixture(documents: DataFrame,
                        target_frac: float = MIXTURE_TARGET_FRAC
                        ) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual /
    multi-source data-mixing step, mBERT/XLM-R style with α = 0.5):
    sampling budget ``T = target_frac · N`` is split across sources
    proportionally to ``n_s^α`` instead of ``n_s``, flattening the
    mixture so hot domains stop dominating and small sources are
    upweighted.

    Per-source quota ``cap_s = pround0(T · q_s)`` with
    ``q_s = sqrt(n_s) / Σ_s sqrt(n_s)``; the Σ over sources is an
    ORDERED fold by source name (sources are a tiny aggregate — one
    broadcast row). Documents are then kept by deterministic
    stratified rank — ``row_number`` over (md5(doc_id), doc_id)
    within each source, kept iff rank ≤ cap — the same content-free
    hash-order trick as ``deterministic_sample``, so any engine
    draws the identical sample and the drawn counts hit the quota
    exactly (a Bernoulli draw would only hit it in expectation).
    Sources smaller than their cap keep every row (standard
    temperature-sampling behavior: upweighting beyond 1× is the
    *repetition* decision, left to the consumer via ``q``).

    Scale shape: one tiny groupBy(source) + broadcast join back + one
    rank window per source. The window is the cost on hot sources at
    10^12 rows; caps make it WindowGroupLimit-prunable, and the
    fallback for pathological single-domain skew is the hash-threshold
    Bernoulli variant (accept rate ``cap_s / n_s``).

    Output: (doc_id, source, n_src, q, cap, src_rank, kept).
    """
    docs = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source",
        F.md5(F.col("doc_id").cast("string")).alias("hash_key"))
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    z_total = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(
                "source",
                F.sqrt(F.col("n_src").cast("double")).alias("w")))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"]).alias("z"),
        F.sum("n_src").cast("double").alias("n_total"))
    quotas = (
        counts.crossJoin(F.broadcast(z_total))
        .select(
            "source", "n_src",
            (F.sqrt(F.col("n_src").cast("double")) / F.col("z"))
            .alias("q"),
            F.lit(float(target_frac)).alias("tf_"),
            "n_total")
        .select(
            "source", "n_src", "q",
            pround(F.col("tf_") * F.col("n_total") * F.col("q"), 0)
            .cast("bigint").alias("cap")))
    w = Window.partitionBy("source").orderBy("hash_key", "doc_id")
    return (
        docs.withColumn("src_rank", F.row_number().over(w).cast("int"))
        .join(F.broadcast(quotas), "source")
        .select("doc_id", "source", "n_src",
                pround(F.col("q"), 9).alias("q"), "cap", "src_rank",
                (F.col("src_rank") <= F.col("cap")).alias("kept"))
    )


# --- duplicate-span REMOVAL (exact substring dedup, keep-first) ----------

def remove_duplicate_spans(documents: DataFrame,
                           width: int = DUP_SPAN_W) -> DataFrame:
    """Exact substring deduplication that actually rewrites the text
    (Lee et al. 2022 §4: remove repeated spans, keep one copy):
    token positions covered by a ``width``-gram that also occurs in an
    EARLIER document (min doc_id keeps its copy) are dropped, and the
    surviving tokens are stitched back in order.

    :func:`duplicate_spans` is the *detector* (flag/score); this is
    the *rewriter* — same gram-postings formulation, so the corpus
    never self-joins:

    * shared grams reduce to ``(gram, keeper = min(doc_id))`` via a
      map-side-combinable min/max agg (``min < max`` filters the
      unshared);
    * a doc's removable positions are its own occurrences of grams
      whose keeper is a smaller doc_id — an equi-join on gram, then a
      position explode bounded by hits × width;
    * reconstruction is a per-document ORDERED fold: surviving
      (pos, token) pairs sorted and joined — deterministic, and the
      collected list is bounded by the document length (the same
      per-group bound every kernel batch already carries).

    Within-document repeats (keeper == the doc itself) keep all their
    copies, mirroring ``duplicate_spans``'s cross-document definition;
    the first document of every shared span survives verbatim.

    Output: (doc_id, n_tokens, n_removed, clean_text) for every
    document — fully-duplicated docs come back with clean_text = ''.
    """
    docs = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _tokens(F.col("text")).alias("toks"))
    grams = docs.select(
        "doc_id",
        F.posexplode(_shingles(F.col("toks"), width=width))
         .alias("i0", "gram"))
    keepers = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("keeper"), F.max("doc_id").alias("hi"))
        .where(F.col("keeper") < F.col("hi"))
        .select("gram", "keeper"))
    removed = (
        grams.join(keepers, "gram")
        .where(F.col("doc_id") > F.col("keeper"))
        .select("doc_id",
                F.explode(F.sequence(F.col("i0") + 1,
                                     F.col("i0") + width)).alias("pos"))
        .distinct())
    toks_pos = docs.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    survivors = toks_pos.join(removed, ["doc_id", "pos"], "left_anti")
    clean = (
        survivors.groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_kept"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                     lambda s: s["tok"]), " ").alias("clean_text")))
    base = docs.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return (
        base.join(clean, "doc_id", "left")
        .select("doc_id", "n_tokens",
                (F.col("n_tokens")
                 - F.coalesce(F.col("n_kept"), F.lit(0)))
                .cast("bigint").alias("n_removed"),
                F.coalesce(F.col("clean_text"), F.lit(""))
                .alias("clean_text"))
    )


# --- composed pre-training quality filter chain --------------------------

# Thresholds compare ROUNDED emitted columns (quality pround-3,
# cross_entropy pround-6) against the identical decimal literals on
# both engines, so every verdict bit is engine-identical. The CE band
# cuts both tails of the corpus distribution (boilerplate below, noise
# above); the corpus here is homogeneous so the band mostly passes —
# the operator's value is the composition shape, components do the
# cutting on real crawls.
QF_MIN_QUALITY = 0.5
QF_CE_MIN = 2.0
QF_CE_MAX = 3.6


def quality_filter(documents: DataFrame) -> DataFrame:
    """The full pre-training filter chain as ONE composed plan — the
    per-document keep/drop verdict a webtext pipeline actually ships
    (C4/Gopher/RedPajama-style): known language, heuristic quality
    floor, LM-score band, not repetitive, no corpus-duplicated spans,
    not benchmark-contaminated.

    Every component is the exact operator that backs its own driver
    query (``language_id``, ``quality_score``, ``unigram_lm_score``,
    ``repetition_score``, ``duplicate_spans``, ``decontaminate``) and
    the oracle embeds those components' exact oracle strings, so the
    composition can never drift from its parts. Components run as
    independent subtrees equi-joined on doc_id — at scale each is
    map-side-combinable aggregation work sharing the corpus scan, and
    AQE co-partitions the doc_id joins.

    Output: (doc_id, lang_ok, quality_ok, lm_ok, is_repetitive,
    is_dup_span, is_contaminated, kept).
    """
    lid = language_id(documents).select("doc_id", "lang_guess")
    qual = quality_score(documents).select("doc_id", "quality")
    rep = repetition_score(documents).select("doc_id", "is_repetitive")
    spans = duplicate_spans(documents).select("doc_id", "is_dup_span")
    cont = decontaminate(documents).select("doc_id", "is_contaminated")
    lm = unigram_lm_score(documents).select("doc_id", "cross_entropy")
    lang_ok = F.col("lang_guess") != "unknown"
    quality_ok = F.col("quality") >= F.lit(QF_MIN_QUALITY)
    lm_ok = F.coalesce(
        (F.col("cross_entropy") >= F.lit(QF_CE_MIN))
        & (F.col("cross_entropy") <= F.lit(QF_CE_MAX)), F.lit(False))
    # rep joins LEFT: repetition_score emits no row for a zero-token
    # document (its gram explode is empty), and an inner join would
    # silently drop such documents from the verdict table instead of
    # failing them — coalesce to not-repetitive (the quality gate is
    # what rejects empty docs). lm is left for the same reason.
    is_rep = F.coalesce(F.col("is_repetitive"), F.lit(False))
    return (
        lid.join(qual, "doc_id").join(rep, "doc_id", "left")
        .join(spans, "doc_id").join(cont, "doc_id")
        .join(lm, "doc_id", "left")
        .select(
            "doc_id",
            lang_ok.alias("lang_ok"),
            quality_ok.alias("quality_ok"),
            lm_ok.alias("lm_ok"),
            is_rep.alias("is_repetitive"),
            "is_dup_span", "is_contaminated",
            (lang_ok & quality_ok & lm_ok
             & ~is_rep & ~F.col("is_dup_span")
             & ~F.col("is_contaminated")).alias("kept"))
    )


# --- sequence packing (concat-and-chunk) ----------------------------------

PACK_SEQ_LEN = 512  # tokens per training sequence


def pack_sequences(documents: DataFrame,
                   seq_len: int = PACK_SEQ_LEN) -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a
    curated document set into fixed-length training sequences
    (GPT-style pretraining: tokenize, concatenate in a deterministic
    order, slice every ``seq_len`` tokens; documents may span
    sequence boundaries).

    Each document's placement is a pure function of the running token
    offset within its pack group, so the whole operator is one
    prefix-sum window — integer arithmetic only, no floats anywhere,
    hence trivially engine-portable.

    Pack groups are ``source`` (one window partition per source,
    ordered by doc_id): real pipelines pack per shard precisely so
    the prefix sum never becomes one global ordered chain. At 10^12
    rows a hot source is a hot window partition; the fix is the same
    salting used everywhere else — pack by (source, salt_bucket) and
    accept per-bucket boundary waste of < seq_len tokens, amortized
    to nothing at shard sizes. The per-source variant is kept here
    because its output is exactly checkable.

    Output per document: (doc_id, source, n_tokens, start_off,
    start_seq, end_seq, n_seqs) where start_off is the token offset
    within the source's concatenated stream, start_seq/end_seq the
    first/last training sequence the document lands in, and n_seqs
    how many sequences it touches (0 for empty documents).
    """
    counts = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source",
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tokens"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        counts
        .withColumn("start_off", start)
        .select(
            "doc_id", "source", "n_tokens", "start_off",
            F.floor(F.col("start_off") / seq_len).alias("start_seq"),
            F.floor((F.col("start_off")
                     + F.greatest(F.col("n_tokens") - 1, F.lit(0)))
                    / seq_len).alias("end_seq"))
        .withColumn(
            "n_seqs",
            F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint"))
             .otherwise(F.col("end_seq") - F.col("start_seq") + 1))
    )


# --- DSIR importance resampling -------------------------------------------

# Hashed-ngram importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): featurize documents
# as hashed unigram+bigram counts, fit bag-of-buckets models on a
# target sample and on the raw corpus, and weight each document by the
# log-likelihood ratio. The published recipe uses 10k buckets; the
# bucket count is a parameter and only tunes resolution.
DSIR_BUCKETS = 1024
DSIR_TARGET_IDS = 50       # target-domain sample: doc_id < this
DSIR_KEEP_FRAC = 0.25      # fraction of the corpus to keep
DSIR_SAMPLE_HEX = "80000000"  # threshold-estimation sample (~50%)
DSIR_LOGP_DIGITS = 9       # ln() quantization (see portable.pround)


def _hex_bucket(hex_col, n_buckets: int):
    """First 4 hex chars of a lowercase hex string -> int bucket in
    [0, n_buckets). ascii-arithmetic only ('0'-'9' -> 48..57,
    'a'-'f' -> 97..102), so any engine computes the identical bucket
    from the identical md5 hex — no engine-specific hash functions.
    """
    v = F.lit(0)
    for i in range(1, 5):
        c = F.ascii(F.substring(hex_col, i, 1))
        hv = c - 48 - F.when(c >= 97, F.lit(39)).otherwise(F.lit(0))
        v = v * 16 + hv
    return (v % n_buckets).cast("int")


def _hex_bucket_sql(col: str, n_buckets: int) -> str:
    """``_hex_bucket`` as SQL text over the SQL expression ``col``: the
    identical ascii arithmetic, which Spark SQL and DuckDB both parse.
    One ``F.expr`` of it costs one JVM call where the Column form
    costs ~50."""
    v = "0"
    for i in range(1, 5):
        hv = (f"(ascii(substr({col}, {i}, 1)) - 48 - "
              f"CASE WHEN ascii(substr({col}, {i}, 1)) >= 97 "
              f"THEN 39 ELSE 0 END)")
        v = f"({v} * 16 + {hv})"
    return f"CAST({v} % {n_buckets} AS INT)"


def dsir_log_weights(documents: DataFrame,
                     n_buckets: int = DSIR_BUCKETS,
                     n_target: int = DSIR_TARGET_IDS) -> DataFrame:
    """The DSIR scoring stage: per-document importance log-weight
    ``log p_target(feats) − log p_raw(feats)`` over hashed
    unigram+bigram bucket counts. Pipeline, all shuffle-light:

    * **featurize**: unigram + bigram -> md5 -> ``_hex_bucket`` ->
      per-(doc, bucket) counts (one map-side-combinable groupBy);
    * **fit**: bucket counts over the target sample and over the raw
      corpus, Laplace-smoothed ``(c + 1) / (total + n_buckets)``;
      each ln() is quantized with ``pround(.., 9)`` BEFORE the
      subtraction (transcendentals are the one non-exactly-rounded
      primitive — same discipline as ``unigram_lm_score``), giving a
      per-bucket log-ratio table of at most ``n_buckets`` rows that
      joins back as a BROADCAST — the corpus never shuffles against
      the model;
    * **score**: log-weight = ordered fold over bucket index of
      count x log-ratio (document-sized lists, never corpus-sized).

    Documents with zero tokens have no features and are absent from
    the output (both engines drop them identically). Output:
    (doc_id, n_feats, log_weight) with log_weight rounded at the emit
    boundary so every downstream comparison is on the ROUNDED value.
    """
    toks = _tokens(F.col("text"))
    grams = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.concat(toks, _shingles(toks, width=2)))
         .alias("gram"))
    feats = (grams
             .select("doc_id",
                     _hex_bucket(F.md5(F.col("gram")), n_buckets)
                     .alias("bucket"))
             .groupBy("doc_id", "bucket")
             .agg(F.count("*").alias("c"))
             .localCheckpoint(eager=True))  # feeds raw-fit AND score
    raw = feats.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt = (feats.where(F.col("doc_id") < n_target)
           .groupBy("bucket").agg(F.sum("c").alias("ct")))
    totals = feats.agg(
        F.sum("c").cast("double").alias("tr"),
        F.sum(F.when(F.col("doc_id") < n_target, F.col("c"))
              .otherwise(F.lit(0))).cast("double").alias("tt"))
    lam = (raw.join(tgt, "bucket", "left")
           .crossJoin(F.broadcast(totals))
           .select(
               "bucket",
               (pround(F.log((F.coalesce(F.col("ct"), F.lit(0))
                              .cast("double") + 1.0)
                             / (F.col("tt") + float(n_buckets))),
                       DSIR_LOGP_DIGITS)
                - pround(F.log((F.col("cr").cast("double") + 1.0)
                               / (F.col("tr") + float(n_buckets))),
                         DSIR_LOGP_DIGITS)).alias("lam")))
    return (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("n_feats"),
             F.aggregate(
                 F.array_sort(F.collect_list(F.struct(
                     "bucket",
                     (F.col("c").cast("double") * F.col("lam"))
                     .alias("t")))),
                 F.lit(0.0), lambda acc, s: acc + s["t"]).alias("s"))
        .select("doc_id", "n_feats",
                pround(F.col("s"), 6).alias("log_weight"))
    )


def dsir_importance(documents: DataFrame,
                    n_buckets: int = DSIR_BUCKETS,
                    n_target: int = DSIR_TARGET_IDS,
                    keep_frac: float = DSIR_KEEP_FRAC,
                    sample_hex: str = DSIR_SAMPLE_HEX) -> DataFrame:
    """DSIR data selection: weight every document by how much more
    likely its hashed-ngram profile is under the target distribution
    than under the raw-corpus distribution (``dsir_log_weights``),
    then keep the top ``keep_frac`` by weight.

    Here the target sample is ``doc_id < n_target`` (standing in for
    a high-quality reference corpus, the same stand-in pattern as
    ``decontaminate``'s benchmark set). The keep threshold is the
    ``keep_frac`` quantile of log-weights over a deterministic
    md5-Bernoulli sample — the scale story: rank the SAMPLE (small by
    construction), broadcast one threshold row, filter map-side —
    never a global sort of the corpus. Ties compare on the ROUNDED
    weight with >=, so both engines keep the same rows.

    Output: (doc_id, n_feats, log_weight, kept).
    """
    scored = (
        dsir_log_weights(documents, n_buckets=n_buckets,
                         n_target=n_target)
        .localCheckpoint(eager=True))  # feeds threshold AND verdict
    samp = scored.where(
        F.substring(F.md5(F.col("doc_id").cast("string")),
                    1, len(sample_hex)) < sample_hex)
    n_s = samp.agg(F.count("*").cast("double").alias("ns"))
    ranked = samp.withColumn(
        "rn", F.row_number().over(
            Window.orderBy(F.desc("log_weight"), "doc_id")))
    thr = (ranked.crossJoin(F.broadcast(n_s))
           .where(F.col("rn") == F.greatest(
               F.lit(1).cast("bigint"),
               F.ceil(F.lit(float(keep_frac)) * F.col("ns"))))
           .select(F.col("log_weight").alias("thr")))
    # max() forces EXACTLY one row (NULL when the Bernoulli sample is
    # empty — possible on a tiny corpus at a small rate); an empty thr
    # would otherwise cross-join every document away silently. The
    # NULL degrades to keep-everything, the honest answer when there
    # is no sample to rank.
    thr1 = thr.agg(F.max("thr").alias("thr"))
    return (
        scored.crossJoin(F.broadcast(thr1))
        .select("doc_id", "n_feats", "log_weight",
                (F.col("log_weight") >= F.coalesce(
                    F.col("thr"), F.lit(float("-inf")))).alias("kept"))
    )


# --- leakage-safe train/valid/test split -----------------------------------

# 2-hex-char md5 prefix boundaries: test = [00, 0d) ~ 5.1%,
# valid = [0d, 1a) ~ 5.1%, train = the rest. Literal strings compared
# lexicographically on both engines (the deterministic_sample trick).
SPLIT_TEST_HEX = "0d"
SPLIT_VALID_HEX = "1a"


def leakage_safe_split(documents: DataFrame,
                       threshold: float = VERIFY_JACCARD_THRESHOLD,
                       n_bands: int = N_BANDS,
                       rows_per_band: int = 1) -> DataFrame:
    """Train/valid/test assignment that cannot leak near-duplicates
    across splits: the split is a hash of the document's verified
    near-dup CLUSTER ROOT, not of the document itself.

    A per-doc hash split (the naive ``md5(doc_id)`` rule) puts ~10% of
    every near-dup cluster's members into valid/test — at web scale
    that is test-set contamination by construction, since crawl
    corpora are 30–50% near-duplicate. Hashing the cluster root
    instead guarantees every member of a verified cluster (candidates
    → exact-Jaccard verify → connected components, the
    :func:`verified_near_dup_clusters` chain) lands in the SAME split;
    singleton documents hash their own id (their root). The boundary
    constants are literal hex strings compared lexicographically, so
    any engine reproduces the identical assignment.

    Scale shape: the split column is a pure map-side projection over
    the clusters output — zero exchanges beyond what the clustering
    itself already does (plan-guarded).

    Output: (doc_id, cluster_root, split) for every document.
    """
    clusters = verified_near_dup_clusters(
        documents, threshold, n_bands, rows_per_band)
    h = F.substring(F.md5(F.col("cluster_root").cast("string")), 1, 2)
    return clusters.select(
        "doc_id", "cluster_root",
        F.when(h < SPLIT_TEST_HEX, F.lit("test"))
         .when(h < SPLIT_VALID_HEX, F.lit("valid"))
         .otherwise(F.lit("train")).alias("split"))


# --- cross-document line-level boilerplate / dedup (CCNet-style) -----------

# Minimum distinct-document frequency for a line to count as
# boilerplate. CCNet (Wenzek et al. 2020) strips paragraphs repeated
# across a shard; on the extraction surface the unit is the extracted
# LINE (nav bars, cookie banners, form labels repeat verbatim).
LINE_BOILERPLATE_MIN_DOCS = 10


def _doc_lines(documents: DataFrame, id_col: str,
               text_col: str) -> DataFrame:
    """(doc, pos, line) — one row per newline-delimited line, position
    preserved so the text can be stitched back in order."""
    return documents.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n"))
         .alias("pos", "line"))


def strip_boilerplate_lines(documents: DataFrame,
                            id_col: str = "url",
                            text_col: str = "extracted_text",
                            min_docs: int = LINE_BOILERPLATE_MIN_DOCS,
                            min_frac: float | None = None) -> DataFrame:
    """Remove lines that repeat across ``min_docs``+ distinct
    documents — the cross-document boilerplate (headers, footers,
    cookie banners, form labels) that survives per-page DOM heuristics
    because each individual page looks legitimate.

    Scale shape: one shuffle — the exploded lines aggregate to
    per-line distinct-doc counts (map-side partial agg). The
    boilerplate set is then BY CONSTRUCTION small (only lines passing
    the threshold; at any corpus size the set is bounded by
    corpus_lines / min_docs, and in practice by the tiny population
    of truly-shared strings), so it collapses to a 1-row array scalar
    that broadcasts onto the corpus, and the rewrite itself is a pure
    map-side higher-order filter over ``split(text)`` — the documents
    table never shuffles and never re-groups. With ``min_frac`` set,
    the threshold scales with the corpus
    (``max(min_docs, ceil(min_frac * n_docs))``) so a 10^12-row run
    doesn't flag every popular quotation; blank lines are never
    boilerplate (they're structure, not content).

    Output: (id, n_lines, n_stripped, clean_text) for every document.
    """
    lines = _doc_lines(documents, id_col, text_col)
    freq = (lines.where(F.trim(F.col("line")) != "")
            .groupBy("line")
            .agg(F.countDistinct("doc").alias("df")))
    if min_frac is not None:
        total = documents.agg(
            F.countDistinct(F.col(id_col)).alias("n_docs"))
        freq = freq.crossJoin(F.broadcast(total)).where(
            F.col("df") >= F.greatest(
                F.lit(min_docs),
                F.ceil(F.col("n_docs") * F.lit(min_frac))))
    else:
        freq = freq.where(F.col("df") >= F.lit(min_docs))
    bl = freq.agg(F.collect_list("line").alias("bl"))  # 1-row scalar
    raw = F.split(F.col(text_col), "\n")
    kept = F.filter(raw, lambda l: ~F.array_contains(F.col("bl"), l))
    return (documents.crossJoin(F.broadcast(bl)).select(
        F.col(id_col),
        F.size(raw).alias("n_lines"),
        (F.size(raw) - F.size(kept)).alias("n_stripped"),
        F.array_join(kept, "\n").alias("clean_text")))


def dedup_lines_global(documents: DataFrame,
                       id_col: str = "url",
                       text_col: str = "extracted_text") -> DataFrame:
    """CCNet-style global line deduplication: every distinct
    non-blank line keeps exactly ONE copy corpus-wide — its first
    occurrence in (doc, pos) order — and every other occurrence
    (including later repeats inside the winning document) is removed.
    Blank lines always survive; they're document structure.

    Unlike :func:`strip_boilerplate_lines` (thresholded removal of
    the line from EVERY document), this is true deduplication: the
    canonical copy survives, so no content is lost, only repetition.

    Scale shape: explode → min-struct agg per line (map-side
    combinable — no window, no sort) → equi-join back on the line to
    keep only the winner occurrence → per-document ordered stitch.
    The stitch's collected list is bounded by a single document's
    line count, the same per-group bound every kernel batch carries.

    Output: (id, n_lines, n_removed, clean_text) for every document.
    """
    lines = _doc_lines(documents, id_col, text_col)
    cand = lines.where(F.trim(F.col("line")) != "")
    winners = cand.groupBy("line").agg(
        F.min(F.struct("doc", "pos")).alias("w"))
    survivors = (
        cand.join(winners, "line")
        .where((F.col("doc") == F.col("w.doc"))
               & (F.col("pos") == F.col("w.pos")))
        .select("doc", "pos", "line"))
    blanks = lines.where(F.trim(F.col("line")) == "") \
                  .select("doc", "pos", "line")
    keep = survivors.unionByName(blanks)
    clean = keep.groupBy("doc").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"]), "\n").alias("clean_text"))
    base = documents.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"))
    return (base.join(clean, "doc", "left").select(
        F.col("doc").alias(id_col), "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text")))


# --- C4 line-level document filter ------------------------------------------

# Raffel et al. 2020 §2.2 (the C4 cleaning rules), line-level half:
# keep a line only if it ends in terminal punctuation, has >= 3 words,
# and doesn't mention javascript; drop the whole page if it carries a
# blocked phrase or a curly brace (code), or the retained text has
# fewer than 3 sentences. Sentence count is approximated as terminal-
# punctuation characters in the kept text (C4 used a sentence
# tokenizer; the approximation is deterministic and engine-portable).
C4_TERMINALS = (".", "!", "?", '"')
C4_MIN_WORDS = 3
C4_MIN_SENTENCES = 3
C4_PHRASE_BLOCKLIST = ("lorem ipsum",)


def c4_cols(text_col: str = "extracted_text") -> dict:
    """The C4 rule columns over ``text_col`` as composable
    expressions: {raw, kept, clean, n_sentences, keep}. Pure
    higher-order array/scalar expressions — zero shuffles — so any
    plan (the standalone query, the composed content gate) embeds
    them without an exchange."""
    raw = F.split(F.col(text_col), "\n")
    # btrim with an explicit char set, NOT F.trim: trim strips only
    # ASCII spaces, so a CRLF corpus (lines ending '\r' after the
    # '\n' split) would never end in terminal punctuation and EVERY
    # page would be silently rejected; same for tab-padded lines.
    _ws = F.lit(" \t\r")

    def _keep_line(line):
        t = F.btrim(line, _ws)
        words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
        return (F.right(t, F.lit(1)).isin(*C4_TERMINALS)
                & (F.size(words) >= C4_MIN_WORDS)
                & ~F.contains(F.lower(t), F.lit("javascript")))

    kept = F.filter(raw, _keep_line)
    clean = F.array_join(F.transform(kept, lambda l: F.btrim(l, _ws)), "\n")
    n_sent = F.length(clean) - F.length(F.translate(clean, ".!?", ""))
    lower_text = F.lower(F.col(text_col))
    blocked = F.lit(False)
    for phrase in C4_PHRASE_BLOCKLIST:
        blocked = blocked | F.contains(lower_text, F.lit(phrase))
    keep = ((F.size(kept) >= 1)
            & (n_sent >= C4_MIN_SENTENCES)
            & ~blocked
            & ~F.contains(F.col(text_col), F.lit("{")))
    return {"raw": raw, "kept": kept, "clean": clean,
            "n_sentences": n_sent, "keep": keep}


def c4_line_filter(documents: DataFrame,
                   id_col: str = "url",
                   text_col: str = "extracted_text") -> DataFrame:
    """C4-style line filter + page verdict, as ONE map-side projection.

    Scale shape: zero shuffles — every rule is a higher-order array
    expression over ``split(text, '\\n')`` (filter/transform lambdas,
    whole-stage codegen), so the operator composes into any plan
    without adding an exchange. Contrast
    :func:`strip_boilerplate_lines` (needs a corpus frequency pass):
    C4's rules are intentionally per-document, which is exactly what
    makes them free at 10^12 rows.

    Output: (id, n_lines, n_kept, n_sentences, keep, clean_text);
    ``clean_text`` is the kept lines (trimmed) re-stitched, emitted
    for every document so the verdict stays auditable downstream.
    """
    c = c4_cols(text_col)
    return documents.select(
        F.col(id_col),
        F.size(c["raw"]).cast("int").alias("n_lines"),
        F.size(c["kept"]).cast("int").alias("n_kept"),
        c["n_sentences"].cast("int").alias("n_sentences"),
        c["keep"].alias("keep"),
        c["clean"].alias("clean_text"))


# --- soft-404 detection ------------------------------------------------------

# A soft 404 is a page served 200-ok whose CONTENT is an error page —
# invisible to HTTP-status filtering (weburl.domain_stats sees a
# fetch_ok), so the extraction surface must catch it. Rule: an error
# phrase in the title or body AND a short extraction (real articles
# that merely discuss 404s don't trip the length guard).
SOFT404_PATTERNS = ("page not found", "404 not found", "error 404",
                    "no longer available", "does not exist")
SOFT404_MAX_CHARS = 300


def soft404_cols(text_col: str = "extracted_text",
                 title_col: str = "title",
                 max_chars: int = SOFT404_MAX_CHARS) -> dict:
    """The soft-404 rule columns as composable expressions:
    {n_chars, title_hit, body_hit, soft404}. Pure scalar predicates —
    zero shuffles."""
    lower_title = F.lower(F.coalesce(F.col(title_col), F.lit("")))
    lower_text = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    title_hit = F.lit(False)
    body_hit = F.lit(False)
    for p in SOFT404_PATTERNS:
        title_hit = title_hit | F.contains(lower_title, F.lit(p))
        body_hit = body_hit | F.contains(lower_text, F.lit(p))
    n_chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    return {"n_chars": n_chars, "title_hit": title_hit,
            "body_hit": body_hit,
            "soft404": (title_hit | body_hit) & (n_chars < max_chars)}


def soft404_flags(documents: DataFrame,
                  id_col: str = "url",
                  text_col: str = "extracted_text",
                  title_col: str = "title",
                  max_chars: int = SOFT404_MAX_CHARS) -> DataFrame:
    """Flag soft 404s on the extraction output — zero shuffles, pure
    scalar predicates, so the gate composes into the extraction plan
    (or the crawl-collapse keep decision) for free at 10^12 rows.

    Output: (id, n_chars, title_hit, body_hit, soft404).
    """
    c = soft404_cols(text_col, title_col, max_chars)
    return documents.select(
        F.col(id_col),
        c["n_chars"].cast("int").alias("n_chars"),
        c["title_hit"].alias("title_hit"),
        c["body_hit"].alias("body_hit"),
        c["soft404"].alias("soft404"))


# --- Okapi BM25 retrieval ---------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
# Default query for the bench/oracle entry: terms drawn from the
# documents table's vocabulary at different document frequencies.
BM25_QUERY = ("spark", "merge", "customer")
BM25_TOP_K = 10


def bm25_topk(documents: DataFrame,
              query: tuple = BM25_QUERY,
              k: int = BM25_TOP_K,
              k1: float = BM25_K1,
              b: float = BM25_B) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval for one query over the corpus
    (Robertson et al.; idf = ln(1 + (N − df + 0.5)/(df + 0.5)),
    tf saturation ``tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``).

    Shape: the corpus tokenizes once and the per-document length
    rides the explode (no corpus self-join); term frequencies are
    computed for the QUERY terms only — a map-side ``isin`` filter,
    so rows for non-query vocabulary never shuffle — then one
    (doc, term) count shuffle. Corpus stats (N, avgdl) broadcast as a
    1-row scalar; per-term df re-aggregates from the tf table
    (≤ |query| rows) and broadcasts back. At 10^12 documents the only
    corpus-sized exchange is the tf count, whose cardinality is the
    query's posting lists, not the corpus.

    Determinism: the per-document score is an ORDERED fold over the
    term-sorted partial scores (float + isn't associative — same
    discipline as ``unigram_lm_score``), rounded via ``pround`` so
    every engine ranks identical values; final order breaks ties on
    doc_id. Output: (doc_id, score, n_terms) — top-k.
    """
    docs = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _tokens(F.col("text")).alias("toks"))
    dl = docs.select("doc_id",
                     F.size("toks").cast("double").alias("dl"))
    stats = dl.agg(F.count("*").cast("double").alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    tf = (docs.select(
            "doc_id", F.size("toks").cast("double").alias("dl"),
            F.explode("toks").alias("term"))
          .where(F.col("term").isin(*query))
          .groupBy("doc_id", "term")
          .agg(F.count("*").cast("double").alias("tf"),
               F.min("dl").alias("dl")))
    df_t = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df")
                                + F.lit(0.5))
                  / (F.col("df") + F.lit(0.5)))
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (F.col("tf") + F.lit(k1)
               * (F.lit(1.0 - b)
                  + F.lit(b) * F.col("dl") / F.col("avgdl")))))
    per_doc = scored.groupBy("doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "s"))),
                lambda x: x["s"]),
            F.lit(0.0), lambda a, x: a + x).alias("raw"),
        F.count("*").cast("int").alias("n_terms"))
    return (per_doc
            .select("doc_id", pround(F.col("raw"), 6).alias("score"),
                    "n_terms")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


# --- trained quality classifier (GPT-3/CCNet-style weak supervision) --------

# The GPT-3 / PaLM / Llama curation stacks all train a *quality
# classifier* against weak labels — a trusted source set as the
# positive class, random crawl as the negative — and keep documents
# the classifier scores high (Brown et al. 2020 §A; CCNet trains its
# LM on Wikipedia the same way). This is that operator, as DataFrame
# ops end to end.
QC_ITERS = 8
QC_LR = 2.0
# weak-label convention: documents from these sources are the
# positive ("curated") class, everything else is the crawl negative
QC_POSITIVE_SOURCES = ("src0", "src1", "src2", "src3")
QC_FEATURES = ("bias", "len_sat", "stop_ratio", "diversity",
               "punct_ratio", "digit_ratio")
# training-sample rate as an md5 hex-prefix bound (engine-portable
# Bernoulli, the same mechanism as deterministic_sample /
# KMEANS_SAMPLE_HEX): "c0000000" keeps ~3/4 of the corpus
QC_SAMPLE_HEX = "c0000000"


def _qc_features(documents: DataFrame) -> DataFrame:
    """(doc_id, y, x1..x5): the classifier's feature vector plus the
    weak label. The features are ``quality_score``'s raw signals —
    integer counts cast to double, combined with IEEE-exact ``+ /
    least greatest`` only and deliberately UNROUNDED (they feed a
    training loop; rounding belongs at emission)."""
    text = F.col("text")
    toks = _tokens(text)
    n_chars = F.length(text).cast("double")
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast("double")
    n_digits = (n_chars - F.length(
        F.regexp_replace(text, r"[0-9]", ""))).cast("double")
    n_punct = (n_chars - F.length(
        F.regexp_replace(text, r"[^\w\s]", ""))).cast("double")
    safe_t = F.greatest(n_tokens, F.lit(1.0))
    safe_c = F.greatest(n_chars, F.lit(1.0))
    return documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.when(F.col("source").isin(*QC_POSITIVE_SOURCES), F.lit(1.0))
        .otherwise(F.lit(0.0)).alias("y"),
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)).alias("x1"),
        (stop_hits / safe_t).alias("x2"),
        (n_distinct / safe_t).alias("x3"),
        (n_punct / safe_c).alias("x4"),
        (n_digits / safe_c).alias("x5"),
    )


def _qc_margin():
    """z = w·x, written as one fixed left-associated chain so Spark
    and the SQL oracle add in the identical order (float addition is
    not associative)."""
    return (F.col("w0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
            + F.col("w3") * F.col("x3")
            + F.col("w4") * F.col("x4")
            + F.col("w5") * F.col("x5"))


def _qc_prob(z):
    """Engine-portable link function: the softsign squashing
    ``0.5 + 0.5·z/(1+|z|)``. The logistic sigmoid needs ``exp()``,
    which is NOT bit-reproducible across engines (JVM ``Math.exp``
    vs libm differ in ULPs and the difference compounds over
    training rounds); softsign is the same monotone S-curve built
    from IEEE-exact ``+ * / abs`` only."""
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


def _qc_ordered_sum(col):
    """Bit-deterministic gradient sum: ordered left fold by doc_id
    (shuffle arrival order is not)."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("doc_id").alias("k"),
                                             col.alias("v")))),
        F.lit(0.0), lambda acc, s: acc + s["v"])


def train_quality_classifier(documents: DataFrame,
                             iters: int = QC_ITERS, lr: float = QC_LR,
                             sample_rate_hex: str | None = None,
                             ) -> DataFrame:
    """Full-batch gradient training of the weak-label quality
    classifier; output: one row (w0..w5).

    Per round the 1-row weight table BROADCASTS onto the (checkpointed,
    computed-once) feature table — a map-side score pass — and the
    gradient is one global aggregation; the model comes back as a
    1-row DataFrame with an eager lineage cut (the same per-round
    discipline as ``bpe_merges``' winner row). No ``.collect()``:
    weights never touch the driver.

    Determinism: the gradient is an ordered fold by doc_id
    (:func:`_qc_ordered_sum`), the link avoids ``exp`` entirely
    (:func:`_qc_prob`), and the update ``w + lr·g/n`` uses identical
    literals both sides. The fold materializes the training set's
    per-doc contributions as one list — bounded by the executable
    ``sample_rate_hex`` contract (as in ``kmeans_codebook``); at
    10^12 rows train on a sample (classifier training saturates far
    below corpus size) or swap the fold for a plain sum with a
    tolerance oracle.
    """
    feats = _qc_features(documents)
    if sample_rate_hex is not None:
        feats = feats.where(
            F.substring(F.md5(F.col("doc_id").cast("string")),
                        1, len(sample_rate_hex)) < sample_rate_hex)
    # features computed once; every training round re-reads the cut
    feats = feats.localCheckpoint(eager=True)
    n = feats.agg(F.count("*").cast("double").alias("n_docs"))
    spark = documents.sparkSession
    w = spark.createDataFrame(
        [(0.0,) * 6],
        "w0 double, w1 double, w2 double, w3 double, w4 double, "
        "w5 double")
    xcols = [F.col(f"x{j}") for j in range(1, 6)]
    for _ in range(iters):
        err = (F.col("y") - _qc_prob(_qc_margin())).alias("err")
        scored = (feats.crossJoin(F.broadcast(w))
                  .select("doc_id", err, *xcols))
        grads = scored.agg(
            _qc_ordered_sum(F.col("err")).alias("g0"),
            *[_qc_ordered_sum(F.col("err") * F.col(f"x{j}"))
              .alias(f"g{j}") for j in range(1, 6)])
        w = (w.crossJoin(F.broadcast(grads)).crossJoin(F.broadcast(n))
             .select(*[(F.col(f"w{j}")
                        + F.lit(lr) * F.col(f"g{j}") / F.col("n_docs"))
                       .alias(f"w{j}") for j in range(6)])
             .localCheckpoint(eager=True))
    return w


def quality_classifier_weights(documents: DataFrame,
                               iters: int = QC_ITERS, lr: float = QC_LR,
                               sample_rate_hex: str | None = QC_SAMPLE_HEX,
                               ) -> DataFrame:
    """The trained model, long format: (feature, weight)."""
    w = train_quality_classifier(documents, iters, lr, sample_rate_hex)
    return w.select(F.explode(F.array(*[
        F.struct(F.lit(QC_FEATURES[j]).alias("feature"),
                 pround_signed(F.col(f"w{j}"), 9).alias("weight"))
        for j in range(6)])).alias("s")).select("s.feature", "s.weight")


def quality_classifier_scores(documents: DataFrame,
                              iters: int = QC_ITERS, lr: float = QC_LR,
                              sample_rate_hex: str | None = QC_SAMPLE_HEX,
                              ) -> DataFrame:
    """Every document scored by the (sample-)trained classifier:
    (doc_id, weak_label, qc_score, qc_keep). Scoring is a broadcast
    of the 1-row model — pure map-side, no shuffle at any corpus
    size; only training carries the sample-bounded fold."""
    w = train_quality_classifier(documents, iters, lr, sample_rate_hex)
    p = _qc_prob(_qc_margin())
    return (_qc_features(documents)
            .crossJoin(F.broadcast(w))
            .select(
                "doc_id",
                F.col("y").cast("int").alias("weak_label"),
                pround_signed(p, 9).alias("qc_score"),
                (p >= F.lit(0.5)).alias("qc_keep")))


# --- corpus-trained interpolated bigram LM (CCNet's n-gram direction) ------

# Interpolation weight on the bigram term; 1-λ falls back to the
# unigram relative frequency (Jelinek-Mercer smoothing). Both 0.75 and
# 0.25 are exactly representable, so the mixing arithmetic is IEEE-
# exact in any engine; only ln() needs the 9-digit snap (see
# UNIGRAM_TERM_DIGITS).
BIGRAM_LAMBDA = 0.75
# Zipf-head split threshold for the scoring join, same rationale as
# UNIGRAM_HEAD_MIN_COUNT: "of the" collides as hard as "the".
BIGRAM_HEAD_MIN_COUNT = 100


def _bigrams(documents: DataFrame) -> DataFrame:
    """(doc_id, prev, cur): adjacent token pairs, built MAP-SIDE by
    zipping the token array with itself shifted one position (two
    slices + ``zip_with``) — no window over positions, no shuffle.
    Documents with fewer than two tokens contribute nothing."""
    toks = _tokens(F.col("text"))
    return (documents
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    toks.alias("toks"))
            .where(F.size("toks") >= 2)
            .select("doc_id", F.explode(F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur"))))
                .alias("b"))
            .select("doc_id", "b.prev", "b.cur"))


def bigram_lm_score(documents: DataFrame) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained interpolated
    bigram LM — the n-gram step from :func:`unigram_lm_score` toward
    CCNet's KenLM 5-gram:

    ``p(cur | prev) = λ·c(prev,cur)/c(prev) + (1−λ)·c(cur)/total``,
    ``H(doc) = Σ tf(prev,cur)·(−ln p) / n_bigrams`` in nats.

    Same two-pass, shuffle-light shape as the unigram scorer:

    * **train**: bigram counts c2, context counts c1, unigram
      fallback — all map-side-combinable groupBys; the model row
      carries its pre-interpolated, 9-digit-snapped ``−ln p`` so the
      transcendental happens once per VOCABULARY entry, never per
      corpus position;
    * **score**: per-(doc, prev, cur) tf joined against the model
      with the identical Zipf head/tail split (head bigrams — which
      are by definition the skewed keys — broadcast; only the
      skew-free tail shuffles), then one ordered-fold groupBy(doc).

    The model table is bounded by the corpus's DISTINCT bigram count
    (Heap's law — vocabulary², not corpus-sized); at 10^12 tokens the
    standard move is count-thresholding the tail into the unigram
    fallback, which this formulation already degrades to gracefully
    (λ·small + (1−λ)·pu). Output: (doc_id, n_bigrams, cross_entropy);
    documents with < 2 tokens are not scored.
    """
    bg = _bigrams(documents)
    toks = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(_tokens(F.col("text"))).alias("tok"))
    total = toks.agg(F.count("*").cast("double").alias("total"))
    uni = (toks.groupBy("tok").agg(F.count("*").alias("nu"))
           .crossJoin(F.broadcast(total))
           .select(F.col("tok").alias("cur"),
                   (F.col("nu").cast("double") / F.col("total"))
                   .alias("pu")))
    c2 = bg.groupBy("prev", "cur").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("prev").agg(F.count("*").alias("n1"))
    # model materialized once: it feeds both sides of the head/tail
    # split (same eager-cut discipline as unigram_lm_score)
    model = (c2.join(c1, "prev").join(uni, "cur")
             .select("prev", "cur", "n2",
                     pround(-F.log(
                         F.lit(BIGRAM_LAMBDA)
                         * (F.col("n2").cast("double")
                            / F.col("n1").cast("double"))
                         + F.lit(1.0 - BIGRAM_LAMBDA) * F.col("pu")),
                         UNIGRAM_TERM_DIGITS).alias("nlogp"))
             .localCheckpoint(eager=True))
    head = F.broadcast(
        model.where(F.col("n2") >= BIGRAM_HEAD_MIN_COUNT)
        .select("prev", "cur", "nlogp"))
    tail = model.where(
        F.col("n2") < BIGRAM_HEAD_MIN_COUNT).select("prev", "cur",
                                                    "nlogp")
    tf = (bg.groupBy("doc_id", "prev", "cur")
          .agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    # each tf row matches exactly one model entry, so head ∪ tail ≡
    # the single equi-join, row for row — the oracle is the plain join
    terms = tf.join(head, ["prev", "cur"]).unionByName(
        tf.join(tail, ["prev", "cur"])).select(
        "doc_id", "prev", "cur",
        (F.col("tf").cast("double") * F.col("nlogp")).alias("t"), "tf")
    return (terms.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("prev", "cur", "t"))),
            F.lit(0.0), lambda acc, s: acc + s["t"]).alias("s"))
        .select("doc_id", "n_bigrams",
                pround(F.col("s") / F.col("n_bigrams").cast("double"),
                       6).alias("cross_entropy")))
