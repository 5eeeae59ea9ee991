"""Physical-plan regression guards: the plans we tuned must stay tuned.

`.explain`-level properties the engine relies on at scale — column
pruning to (url, html) at the scan, filter pushdown, broadcast-only
joins in the field tail, a single kernel pass, pre-shuffle top-1
pruning, and map-side partial aggregation — locked in as tests so a
refactor that silently regresses the plan fails CI, not the 100TB run.
"""

import contextlib
import io

import pytest

from credit_ocr_system_spark.operators.extraction import extract_pages
from credit_ocr_system_spark.operators.fields_native import (
    field_config_df,
    fields_table,
)
from credit_ocr_system_spark.operators import relational as R
from credit_ocr_system_spark.sources.pages import pages_df
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_df(spark, 50, partitions=2).write.parquet(path)
    return path


def test_extraction_prunes_to_url_and_html(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = plan_of(extract_pages(pages))
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    assert plan.count("MapInArrow") == 2  # one node: tree + detail


def test_scan_filter_pushdown(spark, pages_path):
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_path).where(F.col("lang") == "en")
    plan = plan_of(extract_pages(pages))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_fields_plan_single_kernel_pass_and_broadcast(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = plan_of(fields_table(extract_pages(pages),
                                field_config_df(spark)))
    assert plan.count("MapInArrow") == 2  # exactly one kernel node
    assert "BroadcastNestedLoopJoin" in plan      # 21-row config side
    assert "SortMergeJoin" not in plan            # never a shuffle join
    assert "WindowGroupLimit" in plan             # pre-shuffle top-1


def test_star_join_broadcasts_only_fixed_size_dims(spark, sf_dir):
    """nation/region (fixed 25/5 rows) are forced broadcasts; customer
    scales with SF so the plan must NOT force-broadcast it — the
    logical plan carries no broadcast hint on customer, and AQE is
    free to pick the strategy at runtime."""
    df = R.revenue_by_region_year(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly the two fixed-size dims carry a broadcast hint
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 2
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    for line in optimized.splitlines():
        if "c_custkey" in line and "Join" in line:
            assert "broadcast" not in line, line  # no forced hint
    # physically the dim joins are still broadcast hash joins
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = plan_of(R.pricing_summary(spark, sf_dir))
    # map-side partial aggregation before a hash exchange (node counts
    # vary with AQE/exchange reuse, so assert the structure, not counts)
    assert "HashAggregate" in plan
    assert "hashpartitioning" in plan
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = plan_of(R.latest_event_per_user(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_ivf_probe_join_is_broadcast_bucket_local(spark, sf_dir):
    """IVF: codebook joins and the probe join must broadcast the tiny
    side; the n x q cross product must never materialize as a shuffle
    join."""
    from credit_ocr_system_spark.operators.similarity import ivf_topk

    emb = R.load(spark, sf_dir, "embeddings")
    plan = plan_of(ivf_topk(emb))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # candidate join on centroid_id is a broadcast hash join
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # top-k pruned pre-shuffle


def test_decontaminate_probes_a_broadcast_gram_set(spark, sf_dir):
    """The benchmark gram set must broadcast: the corpus is never
    shuffled against itself for the overlap check."""
    from credit_ocr_system_spark.operators.textops import decontaminate

    plan = plan_of(decontaminate(R.load(spark, sf_dir, "documents")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_language_id_vocab_is_broadcast_join(spark, sf_dir):
    """The stopword vocabulary joins as a broadcast table — growing it
    must never introduce a shuffle join or a codegen-bloating isin."""
    from credit_ocr_system_spark.operators.textops import language_id

    plan = plan_of(language_id(R.load(spark, sf_dir, "documents")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one data shuffle: the doc_id groupBy (plus the broadcast
    # exchange for the vocab side)
    assert plan.count("Exchange hashpartitioning") <= 2  # tree + detail
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_bucketed_near_dup_is_bucket_local(spark, sf_dir):
    """Full-corpus embedding near-dup must candidate-generate via the
    bucket equi-join — the all-pairs nested loop must never appear."""
    from credit_ocr_system_spark.operators.similarity import (
        bucketed_near_dup,
    )

    plan = plan_of(bucketed_near_dup(R.load(spark, sf_dir, "embeddings")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_media_near_dup_is_bucket_local(spark):
    """Media near-dup: centered sign-bucket candidates, bucket-local
    cosine verify — no all-pairs join over the feature table."""
    from credit_ocr_system_spark.operators.multimodal import (
        media_df,
        media_near_dup,
    )

    plan = plan_of(media_near_dup(media_df(spark, 60)))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_incremental_dedup_is_equi_join_only(spark, sf_dir):
    """Append-mode dedup: the delta probes the committed signature
    table and pairs by (band, minhash) — equi-joins throughout, never
    a nested loop or cartesian over the corpus."""
    from credit_ocr_system_spark.operators.textops import (
        incremental_candidates,
        minhash_signatures,
    )

    docs = R.load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("bigint")
    plan = plan_of(incremental_candidates(
        minhash_signatures(docs.where(did % 4 != 0)),
        minhash_signatures(docs.where(did % 4 == 0))))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_asof_join_has_no_join_at_all(spark, sf_dir):
    """The as-of join must compile to union + window — never a
    nested-loop range join (the naive b.ts <= a.ts shape)."""
    plan = plan_of(R.asof_join_events(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "HashJoin" not in plan  # no join operator of ANY kind
    assert "Window" in plan
    # both streams come from ONE scan (side tag), not even a union
    assert plan.count("Scan parquet") <= 2  # tree + detail of one scan


def test_range_join_is_bucketized_equi_join(spark, sf_dir):
    """The interval join must be an equi-join on the time bucket,
    never a nested-loop theta-join."""
    plan = plan_of(R.session_error_counts(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # the bucket equi-join is a hash join (broadcast or shuffled)
    assert "HashJoin" in plan
    # the sessionization subtree runs ONCE: two distinct event scans
    # (sessions side + errors side), not three
    assert plan.count("Scan parquet") <= 4  # tree + detail of two scans


def test_time_rollup_is_single_pass_partial_agg(spark, sf_dir):
    """ROLLUP grouping sets: one Expand + partial/final aggregation,
    not one scan per grain."""
    plan = plan_of(R.time_rollup(spark, sf_dir))
    assert plan.count("Scan parquet") <= 2  # tree + detail of ONE scan
    assert "Expand" in plan
    assert "partial_" in plan  # map-side combine before the shuffle


def test_tfidf_topk_prunes_and_broadcasts_corpus_size(spark, sf_dir):
    """TF-IDF: the 1-row corpus-size aggregate must broadcast (never a
    shuffled cross join) and the per-doc top-k must prune map-side."""
    from credit_ocr_system_spark.operators.textops import tfidf_top_terms

    plan = plan_of(tfidf_top_terms(R.load(spark, sf_dir, "documents")))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row N side only
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side combine on the tf groupBy


def test_duplicate_spans_has_no_distinct_count_over_grams(spark, sf_dir):
    """The shared-gram test is a min/max agg (map-side combinable) —
    never a count-distinct expand over the corpus-sized gram table;
    and no all-pairs join anywhere."""
    from credit_ocr_system_spark.operators.textops import duplicate_spans

    plan = plan_of(duplicate_spans(R.load(spark, sf_dir, "documents")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan and "partial_max" in plan


def test_inverted_index_caps_postings_before_collect(spark, sf_dir):
    """Postings heads must be rank-capped BEFORE collection
    (WindowGroupLimit) so per-group state is bounded by the cap, never
    by a stopword's full O(corpus) posting list."""
    from credit_ocr_system_spark.operators.textops import inverted_index

    plan = plan_of(inverted_index(R.load(spark, sf_dir, "documents")))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_are_equi_joins(spark, sf_dir):
    """Every PageRank iteration must be an equi-join + groupBy — no
    nested-loop/cartesian node anywhere in the unrolled plan."""
    from credit_ocr_system_spark.operators.textops import (
        candidate_pagerank,
    )

    plan = plan_of(candidate_pagerank(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    # final-iteration plan (lineage cut upstream): equi-joins only
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_percentiles_one_rank_window(spark, sf_dir):
    """Exact percentiles: one rank window over the corpus; the
    percentile spec table broadcasts."""
    from credit_ocr_system_spark.operators.textops import (
        corpus_percentiles,
    )

    plan = plan_of(corpus_percentiles(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_unigram_lm_head_broadcasts_over_materialized_tf(
        spark, sf_dir):
    """Unigram LM: the Zipf-head vocabulary side must join by
    BROADCAST hash (the skewed mass never shuffles), tf/vocab must be
    materialized (lineage cut: the final plan reads the checkpointed
    RDDs, not re-derived corpus subtrees), and no nested-loop or
    cartesian join anywhere."""
    from credit_ocr_system_spark.operators.textops import (
        unigram_lm_score,
    )

    plan = plan_of(unigram_lm_score(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # cut away with vocab
    assert "BroadcastHashJoin" in plan            # head probe
    # both join inputs come from the checkpointed RDDs — the corpus
    # scan/explode/agg subtrees must NOT be re-embedded in this plan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_temperature_mixture_quotas_broadcast(spark, sf_dir):
    """Temperature mixture: per-source quotas (a handful of rows) must
    broadcast back onto the corpus — never a shuffle join — and the
    source-count aggregate must combine map-side."""
    from credit_ocr_system_spark.operators.textops import (
        temperature_mixture,
    )

    plan = plan_of(temperature_mixture(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # quotas onto ranked docs
    assert "partial_count" in plan


def test_remove_duplicate_spans_is_all_equi_joins(spark, sf_dir):
    """Span removal: gram keepers via min/max agg (map-side
    combinable), removable positions and reconstruction via equi-joins
    — the corpus never self-joins all-pairs."""
    from credit_ocr_system_spark.operators.textops import (
        remove_duplicate_spans,
    )

    plan = plan_of(remove_duplicate_spans(
        R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan and "partial_max" in plan


def test_quality_filter_composes_without_nested_loops(spark, sf_dir):
    """The composed filter chain: six component subtrees equi-joined
    on doc_id; the only nested-loop joins are the 1-row broadcast
    scalars its components already carry (corpus total / gram set)."""
    from credit_ocr_system_spark.operators.textops import quality_filter

    plan = plan_of(quality_filter(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    # the only nested-loop node is the 1-row corpus-total broadcast
    # the unigram component already carries; every BNLJ tree node
    # builds a broadcast side — never a streamed cross product
    tree = [ln for ln in plan.splitlines() if "+-" in ln or ":-" in ln]
    bnlj = [ln for ln in tree if "BroadcastNestedLoopJoin" in ln]
    assert len(bnlj) <= 1
    for ln in bnlj:
        assert "BuildRight" in ln or "BuildLeft" in ln, ln
    # doc_id joins are hash-based
    assert sum("HashJoin" in ln for ln in tree) >= 5


def test_pack_sequences_is_one_window_no_join(spark, sf_dir):
    """Sequence packing is a single per-source prefix-sum window —
    no join of any kind, integer arithmetic only."""
    from credit_ocr_system_spark.operators.textops import pack_sequences

    plan = plan_of(pack_sequences(R.load(spark, sf_dir, "documents")))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_dsir_scores_broadcast_model_onto_corpus(spark, sf_dir):
    """DSIR scoring: the <= n_buckets-row log-ratio model must join
    the per-doc bucket counts by BROADCAST hash (the corpus never
    shuffles against the model); the bucket counts are materialized
    once (lineage cut — they feed both the raw fit and the scoring
    probe) and aggregate map-side."""
    from credit_ocr_system_spark.operators.textops import (
        dsir_log_weights,
    )

    plan = plan_of(dsir_log_weights(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan    # lam onto feats
    assert "Scan ExistingRDD" in plan     # feats cut, derived once
    assert "partial_sum" in plan          # map-side combine
    # the only nested-loop node is the 1-row corpus-totals broadcast
    tree = [ln for ln in plan.splitlines() if "+-" in ln or ":-" in ln]
    assert len([ln for ln in tree
                if "BroadcastNestedLoopJoin" in ln]) <= 1


def test_dsir_threshold_is_broadcast_scalar(spark, sf_dir):
    """DSIR selection: the verdict stage reads the checkpointed
    scores (never re-derives the corpus subtree) and applies the
    threshold as 1-row broadcast scalars — no sort of the corpus, no
    shuffle join."""
    from credit_ocr_system_spark.operators.textops import (
        dsir_importance,
    )

    plan = plan_of(dsir_importance(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    # sample-size and threshold rows: every BNLJ builds a broadcast
    tree = [ln for ln in plan.splitlines() if "+-" in ln or ":-" in ln]
    assert len([ln for ln in tree
                if "BroadcastNestedLoopJoin" in ln]) <= 2


def test_split_adds_no_exchange_over_clusters(spark, sf_dir):
    """leakage_safe_split is a pure map-side projection over the
    verified-clusters output: exactly the same exchange count as the
    clustering itself, and no join/cartesian of its own."""
    from credit_ocr_system_spark.operators.textops import (
        leakage_safe_split,
        verified_near_dup_clusters,
    )

    docs = R.load(spark, sf_dir, "documents")
    base = plan_of(verified_near_dup_clusters(docs))
    split = plan_of(leakage_safe_split(docs))
    assert "CartesianProduct" not in split
    assert split.count("Exchange") == base.count("Exchange")
    assert split.count("Join") == base.count("Join")


def test_perplexity_buckets_cutoffs_broadcast(spark, sf_dir):
    """CCNet bucketing must assign via broadcast per-language cutoffs
    (histogram → two rows per language), never rank the corpus inside
    per-language window partitions: the only row_number windows in the
    plan are the ones unigram_lm_score itself already carries (none),
    and the cutoff join onto scores is a broadcast."""
    from credit_ocr_system_spark.operators.textops import (
        perplexity_buckets,
    )

    plan = plan_of(perplexity_buckets(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan      # cutoffs onto scores
    assert "row_number" not in plan         # no corpus-wide ranking


def test_fuzzy_decontaminate_bench_side_broadcasts(spark, sf_dir):
    """Fuzzy decontamination: the benchmark band signatures must probe
    as a broadcast (the corpus never shuffles for candidate
    generation) and no nested-loop/cartesian join may appear."""
    from credit_ocr_system_spark.operators.textops import (
        fuzzy_decontaminate,
    )

    plan = plan_of(fuzzy_decontaminate(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan      # bench sigs probe


def test_semdedup_pairs_are_cluster_local(spark, sf_dir):
    """SemDeDup: the semantic comparison must be the cluster-local
    equi-join on centroid_id over the materialized assignment (no
    all-pairs nested loop; the assignment subtree is checkpointed, so
    the plan reads RDDs, not a re-derived k-means)."""
    from credit_ocr_system_spark.operators.similarity import semdedup

    plan = plan_of(semdedup(R.load(spark, sf_dir, "embeddings")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "Scan ExistingRDD" in plan       # assignment lineage cut


def test_pq_encode_broadcasts_codebook(spark, sf_dir):
    """PQ encoding: the (PQ_SUBS x PQ_K)-row codebook must join as a
    broadcast hash probe onto the subvector stream (map-side at any
    corpus size), with the argmin pruned pre-shuffle; the trained
    codebook arrives as a checkpointed RDD, never a re-derived
    training subtree."""
    from credit_ocr_system_spark.operators import similarity as S

    emb = R.load(spark, sf_dir, "embeddings")
    plan = plan_of(S.pq_encode(emb, sample_rate_hex=S.PQ_SAMPLE_HEX))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan   # codebook equi-join on sub
    assert "WindowGroupLimit" in plan    # argmin pruned pre-shuffle
    assert "Scan ExistingRDD" in plan    # checkpointed codebook


def test_pq_topk_scores_map_side(spark, sf_dir):
    """ADC: corpus scoring must be the packed-code fold against the
    broadcast per-query LUT — the only non-broadcast joins are the
    codebook equi-joins; the n x q cross product appears solely as
    the LUT broadcast (q rows), never a shuffle join."""
    from credit_ocr_system_spark.operators import similarity as S

    emb = R.load(spark, sf_dir, "embeddings")
    plan = plan_of(S.pq_topk(emb, sample_rate_hex=S.PQ_SAMPLE_HEX))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan    # top-k pruned pre-shuffle


def test_bigram_lm_head_broadcasts_over_materialized_tf(spark, sf_dir):
    """Bigram LM: same plan contract as the unigram scorer — the
    Zipf-head model side broadcasts (the skewed bigram mass never
    shuffles), tf/model are materialized once (checkpoint cut), and
    no nested-loop or cartesian join anywhere."""
    from credit_ocr_system_spark.operators.textops import (
        bigram_lm_score,
    )

    plan = plan_of(bigram_lm_score(R.load(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan            # head probe
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_ivfpq_probe_is_bucket_local_broadcast(spark, sf_dir):
    """IVF-PQ: the probe join (q x nprobe rows) and the ADC LUT join
    must both broadcast onto the coded corpus; no shuffle join, no
    cartesian product anywhere in the composition."""
    from credit_ocr_system_spark.operators import similarity as S

    emb = R.load(spark, sf_dir, "embeddings")
    plan = plan_of(S.ivfpq_topk(emb, pq_sample_hex=S.PQ_SAMPLE_HEX))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_content_gate_single_kernel_pass(spark):
    """Composed content gate (robots ∧ ¬noindex ∧ ¬soft404 ∧ C4):
    all three content rules are column expressions over ONE
    extraction pass — the kernel must appear exactly once — and the
    robots side joins as a broadcast, never a shuffle join."""
    from credit_ocr_system_spark.queries import x_content_gate

    plan = plan_of(x_content_gate(spark, ""))
    assert plan.count("MapInArrow") == 2   # one node: tree + detail
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan     # per-host rules broadcast


def test_kmv_sketch_dedups_map_side_then_takes_ordered(spark):
    """KMV sketch: the only corpus-sized exchange is the dedup
    (partial HashAggregate on both sides of ONE exchange), the top-K
    prunes per partition via TakeOrderedAndProject, and the sketch
    comparison itself joins 1-row sides only (no shuffle join)."""
    from pyspark.sql import functions as F

    from credit_ocr_system_spark.operators.weburl import (
        kmv_content_overlap,
        kmv_sketch,
    )
    from credit_ocr_system_spark.sources.visits import visits_df

    v = visits_df(spark, 2_000, partitions=4)
    sk = plan_of(kmv_sketch(
        v.where(F.col("fetch_status") == 200), F.col("content_sha")))
    assert "TakeOrderedAndProject" in sk and "256" in sk
    # exactly one hash exchange, keyed on the hash value (the dedup);
    # formatted mode prints the partitioning in the details section
    assert sk.count("hashpartitioning(") == 1
    assert "hashpartitioning(h" in sk
    full = plan_of(kmv_content_overlap(v, 1_000))
    assert "SortMergeJoin" not in full
    assert "ShuffledHashJoin" not in full


def test_annotation_png_adds_no_exchange(spark, pages_path):
    # the raster overlay renders inside the extraction output's
    # per-document rows: two chained MapInArrow stages, and the ONLY
    # exchange in the whole plan is whatever the input already had
    # (none here — parquet scan straight into the kernel)
    from credit_ocr_system_spark.operators.annotate import annotation_png

    pages = spark.read.parquet(pages_path)
    plan = plan_of(annotation_png(extract_pages(pages)))
    assert plan.count("MapInArrow") == 4  # two nodes: tree + detail
    assert "Exchange" not in plan


def plan_nodes(df) -> list[str]:
    """Physical operator class names of ``df``'s plan, above any cache:
    an InMemoryTableScan is a leaf, the cached plan is not walked."""
    names, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        names.append(node.getClass().getSimpleName())
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return names


@pytest.fixture(scope="module")
def job_frames(spark, pages_path, tmp_path_factory):
    """Physical operators of the frames ``run_extraction_job`` builds
    over its cached extraction output, caught while the job runs."""
    from credit_ocr_system_spark.plans import pipeline

    frames = {}
    patch = pytest.MonkeyPatch()
    for name in ("kernel_fields", "detect_hot_domains"):
        def spy(*args, _fn=getattr(pipeline, name), _name=name):
            df = _fn(*args)
            frames[_name] = plan_nodes(df)
            return df
        patch.setattr(pipeline, name, spy)
    try:
        pipeline.run_extraction_job(
            spark, spark.read.parquet(pages_path),
            str(tmp_path_factory.mktemp("job")), num_partitions=2)
    finally:
        patch.undo()
    return frames


def test_job_fields_are_an_explode_of_the_cache(job_frames):
    # the kernel pass already matched and validated every field: the
    # sink is the cached output exploded — no config join, no top-1
    nodes = job_frames["kernel_fields"]
    assert "GenerateExec" in nodes
    assert not [n for n in nodes if "Join" in n or "Window" in n]
    assert nodes.count("InMemoryTableScanExec") == 1
    assert "FileSourceScanExec" not in nodes


def test_job_hot_domain_guard_reads_the_cache(job_frames):
    # the guard counts hosts of the cached extraction output, never a
    # second scan of the input pages
    nodes = job_frames["detect_hot_domains"]
    leaves = {n for n in nodes if n.endswith("ScanExec")}
    assert leaves == {"InMemoryTableScanExec"}
    assert "FileSourceScanExec" not in nodes
