"""Plan-shape regression tests: the scale-critical physical-plan
properties are pinned, not assumed.  A refactor that silently breaks
column pruning, broadcasts, or the single-fused-Python-stage contract
fails here long before it costs anything at 100 TB."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _union_children(node) -> list[str]:
    """Tree strings of the children of the first physical Union in
    pre-order (looking through the AQE wrapper), or []."""
    stack = [node]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        kids = node.children()
        if name == "UnionExec":
            return [kids.apply(i).toString() for i in range(kids.size())]
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return []


def test_docs_plain_scan_prunes_columns(spark):
    """x_extract_docs_plain projects 2 of the documents columns — the
    parquet ReadSchema must contain ONLY those (column pruning reached
    the scan)."""
    from rapidocr_spark.plans.shell import x_extract_docs_plain

    plan = _formatted(x_extract_docs_plain(spark, SF_DIR))
    read_schemas = [
        ln for ln in plan.splitlines() if ln.strip().startswith("ReadSchema")
    ]
    assert read_schemas, plan
    for ln in read_schemas:
        assert "doc_id" in ln and "text" in ln
        assert "lang" not in ln and "url" not in ln, ln


def test_knn_brute_is_broadcast_one_pass(spark):
    """The bounded 64-query set must be BROADCAST (nested-loop against the
    scan) — a sort-merge join here would shuffle the full corpus by a
    non-key."""
    from rapidocr_spark.functions.similarity import knn_brute_cosine

    plan = _formatted(knn_brute_cosine(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name", ["ann_ivf_topk", "ann_ivf_topk_probe2", "ann_ivf_topk_l8"]
)
def test_ivf_candidate_join_is_broadcast_hash(spark, name):
    """Every IVF search (home cell, nprobe=2, Lloyd nprobe=8) joins
    candidates to the broadcast query/probed-cell set via a
    BroadcastHashJoin on the cell key — never a shuffle of the corpus."""
    from rapidocr_spark.functions import similarity

    plan = _formatted(getattr(similarity, name)(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("name", ["ann_lsh_buckets", "dedup_embedding_cosine", "dedup_recall"])
def test_sign_lsh_buckets_are_one_arrow_kernel(spark, name):
    """Sign-LSH bucketing is one MapInArrow node (similarity._sign_buckets):
    no plane fold over a literal weight array is left in the plan, and
    the dedup self-join reads that one kernel pass, not a Union of
    per-table projections.  Only the pair-cosine folds over joined rows
    stay Catalyst folds."""
    import re

    from rapidocr_spark.functions import similarity

    plan = _formatted(getattr(similarity, name)(spark, SF_DIR))
    assert "MapInArrow" in plan, plan
    assert not re.search(r"zip_with\([^,()]+, \[", plan), plan
    assert "Union" not in plan, plan
    if name == "ann_lsh_buckets":
        assert "zip_with" not in plan and "aggregate(" not in plan, plan


@pytest.mark.parametrize("name", ["doc_winnow_min_hash", "doc_winnow_fingerprints"])
def test_doc_winnow_reads_the_one_arrow_kernel(spark, name):
    """Both doc_winnow_* leaves read the winnowing postings of the one
    numpy kernel (dedup._winnow_np): exactly one MapInArrow node, and no
    Catalyst k-gram slice fold left in the plan."""
    import re

    from rapidocr_spark.plans.shell import queries

    plan = _formatted(queries()[name](spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, flags=re.M)) == 1, plan
    assert "slice(" not in plan, plan


def test_ivf_topk_is_the_probe2_builder_at_nprobe_1(spark):
    """ann_ivf_topk is similarity._ivf_search at nprobe=1 over the same
    stride-seeded index as ann_ivf_topk_probe2: the two optimized plans
    are equal once expression, lambda and plan ids are normalised and
    the probe bound 2 reads 1 — one IVF builder, not a home-cell copy."""
    import re

    from rapidocr_spark.plans.shell import queries

    def plan(name):
        df = queries()[name](spark, SF_DIR)
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+", "#", s)
        s = re.sub(r"\b([xy])_\d+#", r"\1#", s)
        return re.sub(r"plan_id=\d+", "plan_id=", s)

    probe2 = plan("ann_ivf_topk_probe2")
    for bound in ("(rk# <= {})", "row_number(), {}"):
        assert probe2.count(bound.format(2)) == 1, probe2
        probe2 = probe2.replace(bound.format(2), bound.format(1))
    assert plan("ann_ivf_topk") == probe2


def _regexps_above_generate(node) -> list[str]:
    """Regexp expressions in the Project/Filter chain directly above any
    Generate of the plan tree (logical or physical, looking through
    cached relations and the AQE wrapper) that read only the Generate's
    pass-through columns: each runs once per generated row, where one
    projection below the Generate would run it once per input row."""
    found = []

    def exprs(n):
        name = n.getClass().getSimpleName()
        if name.startswith("Project"):
            lst = n.projectList()
            return [lst.apply(i) for i in range(lst.size())]
        if name.startswith("Filter"):
            return [n.condition()]
        return None

    def regexps(e):
        out = [e] if e.getClass().getSimpleName().startswith(("RegExp", "RLike")) else []
        kids = e.children()
        for i in range(kids.size()):
            out += regexps(kids.apply(i))
        return out

    def walk(n, above):
        name = n.getClass().getSimpleName()
        if name in ("Generate", "GenerateExec"):
            gen_out = n.generatorOutput()
            made = {gen_out.apply(i).exprId().id() for i in range(gen_out.size())}
            for parent in above:
                for e in exprs(parent):
                    for r in regexps(e):
                        refs = r.references().toSeq()
                        ids = {refs.apply(i).exprId().id() for i in range(refs.size())}
                        if ids and not ids & made:
                            found.append(r.toString())
        if name == "InMemoryRelation":
            walk(n.cachedPlan(), [])
        elif name == "InMemoryTableScanExec":
            walk(n.relation().cachedPlan(), [])
        elif name == "AdaptiveSparkPlanExec":
            walk(n.inputPlan(), [])
        kids = n.children()
        # the chain above a child: this node and its own chain while it
        # is a Project/Filter (a codegen wrapper passes the chain through)
        chain = [n] + above if exprs(n) is not None else (
            above if name in ("WholeStageCodegenExec", "InputAdapter") else []
        )
        for i in range(kids.size()):
            walk(kids.apply(i), chain)

    walk(node, [])
    return found


@pytest.mark.parametrize(
    "name", ["doc_nb_quality_score", "doc_nb_quality_confusion", "doc_sample_quality"]
)
def test_nb_label_runs_below_the_token_explode(spark, name):
    """The NB training label (six stopword regex counts and the digit and
    punctuation counts of the quality score) is computed once per
    document: no regexp that reads only the pass-through columns of a
    token Generate sits in the Project/Filter chain above it."""
    from rapidocr_spark.plans.shell import queries

    df = queries()[name](spark, SF_DIR)
    assert _regexps_above_generate(df._jdf.queryExecution().optimizedPlan()) == []


def test_extraction_single_python_stage_per_route(spark):
    """The fused det→cls→rec chain is exactly ONE MapInPandas operator (no
    shuffle between stages, J1-J3 zips never cross partitions); the plain:
    route stays entirely JVM-side."""
    from rapidocr_spark.operators.extract import extract_transcripts
    from rapidocr_spark.plans.shell import EXTRACT_CFG
    from rapidocr_spark.sources.transcripts import transcripts_df

    import re

    out = extract_transcripts(transcripts_df(spark, 3), EXTRACT_CFG)
    plan = _formatted(out)
    # operators in the details section: the synthetic GENERATOR appears
    # once per union branch (2× for this un-persisted test input; real
    # queries persist it / read parquet), plus exactly ONE fused
    # extraction stage — never a second Python stage in the chain
    ops = re.findall(r"^\(\d+\) MapInPandas", plan, flags=re.M)
    assert len(ops) <= 3, plan
    # the heavy (Python) branch is the union's FIRST child, so its tasks
    # take the first partition indices and launch at job start
    branches = _union_children(out._jdf.queryExecution().executedPlan())
    assert branches and "MapInPandas run(" in branches[0], plan


def test_dedup_exact_shuffles_on_hash_not_body(spark):
    """dedup_exact's window partitions on md5(text) — the shuffle key is
    the 32-char digest, never the raw document body."""
    from rapidocr_spark.functions.dedup import dedup_exact

    plan = _formatted(dedup_exact(spark, SF_DIR))
    assert "md5" in plan


def test_extraction_cheap_predicates_before_python(spark):
    """payload kind and the F1 skip-det gate are Catalyst expressions in
    the plan (startswith/regexp on the prefix) — they must appear OUTSIDE
    any Python operator, i.e. the heavy route filters rows before
    MapInPandas runs."""
    from rapidocr_spark.operators.extract import extract_transcripts
    from rapidocr_spark.plans.shell import EXTRACT_CFG
    from rapidocr_spark.sources.transcripts import transcripts_df

    out = extract_transcripts(transcripts_df(spark, 3), EXTRACT_CFG)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "startswith" in analyzed.lower()
    assert "regexp_extract" in analyzed.lower()


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located joins via BUCKETING (the 100 TB fact-fact join story):
    two tables bucketed+sorted on the join key must sort-merge join with
    ZERO Exchange — at scale this is the difference between shuffling a
    100 TB fact table per join and never shuffling it again after one
    bucketed write."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    names = ("bkt_a_plan_test", "bkt_b_plan_test")
    try:
        for n in names:
            (
                ev.write.bucketBy(8, "user_id")
                .sortBy("user_id")
                .mode("overwrite")
                .saveAsTable(n)
            )
        a = spark.table(names[0])
        b = spark.table(names[1]).select(
            F.col("user_id"), F.col("value").alias("value_b")
        )
        joined = a.join(b, "user_id")
        # force a non-broadcast join decision so bucketing is what's tested
        # (restore whatever the shared session had, not hard-coded values)
        saved = {
            k: spark.conf.get(k)
            for k in ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
        }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = _formatted(joined)
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucketing removed the shuffle
        assert joined.count() > 0
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_lsh_plan_shows_canonical_prejoin(spark):
    """VERDICT r03 item 1 done-criterion: the LSH banding plan must show
    the exact-dup collapse — an md5 window computing canonical ids BEFORE
    the band self-join, and the band-bucket df cap aggregation."""
    from rapidocr_spark.functions.dedup import lsh_candidate_pairs

    plan = _formatted(lsh_candidate_pairs(spark, SF_DIR))
    assert "md5" in plan  # canonical window keyed on md5(text)
    # the df-cap: an aggregate on the banding key feeding the join
    assert plan.count("HashAggregate") >= 2
    # star-edge union with the rep-level pair join
    assert "Union" in plan


@pytest.mark.parametrize(
    "name, keys",
    [
        ("dedup_ngram_jaccard", ["shingle"]),
        ("dedup_containment", ["shingle"]),
        ("lsh_candidate_pairs", ["band", "v0", "v1"]),
        ("dedup_fuzzy_prefix", ["block"]),
    ],
)
def test_df_capped_pairs_window_then_equi_join(spark, name, keys):
    """Every df-capped dedup self-join has the one _capped_pairs shape:
    the stop-key cap is a Window count, and the pairs come from an
    equi-join on exactly the pairing key — never a cartesian or
    nested-loop pairing of documents."""
    import re

    from rapidocr_spark.functions import dedup

    plan = _formatted(getattr(dedup, name)(spark, SF_DIR))
    assert "Window" in plan, plan
    join_keys = [
        [re.sub(r"#\d+L?$", "", k.strip()) for k in m.split(",")]
        for m in re.findall(r"^Left keys \[\d+\]: \[(.*)\]$", plan, flags=re.M)
    ]
    assert keys in join_keys, join_keys
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_extraction_exchanges_on_conv_and_turn(spark):
    """The heavy (MapInPandas) branch sits behind exactly ONE exchange,
    hash-partitioned on (conv_id, turn_idx) with an explicit count equal
    to the session's parallelism, so AQE cannot coalesce it; the plain
    branch has no exchange at all."""
    import re

    from rapidocr_spark.operators.extract import extract_transcripts
    from rapidocr_spark.plans.shell import EXTRACT_CFG
    from rapidocr_spark.sources.transcripts import transcripts_df

    out = extract_transcripts(transcripts_df(spark, 4), EXTRACT_CFG)
    heavy, plain = _union_children(out._jdf.queryExecution().executedPlan())
    n = spark.sparkContext.defaultParallelism
    assert "MapInPandas run(" in heavy, heavy
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", heavy)
    assert [re.sub(r"#\d+", "", p) for p in parts] == [f"conv_id, turn_idx, {n}"], heavy
    assert heavy.count("Exchange") == 1, heavy
    assert "Exchange" not in plain, plain


def test_multilang_is_one_extraction_plan(spark, tmp_path, monkeypatch):
    """Three language bindings plus a default plan like one config: ONE
    fused MapInPandas behind ONE (conv_id, turn_idx) exchange, heavy
    branch first, and the model bytes broadcast once — the bindings
    resolve per row, not per union branch."""
    import re

    from rapidocr_spark.operators.extract import extract_transcripts_multilang
    from rapidocr_spark.plans.shell import EXTRACT_CFG
    from rapidocr_spark.sources.transcripts import transcripts_df

    path = str(tmp_path / "transcripts")
    transcripts_df(spark, 4).write.parquet(path)  # a scan, not a generator
    conv = F.substring(F.col("conv_id"), 5, 6).cast("int") % 4
    df = spark.read.parquet(path).withColumn(
        "lang",
        F.when(conv == 0, F.lit("en"))
        .when(conv == 1, F.lit("zh"))
        .when(conv == 2, F.lit("ja"))
        .otherwise(F.lit("xx")),
    )
    configs = {
        "en": EXTRACT_CFG,
        "zh": EXTRACT_CFG.replace(use_cls=False),
        "ja": EXTRACT_CFG.replace(min_height=60),
    }
    sc = spark.sparkContext
    broadcasts = []
    real_broadcast = sc.broadcast
    monkeypatch.setattr(
        sc, "broadcast", lambda v: broadcasts.append(v) or real_broadcast(v)
    )
    out = extract_transcripts_multilang(
        df, configs, default=EXTRACT_CFG, model_bytes=b"model"
    )
    assert len(broadcasts) == 1, broadcasts
    plan = _formatted(out)
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, flags=re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) == 1, plan
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    n = sc.defaultParallelism
    assert {re.sub(r"#\d+", "", p) for p in parts} == {f"conv_id, turn_idx, {n}"}, plan
    branches = _union_children(out._jdf.queryExecution().executedPlan())
    assert len(branches) == 2 and "MapInPandas run(" in branches[0], plan


def test_binaryfile_ingest_uses_binaryfile_source(spark):
    """mm_ingest_binaryfile must scan through Spark's binaryFile data
    source (a real FileScan over the container files) into ONE
    Arrow-batched Python stage — no shuffle between listing and decode."""
    from rapidocr_spark.functions.multimodal import mm_ingest_binaryfile

    df = mm_ingest_binaryfile(spark, SF_DIR)
    plan = _formatted(df)
    assert "binaryFile" in plan, plan
    assert plan.count("MapInPandas (") == 1, plan  # tree shows ONE stage
    assert "Exchange" not in plan, plan


def test_adaptive_k_centroid_sample_is_broadcast(spark):
    """The adaptive-K stride (a 1-row aggregate of the corpus count) must
    reach the centroid filter via a broadcast — never a shuffle of the
    embeddings by a non-key."""
    from rapidocr_spark.functions.similarity import _centroids, _emb

    plan = _formatted(_centroids(_emb(spark, SF_DIR)))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the stride expression carries the clamp bounds
    assert "4096" in plan and "32" in plan, plan


def test_vis_boxes_single_python_stage(spark):
    """x_vis_boxes is one Arrow-batched Python stage over the generated
    corpus projection — extraction, drawing, and PNG encode never
    shuffle."""
    from rapidocr_spark.plans.shell import x_vis_boxes

    plan = _formatted(x_vis_boxes(spark, SF_DIR))
    assert plan.count("MapInPandas") >= 1, plan
    assert "Exchange" not in plan, plan


def test_cms_cells_join_is_broadcast(spark):
    """The 1 KiB CMS cell table must reach the per-key probes via a
    broadcast hash join — never a shuffle of the keyed events."""
    from rapidocr_spark.plans.events import sketch_cms_error

    plan = _formatted(sketch_cms_error(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_quantile_sketch_plan_shape(spark):
    """The round-6 KLL-style sketch: bucketed compactor windows keyed by
    (event_type, bkt) — the affine bucket hash appears in the plan, the
    3-row target set joins via broadcast, and nothing degenerates to a
    cartesian pairing."""
    from rapidocr_spark.plans.events import sketch_value_quantiles

    plan = _formatted(sketch_value_quantiles(spark, SF_DIR))
    assert "2654435761" in plan, plan  # the affine bucket hash constant
    assert "bkt" in plan, plan         # per-bucket compactor windows
    assert "BroadcastHashJoin" in plan, plan  # targets broadcast to summaries
    assert "CartesianProduct" not in plan


def test_substring_spans_no_cartesian(spark):
    """dedup_substring_spans must join postings on the FINGERPRINT key —
    an equi-join after the df-cap, never a cartesian/nested-loop pairing
    of documents (the no-all-pairs contract of every dedup operator)."""
    from rapidocr_spark.functions.dedup import dedup_substring_spans

    plan = _formatted(dedup_substring_spans(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the anchor-pair join is keyed on fp (fingerprint)
    assert "fp" in plan


def test_boilerplate_catalog_broadcasts_into_one_doc_scan(spark):
    """dedup_boilerplate_catalog has NO self-join at all (it exists
    precisely because df > cap makes the pair join explode): one groupBy
    over the postings, then the tiny catalog is BROADCAST into a single
    documents scan for the example grams — the corpus side never
    shuffles for the join."""
    from rapidocr_spark.functions.dedup import dedup_boilerplate_catalog

    plan = _formatted(dedup_boilerplate_catalog(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_semijoin_never_shuffles_fact_for_join(spark):
    """sketch_bloom_semijoin exists to AVOID moving the fact side: the
    bit set and the member set must both arrive as BroadcastHashJoins —
    a SortMergeJoin would shuffle the probe frame and defeat the
    operator's purpose."""
    from rapidocr_spark.plans.events import sketch_bloom_semijoin

    plan = _formatted(sketch_bloom_semijoin(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_joins_on_term_no_pair_blowup(spark):
    """doc_tfidf_top_terms joins the per-term df frame back by an
    equi-key — never a cartesian/nested-loop pairing of docs with the
    vocabulary."""
    from rapidocr_spark.functions.text import doc_tfidf_top_terms

    plan = _formatted(doc_tfidf_top_terms(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iterations_are_equi_joins(spark):
    """graph_pagerank's power iterations must be equi-joins on the edge
    keys (hash or sort-merge — both scale); the only nested-loop allowed
    is the 1-row node-count broadcast.  A CartesianProduct anywhere
    means an iteration degenerated to all-pairs."""
    from rapidocr_spark.functions.graph import graph_pagerank

    plan = _formatted(graph_pagerank(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_partitioned_scan_prunes_partitions(spark, tmp_path):
    """Hive-style PARTITION PRUNING (the other half of the 100 TB scan
    story next to bucketing): events written partitioned by day, a
    single-day filter must reach the scan as a PartitionFilter and the
    file listing must touch ONE partition directory — at scale this is
    reading 1/30th of the corpus instead of all of it."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(path)
    part = spark.read.parquet(path)
    one_day = part.where(F.col("day") == "2024-01-05").groupBy("event_type").count()
    plan = _formatted(one_day)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    # the day predicate reaches the scan as a PARTITION filter (directory
    # pruning), not a post-scan data filter
    assert pf and "day" in pf[0], plan
    # and the pruned result matches the unpartitioned filtered truth
    truth = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .where(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
            == "2024-01-05"
        )
        .count()
    )
    assert truth > 0
    assert one_day.agg(F.sum("count")).collect()[0][0] == truth


def test_pack_shards_no_global_data_window(spark):
    """doc_pack_shards' prefix sum must be the distributed two-pass scan:
    the data-side Window is PARTITIONED by _pid (parallel), the only
    single-partition window runs over the ≤ p per-partition totals, and
    the offsets come back as a BroadcastHashJoin.  A plan whose data
    window hangs under an Exchange SinglePartition of the corpus would be
    the global-window scale-killer this primitive replaces."""
    from rapidocr_spark.functions.text import doc_pack_shards

    plan = _formatted(doc_pack_shards(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" in plan.lower(), plan
    # the corpus-side window partitions by _pid (SinglePartition appears
    # only under the tiny per-partition-totals branch)
    assert "_pid" in plan


def test_nb_quality_model_is_broadcast(spark):
    """doc_nb_quality_score's trained model (≤NB_BUCKETS weight rows)
    and τ (1 row) must come back as broadcasts — the corpus side never
    shuffles for the model join (the fastText-style contract: the model
    is small by construction), and nothing degenerates to a cartesian
    pairing of docs with the bucket space."""
    from rapidocr_spark.functions.text import doc_nb_quality_score

    plan = _formatted(doc_nb_quality_score(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sample_mixture_no_global_data_window(spark):
    """doc_sample_mixture's per-domain running totals must come through
    the distributed prefix-sum (rangepartitioning + _pid-partitioned
    window + broadcast offsets) — NOT a Window.partitionBy(domain) over
    the corpus, which would funnel the dominant domain through one task,
    nor a global-order window (Exchange SinglePartition of data)."""
    from rapidocr_spark.functions.text import doc_sample_mixture

    plan = _formatted(doc_sample_mixture(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" in plan.lower(), plan
    assert "_pid" in plan
    assert "CartesianProduct" not in plan


def test_substring_coverage_windows_partition_by_doc(spark):
    """dedup_substring_coverage's interval-merge sweep must run as
    doc_id-PARTITIONED windows (parallel; per-doc interval counts are
    bounded by the span report's df-capped fan-out) — never a global
    single-partition window over the interval set, and never a cartesian
    pairing anywhere (it inherits the spans' fp equi-join)."""
    from rapidocr_spark.functions.dedup import dedup_substring_coverage

    plan = _formatted(dedup_substring_coverage(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(doc_id" in plan, plan


def test_bpe_apply_segments_vocab_not_corpus(spark):
    """doc_bpe_apply must segment the DISTINCT-WORD table (one
    MapInPandas over an aggregated vocab — cost ∝ |vocab|·merges), then
    join per-(doc, word) counts to the one-row-per-word mapping: no
    cartesian, no nested-loop, and the Python stage is the vocab
    segmenter (plus the single-partition learner), never a per-corpus-row
    UDF."""
    from rapidocr_spark.functions.text import doc_bpe_apply

    plan = _formatted(doc_bpe_apply(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
    # the segmenter's input is the aggregated distinct-word frame
    assert "HashAggregate" in plan


def test_value_outliers_no_per_group_data_window(spark):
    """ev_value_outliers' median/MAD selection must come through the
    distributed global rank (rangepartitioning + _pid-partitioned
    window + broadcast offsets) — NOT Window.partitionBy(event_type)
    over the data, which would funnel each group through one task."""
    from rapidocr_spark.plans.events import ev_value_outliers

    plan = _formatted(ev_value_outliers(spark, SF_DIR))
    assert "rangepartitioning" in plan.lower(), plan
    assert "CartesianProduct" not in plan
    # every window over the DATA must be _pid-partitioned; the only other
    # windows are the offsets passes over the ≤|partitions| aggregate
    # frames (identified by their ordering-only spec on _pid or the tiny
    # per-type counts frame ordered by event_type)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line or "event_type" in line.split(
                "windowspecdefinition"
            )[1][:40], line
    # the per-type counts offsets window orders (not partitions) by
    # event_type: an ordering spec renders with ASC/DESC right after it
    for line in plan.splitlines():
        if "windowspecdefinition(event_type" in line:
            head = line.split("windowspecdefinition(")[1]
            assert head.split(",")[0].strip().endswith("NULLS FIRST"), line
