"""Physical-plan shape guardrails — the 100 TB posture, asserted.

Correct results are necessary but not sufficient: these tests pin the
plan properties that make each operator survive a 1000-executor
cluster — filters reaching the parquet scan, small dimensions
broadcast instead of shuffled, top-k avoiding global sorts, and column
pruning keeping scans narrow. A regression here is a performance bug
even when every value still matches the oracle.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def frames(spark):
    """name -> the queries() frame at SF_DIR, built once per module:
    plan building dominates the blanket tests that visit every entry.
    ``frame_of.build_jobs``: name -> the Spark job ids its build ran
    (each build runs in its own job group)."""
    q = entrymod.queries()
    sc = spark.sparkContext
    built = {}

    def frame_of(name: str):
        if name not in built:
            sc.setJobGroup(f"plan-build:{name}", "plan build")
            try:
                built[name] = q[name](spark, SF_DIR)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            # job-start events reach the status store asynchronously
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            frame_of.build_jobs[name] = list(
                sc.statusTracker().getJobIdsForGroup(f"plan-build:{name}")
            )
        return built[name]

    frame_of.build_jobs = {}
    return frame_of


@pytest.fixture(scope="module")
def plans(frames):
    """name -> executed-plan string. Under AQE this is the initial
    plan (``AdaptiveSparkPlan isFinalPlan=false``): an action such as
    ``count()`` runs its own QueryExecution and leaves this frame's
    plan string unchanged, so none is run here. Execution of every
    entry is covered by tests/test_oracle_parity.py."""

    def plan_of(name: str) -> str:
        return frames(name)._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_filter_pushdown_to_scan(plans):
    """The 5-way disjunction must reach the parquet reader as a
    PushedFilters entry — at 100 TB this is the difference between
    reading row groups and skipping them."""
    p = plans("filter_disjunctive")
    assert "PushedFilters: [" in p
    assert "Or(" in p.split("PushedFilters:")[1][:400]


def test_column_pruning_on_wide_agg(plans):
    """q1 reads 6 of lineitem's 11 columns; the scan schema must show
    only what the aggregate needs."""
    p = plans("q1_pricing_summary")
    scan = p[p.index("FileScan") :]
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_shipdate" not in read_schema


def test_dim_joins_are_broadcast(plans):
    """customer->nation->region enrichment must broadcast the dims:
    no shuffle of the fact side for either join."""
    p = plans("dim_join_rollup")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_flagship_broadcasts_dims(plans):
    p = plans("return_pct_by_nation")
    assert p.count("BroadcastHashJoin") >= 2


def test_topk_avoids_global_sort(plans):
    """ORDER BY ... LIMIT 15 must plan TakeOrderedAndProject (per-
    partition top-k + driver merge), never a full Exchange+Sort."""
    p = plans("topk_customers")
    assert "TakeOrderedAndProject" in p


def test_minhash_has_no_cartesian(plans):
    """The LSH pipeline must never degenerate to a cross product."""
    p = plans("dedup_minhash_portable")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ann_lsh_is_equijoin(plans):
    p = plans("ann_lsh_topk")
    assert "CartesianProduct" not in p


def test_blocked_embedding_dedup_no_cartesian(plans):
    """The registered 100 TB path for embedding dedup must be an
    equi-join on (table, signature), never a cross product — the exact
    sibling (dedup_embedding_cosine) is the oracle twin and IS allowed
    its crossJoin."""
    p = plans("dedup_embedding_cosine_blocked")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_derived_schema_matches_inference(spark):
    """parquet_schema (pyarrow footer, driver-side) must agree with
    Spark's own inference for every test table — the contract that
    lets load_tables skip the per-read footer-inference job."""
    from aws_de_final_project_spark.sources import registry

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in registry.TABLES:
        path = registry.table_path(SF_DIR, name)
        derived = registry.parquet_schema(path)
        inferred = spark.read.parquet(path).schema
        assert derived == inferred, name


def test_partial_aggregation_before_exchange(plans):
    """q1's aggregate must be partial (map-side) then final — shuffle
    rows are per-group partials, not raw lineitems."""
    p = plans("q1_pricing_summary")
    first_agg = p.index("HashAggregate")
    assert "partial_sum" in p or "Partial" in p[first_agg:]


def test_range_sorted_write_produces_disjoint_file_ranges(spark, tmp_path):
    """write_range_sorted must yield files whose [min, max] slices of
    the leading sort column are pairwise disjoint — the property
    parquet min/max stats need for a range predicate to skip all but
    the overlapping files — and rows must be sorted inside each file."""
    import pyarrow.parquet as pq

    from aws_de_final_project_spark.sources.registry import (
        load_tables,
        write_range_sorted,
    )

    ev = load_tables(spark, "/root/testdata/sf0.001", ("events",))["events"]
    out = str(tmp_path / "events_sorted")
    write_range_sorted(ev.select("event_id", "user_id", "value"), out,
                       ["user_id", "event_id"], n_partitions=6)

    ranges = []
    import glob as _glob

    for f in sorted(_glob.glob(out + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)  # user_id
            assert col.path_in_schema == "user_id"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # range partitioner actually spread the data
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"

    # a point probe overlaps at most 2 files (1, or 2 when the probe
    # key itself sits on a range boundary — tuple-range partitioning
    # can split one user_id across adjacent files)
    probe = ranges[2][0]
    overlapping = sum(1 for lo, hi in ranges if lo <= probe <= hi)
    assert 1 <= overlapping <= 2 < len(ranges)

    # read-back correctness + per-file sortedness
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    import pandas as pd

    for f in _glob.glob(out + "/part-*.parquet"):
        pdf = pq.read_table(f, columns=["user_id", "event_id"]).to_pandas()
        assert pdf.sort_values(["user_id", "event_id"]).reset_index(
            drop=True
        ).equals(pdf.reset_index(drop=True))


def test_semantic_dedup_no_cartesian(plans):
    """The clustered SemDeDup path must be an equi-join on cell id —
    the centroid sweep happens scan-side as codegen arithmetic."""
    p = plans("dedup_semantic_clustered")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_headline_set_has_no_accidental_cross_product(plans):
    """Blanket guard over the ENTIRE bench headline (the entries tagged
    ``headline``): no query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed only in the two intentional
    broadcast brute-force ANN baselines (small query side x corpus scan
    — the correct exact-scoring shape).
    Catching a regression here beats discovering it in BENCH_r{N}."""
    # intentional broadcast nested-loop scans: tiny query/anchor side
    # broadcast against one corpus pass (documented in similarity.py)
    BNLJ_OK = {
        "ann_cosine_topk",
        "ann_cosine_topk_vec",
        "ann_int8_topk",
        "hard_negatives_contrastive",
        "ann_matryoshka_prefix_recall",  # two exact-rank scans
        # 1-row grand-total frame broadcast against the candidate
        # counts (same shape as the whitelisted corpus-count cross
        # join in extensions.py) — constant-size, intentional
        "heavy_hitter_tokens",
        # same 1-row stats frame (N, avgdl) broadcast into the IDF
        "bm25_doc_scores",
        # contingency margins ARE a cross product by definition:
        # |event_type| x |hour| rows, both margin frames tiny
        "chi2_event_type_hour",
        # 1-row vocab-size frame broadcast into the smoothing term
        # (same shape as the unigram entry's corpus-total cross join)
        "bigram_logprob_scores",
        # 1-row N1+(.,.) continuation-total frame, same shape
        "kneser_ney_logprob_docs",
        # inherits the unigram entry's 1-row corpus-total broadcast
        # (the bucketing itself is keyed: histogram equi-join)
        "perplexity_buckets_docs",
        # 1-row weight/doc-total frame against the |langs|-row
        # aggregate — the planner never touches per-doc data
        "temperature_mixture_rates",
        # 1-row order-count denominator frame, same shape
        "basket_pair_affinity",
        # two 1-row corpus-total frames (T, R) broadcast into the
        # D-row smoothed log-ratio weight table, same shape
        "dsir_importance_docs",
        # 1-row bank-total frame broadcast into the |bank|-row score
        # quantization, once per EM round (r11 unigram-LM training;
        # the encode entry trains the same model first)
        "unigram_lm_vocab",
        "unigram_encode_docs",
        # r12: both train the same unigram model (same 1-row
        # bank-total broadcast); the export entry also trains BPE
        "tokenizer_roundtrip_docs",
        "tokenizer_export_manifest",
    }
    for name in entrymod.tagged("headline"):
        p = plans(name)
        assert "CartesianProduct" not in p, f"{name} planned a cartesian"
        if name not in BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in p, (
                f"{name} planned an unkeyed broadcast loop join"
            )


def test_spatial_pairs_no_cartesian(plans):
    """The spatial radius join must be a grid-cell equi-join; the
    brute-force all-pairs form lives only in the DuckDB oracle."""
    p = plans("spatial_near_customers")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_overlap_pairs_no_cartesian(plans):
    """The interval-overlap join must equi-join on (keys, bin); the
    keyed theta-join lives only in the DuckDB oracle."""
    p = plans("overlap_shipment_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_fuzzy_pairs_no_cartesian(plans):
    """The levenshtein-1 matcher must equi-join on the delete
    variant; all-pairs levenshtein lives only in the DuckDB oracle."""
    p = plans("fuzzy_name_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_semi_join_stays_semi(plans):
    """EXISTS must plan as a true LeftSemi (no row blowup, no
    distinct pass) with the filtered fact side built/broadcast —
    never an inner join + dedup rewrite."""
    p = plans("semi_join_fast_parts")
    assert "LeftSemi" in p
    assert "HashAggregate" not in p.split("Join")[0]  # no dedup before join


def test_unpivot_is_expand_no_shuffle(plans):
    """UNPIVOT must plan as an Expand in the scan stage — k output
    rows per input row, zero exchanges (the orderBy is the query's
    own presentation sort, allowed one)."""
    p = plans("unpivot_part_metrics")
    assert "Expand" in p
    # only the final presentation sort may exchange
    body = p.split("Sort")[-1]
    assert "Exchange" not in body or "rangepartitioning" in body


def test_band_join_broadcasts_small_side(plans):
    """The inequality tier join must run as a BroadcastNestedLoopJoin
    (tiny side shipped to the fact) — never a cartesian exchange of
    the fact side."""
    p = plans("band_join_order_tiers")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_q5_broadcasts_dimensions(plans):
    """The 6-way Q5 join must broadcast the small sides (nation,
    region at minimum) and never fall back to a cartesian."""
    p = plans("q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 2, p[:800]
    assert "CartesianProduct" not in p


def test_no_ltz_output_columns_anywhere(frames):
    """No queries() entry may output a TIMESTAMP (LTZ) column: LTZ
    values localize through the PROCESS timezone at collect(), so an
    LTZ output diverges from its naive-timestamp oracle under any
    non-UTC driver tz (caught live by the Chatham-tz sweep on
    hourly_event_stats/gap_fill_hourly_values — date_trunc silently
    upcasts NTZ to LTZ). Plan-build only, no execution."""
    offenders = {}
    for name in entrymod.queries():
        df = frames(name)
        ltz = [c for c, t in df.dtypes if t == "timestamp"]
        if ltz:
            offenders[name] = ltz
    assert not offenders, f"LTZ output columns: {offenders}"


def test_plan_builds_run_jobs_only_in_named_entries(frames):
    """Building a queries() entry runs Spark jobs exactly when its
    registry row carries a ``build:<reason>`` tag: a new eager action at
    plan-build time shows up here, and so does a stale tag whose entry
    no longer runs one. Plan-build only; the builds are the fixture's."""
    for name in entrymod.queries():
        frames(name)
    named = entrymod.tagged("build:")
    ran = {n: len(jobs) for n, jobs in frames.build_jobs.items() if jobs}
    unnamed = {n: k for n, k in ran.items() if n not in named}
    assert not unnamed, f"plan builds that ran jobs: {unnamed}"
    idle = sorted(named.keys() - ran.keys())
    assert not idle, f"build:-tagged entries whose build ran no job: {idle}"


def test_hash_split_is_pure_projection(plans):
    """The train/val/test split must stay a scan-side projection:
    zero exchanges (its whole point is that split assignment composes
    onto a 100 TB scan with no shuffle). The final orderBy is the
    display sort of the query entry, not part of the operator —
    exchanges for it only appear because of that single ORDER BY,
    so assert exactly one Exchange (the rangepartitioning sort) and
    no aggregation/join."""
    p = plans("split_train_val_test_docs")
    assert p.count("Exchange") <= 1, p
    assert "Join" not in p
    assert "HashAggregate" not in p


def test_epoch_shuffle_prunes_to_doc_id(plans):
    """Epoch shuffle must read doc_id ONLY (the permutation never
    needs text): a scan that drags the text column through the shard
    shuffle multiplies exchange volume by document size."""
    p = plans("epoch_shuffle_docs")
    assert "ReadSchema: struct<doc_id:bigint>" in p
    assert "text" not in p.split("ReadSchema")[1][:200]


def test_kmv_two_phase_no_single_group_sort(plans):
    """The KMV k-minimum must run as the salted two-phase rank: two
    Window operators (per-(group,salt) rank, then global-survivor
    rank), and the first window's partitioning must include the salt
    column — the property that stops any task from sorting a full
    group's distinct set."""
    p = plans("sketch_kmv_distinct_portable")
    assert p.count("RunningWindowFunction") >= 2 or p.count("Window") >= 2, p
    assert "_salt" in p


def test_triangle_adjacency_never_broadcasts(plans):
    """The triangle adjacency frame carries every oriented edge
    inside its arrays (O(n + m)) — if it ever becomes a broadcast
    build side again, the x30 probe tier OOMs a 16 GB driver and a
    real cluster dies at scale (found live in round 6; the explicit
    size-dispatched broadcast was ALSO measured slower at every
    tier). Both attach joins must stay shuffle hash joins
    co-partitioned on node id."""
    p = plans("triangle_parts_copurchase")
    assert p.count("ShuffledHashJoin") >= 2
    assert "BroadcastHashJoin" not in p
    assert "SortMergeJoin" not in p


def test_cms_probe_join_is_broadcast_and_jl_is_scan_only(plans):
    """sketch_cms_token_freq: the 120-row probe side must broadcast
    against the <=2048-cell sketch (never shuffle the cells on a
    sort-merge); jl_project_embeddings: the projection is a pure
    scan-side expression — any exchange before the final sort means
    the literal bank fell out of codegen."""
    p = plans("sketch_cms_token_freq")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    p = plans("jl_project_embeddings")
    assert "Join" not in p
    # one exchange only: the output ordering's range partitioning
    assert p.count("Exchange") <= 2


def test_image_caption_pairs_single_imgurl_shuffle(plans):
    """Image-caption mining must stay scan-side until the one
    img_url-keyed best-caption window: extraction/decode/canon/
    figcaption lookup add NO exchange of their own, and there is no
    join (the figure lookup is an array filter, not a shuffle join)."""
    p = plans("image_caption_pairs")
    assert "Join" not in p, "figcaption lookup must not plan a join"
    n_exch = p.count("Exchange hashpartitioning")
    assert n_exch <= 2, f"expected only the window shuffle, got {n_exch}"
    assert "img_url" in p.split("Exchange hashpartitioning", 1)[1]


def test_pdf_extract_no_shuffle_before_sort(plans):
    """PDF extraction is a pure mapInPandas chain: the only exchange
    is the output presentation sort."""
    p = plans("pdf_extract_stats")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 0


def test_chat_projections_no_shuffle(plans):
    """The chat projection family (loss-mask stats, prompt split,
    template rendering) must stay scan-side: mapInPandas fixture gen
    + from_json + HOFs, with no exchange before the presentation
    sort and no join anywhere."""
    for name in ("chat_loss_mask_stats", "chat_prompt_split",
                 "chat_render_template"):
        p = plans(name)
        assert "Join" not in p, name
        assert p.count("Exchange hashpartitioning") == 0, name


def test_chat_prompt_dedup_batch_sized_antijoin(plans):
    """The registry dedup must plan the anti-join (batch-sized
    shuffle), never a full join of history against the batch."""
    p = plans("chat_prompt_dedup")
    assert "LeftAnti" in p
