"""Positive physical-plan pins for the headline bench queries.

test_driver_contract.py enforces the NEGATIVE hygiene rules over every
registered query (no BatchEvalPython, no CartesianProduct).  This module
pins the POSITIVE claims SURVEY.md §9 makes about the headline suite —
the properties that make each plan survive a 100 TB corpus — so a
refactor that silently degrades a broadcast join into a sort-merge
shuffle, or un-prunes a scan, fails the gate instead of only showing up
as a bench regression:

* corpus-side shuffle counts (zero for the map-side kernels),
* BroadcastHashJoin (never SortMergeJoin) where the dim-table contract
  claims one,
* column pruning (wide ``text`` never read by geometry-only queries),
* predicate pushdown reaching the parquet scan.

Plan-string counting caveats (see the census note in SURVEY §9): a
subtree shared by several union branches prints once PER BRANCH, and an
InMemoryRelation prints its cached child plan once per reference — so
node counts on the plan string are a PRINT census, not an execution
census.  Pins below therefore assert presence/absence and documented
print-census upper bounds, never exact execution counts.
"""

import re

import pytest
from pyspark.sql import functions as F

from gdal_spark import corpus, zones

_SHUFFLE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobin)"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Shuffle-exchange PRINTS (BroadcastExchange deliberately excluded:
    broadcasting a dim table is the cheap path, not a corpus shuffle)."""
    return len(_SHUFFLE.findall(plan))


@pytest.fixture(scope="module", autouse=True)
def _fresh_cache(spark):
    """Plan pins must see the plan a FRESH reader gets.  Earlier test
    modules leave cached projections behind (registry queries lazily
    persist multiply-referenced stages), and Spark's cache manager
    substitutes a matching InMemoryRelation — whose printed child scan
    carries the BUILD-time ReadSchema (e.g. the wide ``text`` column) —
    into any later plan over the same subtree, turning these pins into
    test-order-dependent flakes."""
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return corpus.load_docs(spark, sf_dir, replicate=1)


class TestMapSideKernelsNeverShuffle:
    """The zero-shuffle claims: these operators answer from a single
    corpus scan; every byte of parallelism is embarrassing.  Zero prints
    of a shuffle exchange implies zero executed shuffles."""

    def test_knn_zero_shuffle(self, spark, docs):
        from gdal_spark.operators.knn import knn_join, knn_targets

        df = knn_join(docs.select("doc_id", "lon", "lat"), knn_targets(spark), k=5)
        plan = _plan(df)
        assert _shuffles(plan) == 0, plan
        assert "SortMergeJoin" not in plan

    def test_strtree_zero_shuffle_zero_join(self, spark, docs):
        from gdal_spark.operators.strtree_join import pip_join_strtree

        df = pip_join_strtree(docs, zones.rich_zones(spark, n=100))
        plan = _plan(df)
        assert _shuffles(plan) == 0, plan
        assert "Join" not in plan, plan

    def test_clip_strtree_zero_shuffle_zero_join(self, spark, sf_dir):
        from gdal_spark.operators.strtree_join import clip_join_strtree

        pdocs = corpus.load_polydocs(spark, sf_dir)
        df = clip_join_strtree(pdocs, zones.rich_zones(spark, n=100))
        plan = _plan(df)
        assert _shuffles(plan) == 0, plan
        assert "Join" not in plan, plan

    def test_knn_strtree_zero_shuffle_zero_join(self, spark, docs):
        from gdal_spark.operators.knn import knn_targets
        from gdal_spark.operators.strtree_join import knn_join_strtree

        df = knn_join_strtree(
            docs.select("doc_id", "lon", "lat"), knn_targets(spark), k=5
        )
        plan = _plan(df)
        assert _shuffles(plan) == 0, plan
        assert "Join" not in plan, plan

    def test_ann_brute_zero_shuffle(self, spark, sf_dir):
        from gdal_spark.operators.similarity import brute_force_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        plan = _plan(brute_force_topk(e, e, k=3))
        assert _shuffles(plan) == 0, plan


class TestBroadcastDimJoins:
    """Dim-sized method layers must broadcast: the corpus side of the
    candidate join never moves.  The rect/poly fork prints the shared
    broadcast-join subtree once per union branch, so the pin is
    presence + zero shuffle prints + no merge-join anywhere."""

    def _pin_broadcast_only(self, df):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        assert _shuffles(plan) == 0, plan

    def test_pip_join_broadcasts_zone_cells(self, spark, docs):
        from gdal_spark.operators.pip_join import pip_join

        z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
        self._pin_broadcast_only(pip_join(docs, z))

    def test_clip_broadcasts_zone_cells(self, spark, sf_dir):
        from gdal_spark.operators.overlay import intersection_join

        pdocs = corpus.load_polydocs(spark, sf_dir, replicate=1)
        cz = zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
        self._pin_broadcast_only(intersection_join(pdocs, cz, emit_wkt=False))

    def test_clip_general_broadcasts_zone_cells(self, spark, sf_dir):
        from gdal_spark.operators.overlay import intersection_join

        pdocs = corpus.load_polydocs(spark, sf_dir, replicate=1)
        self._pin_broadcast_only(
            intersection_join(pdocs, zones.rich_zones(spark), emit_wkt=False)
        )


class TestPreparedZoneBranches:
    """The broadcast joins prepare the zone layer on the driver and plan
    only the branches it needs: no Union and one Python stage for an
    all-polygon layer, no Python stage for an all-rectangle layer."""

    def test_pip_join_polygon_layer_plans_refine_only(self, spark, docs):
        from gdal_spark.operators.pip_join import pip_join

        plan = _plan(pip_join(docs, zones.rich_zones(spark)))
        assert "Union" not in plan, plan
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_pip_join_rect_layer_plans_no_python(self, spark, docs):
        from gdal_spark.operators.pip_join import pip_join

        z = zones.rect_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
        plan = _plan(pip_join(docs, z))
        assert "ArrowEvalPython" not in plan, plan
        assert "Union" not in plan, plan

    def test_clip_polygon_layer_plans_kernel_only(self, spark, sf_dir):
        from gdal_spark.operators.overlay import intersection_join

        pdocs = corpus.load_polydocs(spark, sf_dir, replicate=1)
        plan = _plan(intersection_join(pdocs, zones.rich_zones(spark), emit_wkt=False))
        assert "Union" not in plan, plan
        assert plan.count("MapInPandas") == 1, plan

    def test_clip_rect_layer_plans_no_python(self, spark, sf_dir):
        from gdal_spark.operators.overlay import intersection_join

        pdocs = corpus.load_polydocs(spark, sf_dir, replicate=1)
        cz = zones.clip_zones(spark).drop("zxmin", "zymin", "zxmax", "zymax")
        plan = _plan(intersection_join(pdocs, cz, emit_wkt=False))
        assert "MapInPandas" not in plan and "Python" not in plan, plan
        assert "Union" not in plan, plan


class TestBoundedShuffles:
    """Print-census UPPER BOUNDS for the two multi-stage pipelines.
    The bounds are the current known-good census (minhash: 1 real
    corpus shuffle into band buckets + persisted-stage reprints;
    pyramid: the base-tile aggregate plus one aggregate over every
    level).  A new per-round or per-row shuffle, or lost stage reuse,
    blows well past them."""

    def test_minhash_md5_census_bound(self, spark, docs):
        from gdal_spark.operators.text import minhash_md5_pairs

        plan = _plan(minhash_md5_pairs(docs.select("doc_id", "text")))
        assert _shuffles(plan) <= 8, plan

    def test_tile_pyramid_census_bound(self, spark, docs):
        from gdal_spark.operators.tiling import _pyramid_plan

        # tile_pyramid returns a checkpoint scan; pin the lazy plan it
        # checkpoints: the base aggregate plus ONE level aggregate
        plan = _plan(_pyramid_plan(docs.select("lon", "lat"), 8))
        assert _shuffles(plan) <= 2, plan


class TestTrainingPipelinePlans:
    """Positive pins for the curation-family queries: the distributed
    global-rank/cumsum stages shuffle by RANGE (never SinglePartition),
    dim joins broadcast, and the per-source top-K selection keeps its
    WindowGroupLimit (partial top-K map-side — the property that bounds
    a hot source's reducer to #map-partitions x K rows).  Bounds are
    fresh-cache print censuses (see module docstring caveat)."""

    def _q(self, spark, sf_dir, name):
        import __spark_entry__ as entry_mod

        spark.catalog.clearCache()
        return _plan(entry_mod.queries()[name](spark, sf_dir))

    def test_seq_pack_range_partition_and_broadcast(self, spark, sf_dir):
        plan = self._q(spark, sf_dir, "seq_pack")
        assert "Exchange rangepartitioning" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert _shuffles(plan) <= 6, plan

    def test_dsir_model_joins_broadcast(self, spark, sf_dir):
        plan = self._q(spark, sf_dir, "dsir_weights")
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert _shuffles(plan) <= 6, plan

    def test_quality_buckets_range_partition(self, spark, sf_dir):
        plan = self._q(spark, sf_dir, "quality_buckets")
        assert "Exchange rangepartitioning" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert _shuffles(plan) <= 10, plan

    def test_pretrain_mix_window_group_limit(self, spark, sf_dir):
        plan = self._q(spark, sf_dir, "pretrain_mix")
        assert "WindowGroupLimit" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert _shuffles(plan) <= 40, plan


class TestScanHygiene:
    def test_geometry_queries_never_read_text(self, spark, docs):
        """Column pruning reaches the parquet scan: the wide ``text``
        column must not appear in any ReadSchema of geometry-only
        pipelines (at 100 TB text dominates the row; reading it for a
        lon/lat query is a ~10x scan tax)."""
        from gdal_spark.operators.knn import knn_join, knn_targets
        from gdal_spark.operators.tiling import tile_counts

        # tile_counts is the corpus-sized stage of tile_pyramid (whose own
        # plan is a checkpoint scan with no ReadSchema at all)
        for df in (
            knn_join(docs.select("doc_id", "lon", "lat"), knn_targets(spark), k=5),
            tile_counts(docs.select("lon", "lat"), 8),
        ):
            schemas = re.findall(r"ReadSchema: (\S+)", _plan(df))
            assert schemas, _plan(df)
            for s in schemas:
                assert "text" not in s, s

    def test_filter_pushdown_reaches_scan(self, spark, sf_dir):
        """A translate-style WHERE lands in PushedFilters, not only a
        post-scan Filter.  The plan printer TRUNCATES long filter lists
        ("PushedFilters: [IsNotNull(l_quantity), Gr..."), so match the
        opening bracket + first pushed predicate, not a closed list."""
        import __spark_entry__ as entry_mod

        df = entry_mod.queries()["between_filter"](spark, sf_dir)
        plan = _plan(df)
        assert re.search(r"PushedFilters: \[\w", plan), plan


class TestRound4dPlans:
    """Plan pins for the round-4d training-data family."""

    def _q(self, spark, sf_dir, name):
        import __spark_entry__ as entry_mod

        spark.catalog.clearCache()
        return _plan(entry_mod.queries()[name](spark, sf_dir))

    def test_weighted_sample_zero_exchange_topk(self, spark, sf_dir):
        plan = self._q(spark, sf_dir, "weighted_sample")
        assert _shuffles(plan) == 0, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "Python" not in plan.replace("collectToPython", ""), plan

    def test_substring_dedup_broadcasts_dims(self, spark, sf_dir):
        # at test scale the dup-gram dim and starts dim broadcast; the
        # gram key is the 16-byte md5 pair, never the gram string
        plan = self._q(spark, sf_dir, "substring_dedup")
        assert "SortMergeJoin" not in plan, plan
        assert "Python" not in plan, plan

    def test_bpe_train_is_pure_jvm(self, spark, sf_dir):
        # the LEARNER is one Catalyst plan: no Arrow/pandas stage at all
        plan = self._q(spark, sf_dir, "bpe_train")
        assert "Python" not in plan and "MapInPandas" not in plan, plan

    def test_bpe_encode_python_only_on_vocab_dim(self, spark, sf_dir):
        # exactly one Arrow-batched Python stage (the distinct-word dim);
        # the corpus scoring side is JVM with broadcast dim joins
        plan = self._q(spark, sf_dir, "bpe_encode")
        # the tok dim is referenced twice (scoring join + first-word
        # join), so the print census shows the stage once per reference
        assert 1 <= plan.count("MapInPandas") <= 2, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestRound4fPlans:
    """Plan pins for this session's additions (invdistnn family,
    raster_calc, fasttext_filter, pip_join_hex)."""

    def _q(self, spark, sf_dir, name):
        import __spark_entry__ as entry_mod

        spark.catalog.clearCache()
        return _plan(entry_mod.queries()[name](spark, sf_dir))

    def test_fasttext_filter_is_pure_jvm_one_shuffle(self, spark, sf_dir):
        # the stand-in model is an inline expression: one doc_id shuffle
        # (map-side combined), zero Python, zero joins
        plan = self._q(spark, sf_dir, "fasttext_filter")
        assert "Python" not in plan and "MapInPandas" not in plan, plan
        assert "Join" not in plan, plan
        assert _shuffles(plan) == 1, plan

    def test_raster_calc_is_pure_jvm(self, spark, sf_dir):
        # the compiled expressions are whole-stage codegen over one
        # pivot; union branches reprint the shared pivot subtree
        plan = self._q(spark, sf_dir, "raster_calc")
        assert "Python" not in plan and "MapInPandas" not in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_grid_invdistnn_single_python_stage(self, spark, sf_dir):
        # radius_join's map-side kernel is the only Python stage; the
        # pixel grid never shuffles before it (targets ride bucketed
        # per executor)
        plan = self._q(spark, sf_dir, "grid_invdistnn")
        assert plan.count("MapInPandas") == 1, plan
        assert "BatchEvalPython" not in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_pip_join_hex_point_side_is_jvm(self, spark, sf_dir):
        # hex assignment is pure codegen: the zone-side cell cover is
        # prepared on the driver and planned as a local relation, so the
        # only Python print is the shared Arrow refine; the join on
        # (hex_q, hex_r) broadcasts
        plan = self._q(spark, sf_dir, "pip_join_hex")
        assert plan.count("MapInPandas") == 0, plan
        assert plan.count("LocalTableScan") == 1, plan  # zone cover
        assert plan.count("ArrowEvalPython") == 1, plan  # the exact refine
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestRound4hPlans:
    """Plan pins for the round-4h additions (set-type matrix, curation
    sampling family, paragraph/url dedup, tokenizer fertility)."""

    def _q(self, spark, sf_dir, name):
        import __spark_entry__ as entry_mod

        spark.catalog.clearCache()
        return _plan(entry_mod.queries()[name](spark, sf_dir))

    def test_raster_set_type_zero_shuffle_jvm(self, spark, sf_dir):
        # the whole conversion matrix is one codegen projection
        plan = self._q(spark, sf_dir, "raster_set_type")
        assert _shuffles(plan) == 0, plan
        assert "Python" not in plan and "Join" not in plan, plan

    def test_url_dedup_single_shuffle_jvm(self, spark, sf_dir):
        # canonicalization is pure string codegen; one canon-key reduce
        plan = self._q(spark, sf_dir, "url_dedup")
        assert _shuffles(plan) == 1, plan
        assert "Python" not in plan and "Join" not in plan, plan

    def test_paragraph_dedup_jvm_no_blowup(self, spark, sf_dir):
        # paragraph chunking/joins stay JVM; keeper join must hash-join
        # (one build row per para key), never nested-loop
        plan = self._q(spark, sf_dir, "paragraph_dedup")
        assert "Python" not in plan, plan
        assert "NestedLoop" not in plan, plan

    def test_sampling_dims_fold_map_side(self, spark, sf_dir):
        # unimax/temperature/doremi: the ONLY corpus-sized work is the
        # partial aggregate before the first exchange; windows run on
        # the lang/source dim
        for name in ("unimax_sample", "temperature_mix", "doremi_weights"):
            plan = self._q(spark, sf_dir, name)
            assert "Python" not in plan, (name, plan)
            assert "partial" in plan, (name, plan)  # map-side combine
            assert "CartesianProduct" not in plan, (name, plan)

    def test_token_fertility_python_only_on_vocab_dim(self, spark, sf_dir):
        plan = self._q(spark, sf_dir, "token_fertility")
        assert plan.count("MapInPandas") == 1, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestRound5Plans:
    """Positive pins for the round-5 additions: the OGR SQL front-end
    lowers onto the same broadcast/codegen shapes as its hand-written
    twins; the encoded-tile sinks are one-shuffle jobs; the NTv2 step
    is one broadcast dim join."""

    def test_ogrsql_select_is_pure_jvm(self, spark, sf_dir):
        from gdal_spark.registry import QUERIES

        plan = _plan(QUERIES["ogrsql_select"](spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan
        # ORDER+LIMIT+OFFSET lowers to the distributed top-k
        assert "TakeOrderedAndProject" in plan

    def test_ogrsql_join_broadcasts_first_match(self, spark, sf_dir):
        from gdal_spark.registry import QUERIES

        plan = _plan(QUERIES["ogrsql_join"](spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # one shuffle for the first-match window partition at most
        assert _shuffles(plan) <= 1, plan

    def test_ogrsql_summary_single_aggregate(self, spark, sf_dir):
        from gdal_spark.registry import QUERIES

        plan = _plan(QUERIES["ogrsql_summary"](spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan

    def test_tile_encode_single_shuffle(self, spark, sf_dir):
        from gdal_spark.registry import QUERIES

        plan = _plan(QUERIES["tile_encode"](spark, sf_dir))
        # one shuffle keys pixels to tiles; one Arrow stage encodes
        assert _shuffles(plan) == 1, plan
        assert plan.count("FlatMapGroupsInPandas") == 1

    def test_mvt_encode_single_shuffle(self, spark, sf_dir):
        from gdal_spark.registry import QUERIES

        plan = _plan(QUERIES["mvt_encode"](spark, sf_dir))
        assert _shuffles(plan) == 1, plan
        assert plan.count("FlatMapGroupsInPandas") == 1

    def test_ntv2_broadcast_dim_join(self, spark, sf_dir):
        from gdal_spark.registry import QUERIES

        plan = _plan(QUERIES["ntv2_transform"](spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # the corpus side never shuffles: the only exchanges are the
        # dim-side cell-table build
        assert "BatchEvalPython" not in plan

    def test_pip_join_pruned_one_scan(self, spark, sf_dir):
        from gdal_spark.registry import QUERIES

        plan = _plan(QUERIES["pip_join_pruned"](spark, sf_dir))
        assert plan.count("Scan parquet") == 1, plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
