"""SnapshotTable commit metadata: per-file stats taken from parquet
footers must equal the Spark job they replace (``_job_stats``), the job
must still run for types the footer cannot answer exactly, and reads
skip the schema-merge job only when every file carries the manifest's
schema id."""

import glob
import json
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gdal_spark import table as table_mod
from gdal_spark.table import SnapshotTable

NAN = float("nan")


def _write(spark, tmp_path, rows, schema, parts=1, **opts):
    d = str(tmp_path / "staged")
    df = spark.createDataFrame(rows, schema)
    df = df.repartition(parts) if parts > 1 else df.coalesce(1)
    w = df.write.mode("overwrite")
    for k, v in opts.items():
        w = w.option(k, v)
    w.parquet(d)
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _same(a, b):
    """Equal as manifest JSON text (NaN-safe, -0.0 distinct from 0.0)."""
    return json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)


def _check(spark, paths, cols, footer_exact=True):
    """Footer path == job path for every file; ``footer_exact`` says
    whether the footer alone answered (else the job fallback ran)."""
    job = table_mod._job_stats(spark, paths, cols)
    got = table_mod._file_stats(spark, paths, cols)
    assert _same(got, job), (got, job)
    for p in paths:
        foot = table_mod._footer_stats(p, cols)
        if footer_exact:
            assert foot is not None, p
            assert _same(foot, job[p]), (foot, job[p])
        else:
            assert foot is None, (p, foot)
    return job


class TestFooterStatsEqualJob:
    def test_int_long_double_string_multi_file(self, spark, tmp_path):
        rows = [
            (i, i * 1_000_000_007, i / 7.0 - 3.0, f"s{i % 37:02d}")
            for i in range(-50, 250)
        ]
        paths = _write(
            spark, tmp_path, rows, "i int, l bigint, d double, s string",
            parts=3,
        )
        assert len(paths) == 3
        job = _check(spark, paths, ["i", "l", "d", "s", "absent"])
        assert sum(r for r, _ in job.values()) == len(rows)
        assert all(set(st) == {"i", "l", "d", "s"} for _, st in job.values())

    def test_small_ints_float_bool(self, spark, tmp_path):
        rows = [(i % 100 - 50, i * 3 - 7, i * 0.25 - 1.0, i % 3 == 0)
                for i in range(40)]
        paths = _write(
            spark, tmp_path, rows, "b tinyint, h smallint, f float, o boolean"
        )
        _check(spark, paths, ["b", "h", "f", "o"])

    @pytest.mark.parametrize(
        "vals",
        [
            [NAN, 1.0, 2.0],  # NaN first
            [NAN, NAN],  # NaN only
            [None, NAN, 3.0, None],  # NaN mixed with NULL
            [None, NAN, None],
            [-1.0, -0.0, 0.0, 2.5],  # signed zeros inside the range
        ],
    )
    def test_nan_and_signed_zero(self, spark, tmp_path, vals):
        paths = _write(spark, tmp_path, [(v,) for v in vals], "v double")
        _check(spark, paths, ["v"])

    @pytest.mark.parametrize(
        "vals", [[0.0, -0.0], [-0.0, 0.0], [-0.0, 5.0], [-3.0, 0.0]]
    )
    def test_zero_bound_falls_back_to_job(self, spark, tmp_path, vals):
        # Spark keeps whichever zero comes first; the footer cannot know
        paths = _write(spark, tmp_path, [(v,) for v in vals], "v double")
        _check(spark, paths, ["v"], footer_exact=False)

    def test_all_null_column(self, spark, tmp_path):
        paths = _write(
            spark, tmp_path, [(i, None) for i in range(5)], "k int, n double"
        )
        job = _check(spark, paths, ["k", "n"])
        assert job[paths[0]][1]["n"] == [None, None]

    def test_empty_input(self, spark, tmp_path):
        paths = _write(spark, tmp_path, [], "k int, s string")
        assert paths  # Spark still writes one schema-only file
        job = _check(spark, paths, ["k", "s"])
        assert all(v == (0, {}) for v in job.values())

    def test_non_ascii_strings(self, spark, tmp_path):
        # code-point order == UTF-8 byte order, not UTF-16 order: the
        # emoji (a surrogate pair in UTF-16) sorts above U+FF61
        vals = ["zeta", "émile", "日本", "｡", "\U0001f600", "Ωmega", "a"]
        paths = _write(spark, tmp_path, [(v,) for v in vals], "s string")
        job = _check(spark, paths, ["s"])
        assert job[paths[0]][1]["s"] == ["a", "\U0001f600"]

    def test_many_row_groups(self, spark, tmp_path):
        rows = [(i, (i * 7919) % 10007 / 3.0 - 7.5, f"k{(i * 31) % 997:04d}")
                for i in range(20000)]
        paths = _write(
            spark, tmp_path, rows, "i bigint, d double, s string",
            **{"parquet.block.size": 4096},
        )
        assert pq.read_metadata(paths[0]).num_row_groups > 1
        _check(spark, paths, ["i", "d", "s"])

    def test_oversized_string_falls_back(self, spark, tmp_path):
        # the writer drops min/max past its statistics size limit
        rows = [("x" * 5000,), ("y",)]
        paths = _write(spark, tmp_path, rows, "s string")
        _check(spark, paths, ["s"], footer_exact=False)

    @pytest.mark.parametrize(
        "expr",
        [
            "date_add(DATE'2020-01-01', CAST(id AS INT))",
            "timestamp_seconds(id)",
            "CAST(id / 3 AS DECIMAL(10, 2))",
            # binary order is not the collation's order ('B' < 'a')
            "CASE WHEN id % 2 = 0 THEN 'B' ELSE 'a' END COLLATE UTF8_LCASE",
            "CAST(CAST(id AS STRING) AS BINARY)",
            "named_struct('x', id)",
        ],
    )
    def test_date_timestamp_decimal_and_other_types_run_the_job(
        self, spark, tmp_path, monkeypatch, expr
    ):
        d = str(tmp_path / "typed")
        spark.range(0, 20).selectExpr(f"{expr} AS v").coalesce(1).write.parquet(d)
        paths = glob.glob(os.path.join(d, "*.parquet"))
        calls = []
        job = table_mod._job_stats

        def spy(spark_, paths_, cols_):
            calls.append(paths_)
            return job(spark_, paths_, cols_)

        monkeypatch.setattr(table_mod, "_job_stats", spy)
        got = table_mod._file_stats(spark, paths, ["v"])
        assert calls == [paths]
        assert got[paths[0]][0] == 20 and got[paths[0]][1]["v"][0] is not None


def test_manifests_equal_between_footer_and_job_paths(
    spark, tmp_path, monkeypatch
):
    """The same commits written with footer stats and with the job
    fallback forced produce identical per-file rows and stats."""

    def commit_all(root):
        t = SnapshotTable(spark, root, stats_cols=["k", "v", "s", "z"])
        df = spark.range(0, 500).selectExpr(
            "id AS k",
            "CASE WHEN id % 50 = 0 THEN CAST('NaN' AS DOUBLE)"
            " WHEN id % 7 = 0 THEN NULL ELSE id / 9.0 END AS v",
            "concat('é', CAST(id % 13 AS STRING)) AS s",
            "CAST(NULL AS INT) AS z",
        )
        t.append(df.repartition(3))
        t.append(df.filter("k < 0"))  # empty commit
        t.merge(df.filter("k % 100 = 1").withColumn("s", F.lit("ü")), ["k"])
        m = t._manifest(t.current_snapshot_id())
        return [(f["rows"], f["stats"]) for f in m["files"]]

    footer = commit_all(str(tmp_path / "footer"))
    monkeypatch.setattr(table_mod, "_footer_stats", lambda p, c: None)
    job = commit_all(str(tmp_path / "job"))
    assert _same(footer, job)
    assert sum(r for r, _ in footer) == 505


class TestSchemaIdReads:
    def _jobs_while(self, spark, fn):
        sc = spark.sparkContext
        group = f"schema-probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "schema probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_uniform_table_reads_without_schema_merge(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=["k"])
        t.append(spark.range(0, 30).selectExpr("id AS k", "id * 0.5 AS v"))
        t.append(spark.range(30, 60).selectExpr("id AS k", "id * 0.5 AS v"))
        m = t._manifest(t.current_snapshot_id())
        assert len({f["schema_id"] for f in m["files"]}) == 1
        # planning the read runs no job: the schema comes from the manifest
        assert self._jobs_while(spark, lambda: t.read().schema) == 0
        assert self._jobs_while(spark, lambda: t.pruned_read("k", 5, 9).schema) == 0
        merged = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[f["path"] for f in m["files"]])
        )
        assert t.read().schema == merged.schema
        assert sorted(t.read().collect()) == sorted(merged.collect())

    def test_mixed_and_legacy_manifests_merge_schemas(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.append(spark.range(0, 10).selectExpr("id AS k"))
        t.append(spark.range(10, 20).selectExpr("id AS k", "'en' AS lang"))
        assert self._jobs_while(spark, lambda: t.read().schema) > 0
        assert t.read().filter("lang IS NULL").count() == 10
        # a manifest that predates schema ids takes the merge path too
        sid = t.current_snapshot_id()
        path = t._manifest_path(sid)
        m = t._manifest(sid)
        for f in m["files"]:
            del f["schema_id"]
        with open(path, "w") as fh:
            json.dump(m, fh)
        assert self._jobs_while(spark, lambda: t.read().schema) > 0
        assert t.read().count() == 20
        # time travel to the single-schema snapshot needs no merge
        assert self._jobs_while(spark, lambda: t.read(1).schema) == 0
        assert t.read(1).columns == ["k"]

