"""SnapshotTable — the Iceberg-analog commit/time-travel/incremental
layer (north rule: "checkpoint per Iceberg snapshot").  Reference
parity: ogr2ogr -append / -overwrite dataset updates
(apps/ogr2ogr_lib.cpp:2426-2447); what's new vs the reference is
point-in-time reads and the files-added-since changelog."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gdal_spark.table import (
    CommitConflict,
    IncrementalAcrossOverwrite,
    SnapshotTable,
)


def _batch(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def _vals(df):
    return sorted((r["k"], r["tag"]) for r in df.collect())


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tab")


def test_append_time_travel_incremental(spark, root):
    t = SnapshotTable(spark, root)
    assert t.current_snapshot_id() is None
    s1 = t.append(_batch(spark, 0, 10, "a"))
    s2 = t.append(_batch(spark, 10, 15, "b"))
    s3 = t.append(_batch(spark, 15, 25, "c"))
    assert (s1, s2, s3) == (1, 2, 3)

    assert t.read().count() == 25  # current
    assert _vals(t.read(snapshot_id=1)) == _vals(_batch(spark, 0, 10, "a"))
    assert t.read(snapshot_id=2).count() == 15  # time travel

    # changelog: files added in (1, 3]
    inc = t.incremental(1)
    assert _vals(inc) == _vals(
        _batch(spark, 10, 15, "b").unionAll(_batch(spark, 15, 25, "c"))
    )
    assert t.incremental(2, 3).count() == 10
    assert t.incremental(3, 3).count() == 0  # empty range, schema intact
    assert t.incremental(3, 3).columns == ["k", "tag"]


def test_incremental_keeps_a_column_added_mid_range(spark, root):
    """The changelog scan reads like read(): over appends (k; k+lang; k)
    the added files' schemas differ, so the scan merges them instead of
    taking one file's schema."""
    t = SnapshotTable(spark, root)
    t.append(spark.range(0, 3).select(F.col("id").alias("k")))
    t.append(
        spark.range(3, 5).select(
            F.col("id").alias("k"), F.lit("en").alias("lang")
        )
    )
    t.append(spark.range(5, 6).select(F.col("id").alias("k")))
    inc = t.incremental(0)
    assert sorted(inc.columns) == sorted(t.read().columns) == ["k", "lang"]
    assert sorted(r["k"] for r in inc.filter(F.col("lang") == "en").collect()) == [
        3,
        4,
    ]
    assert inc.count() == 6
    assert t.incremental(2).columns == ["k"]  # one file, its own schema


def test_overwrite_and_time_travel_across_it(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))
    t.overwrite(_batch(spark, 100, 103, "z"))
    assert _vals(t.read()) == _vals(_batch(spark, 100, 103, "z"))
    # the pre-overwrite state is still addressable
    assert t.read(snapshot_id=1).count() == 10
    with pytest.raises(IncrementalAcrossOverwrite):
        t.incremental(1).count()
    # appends after the overwrite restart the changelog
    t.append(_batch(spark, 200, 204, "w"))
    assert t.incremental(2).count() == 4


def test_crash_leftovers_are_invisible_and_swept(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))
    # simulate a writer that died mid-commit: staged dir + orphan data
    # file + manifest tmp, but NO hint swap
    staged = os.path.join(root, "tmp-commit-2")
    os.makedirs(staged)
    _batch(spark, 50, 60, "dead").write.mode("overwrite").parquet(staged)
    orphan = os.path.join(root, "data", "snap2-00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not parquet")
    with open(os.path.join(root, "metadata", "snap-2.json.tmp"), "w") as f:
        f.write("{}")

    assert t.current_snapshot_id() == 1
    assert t.read().count() == 10  # readers never see the wreckage
    s2 = t.append(_batch(spark, 10, 14, "b"))  # sweeps + commits cleanly
    assert s2 == 2
    assert t.read().count() == 14
    assert not os.path.exists(staged)


def test_commit_conflict_first_writer_wins(spark, root):
    a = SnapshotTable(spark, root)
    b = SnapshotTable(spark, root)
    a.append(_batch(spark, 0, 5, "a"))
    # b builds against snapshot 1; a commits snapshot 2 first
    a.append(_batch(spark, 5, 8, "a2"))
    # b's staging starts from a stale parent read: force by monkeypatching
    # current_snapshot_id at commit-check time is the real gate, so emulate
    # the race by rolling the hint back, staging b, restoring the hint
    # mid-flight is equivalent to: b observed parent=1, hint now says 2.
    b_parent_stale = 1

    class Stale(SnapshotTable):
        def current_snapshot_id(self):
            # first call (parent resolve) sees the stale value; the
            # pre-swap re-check consults the REAL hint
            nonlocal b_parent_stale
            if b_parent_stale is not None:
                v, b_parent_stale = b_parent_stale, None
                return v
            return SnapshotTable.current_snapshot_id(self)

    stale = Stale(spark, root)
    with pytest.raises(CommitConflict):
        stale.append(_batch(spark, 8, 9, "b"))
    # losing writer left no visible state and no orphan files in manifests
    assert a.current_snapshot_id() == 2
    assert a.read().count() == 8
    m = json.load(open(os.path.join(root, "metadata", "snap-2.json")))
    for f in m["files"]:
        assert os.path.exists(f["path"])


def test_snapshots_metadata_and_expiry(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))
    t.append(_batch(spark, 10, 15, "b"))
    t.overwrite(_batch(spark, 20, 24, "c"))
    meta = {r["snapshot_id"]: r for r in t.snapshots().collect()}
    assert len(meta) == 3
    assert meta[2]["operation"] == "append"
    assert meta[2]["total_rows"] == 15 and meta[2]["added_rows"] == 5
    assert meta[3]["operation"] == "overwrite" and meta[3]["is_current"]

    deleted = t.expire_snapshots(keep_last=1)
    # snapshots 1-2's files are unreferenced by snapshot 3 -> gone
    assert deleted and all(not os.path.exists(p) for p in deleted)
    assert t.read().count() == 4
    with pytest.raises(ValueError):
        t.read(snapshot_id=1)


def test_expiry_keeps_files_shared_with_kept_snapshots(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))
    t.append(_batch(spark, 10, 15, "b"))  # snapshot 2 references snap1 files
    t.expire_snapshots(keep_last=1)  # expire snapshot 1's manifest
    assert t.read().count() == 15  # snap1's files survive via snapshot 2
    assert t.read(snapshot_id=2).count() == 15


def test_rollback(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))
    t.append(_batch(spark, 10, 15, "b"))
    t.rollback(1)
    assert t.current_snapshot_id() == 1
    assert t.read().count() == 10
    # committing after a rollback branches from snapshot 1 (id reuse is
    # forbidden: next id must skip past the orphaned 2)
    sid = t.append(_batch(spark, 30, 33, "c"))
    assert sid == 2  # parent chain: 2' -> 1 (old 2 overwritten is fine
    # here because its manifest was never expired; hint decides truth)
    assert t.read().count() == 13


def test_incremental_rollup_maintenance_matches_full(spark, root, sf_dir):
    """The snapshot_delta shape driven by REAL table snapshots: per-key
    rollup maintained from incremental() partial states == recompute
    over read().  Distributive aggregates, union-of-partials."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.expr("CAST(round(value * 100) AS BIGINT)").alias("c")
    )
    t = SnapshotTable(spark, root)
    t.append(ev.filter(F.expr("pmod(user_id, 3) = 0")))
    t.append(ev.filter(F.expr("pmod(user_id, 3) = 1")))
    t.append(ev.filter(F.expr("pmod(user_id, 3) = 2")))

    def state(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("c").alias("s")
        )

    incr = (
        state(t.read(snapshot_id=1))
        .unionByName(state(t.incremental(1, 2)))
        .unionByName(state(t.incremental(2, 3)))
        .groupBy("user_id")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    full = state(t.read())
    a = sorted(map(tuple, incr.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b and len(a) > 0


def test_span_sequence_passthrough(spark, root, sf_dir):
    """Interleaved-corpus invariant: the spans column round-trips the
    table sink bit-exactly (kind, text, media_ref, offset, order)."""
    from gdal_spark import corpus

    docs = corpus.load_docs(spark, sf_dir).select("doc_id", "spans")
    t = SnapshotTable(spark, root)
    t.append(docs)
    joined = (
        docs.alias("i")
        .join(t.read().alias("o"), "doc_id")
        .select(
            F.expr("i.spans = o.spans").alias("eq"),
            F.expr(
                "to_json(i.spans) = to_json(o.spans)"
            ).alias("eq_json"),
        )
    )
    agg = joined.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("eq") & F.col("eq_json"), 1).otherwise(0)).alias(
            "ok"
        ),
    ).first()
    assert agg["n"] == docs.count() and agg["ok"] == agg["n"]


def test_streaming_exactly_once_sink(spark, root, tmp_path):
    """Structured Streaming -> SnapshotTable via foreachBatch: one
    snapshot per micro-batch, keyed by batch_id.  A rerun from the same
    checkpoint adds nothing; a replayed batch_id (crash between sink
    commit and checkpoint commit) is deduplicated — the exactly-once
    sink pattern the north rule's per-snapshot checkpointing implies."""
    from gdal_spark.table import SnapshotTable

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):  # 3 files + maxFilesPerTrigger=1 -> 3 micro-batches
        spark.range(i * 10, i * 10 + 10).selectExpr("id AS k").coalesce(
            1
        ).write.mode("append").parquet(src)
    t = SnapshotTable(spark, root)

    def run():
        q = (
            spark.readStream.schema("k bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(t.foreach_batch_sink())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert t.read().count() == 30
    assert sorted(r["k"] for r in t.read().collect()) == list(range(30))
    n_snaps = t.snapshots().count()
    assert n_snaps >= 2  # rate-limited into multiple micro-batches
    assert t.last_batch_id() >= 1

    run()  # same checkpoint, no new data -> zero new snapshots
    assert t.snapshots().count() == n_snaps
    assert t.read().count() == 30

    # crash replay: the sink sees the SAME batch_id again -> skipped
    dup = spark.range(5).selectExpr("id AS k")
    assert t.append_batch(dup, t.last_batch_id()) is False
    assert t.read().count() == 30
    # and the changelog covers exactly the post-snapshot-1 micro-batches
    assert (
        t.incremental(1).count() == 30 - t.read(snapshot_id=1).count()
    )


def test_snapshot_table_model_random_op_sequences(spark):
    """Model-based pin: any sequence of append/overwrite/rollback leaves
    EVERY addressable snapshot readable with exactly the rows the model
    predicts (including stale orphan branches left behind by rollback,
    whose manifests are only rewritten if their id is re-committed)."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    val = st.lists(
        st.integers(min_value=0, max_value=99), min_size=1, max_size=5
    )
    op = st.one_of(
        st.tuples(st.just("append"), val),
        st.tuples(st.just("overwrite"), val),
        st.tuples(st.just("rollback"), st.integers(min_value=0)),
        st.tuples(
            st.just("delete"),
            st.tuples(
                st.integers(min_value=2, max_value=5),
                st.integers(min_value=0, max_value=4),
            ),
        ),
        st.tuples(st.just("merge"), val),
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(op, min_size=1, max_size=8))
    def run(ops):
        root = tempfile.mkdtemp(prefix="snaptab_model_")
        try:
            t = SnapshotTable(spark, root)
            model: dict[int, list[int]] = {}  # sid -> sorted rows
            cur: int | None = None
            for kind, arg in ops:
                if kind == "rollback":
                    if cur is None:
                        continue
                    # roll to any EXISTING model id — the table allows
                    # reading/branching from orphan branches too
                    target = sorted(model)[arg % len(model)]
                    t.rollback(target)
                    cur = target
                    continue
                if kind == "delete":
                    if cur is None:
                        continue
                    m, r = arg
                    sid = t.delete_where(f"k % {m} = {r}", ["k"])
                    model[sid] = sorted(
                        v for v in model[cur] if v % m != r
                    )
                    cur = sid
                    continue
                if kind == "merge":
                    if cur is None:
                        continue
                    vals = sorted(set(arg))  # upsert: one row per key
                    df = spark.createDataFrame(
                        [(v,) for v in vals], "k int"
                    )
                    sid = t.merge(df, ["k"])
                    model[sid] = sorted(
                        [v for v in model[cur] if v not in set(vals)]
                        + vals
                    )
                    cur = sid
                    continue
                vals = arg
                df = spark.createDataFrame(
                    [(v,) for v in vals], "k int"
                )
                sid = t.append(df) if kind == "append" else t.overwrite(df)
                base = model.get(cur, []) if kind == "append" else []
                model[sid] = sorted(base + vals)
                cur = sid
            assert t.current_snapshot_id() == cur
            for sid, rows in model.items():
                got = sorted(r["k"] for r in t.read(sid).collect())
                assert got == rows, (sid, got, rows)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_equality_deletes_merge_on_read(spark, root):
    """delete_where masks matching keys without rewriting data files;
    keys appended AFTER the delete survive (Iceberg sequence-number
    rule); time travel before the delete still sees everything."""
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))  # snap 1
    sid = t.delete_where("k % 3 = 0", ["k"])  # snap 2: masks 0,3,6,9
    assert sid == 2
    assert sorted(r["k"] for r in t.read().collect()) == [
        1, 2, 4, 5, 7, 8,
    ]
    assert t.read(snapshot_id=1).count() == 10  # pre-delete time travel
    # no data file was rewritten: snap 2 carries snap 1's files verbatim
    m = {r["snapshot_id"]: r for r in t.snapshots().collect()}
    assert m[2]["operation"] == "delete"
    assert m[2]["n_files"] == m[1]["n_files"]
    assert m[2]["added_rows"] == 0 and m[2]["n_delete_files"] >= 1

    # re-append a deleted key AFTER the delete -> it survives
    t.append(_batch(spark, 3, 4, "later"))  # snap 3: k=3 again
    got = sorted((r["k"], r["tag"]) for r in t.read().collect())
    assert (3, "later") in got and (3, "a") not in got
    assert len(got) == 7

    # a second delete masks across BOTH file generations
    t.delete_where("k = 7 OR k = 3", ["k"])  # snap 4
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [1, 2, 4, 5, 8]


def test_compact_drops_delete_chain_and_expire_reclaims(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))
    t.delete_where("k >= 5", ["k"])
    before = _vals(t.read())
    sid = t.compact()
    assert _vals(t.read()) == before  # content-preserving rewrite
    m = {r["snapshot_id"]: r for r in t.snapshots().collect()}
    assert m[sid]["n_delete_files"] == 0  # read-time anti-joins gone
    # the delete file and old data files become unreferenced
    deleted = t.expire_snapshots(keep_last=1)
    assert any("del" in os.path.basename(p) for p in deleted)
    assert _vals(t.read()) == before


def test_delete_breaks_incremental_chain(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 5, "a"))
    t.delete_where("k = 0", ["k"])
    t.append(_batch(spark, 5, 8, "b"))
    with pytest.raises(IncrementalAcrossOverwrite):
        t.incremental(1).count()
    assert t.incremental(2).count() == 3  # post-delete appends scan fine


def test_expire_keeps_delete_files_referenced_by_kept_snapshots(
    spark, root
):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10, "a"))
    t.delete_where("k < 2", ["k"])
    t.append(_batch(spark, 10, 12, "b"))  # current references the delete
    t.expire_snapshots(keep_last=1)
    assert sorted(r["k"] for r in t.read().collect()) == [
        2, 3, 4, 5, 6, 7, 8, 9, 10, 11,
    ]


def test_manifest_stats_file_pruning(spark, root):
    """Manifest-level scan planning: per-file min/max stats recorded at
    commit let a range predicate open ONLY the files whose range can
    match; the result equals the unpruned filter, deletes still apply,
    and pruning without stats is a no-op (never unsound)."""
    t = SnapshotTable(spark, root, stats_cols=["k"])
    t.append(_batch(spark, 0, 100, "a").coalesce(1))
    t.append(_batch(spark, 100, 200, "b").coalesce(1))
    t.append(_batch(spark, 200, 300, "c").coalesce(1))

    assert len(t.pruned_files("k")) == 3  # no bounds: everything
    hit = t.pruned_files("k", 120, 150)
    assert len(hit) == 1  # only the middle file's range intersects
    assert hit[0]["stats"]["k"] == [100, 199]

    got = sorted(r["k"] for r in t.pruned_read("k", 120, 150).collect())
    exp = sorted(
        r["k"]
        for r in t.read().filter("k >= 120 AND k <= 150").collect()
    )
    assert got == exp and len(got) == 31

    # equality deletes apply to the pruned survivors exactly as in read
    t.delete_where("k = 130", ["k"])
    ks = {r["k"] for r in t.pruned_read("k", 120, 150).collect()}
    assert 130 not in ks and len(ks) == 30

    # a column with no recorded stats prunes nothing (sound fallback)
    assert len(t.pruned_files("tag", "a", "a")) == 3

    # fully out-of-range predicate: zero files, empty result, schema kept
    assert t.pruned_files("k", 1000, 2000) == []
    empty = t.pruned_read("k", 1000, 2000)
    assert empty.count() == 0 and empty.columns == ["k", "tag"]


def test_merge_upsert_single_snapshot(spark, root):
    """MERGE INTO semantics in ONE snapshot: matched keys replaced,
    new keys inserted, untouched rows kept; the commit's own data files
    are not masked by its own delete file; time travel still sees the
    pre-merge state; a later plain delete applies to merged rows too."""
    t = SnapshotTable(spark, root, stats_cols=["k"])
    t.append(_batch(spark, 0, 10, "base"))  # snap 1
    src = _batch(spark, 5, 12, "upd")  # 5-9 matched, 10-11 new
    sid = t.merge(src, ["k"])
    assert sid == 2
    got = dict((r["k"], r["tag"]) for r in t.read().collect())
    assert len(got) == 12
    assert all(got[k] == "base" for k in range(0, 5))
    assert all(got[k] == "upd" for k in range(5, 12))
    assert t.read(snapshot_id=1).count() == 10  # pre-merge time travel
    m = {r["snapshot_id"]: r for r in t.snapshots().collect()}
    assert m[2]["operation"] == "merge"
    assert m[2]["added_rows"] == 7 and m[2]["n_delete_files"] >= 1
    # merged data files carry stats -> pruning sees them (empty part
    # files have no group in the stats job and are soundly kept)
    hit = t.pruned_files("k", 11, 11)
    assert any(f["stats"].get("k") == [11, 11] for f in hit)
    assert sorted(
        r["k"] for r in t.pruned_read("k", 10, 11).collect()
    ) == [10, 11]
    # chain: merge is not append-only
    with pytest.raises(IncrementalAcrossOverwrite):
        t.incremental(1).count()
    # a LATER delete masks merged rows (strictly-later rule)
    t.delete_where("k = 6", ["k"])
    assert 6 not in {r["k"] for r in t.read().collect()}


def test_merge_then_compact_round_trip(spark, root):
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 6, "a"))
    t.merge(_batch(spark, 3, 8, "b"), ["k"])
    before = _vals(t.read())
    t.compact()
    assert _vals(t.read()) == before
    assert (
        {r["n_delete_files"] for r in t.snapshots().collect() if r["is_current"]}
        == {0}
    )
