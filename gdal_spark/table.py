"""Iceberg-analog snapshot table: atomic commits, time travel,
incremental scan — the catalog-less core of the protocol behind the
north rule's "checkpoint per Iceberg snapshot".

Reference parity: ``ogr2ogr -append`` / ``-overwrite`` dataset-update
modes (apps/ogr2ogr_lib.cpp:2426-2447,2647-2722) are exactly snapshot
``append`` / ``overwrite`` commits here, and gdal2tiles ``--resume``
(gdal2tiles.py:1497-1500) is a reader of the committed state; what the
reference lacks — point-in-time reads of an earlier dataset state and
a files-added-since changelog — is the Iceberg layer this module adds.

Layout (Iceberg's metadata layering, minus the catalog):

    <root>/data/snap<k>-<nonce>-<i>.parquet   immutable data files
                                         (per-attempt nonce: losing
                                         writers never collide)
    <root>/metadata/snap-<k>.json        manifest: operation, parent,
                                         FULL file list with per-file
                                         row counts (lineage+metrics)
    <root>/metadata/version-hint.text    current snapshot id, replaced
                                         atomically (os.replace)

Commit protocol: stage data files under ``<root>/tmp-commit-<k>/``,
move them into ``data/``, write the manifest, then atomically swap the
version hint.  Readers resolve the hint first and only ever open files
named by a committed manifest, so a crash at ANY point leaves the table
readable at its previous snapshot; orphaned staging dirs and data files
are invisible and swept by the next commit.  Concurrency is optimistic,
Iceberg-style: a commit re-checks immediately before the hint swap that
the current snapshot is still the parent it built against and raises
``CommitConflict`` otherwise (first writer wins; no lock files).

Equality deletes (Iceberg v2 merge-on-read): ``delete_where`` commits a
DELETE FILE of matching keys instead of rewriting data files; reads
apply it as an anti-join scoped to data files added at or before the
delete's snapshot (the sequence-number rule — re-appended keys
survive).  ``compact()`` rewrites the state and drops the delete chain.

Streaming: ``foreach_batch_sink()`` turns the table into an
exactly-once Structured Streaming sink — one snapshot per micro-batch,
keyed by batch_id; a micro-batch replayed after a crash between the
sink commit and the checkpoint commit is deduplicated by
``last_batch_id`` (the standard foreachBatch idempotence pattern).

Scale notes (100 TB): manifests carry file-level row counts AND
per-file min/max column stats (``stats_cols``) so readers plan from
metadata without listing the directory.  A commit takes both from the
parquet footers it just wrote (Iceberg's writers do the same), so it
costs one write job; one extra Spark job computes them only for files
whose footer cannot reproduce Spark's min/max exactly (dates,
decimals, timestamps, nested columns, oversized strings, a float bound
of zero).  Each file entry records the id of the schema it was written
with: when every file matches the manifest's schema, reads pass that
schema to Spark instead of merging footers.  ``pruned_read`` opens
only the files whose recorded range can match a predicate (Iceberg
scan planning — a selective query touches metadata plus the matching
files, never the table); ``read`` hands Spark the manifest's file list
directly, so row-group pruning and column projection work exactly as
on a plain parquet scan; ``incremental`` reads ONLY the files added
after the from-snapshot — the delta-job shape (registry
``snapshot_delta``) where maintenance cost follows the delta, never
the history.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class CommitConflict(RuntimeError):
    """Another writer committed against the same parent snapshot."""


class IncrementalAcrossOverwrite(ValueError):
    """Incremental scans are append-only; an overwrite breaks the chain."""


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _pt_expr(col: str, transform: str) -> str:
    """Spark SQL text computing an Iceberg-style partition transform of
    ``col``.  ``bucket[N]`` uses the repo's md5 idiom (reproducible in
    plain Python for read-side pruning — Iceberg's murmur3 plays the
    same role); ``truncate[W]`` floors to the width (pmod keeps the
    floor semantics for negatives)."""
    if transform == "identity":
        return col
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        return (
            f"pmod(CAST(conv(substring(md5(CAST({col} AS STRING)), 1, 7),"
            f" 16, 10) AS BIGINT), {n})"
        )
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        return f"{col} - pmod({col}, {w})"
    raise ValueError(f"unknown partition transform: {transform}")


def _pt_value(value, transform: str):
    """The same transform computed driver-side on a predicate value, so
    scan planning needs no Spark job.  int/string source values only
    (their str() matches Spark's CAST AS STRING rendering)."""
    if transform == "identity":
        return value
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        h = hashlib.md5(str(value).encode()).hexdigest()[:7]
        return int(h, 16) % n
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        return value - (value % w)
    raise ValueError(f"unknown partition transform: {transform}")


def _schema_id(schema_json: dict | None) -> str | None:
    """Short content hash of a Spark schema's JSON form."""
    if schema_json is None:
        return None
    text = json.dumps(schema_json, sort_keys=True)
    return hashlib.sha1(text.encode()).hexdigest()[:16]


def _job_stats(
    spark: SparkSession, paths: list[str], cols: list[str]
) -> dict[str, tuple[int, dict]]:
    """Per-file (rows, {col: [min, max]}) for ``paths`` from ONE Spark
    job (input_file_name groupBy), not a job per file.  Every path gets
    an entry; empty files have no group and come out as (0, {})."""
    scan = spark.read.parquet(*paths)
    scols = [c for c in cols if c in scan.columns]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in scols:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
    rows = scan.groupBy(F.input_file_name().alias("f")).agg(*aggs).collect()
    by_name = {
        os.path.basename(r["f"].removeprefix("file://")): (
            r["_n"],
            {c: [r[f"_min_{c}"], r[f"_max_{c}"]] for c in scols},
        )
        for r in rows
    }
    return {p: by_name.get(os.path.basename(p), (0, {})) for p in paths}


# Spark types whose parquet footer min/max are the values Spark's
# min/max return: signed integers, IEEE floats, booleans and strings in
# the default (binary) collation.  Dates, decimals, timestamps, binary
# and nested columns (whose type is a JSON object, never in the tuple)
# are left to the Spark job.
_FOOTER_EXACT = (
    "byte", "short", "integer", "long", "float", "double", "boolean",
    "string",
)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nan_last(v) -> tuple:
    """Sort key in Spark's order, where NaN sorts above every number."""
    return (isinstance(v, float) and math.isnan(v), v)


def _footer_stats(path: str, cols: list[str]) -> tuple[int, dict] | None:
    """(rows, {col: [min, max]}) of one Spark-written parquet file from
    its footer, equal to what :func:`_job_stats` computes, or None when
    the footer cannot reproduce Spark's answer exactly.

    The Spark schema the writer stored in the footer names the columns
    and their types.  Row-group statistics merge in Spark's order
    (parquet writes float min/max in the same total order, NaN above
    every number).  Falls back on: a type outside ``_FOOTER_EXACT``; a
    row group that has values but no min/max (e.g. strings past the
    writer's statistics size limit); and a float bound of zero, whose
    sign depends on row order in Spark (min(0.0, -0.0) keeps whichever
    comes first) while parquet always records -0.0 / +0.0."""
    md = pq.read_metadata(path)
    if md.num_rows == 0:
        return 0, {}
    spark_schema = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_schema is None:
        return None
    fields = {f["name"]: f for f in json.loads(spark_schema)["fields"]}
    leaves: dict[str, int | None] = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).path
        leaves[name] = None if name in leaves else i  # ambiguous: None
    stats: dict[str, list] = {}
    for c in cols:
        field = fields.get(c)
        if field is None:
            continue  # the job skips absent columns too
        i = leaves.get(c)
        if (
            i is None
            or field["type"] not in _FOOTER_EXACT
            or "__COLLATIONS" in field.get("metadata", {})
        ):
            return None
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(i).statistics
            if st is None:
                return None
            if not st.has_min_max:
                if st.has_null_count and st.null_count == rg.num_rows:
                    continue  # all-NULL row group
                return None
            if lo is None or _nan_last(st.min) < _nan_last(lo):
                lo = st.min
            if hi is None or _nan_last(st.max) > _nan_last(hi):
                hi = st.max
        if isinstance(lo, float) and (lo == 0.0 or hi == 0.0):
            return None
        stats[c] = [lo, hi]
    return md.num_rows, stats


def _file_stats(
    spark: SparkSession, paths: list[str], cols: list[str]
) -> dict[str, tuple[int, dict]]:
    """Per-file (rows, {col: [min, max]}) for freshly written ``paths``:
    from the parquet footers (Iceberg's writers take file metrics the
    same way), with one :func:`_job_stats` job over the files whose
    footer cannot reproduce Spark's answer."""
    out: dict[str, tuple[int, dict]] = {}
    rest = []
    for p in paths:
        got = _footer_stats(p, cols)
        if got is None:
            rest.append(p)
        else:
            out[p] = got
    if rest:
        out.update(_job_stats(spark, rest, cols))
    return out


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        stats_cols: list[str] | None = None,
        partition_spec: list[tuple[str, str]] | None = None,
    ):
        """``stats_cols``: columns whose per-file min/max are recorded in
        each commit's manifest (numeric or string), enabling
        manifest-level file skipping via :meth:`pruned_read` — the
        Iceberg scan-planning feature that makes a predicate touch only
        the files whose value range can match.

        ``partition_spec``: Iceberg-style HIDDEN partitioning — a list
        of ``(source_col, transform)`` with transform ``identity`` /
        ``bucket[N]`` / ``truncate[W]``.  Data files are laid out by the
        TRANSFORM of the column (never by a user-visible partition
        column: the source column stays in the data, the derived value
        lives only in the manifest), and equality predicates prune files
        via :meth:`partition_pruned_read` without the reader knowing the
        layout.  The spec may change between commits (spec evolution):
        files written under an older spec carry their own (possibly
        empty) partition tuple and are never pruned unsoundly."""
        self.spark = spark
        self.root = root
        self.stats_cols = stats_cols or []
        self.partition_spec = partition_spec or []
        self._data = os.path.join(root, "data")
        self._meta = os.path.join(root, "metadata")
        os.makedirs(self._data, exist_ok=True)
        os.makedirs(self._meta, exist_ok=True)

    # ------------------------------------------------------------ metadata
    def _hint_path(self) -> str:
        return os.path.join(self._meta, "version-hint.text")

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self._meta, f"snap-{sid}.json")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest(self, sid: int) -> dict:
        return _read_json(self._manifest_path(sid))

    # ------------------------------------------------------ refs (WAP)
    # Named refs (the Iceberg branch/tag model, spec §"Snapshot
    # References"): a BRANCH is a mutable, independently-writable head;
    # a TAG is an immutable pointer.  "main" is implicit (the version
    # hint).  Refs enable write-audit-publish: stage commits on an audit
    # branch, validate them, then fast-forward main — readers of main
    # never see unaudited data.
    def _refs_path(self) -> str:
        return os.path.join(self._meta, "refs.json")

    def _refs(self) -> dict:
        try:
            return _read_json(self._refs_path())
        except FileNotFoundError:
            return {}

    def _write_refs(self, refs: dict, expected: dict) -> None:
        """Optimistic swap of the refs file — first writer wins, same
        rule as the version hint."""
        if self._refs() != expected:
            raise CommitConflict(f"{self.root}: refs moved concurrently")
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1)
        os.replace(tmp, self._refs_path())

    def _max_sid(self) -> int:
        sids = [
            int(n[5:-5])
            for n in os.listdir(self._meta)
            if n.startswith("snap-") and n.endswith(".json")
        ]
        return max(sids, default=0)

    def ref_head(self, name: str) -> int | None:
        if name == "main":
            return self.current_snapshot_id()
        ref = self._refs().get(name)
        if ref is None:
            raise ValueError(f"{self.root}: no ref {name!r}")
        return ref["snapshot_id"]

    def create_branch(self, name: str, at: int | None = None) -> int:
        """Branch from the given snapshot (default: current main)."""
        return self._create_ref(name, "branch", at)

    def create_tag(self, name: str, at: int | None = None) -> int:
        """Immutable tag at the given snapshot (default: current main)."""
        return self._create_ref(name, "tag", at)

    def _create_ref(self, name: str, kind: str, at: int | None) -> int:
        if name == "main":
            raise ValueError("'main' is the implicit branch")
        sid = self._resolve(at)
        refs = self._refs()
        if name in refs:
            raise ValueError(f"{self.root}: ref {name!r} exists")
        self._write_refs(
            {**refs, name: {"type": kind, "snapshot_id": sid}}, refs
        )
        return sid

    def drop_ref(self, name: str) -> None:
        refs = self._refs()
        if name not in refs:
            raise ValueError(f"{self.root}: no ref {name!r}")
        self._write_refs(
            {k: v for k, v in refs.items() if k != name}, refs
        )

    def read_ref(self, name: str) -> DataFrame:
        return self.read(snapshot_id=self.ref_head(name))

    def refs(self) -> DataFrame:
        rows = [("main", "branch", self.current_snapshot_id())] + [
            (n, r["type"], r["snapshot_id"])
            for n, r in sorted(self._refs().items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id int"
        )

    def is_ancestor(self, ancestor: int, descendant: int) -> bool:
        sid: int | None = descendant
        while sid is not None:
            if sid == ancestor:
                return True
            if not os.path.exists(self._manifest_path(sid)):
                return False
            sid = self._manifest(sid)["parent_id"]
        return False

    def append_to(self, df: DataFrame, branch: str) -> int:
        """Append committed to a BRANCH head; main readers see nothing
        until :meth:`fast_forward` publishes the branch."""
        ref = self._refs().get(branch)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"{self.root}: no branch {branch!r}")
        return self._commit(df, "append", ref=branch)

    def fast_forward(self, branch: str) -> int:
        """The WAP publish: advance main to the branch head.  Requires
        main's current snapshot to be an ancestor of the branch head
        (otherwise histories diverged and a fast-forward would silently
        drop main commits — the same rule as Iceberg's
        fast_forward procedure)."""
        head = self.ref_head(branch)
        cur = self.current_snapshot_id()
        if head is None:
            raise ValueError(f"{self.root}: branch {branch!r} has no head")
        if cur is not None and not self.is_ancestor(cur, head):
            raise CommitConflict(
                f"{self.root}: main {cur} is not an ancestor of "
                f"{branch!r} head {head} — cannot fast-forward"
            )
        tmp = self._hint_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(head))
        # re-validate immediately before the swap: a main commit landing
        # between the ancestry check and here would otherwise be
        # silently discarded — exactly what the guard exists to prevent
        if self.current_snapshot_id() != cur:
            os.remove(tmp)
            raise CommitConflict(
                f"{self.root}: main moved past {cur} during fast-forward"
            )
        os.replace(tmp, self._hint_path())
        return head

    def _resolve(self, snapshot_id: int | None) -> int:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"{self.root}: table has no committed snapshot")
        if not os.path.exists(self._manifest_path(sid)):
            raise ValueError(f"{self.root}: no snapshot {sid}")
        return sid

    # -------------------------------------------------------------- commit
    def _stage_files(
        self, df: DataFrame, staging: str, stem: str, sid: int, nonce: str,
        partitioned: bool = False,
    ) -> list[tuple[str, dict]]:
        """Write ``df`` to staging and move its files into data/; returns
        (path, partition_tuple) pairs.  With a partition spec (and
        ``partitioned``), the write lays files out by the TRANSFORM
        columns (dropped from the file contents by partitionBy — hidden
        partitioning: the source columns stay, the derived ones exist
        only in directory names, parsed here into the manifest)."""
        spec = self.partition_spec if partitioned else []
        if spec:
            pcols = []
            for i, (col, tr) in enumerate(spec):
                df = df.withColumn(f"_p{i}", F.expr(_pt_expr(col, tr)))
                pcols.append(f"_p{i}")
            df.write.mode("overwrite").partitionBy(*pcols).parquet(staging)
        else:
            df.write.mode("overwrite").parquet(staging)
        new_files, i = [], 0
        for dirpath, _dirs, names in sorted(os.walk(staging)):
            part: dict[str, str] = {}
            rel = os.path.relpath(dirpath, staging)
            if rel != ".":
                for seg in rel.split(os.sep):
                    k, _, v = seg.partition("=")
                    part[k] = v
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                dest = os.path.join(
                    self._data, f"{stem}{sid}-{nonce}-{i:05d}.parquet"
                )
                os.replace(os.path.join(dirpath, name), dest)
                new_files.append((dest, part))
                i += 1
        shutil.rmtree(staging)
        return new_files

    def _commit(
        self,
        df: DataFrame | None,
        operation: str,
        batch_id: int | None = None,
        delete_key_cols: list[str] | None = None,
        delete_df: DataFrame | None = None,
        ref: str = "main",
    ) -> int:
        """One snapshot commit carrying data files (``df``), an
        equality-delete file (``delete_df`` of ``delete_key_cols``), or
        BOTH (merge/upsert).  ``ref`` selects the branch the commit
        advances ("main" = the version hint)."""
        parent = self.ref_head(ref)
        # snapshot ids are parent+1 on a ref-free table (the pinned
        # rollback/orphan semantics); once ANY ref exists, ids allocate
        # globally so a main commit can never overwrite a manifest that
        # a branch/tag history still reaches (and vice versa).  This sid
        # is PROVISIONAL (it only names staging dirs and data files,
        # which carry a per-attempt nonce anyway): the authoritative
        # allocation happens at publish time, where the manifest file is
        # created with O_CREAT|O_EXCL so two racing writers — e.g. a
        # main commit and a branch commit, each passing its own ref's
        # optimistic check — can never both claim the same snapshot id
        # and silently clobber each other's manifest
        if self._refs():
            sid = max(self._max_sid(), parent or 0) + 1
        else:
            sid = (parent or 0) + 1
        # sweep leftovers from a crashed attempt at this id (invisible to
        # readers: nothing references them until a manifest + hint commit)
        staging = os.path.join(self.root, f"tmp-commit-{sid}")
        if os.path.exists(staging):
            shutil.rmtree(staging)

        if operation == "delete":
            df, delete_df = None, df
        # per-ATTEMPT nonce in the file names (Iceberg's write UUID):
        # a losing concurrent writer must never collide with — let alone
        # delete — the committed winner's files for the same snapshot id
        nonce = uuid.uuid4().hex[:8]
        new_files: list[tuple[str, dict]] = []
        del_files: list[str] = []
        schema_json = None
        if delete_df is not None:
            # the delete file commits FIRST within the staging order so a
            # crash can never publish data without its paired delete
            # (nothing is visible either way until the hint swap)
            del_files = [
                p for p, _ in self._stage_files(
                    delete_df, staging, "del", sid, nonce
                )
            ]
        if df is not None:
            schema_json = df.schema.jsonValue()
            new_files = self._stage_files(
                df, staging, "snap", sid, nonce, partitioned=True
            )

        # per-file lineage + metrics + column min/max stats, read from the
        # footers just written (a Spark job only for files whose footer
        # cannot reproduce Spark's min/max exactly)
        fstats = _file_stats(
            self.spark, [p for p, _ in new_files], self.stats_cols
        )
        schema_id = _schema_id(schema_json)

        pm = self._manifest(parent) if parent is not None else {}
        keeps_history = operation in ("append", "delete", "merge")
        base = pm.get("files", []) if keeps_history else []
        parent_dels = pm.get("delete_files", []) if keeps_history else []
        parent_last = pm.get("last_batch_id", -1)
        new_entries = [
            {
                "path": p,
                "rows": fstats[p][0],
                "added_sid": sid,
                "stats": fstats[p][1],
                # the schema the file was written with: reads skip the
                # schema-merge job when every file matches the manifest
                "schema_id": schema_id,
                # hidden-partition tuple: spec-name -> directory value
                # (strings as partitionBy wrote them), resolved against
                # the spec recorded IN THIS MANIFEST — spec evolution
                # never reinterprets older files
                "partition": part,
                "spec": [list(s) for s in self.partition_spec],
            }
            for p, part in new_files
        ]
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": operation,
            "schema": schema_json
            or (pm.get("schema") if keeps_history else None),
            "batch_id": batch_id,
            "last_batch_id": max(
                parent_last, batch_id if batch_id is not None else -1
            ),
            "files": base + new_entries,
            "added_files": new_entries,
            # equality-delete files (Iceberg v2 merge-on-read): each
            # applies to data files added BEFORE its snapshot, so keys
            # re-appended later — including this commit's own data files
            # (merge) — survive
            "delete_files": parent_dels
            + [
                {"path": p, "key_cols": delete_key_cols, "sid": sid}
                for p in del_files
            ],
        }
        def _abandon(msg: str, mpath: str | None = None):
            if mpath is not None and os.path.exists(mpath):
                os.remove(mpath)
            for p in [q for q, _ in new_files] + del_files:
                if os.path.exists(p):
                    os.remove(p)
            raise CommitConflict(f"{self.root}: {msg}")

        # optimistic per-ref check — first writer wins on each ref
        if self.ref_head(ref) != parent:
            _abandon(f"parent moved past snapshot {parent}")

        def _finalize_sid(s: int) -> None:
            manifest["snapshot_id"] = s
            for e in manifest["added_files"]:
                e["added_sid"] = s
            for d in manifest["delete_files"]:
                if d["path"] in del_files:
                    d["sid"] = s

        if self._refs():
            # refs exist → sid allocation is itself the contention
            # point: create the manifest O_CREAT|O_EXCL and re-allocate
            # on EEXIST, so concurrent commits to DIFFERENT refs (which
            # both pass their own ref's optimistic check) serialize on
            # the id instead of os.replace-ing over each other
            while True:
                sid = max(self._max_sid(), parent or 0) + 1
                mpath = self._manifest_path(sid)
                try:
                    fd = os.open(
                        mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                except FileExistsError:
                    continue
                _finalize_sid(sid)
                with os.fdopen(fd, "w") as f:
                    json.dump(manifest, f, indent=1)
                break
        else:
            # ref-free: sid = parent+1 with os.replace (the pinned
            # rollback/orphan semantics — a post-rollback commit is
            # ALLOWED to overwrite the orphaned manifest at this id)
            mpath = self._manifest_path(sid)
            _finalize_sid(sid)
            tmp_m = mpath + ".tmp"
            with open(tmp_m, "w") as f:
                json.dump(manifest, f, indent=1)
            if self.ref_head(ref) != parent:
                os.remove(tmp_m)
                _abandon(f"parent moved past snapshot {parent}")
            os.replace(tmp_m, mpath)

        if ref == "main":
            # re-validate immediately before the swap (the manifest is
            # unreferenced until the hint commits, so abandoning here
            # leaves the table untouched)
            if self.ref_head(ref) != parent:
                _abandon(
                    f"parent moved past snapshot {parent}", mpath
                )
            tmp_h = self._hint_path() + ".tmp"
            with open(tmp_h, "w") as f:
                f.write(str(sid))
            os.replace(tmp_h, self._hint_path())
        else:
            try:
                refs = self._refs()
                if ref not in refs or refs[ref]["snapshot_id"] != parent:
                    _abandon(
                        f"ref {ref!r} moved past snapshot {parent}",
                        mpath,
                    )
                self._write_refs(
                    {**refs, ref: {**refs[ref], "snapshot_id": sid}},
                    refs,
                )
            except CommitConflict:
                # the refs CAS lost (e.g. a tag created concurrently):
                # unpublish the manifest + data files so the commit is
                # all-or-nothing, matching the main-path conflict handler
                _abandon(f"refs moved — commit to {ref!r} rolled back",
                         mpath)
        return sid

    def append(self, df: DataFrame) -> int:
        return self._commit(df, "append")

    # ----------------------------------------------- streaming (foreachBatch)
    def last_batch_id(self) -> int:
        """Highest streaming batch id ever committed (-1 if none)."""
        sid = self.current_snapshot_id()
        if sid is None:
            return -1
        return self._manifest(sid).get("last_batch_id", -1)

    def append_batch(self, df: DataFrame, batch_id: int) -> bool:
        """Exactly-once micro-batch append: Structured Streaming replays
        a micro-batch after a crash between the sink commit and the
        checkpoint commit, so a batch_id at or below the last committed
        one is SKIPPED (the Iceberg foreachBatch idempotence pattern).
        Returns True if the snapshot committed, False if deduplicated."""
        if batch_id <= self.last_batch_id():
            return False
        self._commit(df, "append", batch_id=batch_id)
        return True

    def foreach_batch_sink(self):
        """``df.writeStream.foreachBatch(table.foreach_batch_sink())`` —
        one snapshot per micro-batch, replay-safe."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append_batch(batch_df, batch_id)

        return sink

    def overwrite(self, df: DataFrame) -> int:
        return self._commit(df, "overwrite")

    # --------------------------------------------------------------- reads
    def _files(self, manifest: dict, key: str = "files") -> list[str]:
        return [f["path"] for f in manifest[key]]

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Current state, or the state AS OF an earlier snapshot.
        Equality-delete files (merge-on-read) are applied as anti-joins
        scoped to the data files they cover: a delete at snapshot d
        masks rows only from files added at sid <= d, so re-appended
        keys survive — the Iceberg sequence-number rule."""
        m = self._manifest(self._resolve(snapshot_id))
        if not m["files"]:
            raise ValueError(f"{self.root}: snapshot has no data files")
        return self._scan(m, m["files"])

    def _read_parquet(self, m: dict, files: list[dict]) -> DataFrame:
        paths = [f["path"] for f in files]
        sid = _schema_id(m.get("schema"))
        if sid is not None and all(f.get("schema_id") == sid for f in files):
            # every file was written with the manifest's schema: hand it
            # to the reader, no footer has to be read to plan the scan
            schema = StructType.fromJson(m["schema"])
            return self.spark.read.schema(schema).parquet(*paths)
        # mergeSchema: schema evolution is merge-on-read — a file written
        # before a column was added simply lacks it, and the union schema
        # fills NULL (time travel to an older snapshot sees only older
        # files, hence the older schema, with no extra bookkeeping).
        # Also the path for manifests that predate per-file schema ids.
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def _scan(self, m: dict, files: list[dict]) -> DataFrame:
        dels = m.get("delete_files", [])
        if not dels:
            return self._read_parquet(m, files)
        groups: dict[int, list[dict]] = {}
        for f in files:
            groups.setdefault(f.get("added_sid", 0), []).append(f)
        out = None
        for added_sid, group in sorted(groups.items()):
            df = self._read_parquet(m, group)
            for d in dels:
                if d["sid"] > added_sid:  # strictly-later deletes only:
                    # a merge's own data files are never self-masked
                    keys = self.spark.read.parquet(d["path"])
                    df = df.join(keys, d["key_cols"], "left_anti")
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    # -------------------------------------------- manifest-level pruning
    def pruned_files(
        self,
        col: str,
        lo=None,
        hi=None,
        snapshot_id: int | None = None,
    ) -> list[dict]:
        """Data-file entries whose manifest [min, max] range for ``col``
        can intersect [lo, hi] (either bound optional).  Files with no
        recorded stats for ``col`` are KEPT — pruning is never unsound."""
        m = self._manifest(self._resolve(snapshot_id))
        keep = []
        for f in m["files"]:
            s = f.get("stats", {}).get(col)
            if (
                s is None
                or s[0] is None  # all-NULL file: range unknown
                or (
                    (hi is None or s[0] <= hi)
                    and (lo is None or s[1] >= lo)
                )
            ):
                keep.append(f)
        return keep

    def stats_rows(
        self, col: str, snapshot_id: int | None = None
    ) -> list[tuple[str, object, object]]:
        """(path, min, max) per data file from the manifest — the raw
        material for DATA-DRIVEN scan planning: hand these to a Spark
        join against a predicate table (e.g. a zone layer's bboxes) and
        the matched-file set comes out of ONE metadata-sized join
        instead of a driver loop over predicates.  Files without
        recorded stats carry (None, None) and must be KEPT by any
        pruning join (soundness)."""
        m = self._manifest(self._resolve(snapshot_id))
        out = []
        for f in m["files"]:
            s = f.get("stats", {}).get(col)
            if s is None or s[0] is None:
                out.append((f["path"], None, None))
            else:
                out.append((f["path"], s[0], s[1]))
        return out

    def read_subset(
        self, paths: list[str], snapshot_id: int | None = None
    ) -> DataFrame:
        """Scan exactly the given manifest data files (equality deletes
        still applied) — the second half of data-driven scan planning:
        a planner picks paths from :meth:`stats_rows`, this opens them
        in ONE scan."""
        m = self._manifest(self._resolve(snapshot_id))
        want = set(paths)
        files = [f for f in m["files"] if f["path"] in want]
        if not files:
            return self.read(snapshot_id).limit(0)
        return self._scan(m, files)

    def pruned_read(
        self,
        col: str,
        lo=None,
        hi=None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Range scan with manifest-level file skipping: only files
        whose recorded [min, max] can contain a row in [lo, hi] are
        opened; the residual row-level filter still applies (and
        equality deletes apply to the survivors exactly as in
        :meth:`read`).  The Iceberg scan-planning shape: at 100 TB a
        selective predicate touches metadata plus the handful of
        matching files, never the table."""
        m = self._manifest(self._resolve(snapshot_id))
        files = self.pruned_files(col, lo, hi, snapshot_id)
        if not files:
            base = self.read(snapshot_id).limit(0)
        else:
            base = self._scan(m, files)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return base.filter(cond)

    # ------------------------------------------- hidden-partition pruning
    def partition_pruned_files(
        self, eq: dict, snapshot_id: int | None = None
    ) -> list[dict]:
        """Data-file entries whose hidden-partition tuple can contain a
        row matching the equality predicates ``eq`` (source_col ->
        value).  Each file is judged against the spec IT was written
        under (recorded per entry): a predicate column the file's spec
        doesn't cover, or a file with no partition tuple at all (older
        spec), keeps the file — pruning is never unsound."""
        m = self._manifest(self._resolve(snapshot_id))
        keep = []
        for f in m["files"]:
            spec = f.get("spec") or []
            part = f.get("partition") or {}
            match = True
            for i, (col, tr) in enumerate(spec):
                key = f"_p{i}"
                if col in eq and key in part:
                    want = str(_pt_value(eq[col], tr))
                    if part[key] != want:
                        match = False
                        break
            if match:
                keep.append(f)
        return keep

    def partition_pruned_read(
        self, eq: dict, snapshot_id: int | None = None
    ) -> DataFrame:
        """Equality scan with hidden-partition file skipping: only files
        whose partition tuple can hold the predicate values are opened,
        then the residual row-level equality still applies (and equality
        deletes apply to the survivors exactly as in :meth:`read`).
        The reader names SOURCE columns only — the layout (bucket width,
        truncation) stays the table's private concern, which is what
        lets a 100 TB table re-partition under its queries."""
        m = self._manifest(self._resolve(snapshot_id))
        files = self.partition_pruned_files(eq, snapshot_id)
        if not files:
            base = self.read(snapshot_id).limit(0)
        else:
            base = self._scan(m, files)
        cond = F.lit(True)
        for col, v in eq.items():
            cond = cond & (F.col(col) == F.lit(v))
        return base.filter(cond)

    def delete_where(self, condition: str, key_cols: list[str]) -> int:
        """Equality-delete commit: rows of the CURRENT state matching
        ``condition`` are masked by writing their distinct ``key_cols``
        as a delete file — no data file is rewritten (merge-on-read).
        Rows appended after this snapshot are untouched even if their
        keys match."""
        keys = (
            self.read().filter(condition).select(*key_cols).distinct()
        )
        return self._commit(keys, "delete", delete_key_cols=key_cols)

    def merge(self, source: DataFrame, key_cols: list[str]) -> int:
        """MERGE INTO (upsert, the table-level ogr2ogr -upsert /
        UpsertFeature analog, apps/ogr2ogr_lib.cpp:7254): ONE snapshot
        carrying an equality-delete file for the source's keys (masking
        any existing rows with those keys) plus data files with every
        source row.  Matched rows are replaced, unmatched inserted,
        untouched rows kept — merge-on-read, no data file rewritten."""
        keys = source.select(*key_cols).distinct()
        return self._commit(
            source, "merge", delete_key_cols=key_cols, delete_df=keys
        )

    def compact(self) -> int:
        """Rewrite the current state into fresh data files and drop the
        delete-file chain (Iceberg rewrite_data_files): read-time
        anti-joins disappear; old files become unreferenced and fall to
        ``expire_snapshots``."""
        return self._commit(self.read(), "overwrite")

    def incremental(
        self, from_id: int, to_id: int | None = None
    ) -> DataFrame:
        """Rows in files ADDED in snapshots (from_id, to_id] — the
        changelog scan.  Append-only by definition (Iceberg's
        incremental scan has the same restriction): any overwrite
        inside the range raises."""
        to = self._resolve(to_id)
        if from_id > to:
            raise ValueError(f"from {from_id} > to {to}")
        entries: list[dict] = []
        sid = to
        while sid > from_id:
            m = self._manifest(sid)
            if m["operation"] != "append":
                raise IncrementalAcrossOverwrite(
                    f"{self.root}: snapshot {sid} is {m['operation']!r}"
                )
            entries.extend(m["added_files"])
            sid = m["parent_id"]
            if sid is None:
                break
        if sid is not None and sid > from_id:
            raise ValueError(f"{self.root}: no chain back to {from_id}")
        if not entries:
            return self.read(to).limit(0)
        # read()'s path: the manifest schema when every file was written
        # with it, mergeSchema otherwise (a column added mid-range)
        return self._read_parquet(self._manifest(to), entries)

    def snapshots(self) -> DataFrame:
        """Metadata table (Iceberg ``table.snapshots``): one row per
        committed snapshot with operation + file/row metrics."""
        cur = self.current_snapshot_id()
        rows = []
        for name in sorted(os.listdir(self._meta)):
            if not (name.startswith("snap-") and name.endswith(".json")):
                continue
            m = _read_json(os.path.join(self._meta, name))
            rows.append(
                (
                    m["snapshot_id"],
                    m["parent_id"],
                    m["operation"],
                    len(m["files"]),
                    sum(f["rows"] for f in m["files"]),
                    sum(f["rows"] for f in m["added_files"]),
                    len(m.get("delete_files", [])),
                    m["snapshot_id"] == cur,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "snapshot_id int, parent_id int, operation string, "
            "n_files int, total_rows bigint, added_rows bigint, "
            "n_delete_files int, is_current boolean",
        )

    # ---------------------------------------------------------- lifecycle
    def rollback(self, snapshot_id: int) -> None:
        """Point the table back at an earlier snapshot (its manifest and
        files are untouched — later snapshots become unreferenced)."""
        sid = self._resolve(snapshot_id)
        tmp = self._hint_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._hint_path())

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop manifests older than the last ``keep_last`` snapshots
        (current chain order) and delete data files no kept manifest
        references.  Returns the deleted file paths."""
        cur = self.current_snapshot_id()
        if cur is None:
            return []
        chain = []
        sid: int | None = cur
        while sid is not None and os.path.exists(self._manifest_path(sid)):
            chain.append(sid)
            sid = self._manifest(sid)["parent_id"]
        keep = set(chain[: max(keep_last, 1)])
        # every snapshot reachable from a named ref stays readable —
        # branches and tags protect their full history from expiry
        for name in self._refs():
            sid = self.ref_head(name)
            while sid is not None and os.path.exists(
                self._manifest_path(sid)
            ):
                keep.add(sid)
                sid = self._manifest(sid)["parent_id"]
        # snapshots past the current hint (e.g. after rollback) are
        # unreferenced by definition
        all_sids = {
            int(n[5:-5])
            for n in os.listdir(self._meta)
            if n.startswith("snap-") and n.endswith(".json")
        }
        referenced: set[str] = set()
        for s in keep:
            m = self._manifest(s)
            referenced.update(self._files(m))
            referenced.update(d["path"] for d in m.get("delete_files", []))
        deleted = []
        for s in sorted(all_sids - keep):
            for p in self._files(self._manifest(s)):
                if p not in referenced and os.path.exists(p):
                    os.remove(p)
                    deleted.append(p)
            os.remove(self._manifest_path(s))
        # orphan sweep (Iceberg remove_orphan_files): data files no
        # remaining manifest references — crashed attempts, conflict
        # losers.  Single-writer assumption at sweep time, as in Iceberg.
        for name in sorted(os.listdir(self._data)):
            p = os.path.join(self._data, name)
            if p not in referenced:
                os.remove(p)
                deleted.append(p)
        return deleted
