"""ManifestTable — file-manifest snapshots with partition-level MERGE.

The engine's one table class: every target (full loads, incremental
merges, CDC, Singer faces, SCD/MV/bar sinks) is a ManifestTable. A
snapshot is a JSON manifest listing immutable parquet files (with their
hive partition values); an unpartitioned MERGE rewrites the table
copy-on-write, a partitioned one rewrites only the partitions the batch
touches and the new manifest re-references every untouched file.
This is the Iceberg/Delta snapshot mechanism in miniature, built on plain
parquet + atomic pointer replace (object-store friendly: no renames, no
directory moves, readers pin a manifest and never see partial writes).

    <root>/_VERSION                 # name of the live manifest
    <root>/manifest-00000002.json   # {"partition_by": [...], "files": [...],
                                    #  "schemas": {write dir: read schema}}
    <root>/data/<write-id>/pt=A/part-*.parquet   # immutable data files

``root`` may be a local path or any ``pyarrow.fs`` URI (s3://, hdfs://):
manifest/pointer metadata goes through the MetaFS seam (operators/fsio.py),
data files through Spark's own Hadoop IO — no local-filesystem assumption
anywhere in the table machinery.
"""

from __future__ import annotations

import contextlib
import json
import posixpath
import re
import uuid
from collections.abc import Sequence
from typing import Any

from pipelinewise_spark.partitioning import local_frame
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelinewise_spark.operators.fsio import MetaFS
from pipelinewise_spark.session import scoped_conf

_VERSION_FILE = "_VERSION"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _as_nullable(dt: T.DataType) -> T.DataType:
    """The file-relation normal form Spark's parquet inference returns:
    every field (recursively) nullable. Recording a written frame's schema
    for later reads must match inference exactly, so apply the same
    widening."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name, _as_nullable(f.dataType), True, f.metadata
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


class ConstraintViolation(ValueError):
    """A write violated a table CHECK constraint (Delta-style)."""


#: expected_parent sentinel for FIRST commits: "the table must still be
#: absent" — a bare None means "no check", which would let two concurrent
#: first appends both publish from an empty file list and silently drop
#: one batch.
EXPECT_ABSENT = "__expect_absent__"


class CommitConflict(RuntimeError):
    """Another writer committed between this operation's snapshot read
    and its publish (optimistic concurrency, Iceberg/Delta-style):
    retry the operation against the new snapshot. Detection is
    two-layered: manifest names are allocated with create-exclusive
    semantics (racing same-number writers can never overwrite each
    other), and the expected-parent check runs inside a lock-
    serialized critical section immediately before the pointer swap.
    On object stores the exclusive create degrades to probe + PUT; a
    true conditional PUT needs the store's CAS, which the MetaFS seam
    can carry."""


def commit_with_retries(fn, attempts: int = 5):
    """Run a table verb under optimistic concurrency, retrying on
    :class:`CommitConflict` (the Iceberg commit loop: each retry re-reads
    the NEW head inside ``fn`` — verbs load the manifest at call time, so
    simply calling again recomputes against the advanced snapshot).
    ``fn`` must be idempotent-until-published: every ManifestTable verb
    is, because the pointer swap is the single commit point — a conflicted
    attempt leaves only unreferenced data files for ``vacuum``. Raises the
    final CommitConflict after ``attempts`` exhausted."""
    last: CommitConflict | None = None
    for _ in range(max(1, attempts)):
        try:
            return fn()
        except CommitConflict as e:  # noqa: PERF203 — retry loop is the point
            last = e
    raise last


def _decode_hive_value(v: str) -> str | None:
    """Hive partition dirs URL-escape special chars (':' -> '%3A') and write
    NULL as __HIVE_DEFAULT_PARTITION__; manifests store the *logical* value
    so batch-vs-manifest comparisons never miss a file."""
    from urllib.parse import unquote

    if v == _HIVE_NULL:
        return None
    return unquote(v)


_TRANSFORM_RE = re.compile(
    r"^(years|months|days|bucket|truncate)\(\s*(?:(\d+)\s*,\s*)?([A-Za-z0-9_]+)\s*\)$"
)


class PartitionField:
    """One entry of a partition spec: a raw column, or an Iceberg-style
    HIDDEN transform of one — ``years/months/days(ts)``,
    ``bucket(n, col)``, ``truncate(w, col)``. Transforms partition by a
    DERIVED value (its own hive dir key) while queries keep filtering on
    the raw column: `select_entries` maps raw-column ranges/points
    through the transform to prune files, and reads never surface the
    derived column."""

    def __init__(self, spec: str):
        self.spec = spec
        m = _TRANSFORM_RE.match(spec.strip())
        if m:
            self.transform, arg, self.source = m.groups()
            self.arg = int(arg) if arg is not None else None
            if self.transform in ("bucket", "truncate"):
                if not self.arg or self.arg <= 0:
                    raise ValueError(f"{spec}: needs a positive width/count")
            elif arg is not None:
                raise ValueError(f"{spec}: unexpected numeric argument")
            self.key = f"__p_{self.transform}_{self.source}"
        else:
            if not re.fullmatch(r"[A-Za-z0-9_]+", spec.strip()):
                raise ValueError(f"unparseable partition spec: {spec!r}")
            self.transform, self.arg = None, None
            self.source = self.key = spec.strip()

    @property
    def hidden(self) -> bool:
        return self.transform is not None

    def expr(self) -> F.Column:
        """Derived partition value as a STRING column (hive dir form)."""
        c = F.col(self.source)
        if self.transform == "days":
            return F.date_format(c, "yyyy-MM-dd")
        if self.transform == "months":
            return F.date_format(c, "yyyy-MM")
        if self.transform == "years":
            return F.date_format(c, "yyyy")
        if self.transform == "bucket":
            # crc32 over the utf8 string form: deterministic across
            # sessions/engines (zlib.crc32 twin below prunes driver-side)
            return F.pmod(
                F.crc32(F.encode(c.cast("string"), "utf-8")), F.lit(self.arg)
            ).cast("string")
        if self.transform == "truncate":
            return F.substring(c.cast("string"), 1, self.arg)
        return c.cast("string")

    def value_of(self, v: Any) -> str | None:
        """Driver-side twin of :meth:`expr` for pruning on literals."""
        import zlib

        if v is None:
            return None
        if self.transform in ("years", "months", "days"):
            s = str(v)
            n = {"years": 4, "months": 7, "days": 10}[self.transform]
            return s[:n]
        if self.transform == "bucket":
            return str(zlib.crc32(str(v).encode("utf-8")) % self.arg)
        if self.transform == "truncate":
            return str(v)[: self.arg]
        return str(v)

    #: transforms that preserve source ordering in the dir-string form
    @property
    def order_preserving(self) -> bool:
        # truncate is order-preserving for strings (prefix) but not for
        # negative numbers' string forms — restrict range pruning to the
        # date transforms, whose yyyy[-MM[-dd]] form sorts correctly
        return self.transform in ("years", "months", "days")


def parse_partition_spec(partition_by: Sequence[str]) -> list[PartitionField]:
    fields = [PartitionField(s) for s in partition_by]
    keys = [f.key for f in fields]
    if len(set(keys)) != len(keys):
        raise ValueError(f"duplicate partition keys in {list(partition_by)}")
    return fields


class ManifestTable:
    def __init__(self, root: str, partition_by: Sequence[str] | None = None):
        """``partition_by`` is the default partition spec for writes made
        through the generic table interface (sync/CDC paths call
        ``overwrite(df)`` without one). ``root`` may be a plain path or any
        ``pyarrow.fs`` URI (``s3://…``, ``hdfs://…``) — metadata IO goes
        through the MetaFS seam, data IO through Spark."""
        self.root = root
        self.mfs = MetaFS(root)
        self.partition_by = list(partition_by or [])
        # which pointer this handle reads/advances: main (_VERSION) or a
        # named branch ref — see branch()/create_branch()/fast_forward()
        self._ref_file = _VERSION_FILE
        # base write-dir -> read schema. Every write lands in a fresh
        # immutable base dir whose files share one schema; the write knows
        # it (_write_files) and every commit records it in the manifest's
        # "schemas" map (_publish), which each manifest load seeds here.
        # A base with no recorded schema (a manifest written before the
        # map existed, imported files) pays one footer-inference job, once
        # per handle. Pruned to the live bases at every publish.
        self._schema_by_base: dict[str, T.StructType] = {}

    # ---------------------------------------------------------- manifests
    def current_manifest_name(self) -> str | None:
        if not self.mfs.exists(self._ref_file):
            return None
        return self.mfs.read_text(self._ref_file).strip() or None

    def _load_manifest(self, version: int | None = None) -> dict[str, Any]:
        if version is not None:
            name = f"manifest-{version:08d}.json"
            if not self.mfs.exists(name):
                raise FileNotFoundError(f"no such snapshot version: {version}")
        else:
            name = self.current_manifest_name()
            if name is None:
                raise FileNotFoundError(f"no published manifest: {self.root}")
            if name.startswith("snap-"):
                raise ValueError(
                    f"{self.root}: {self._ref_file} names {name!r}, a "
                    "snapshot directory of the old snap-N table layout, "
                    "which is no longer read — reload the stream with a "
                    "fresh FULL_TABLE run"
                )
        m = json.loads(self.mfs.read_text(name))
        for base, js in m.get("schemas", {}).items():
            if base not in self._schema_by_base:
                self._schema_by_base[base] = T.StructType.fromJson(
                    json.loads(js)
                )
        return m

    def versions(self) -> list[int]:
        return sorted(
            int(f.split("-")[1].split(".")[0])
            for f in self.mfs.listdir()
            if f.startswith("manifest-") and f.endswith(".json")
        )

    def exists(self) -> bool:
        return self.current_manifest_name() is not None

    # ---------------------------------------------- branches (WAP pattern)
    @staticmethod
    def _ref_name(branch: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9_.-]+", branch):
            raise ValueError(f"invalid branch name: {branch!r}")
        return f"_ref-{branch}"

    def branch(self, name: str) -> "ManifestTable":
        """Handle onto a named branch: same table root and data files,
        its own commit pointer. Every write verb (overwrite / merge /
        merge_on_read / delete_where / compact) publishes to the branch
        ref; main's pointer — and every main reader — is untouched until
        :meth:`fast_forward`. This is Iceberg's write-audit-publish
        shape: stage on a branch, audit the staged snapshot, publish by
        pointer swap."""
        b = ManifestTable(self.root, self.partition_by)
        b._ref_file = self._ref_name(name)
        return b

    def create_branch(
        self, name: str, from_version: int | None = None
    ) -> "ManifestTable":
        """Create ``name`` at the current snapshot (or a pinned historical
        ``from_version``) and return its handle. Metadata-only: no data is
        copied (contrast :meth:`clone_to`)."""
        ref = self._ref_name(name)
        if self.mfs.exists(ref):
            raise ValueError(f"branch already exists: {name}")
        if from_version is not None:
            base = f"manifest-{from_version:08d}.json"
            self._load_manifest(from_version)  # existence check
        else:
            base = self.current_manifest_name()
            if base is None:
                raise FileNotFoundError("cannot branch an empty table")
        self.mfs.write_text(base, ref, atomic=True)
        return self.branch(name)

    def branches(self) -> list[str]:
        return sorted(
            f[len("_ref-"):]
            for f in self.mfs.listdir()
            if f.startswith("_ref-")
        )

    def drop_branch(self, name: str) -> None:
        """Delete the ref; the branch's manifests and any files only it
        references become vacuum's to collect (the audit-failed path of
        WAP — nothing it staged ever reaches a main reader)."""
        self.mfs.delete(self._ref_name(name))

    def _ancestry(self, head: str) -> list[str]:
        chain, seen = [], set()
        cur: str | None = head
        while cur is not None and cur not in seen:
            seen.add(cur)
            chain.append(cur)
            cur = json.loads(self.mfs.read_text(cur)).get("parent")
        return chain

    def fast_forward(self, name: str) -> str:
        """Publish a branch: atomically swap main's pointer to the branch
        head. Requires main's current manifest to be an ANCESTOR of the
        branch head (the branch carries every main commit) — if main
        moved since the branch was cut, this raises instead of silently
        dropping those commits; rebase by re-staging onto a fresh branch.
        The swap is the WAP commit point: audits ran against exactly the
        bytes main's readers now see."""
        head = self.branch(name).current_manifest_name()
        if head is None:
            raise FileNotFoundError(f"no such branch: {name}")
        main = self.current_manifest_name()
        if main is not None and main not in self._ancestry(head):
            raise RuntimeError(
                f"main moved since branch {name!r} was cut "
                f"({main} not in branch ancestry); re-stage and re-audit"
            )
        self.mfs.write_text(head, self._ref_file, atomic=True)
        return head

    def _next_manifest_name(self) -> str:
        n = 1 + max(self.versions(), default=0)
        return f"manifest-{n:08d}.json"

    def _publish(
        self,
        manifest: dict[str, Any],
        op: str = "commit",
        expected_parent: str | None = None,
    ) -> str:
        # ANALYZE output persists across data commits (merge/compact/
        # overwrite) until recomputed — its "version" marker names the
        # manifest it was computed against, so readers can detect
        # staleness (same lifecycle as warehouse ANALYZE stats)
        prior_m = self._load_manifest() if self.exists() else {}
        if prior_m:
            if "table_stats" not in manifest:
                prior = prior_m.get("table_stats")
                if prior is not None:
                    manifest["table_stats"] = prior
            # CHECK constraints and the retention policy are table
            # metadata: they ride every publish until explicitly changed
            if "constraints" not in manifest:
                prior_c = prior_m.get("constraints")
                if prior_c:
                    manifest["constraints"] = prior_c
            if "retention" not in manifest:
                prior_r = prior_m.get("retention")
                if prior_r:
                    manifest["retention"] = prior_r
        # the read schema of every live write dir rides the commit, so no
        # read of it ever infers from footers. Sources: the dict itself
        # (clone), the prior commit, and this handle (what it wrote, what
        # it loaded — rollback — or what it inferred); bases no longer
        # live drop out, so the map never outgrows the file list.
        live = {e["base"] for e in manifest["files"]}
        recorded = {
            **prior_m.get("schemas", {}),
            **manifest.get("schemas", {}),
        }
        manifest["schemas"] = {
            b: recorded[b] if b in recorded else self._schema_by_base[b].json()
            for b in sorted(live)
            if b in recorded or b in self._schema_by_base
        }
        self._schema_by_base = {
            b: s for b, s in self._schema_by_base.items() if b in live
        }
        self.mfs.mkdirs()
        # Several verbs publish a LOADED manifest dict ({**m, ...}:
        # constraints, retention, bloom, analyze, clone). Its parent /
        # committed_at / operation describe the PRIOR commit — keeping
        # them would corrupt the parent chain (CDF walks, ancestor
        # checks) and stamp the new commit with the old time/op.
        # Recompute all three for every publish.
        for stale in ("parent", "committed_at", "operation"):
            manifest.pop(stale, None)
        # operation provenance: surfaced by meta("snapshots") — which verb
        # produced each snapshot (audit/lineage at manifest scale)
        manifest.setdefault("operation", op)
        if "committed_at" not in manifest:
            import datetime

            # microsecond precision so AS OF TIMESTAMP (version_as_of)
            # distinguishes rapid successive commits; every consumer
            # compares stamps lexicographically, which stays correct
            manifest["committed_at"] = (
                datetime.datetime.now(datetime.timezone.utc)
                .replace(tzinfo=None)
                .isoformat(sep=" ", timespec="microseconds")
            )
        # [check, allocate, write, swap] is one lock-serialized critical
        # section: a racer that moved the table off ``expected_parent``
        # surfaces as CommitConflict BEFORE anything lands on disk (no
        # orphan manifest from a conflicted attempt), the parent pointer
        # (snapshot lineage for provenance and the fast-forward ancestry
        # check) is read under the same lock (linear chain even for
        # last-wins publishes), and the create-exclusive
        # manifest write stays as the cross-process safety net against a
        # non-lock-abiding writer (e.g. after a broken stale lock). The
        # pointer write is the commit point — atomic rename locally,
        # atomic PUT on object stores.
        with self._commit_lock() as assert_lock_owned:
            live = self.current_manifest_name()
            if expected_parent is not None:
                want = (
                    None
                    if expected_parent == EXPECT_ABSENT
                    else expected_parent
                )
                if live != want:
                    raise CommitConflict(
                        f"snapshot moved {want} -> {live} during "
                        f"the {op}; reload and retry"
                    )
            manifest["parent"] = live
            name = self._next_manifest_name()
            try:
                self.mfs.write_text_exclusive(
                    json.dumps(manifest, indent=1), name
                )
            except FileExistsError:
                raise CommitConflict(
                    f"{name} already allocated by a racing writer during "
                    f"the {op}; reload and retry"
                ) from None
            # Ownership re-check IMMEDIATELY before the pointer swap: a
            # holder that stalled long enough to be timed out and broken
            # may resume here AFTER the breaker committed — its manifest
            # got a fresh (later) number, so the create-exclusive write
            # above succeeded, and the swap would silently orphan the
            # breaker's commit. Re-reading the lock shrinks that
            # lost-commit window to the single read→rename gap.
            assert_lock_owned()
            self.mfs.write_text(name, self._ref_file, atomic=True)
        return name

    @contextlib.contextmanager
    def _commit_lock(self, timeout: float = 30.0):
        """Serialize the pointer-swap critical section across processes via
        a create-exclusive lock file. Held for microseconds (one read + one
        rename). Liveness and safety rules:

        - a lock is broken only when ITS OWN birth timestamp (stored in
          the file) is older than ``timeout`` — how long a contender has
          been waiting is irrelevant, so a healthy writer's fresh lock is
          never stolen;
        - release is ownership-checked: the holder deletes the lock only
          if it still carries its own token, so a holder that WAS timed
          out and broken can't delete the next holder's lock on exit.

        The check-then-delete break has an unavoidable window without a
        store-side CAS; the create-exclusive manifest write downstream
        remains the safety net that turns any double-entry into a
        CommitConflict rather than a lost commit."""
        import time as _time

        lock = "_commit.lock"
        token = uuid.uuid4().hex
        while True:
            try:
                self.mfs.write_text_exclusive(
                    f"{_time.time()}|{token}", lock
                )
                break
            except FileExistsError:
                try:
                    born = float(
                        self.mfs.read_text(lock).split("|", 1)[0]
                    )
                except (OSError, ValueError):
                    born = None  # vanished or torn: re-contend immediately
                if born is not None and _time.time() - born > timeout:
                    try:  # break the genuinely abandoned lock
                        self.mfs.delete(lock)
                    except OSError:  # another contender broke it first
                        pass
                _time.sleep(0.005)

        def assert_owned() -> None:
            """Raise CommitConflict unless _commit.lock still carries
            this holder's token (i.e. we were NOT timed out and broken
            while stalled inside the critical section)."""
            try:
                owner = self.mfs.read_text(lock).split("|", 1)[1]
            except (OSError, ValueError, IndexError):
                owner = None
            if owner != token:
                raise CommitConflict(
                    "commit lock was broken while this writer stalled "
                    "(another writer may have committed); reload and retry"
                )

        try:
            yield assert_owned
        finally:
            try:
                owner = self.mfs.read_text(lock).split("|", 1)[1]
                if owner == token:
                    self.mfs.delete(lock)
            except (OSError, ValueError, IndexError):
                pass  # broken by a contender that saw us stall

    # -------------------------------------------------------------- write
    def _file_stats(self, rel: str) -> tuple[dict[str, list[Any]], int]:
        """File-level [min, max] per top-level column, straight from the
        parquet footer (metadata-only read — no data pages touched). Values
        are stored JSON-safe in an order-preserving encoding: numbers as-is,
        strings as-is, datetimes as ``isoformat(sep=' ')`` strings (which
        compare lexicographically in timestamp order). Columns whose stats
        aren't representable (bytes, nested) are simply omitted — skipping
        is best-effort by design: a missing stat can never skip a file.
        """
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        def enc(v: Any) -> Any:
            if isinstance(v, datetime.datetime):
                return v.isoformat(sep=" ")
            if isinstance(v, datetime.date):
                # date.isoformat() takes no sep; datetime is checked
                # FIRST (datetime is a date subclass)
                return v.isoformat()
            if isinstance(v, (bool, int, float, str)):
                return v
            return None

        with self.mfs.fs.open_input_file(self.mfs._p(rel)) as f:
            md = pq.ParquetFile(f).metadata
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        # Once ANY row group lacks usable stats for a column, the file's
        # bounds can never cover all its rows — drop the column permanently
        # (a later row group with stats must NOT re-add it, or range
        # skipping would wrongly prune a file whose stats-less row group
        # holds matching rows).
        dropped: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                name = col.path_in_schema
                if name in dropped:
                    continue
                try:
                    mn, mx = (
                        (enc(st.min), enc(st.max))
                        if st is not None and st.has_min_max and "." not in name
                        else (None, None)
                    )
                except pa.ArrowNotImplementedError:
                    # pyarrow cannot decode some logical types' bounds
                    # (an INT64-backed decimal): unrepresentable, so omitted
                    mn = mx = None
                if mn is None or mx is None:
                    dropped.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
        return (
            {c: [mins[c], maxs[c]] for c in mins if c in maxs},
            int(md.num_rows),
        )

    def _stats_for(
        self, rels: Sequence[str]
    ) -> dict[str, tuple[dict[str, list[Any]], int, int]]:
        """Footer stats + byte size for many files, read CONCURRENTLY:
        each read is a metadata-only open (pyarrow releases the GIL on
        I/O), and a commit of N files paying N sequential driver-side
        opens was the dominant between-job gap of the MOR/medallion
        micro-batch loops (guide §6 — batch the metadata reads). Results
        are keyed by rel path; callers keep their own ordering."""
        rels = list(rels)
        if not rels:
            return {}

        def one(rel: str) -> tuple[str, tuple[dict, int, int]]:
            stats, rows = self._file_stats(rel)
            return rel, (stats, rows, self.mfs.file_size(rel))

        if len(rels) == 1:
            return dict([one(rels[0])])
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(rels))) as pool:
            return dict(pool.map(one, rels))

    def _write_files(
        self, df: DataFrame, partition_by: Sequence[str]
    ) -> list[dict[str, Any]]:
        """Write a data dir and return manifest entries for its files.
        Hidden-transform fields materialize their derived dir column here
        (and ONLY here — partitionBy strips it from the data files; the
        raw source column stays in the data)."""
        write_id = uuid.uuid4().hex[:12]
        base_rel = posixpath.join("data", write_id)
        fields = parse_partition_spec(partition_by)
        for f_ in fields:
            if f_.hidden:
                df = df.withColumn(f_.key, f_.expr())
        writer = df.write.mode("overwrite")
        if fields:
            writer = writer.partitionBy(*[f_.key for f_ in fields])
        writer.parquet(self.mfs.uri(base_rel))

        entries: list[dict[str, Any]] = []
        rels = [
            rel
            for rel in self.mfs.walk_files(base_rel)
            if rel.endswith(".parquet")
        ]
        stats_by_rel = self._stats_for(rels)
        for rel in rels:
            partition = {}
            for seg in posixpath.relpath(posixpath.dirname(rel), base_rel).split("/"):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    partition[k] = _decode_hive_value(v)
            stats, num_rows, n_bytes = stats_by_rel[rel]
            entries.append(
                {
                    "path": rel,
                    "base": base_rel,
                    "partition": partition,
                    "stats": stats,
                    "rows": num_rows,
                    "bytes": n_bytes,
                }
            )
        # the read schema inference returns for the whole dir: the written
        # columns, widened as inference widens them (_as_nullable), then
        # each partition key in spec order, untyped as _read_entries reads
        # it — string, or void when every value is NULL
        keys = [f_.key for f_ in fields]
        self._schema_by_base[base_rel] = T.StructType(
            [f for f in _as_nullable(df.schema).fields if f.name not in keys]
            + [
                T.StructField(
                    k,
                    T.StringType()
                    if any(e["partition"].get(k) is not None for e in entries)
                    else T.NullType(),
                )
                for k in keys
            ]
        )
        return entries

    def overwrite(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        expected_parent: str | None = None,
    ) -> str:
        """Replace the table's contents with ``df``. Without
        ``expected_parent`` the swap is last-wins (FULL_TABLE's SWAP). A
        rewrite of rows read from the table passes the manifest name it
        read, so a commit landing in between raises CommitConflict
        instead of being dropped."""
        self._enforce(df)
        if partition_by is None:
            # a fresh handle defaults to the LIVE spec (so partition
            # evolution sticks across table objects); constructor arg and
            # explicit parameter both override
            if self.partition_by:
                partition_by = self.partition_by
            elif self.exists():
                partition_by = self._load_manifest().get("partition_by", [])
            else:
                partition_by = []
        partition_by = list(partition_by)
        ptypes = {
            f_.key: df.schema[f_.source].dataType.simpleString()
            for f_ in parse_partition_spec(partition_by)
            if not f_.hidden  # derived cols never surface on read
        }
        entries = self._write_files(df, partition_by)
        return self._publish(
            {
                "partition_by": partition_by,
                "partition_types": ptypes,
                "files": entries,
            },
            op="overwrite",
            expected_parent=expected_parent,
        )

    def append(self, df: DataFrame) -> str:
        """Append load (no PK — the reference's non-key table path,
        target_snowflake/db_sync.py straight-INSERT mode, as a snapshot
        commit): the batch lands as new data files under the LIVE
        partition spec, every existing file carries over by manifest
        reference. Cost is O(batch) + one publish — no table scan, no
        deletion vectors, the cheapest possible commit. Constraints still
        gate the incoming rows; conflicts retry via expected_parent."""
        base = self.current_manifest_name()
        m = (
            self._load_manifest()
            if self.exists()
            else {"partition_by": list(self.partition_by), "files": []}
        )
        self._enforce(df, m.get("constraints", {}))
        partition_by = m.get("partition_by", [])
        ptypes = m.get("partition_types") or {
            f_.key: df.schema[f_.source].dataType.simpleString()
            for f_ in parse_partition_spec(partition_by)
            if not f_.hidden
        }
        entries = self._write_files(df, partition_by)
        return self._publish(
            {
                "partition_by": partition_by,
                "partition_types": ptypes,
                "files": m["files"] + entries,
            },
            op="append",
            expected_parent=base if base is not None else EXPECT_ABSENT,
        )

    def import_files(
        self, base_rel: str, split_key: str | None = None
    ) -> list[str]:
        """Iceberg ``add_files`` analog: register ALREADY-WRITTEN hive-
        partitioned parquet under the table root as append commit(s) —
        data is never rewritten, only footer stats are read (metadata-
        scale). With ``split_key``, the files' ``<split_key>=N`` dir level
        becomes SEPARATE commits in sorted-N order (bulk history import:
        replaying an ingest log lands the whole history with ONE data
        write plus per-commit metadata publishes); that dir level is
        excluded from the entries' partition dicts. Returns the published
        manifest names. Reference behavior modeled: archive-to-table
        backfill of FastSync-exported files without a second copy."""
        groups: dict[Any, list[dict[str, Any]]] = {}
        import_rels = [
            rel
            for rel in self.mfs.walk_files(base_rel)
            if rel.endswith(".parquet")
        ]
        import_stats = self._stats_for(import_rels)
        for rel in import_rels:
            partition: dict[str, Any] = {}
            split_val: Any = None
            entry_base = base_rel
            for seg in posixpath.relpath(
                posixpath.dirname(rel), base_rel
            ).split("/"):
                if "=" not in seg:
                    continue
                kk, vv = seg.split("=", 1)
                if kk == split_key:
                    split_val = _decode_hive_value(vv)
                    # anchor the entry's basePath BELOW the split dir so
                    # the read-time hive discovery never surfaces the
                    # split level as a table column
                    entry_base = posixpath.join(base_rel, seg)
                else:
                    partition[kk] = _decode_hive_value(vv)
            stats, num_rows, n_bytes = import_stats[rel]
            groups.setdefault(split_val, []).append(
                {
                    "path": rel,
                    "base": entry_base,
                    "partition": partition,
                    "stats": stats,
                    "rows": num_rows,
                    "bytes": n_bytes,
                }
            )
        published = []

        def _split_order(v):
            # numeric split values sort numerically ("10" after "9"), so
            # the documented sorted-N commit order holds past 9 commits;
            # mixed/non-numeric values fall back to string order
            if v is None:
                return (2, 0, "")
            try:
                return (0, float(v), "")
            except (TypeError, ValueError):
                return (1, 0, str(v))

        for sv in sorted(groups, key=_split_order):
            base = self.current_manifest_name()
            m = (
                self._load_manifest()
                if self.exists()
                else {
                    "partition_by": list(self.partition_by),
                    "partition_types": {},
                    "files": [],
                }
            )
            published.append(
                self._publish(
                    {
                        "partition_by": m.get("partition_by", []),
                        "partition_types": m.get("partition_types", {}),
                        "files": m["files"] + groups[sv],
                    },
                    op="import",
                    expected_parent=(
                        base if base is not None else EXPECT_ABSENT
                    ),
                )
            )
        return published

    # --------------------------------------------------------------- read
    def select_entries(
        self,
        partitions: dict[str, list[str]] | None = None,
        ranges: dict[str, tuple[Any, Any]] | None = None,
        version: int | None = None,
        points: dict[str, Any] | None = None,
        partition_rows: list[dict[str, Any]] | None = None,
    ) -> tuple[list[dict[str, Any]], dict[str, Any]]:
        """Manifest entries surviving partition pruning, min/max file
        skipping, and Bloom point-lookup pruning. ``ranges`` maps column →
        (lo, hi) bounds (either side None = open); a file is skipped only
        when its footer stats PROVE the range can't match — missing stats
        keep the file. Bounds for timestamp columns are their
        ``isoformat(sep=' ')`` strings (the manifest's stats encoding).
        ``points`` maps column → value or list of values; files whose Bloom
        filter (add_bloom_filters) proves NONE of the values present are
        skipped — no filter on a file keeps it (best-effort, like stats).
        ``partition_rows`` prunes on full partition-value TUPLES (each dict
        one complete assignment) — with a composite spec this is strictly
        tighter than ``partitions``' independent per-column sets, which
        would also keep every cross-combination of the listed values."""
        m = self._load_manifest(version)
        entries = m["files"]
        if partition_rows is not None:
            keys = sorted({k for r in partition_rows for k in r})
            allowed = {tuple(r.get(k) for k in keys) for r in partition_rows}
            entries = [
                e for e in entries
                # older-spec entries (some key absent) may hold any rows:
                # conservative keep, same as the per-column path
                if any(k not in e["partition"] for k in keys)
                or tuple(e["partition"][k] for k in keys) in allowed
            ]
        if partitions:
            # an entry written under an OLDER partition spec (key absent
            # from its partition dict — distinct from an explicit NULL
            # value) may contain rows of any partition: keep it. Partition
            # evolution stays correct because pruning is conservative.
            entries = [
                e for e in entries
                if all(
                    k not in e["partition"] or e["partition"][k] in set(v)
                    for k, v in partitions.items()
                )
            ]
        # hidden-transform partition pruning: predicates arrive on the RAW
        # column (the user never sees the derived dir value); map them
        # through the transform and prune on the manifest's partition
        # values. Conservative everywhere: absent keys / non-order-
        # preserving transforms under range predicates keep the file.
        for f_ in parse_partition_spec(m.get("partition_by", [])):
            if not f_.hidden:
                continue
            if ranges and f_.source in ranges and f_.order_preserving:
                lo, hi = ranges[f_.source]
                dlo = f_.value_of(lo) if lo is not None else None
                dhi = f_.value_of(hi) if hi is not None else None

                def day_keep(e, k=f_.key, dlo=dlo, dhi=dhi):
                    v = e["partition"].get(k)
                    if k not in e["partition"] or v is None:
                        return True
                    return (dlo is None or v >= dlo) and (
                        dhi is None or v <= dhi
                    )

                entries = [e for e in entries if day_keep(e)]
            if points and f_.source in points:
                vals = points[f_.source]
                vlist = (
                    vals
                    if isinstance(vals, (list, tuple, set))
                    else [vals]
                )
                allowed_d = {f_.value_of(v) for v in vlist}

                def pt_keep(e, k=f_.key, allowed_d=allowed_d):
                    if k not in e["partition"]:
                        return True
                    return e["partition"][k] in allowed_d

                entries = [e for e in entries if pt_keep(e)]
        if ranges:
            def matches(e: dict[str, Any]) -> bool:
                stats = e.get("stats", {})
                for c, (lo, hi) in ranges.items():
                    if c not in stats:
                        continue
                    mn, mx = stats[c]
                    if lo is not None and mx < lo:
                        return False
                    if hi is not None and mn > hi:
                        return False
                return True

            entries = [e for e in entries if matches(e)]
        if points:
            def bloom_keeps(e: dict[str, Any]) -> bool:
                blooms = e.get("bloom", {})
                for c, vals in points.items():
                    if c not in blooms:
                        continue
                    vlist = vals if isinstance(vals, (list, tuple, set)) else [vals]
                    if not any(
                        self._bloom_maybe_contains(blooms[c], v) for v in vlist
                    ):
                        return False
                return True

            entries = [e for e in entries if bloom_keeps(e)]
        return entries, m

    def version_as_of(self, timestamp: str) -> int:
        """Resolve ``AS OF TIMESTAMP`` to a snapshot version: the newest
        commit whose ``committed_at`` stamp (UTC, written by every
        publish) is <= the given ``'YYYY-MM-DD HH:MM:SS'`` instant —
        Delta's timestamp time travel / Iceberg's snapshot-for-timestamp
        resolution, done entirely on manifest metadata (one JSON read per
        retained snapshot, no data touched). Raises if the timestamp
        predates the first retained commit (earlier history is
        expired/vacuumed, so the resolution would silently lie)."""
        # stamps carry microseconds; a coarser query string ('2026-08-14',
        # '... 12:00', '... 12:00:00') would compare lexicographically
        # BELOW a stamp at exactly that instant (prefix < longer string)
        # — normalize any valid prefix to full precision so <=-instant
        # holds at every granularity
        if len(timestamp) < 26:
            timestamp = (
                timestamp
                + "-01-01 00:00:00.000000"[len(timestamp) - 4:]
            )
        best: int | None = None
        for v in self.versions():
            stamp = self._load_manifest(version=v).get("committed_at")
            if stamp is not None and stamp <= timestamp:
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before {timestamp!r} is "
                "retained (history expired, or timestamp predates the "
                "table)"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        partitions: dict[str, list[str]] | None = None,
        version: int | None = None,
        ranges: dict[str, tuple[Any, Any]] | None = None,
        points: dict[str, Any] | None = None,
        partition_rows: list[dict[str, Any]] | None = None,
        as_of: str | None = None,
    ) -> DataFrame:
        """Read the live snapshot (or a historical ``version`` — time
        travel — or ``as_of`` a UTC timestamp string, resolved via
        :meth:`version_as_of`). ``partitions`` prunes manifest-side
        (``partition_rows`` prunes on exact value tuples instead);
        ``ranges`` adds footer-stats file skipping; ``points`` adds Bloom
        point-lookup skipping (Iceberg/Delta-style data skipping: only
        files that can match are ever listed to Spark — the caller still
        applies the exact row-level filter)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_as_of(as_of)
        entries, m = self.select_entries(
            partitions, ranges, version, points, partition_rows
        )
        return self._read_entries(spark, entries, m)

    def _read_entries(
        self,
        spark: SparkSession,
        entries: list[dict[str, Any]],
        m: dict[str, Any],
        keep_pos: bool = False,
    ) -> DataFrame:
        """Read a set of manifest entries with schema fidelity.

        Partition values come from directory names; Spark's type inference
        would guess (e.g. '2026-01-01 00:00:00' -> timestamp) and break
        schema fidelity. Read them as strings and cast back to the types
        recorded at write time.

        Each write dir is read with the schema its commit recorded
        (``_schema_by_base``, seeded from the manifest's ``schemas`` map),
        so planning reads no parquet footer: no inference job, on a fresh
        handle included. A write dir with no recorded schema (a manifest
        from before the map) infers once per handle. An empty slice takes
        the schema of the first live file's write dir.

        The manifest already names every file, so planning must not pay
        for a listing job: above
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
        paths, Spark lists them with a distributed job, one task per
        path. On the local filesystem the files are listed serially on
        the driver instead (``MetaFS.known_paths_conf``); other schemes
        keep Spark's threshold. Listing happens eagerly inside
        reader.parquet(), so both confs are scoped to this call.

        Entries carrying deletion vectors (``delete_where``) get their
        dead positions anti-joined out; ``keep_pos`` keeps the
        (``__dv_path``, ``__dv_pos``) row-identity columns on the result
        (the delete path needs them to mint new vectors).
        """
        dv_files = sorted({p for e in entries for p in e.get("dv", [])})
        with_pos = keep_pos or bool(dv_files)
        # group by write dir so hive partition cols reconstruct per base;
        # dirs union in commit order (first appearance in the manifest),
        # so the oldest dir's column order leads, whatever the write ids
        by_base: dict[str, list[str]] = {}
        for e in entries:
            by_base.setdefault(e["base"], []).append(self.mfs.uri(e["path"]))
        n_paths = max([len(dv_files), *map(len, by_base.values())])
        conf = {
            "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
            **self.mfs.known_paths_conf(spark, n_paths),
        }
        with scoped_conf(spark, conf):
            if not entries:
                # empty slice (e.g. batch introduces a new partition value):
                # the schema of any one live file's write dir
                if not m["files"]:
                    raise ValueError(
                        "cannot infer schema of an empty manifest table"
                    )
                e = m["files"][0]
                out = self._scan(
                    spark, e["base"], [self.mfs.uri(e["path"])]
                ).limit(0)
                if keep_pos:
                    out = out.withColumns(
                        {
                            "__dv_path": F.lit(None).cast("string"),
                            "__dv_pos": F.lit(None).cast("long"),
                        }
                    )
            else:
                dfs = []
                for base, files in by_base.items():
                    d = self._scan(spark, base, sorted(files))
                    if with_pos:
                        # row identity = (file, position-in-file): stable
                        # across reads because parquet row order is fixed —
                        # the same identity Delta DVs / Iceberg position
                        # deletes use. Must be projected at the SCAN (the
                        # hidden _metadata struct doesn't survive a union).
                        # The path is stored ROOT-RELATIVE (the manifest's
                        # own entry form) so vectors survive clone_to and
                        # any respelling of the root URI.
                        d = d.withColumns(
                            {
                                "__dv_path": F.regexp_extract(
                                    F.col("_metadata.file_path"),
                                    r"^.*/(data/.*)$", 1,
                                ),
                                "__dv_pos": F.col("_metadata.row_index"),
                            }
                        )
                    dfs.append(d)
                out = dfs[0]
                for d in dfs[1:]:
                    out = out.unionByName(d, allowMissingColumns=True)
            if dv_files:
                # the sidecar schema is the DV CONTRACT (two fixed columns)
                # — pass it explicitly so no poll/flush pays an inference job
                dv = spark.read.schema(
                    "file_path string, row_index bigint"
                ).parquet(*[self.mfs.uri(p) for p in dv_files])
                # deletes are tiny relative to the table (the whole point
                # of DVs); broadcast turns the anti-join into a map-side
                # filter — the corpus never shuffles. Past the hint
                # threshold Spark falls back to a shuffled anti-join on
                # its own.
                if sum(e.get("dv_rows", 0) for e in entries) <= 5_000_000:
                    dv = F.broadcast(dv)
                out = out.join(
                    dv,
                    (F.col("__dv_path") == dv["file_path"])
                    & (F.col("__dv_pos") == dv["row_index"]),
                    "left_anti",
                )
        if with_pos and not keep_pos:
            out = out.drop("__dv_path", "__dv_pos")
        hidden = [
            f_.key
            for f_ in parse_partition_spec(m.get("partition_by", []))
            if f_.hidden and f_.key in out.columns
        ]
        if hidden:
            # derived dir values are reconstructible from the raw column
            # (still in the data files) — hidden partitioning never leaks
            out = out.drop(*hidden)
        for c, dt in m.get("partition_types", {}).items():
            if c in out.columns and dt != "string":
                out = out.withColumn(c, F.col(c).cast(dt))
        return out

    def _scan(
        self, spark: SparkSession, base: str, files: list[str]
    ) -> DataFrame:
        """Files of one write dir, read with its recorded schema; a base
        with none recorded infers once and remembers the answer."""
        reader = spark.read.option("basePath", self.mfs.uri(base))
        known = self._schema_by_base.get(base)
        if known is not None:
            reader = reader.schema(known)
        d = reader.parquet(*files)
        # a partition key whose values are all NULL in the files read
        # infers as void, which is the whole dir's type only if every
        # file of it was read: not worth remembering
        if known is None and not any(
            isinstance(f.dataType, T.NullType) for f in d.schema
        ):
            self._schema_by_base[base] = d.schema
        return d

    # -------------------------------------------------------------- merge
    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        primary_keys: Sequence[str],
        hard_delete: bool = False,
        guard_col: str | None = None,
    ) -> None:
        """PK MERGE, the landing verb of every keyed batch (the
        reference's MERGE on ``key_properties``).

        A missing table is created from the batch by ``append``, which
        publishes only while the table is still absent; with
        ``hard_delete`` the batch's tombstones are dropped first.

        Otherwise only the partitions present in the batch are read,
        merged (``merge_upsert``) and rewritten; untouched files carry
        over by reference. The affected-partition list is driver-side
        metadata (coarse values, like Delta's replaceWhere) — never row
        data. An unpartitioned table is the case with no partition keys:
        its one partition is the whole table, rewritten copy-on-write as
        the join writes it. The rewrite publishes against the manifest it
        read, so a commit landing in between raises CommitConflict (for
        ``commit_with_retries``) instead of being dropped.
        """
        from pipelinewise_spark.operators.merge import merge_upsert
        from pipelinewise_spark.operators.sdc import SDC_DELETED_AT

        base = self.current_manifest_name()
        if base is None:
            if hard_delete and SDC_DELETED_AT in batch.columns:
                batch = batch.filter(F.col(SDC_DELETED_AT).isNull())
            self.append(batch)
            return
        m = self._load_manifest()
        self._enforce(batch, m.get("constraints", {}))
        partition_by = m["partition_by"]

        # hive partition dirs stringify values; match on the string form.
        # Hidden-transform fields compute their derived dir value for the
        # touched-partition list, then drop it again — the merge itself
        # runs on raw columns and _write_files re-derives at write time.
        fields = parse_partition_spec(partition_by)
        keys = [f_.key for f_ in fields]
        # NOT pinned (r14, measured): persisting the batch here — the
        # merge_on_read rule — A/B'd 1.11-1.23x SLOWER on the four
        # merge-path bench queries. The touched-partition collect below is
        # column-pruned by Catalyst to a key-only plan, so the "duplicate"
        # execution is narrow, while a persist forces one full-width
        # materialization pass plus a cache barrier.
        batch_str = batch
        for f_ in fields:
            batch_str = batch_str.withColumn(
                f_.key,
                f_.expr() if f_.hidden else F.col(f_.key).cast("string"),
            )
        # exact value-TUPLE pruning: with a composite spec, per-column sets
        # would also read every cross-combination of the batch's values
        # (correct but over-wide); manifest values are decoded so logical
        # equality holds for escaped chars and NULLs alike. No keys: the
        # one empty tuple, which every entry matches, with no Spark job.
        affected_rows = (
            [
                {k: r[k] for k in keys}
                for r in batch_str.select(*keys).distinct().collect()
            ]
            if keys
            else [{}]
        )
        target_slice = self.read(spark, partition_rows=affected_rows)
        for f_ in fields:
            if not f_.hidden:
                target_slice = target_slice.withColumn(
                    f_.key, F.col(f_.key).cast("string")
                )
        merged = merge_upsert(
            target_slice,
            batch_str.drop(*[f_.key for f_ in fields if f_.hidden]),
            primary_keys,
            hard_delete=hard_delete, guard_col=guard_col,
        )
        new_entries = self._write_files(merged, partition_by)

        affected_tuples = {
            tuple(r[k] for k in keys) for r in affected_rows
        }
        # entries from an older partition spec (key absent) are always
        # possibly-affected: they are read into the merge above (the pruned
        # read keeps them) and must NOT carry over, or their rows would
        # duplicate the rewritten copies. First merge after a spec change
        # migrates them to the new layout.
        kept = [
            e for e in m["files"]
            if all(k in e["partition"] for k in keys)
            and tuple(e["partition"][k] for k in keys)
            not in affected_tuples
        ]
        self._publish(
            {
                "partition_by": partition_by,
                # merged data was written with stringified partition cols, but
                # dir encodings are identical — keep the original logical types
                "partition_types": m.get("partition_types", {}),
                "files": kept + new_entries,
            },
            op="merge",
            expected_parent=base,
        )

    # -------------------------------------------------- CHECK constraints
    def constraints(self) -> dict[str, str]:
        if not self.exists():
            return {}
        return dict(self._load_manifest().get("constraints", {}))

    def add_constraint(
        self, spark: SparkSession, name: str, predicate: str
    ) -> str:
        """ALTER TABLE ADD CONSTRAINT CHECK (Delta semantics): existing
        data is validated FIRST (one early-exit scan — the constraint is
        rejected, not published, if any live row violates it), then the
        predicate rides the manifest and every subsequent write gate
        (overwrite / merge / merge_on_read) validates incoming rows
        against it, raising :class:`ConstraintViolation` with an example
        row before anything is published."""
        base = self.current_manifest_name()
        m = self._load_manifest()
        self._enforce(self.read(spark), {name: predicate})
        cons = dict(m.get("constraints", {}))
        cons[name] = predicate
        return self._publish(
            {**m, "constraints": cons}, op="constraint", expected_parent=base
        )

    def drop_constraint(self, name: str) -> str:
        base = self.current_manifest_name()
        m = self._load_manifest()
        cons = dict(m.get("constraints", {}))
        cons.pop(name, None)
        return self._publish(
            {**m, "constraints": cons}, expected_parent=base
        )

    def _enforce(
        self, df: DataFrame, cons: dict[str, str] | None = None
    ) -> None:
        """Raise on the first row violating any CHECK constraint. An
        early-exit scan per constraint (limit 1) over the frame about to
        be written — the same validation pass Delta runs, with the same
        SQL CHECK NULL rule: a row violates only when the predicate is
        FALSE; NULL passes (a CDC tombstone's NULLed columns must not
        trip a value constraint — record-level strictness belongs to
        operators/validation.py's quarantine routing)."""
        if cons is None:
            cons = (
                self._load_manifest().get("constraints", {})
                if self.exists()
                else {}
            )
        for name, pred in cons.items():
            bad = df.filter(
                ~F.coalesce(F.expr(pred), F.lit(True))
            ).limit(1).collect()
            if bad:
                raise ConstraintViolation(
                    f"CHECK constraint '{name}' ({pred}) violated, "
                    f"example row: {bad[0].asDict()}"
                )

    # --------------------------------------------------- deletion vectors
    def delete_where(self, spark: SparkSession, condition) -> int:
        """Row-level DELETE WHERE without rewriting ANY data file — the
        Delta deletion-vector / Iceberg position-delete mechanism: matching
        rows' (file, position) identities are written as a parquet sidecar
        under ``dv/``, affected manifest entries reference it, and every
        read anti-joins the dead positions out (broadcast ⇒ a map-side
        filter). At 100 TB this turns a GDPR-grade delete of 0.001 % of
        rows from a full-table rewrite into an answer-sized sidecar write.

        Deletes COMPOSE: a second ``delete_where`` only lists rows still
        live (the position scan reads through existing vectors), so
        vectors never double-count. ``compact`` and ``merge`` materialize
        vectors for every partition they rewrite (their reads apply DVs,
        their outputs are fresh files); ``vacuum`` drops vectors no
        retained manifest references. Returns the number of rows deleted.

        Reference behavior modeled: hard-delete semantics
        (target_snowflake/db_sync.py DELETE path) at fact-table scale.
        """
        base = self.current_manifest_name()
        m = self._load_manifest()
        if not m["files"]:
            return 0
        if isinstance(condition, str):
            condition = F.expr(condition)
        live = self._read_entries(spark, m["files"], m, keep_pos=True)
        dv_files, counts = self._write_dv(live.filter(condition))
        if not counts:
            # nothing matched: no publish, orphan dv dir is vacuum's to take
            return 0
        self._publish(
            {
                "partition_by": m["partition_by"],
                "partition_types": m.get("partition_types", {}),
                "files": self._attach_dv(m["files"], dv_files, counts),
            },
            op="delete",
            expected_parent=base,
        )
        return int(sum(counts.values()))

    def update_where(
        self,
        spark: SparkSession,
        condition,
        assignments: dict[str, Any],
    ) -> int:
        """Copy-on-write ``UPDATE ... SET ... WHERE``: rewrite ONLY the
        data files that contain at least one matching row; every other
        file carries over by manifest reference. Pass 1 is answer-sized
        (one scan filtered by ``condition``, aggregated to per-file match
        counts — the predicate pushes down to the parquet scan); pass 2
        reads and rewrites just the touched files with each assignment
        applied as ``CASE WHEN condition THEN expr ELSE old END``, cast
        back to the column's existing type so schema fidelity holds.
        Assignments see PRE-update values (standard SQL UPDATE), may
        reference any column, and may target a partition column — rows
        then migrate directories via the normal partitioned write.
        Deletion vectors on rewritten files materialize (their reads
        apply DVs; outputs are fresh files), exactly like merge/compact.
        Returns the number of rows updated; zero matches publishes
        nothing. At 100 TB this is Delta's UPDATE cost model: scan all
        candidate files once, rewrite the matched subset only.

        Reference behavior modeled: transformation-on-load UPDATE
        semantics (transform_field family) applied in place to an
        already-loaded target table.
        """
        base = self.current_manifest_name()
        m = self._load_manifest()
        if not m["files"]:
            return 0
        if isinstance(condition, str):
            condition = F.expr(condition)
        sets = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        live = self._read_entries(spark, m["files"], m, keep_pos=True)
        # __dv_path is URI-escaped (_metadata.file_path); unquote to the
        # on-disk manifest-entry form before matching e["path"]
        from urllib.parse import unquote

        touched = {
            unquote(r["f"]): r["n"]
            for r in live.filter(condition)
            .groupBy(F.col("__dv_path").alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if not touched:
            return 0
        kept = [e for e in m["files"] if e["path"] not in touched]
        rewrite = [e for e in m["files"] if e["path"] in touched]
        rows = self._read_entries(spark, rewrite, m)
        updated = rows.withColumns(
            {
                c: F.when(
                    condition, x.cast(rows.schema[c].dataType)
                ).otherwise(F.col(c))
                for c, x in sets.items()
            }
        )
        self._enforce(updated, m.get("constraints", {}))
        new_entries = self._write_files(updated, m["partition_by"])
        self._publish(
            {
                "partition_by": m["partition_by"],
                "partition_types": m.get("partition_types", {}),
                "files": kept + new_entries,
            },
            op="update",
            expected_parent=base,
        )
        return int(sum(touched.values()))

    def _write_dv(self, dead: DataFrame) -> tuple[list[str], dict[str, int]]:
        """Persist a position-delete sidecar for rows carrying the
        (``__dv_path``, ``__dv_pos``) identity columns; returns the
        sidecar's parquet files + per-data-file dead-row counts
        (files-scale metadata)."""
        dels = dead.select(
            F.col("__dv_path").alias("file_path"),
            F.col("__dv_pos").alias("row_index"),
        )
        # the sidecar is answer-sized by the DV contract; without this the
        # write inherits the table scan's task layout (one tiny file per
        # scan task, and every later read unions them all). repartition —
        # not coalesce — so the scan+join above keeps its parallelism.
        spark = dels.sparkSession
        dels = dels.repartition(
            max(1, spark.sparkContext.defaultParallelism // 16)
        )
        dv_rel = posixpath.join("dv", uuid.uuid4().hex[:12])
        dels.write.mode("overwrite").parquet(self.mfs.uri(dv_rel))
        # per-file counts from the WRITTEN sidecar (answer-sized), not the
        # source plan — running the scan-and-join lineage a second time for
        # metadata would double every delete/MOR batch's dominant cost.
        # __dv_path derives from _metadata.file_path, a URI: partition
        # values with spaces/special chars arrive percent-encoded
        # ('4-NOT%20SPECIFIED') while manifest entry paths are the on-disk
        # form — unquote so _attach_dv/update_where match every file.
        from urllib.parse import unquote

        dv_files = [
            f for f in self.mfs.walk_files(dv_rel) if f.endswith(".parquet")
        ]
        counts: dict[str, int] = {}
        # The counts the manifest needs are files-scale metadata; the
        # sidecar itself is answer-sized by the DV contract. Reading ONE
        # dictionary-encoded column of it on the driver with pyarrow costs
        # no Spark job (a MOR/delete micro-batch otherwise pays a whole
        # read+shuffle+collect round just for this bookkeeping). A size
        # guard keeps the 100 TB story honest: past 256 MB of sidecar the
        # distributed aggregate does the work instead.
        sidecar_bytes = sum(
            (self.mfs.fs.get_file_info(self.mfs._p(f)).size or 0)
            for f in dv_files
        )
        if sidecar_bytes <= 256 * 1024 * 1024:
            import pyarrow.parquet as pq

            for f in dv_files:
                with self.mfs.fs.open_input_file(self.mfs._p(f)) as fh:
                    col = pq.read_table(
                        fh, columns=["file_path"]
                    ).column("file_path")
                for chunk in col.value_counts().to_pylist():
                    p = unquote(chunk["values"])
                    counts[p] = counts.get(p, 0) + int(chunk["counts"])
        else:
            counts = {
                unquote(r["file_path"]): r["cnt"]
                for r in dels.sparkSession.read.parquet(self.mfs.uri(dv_rel))
                .groupBy("file_path")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
        return dv_files, counts

    @staticmethod
    def _attach_dv(
        entries: list[dict[str, Any]],
        dv_files: list[str],
        counts: dict[str, int],
    ) -> list[dict[str, Any]]:
        """Entries with the new vector referenced by every file it hits —
        vector paths are root-relative, exactly the manifest entry form."""
        out = []
        for e in entries:
            cnt = counts.get(e["path"], 0)
            if cnt:
                e = dict(
                    e,
                    dv=list(e.get("dv", [])) + dv_files,
                    dv_rows=e.get("dv_rows", 0) + cnt,
                )
            out.append(e)
        return out

    def merge_on_read(
        self,
        spark: SparkSession,
        batch: DataFrame,
        primary_keys: Sequence[str],
        deletes: DataFrame | None = None,
        guard_col: str | None = None,
        hard_delete: bool = False,
    ) -> dict[str, int]:
        """Iceberg-v2-style MERGE-ON-READ upsert: rows the batch
        supersedes (and any explicit ``deletes`` PK rows) are deletion-
        vectored in place; the batch itself lands as NEW data files.
        Write cost is O(batch) + an answer-sized sidecar — no partition
        is rewritten, which beats the copy-on-write ``merge`` whenever a
        batch's keys spread across many partitions (the usual shape of a
        CDC trickle into a 100 TB fact table). The read-side price is the
        DV anti-join + more, smaller files — ``compact`` is the lever
        that converts read debt back into clean files.

        Candidate files for the superseded-row scan are pruned by PK
        footer stats (one tiny batch aggregate) before any data is read.
        In-batch PK duplicates are the caller's contract, same as
        ``merge`` (operators/dedupe.py is the in-batch last-wins step).

        ``guard_col`` applies the same cross-batch staleness rule as
        ``merge_upsert``: a matched batch row wins only when its version
        is >= the live row's (live version NULL always loses); losing
        batch rows are neither appended nor do they supersede anything —
        replay/reorder across micro-batches is idempotent. ``hard_delete``
        drops tombstoned batch rows (``_sdc_deleted_at`` set) from the
        append, so a winning tombstone deletes by pure position-vector.

        MOR appends batch rows VERBATIM — it requires full-row upserts
        (the CDC payload shape). A batch that SETs only a column subset
        needs the copy-on-write ``merge`` (which keeps target values for
        unset columns).
        """
        from pipelinewise_spark.operators.sdc import SDC_DELETED_AT
        base = self.current_manifest_name()
        m = self._load_manifest()
        self._enforce(batch, m.get("constraints", {}))
        pk = list(primary_keys)
        # a CDC micro-batch arrives as an unmaterialized source plan (JSON
        # parse + dedupe window) that would otherwise re-execute for every
        # action below (key agg, broadcast build, append write); it is
        # batch-sized by definition, so pin it for the call
        batch = batch.persist()
        _pinned = [batch]
        try:
            key_frames = [batch.select(*pk)]
            if deletes is not None:
                key_frames.append(deletes.select(*pk))
            keys = key_frames[0]
            for extra in key_frames[1:]:
                keys = keys.unionByName(extra)
            keys = keys.distinct()

            entries = m["files"]
            if entries and pk:
                # stats-prune the scan to files whose [min,max] can hold a
                # batch key — answer-sized agg, manifest-side file skipping.
                # Composite PKs prune on the LEADING key column: a file
                # whose pk[0] range misses every batch pk[0] cannot hold a
                # full-key match, so the prune stays sound (just coarser).
                spark.sparkContext.setJobDescription(
                    "mor: batch pk bounds (stats-prune)"
                )
                b = keys.agg(
                    F.min(pk[0]).alias("lo"), F.max(pk[0]).alias("hi")
                ).first()
                spark.sparkContext.setJobDescription(None)
                if isinstance(b["lo"], (int, float, str)):
                    entries, _ = self.select_entries(
                        ranges={pk[0]: (b["lo"], b["hi"])}
                    )
            superseded = 0
            dv_files: list[str] = []
            counts: dict[str, int] = {}
            appended = batch
            if entries:
                live = self._read_entries(spark, entries, m, keep_pos=True)
                if guard_col is not None and guard_col in batch.columns \
                        and guard_col in live.columns:
                    bk = batch.select(
                        *pk, F.col(guard_col).alias("__b_guard")
                    ).distinct()
                    win = F.coalesce(
                        F.col(guard_col).isNull()
                        | (F.col("__b_guard") >= F.col(guard_col)),
                        F.lit(False),
                    )
                    # matched is answer-sized (live rows hit by batch keys);
                    # pin its projection so the DV write and the loser-key set
                    # cost ONE table scan, not one each
                    matched = (
                        live.join(F.broadcast(bk), pk, "inner")
                        .select(*pk, "__dv_path", "__dv_pos", win.alias("__win"))
                        .persist()
                    )
                    _pinned.append(matched)
                    dead = matched.filter(F.col("__win"))
                    losers = matched.filter(~F.col("__win")) \
                        .select(*pk).distinct()
                    appended = batch.join(F.broadcast(losers), pk, "left_anti")
                else:
                    dead = live.join(
                        F.broadcast(batch.select(*pk).distinct()), pk,
                        "left_semi",
                    )
                dead = dead.select("__dv_path", "__dv_pos")
                if deletes is not None:
                    dead = dead.unionByName(
                        live.join(
                            F.broadcast(deletes.select(*pk).distinct()), pk,
                            "left_semi",
                        ).select("__dv_path", "__dv_pos")
                    ).distinct()
                spark.sparkContext.setJobDescription("mor: dv write")
                dv_files, counts = self._write_dv(dead)
                spark.sparkContext.setJobDescription(None)
                superseded = int(sum(counts.values()))
            if hard_delete and SDC_DELETED_AT in appended.columns:
                appended = appended.filter(F.col(SDC_DELETED_AT).isNull())

            partition_by = m["partition_by"]
            fields = parse_partition_spec(partition_by)
            batch_str = appended
            for f_ in fields:
                if not f_.hidden:
                    batch_str = batch_str.withColumn(
                        f_.key, F.col(f_.key).cast("string")
                    )
            # a batch append must not inherit the source's task layout:
            # N tasks × P hive dirs = N·P tiny files per micro-batch, and
            # every later scan (and per-file footer stat) pays for them.
            # Cluster by the partition key (hidden fields by their derived
            # expr) so each touched partition writes ~1 file per batch —
            # the CDC-trickle shape MOR exists for. (A bulk backfill that
            # would skew one partition into one task belongs on
            # merge/overwrite, which keep full write parallelism;
            # compact() is the repair lever either way.)
            if fields:
                batch_str = batch_str.repartition(
                    *[
                        f_.expr() if f_.hidden else F.col(f_.key)
                        for f_ in fields
                    ]
                )
            else:
                batch_str = batch_str.repartition(
                    max(1, spark.sparkContext.defaultParallelism // 16)
                )
            spark.sparkContext.setJobDescription("mor: append write")
            new_entries = self._write_files(batch_str, partition_by)
            spark.sparkContext.setJobDescription(None)
            self._publish(
                {
                    "partition_by": partition_by,
                    "partition_types": m.get("partition_types", {}),
                    "files": self._attach_dv(m["files"], dv_files, counts)
                    + new_entries,
                },
                op="merge-on-read",
                expected_parent=base,
            )
            return {
                "superseded_rows": superseded,
                "appended_files": len(new_entries),
            }
        finally:
            for df in _pinned:
                df.unpersist()

    # ---------------------------------------------------------- retention
    def set_retention(self, column: str, keep_days: int) -> str:
        """Declare a row-TTL policy: rows whose ``column`` is older than
        ``keep_days`` at maintenance time are deleted by
        :meth:`apply_retention` (the `optimize --retention` pass). The
        policy is table metadata — it rides every publish like
        constraints do; deletes use deletion vectors, so the purge is
        answer-sized until compaction materializes it."""
        base = self.current_manifest_name()
        m = self._load_manifest()
        m["retention"] = {"column": column, "keep_days": int(keep_days)}
        return self._publish(m, op="set-retention", expected_parent=base)

    def retention(self) -> dict[str, Any] | None:
        if not self.exists():
            return None
        return self._load_manifest().get("retention")

    def apply_retention(
        self, spark: SparkSession, as_of: str | None = None
    ) -> int:
        """Enforce the declared TTL: delete rows older than the horizon
        (``as_of`` defaults to now UTC; pass it explicitly for
        deterministic tests/backfills). No-op without a policy. Returns
        rows deleted."""
        pol = self.retention()
        if not pol:
            return 0
        import datetime

        if as_of is None:
            as_of = (
                datetime.datetime.now(datetime.timezone.utc)
                .replace(tzinfo=None)
                .isoformat(sep=" ", timespec="seconds")
            )
        cutoff = F.lit(as_of).cast("timestamp") - F.expr(
            f"INTERVAL {pol['keep_days']} DAYS"
        )
        return self.delete_where(spark, F.col(pol["column"]) < cutoff)

    # -------------------------------------------------- partition evolution
    def set_partition_spec(
        self, spark: SparkSession, partition_by: Sequence[str]
    ) -> str:
        """Change the table's partition spec WITHOUT rewriting data —
        Iceberg-style partition evolution. Existing files keep their old
        layout (their manifest entries simply lack the new keys); reads
        treat spec-less entries conservatively (never pruned on the new
        keys), and the first MERGE that touches the table migrates legacy
        files into the new layout. New writes partition by the new spec
        immediately."""
        m = self._load_manifest()
        partition_by = list(partition_by)
        df = self.read(spark).limit(0)
        fields = parse_partition_spec(partition_by)
        missing = [f_.source for f_ in fields if f_.source not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in table: {missing}")
        ptypes = {
            f_.key: df.schema[f_.source].dataType.simpleString()
            for f_ in fields
            if not f_.hidden
        }
        self.partition_by = partition_by
        return self._publish(
            {
                "partition_by": partition_by,
                "partition_types": ptypes,
                "files": m["files"],
            },
            op="set-partition-spec",
        )

    # -------------------------------------------------------------- bloom
    @staticmethod
    def _bloom_positions_py(value: Any, m: int, k: int) -> list[int]:
        """Driver-side twin of the JVM bloom hash: md5 of the value's string
        form, split into k 8-hex-digit chunks, each mod m. Only exact string
        casts are safe — restrict bloom columns to integer/string types."""
        import hashlib

        h = hashlib.md5(str(value).encode()).hexdigest()
        return [int(h[8 * i: 8 * i + 8], 16) % m for i in range(k)]

    def add_bloom_filters(
        self,
        spark: SparkSession,
        cols: Sequence[str],
        m: int = 8192,
        k: int = 3,
    ) -> None:
        """Attach a per-file Bloom filter over ``cols`` to every manifest
        entry and republish (an OPTIMIZE-style amortized pass, like Delta's
        bloom index / Iceberg puffin files). Point lookups on a column
        UNCORRELATED with the layout — where [min,max] spans everything —
        then prune to the files that actually contain the key (plus an
        m/k-governed false-positive sliver).

        Build is ONE distributed pass: k hash positions per row exploded
        JVM-side (md5 chunks — reproducible from Python at query time),
        collapsed to a distinct (file, col, position) set — at most m
        positions per file per column ever cross to the driver, so the
        collected index is metadata-scale regardless of row count.
        ``cols`` must be integer or string typed (exact string-cast
        round-trip); the positions land in ``entry["bloom"][col]`` as a
        sorted int list with the (m, k) parameters.
        """
        base_snap = self.current_manifest_name()
        mfest = self._load_manifest()
        entries = mfest["files"]
        # key entries by base-relative path, NOT basename: one task writing
        # several hive partitions emits the same part-NNNNN-<uuid> basename
        # in each dir, and basename keying would merge those files'
        # positions into one arbitrary entry (conservative but the other
        # colliding files silently get no filter)
        by_rel: dict[str, list[tuple[str, dict[str, Any]]]] = {}
        for e in entries:
            rel = posixpath.relpath(e["path"], e["base"])
            by_rel.setdefault(posixpath.basename(rel), []).append((rel, e))

        def _entry_for(fname: str) -> dict[str, Any] | None:
            from urllib.parse import unquote

            decoded = unquote(fname)
            for rel, ent in by_rel.get(posixpath.basename(decoded), []):
                if decoded == rel or decoded.endswith("/" + rel):
                    return ent
            return None

        df = self._read_entries(spark, entries, mfest)
        for c in cols:
            dt = dict(df.dtypes)[c]
            if not (dt in ("string",) or dt in ("tinyint", "smallint", "int", "bigint")):
                raise ValueError(f"bloom column must be integer/string: {c} is {dt}")
        pos_rows = []
        for c in cols:
            h = F.md5(F.col(c).cast("string"))
            positions = F.array(
                *[
                    F.conv(F.substring(h, 8 * i + 1, 8), 16, 10)
                    .cast("long") % m
                    for i in range(k)
                ]
            )
            pos_rows.append(
                df.filter(F.col(c).isNotNull()).select(
                    F.input_file_name().alias("__file"),
                    F.lit(c).alias("__col"),
                    F.explode(positions).alias("__pos"),
                )
            )
        allpos = pos_rows[0]
        for p in pos_rows[1:]:
            allpos = allpos.unionByName(p)
        collected = (
            # collect_set dedups inside the aggregation buffer (bounded by m
            # entries per file/col) — one shuffle, not distinct + groupBy
            allpos.groupBy("__file", "__col")
            .agg(F.collect_set("__pos").alias("__positions"))
            .collect()
        )
        import base64

        for r in collected:
            e = _entry_for(r["__file"])
            if e is None:
                continue
            bits = bytearray((m + 7) // 8)
            for p in r["__positions"]:
                bits[p // 8] |= 1 << (p % 8)
            e.setdefault("bloom", {})[r["__col"]] = {
                "m": m,
                "k": k,
                "bits": base64.b64encode(bytes(bits)).decode("ascii"),
            }
        # a long build over a stale file list must not silently revert a
        # merge/delete that landed mid-build (metadata verbs conflict-check
        # like data verbs; wrap in commit_with_retries to auto-rebuild)
        self._publish(mfest, expected_parent=base_snap)

    @staticmethod
    def _bloom_maybe_contains(bloom: dict[str, Any], value: Any) -> bool:
        import base64

        bits = base64.b64decode(bloom["bits"])
        for p in ManifestTable._bloom_positions_py(
            value, bloom["m"], bloom["k"]
        ):
            if not bits[p // 8] & (1 << (p % 8)):
                return False
        return True

    # -------------------------------------------------------------- compact
    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        max_dead_ratio: float | None = None,
        target_bytes: int | None = None,
        partitions: dict[str, list[str]] | None = None,
    ) -> int:
        """Rewrite partitions fragmented across >= ``min_files`` files into
        one file each (or, with ``target_bytes``, into
        ``round(partition_bytes / target_bytes)`` bin-packed files — a
        100 TB partition must not become one 100 TB file/task) and
        republish; healthy partitions carry over by reference. Returns
        the number of partitions compacted.

        Repeated MERGEs grow file counts (every batch adds one file per
        touched partition); at scale read amortization dies without periodic
        compaction — the Iceberg/Delta OPTIMIZE analogue. One Spark job:
        all fragmented partitions read together, hash-repartitioned on the
        partition columns so each hive dir is written by exactly one task.

        ``max_dead_ratio`` adds the deletion-vector debt trigger: a
        partition whose vectored-dead rows exceed that fraction of its
        footer row count rewrites even when its file count is healthy —
        a single-file partition half-emptied by delete_where/merge_on_read
        is read debt (dead rows decoded + anti-joined on every scan) that
        only a rewrite pays down. Pure manifest arithmetic; no data read
        to decide.

        ``partitions`` scopes the pass (Delta ``OPTIMIZE ... WHERE``):
        only partitions whose value is in the given {col: [values]} map
        are candidates — maintenance of a 100 TB table runs per
        day/tenant slice instead of all-or-nothing, and everything out
        of scope carries by reference untouched."""
        base = self.current_manifest_name()
        m = self._load_manifest()
        partition_by = m["partition_by"]
        groups: dict[tuple, list[dict[str, Any]]] = {}
        for e in m["files"]:
            key = tuple(sorted(e["partition"].items()))
            groups.setdefault(key, []).append(e)
        # scope filters CANDIDATE selection only — `groups` must stay
        # complete because out-of-scope entries carry over via `kept`
        if partitions is not None:
            valid = {f_.key for f_ in parse_partition_spec(partition_by)}
            bad = sorted(set(partitions) - valid)
            if bad:
                # a typo'd scope would otherwise compact NOTHING silently
                # and scheduled maintenance never runs (Delta's OPTIMIZE
                # ... WHERE raises on non-partition columns too)
                raise ValueError(
                    f"scope column(s) {bad} are not partition columns "
                    f"(have: {sorted(valid)})"
                )
            want = {k: {str(x) for x in vs} for k, vs in partitions.items()}

            def in_scope(k: tuple) -> bool:
                d = dict(k)
                return all(
                    str(d.get(col)) in vals for col, vals in want.items()
                )
        else:
            def in_scope(k: tuple) -> bool:
                return True

        frag = {
            k for k, es in groups.items()
            if in_scope(k) and len(es) >= min_files
        }
        if max_dead_ratio is not None:
            for k, es in groups.items():
                if not in_scope(k):
                    continue
                rows = sum(e.get("rows", 0) for e in es)
                dead = sum(e.get("dv_rows", 0) for e in es)
                if rows and dead / rows >= max_dead_ratio:
                    frag.add(k)
        if not frag:
            return 0
        frag_entries = [e for k in frag for e in groups[k]]
        df = self._read_entries(spark, frag_entries, m)
        fields = parse_partition_spec(partition_by)
        part_exprs = [
            f_.expr() if f_.hidden else F.col(f_.key) for f_ in fields
        ]
        if fields and target_bytes:
            # bin-pack: partitions bigger than the target split across
            # round(bytes/target) writer slices; the slice key rides the
            # shuffle and is dropped before the write. Live bytes are
            # manifest arithmetic (older entries without byte counts
            # degrade to one file).
            nmap_rows = []
            for k in frag:
                d = dict(k)
                if all(f_.key in d for f_ in fields):
                    b = sum(e.get("bytes", 0) for e in groups[k])
                    nmap_rows.append(
                        tuple(d[f_.key] for f_ in fields)
                        + (max(1, round(b / target_bytes)),)
                    )
            nmap = local_frame(spark, 
                nmap_rows,
                ", ".join(f"`{f_.key}` string" for f_ in fields)
                + ", __nslices int",
            )
            dfk = df
            for f_ in fields:
                dfk = dfk.withColumn(
                    f_.key,
                    f_.expr() if f_.hidden else F.col(f_.key).cast("string"),
                )
            dfk = dfk.join(
                F.broadcast(nmap), [f_.key for f_ in fields], "left"
            )
            slice_ = F.pmod(
                F.crc32(
                    F.encode(
                        F.to_json(F.struct(*[F.col(c) for c in df.columns])),
                        "utf-8",
                    )
                ),
                F.coalesce(F.col("__nslices"), F.lit(1)),
            )
            # explicit partition count: AQE would otherwise coalesce the
            # countless repartition and merge slices back into one writer
            # task per dir, defeating the bin-packing
            nparts = max(
                spark.sparkContext.defaultParallelism,
                2 * sum(r[-1] for r in nmap_rows),
            )
            df = (
                dfk.withColumn("__slice", slice_)
                .repartition(
                    nparts,
                    *[F.col(f_.key) for f_ in fields], F.col("__slice"),
                )
                .drop("__nslices", "__slice")
            )
        elif fields:
            df = df.repartition(*part_exprs)
        elif target_bytes:
            total = sum(e.get("bytes", 0) for e in frag_entries)
            df = df.repartition(max(1, round(total / target_bytes)))
        else:
            df = df.coalesce(1)
        new_entries = self._write_files(df, partition_by)
        kept = [e for k, es in groups.items() if k not in frag for e in es]
        self._publish(
            {
                "partition_by": partition_by,
                "partition_types": m.get("partition_types", {}),
                "files": kept + new_entries,
            },
            op="compact",
            expected_parent=base,
        )
        return len(frag)

    def clone_to(
        self, dest_root: str, version: int | None = None
    ) -> "ManifestTable":
        """DEEP CLONE / backup-restore primitive (the warehouse ``CREATE
        TABLE ... CLONE`` the reference's targets get for free): copy the
        snapshot's exact file set — live or a historical ``version`` (a
        point-in-time backup) — into ``dest_root`` and publish an
        equivalent manifest there, carrying partition spec, footer stats,
        and Bloom filters so every data-skipping path works on the clone
        without a rebuild pass.

        The copy is byte-level streaming through ``MetaFS`` (no Spark job,
        no decode/re-encode, local↔object-store agnostic); at 100 TB each
        file copy is an object-store server-side COPY and the set is
        embarrassingly parallel — the manifest rewrite itself is
        metadata-scale. The clone is fully independent: vacuum/compact on
        either side never touches the other."""
        m = self._load_manifest(version)
        dest = ManifestTable(
            dest_root, partition_by=m.get("partition_by") or []
        )
        dest.mfs.mkdirs()
        for e in m["files"]:
            self.mfs.copy_file(e["path"], dest.mfs, e["path"])
        # deletion-vector sidecars travel with the snapshot (shared across
        # entries — copy each once)
        for dv in sorted({p for e in m["files"] for p in e.get("dv", [])}):
            self.mfs.copy_file(dv, dest.mfs, dv)
        dest._publish(
            {k: v for k, v in m.items()}
        )
        return dest

    def rollback_to(self, version: int) -> str:
        """Instant metadata-only rollback (Iceberg ``rollback_to_snapshot``
        / Delta ``RESTORE``): publish a NEW manifest whose file set,
        partition spec, and deletion vectors are the target snapshot's —
        no data moves, history is preserved (the bad commits stay
        readable via time travel until expired, and roll-forward is just
        another rollback). Table CONFIG (constraints, retention, ANALYZE
        stats) stays current — config is not data, matching Delta
        RESTORE. Raises if the target's files have already been vacuumed
        (rollback is only valid within the vacuum/expire horizon)."""
        base = self.current_manifest_name()
        try:
            m = self._load_manifest(version=version)
        except FileNotFoundError:
            raise ValueError(
                f"cannot rollback to version {version}: its manifest has "
                "been vacuumed/expired"
            ) from None
        missing = [
            e["path"] for e in m["files"] if not self.mfs.exists(e["path"])
        ]
        if missing:
            raise ValueError(
                f"cannot rollback to version {version}: {len(missing)} data "
                f"file(s) already vacuumed (first: {missing[0]})"
            )
        return self._publish(
            {
                "partition_by": m["partition_by"],
                "partition_types": m.get("partition_types", {}),
                "files": m["files"],
            },
            op="rollback",
            expected_parent=base,
        )

    # ---------------------------------------------------- change data feed
    def changes_between(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots, derived from the
        per-commit manifest diff (Delta CDF semantics without per-commit
        change files): walking the parent chain one commit at a time,

        - rows of files ADDED by a commit surface as ``_change_type =
          'insert'`` (with that commit's own DVs applied, so a MOR batch's
          superseded-in-the-same-commit rows never appear live);
        - rows of files REMOVED by a commit surface as ``'delete'`` (read
          AS OF the parent, its DVs applied — only rows actually visible
          before the commit can be deleted);
        - rows newly DELETION-VECTORED on surviving files surface as
          ``'delete'`` (the sidecar positions semi-join the file's rows).

        A copy-on-write ``merge``/``update`` therefore shows a rewritten
        file's rows as delete+insert — the classic file-diff CDF
        degradation, same as Delta without CDC enabled — while MOR and DV
        deletes are exact. ``compact`` commits are skipped entirely
        (dataChange=false: files change, rows don't). Every emitted row
        carries ``_commit_version`` (the manifest number that produced
        it), so downstream incremental consumers (incremental_agg,
        streaming MV fold) can checkpoint a version bookmark and resume —
        the table IS a stream source. Cost: per-commit plans touch only
        that commit's added/removed files and answer-sized DV sidecars;
        the union is commit-count wide, metadata-scale for any sane
        ``v_from`` horizon."""
        cur = self.current_manifest_name()
        to_name = f"manifest-{v_to:08d}.json" if v_to is not None else cur
        from_name = f"manifest-{v_from:08d}.json"
        # newest-first parent walk, then reversed to oldest-first
        chain: list[tuple[int, dict[str, Any]]] = []
        name = to_name
        while name and name != from_name:
            v = int(name.split("-")[1].split(".")[0])
            m = self._load_manifest(version=v)
            chain.append((v, m))
            name = m.get("parent")
            if name is None and v_from != 0:
                raise ValueError(
                    f"version {v_from} is not an ancestor of "
                    f"{to_name} (expired or on another branch)"
                )
        chain.reverse()
        parent_m = self._load_manifest(version=v_from) if v_from else None
        typ = F.lit(None).cast("string").alias("_change_type")
        frames: list[DataFrame] = []
        for v, m in chain:
            if m.get("operation") == "compact":
                parent_m = m
                continue
            p_entries = {e["path"]: e for e in (parent_m or {"files": []})["files"]}
            c_entries = {e["path"]: e for e in m["files"]}
            added = [e for p, e in c_entries.items() if p not in p_entries]
            removed = [e for p, e in p_entries.items() if p not in c_entries]
            if added:
                ins = self._read_entries(spark, added, m).withColumns(
                    {
                        "_change_type": F.lit("insert"),
                        "_commit_version": F.lit(v),
                    }
                )
                frames.append(ins)
            if removed and parent_m is not None:
                del_ = self._read_entries(
                    spark, removed, parent_m
                ).withColumns(
                    {
                        "_change_type": F.lit("delete"),
                        "_commit_version": F.lit(v),
                    }
                )
                frames.append(del_)
            # Surviving files whose deletion-vector set CHANGED in this
            # commit: gained sidecars kill rows ('delete', read as of the
            # PARENT so only previously-live rows can die); lost sidecars
            # — a rollback/restore over a DV or MOR commit — RESURRECT
            # rows ('insert', read as of THIS commit so still-vectored
            # rows stay out). Entries sharing a sidecar set are grouped so
            # each sidecar is read and broadcast once per commit, not once
            # per file; the (file, position) semi-join scopes each file to
            # its own positions.
            gained: dict[tuple, list] = {}
            lost: dict[tuple, list] = {}
            for p, e in c_entries.items():
                old = p_entries.get(p)
                if old is None:
                    continue
                odv, ndv = set(old.get("dv", [])), set(e.get("dv", []))
                if ndv - odv:
                    gained.setdefault(
                        tuple(sorted(ndv - odv)), []
                    ).append(old)
                if odv - ndv:
                    lost.setdefault(tuple(sorted(odv - ndv)), []).append(e)
            for dv_set, ents, as_of_m, ctype in (
                [(s, es, parent_m or m, "delete")
                 for s, es in gained.items()]
                + [(s, es, m, "insert") for s, es in lost.items()]
            ):
                rows = self._read_entries(spark, ents, as_of_m, keep_pos=True)
                with scoped_conf(
                    spark, self.mfs.known_paths_conf(spark, len(dv_set))
                ):
                    dv = F.broadcast(
                        spark.read.schema(
                            "file_path string, row_index bigint"
                        ).parquet(*[self.mfs.uri(d) for d in dv_set])
                    )
                hit = rows.join(
                    dv,
                    (F.col("__dv_path") == dv["file_path"])
                    & (F.col("__dv_pos") == dv["row_index"]),
                    "left_semi",
                ).drop("__dv_path", "__dv_pos")
                frames.append(
                    hit.withColumns(
                        {
                            "_change_type": F.lit(ctype),
                            "_commit_version": F.lit(v),
                        }
                    )
                )
            parent_m = m
        if not frames:
            empty = self._read_entries(
                spark, [], self._load_manifest()
            ).withColumns(
                {
                    "_change_type": typ,
                    "_commit_version": F.lit(None).cast("int"),
                }
            )
            return empty.limit(0)
        out = frames[0]
        for d in frames[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def count_rows(self, version: int | None = None) -> int:
        """Exact ``SELECT count(*)`` from manifest metadata alone — zero
        data read, no Spark job (the Iceberg/Delta metadata-count fast
        path): every entry records its parquet footer row count at write
        time and the deletion-vector debt it has accrued, so live rows =
        Σ rows − Σ dv_rows. Exact for every write path (CoW rewrites
        refresh footer counts; MOR/DV commits only ever add dv_rows)."""
        m = self._load_manifest(version=version)
        missing = [e["path"] for e in m["files"] if "rows" not in e]
        if missing:
            # a silent 0 would be a wrong answer, not a slow one — the
            # same "missing stats never skip a file" rule data skipping
            # follows. (Pre-footer-count manifests: read().count().)
            raise ValueError(
                f"{len(missing)} manifest entr(ies) lack footer row "
                f"counts (first: {missing[0]}); metadata count would "
                "be wrong — use read().count()"
            )
        return int(
            sum(e["rows"] for e in m["files"])
            - sum(e.get("dv_rows", 0) for e in m["files"])
        )

    def expire_snapshots(
        self, older_than: str, keep_last: int = 1
    ) -> list[int]:
        """Iceberg ``expireSnapshots`` / Delta retention: delete manifests
        committed before ``older_than`` ('YYYY-MM-DD HH:MM:SS' UTC) —
        always keeping the live manifest, every branch head, and the
        newest ``keep_last`` — then vacuum unreferenced data/DV files.
        Manifests with no ``committed_at`` (pre-upgrade) are kept.
        Returns the expired version numbers. Time-travel readers pinned
        below the horizon lose their snapshot — the same contract every
        lakehouse retention verb carries."""
        versions = self.versions()
        protected: set[int] = set(versions[-keep_last:]) if keep_last else set()
        for name in [self.current_manifest_name()] + [
            self.branch(b).current_manifest_name() for b in self.branches()
        ]:
            if name:
                protected.add(int(name.split("-")[1].split(".")[0]))
        expired = []
        for v in versions:
            if v in protected:
                continue
            committed = self._load_manifest(v).get("committed_at")
            if committed is not None and committed < older_than:
                expired.append(v)
        for v in expired:
            self.mfs.delete(f"manifest-{v:08d}.json")
        if expired:
            # drop data/DV files now referenced by no retained manifest
            self.vacuum(keep_manifests=len(self.versions()))
        return expired

    def meta(self, spark: SparkSession, kind: str) -> DataFrame:
        """Queryable metadata tables (Iceberg's ``table.snapshots`` /
        ``table.files`` / ``table.partitions``): answer KB-scale ops
        questions — snapshot history, file layout and DV debt, partition
        row counts — from manifests alone, zero data scanned."""
        if kind == "snapshots":
            rows = []
            for v in self.versions():
                m = self._load_manifest(v)
                rows.append(
                    (
                        v,
                        m.get("committed_at"),
                        m.get("operation"),
                        m.get("parent"),
                        len(m["files"]),
                        sum(e.get("rows", 0) for e in m["files"]),
                        sum(e.get("dv_rows", 0) for e in m["files"]),
                    )
                )
            return local_frame(spark, 
                rows,
                "version int, committed_at string, operation string, "
                "parent string, files int, total_rows long, "
                "dv_dead_rows long",
            )
        m = self._load_manifest()
        if kind == "files":
            return local_frame(spark, 
                [
                    (
                        e["path"],
                        json.dumps(e["partition"], sort_keys=True),
                        e.get("rows", 0),
                        e.get("dv_rows", 0),
                        len(e.get("dv", [])),
                    )
                    for e in m["files"]
                ],
                "path string, partition string, rows long, "
                "dv_dead_rows long, dv_sidecars int",
            )
        if kind == "partitions":
            agg: dict[str, dict[str, int]] = {}
            for e in m["files"]:
                k = json.dumps(e["partition"], sort_keys=True)
                a = agg.setdefault(k, {"files": 0, "rows": 0, "dead": 0})
                a["files"] += 1
                a["rows"] += e.get("rows", 0)
                a["dead"] += e.get("dv_rows", 0)
            return local_frame(spark, 
                [
                    (k, a["files"], a["rows"], a["dead"])
                    for k, a in sorted(agg.items())
                ],
                "partition string, files int, rows long, dv_dead_rows long",
            )
        raise ValueError(f"unknown metadata table: {kind!r}")

    def vacuum(self, keep_manifests: int = 2) -> None:
        """Delete data files referenced by no retained manifest (old readers
        pinned to dropped manifests beware — same contract as snapshot
        expiry in Iceberg/Delta VACUUM)."""
        versions = self.versions()
        keep = set(versions[-keep_manifests:]) if keep_manifests else set()
        live_name = self.current_manifest_name()
        if live_name:
            keep.add(int(live_name.split("-")[1].split(".")[0]))
        # every branch head stays referenced until its ref is dropped —
        # vacuum must never collect a snapshot someone can still publish
        for b in self.branches():
            head = self.branch(b).current_manifest_name()
            if head:
                keep.add(int(head.split("-")[1].split(".")[0]))
        referenced: set[str] = set()
        referenced_dv: set[str] = set()
        for v in keep:
            for e in self._load_manifest(v)["files"]:
                referenced.add(posixpath.normpath(e["path"]))
                referenced_dv.update(
                    posixpath.normpath(p) for p in e.get("dv", [])
                )
        for rel in self.mfs.walk_files("data"):
            if rel.endswith(".parquet") and posixpath.normpath(rel) not in referenced:
                self.mfs.delete(rel)
        if self.mfs.exists("dv"):
            for rel in self.mfs.walk_files("dv"):
                if (
                    rel.endswith(".parquet")
                    and posixpath.normpath(rel) not in referenced_dv
                ):
                    self.mfs.delete(rel)
        for v in versions:
            if v not in keep:
                self.mfs.delete(f"manifest-{v:08d}.json")

    # ----------------------------------------------------------- analyze
    def analyze(
        self, spark: SparkSession, cols: Sequence[str] | None = None
    ) -> dict[str, Any]:
        """ANALYZE TABLE: compute table-level statistics — row count and,
        per column, null count (exact), NDV (DataSketches HLL estimate,
        ~0.8 % at lgK=14), min and max — in ONE pass over the live
        snapshot, and persist them into the manifest (``table_stats``) so
        planners, `status` tooling, and humans read KB of metadata instead
        of rescanning. The analog of Delta/Iceberg ANALYZE + Iceberg's
        NDV puffin stats; per-FILE [min,max] skipping stats are collected
        separately at write time (`_file_stats`)."""
        base = self.current_manifest_name()
        df = self.read(spark)
        cols = [c for c in (cols or df.columns) if c in df.columns]
        dtypes = dict(df.dtypes)
        aggs: list[Any] = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            # HLL input must be INT/BIGINT/STRING/BINARY: cast everything
            # else (doubles, dates, decimals, bools) through string
            v = (
                F.col(c)
                if dtypes[c] in ("bigint", "int", "string", "binary")
                else F.col(c).cast("string")
            )
            aggs += [
                F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{c}"),
                F.hll_sketch_estimate(
                    F.hll_sketch_agg(v, F.lit(14))
                ).alias(f"__ndv_{c}"),
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        stats: dict[str, Any] = {
            "rows": row["__rows"],
            "columns": {
                c: {
                    "nulls": row[f"__n_{c}"],
                    "ndv": row[f"__ndv_{c}"],
                    "min": row[f"__min_{c}"],
                    "max": row[f"__max_{c}"],
                    "type": dtypes[c],
                }
                for c in cols
            },
        }
        mfest = self._load_manifest()
        # stamp with the manifest name THIS publish will create: the stats
        # describe the same data files that manifest references (a
        # stats-only publish advances the pointer without changing data),
        # so they are fresh for it — stamping the pre-publish name made a
        # brand-new ANALYZE read as stale in `status` (r6 ADVICE)
        stats["version"] = self._next_manifest_name()
        mfest["table_stats"] = stats
        # conflict-check like the data verbs: the ANALYZE job can be long,
        # and publishing a stale file list would revert a concurrent commit
        self._publish(mfest, expected_parent=base)
        return stats

    def table_stats(self) -> dict[str, Any] | None:
        """Last persisted ANALYZE output (None before the first analyze).
        ``stats["version"]`` names the manifest that was analyzed — a
        staleness check for readers when the table has advanced since."""
        if not self.exists():
            return None
        return self._load_manifest().get("table_stats")
