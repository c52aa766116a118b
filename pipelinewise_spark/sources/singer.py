"""Singer NDJSON capture interop — replay a captured tap stdout stream.

The reference's lingua franca is a Singer tap's stdout: NDJSON messages
``SCHEMA`` / ``RECORD`` / ``STATE`` / ``ACTIVATE_VERSION`` consumed by a
target's ``persist_lines`` loop (reference contract:
singer-connectors/target-snowflake/target_snowflake/__init__.py:122-327).
This module ingests a CAPTURED stream (the tap's stdout tee'd to a file)
into engine tables, so every real-world Singer tap — including API taps
the engine has no native source for — is usable as-is:

- SCHEMA   → StructType via the existing JSON-Schema bridge
  (schema/jsonschema.py) + ``key_properties`` (required by default, the
  reference's ``primary_key_required`` semantics — __init__.py:269-276);
- RECORD   → rows parsed DISTRIBUTED (``from_json`` over the raw lines;
  the driver never sees a payload), with ``_sdc_extracted_at`` from
  ``time_extracted`` and ``_sdc_table_version`` from ``version``;
- STATE    → bookmark advances with the reference's ``flushed_state``
  discipline (a STATE message only becomes the emitted/persisted state
  once the records buffered BEFORE it have flushed —
  __init__.py:323-327, 401-416);
- ACTIVATE_VERSION → rows of older table versions are dropped (the
  full-resync swap).

Two entry points, one contract:

- :func:`load_capture` — the SCALE path: one distributed pass per
  stream (PK last-wins by capture position, version filter, MERGE or
  overwrite). Message ORDER inside the capture only matters up to the
  per-PK winner, which the lineno window decides — nothing iterates
  the capture on the driver except the metadata-scale control plane
  (SCHEMA/STATE/ACTIVATE_VERSION lines).
- :func:`replay_capture` — the FAITHFUL path: reproduces
  ``persist_lines``' buffered flush ordering (batch_size_rows,
  new-PK row counting, in-batch PK last-wins, per-stream
  flushed_state). The control loop walks (lineno, stream, pk) TUPLES
  from a distributed projection — never payloads, and collected one
  ``chunk_lines``-sized lineno window at a time, so driver memory is
  bounded by the window plus the un-flushed buffers regardless of
  capture size. Two loud guards on top: ``max_records`` (default 5M)
  refuses captures whose flush count would make a faithful replay
  pointlessly slow (use load_capture, the one-pass scale path), and
  ``max_control_lines`` caps the control-plane collect (CDC taps can
  emit a STATE per record). Each flush is a distributed range filter
  + window dedupe + MERGE. Use replay to resume interrupted tap runs
  with exact state semantics; use load_capture for bulk backfills.
  Replay reads and numbers the capture ONCE: one cached
  ``(lineno, type, stream, line)`` frame (MEMORY_AND_DISK, so it
  spills rather than OOMs) feeds the control-plane collect, the
  guards, the record index and every per-epoch parse. The frame is
  ONE partition — the per-file lineno window already puts every row
  there, and AQE does not coalesce a cached plan, so a cache that kept
  the window's shuffle partitions would launch an empty task per
  partition in every later job.

Every face and :func:`capture_status` summarise a capture the same
way: :func:`scan_control_plane`'s capped control-line collect plus
:func:`capture_summary`'s one grouped aggregate.

A capture is ONE NDJSON file (a single tap run's stdout); line order
is the file's physical order (per-file block-ordered row_number, same
mechanism as sources/files.py line numbering).
"""

from __future__ import annotations

import copy
import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.merge import is_merge_on_read

SDC_EXTRACTED_AT = "_sdc_extracted_at"
SDC_TABLE_VERSION = "_sdc_table_version"


def capture_lines(spark: SparkSession, path: str) -> DataFrame:
    """(lineno, line) for one capture file — physical line order via the
    per-file block window (the minimum coordination a total order
    needs; one capture = one file, so the window is per-file)."""
    w = Window.partitionBy(F.col("_metadata.file_path")).orderBy(
        F.col("_metadata.file_block_start"), F.monotonically_increasing_id()
    )
    return spark.read.text(path).select(
        F.col("value").alias("line"),
        F.row_number().over(w).alias("lineno"),
    )


def _typed(lines: DataFrame, position: str = "lineno") -> DataFrame:
    """``(<position>, type, stream, line)``, the frame every Singer face
    reads: numbered ``line``s plus the two envelope fields."""
    return lines.select(
        position,
        F.get_json_object("line", "$.type").alias("type"),
        F.get_json_object("line", "$.stream").alias("stream"),
        "line",
    )


def _cached_lines(spark: SparkSession, path: str) -> DataFrame:
    """The :func:`_typed` capture collapsed to one partition and persisted
    (MEMORY_AND_DISK: spills, never OOMs), so a multi-pass reader reads
    and numbers the capture once; the caller unpersists. One partition:
    the per-file window already holds every row of the capture in one
    of its shuffle partitions, and AQE does not coalesce a cached plan,
    so the empty rest would cost one task each in every later job."""
    from pyspark import StorageLevel

    return (
        _typed(capture_lines(spark, path))
        .coalesce(1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


@dataclass
class CapturePlan:
    """The capture's control plane — metadata-scale, collected once."""

    schemas: dict[str, dict]                 # stream -> last JSON Schema
    key_properties: dict[str, list[str]]     # stream -> PK columns
    messages: list[dict] = field(default_factory=list)  # non-RECORD, ordered
    n_lines: int = 0


def _control_message(line: str, primary_key_required: bool) -> dict:
    """Parse one control (non-RECORD) capture line and validate it: a
    known message type, and ``key_properties`` on a SCHEMA when
    ``primary_key_required`` (the reference default — log-based and
    incremental replication duplicate rows without a PK)."""
    o = json.loads(line)
    t = o.get("type")
    if t is None:
        raise ValueError(f"capture line missing 'type': {line[:200]}")
    if t not in ("SCHEMA", "STATE", "ACTIVATE_VERSION"):
        raise ValueError(f"unknown Singer message type {t!r}")
    if t == "SCHEMA" and primary_key_required and not o.get("key_properties"):
        raise ValueError(
            f"SCHEMA for stream {o['stream']!r} has no key_properties "
            "(primary_key_required) — pass "
            "primary_key_required=False for append-only streams"
        )
    return o


def scan_control_plane(
    spark: SparkSession,
    path: str | None,
    primary_key_required: bool = True,
    *,
    states: str = "all",
    max_control_lines: int = 1_000_000,
    lines: DataFrame | None = None,
    position: str = "lineno",
    refusal: str | None = None,
) -> CapturePlan:
    """The capture summary's first driver pass: collect the
    SCHEMA/STATE/ACTIVATE_VERSION lines (never RECORDs), each validated
    by :func:`_control_message`, with its ``__position``.

    Driver memory is BOUNDED: ``states="last"`` keeps only the final
    STATE line (all a bulk load consumes — CDC taps emit a STATE every
    few records, so the full STATE stream is O(records)); with
    ``states="all"`` (the faithful-replay walk needs every STATE's
    position) the collect is capped at ``max_control_lines`` and
    refuses loudly beyond it (``refusal`` replaces the message).

    ``lines`` is a multi-pass caller's :func:`_typed` frame, numbered
    by ``position`` (``lineno``, or tail-follow's ``_sdc_sequence``);
    without it ``path`` is read here."""
    if states not in ("all", "last"):
        raise ValueError(f"states must be 'all' or 'last', got {states!r}")
    if lines is None:
        lines = _typed(capture_lines(spark, path))
    t = F.col("type")
    ctl = lines.select(position, "type", "line").filter(
        t.isNull() | (t != "RECORD")
    )
    if states == "last":
        ctl = ctl.filter(t.isNull() | (t != "STATE")).unionByName(
            ctl.filter(t == "STATE")
            .orderBy(F.col(position).desc())
            .limit(1)
        )
    rows = ctl.limit(max_control_lines + 1).collect()
    if len(rows) > max_control_lines:
        raise ValueError(
            refusal
            or f"capture has more than {max_control_lines} control "
            "(non-RECORD) lines — collecting them would exhaust driver "
            "memory; use load_capture (which needs only the last STATE) "
            "or raise max_control_lines explicitly"
        )
    schemas: dict[str, dict] = {}
    keys: dict[str, list[str]] = {}
    messages: list[dict] = []
    for r in sorted(rows, key=lambda r: r[position]):
        o = _control_message(r["line"], primary_key_required)
        o["__position"] = r[position]
        if o["type"] == "SCHEMA":
            schemas[o["stream"]] = o["schema"]
            keys[o["stream"]] = list(o.get("key_properties") or [])
        messages.append(o)
    return CapturePlan(schemas=schemas, key_properties=keys,
                       messages=messages)


def capture_summary(
    lines: DataFrame,
    position: str = "lineno",
    boundaries: dict[str, list] | None = None,
) -> list:
    """The capture summary's second driver pass: ONE grouped aggregate
    over a :func:`_typed` frame, a row per (type, stream, segment) with
    ``n``, ``first``/``last`` position and, for RECORDs,
    ``n_unversioned`` and ``max_version``. ``segment`` counts the
    stream's ``boundaries`` (its SCHEMA/ACTIVATE_VERSION positions)
    before the line: 0 without boundaries."""
    pos = F.col(position)
    marks = [
        F.struct(F.lit(s).alias("s"), F.lit(p).alias("p"))
        for s, ps in (boundaries or {}).items() for p in ps
    ]
    segment = F.size(F.filter(
        F.array(*marks), lambda m: (m["s"] == F.col("stream")) & (m["p"] < pos)
    )) if marks else F.lit(0)
    version = F.when(
        F.col("type") == "RECORD",
        F.get_json_object("line", "$.version").try_cast("long"),
    )
    return (
        lines.groupBy("type", "stream", segment.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(pos).alias("first"),
            F.max(pos).alias("last"),
            F.count_if(version.isNull()).alias("n_unversioned"),
            F.max(version).alias("max_version"),
        )
        .collect()
    )


def _check_schema_first(
    groups: list,
    streams=None,
    *,
    ordered: bool = True,
    missing: str = " (no SCHEMA message for that stream in the capture)",
) -> None:
    """``persist_lines``' refusal of a RECORD before its stream's SCHEMA,
    from a :func:`capture_summary`: each of ``streams`` (default: all)
    with records needs a SCHEMA line, before its first RECORD unless
    ``ordered`` is off (the bulk face is order-insensitive)."""
    first: dict = {}
    for g in groups:
        k = (g["type"], g["stream"])
        first[k] = min(first.get(k, g["first"]), g["first"])
    for stream in streams or [s for t, s in first if t == "RECORD"]:
        rec, sch = first.get(("RECORD", stream)), first.get(("SCHEMA", stream))
        if rec is None:
            continue
        if sch is None:
            raise ValueError(
                f"RECORD for stream {stream!r} before its SCHEMA{missing}"
            )
        if ordered and rec < sch:
            raise ValueError(
                f"RECORD for stream {stream!r} before its SCHEMA"
            )


def stream_records(
    spark: SparkSession,
    path: str,
    stream: str,
    struct: T.StructType,
) -> DataFrame:
    """This stream's RECORD payloads, parsed distributed: (lineno,
    _sdc_table_version, _sdc_extracted_at, <record columns>)."""
    return record_rows(_typed(capture_lines(spark, path)), stream, struct)


def record_rows(
    lines: DataFrame,
    stream: str,
    struct: T.StructType,
    position: str = "lineno",
) -> DataFrame:
    """The RECORD-line projection shared by every Singer face: this
    stream's records from a :func:`_typed` frame as (position,
    _sdc_table_version, _sdc_extracted_at, <record columns>). The JSON
    stays executor-side end to end (get_json_object + from_json)."""
    rec = lines.filter(
        (F.col("type") == "RECORD") & (F.col("stream") == stream)
    )
    return rec.select(
        position,
        F.get_json_object("line", "$.version")
        .cast("long")
        .alias(SDC_TABLE_VERSION),
        F.get_json_object("line", "$.time_extracted")
        .cast("timestamp")
        .alias(SDC_EXTRACTED_AT),
        F.from_json(
            F.get_json_object("line", "$.record"), struct
        ).alias("__r"),
    ).select(position, SDC_TABLE_VERSION, SDC_EXTRACTED_AT, "__r.*")


def _last_wins(
    df: DataFrame, pks: list[str], order_col: str = "lineno"
) -> DataFrame:
    """PK dedupe by capture position — the distributed form of
    persist_lines' in-batch ``records_to_load[stream][pk] = record``
    dict (later line wins). ``order_col`` is the position column
    (lineno for the batch faces, _sdc_sequence for streaming)."""
    w = Window.partitionBy(*[F.col(k) for k in pks]).orderBy(
        F.col(order_col).desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _apply_activate(df: DataFrame, version: int) -> DataFrame:
    """ACTIVATE_VERSION semantics: rows of OLDER versions leave the
    table; unversioned rows (incremental taps) are untouched."""
    v = F.col(SDC_TABLE_VERSION)
    return df.filter(v.isNull() | (v >= F.lit(int(version))))


def _evolved_target(
    spark,
    table,
    batch: DataFrame,
    pks: list[str],
    version_suffix: str | None,
) -> DataFrame:
    """The existing table's contents, evolved for an incompatible
    column TYPE change in the incoming batch — the reference's
    ``version_column`` (target_snowflake/db_sync.py:849-870): the old
    column renames to ``<name>_<suffix>`` (data retained) and a fresh
    NULL column of the new type takes its place, exactly what a
    re-emitted SCHEMA from wal2json/binlog schema refresh triggers
    (tap_postgres logical_replication.py:437-453). Add-column drift
    needs no action here — merge_upsert's union-of-columns NULL-fill
    already is the reference's ``add_column``. A type change on a
    primary-key column is refused: versioning the PK would break the
    merge identity (the reference's MERGE would equally never match)."""
    from pipelinewise_spark.operators.schema_evolution import (
        apply_evolution,
        plan_evolution,
    )

    target = table.read(spark)
    actions = [
        a
        for a in plan_evolution(target.schema, batch.schema, version_suffix)
        if a.kind == "version_column"
    ]
    if not actions:
        return target
    bad = [a.column for a in actions if a.column in pks]
    if bad:
        raise ValueError(
            f"incompatible type change on primary-key column(s) {bad} — "
            "a PK cannot be versioned (the merge identity would break); "
            "resync the stream into a fresh table instead"
        )
    return apply_evolution(target, batch.schema, actions)


def _mor_aligned(spark, table, batch: DataFrame) -> DataFrame | None:
    """merge_on_read appends the batch VERBATIM, so the fast path needs
    the live schema (name→type). Returns the batch with columns
    reordered to the live layout, or None on any drift — callers fall
    back to the copy-on-write evolution rewrite, after which the
    schemas match again."""
    live = table.read(spark).schema
    if {f.name: f.dataType for f in live} != {
        f.name: f.dataType for f in batch.schema.fields
    }:
        return None
    return batch.select(*[f.name for f in live])


def _write_segment(
    spark,
    table,
    batch: DataFrame,
    pks: list[str],
    version_suffix: str | None = None,
    guard_col: str | None = None,
    activate: int | None = None,
    merge_on_read: bool = False,
) -> None:
    """Land one segment — the single write path of every Singer face,
    the reference's ``load_file`` (MERGE with ``key_properties``, COPY
    without; target_snowflake/db_sync.py:449-547). ``batch`` is already
    PK-deduped when ``pks`` is set.

    - A missing table is created from the batch.
    - With ``merge_on_read``, when the batch matches the live schema: a
      merge-on-read delta with PKs; without, an append of the rows whose
      ``guard_col`` is not in the table yet (a window-pruned anti-join;
      nothing new, no commit). Then the ``activate`` purge.
    - Otherwise one copy-on-write rewrite of the ``version_column``-
      evolved target: MERGE (PKs) or append of the unseen rows, the
      ``activate`` filter folded in, a single overwrite.

    ``guard_col`` is the replay guard of every path: the MERGE's
    staleness guard, the append's anti-join key."""
    from pipelinewise_spark.operators.merge import append_only, merge_upsert

    if not table.exists():
        table.overwrite(batch)
        return
    aligned = _mor_aligned(spark, table, batch) if merge_on_read else None
    if aligned is not None:
        if pks:
            table.merge_on_read(spark, aligned, pks, guard_col=guard_col)
        elif guard_col is None:
            table.append(aligned)
        else:
            # footer stats prune the scan to files overlapping the
            # batch's own guard window
            lo, hi = aligned.agg(F.min(guard_col), F.max(guard_col)).first()
            seen = (
                table.read(spark)
                .select(guard_col)
                .filter(F.col(guard_col).between(lo, hi))
            )
            fresh = aligned.join(seen, guard_col, "left_anti")
            if fresh.limit(1).count() > 0:
                table.append(fresh)
        if activate is not None:
            _purge_older_versions(spark, table, activate, merge_on_read)
        return
    target = _evolved_target(spark, table, batch, pks, version_suffix)
    if pks:
        merged = merge_upsert(target, batch, pks, guard_col=guard_col)
    else:
        if guard_col is not None:
            batch = batch.join(
                target.select(guard_col), guard_col, "left_anti"
            )
        merged = append_only(target, batch)
    if activate is not None:
        merged = _apply_activate(merged, activate)
    table.overwrite(merged)


def _purge_older_versions(
    spark, table, version: int, merge_on_read: bool
) -> None:
    """ACTIVATE_VERSION on a landed table: rows of older versions leave
    it — an answer-sized ``delete_where`` under ``merge_on_read``, a
    copy-on-write rewrite otherwise."""
    if not table.exists():
        return
    if merge_on_read:
        v = F.col(SDC_TABLE_VERSION)
        table.delete_where(spark, v.isNotNull() & (v < version))
    else:
        table.overwrite(_apply_activate(table.read(spark), version))


def _adopt_bookmarks(
    bookmarks: Any | None, singer_state: dict | None
) -> None:
    """Persist a flushed Singer STATE's per-stream bookmarks into the
    engine's BookmarkStore (a no-op without a store or a state)."""
    if bookmarks is None or singer_state is None:
        return
    for stream, bm in (singer_state.get("bookmarks") or {}).items():
        bookmarks.update(stream, dict(bm))
    bookmarks.save()


def load_capture(
    spark: SparkSession,
    path: str,
    target_root: str,
    bookmarks: Any | None = None,
    float_compat: bool = False,
    primary_key_required: bool = True,
    version_suffix: str | None = None,
    merge_strategy: str | None = None,
) -> dict[str, ManifestTable]:
    """BULK one-pass load of a capture into ManifestTables under
    ``target_root/<stream>``: per stream, records parse distributed,
    the last ACTIVATE_VERSION filters older versions, PK last-wins by
    capture position, and the result MERGEs into (or creates) the
    table. The final STATE message becomes each stream's bookmark. The
    capture is read and numbered once: one cached lines frame feeds the
    control-plane scan and every stream, and is released on every exit.

    Returns {stream: ManifestTable}. Captures with a mid-stream schema
    change load under the LAST schema (merge_upsert aligns columns);
    use :func:`replay_capture` when per-epoch schema fidelity matters.
    A PRE-EXISTING table whose column type the capture's schema changed
    incompatibly evolves via the reference's ``version_column``
    semantics (old column renamed ``<name>_<suffix>``, fresh column
    added — db_sync.py:849-870); ``version_suffix`` pins the rename
    suffix (default: the UTC load time, the reference's behavior).

    ``merge_strategy`` is CDC's copy-on-write / merge-on-read switch:
    the default (``None``) rewrites the table copy-on-write; with
    ``"merge_on_read"`` an incremental load into a PRE-EXISTING table
    lands as a merge-on-read delta (superseded rows deletion-vectored,
    the batch appended as new files — O(batch) writes into a large
    table) and the AV purge is an answer-sized ``delete_where``; schema
    drift falls back to one copy-on-write evolution rewrite, exactly
    like the replay and tail-follow faces.
    """
    from pipelinewise_spark.schema.jsonschema import json_schema_to_struct

    mor = is_merge_on_read(merge_strategy, "load_capture")
    # one cached read of the capture serves the control plane and every
    # stream's records
    lines = _cached_lines(spark, path)
    try:
        # states="last": a CDC tap emits a STATE every few records — the
        # bulk load consumes only the final one, so the full STATE stream
        # never reaches the driver
        plan = scan_control_plane(
            spark, path, primary_key_required, states="last", lines=lines
        )
        # order-insensitive: a stream's records load under its SCHEMA
        # wherever that sits, but records with none cannot load at all
        _check_schema_first(capture_summary(lines), ordered=False)
        activations: dict[str, int] = {}
        final_state: dict | None = None
        for m in plan.messages:
            if m["type"] == "ACTIVATE_VERSION":
                activations[m["stream"]] = int(m["version"])
            elif m["type"] == "STATE":
                final_state = m["value"]
        out: dict[str, Any] = {}
        for stream, schema in plan.schemas.items():
            struct = json_schema_to_struct(schema, float_compat)
            recs = record_rows(lines, stream, struct)
            if stream in activations:
                recs = _apply_activate(recs, activations[stream])
            pks = plan.key_properties[stream]
            batch = (
                _last_wins(recs, pks) if pks else recs
            ).drop("lineno")
            out[stream] = ManifestTable(f"{target_root}/{stream}")
            # the whole capture is one ordered, last-wins batch (no guard
            # needed); the activation also purges older-version rows the
            # table already holds from earlier captures
            _write_segment(
                spark, out[stream], batch, pks, version_suffix,
                activate=activations.get(stream), merge_on_read=mor,
            )
    finally:
        lines.unpersist()
    _adopt_bookmarks(bookmarks, final_state)
    return out


@dataclass
class ReplayResult:
    tables: dict[str, ManifestTable]
    state: dict | None                 # the final flushed_state
    emitted_states: list[dict | None]  # one per emit, in order
    n_flushes: int


def _records_meta(
    lines: DataFrame,
    plan: CapturePlan,
    float_compat: bool = False,
    lo: int | None = None,
    hi: int | None = None,
) -> list[tuple[int, str, str]]:
    """(lineno, stream, pk_string) for the RECORD lines in the
    ``[lo, hi]`` lineno window (the whole capture when unbounded) — a
    distributed projection of the ``(lineno, type, stream, line)``
    frame (payloads never collected; each tuple is bytes).

    The dedupe key is TYPED: PK components parse via ``from_json``
    against the PK subset of the stream's CURRENT schema (per SCHEMA
    epoch — a re-emitted SCHEMA changes the parse from its line on),
    then serialize back with ``to_json`` — so JSON number ``1`` and
    string ``"1"`` that the typed merge would keep distinct stay
    distinct here too, and separator/quote characters inside string
    PKs can't collide. NULL or type-mismatched PK components raise,
    mirroring primary_key_required (the merge would otherwise silently
    collapse them onto a NULL key)."""
    from pipelinewise_spark.schema.jsonschema import json_schema_to_struct

    # SCHEMA epochs: each stream's records parse under the schema in
    # force at their line (the same struct the flush's record parse
    # uses after the walk swaps it)
    epochs: dict[str, list[tuple[int, dict]]] = {}
    for m in plan.messages:
        if m["type"] == "SCHEMA":
            epochs.setdefault(m["stream"], []).append(
                (m["__position"], m["schema"])
            )
    window = None
    if lo is not None:
        window = F.col("lineno") >= F.lit(lo)
    if hi is not None:
        c = F.col("lineno") <= F.lit(hi)
        window = c if window is None else (window & c)
    frames = []
    for stream, eps in epochs.items():
        pks = plan.key_properties[stream]
        for i, (start, schema) in enumerate(eps):
            end = eps[i + 1][0] if i + 1 < len(eps) else None
            if hi is not None and start > hi:
                continue
            if lo is not None and end is not None and end < lo:
                continue
            full = json_schema_to_struct(schema, float_compat)
            by_name = {f.name: f for f in full.fields}
            missing = [k for k in pks if k not in by_name]
            if missing:
                raise ValueError(
                    f"stream {stream!r} key_properties {missing} absent "
                    "from its SCHEMA properties"
                )
            pk_struct = T.StructType([by_name[k] for k in pks])
            rng = F.col("lineno") > F.lit(start)
            if end is not None:
                rng = rng & (F.col("lineno") < F.lit(end))
            if window is not None:
                rng = rng & window
            rec = lines.filter(
                (F.col("type") == "RECORD")
                & (F.col("stream") == stream)
                & rng
            ).select(
                "lineno",
                F.from_json(
                    F.get_json_object("line", "$.record"), pk_struct
                ).alias("__r"),
            )
            parts = [F.col(f"__r.{k}") for k in pks]
            null_pk = None
            for p in parts:
                cond = p.isNull()
                null_pk = cond if null_pk is None else (null_pk | cond)
            key = (
                # µs timestampFormat: to_json's default truncates to
                # milliseconds, which would collapse µs-distinct
                # timestamp PK components the typed merge keeps
                # distinct (write_capture pins the same format)
                F.to_json(
                    F.struct(*[
                        p.alias(f"k{j}") for j, p in enumerate(parts)
                    ]),
                    {"timestampFormat":
                     "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"},
                )
                if pks else F.lit("")
            )
            frames.append(
                rec.select(
                    "lineno",
                    F.lit(stream).alias("stream"),
                    key.alias("pk"),
                    (null_pk if null_pk is not None else F.lit(False))
                    .alias("__nullpk"),
                )
            )
    if not frames:
        return []
    allrec = frames[0]
    for f in frames[1:]:
        allrec = allrec.unionByName(f)
    rows = allrec.collect()
    if plan.key_properties and any(r["__nullpk"] for r in rows):
        raise ValueError(
            "RECORD with NULL (or type-mismatched) primary-key component "
            "— refuse to replay (the reference would synthesize an RID; "
            "pass records a real PK or use load_capture with "
            "primary_key_required=False)"
        )
    return sorted((r["lineno"], r["stream"], r["pk"]) for r in rows)


def _iter_capture_events(
    lines: DataFrame,
    plan: CapturePlan,
    n_lines: int,
    float_compat: bool = False,
    chunk_lines: int = 2_000_000,
):
    """Yield ``(lineno, kind, payload)`` in capture order with BOUNDED
    driver memory: control messages (already collected, capped by
    scan_control_plane) merge with RECORD tuples collected one
    ``chunk_lines``-sized lineno WINDOW at a time — the driver never
    holds more than one window of (lineno, stream, pk) tuples, so a
    faithful replay's memory no longer grows with the capture. The
    trade is one projection pass over the cached lines per window
    (O(n²/chunk) scan work in the extreme); the per-flush MERGE cost
    still dominates long before that matters, and load_capture remains
    the bulk path."""
    ctl = sorted(
        (m["__position"], m["type"], m) for m in plan.messages
    )
    lo = 1
    while lo <= n_lines:
        hi = min(lo + chunk_lines - 1, n_lines)
        chunk: list[tuple[int, str, Any]] = [
            (ln, "RECORD", (stream, pk))
            for ln, stream, pk in _records_meta(
                lines, plan, float_compat, lo=lo, hi=hi
            )
        ]
        chunk.extend(c for c in ctl if lo <= c[0] <= hi)
        chunk.sort(key=lambda e: e[0])
        yield from chunk
        lo = hi + 1


def replay_capture(
    spark: SparkSession,
    path: str,
    target_root: str,
    batch_size_rows: int = 10_000,
    bookmarks: Any | None = None,
    float_compat: bool = False,
    primary_key_required: bool = True,
    max_records: int | None = 5_000_000,
    version_suffix: str | None = None,
    chunk_lines: int = 2_000_000,
    merge_strategy: str | None = None,
) -> ReplayResult:
    """Faithful ``persist_lines`` replay (reference
    target_snowflake/__init__.py:122-416):

    - records buffer per stream; the buffer is a PK dict (last wins)
      and ``row_count`` counts NEW PKs only;
    - a stream flushes when its row_count reaches ``batch_size_rows``;
      a re-encountered CHANGED SCHEMA flushes the stream first; EOF
      flushes everything;
    - a re-emitted SCHEMA that changes an existing column's TYPE
      incompatibly evolves the target on the next flush via the
      reference's ``version_column`` (db_sync.py:849-870 — old column
      renamed ``<name>_<version_suffix>``, fresh column added); this is
      exactly what wal2json/binlog schema refresh emits
      (logical_replication.py:437-453, binlog.py:578-615);
    - ``flushed_state``: a STATE message sets the candidate state; it
      becomes the flushed (emitted/persisted) state immediately when
      nothing is buffered — or when NO state has been flushed yet,
      the reference's own first-STATE initialization
      (``if not flushed_state or sum(row_count.values()) == 0`` —
      __init__.py:323-327; faithful replay keeps the wart: the very
      first STATE is adopted even over buffered records, exactly as
      the reference target would emit it). After that first adoption
      each per-stream flush copies only that stream's bookmark from
      the candidate, and the EOF flush-all adopts the candidate
      wholesale — a bookmark never advances past unflushed records;
    - ACTIVATE_VERSION flushes its stream, then drops rows of older
      table versions.

    The capture is read and numbered ONCE, like the reference's single
    pass over stdin: one cached, single-partition ``(lineno, type,
    stream, line)`` frame (MEMORY_AND_DISK — it spills rather than
    OOMs; one partition because AQE does not coalesce a cached plan's
    shuffle partitions) feeds the summary every face runs — the
    :func:`capture_summary` aggregate (counts for ``max_records``, first
    RECORD and SCHEMA per stream) and the control-plane collect — then
    the record index and the per-(stream, SCHEMA epoch) parses. It and
    the parse caches are released on every exit, error paths included.

    Every flush is DISTRIBUTED: the buffered linenos form a contiguous
    per-stream range since the last flush, so the batch is a range
    filter over the parsed records + the last-wins window + MERGE.
    Driver memory is BOUNDED two ways: the (lineno, stream, pk) record
    index is collected one ``chunk_lines``-sized window at a time
    (never the whole capture — the walk's standing state is just the
    un-flushed buffers, at most ``batch_size_rows`` PKs per stream),
    and ``max_records`` (default 5M) refuses outright captures whose
    per-flush MERGE count would make a faithful replay pointlessly
    slow — use :func:`load_capture` for those, or pass
    ``max_records=None`` to lift the refusal (memory stays bounded by
    the chunking either way).

    ``merge_strategy`` chooses how each flush lands, as in
    :func:`load_capture`.
    """
    from pyspark import StorageLevel

    from pipelinewise_spark.schema.jsonschema import json_schema_to_struct

    mor = is_merge_on_read(merge_strategy, "replay_capture")

    def _table(stream: str) -> ManifestTable:
        if stream not in tables:
            tables[stream] = ManifestTable(f"{target_root}/{stream}")
        return tables[stream]

    structs: dict[str, T.StructType] = {}
    seen_schema: dict[str, dict] = {}
    tables: dict[str, ManifestTable] = {}
    buffers: dict[str, dict[str, int]] = {}   # stream -> {pk: lineno}
    lo: dict[str, int] = {}                    # stream -> range start
    state: dict | None = None
    flushed_state: dict | None = None
    emitted: list[dict | None] = []
    n_flushes = 0

    # parsed-records cache: one from_json per (stream, schema epoch),
    # NOT per flush — flushes range-filter the persisted parse
    # (MEMORY_AND_DISK: spills, never OOMs), itself a projection of the
    # cached capture lines, so no flush or epoch re-reads the file and
    # every cache is one partition; invalidated on a changed SCHEMA
    # (new struct), released in the finally below.
    parsed: dict[str, DataFrame] = {}

    def parsed_records(stream: str) -> DataFrame:
        df = parsed.get(stream)
        if df is None:
            df = record_rows(lines, stream, structs[stream]).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            parsed[stream] = df
        return df

    def drop_parsed(stream: str) -> None:
        df = parsed.pop(stream, None)
        if df is not None:
            df.unpersist()

    def pending_total() -> int:
        return sum(len(b) for b in buffers.values())

    def flush(stream: str, hi: int, final: bool = False) -> None:
        nonlocal flushed_state, n_flushes
        buf = buffers.get(stream)
        if not buf:
            return
        recs = parsed_records(stream)
        batch = _last_wins(
            recs.filter(
                (F.col("lineno") >= lo[stream]) & (F.col("lineno") <= hi)
            ),
            plan.key_properties[stream],
        ).drop("lineno")
        # replay is ordered, so an unguarded MOR supersede IS last-wins
        _write_segment(
            spark, _table(stream), batch, plan.key_properties[stream],
            version_suffix, merge_on_read=mor,
        )
        buffers[stream] = {}
        n_flushes += 1
        if final:
            return  # EOF flush-all adopts the candidate state ONCE below
        # per-stream flushed_state advance (__init__.py:401-410)
        if state is not None and stream in (state.get("bookmarks") or {}):
            if flushed_state is None:
                flushed_state = {}
            flushed_state.setdefault("bookmarks", {})[stream] = (
                copy.deepcopy(state["bookmarks"][stream])
            )
        emitted.append(copy.deepcopy(flushed_state))

    lines = _cached_lines(spark, path)
    try:
        groups = capture_summary(lines)
        n_lines = max((g["last"] for g in groups), default=0)
        n_rec = sum(g["n"] for g in groups if g["type"] == "RECORD")
        if max_records is not None and n_rec > max_records:
            raise ValueError(
                f"capture has more than {max_records} RECORD lines — "
                "faithful replay runs one MERGE per flush, which is "
                "pointlessly slow at bulk-backfill size; use "
                "load_capture (one distributed pass), or pass "
                "max_records=None to lift the refusal (driver memory "
                "stays bounded by chunk_lines either way)"
            )
        plan = scan_control_plane(
            spark, path, primary_key_required, lines=lines
        )
        for stream, pks in plan.key_properties.items():
            if not pks:
                raise ValueError(
                    f"stream {stream!r} has no key_properties — replay's "
                    "buffered PK dedupe needs a PK; use load_capture for "
                    "append-only streams"
                )
        # fail fast on RECORDs with no (or a not-yet-emitted) SCHEMA
        _check_schema_first(groups)
        # one ordered walk over control messages + record tuples, the
        # record index collected one bounded window at a time
        events = _iter_capture_events(
            lines, plan, n_lines, float_compat, chunk_lines=chunk_lines
        )
        for lineno, kind, payload in events:
            if kind == "RECORD":
                stream, pk = payload
                if stream not in structs:
                    raise ValueError(
                        f"RECORD for stream {stream!r} before its SCHEMA"
                    )
                buf = buffers.setdefault(stream, {})
                if not buf:
                    lo[stream] = lineno
                buf[pk] = lineno
                if len(buf) >= batch_size_rows:
                    flush(stream, lineno)
            elif kind == "SCHEMA":
                stream = payload["stream"]
                new_schema = payload["schema"]
                if seen_schema.get(stream) == new_schema:
                    continue
                if buffers.get(stream):
                    flush(stream, max(buffers[stream].values()))
                drop_parsed(stream)  # next flush parses the new epoch
                seen_schema[stream] = new_schema
                structs[stream] = json_schema_to_struct(
                    new_schema, float_compat
                )
            elif kind == "STATE":
                state = payload["value"]
                if flushed_state is None or pending_total() == 0:
                    flushed_state = copy.deepcopy(state)
            elif kind == "ACTIVATE_VERSION":
                stream = payload["stream"]
                if buffers.get(stream):
                    flush(stream, max(buffers[stream].values()))
                _purge_older_versions(
                    spark, _table(stream), int(payload["version"]), mor
                )
        # EOF: flush every stream with pending rows, then adopt the
        # candidate state wholesale (__init__.py:330-337, 411-413)
        had_pending = pending_total() > 0
        for stream in list(buffers):
            if buffers[stream]:
                flush(stream, max(buffers[stream].values()), final=True)
    finally:
        # the parse caches first: each is a projection of the lines
        # cache, and unpersisting the lines under a live dependent
        # would rebuild the dependent's plan
        for stream in list(parsed):
            drop_parsed(stream)
        lines.unpersist()
    if had_pending and state is not None:
        flushed_state = copy.deepcopy(state)
        emitted.append(copy.deepcopy(flushed_state))
    _adopt_bookmarks(bookmarks, flushed_state)
    return ReplayResult(
        tables=tables,
        state=flushed_state,
        emitted_states=emitted,
        n_flushes=n_flushes,
    )


def write_capture(
    df: DataFrame,
    path: str,
    stream: str,
    key_properties: list[str],
    state: dict | None = None,
    version: int | None = None,
    order_by: list[str] | None = None,
    check_keys: bool = True,
) -> int:
    """Export an engine table as a Singer NDJSON capture — the REVERSE
    face of :func:`load_capture`, so an engine table can feed any
    Singer TARGET (or archive as a replayable tap run): one SCHEMA
    line (StructType → JSON Schema via the existing bridge), one
    RECORD line per row, an ``ACTIVATE_VERSION`` when ``version`` is
    given (records carry it too — a full-resync capture), and an
    optional trailing STATE.

    Record serialization happens JVM-SIDE (``to_json`` over the full
    message struct — the driver only streams finished line strings to
    the file through ``toLocalIterator``, holding one partition at a
    time). A capture is a single NDJSON file by contract (a tap's
    stdout), so the write is inherently serial — this is the interop/
    archival artifact, not a data path; the data path is the parquet
    the table already sits in. ``order_by`` pins the record order
    (default: key_properties) so captures are byte-reproducible.

    Returns the number of RECORD lines written. Round-trip contract
    (pinned in tests and the registry query): ``load_capture`` of the
    written capture reproduces the table exactly — which is why
    ``check_keys`` (default on) refuses NULL or DUPLICATE key tuples
    up front: the loader's PK last-wins would otherwise silently drop
    rows, and a lossy export must fail loudly, not load quietly.
    """
    import json as _json

    if check_keys and key_properties:
        _check_export_keys(df, key_properties)
    lines = _record_lines(df, stream, key_properties, version, order_by)
    schema_msg = {
        "type": "SCHEMA",
        "stream": stream,
        "schema": _schema_for(df),
        "key_properties": list(key_properties),
    }
    n = 0
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(_json.dumps(schema_msg) + "\n")
        for row in lines.toLocalIterator():
            fh.write(row["line"] + "\n")
            n += 1
        if version is not None:
            fh.write(_json.dumps({
                "type": "ACTIVATE_VERSION", "stream": stream,
                "version": int(version),
            }) + "\n")
        if state is not None:
            fh.write(_json.dumps({"type": "STATE", "value": state}) + "\n")
    return n


def _check_export_keys(df: DataFrame, key_properties: list[str]) -> None:
    """Refuse lossy exports up front: NULL or duplicate key tuples would
    silently lose rows under the loader's PK last-wins."""
    kc = [F.col(k) for k in key_properties]
    null_any = None
    for k in kc:
        cond = k.isNull()
        null_any = cond if null_any is None else (null_any | cond)
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*kc).alias("nd"),
        F.sum(null_any.cast("long")).alias("nn"),
    ).first()
    if stats["nn"]:
        raise ValueError(
            f"write_capture: {stats['nn']} rows have NULL key "
            f"components {key_properties} — the loader's PK "
            "last-wins would silently collapse them"
        )
    if stats["nd"] != stats["n"]:
        raise ValueError(
            f"write_capture: key {key_properties} is not unique "
            f"({stats['n']} rows, {stats['nd']} distinct keys) — "
            "a snapshot export with duplicate PKs loses rows on "
            "load; dedupe first or export with the real PK"
        )


def _record_lines(
    df: DataFrame,
    stream: str,
    key_properties: list[str],
    version: int | None,
    order_by: list[str] | None,
) -> DataFrame:
    """The finished RECORD line strings, serialized JVM-side in pinned
    order — shared by the single-file and rotated writers."""
    msg = F.struct(
        F.lit("RECORD").alias("type"),
        F.lit(stream).alias("stream"),
        *([F.lit(int(version)).alias("version")] if version is not None
          else []),
        F.struct(*[F.col(c) for c in df.columns]).alias("record"),
    )
    sort_cols = list(order_by or key_properties)
    # append-only exports (no keys, no explicit order) keep the frame's
    # partition order — a zero-column orderBy would raise
    ordered = df.orderBy(*[F.col(c) for c in sort_cols]) if sort_cols else df
    # microsecond timestampFormat: to_json's default truncates to
    # millis, which would make the roundtrip lossy for µs timestamps
    return ordered.select(
        F.to_json(
            msg, {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"}
        ).alias("line")
    )


def write_capture_rotated(
    df: DataFrame,
    capture_dir: str,
    stream: str,
    key_properties: list[str],
    records_per_file: int = 100_000,
    state: dict | None = None,
    version: int | None = None,
    order_by: list[str] | None = None,
    check_keys: bool = True,
) -> int:
    """Export as a capture DIRECTORY of sequentially named NDJSON files
    (``cap-000001.ndjson``, ...) — the PRODUCER side of the tail-follow
    contract (streaming/singer.py): file names sort in write order, the
    SCHEMA line opens the first file, the optional ACTIVATE_VERSION and
    STATE close the last. Concatenating the files in name order is
    byte-identical to :func:`write_capture`'s single file, so both
    consumers (bulk load and the streaming source) see the same
    capture. Returns the number of RECORD lines written."""
    import json as _json
    import os as _os

    if records_per_file < 1:
        raise ValueError(
            f"records_per_file must be >= 1, got {records_per_file}"
        )
    if check_keys and key_properties:
        _check_export_keys(df, key_properties)
    lines = _record_lines(df, stream, key_properties, version, order_by)
    schema_msg = {
        "type": "SCHEMA",
        "stream": stream,
        "schema": _schema_for(df),
        "key_properties": list(key_properties),
    }
    _os.makedirs(capture_dir, exist_ok=True)
    n = 0
    file_no = 1
    in_file = 0
    fh = open(
        _os.path.join(capture_dir, f"cap-{file_no:06d}.ndjson"),
        "w", encoding="utf-8",
    )
    try:
        fh.write(_json.dumps(schema_msg) + "\n")
        for row in lines.toLocalIterator():
            if in_file >= records_per_file:
                fh.close()
                file_no += 1
                in_file = 0
                fh = open(
                    _os.path.join(
                        capture_dir, f"cap-{file_no:06d}.ndjson"
                    ),
                    "w", encoding="utf-8",
                )
            fh.write(row["line"] + "\n")
            n += 1
            in_file += 1
        if version is not None:
            fh.write(_json.dumps({
                "type": "ACTIVATE_VERSION", "stream": stream,
                "version": int(version),
            }) + "\n")
        if state is not None:
            fh.write(_json.dumps({"type": "STATE", "value": state}) + "\n")
    finally:
        fh.close()
    return n


def _schema_for(df: DataFrame) -> dict:
    from pipelinewise_spark.schema.jsonschema import struct_to_json_schema

    return struct_to_json_schema(df.schema)


def capture_status(
    spark: SparkSession,
    path: str,
    primary_key_required: bool = False,
) -> dict:
    """Inspect a capture without loading it: per stream the RECORD
    count, SCHEMA epoch count, key_properties and last
    ACTIVATE_VERSION, plus message-type totals and the final STATE.
    The summary every Singer face runs, over one cached read: the
    :func:`capture_summary` aggregate for every count (a CDC tap's full
    STATE stream never reaches the driver) and the capped control-plane
    scan (``states="last"``) for keys, versions and the final STATE.
    The ops answer to "what
    is in this capture and is it loadable?" before committing to a bulk
    load or replay."""
    lines = _cached_lines(spark, path)
    try:
        groups = capture_summary(lines)
        plan = scan_control_plane(
            spark, path, primary_key_required, states="last", lines=lines
        )
    finally:
        lines.unpersist()
    by_type: dict[str, int] = {}
    records: dict[str, int] = {}
    epochs: dict[str, int] = {}
    for g in groups:
        t = g["type"] or "<missing type>"
        by_type[t] = by_type.get(t, 0) + g["n"]
        if t == "RECORD":
            records[g["stream"]] = g["n"]
        elif t == "SCHEMA":
            epochs[g["stream"]] = g["n"]
    last_version: dict[str, int] = {}
    final_state = None
    for m in plan.messages:
        if m["type"] == "ACTIVATE_VERSION":
            last_version[m["stream"]] = int(m["version"])
        elif m["type"] == "STATE":
            final_state = m["value"]
    return {
        "streams": {
            s: {
                "records": records.get(s, 0),
                "schema_epochs": epochs.get(s, 0),
                "key_properties": plan.key_properties.get(s, []),
                "last_version": last_version.get(s),
            }
            for s in sorted(set(records) | set(plan.schemas))
        },
        "message_counts": dict(sorted(by_type.items())),
        "state": final_state,
    }
