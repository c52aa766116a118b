"""MongoDB document source: BSON (Extended JSON) normalization.

The reference serializes BSON documents to "json friendly" values —
``transform_value`` handles ObjectId, UUID, datetime (local→UTC), bson
Timestamp, Int64, bytes/Binary (base64), Decimal128, Regex, Code (+scope),
DBRef, and drops MinKey/MaxKey; ``class_to_string`` encodes the ``_id``
primary key (fastsync/commons/tap_mongodb.py:32-155). The sync shape is
``_id`` + the serialized document (tap-mongodb sync_strategies/common.py:213).

Spark mapping: documents arrive as **MongoDB Extended JSON v2** (what
mongoexport / change streams / the public Mongo Spark connector emit —
``{"$oid": …}``, ``{"$date": …}``, ``{"$numberDecimal": …}``, …). The
recursive rewrite over arbitrary nested JSON is the legitimately dynamic
case (same budget as masking's field_paths rewrite): an **Arrow-batched
pandas UDF** parses, transforms, and re-serializes each document; everything
downstream (id extraction, field projection, MERGE by ``_id``) is pure
Column work. Deviation from the reference, by design: naive datetimes are
taken as UTC (the engine pins UTC end-to-end) instead of tzlocal.
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

ID_FIELD = "_id"
DOC_COLUMN = "document"

_MIN_MAX_KEY = ("$minKey", "$maxKey")


def _iso(dt: _dt.datetime) -> str:
    """singer-python strftime shape: UTC, microseconds, trailing Z."""
    if dt.tzinfo is not None:
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}T{dt:%H:%M:%S.%f}Z"


def _date_to_iso(v: Any) -> str:
    """$date payload: relaxed (ISO string) or canonical ({"$numberLong": ms},
    negative for pre-epoch)."""
    if isinstance(v, dict):
        ms = int(v["$numberLong"])
        dt = _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=ms)
        return _iso(dt)
    s = str(v)
    dt = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return _iso(dt)


def transform_value(v: Any) -> Any:
    """Extended-JSON value → json-friendly value, mirroring the reference's
    ``transform_value`` conversion table (tap_mongodb.py:120-155)."""
    if isinstance(v, list):
        return [transform_value(x) for x in v]
    if not isinstance(v, dict):
        return v
    if "$oid" in v:
        return str(v["$oid"])
    if "$date" in v:
        return _date_to_iso(v["$date"])
    if "$numberDecimal" in v:
        # Decimal128.to_decimal(): exact decimal — carried as its canonical
        # string (JSON has no exact-decimal number type)
        return str(v["$numberDecimal"])
    if "$numberLong" in v:
        return int(v["$numberLong"])
    if "$numberInt" in v:
        return int(v["$numberInt"])
    if "$numberDouble" in v:
        d = v["$numberDouble"]
        return d if isinstance(d, float) else float(d)
    if "$binary" in v:
        b = v["$binary"]
        return b["base64"] if isinstance(b, dict) else str(b)
    if "$uuid" in v:
        return str(v["$uuid"])
    if "$timestamp" in v:
        # bson Timestamp value → as_datetime ISO (reference transform_value)
        t = int(v["$timestamp"]["t"])
        return _iso(_dt.datetime(1970, 1, 1) + _dt.timedelta(seconds=t))
    if "$regularExpression" in v:
        r = v["$regularExpression"]
        return {"pattern": r.get("pattern"), "flags": r.get("options", "")}
    if "$code" in v:
        if v.get("$scope"):
            return {"value": str(v["$code"]), "scope": str(v["$scope"])}
        return str(v["$code"])
    if "$ref" in v and "$id" in v:  # DBRef
        return {
            "id": str(transform_value(v["$id"])),
            "collection": v["$ref"],
            "database": v.get("$db"),
        }
    return {
        k: transform_value(x)
        for k, x in v.items()
        if not (isinstance(x, dict) and any(m in x for m in _MIN_MAX_KEY))
    }


def class_to_string(raw: Any) -> str | None:
    """``_id`` key encoding (reference ``class_to_string``:47-79): datetime →
    singer ISO, bson Timestamp → "time.inc", bytes → base64, ObjectId /
    UUID / int / Int64 / float / str → str."""
    if raw is None:
        return None
    if isinstance(raw, dict):
        if "$oid" in raw:
            return str(raw["$oid"])
        if "$date" in raw:
            return _date_to_iso(raw["$date"])
        if "$timestamp" in raw:
            return f'{raw["$timestamp"]["t"]}.{raw["$timestamp"]["i"]}'
        if "$binary" in raw:
            b = raw["$binary"]
            return b["base64"] if isinstance(b, dict) else str(b)
        if "$uuid" in raw:
            return str(raw["$uuid"])
        if "$numberLong" in raw or "$numberInt" in raw:
            return str(raw.get("$numberLong", raw.get("$numberInt")))
        if "$numberDouble" in raw:
            return str(float(raw["$numberDouble"]))
        raise ValueError(f"unsupported _id type: {sorted(raw)}")
    if isinstance(raw, bool):
        raise ValueError("bool is not a supported _id type")
    if isinstance(raw, (int, float, str)):
        return str(raw)
    raise ValueError(f"{type(raw).__name__} is not a supported _id type")


def serialize_document(doc: dict) -> dict:
    """Reference ``serialize_document``: drop MinKey/MaxKey top-level keys,
    transform every value."""
    return {
        k: transform_value(v)
        for k, v in doc.items()
        if not (isinstance(v, dict) and any(m in v for m in _MIN_MAX_KEY))
    }


_OUT_SCHEMA = T.StructType(
    [
        T.StructField(ID_FIELD, T.StringType()),
        T.StructField(DOC_COLUMN, T.StringType()),
    ]
)


def normalize_documents(df: DataFrame, json_col: str) -> DataFrame:
    """Extended-JSON document frame → (``_id`` class-encoded string,
    ``document`` normalized-JSON string) rows. Rows with no ``_id`` are
    dropped (the reference requires ``_id`` as the Mongo stream PK).

    One Arrow-batched projection — no shuffle; scales with input splits.
    """

    @pandas_udf(_OUT_SCHEMA)
    def _norm(s: pd.Series) -> pd.DataFrame:
        ids, docs = [], []
        for txt in s:
            if txt is None:
                ids.append(None)
                docs.append(None)
                continue
            doc = json.loads(txt)
            ids.append(class_to_string(doc.get(ID_FIELD)))
            out = serialize_document(doc)
            out[ID_FIELD] = ids[-1]
            docs.append(json.dumps(out, sort_keys=True, default=str))
        return pd.DataFrame({ID_FIELD: ids, DOC_COLUMN: docs})

    out = df.select(_norm(F.col(json_col).cast("string")).alias("r"))
    return out.select("r.*").filter(F.col(ID_FIELD).isNotNull())


def document_field(df: DataFrame, path: str, alias: str | None = None) -> DataFrame:
    """Project a field out of the document column on demand
    (the VARIANT-column access pattern) — JVM-side json path."""
    return df.withColumn(
        alias or path.replace(".", "_"),
        F.get_json_object(F.col(DOC_COLUMN), "$." + path),
    )
