"""Schemas: the `logs` table, its ingest wire form, and the driver testdata.

The at-rest logs schema mirrors the reference DDL
(internal/db/db.go:41-49):

    ts DateTime64(3,'UTC'), service LowCardinality(String),
    level LowCardinality(String), msg String, attrs String(JSON),
    trace_id String, span_id String

Spark mapping (SURVEY.md §1.3): TimestampType (µs ⊇ ms precision),
plain StringType (Parquet dictionary-encodes low-cardinality columns
automatically), attrs kept as a JSON string at rest for fidelity with
the reference (db.go:160-165 marshals map->string on insert).

The ingest (wire) schema mirrors proto/log.proto:6-14: `ts` arrives as
an RFC3339/RFC3339Nano *string*, attrs as map<string,string>.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# --- at-rest `logs` table (db.go:41-49) --------------------------------
LOGS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), nullable=False),
        T.StructField("service", T.StringType(), nullable=False),
        T.StructField("level", T.StringType(), nullable=False),
        T.StructField("msg", T.StringType(), nullable=True),
        T.StructField("attrs", T.StringType(), nullable=True),  # JSON object string
        T.StructField("trace_id", T.StringType(), nullable=True),
        T.StructField("span_id", T.StringType(), nullable=True),
    ]
)

LOGS_COLUMNS = [f.name for f in LOGS_SCHEMA.fields]

# Derived write-path partition column: month = toYYYYMM(ts) (db.go:51).
PARTITION_COLUMN = "month"

# --- ingest wire form (proto/log.proto:6-14) ---------------------------
INGEST_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.StringType(), nullable=True),  # RFC3339[Nano] string
        T.StructField("service", T.StringType(), nullable=True),
        T.StructField("level", T.StringType(), nullable=True),
        T.StructField("msg", T.StringType(), nullable=True),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), nullable=True),
        T.StructField("trace_id", T.StringType(), nullable=True),
        T.StructField("span_id", T.StringType(), nullable=True),
    ]
)

# The same wire form as Arrow: the inbox file format and what the
# BatchWrite decoder builds.
INGEST_ARROW_SCHEMA = to_arrow_schema(INGEST_SCHEMA)


def ingest_table(rows: pa.Table | Iterable[Mapping]) -> pa.Table:
    """Wire-form rows (dicts keyed by INGEST_SCHEMA's names) as an
    INGEST_ARROW_SCHEMA table; a table already in that schema passes
    through. A missing key is a null; a value the schema cannot hold
    (a non-string msg, attrs that are not a string map) raises
    ValueError instead of being coerced or dropped later."""
    if isinstance(rows, pa.Table):
        if not rows.schema.equals(INGEST_ARROW_SCHEMA):
            raise ValueError(f"table does not have the ingest schema: {rows.schema}")
        return rows
    try:
        return pa.Table.from_pylist(list(rows), schema=INGEST_ARROW_SCHEMA)
    except (pa.ArrowInvalid, pa.ArrowTypeError) as exc:
        raise ValueError(f"row does not fit the ingest schema: {exc}") from exc


# --- driver testdata tables (TESTDATA.md / FIXTURES.md §2-3) -----------
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# events ≅ logs mapping (FIXTURES.md §2): ts≅ts, event_type≅service/level,
# props≅attrs (JSON string), user_id≅attrs.user analog.
EVENTS_TS = "ts"
EVENTS_TYPE = "event_type"
EVENTS_PROPS = "props"
