"""Deterministic interleaved-documents synthesis (BASELINE.json input_hint).

Builds the north-rule input table
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``
from the driver's flat ``documents`` parquet, using ONLY integer
arithmetic + substring ops so the construction is reproducible bit-for-bit
in DuckDB SQL (see ``interleaved_documents_sql``) — that makes every
downstream spans query oracle-checkable.

Geo spans carry integer microdegrees ``"lat_e6,lng_e6"`` in ``text``.
70% of docs cluster into 12 urban hubs (hot H3 prefixes — the skew input
required by FIXTURES.md §5); the rest spread quasi-uniformly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

# (lat_e6, lng_e6) of 12 dense hubs (urban centers; values are arbitrary
# but fixed — they define the skew profile)
HUBS = [
    (40750000, -73990000),  # NYC
    (51500000, -120000),  # London
    (35680000, 139760000),  # Tokyo
    (19430000, -99130000),  # CDMX
    (-23550000, -46630000),  # Sao Paulo
    (28610000, 77210000),  # Delhi
    (31230000, 121470000),  # Shanghai
    (6520000, 3380000),  # Lagos
    (55760000, 37620000),  # Moscow
    (-33870000, 151210000),  # Sydney
    (48860000, 2350000),  # Paris
    (37770000, -122420000),  # SF
]

_A = 2654435761  # Knuth multiplicative hash constants
_B = 1103515245
_C = 12345
_M = 1000000


def _hub_case_sql(col: str, idx: int) -> str:
    """CASE expression returning hub lat/lng_e6 by (doc_id % 12)."""
    parts = [f"CASE ({col} % 12)"]
    for i, hub in enumerate(HUBS):
        parts.append(f"WHEN {i} THEN {hub[idx]}")
    parts.append("END")
    return " ".join(parts)


def _coord_sql(d: str) -> tuple[str, str]:
    """(lat_e6, lng_e6) SQL expressions over integer doc id `d` —
    identical semantics in Spark SQL and DuckDB."""
    u1 = f"(({d} * {_A}) % {_M})"
    u2 = f"(({d} * {_B} + {_C}) % {_M})"
    hot = f"(({d} % 10) < 7)"
    hub_lat = _hub_case_sql(d, 0)
    hub_lng = _hub_case_sql(d, 1)
    # hot docs land in a 1x1-degree box offset [-1,0) deg lat and
    # [-2,-1) deg lng from their hub (u1/u2 are already < 1e6, so the
    # box sits southwest of the hub center rather than centered on it —
    # kept as-is: the SKEW property is the dense per-hub cluster, and
    # every committed golden/bench artifact pins these exact coords)
    lat = (
        f"CASE WHEN {hot} THEN {hub_lat} + {u1} - 1000000 "
        f"ELSE {u1} * 140 - 70000000 END"
    )
    lng = (
        f"CASE WHEN {hot} THEN {hub_lng} + {u2} - 2000000 "
        f"ELSE {u2} * 360 - 180000000 END"
    )
    return lat, lng


def _spans_select_sql(dialect: str) -> str:
    """The shared SELECT body constructing the spans table. `dialect` is
    'spark' or 'duckdb' (struct constructors differ)."""
    d = "doc_id"
    lat, lng = _coord_sql(d)
    t40 = "substr(text, 1, 40)"
    geo_text = (
        f"concat(cast(({lat}) as string), ',', cast(({lng}) as string))"
        if dialect == "spark"
        else f"cast(({lat}) as varchar) || ',' || cast(({lng}) as varchar)"
    )
    media_ref = (
        f"concat('ref://', source, '/', cast({d} as string))"
        if dialect == "spark"
        else f"'ref://' || source || '/' || cast({d} as varchar)"
    )
    if dialect == "spark":

        def st(kind, text, ref, off):
            return (
                f"named_struct('kind', {kind}, 'text', {text}, "
                f"'media_ref', {ref}, 'offset', cast({off} as int))"
            )

    else:

        def st(kind, text, ref, off):
            return (
                f"{{'kind': {kind}, 'text': {text}, "
                f"'media_ref': {ref}, 'offset': cast({off} as int)}}"
            )

    s_text = st("'text'", t40, "''", "0")
    s_geo = st("'geo'", geo_text, "''", f"length({t40})")
    s_media = st("'media'", "''", media_ref, f"length({t40}) + 24")
    arr3 = f"array({s_text}, {s_geo}, {s_media})" if dialect == "spark" else f"[{s_text}, {s_geo}, {s_media}]"
    arr2 = f"array({s_text}, {s_geo})" if dialect == "spark" else f"[{s_text}, {s_geo}]"
    spans = f"CASE WHEN ({d} % 3) = 0 THEN {arr3} ELSE {arr2} END"
    did = (
        f"concat('doc-', cast({d} as string))"
        if dialect == "spark"
        else f"'doc-' || cast({d} as varchar)"
    )
    return f"SELECT {did} AS doc_id, {spans} AS spans, lang, source FROM"


def interleaved_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark build of the interleaved table from the driver documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("_sparkh3_docs_src")
    return spark.sql(f"{_spans_select_sql('spark')} _sparkh3_docs_src")


def interleaved_documents_sql() -> str:
    """DuckDB CTE body producing the identical table from the
    pre-registered `documents` view."""
    return f"{_spans_select_sql('duckdb')} documents"


def rect_polygons(spark: SparkSession, rects) -> DataFrame:
    """``(poly_id, geometry)`` frame of closed lng/lat rectangle rings,
    one polygon per ``(poly_id, lat_lo, lat_hi, lng_lo, lng_hi)`` entry
    of ``rects``."""
    point = StructType(
        [StructField("lng", DoubleType()), StructField("lat", DoubleType())]
    )
    schema = StructType(
        [
            StructField("poly_id", StringType()),
            StructField("geometry", ArrayType(ArrayType(point))),
        ]
    )
    rows = []
    for pid, y0, y1, x0, x1 in rects:
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        rows.append((pid, [[{"lng": x, "lat": y} for x, y in ring]]))
    return spark.createDataFrame(rows, schema)
