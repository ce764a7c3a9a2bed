"""GeoJSON source (S4 variant): the reference fetches a US-states GeoJSON
FeatureCollection over HTTP for its choropleth (weekly-report.py:139-152,
requests.get + response.json()). This module is the parse half: a typed
multiLine JSON scan of the FeatureCollection with per-feature geometry stats
computed by nested array expressions — no Python per row, no UDF. The fetch
half is `sources/geojson_datasource.py`, a Python Data Source with one URL
per input partition.

A FeatureCollection is ONE json document, so the scan is single-task no
matter the cluster (multiLine JSON is unsplittable); that is fine for the
presentation-side dim this is (a few MB of state polygons, broadcast to
whatever joins it). Fact-scale geo data should land as JSONL or parquet
instead (s4_json_scan is that path).

The parse path is tested against a deterministic synthetic FeatureCollection.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed schema for a Polygon FeatureCollection. Explicit, never inferred:
# inference over one multiLine document costs a full extra pass and can
# mistype empty/ragged coordinate arrays.
GEOJSON_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField(
            "features",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType()),
                        T.StructField("id", T.StringType()),
                        T.StructField(
                            "properties",
                            T.StructType([T.StructField("name", T.StringType())]),
                        ),
                        T.StructField(
                            "geometry",
                            T.StructType(
                                [
                                    T.StructField("type", T.StringType()),
                                    T.StructField(
                                        "coordinates",
                                        T.ArrayType(
                                            T.ArrayType(T.ArrayType(T.DoubleType()))
                                        ),
                                    ),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def read_geojson_features(spark: SparkSession, path: str) -> DataFrame:
    """Parse a Polygon FeatureCollection into one row per feature with
    geometry stats: ring/vertex counts and the bounding box, all computed
    with nested-array expressions (flatten + transform + array_min/max)
    inside whole-stage codegen.

    POLYGON ONLY: GEOJSON_SCHEMA declares 3-level coordinates, and a
    MultiPolygon feature (4-level — Alaska/Hawaii/Michigan in the real
    us-states dataset) cannot parse into it; PERMISSIVE mode would
    silently null the geometry and emit garbage stats, so geometries that
    parsed to NULL raise instead (fail loudly, the house rule for schema
    drift). Extending to MultiPolygon = a second schema pass with 4-level
    coordinates, normalized via one extra flatten."""
    feat = F.explode("features").alias("feat")
    verts = F.flatten(F.col("feat.geometry.coordinates"))
    lons = F.transform(verts, lambda p: p.getItem(0))
    lats = F.transform(verts, lambda p: p.getItem(1))
    parsed = spark.read.json(path, multiLine=True, schema=GEOJSON_SCHEMA).select(feat)
    n_bad = parsed.filter(F.col("feat.geometry.coordinates").isNull()).count()
    if n_bad:
        raise ValueError(
            f"{n_bad} feature(s) in {path} did not parse as Polygon "
            "(MultiPolygon or malformed geometry?) — refusing to emit "
            "null-geometry stats"
        )
    return (
        parsed
        .select(
            F.col("feat.id").alias("state_id"),
            F.col("feat.properties.name").alias("state_name"),
            F.col("feat.geometry.type").alias("geom_type"),
            F.size("feat.geometry.coordinates").cast("long").alias("n_rings"),
            F.size(verts).cast("long").alias("n_vertices"),
            F.array_min(lons).alias("min_lon"),
            F.array_max(lons).alias("max_lon"),
            F.array_min(lats).alias("min_lat"),
            F.array_max(lats).alias("max_lat"),
        )
    )


def synthetic_feature_collection(n_states: int = 12, start: int = 0) -> dict:
    """Deterministic synthetic US-states-shaped FeatureCollection: unit
    squares marching north-east, every third state with a second (island)
    ring. All coordinates are sums of small integers and 0.5 — exact in
    float64, so JSON round-trip and cross-engine parse are bit-identical.
    `start` offsets the state index so multiple files form disjoint
    shards (the S10 multi-URL data source reads one file per partition)."""
    feats = []
    for i in range(start, start + n_states):
        lon, lat = -120.0 + 3 * i, 30.0 + i
        rings = [
            [[lon, lat], [lon + 1.0, lat], [lon + 1.0, lat + 1.0], [lon, lat]],
        ]
        if i % 3 == 0:
            rings.append(
                [
                    [lon - 2.0, lat + 0.5],
                    [lon - 1.5, lat + 0.5],
                    [lon - 2.0, lat + 1.5],
                    [lon - 2.0, lat + 0.5],
                ]
            )
        feats.append(
            {
                "type": "Feature",
                "id": f"S{i:02d}",
                "properties": {"name": f"State {i:02d}"},
                "geometry": {"type": "Polygon", "coordinates": rings},
            }
        )
    return {"type": "FeatureCollection", "features": feats}


def write_synthetic_geojson(path: str, n_states: int = 12, start: int = 0) -> str:
    """Atomic write (tmp + rename) so a concurrent reader at another SF
    never observes a torn document."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(synthetic_feature_collection(n_states, start), f)
    os.replace(tmp, path)
    return path
