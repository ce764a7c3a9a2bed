"""S10 — the GeoJSON fetch as a Spark 4 Python Data Source.

The reference pulls its choropleth FeatureCollection over HTTP on the
driver (weekly-report.py:139-152, requests.get + response.json()) —
single-machine glue that cannot scale past one URL and leaves the fetch
untested offline. This module re-expresses the fetch as a first-class
`pyspark.sql.datasource.DataSource` ("geojson_features"): each URL in the
`urls` option becomes ONE input partition, so N documents fan out across
N executor tasks, and the transport is whatever `urllib` speaks —
https:// in deployment, file:// in tests. That pluggability is what makes
the fetch path TESTABLE offline: the e2e test drives the identical
partition/read code over file:// URLs.

Division of labor, by design:
- Python side (this file): I/O + JSON parse ONLY. Emits one row per
  feature with the RAW nested coordinates (array<array<array<double>>>,
  Arrow-transferred). No stats are computed here.
- JVM side (operators/sources_sinks.py s10 query): ring/vertex counts and
  bounding boxes via nested-array expressions inside whole-stage codegen —
  the same compute contract as `read_geojson_features`.

At 100 TB this shape is how API ingestion actually runs: a URL manifest
(thousands of pages/tiles) partitions across the cluster, each task
fetches and parses its page, and everything downstream is columnar. A
FeatureCollection is one JSON document, so per-URL parallelism — not
intra-document splitting — is the available axis, and this source takes it.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# One row per feature; coordinates stay raw so stat computation happens
# JVM-side in the consuming query (module comment).
GEOJSON_FEATURES_DDL = (
    "state_id string, state_name string, geom_type string, "
    "coordinates array<array<array<double>>>, source_url string"
)


class _UrlPartition(InputPartition):
    """One fetchable document (must be picklable — plain str attr)."""

    def __init__(self, url: str):
        self.url = url


def _fetch_json(url: str) -> dict:
    """Executor-side fetch + parse. stdlib urllib handles file:// and
    http(s):// uniformly; non-JSON payloads (error pages) fail loudly
    here, per-task, with the offending URL in the traceback."""
    import urllib.request

    with urllib.request.urlopen(url, timeout=30.0) as r:  # noqa: S310
        data = r.read()
    try:
        doc = json.loads(data)
    except ValueError as e:
        raise ValueError(f"non-JSON payload from {url}: {e}") from None
    if not isinstance(doc, dict) or doc.get("type") != "FeatureCollection":
        raise ValueError(f"{url} is not a GeoJSON FeatureCollection")
    return doc


class GeoJsonFeaturesReader(DataSourceReader):
    def __init__(self, urls: Sequence[str]):
        self._urls = list(urls)

    def partitions(self) -> Sequence[InputPartition]:
        return [_UrlPartition(u) for u in self._urls]

    def read(self, partition: _UrlPartition) -> Iterator:
        """Yield ONE `pyarrow.RecordBatch` per document (Spark 4's Python
        Data Source `read()` accepts Arrow batches): the parsed features
        are assembled into columnar arrays once and cross the
        Python->JVM boundary Arrow-batched instead of per-feature tuples.
        A FeatureCollection is one JSON document (module docstring), so
        document == batch is the natural granularity."""
        import pyarrow as pa

        doc = _fetch_json(partition.url)
        ids, names, types, coords_col = [], [], [], []
        for feat in doc.get("features", []):
            geom = feat.get("geometry") or {}
            coords = geom.get("coordinates")
            # Polygon-only contract, same as read_geojson_features: a
            # MultiPolygon's 4-level coordinates must not silently emit
            # garbage rows — refuse loudly at the source boundary.
            if geom.get("type") != "Polygon" or not isinstance(coords, list):
                raise ValueError(
                    f"feature {feat.get('id')!r} from {partition.url} is not "
                    "a Polygon — extend the source before widening the schema"
                )
            props = feat.get("properties") or {}
            # GeoJSON ids may be numeric; the declared schema says string
            fid, fname = feat.get("id"), props.get("name")
            ids.append(None if fid is None else str(fid))
            names.append(None if fname is None else str(fname))
            types.append(geom.get("type"))
            coords_col.append(coords)
        n = len(ids)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, pa.string()),
                pa.array(names, pa.string()),
                pa.array(types, pa.string()),
                # explicit type: GeoJSON vertices may mix ints and floats;
                # the declared schema says array<array<array<double>>>
                pa.array(coords_col, pa.list_(pa.list_(pa.list_(pa.float64())))),
                pa.repeat(pa.scalar(partition.url, pa.string()), n),
            ],
            names=["state_id", "state_name", "geom_type", "coordinates", "source_url"],
        )


class GeoJsonFeaturesDataSource(DataSource):
    """`spark.read.format("geojson_features").option("urls", "u1;u2")`.

    Register once per session with
    `spark.dataSource.register(GeoJsonFeaturesDataSource)`; re-registering
    is an overwrite, so callers can register defensively.
    """

    @classmethod
    def name(cls) -> str:
        return "geojson_features"

    def schema(self) -> str:
        return GEOJSON_FEATURES_DDL

    def reader(self, schema) -> GeoJsonFeaturesReader:
        raw = self.options.get("urls", "")
        urls = [u.strip() for u in raw.split(";") if u.strip()]
        if not urls:
            raise ValueError(
                "geojson_features requires a non-empty 'urls' option "
                "(semicolon-separated file:// or http(s):// URLs)"
            )
        return GeoJsonFeaturesReader(urls)
