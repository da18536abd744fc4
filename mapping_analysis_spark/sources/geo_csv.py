"""Geo CSV source (settlement benchmark corpora).

Re-creates CSVDataSource.createInputGraphFromCsv (io/impl/csv/
CSVDataSource.java, geo reader): three ``;``-delimited files —

* ``concept.csv``            — ``id;url;source`` vertex rows, restricted to
  the 5 geo namespaces (BigGeoSourceFilterFunction / Constants.java:313-331)
* ``concept_attributes.csv`` — ``id;key;type;value`` property rows;
  ``double``-typed values parse numerically (lat/lon), ``string``-typed
  collect (type values accumulate into a set — ObjectMap.addProperty
  promotes repeated keys); vertices without a ``label`` are dropped
  (PropertyCoGroupFunction.java:44-58)
* ``linksWithIDs.csv``       — ``src;dst`` candidate links

The coGroup becomes a pivot aggregation + join; isolated-edge/vertex
removal composes from operators.preprocessing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Constants.java:313-331 — the five "big geo" namespaces
GEO_SOURCES = (
    "http://dbpedia.org/",
    "http://sws.geonames.org/",
    "http://linkedgeodata.org/",
    "http://rdf.freebase.com/",
    "http://data.nytimes.com/",
)


def fold_properties(vertices: DataFrame, properties: DataFrame) -> DataFrame:
    """Fold (id, key, ptype, value) property rows onto (id, url, source)
    vertex rows — label/lat/lon scalars, type values accumulate into a
    sorted set (ObjectMap.addProperty set promotion); label-less vertices
    are dropped (PropertyCoGroupFunction.java:44-58)."""
    pivoted = properties.groupBy("id").agg(
        F.max(
            F.when(
                (F.col("key") == "label") & (F.col("ptype") == "string"),
                F.col("value"),
            )
        ).alias("label"),
        F.max(
            F.when(
                (F.col("key") == "lat") & (F.col("ptype") == "double"),
                F.col("value").cast("double"),
            )
        ).alias("lat"),
        F.max(
            F.when(
                (F.col("key") == "lon") & (F.col("ptype") == "double"),
                F.col("value").cast("double"),
            )
        ).alias("lon"),
        F.sort_array(
            F.collect_set(
                F.when(
                    F.col("key").isin("type", "typeIntern")
                    & (F.col("ptype") == "string"),
                    F.col("value"),
                )
            )
        ).alias("types"),
    )
    return (
        vertices.join(pivoted, "id", "left")
        .filter(F.col("label").isNotNull())
        .select("id", "url", "source", "label", "lat", "lon", "types")
    )


def read_geo_vertices(
    spark: SparkSession, vertex_file: str, property_file: str
) -> DataFrame:
    """(id, url, source, label, lat, lon, types) — whitelist-filtered,
    properties pivoted on, label-less vertices dropped."""
    v = (
        spark.read.csv(vertex_file, sep=";", mode="DROPMALFORMED")
        .toDF("id", "url", "source")
        .withColumn("id", F.col("id").cast("long"))
        .filter(F.col("id").isNotNull())
        .filter(F.col("source").isin(*GEO_SOURCES))
    )
    p = (
        spark.read.csv(property_file, sep=";", mode="DROPMALFORMED")
        .toDF("id", "key", "ptype", "value")
        .withColumn("id", F.col("id").cast("long"))
        .filter(F.col("id").isNotNull())
    )
    return fold_properties(v, p)


def read_geo_edges(spark: SparkSession, edge_file: str) -> DataFrame:
    """(src, dst) candidate links."""
    return (
        spark.read.csv(edge_file, sep=";", mode="DROPMALFORMED")
        .toDF("src", "dst")
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )


def read_geo_graph(
    spark: SparkSession,
    vertex_file: str,
    property_file: str,
    edge_file: str,
) -> tuple[DataFrame, DataFrame]:
    """Vertices + edges with the reference's mutual isolated-element
    removal (IsolatedEdgeRemover then IsolatedVertexRemover,
    CSVDataSource.createInputGraphFromCsv)."""
    from ..operators.preprocessing import (
        remove_isolated_edges,
        remove_isolated_vertices,
    )

    vertices = read_geo_vertices(spark, vertex_file, property_file)
    edges = remove_isolated_edges(read_geo_edges(spark, edge_file), vertices)
    vertices = remove_isolated_vertices(vertices, edges)
    return vertices, edges
