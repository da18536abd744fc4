"""Link preprocessing operators.

Behavioral re-creations of the reference's DefaultPreprocessing chain
(model/functions/preprocessing/DefaultPreprocessing.java:39-60):

* ``remove_intra_source_links``  — IntraSourceLinkRemover.java:43-87
* ``remove_isolated_vertices``   — IsolatedVertexRemover.java:33-50
* ``remove_isolated_edges``      — IsolatedEdgeRemover.java
* ``best_link_per_source``       — BasicLinkFilter / LinkSelectionWithCcIdFunction
  (per component sorted by sim desc / id asc, greedily keep the best edge
  per (vertex, neighbor-source)); expressed as window row_number, which is
  the distributed equivalent of the reference's sortGroup + groupReduce.

Graph model: vertices(id, source, …) + edges(src, dst, …) DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def remove_intra_source_links(
    edges: DataFrame, vertices: DataFrame, id_col: str = "id", source_col: str = "source"
) -> DataFrame:
    """Drop edges whose endpoints share a data source; dedup edges
    (IntraSourceLinkRemover.java:43-57). Two equi-joins against the
    (small, column-pruned) vertex side — Catalyst broadcasts it when it
    fits, else sort-merge on id."""
    v = vertices.select(F.col(id_col).alias("_vid"), F.col(source_col).alias("_vsrc"))
    return (
        edges.join(v.withColumnRenamed("_vsrc", "_src_source"), edges.src == F.col("_vid"))
        .drop("_vid")
        .join(v.withColumnRenamed("_vsrc", "_dst_source"), edges.dst == F.col("_vid"))
        .drop("_vid")
        .filter(F.col("_src_source") != F.col("_dst_source"))
        .drop("_src_source", "_dst_source")
        .dropDuplicates(["src", "dst"])
    )


def remove_isolated_vertices(vertices: DataFrame, edges: DataFrame, id_col: str = "id") -> DataFrame:
    """Keep vertices that appear as any edge endpoint
    (IsolatedVertexRemover.java:33-49) — left-semi against the endpoint
    union (no payload shuffled from the edge side)."""
    endpoints = edges.select(F.col("src").alias(id_col)).unionByName(
        edges.select(F.col("dst").alias(id_col))
    )
    return vertices.join(endpoints, id_col, "left_semi")


def remove_isolated_edges(edges: DataFrame, vertices: DataFrame, id_col: str = "id") -> DataFrame:
    """Keep edges whose both endpoints exist (IsolatedEdgeRemover.java) —
    two left-semi joins."""
    ids = vertices.select(id_col)
    return edges.join(
        ids.withColumnRenamed(id_col, "src"), "src", "left_semi"
    ).join(ids.withColumnRenamed(id_col, "dst"), "dst", "left_semi")


def best_link_per_source(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    source_col: str = "source",
    sim_col: str = "agg_sim",
) -> DataFrame:
    """Per (vertex, neighbor-source) keep only the highest-sim link,
    symmetric over both endpoints; the full tie-break chain is
    (sim desc, src asc, dst asc) as in BasicLinkFilterFunction.java:57-61.

    An edge survives only if it is the best link for its src towards dst's
    source AND the best link for its dst towards src's source — the
    distributed form of LinkSelectionWithCcIdFunction's greedy per-component
    selection (exact when selection is per (vertex, nbr-source), which is
    the reference's acceptance criterion).
    """
    v = vertices.select(F.col(id_col).alias("_vid"), F.col(source_col).alias("_vsrc"))
    e = (
        edges.join(v.withColumnRenamed("_vsrc", "src_source"), edges.src == F.col("_vid"))
        .drop("_vid")
        .join(v.withColumnRenamed("_vsrc", "dst_source"), edges.dst == F.col("_vid"))
        .drop("_vid")
    )
    order = [F.desc(sim_col), F.asc("src"), F.asc("dst")]
    w_src = Window.partitionBy("src", "dst_source").orderBy(*order)
    w_dst = Window.partitionBy("dst", "src_source").orderBy(*order)
    return (
        e.withColumn("_rn_src", F.row_number().over(w_src))
        .withColumn("_rn_dst", F.row_number().over(w_dst))
        .filter((F.col("_rn_src") == 1) & (F.col("_rn_dst") == 1))
        .drop("_rn_src", "_rn_dst", "src_source", "dst_source")
    )
