"""MusicBrainz-style CSV source with cleaning.

Re-creates io/impl/csv/CSVDataSource.java getVertices +
MusicCSVToVertexFormatter.java:31-72: quoted CSV with header
``TID,CID,CTID,SourceID,id,number,title,length,artist,album,year,language``;
rows become vertices with cleaned year/length/language
(MusicUtils cleaners, functions/cleaning.py) and the derived
``artistTitleAlbum`` label (Utils.createSimpleArtistTitleAlbum,
Utils.java:760-788). The reference's ``includeFields`` projection is just
column pruning here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import fix_language, fix_song_length, fix_year
from ..functions.text import artist_title_album

CSV_SCHEMA = T.StructType(
    [
        T.StructField("TID", T.LongType(), True),
        T.StructField("CID", T.LongType(), True),
        T.StructField("CTID", T.LongType(), True),
        T.StructField("SourceID", T.IntegerType(), True),
        T.StructField("id", T.StringType(), True),
        T.StructField("number", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("length", T.StringType(), True),
        T.StructField("artist", T.StringType(), True),
        T.StructField("album", T.StringType(), True),
        T.StructField("year", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
    ]
)


def read_music_vertices(spark: SparkSession, path: str) -> DataFrame:
    """CSV → cleaned vertex DataFrame (vertex id = TID; CID retained as the
    gold cluster id, MusicCSVToVertexFormatter.java:48)."""
    raw = spark.read.csv(path, header=True, quote='"', schema=CSV_SCHEMA)
    return raw.select(
        F.col("TID").alias("id"),
        F.col("CID").alias("gold_cid"),
        F.col("SourceID").cast("string").alias("source"),
        F.col("title").alias("label"),
        F.col("artist"),
        F.col("album"),
        F.col("number"),
        fix_song_length(F.col("length")).alias("length"),
        fix_year(F.col("year")).alias("year"),
        fix_language(F.col("language")).alias("language"),
        artist_title_album(
            F.col("artist"), F.col("title"), F.col("album")
        ).alias("artist_title_album"),
    )
