"""Geo CSV + Gradoop EPGM source tests (CSVDataSource geo reader,
Utils.getGradoopGraph/getInputGraph)."""

from __future__ import annotations

import json
import os


def test_geo_csv_graph(spark, tmp_path):
    from mapping_analysis_spark.sources.geo_csv import read_geo_graph

    (tmp_path / "concept.csv").write_text(
        "1;http://dbpedia.org/resource/Leipzig;http://dbpedia.org/\n"
        "2;http://sws.geonames.org/12345/;http://sws.geonames.org/\n"
        "3;http://example.org/x;http://example.org/\n"  # not whitelisted
        "4;http://dbpedia.org/resource/NoLabel;http://dbpedia.org/\n"
        "5;http://dbpedia.org/resource/Isolated;http://dbpedia.org/\n"
        "bad line\n"
    )
    (tmp_path / "concept_attributes.csv").write_text(
        "1;label;string;Leipzig\n"
        "1;lat;double;51.3397\n"
        "1;lon;double;12.3731\n"
        "1;type;string;Settlement\n"
        "1;type;string;AdministrativeRegion\n"  # repeated key -> set
        "2;label;string;Leipzig\n"
        "2;lat;double;51.34\n"
        "2;lon;double;12.37\n"
        "5;label;string;Alone\n"
    )
    (tmp_path / "linksWithIDs.csv").write_text("1;2\n1;3\n2;99\n")
    v, e = read_geo_graph(
        spark,
        str(tmp_path / "concept.csv"),
        str(tmp_path / "concept_attributes.csv"),
        str(tmp_path / "linksWithIDs.csv"),
    )
    vrows = {r.id: r for r in v.collect()}
    erows = {(r.src, r.dst) for r in e.collect()}
    # 3 not whitelisted; 4 has no label; 5 isolated after edge removal
    assert sorted(vrows) == [1, 2]
    assert vrows[1].lat == 51.3397 and vrows[1].lon == 12.3731
    assert sorted(vrows[1].types) == ["AdministrativeRegion", "Settlement"]
    assert vrows[2].types == []
    # edge 1-3 dropped (3 filtered out), 2-99 dropped (99 unknown)
    assert erows == {(1, 2)}


def test_gradoop_epgm_graph(spark, tmp_path):
    from mapping_analysis_spark.sources.gradoop import read_gradoop_graph

    g = tmp_path / "g"
    os.makedirs(g)
    vtx = [
        {"id": "aaaaaaaaaaaa", "data": {"id": 10, "label": "x"},
         "meta": {"label": "concept", "graphs": ["g0"]}},
        {"id": "bbbbbbbbbbbb", "data": {"id": 20, "label": "y"},
         "meta": {"label": "concept", "graphs": ["g0"]}},
    ]
    edg = [
        {"id": "e1", "source": "aaaaaaaaaaaa", "target": "bbbbbbbbbbbb",
         "data": {}, "meta": {"label": "link"}},
    ]
    (g / "vertices.json").write_text("\n".join(json.dumps(x) for x in vtx))
    (g / "edges.json").write_text("\n".join(json.dumps(x) for x in edg))
    (g / "graphHeads.json").write_text(
        json.dumps({"id": "g0", "data": {}, "meta": {"label": "graph"}})
    )
    v, e = read_gradoop_graph(spark, str(g))
    vrows = {r.id: r for r in v.collect()}
    assert sorted(vrows) == [10, 20]  # long ids from data.id
    assert vrows[10].epgm_id == "aaaaaaaaaaaa"
    assert [(r.src, r.dst) for r in e.collect()] == [(10, 20)]


def test_jdbc_fold_properties(spark):
    """fold_properties (the geo-CSV property fold, PropertyVertexCreator
    semantics): scalar label/lat/lon, type values accumulate into a sorted
    set, label-less vertices dropped."""
    from mapping_analysis_spark.sources.geo_csv import fold_properties

    v = spark.createDataFrame(
        [(1, "u1", "s"), (2, "u2", "s")], "id long, url string, source string"
    )
    p = spark.createDataFrame(
        [
            (1, "label", "string", "Leipzig"),
            (1, "lat", "double", "51.34"),
            (1, "lon", "double", "12.37"),
            (1, "type", "string", "City"),
            (1, "typeIntern", "string", "Settlement"),
            (2, "lat", "double", "0.0"),  # no label → dropped
        ],
        "id long, key string, ptype string, value string",
    )
    rows = {r.id: r for r in fold_properties(v, p).collect()}
    assert sorted(rows) == [1]
    assert rows[1].label == "Leipzig"
    assert rows[1].lat == 51.34 and rows[1].lon == 12.37
    assert rows[1].types == ["City", "Settlement"]
