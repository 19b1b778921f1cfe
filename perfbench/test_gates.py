"""Fast tests for kg_lifecycle's retrieval gates.

    python3 -m pytest perfbench -q

No Spark session: ``kg.Graph`` gets a toy graph as plain lists, and the rows
a retrieval call would return are built by hand.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import Row

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import kg  # noqa: E402

NODES = [("n1", "Alpha Corp", "ORG"), ("n2", "Beta", "PERSON"),
         ("n3", "Gamma Alpha", "ORG"), ("n4", "Delta", "LOC")]
EDGES = [("n1", "n2", "WORKS"), ("n2", "n4", "LIVES"), ("n1", "n4", "NEAR")]


def graph() -> kg.Graph:
    return kg.Graph(list(NODES), list(EDGES))


def test_candidates_are_the_contains_search():
    g = graph()
    assert g.candidates("alpha") == ["n1", "n3"]
    assert g.candidates("ALPHA", limit=1) == ["n1"]
    tied = kg.Graph(NODES + [("n5", "Beta", "ORG")], EDGES)
    assert tied.candidates("beta", limit=1) is None  # two "Beta" at the cut


def test_entity_search_gate():
    g = graph()
    hit = Row(node_id="n1", label="Alpha Corp", type="ORG", entity_class=None)
    assert g.check("entity_search_indexed", "n1", [hit])
    assert not g.check("entity_search_indexed", "n1", [])
    wrong = Row(node_id="n3", label="Gamma Alpha", type="ORG", entity_class=None)
    assert not g.check("entity_search_indexed", "n1", [hit, wrong])


def test_node_info_gate():
    g = graph()
    node = [Row(node_id="n1", label="Alpha Corp")]
    near = Row(direction="out", rel_type="NEAR", neighbor_id="n4", neighbor_label="Delta")
    works = Row(direction="out", rel_type="WORKS", neighbor_id="n2", neighbor_label="Beta")
    assert g.check("node_info", "n1", [node, [near, works]])
    assert not g.check("node_info", "n1", [node, [near]])
    assert not g.check("node_info", "n1", [[], [near, works]])
    mislabeled = Row(direction="out", rel_type="WORKS", neighbor_id="n2", neighbor_label="Delta")
    assert not g.check("node_info", "n1", [node, [near, mislabeled]])


def test_paths_gate_walks_both_directions():
    g = graph()
    one = Row(hops=1, path=["n2", "n4"], rels=["LIVES"])
    two = Row(hops=2, path=["n2", "n1", "n4"], rels=["WORKS", "NEAR"])
    assert g.check("paths_between", ("Beta", "Delta"), [one, two])
    assert not g.check("paths_between", ("Beta", "Delta"), [])
    assert not g.check("paths_between", ("Beta", "Delta"), [one])
    assert not g.check("paths_between", ("Beta", "Delta"), [two, one])  # not sorted by hops
    bad = Row(hops=2, path=["n2", "n3", "n4"], rels=["WORKS", "NEAR"])
    assert not g.check("paths_between", ("Beta", "Delta"), [one, bad])


def test_overview_gate():
    g = graph()
    rows = [Row(type="ORG", count=2, examples=["Alpha Corp", "Gamma Alpha"]),
            Row(type="LOC", count=1, examples=["Delta"]),
            Row(type="PERSON", count=1, examples=["Beta"])]
    assert g.check("graph_overview", None, rows)
    assert not g.check("graph_overview", None, rows[:2])
    assert not g.check("graph_overview", None, [rows[0], rows[2], rows[1]])
