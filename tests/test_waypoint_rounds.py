"""Dependency-order semantics of synthesize_waypoints, pinned directly
on minimal frames (the corpus goldens cover fixture geometry; this pins
the ORDER logic — which edges resolve against which points: a curvy
edge runs once every curvy edge it is attached to is final, its
endpoint refs resolve against its own document's final points, and
curvy edges in a cycle keep their explicit points)."""

import pytest

from pyspark.sql import types as T

POINT = T.StructType([
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("is_attached_to", T.StringType()),
    T.StructField("attachment_position",
                  T.ArrayType(T.DoubleType())),
    T.StructField("attachment_offset", T.ArrayType(T.DoubleType())),
    T.StructField("orientation", T.ArrayType(T.DoubleType())),
    T.StructField("marker", T.StringType()),
])

SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("frag", T.IntegerType()),
    T.StructField("id", T.StringType()),
    T.StructField("draw_as", T.StringType()),
    T.StructField("is_attached_to", T.ArrayType(T.StringType())),
    T.StructField("endpoint_first_ref", T.StringType()),
    T.StructField("endpoint_last_ref", T.StringType()),
    T.StructField("points", T.ArrayType(POINT)),
])


def _pt(x, y, ref=None, pos=None, orient=None):
    return (float(x), float(y), ref, pos, None, orient, None)


def _edge(eid, draw_as, pts, refs=None, first_ref=None, last_ref=None,
          url="u", frag=0):
    return (url, frag, eid, draw_as, refs, first_ref, last_ref, pts)


def _xy(points):
    return [(p["x"], p["y"]) for p in points]


def _as_dicts(pts):
    names = [f.name for f in POINT.fields]
    return [dict(zip(names, p)) for p in pts]


@pytest.fixture(scope="module")
def synthesized(spark):
    from gpml2pvjson_js_spark.operators.waypoints import (
        synthesize_waypoints)
    rows = [
        # straight edge: passes through unchanged
        _edge("s1", "StraightLine",
              [_pt(0, 0, "n1", [0.5, 0.0], [0.0, -1.0]),
               _pt(10, 10)]),
        # elbow attached to a NODE only -> no dependency, runs first
        _edge("e1", "ElbowLine",
              [_pt(0, 0, "n1", [1.0, 0.5], [1.0, 0.0]),
               _pt(100, 50)], refs=["n1"]),
        # elbow whose ref names the elbow e1 -> runs once e1 is final
        _edge("e2", "ElbowLine",
              [_pt(50, 25, "e1", [0.5, 0.0], [0.0, 1.0]),
               _pt(50, 200)], refs=["e1"], first_ref="e1"),
        # mutually-referencing elbows: never ready, cycle passthrough
        _edge("c1", "ElbowLine",
              [_pt(0, 0, "c2", [0.5, 0.0], [0.0, 1.0]), _pt(5, 5)],
              refs=["c2"], first_ref="c2"),
        _edge("c2", "ElbowLine",
              [_pt(9, 9, "c1", [0.5, 0.0], [0.0, 1.0]), _pt(7, 7)],
              refs=["c1"], first_ref="c1"),
    ]
    edges = spark.createDataFrame(rows, SCHEMA)
    out = synthesize_waypoints(edges)
    return {r["id"]: r.asDict(recursive=True) for r in out.collect()}


def test_every_edge_comes_back_exactly_once(synthesized):
    assert sorted(synthesized) == ["c1", "c2", "e1", "e2", "s1"]


def test_straight_edge_untouched(synthesized):
    s1 = synthesized["s1"]
    assert [(p["x"], p["y"]) for p in s1["points"]] == \
        [(0.0, 0.0), (10.0, 10.0)]


def test_node_attached_elbow_synthesizes_in_round_one(synthesized):
    e1 = synthesized["e1"]
    # elbow synthesis adds implicit waypoints between the endpoints
    assert len(e1["points"]) > 2
    assert (e1["points"][0]["x"], e1["points"][0]["y"]) == (0.0, 0.0)
    assert (e1["points"][-1]["x"], e1["points"][-1]["y"]) == \
        (100.0, 50.0)


def test_edge_attached_elbow_waits_for_its_referenced_edge(synthesized):
    # e2's ref (e1) is itself an elbow, so e2 must resolve AFTER
    # e1 — with e1's synthesized points available
    e2 = synthesized["e2"]
    assert len(e2["points"]) > 2
    assert (e2["points"][-1]["x"], e2["points"][-1]["y"]) == \
        (50.0, 200.0)


def test_cyclic_elbows_pass_through_unchanged(synthesized):
    for cid, pts in (("c1", [(0.0, 0.0), (5.0, 5.0)]),
                     ("c2", [(9.0, 9.0), (7.0, 7.0)])):
        got = [(p["x"], p["y"]) for p in synthesized[cid]["points"]]
        assert got == pts, cid


# --- dependency order beyond the old four-round cap -------------------

def _chain_link(i):
    """Link i of an elbow chain: attached to node n1 (i == 1) or to the
    previous link's midpoint."""
    ref = "n1" if i == 1 else f"d{i - 1}"
    return _edge(f"d{i}", "ElbowLine",
                 [_pt(100 * i, 0, ref, [0.5, 0.0], [0.0, 1.0]),
                  _pt(100 * i + 50, 200)],
                 refs=[ref], first_ref=None if i == 1 else ref)


# a curvy edge attached (without an explicit orientation) to a straight
# edge: its emanation side is picked from that edge's points
_STRAIGHT_HOST = [_pt(0, 0), _pt(200, 0)]
_ON_STRAIGHT = [_pt(100, 0, "s", [0.5, 0.0]), _pt(160, 150)]


@pytest.fixture(scope="module")
def deep(spark):
    from gpml2pvjson_js_spark.operators.waypoints import (
        synthesize_waypoints)
    rows = [_chain_link(i) for i in range(6, 0, -1)] + [
        _edge("s", "StraightLine", _STRAIGHT_HOST),
        _edge("on_s", "ElbowLine", _ON_STRAIGHT, refs=["s"],
              first_ref="s"),
    ]
    out = synthesize_waypoints(spark.createDataFrame(rows, SCHEMA))
    return {r["id"]: r.asDict(recursive=True) for r in out.collect()}


def test_depth_six_elbow_chain_resolves_every_link(deep):
    for i in range(1, 7):
        pts = deep[f"d{i}"]["points"]
        assert len(pts) > 2, f"d{i}"
        assert _xy([pts[0], pts[-1]]) == \
            [(100.0 * i, 0.0), (100.0 * i + 50, 200.0)], f"d{i}"


def test_curvy_edge_resolves_against_straight_edge_points(deep):
    from gpml2pvjson_js_spark.functions.geometry import (
        calculate_all_points)
    want = calculate_all_points(_as_dicts(_ON_STRAIGHT),
                                _as_dicts(_STRAIGHT_HOST), None)
    # the straight edge's points decide the result
    assert _xy(want) != _xy(calculate_all_points(_as_dicts(_ON_STRAIGHT)))
    assert _xy(deep["on_s"]["points"]) == _xy(want)
    assert _xy(deep["s"]["points"]) == _xy(_as_dicts(_STRAIGHT_HOST))


# --- document isolation of the grouped kernel ----------------------------

# per document: the host elbow a1 (different geometry per document) and
# a2, attached to a1 without an explicit orientation
_A1 = {
    ("u", 0): [_pt(0, 0, "n1", [1.0, 0.5], [1.0, 0.0]), _pt(200, 0)],
    ("u", 1): [_pt(0, 0, "n1", [0.5, 1.0], [0.0, 1.0]), _pt(0, 200)],
    ("v", 0): [_pt(0, 0, "n1", [0.5, 1.0], [0.0, 1.0]), _pt(0, 200)],
}
_A2 = [_pt(100, 0, "a1", [0.5, 0.0]), _pt(160, 150)]
# a document with only straight edges, reusing the same ids
_STRAIGHT_DOC = [
    _edge("a1", "StraightLine", [_pt(1, 2), _pt(3, 4)], url="w"),
    _edge("a2", "StraightLine", [_pt(5, 6, "a1", [0.5, 0.0]), _pt(7, 8)],
          refs=["a1"], first_ref="a1", url="w"),
]


@pytest.fixture(scope="module")
def isolated(spark):
    from gpml2pvjson_js_spark.operators.waypoints import (
        synthesize_waypoints)
    rows = list(_STRAIGHT_DOC)
    for (url, frag), a1 in _A1.items():
        rows += [
            _edge("a2", "ElbowLine", _A2, refs=["a1"], first_ref="a1",
                  url=url, frag=frag),
            _edge("a1", "ElbowLine", a1, refs=["n1"], url=url, frag=frag),
        ]
    inp = spark.createDataFrame(rows, SCHEMA)
    return ([r.asDict(recursive=True) for r in inp.collect()],
            [r.asDict(recursive=True)
             for r in synthesize_waypoints(inp).collect()])


def test_grouped_kernel_returns_every_edge_exactly_once(isolated):
    inp, out = isolated
    key = lambda r: (r["url"], r["frag"], r["id"])  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, inp))


def test_edges_resolve_only_against_their_own_document(isolated):
    from gpml2pvjson_js_spark.functions.geometry import (
        calculate_all_points)
    out = {(r["url"], r["frag"], r["id"]): r for r in isolated[1]}
    wants = {}
    for doc, a1 in _A1.items():
        a1_final = calculate_all_points(_as_dicts(a1))
        assert _xy(out[(*doc, "a1")]["points"]) == _xy(a1_final)
        wants[doc] = _xy(calculate_all_points(_as_dicts(_A2), a1_final,
                                              None))
        assert _xy(out[(*doc, "a2")]["points"]) == wants[doc], doc
    # the documents' hosts differ, so a cross-document lookup would show
    assert wants[("u", 0)] != wants[("u", 1)]
    assert wants[("u", 0)] != wants[("v", 0)]


def test_straight_only_document_comes_back_unchanged(isolated):
    inp, out = isolated
    doc = lambda rows: sorted(  # noqa: E731
        (r for r in rows if r["url"] == "w"), key=lambda r: r["id"])
    assert doc(out) == doc(inp)
