"""Waypoint synthesis stage: Elbow/Curved edges gain their implicit
intermediate points (F4/F5) via the geometry kernel.

Hyperedges (edges attached to other edges via anchors) need the
referenced edge's resolved points to pick an emanation orientation.
That dependency never leaves its (url, frag) document, so the stage is
one grouped-map kernel per document that contains a curvy edge, the
Spark analog of the reference's per-document fixpoint scheduler
(src/2013a/toPvjson.ts:470-637). Inside a document the kernel runs
`calculate_all_points` in dependency (Kahn) order: a curvy edge runs
once every curvy edge it is attached to is final. Edges still blocked
when nothing more can run are cycles and keep their explicit points,
matching the reference's cycle tolerance.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .entities import DOC_KEY
from ..functions.geometry import calculate_all_points

_CURVY = ("ElbowLine", "CurvedLine")


def _point_to_dict(p) -> dict:
    # Arrow hands array fields over as numpy arrays, whose truth value
    # the geometry code cannot test (`pos or default`): use lists
    def seq(k):
        v = p.get(k)
        return None if v is None else list(v)
    return {
        "x": p["x"], "y": p["y"],
        "is_attached_to": p.get("is_attached_to"),
        "attachment_position": seq("attachment_position"),
        "attachment_offset": seq("attachment_offset"),
        "orientation": seq("orientation"),
        "marker": p.get("marker"),
    }


def _edge_points(points) -> list[dict] | None:
    if points is None or not len(points):
        return None
    return [_point_to_dict(dict(p)) for p in points]


def _synthesize_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    """One document's edges -> the same rows, curvy edges synthesized
    in Kahn order over their attachments to other curvy edges."""
    ids, points = pdf["id"].tolist(), pdf["points"].tolist()
    rows_of: dict[str, list[int]] = defaultdict(list)
    for i, draw_as in enumerate(pdf["draw_as"]):
        if draw_as in _CURVY:
            rows_of[ids[i]].append(i)
    # final points by edge id: straight edges are final as given
    final = {e: p for e, p in zip(ids, points) if e not in rows_of}
    refs = [() if r is None else r for r in pdf["is_attached_to"]]
    deps = {e: {r for i in rows for r in refs[i] if r in rows_of}
            for e, rows in rows_of.items()}
    dependents: dict[str, list[str]] = defaultdict(list)
    for e, ds in deps.items():
        for r in ds:
            dependents[r].append(e)

    first, last = pdf["endpoint_first_ref"], pdf["endpoint_last_ref"]
    out = list(points)
    ready = [e for e, ds in deps.items() if not ds]
    while ready:
        e = ready.pop()
        for i in rows_of[e]:
            pts = _edge_points(points[i])
            try:
                out[i] = calculate_all_points(
                    pts, _edge_points(final.get(first.iat[i])),
                    _edge_points(final.get(last.iat[i])))
            except Exception:
                pass  # degenerate geometry: keep the explicit points
        final[e] = out[rows_of[e][-1]]
        for d in dependents[e]:
            deps[d].discard(e)
            if not deps[d]:
                ready.append(d)
    # ids whose deps never empty are cycles: their rows keep `points`
    return pdf.assign(points=out)


def synthesize_waypoints(edges: DataFrame) -> DataFrame:
    """edges (resolved, from resolve_edge_points) -> edges with
    Elbow/Curved implicit waypoints made explicit.

    Only documents with a curvy edge enter the kernel (a distinct-doc
    semi-join); every other document's edges bypass it through the
    anti-join and are never shipped to Python. Both checkpoints stay:
    the input is read three times (curvy docs, semi-join, anti-join),
    so an un-staged input would re-embed the resolve_edge_points plan
    into each (driver analysis grows super-linearly), and the output
    reaches several model frames (z-order map, pathway contains, the
    edges frame), each of which would otherwise re-run the Python
    kernel. The output checkpoint covers the anti-join side too, so
    the doc-key aggregate's shuffle does not recur in every
    downstream job."""
    edges = edges.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    curvy_docs = edges.filter(F.col("draw_as").isin(*_CURVY)) \
        .select(*DOC_KEY).distinct()
    synthesized = edges.join(curvy_docs, DOC_KEY, "left_semi") \
        .groupBy(*DOC_KEY).applyInPandas(_synthesize_doc, edges.schema)
    return edges.join(curvy_docs, DOC_KEY, "left_anti") \
        .unionByName(synthesized) \
        .localCheckpoint(eager=False,
                         storageLevel=StorageLevel.MEMORY_AND_DISK)
