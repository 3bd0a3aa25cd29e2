"""Mentions -> typed pvjson-style entity frames (declarative stage).

Re-expresses the reference's per-element "compiler"
(processKV/getPvjsonValue/processType, ref: src/Processor.ts:373-560,
KeyMappings src/2013a/KeyMappings.json, defaults layering
src/2013a/toPvjson.ts:114-156) as Catalyst column expressions over the
mentions frame plus two broadcast dimension joins:

- class defaults  (P16) : broadcast join on gpml_element_name
- group style     (P16) : broadcast join on Style with override
                          precedence (ref: src/group.ts:153-181)

plus one real equi join:

- State -> parent DataNode ZOrder inheritance + burr offset (J3/J8,
  ref: src/Processor.ts:251-276, src/2013a/toPvjson.ts:680-710)

All joins are keyed (url, frag, ...) so co-partitioning by url makes
them local after one shuffle; dimension sides are literal broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import converters as C
from ..functions.mappings import (
    GPML_DEFAULTS,
    GPML_ELEMENT_NAME_TO_KAAVIO_TYPE,
    GROUP_STYLE_MAPPINGS,
    VOCABULARY_NAME_TO_IRI,
)

DOC_KEY = ["url", "frag"]

_DEFAULT_COLS = [
    "color", "fill_color", "shape_type", "line_style", "line_thickness",
    "font_size", "font_name", "font_weight", "font_style",
    "font_decoration", "font_strikethru", "align", "valign",
    "fill_opacity", "wp_type", "state_type", "connector_type",
    "anchor_shape", "style",
]
# GPMLDefaults "Padding" is a pvjson extra, kept separately
_DEFAULT_EXTRA = {"padding_attr": "padding"}

_DOUBLE_LINE_KEY = "org.pathvisio.DoubleLineProperty"
_CELLULAR_KEY = "org.pathvisio.CellularComponentProperty"
_BACKPAGE_KEY = "org.pathvisio.model.BackpageHead"


# Constant dimension frames, one per live SparkSession: the rows are
# module constants (GPML_DEFAULTS / GROUP_STYLE_MAPPINGS), so the
# DataFrame is a pure function of the code and the session — caching
# the handle skips re-running createDataFrame's schema plumbing on
# every model build. NOT result caching: the local relation embeds
# the constant rows in the plan; nothing derives from any input path.
_DIM_CACHE: dict = {}


def _dim_frame(name: str, spark: SparkSession, builder) -> DataFrame:
    key = (name, spark)
    df = _DIM_CACHE.get(key)
    if df is None:
        df = builder(spark)
        _DIM_CACHE[key] = df
    return df


def defaults_df(spark: SparkSession) -> DataFrame:
    return _dim_frame("defaults", spark, _build_defaults_df)


def _build_defaults_df(spark: SparkSession) -> DataFrame:
    rows = []
    for name, d in GPML_DEFAULTS.items():
        row = {"gpml_element_name": name}
        for c in _DEFAULT_COLS:
            v = d.get(c)
            row["d_" + c] = float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) and c in (
                "line_thickness", "font_size", "fill_opacity") else v
        row["d_padding"] = d.get("padding_attr")
        rows.append(row)
    fields = [T.StructField("gpml_element_name", T.StringType())]
    for c in _DEFAULT_COLS:
        typ = T.DoubleType() if c in ("line_thickness", "font_size",
                                      "fill_opacity") else T.StringType()
        fields.append(T.StructField("d_" + c, typ))
    fields.append(T.StructField("d_padding", T.DoubleType()))
    return spark.createDataFrame(
        [[r.get(f.name) for f in fields] for r in rows],
        schema=T.StructType(fields),
    )


def group_style_df(spark: SparkSession) -> DataFrame:
    return _dim_frame("group_style", spark, _build_group_style_df)


def _build_group_style_df(spark: SparkSession) -> DataFrame:
    rows = []
    for style, d in GROUP_STYLE_MAPPINGS.items():
        rows.append((style, d["shape_type"], d["line_style"],
                     d["line_thickness"], d["fill_color"], d["padding"],
                     d["types"]))
    return spark.createDataFrame(
        rows,
        schema=(
            "s_style string, s_shape_type string, s_line_style string,"
            "s_line_thickness double, s_fill_color string,"
            "s_padding double, s_types array<string>"
        ),
    )


_EFF_EXPRS: dict | None = None


def _eff_exprs() -> dict:
    """The eff_* defaults-layering projection — a pure function of
    the module constants, built once per process (unresolved Columns
    are immutable and DataFrame-independent; rebuilding the dict cost
    ~0.6k py4j round-trips per model build)."""
    global _EFF_EXPRS
    if _EFF_EXPRS is None:
        exprs = {}
        for c in _DEFAULT_COLS:
            if c == "style":
                continue
            base = F.coalesce(F.col(c), F.col("d_" + c))
            if c in ("shape_type", "line_style", "line_thickness",
                     "fill_color"):
                base = F.coalesce(F.col("s_" + c), base)
            exprs["eff_" + c] = base
        exprs["eff_padding"] = F.coalesce(F.col("s_padding"),
                                          F.col("d_padding"))
        exprs["style_types"] = F.col("s_types")
        _EFF_EXPRS = exprs
    return _EFF_EXPRS


def with_defaults(mentions: DataFrame, spark: SparkSession) -> DataFrame:
    """Layer class defaults (P16) via a broadcast dimension join, then
    group-style overrides (higher precedence than explicit values,
    matching `assign(oldValue, mappingValue)` in src/group.ts:162-176)."""
    d = defaults_df(spark)
    g = group_style_df(spark)
    df = mentions.join(F.broadcast(d), "gpml_element_name", "left")
    df = df.withColumn(
        "eff_style",
        F.when(df.gpml_element_name == "Group",
               F.coalesce(df.style, df.d_style)),
    )
    df = df.join(F.broadcast(g), df.eff_style == g.s_style, "left")
    out = df.withColumns(_eff_exprs())
    return out.drop(*["d_" + c for c in _DEFAULT_COLS], "d_padding",
                    "s_style", "s_shape_type", "s_line_style",
                    "s_line_thickness", "s_fill_color", "s_padding",
                    "s_types")


def _kaavio_type() -> Column:
    m = C._map_literal(GPML_ELEMENT_NAME_TO_KAAVIO_TYPE)
    return F.element_at(m, F.col("gpml_element_name"))


def _base_types(extra_pre: Column | None = None) -> Column:
    """processType (ref: src/Processor.ts:373-393): type =
    unionLSV(existing, gpmlElementName, kaavioType) + CURIE when both
    xref fields exist."""
    pre = extra_pre if extra_pre is not None \
        else F.array().cast("array<string>")
    base = C.union_types(pre, C.arr(F.col("gpml_element_name")),
                         C.arr(_kaavio_type()))
    curie = F.when(
        F.col("xref_datasource").isNotNull()
        & F.col("xref_identifier").isNotNull(),
        F.concat_ws(":", "xref_datasource", "xref_identifier"),
    )
    return C.union_types(base, C.arr(curie))


_NODEISH_EXPRS: tuple | None = None


def _nodeish_exprs() -> tuple:
    """The three convert_nodeish projection layers — pure functions of
    module constants and literal column names, built once per process
    (the same memo pattern as _eff_exprs; rebuilding them cost ~3.6k
    py4j round-trips per model build)."""
    global _NODEISH_EXPRS
    if _NODEISH_EXPRS is not None:
        return _NODEISH_EXPRS
    has_points = F.lit(False)

    # --- layer 1: shared scalars -----------------------------------
    is_anchor = F.col("gpml_element_name") == "Anchor"
    layer1 = {
        "_dbl": F.coalesce(
            F.element_at(F.col("attributes"), _DOUBLE_LINE_KEY) == "Double",
            F.lit(False)),
        "_sw": C.stroke_width(F.col("eff_line_thickness"),
                              F.col("eff_shape_type"), has_points),
        "_rot": F.when(
            (F.col("gpml_element_name") == "Shape")
            | F.col("rotation").isNotNull(),
            C.rotation_degrees(F.col("rotation"))),
        "_pos_x": C.rel_position_scalar(F.col("rel_x")),
        "_pos_y": C.rel_position_scalar(F.col("rel_y")),
        "_roff_x": C.rel_offset_scalar(F.col("rel_x")),
        "_roff_y": C.rel_offset_scalar(F.col("rel_y")),
    }

    # --- layer 2: dims (getDimension adds LineThickness when
    # DoubleLineProperty is set, ref: src/2013a/ValueConverters.ts:166-179)
    anchor_w = (
        F.when(F.col("eff_anchor_shape") == "Circle", F.lit(8.0))
        .when((F.col("eff_anchor_shape") == "None")
              & F.col("graph_id_explicit"), F.lit(0.0))
        .when(F.col("eff_anchor_shape") == "None", F.lit(4.0))
    )
    layer2 = {
        "_w": F.col("width")
        + F.when(F.col("_dbl"), F.col("_sw")).otherwise(F.lit(0.0)),
        "_h": F.col("height")
        + F.when(F.col("_dbl"), F.col("_sw")).otherwise(F.lit(0.0)),
        "_anchor_w": anchor_w,
    }

    # --- layer 3: outputs -------------------------------------------
    anchor_draw_shape = (
        F.when(F.col("eff_anchor_shape") == "Circle", F.lit("Circle"))
        .when((F.col("eff_anchor_shape") == "None")
              & ~F.col("graph_id_explicit"), F.lit("Rectangle"))
        .otherwise(F.lit("None"))
    )
    shape_for_draw = F.when(is_anchor, anchor_draw_shape) \
        .otherwise(F.col("eff_shape_type"))

    att_pos = (
        F.when(is_anchor & F.col("position").isNotNull(),
               F.array(F.col("position"), F.lit(0.0)))
        .when(F.col("rel_x").isNotNull() & F.col("rel_y").isNotNull(),
              F.array(F.col("_pos_x"), F.col("_pos_y")))
    )
    att_rel_off = F.when(
        ~is_anchor & F.col("rel_x").isNotNull() & F.col("rel_y").isNotNull(),
        F.array(F.col("_roff_x"), F.col("_roff_y")),
    )
    att_off = F.when(is_anchor & F.col("position").isNotNull(),
                     F.array(F.lit(0.0), F.lit(0.0)))

    layer3 = {
        "kaavio_type": _kaavio_type(),
        "stroke_width": F.when(is_anchor, F.lit(0.0)).otherwise(F.col("_sw")),
        "width_out": F.when(is_anchor, F.col("_anchor_w"))
        .otherwise(F.col("_w")),
        "height_out": F.when(is_anchor, F.col("_anchor_w"))
        .otherwise(F.col("_h")),
        "x": F.col("center_x") - F.col("_w") / 2,
        "y": F.col("center_y") - F.col("_h") / 2,
        "z_index": F.col("zorder"),
        "draw_as": C.map_value(shape_for_draw),
        "stroke": C.css_color(F.col("eff_color")),
        "stroke_dasharray": C.stroke_dasharray(F.col("eff_line_style")),
        "stroke_style": F.when(F.col("_dbl"), F.lit("double")),
        "fill": C.fill(F.col("eff_fill_color"), F.col("eff_shape_type"),
                       has_points),
        "fill_opacity": F.col("eff_fill_opacity").cast("double"),
        "rotation_out": F.col("_rot"),
        "text_rotation": F.when(F.col("_rot").isNotNull()
                                & (F.col("_rot") != 0.0), -F.col("_rot")),
        "font_family": F.col("eff_font_name"),
        "font_size_out": F.col("eff_font_size"),
        "font_weight_out": F.when(F.col("eff_font_weight").isNotNull(),
                                  C.kebab(F.col("eff_font_weight"))),
        "font_style_out": F.when(F.col("eff_font_style").isNotNull(),
                                 C.kebab(F.col("eff_font_style"))),
        "text_align": F.when(F.col("eff_align").isNotNull(),
                             C.kebab(F.col("eff_align"))),
        "vertical_align": F.when(F.col("eff_valign").isNotNull(),
                                 C.kebab(F.col("eff_valign"))),
        "text_decoration": F.when(
            F.col("eff_font_decoration").isNotNull()
            | F.col("eff_font_strikethru").isNotNull(),
            C.text_decoration(F.col("eff_font_decoration"),
                              F.col("eff_font_strikethru"))),
        "padding": F.col("eff_padding"),
        "rx": F.when(F.col("eff_shape_type") == "RoundedRectangle",
                     F.lit(15.0)),
        "ry": F.when(F.col("eff_shape_type") == "RoundedRectangle",
                     F.lit(15.0)),
        "text_content": C.html_unescape_name("text_label"),
        "href_out": F.when(F.col("href").isNotNull(),
                           C.encode_uri(C.html_unescape_name("href"))),
        "cellular_component": F.element_at(F.col("attributes"),
                                           _CELLULAR_KEY),
        "backpage_head": F.element_at(F.col("attributes"), _BACKPAGE_KEY),
        "citations": F.when(
            F.col("biopax_refs").isNotNull(),
            F.transform(F.col("biopax_refs"),
                        lambda r: F.concat(F.lit("publicationXref"), r)),
        ),
        "attachment_position": att_pos,
        "attachment_relative_offset": att_rel_off,
        "attachment_offset": att_off,
        "is_attached_to": F.col("graph_ref"),
        "wp_type_out": F.col("eff_wp_type"),
        "state_type_out": F.col("eff_state_type"),
    }
    _NODEISH_EXPRS = (layer1, layer2, layer3)
    return _NODEISH_EXPRS


def convert_nodeish(df: DataFrame) -> DataFrame:
    """Shared converters for DataNode/Shape/Label/State/Group/Anchor
    rows (P1-P22). Input must have eff_* columns from with_defaults.

    NOTE: built in *layers* of withColumns so reused sub-expressions
    (stroke width, effective dims, rotation, rel scalars) become plain
    attribute references downstream. A single flat projection would let
    CollapseProject inline each CaseWhen tree at every use site, which
    blows up plan stringification and whole-stage codegen (observed:
    minutes of driver time on CaseWhen.toString). The layer dicts are
    memoized per process (_nodeish_exprs)."""
    layer1, layer2, layer3 = _nodeish_exprs()
    out = df.withColumns(layer1).withColumns(layer2).withColumns(layer3)
    return out.drop("_dbl", "_sw", "_rot", "_pos_x", "_pos_y", "_roff_x",
                    "_roff_y", "_w", "_h", "_anchor_w")


_ENTITY_COLS = [
    "url", "frag", "pathway_id", "elem_idx", "graph_id",
    "gpml_element_name", "kaavio_type", "types", "text_content",
    "href_out", "wp_type_out", "state_type_out", "x", "y",
    "width_out", "height_out", "z_index", "draw_as", "stroke",
    "stroke_width", "stroke_dasharray", "stroke_style", "fill",
    "fill_opacity", "rotation_out", "text_rotation", "font_family",
    "font_size_out", "font_weight_out", "font_style_out", "text_align",
    "vertical_align", "text_decoration", "padding", "rx", "ry",
    "xref_datasource", "xref_identifier", "cellular_component",
    "backpage_head", "citations", "comments", "is_attached_to",
    "attachment_position", "attachment_relative_offset",
    "attachment_offset", "group_id", "group_ref",
]

_RENAME = {
    "graph_id": "id", "href_out": "href", "wp_type_out": "wp_type",
    "state_type_out": "state_type", "width_out": "width",
    "height_out": "height", "rotation_out": "rotation",
    "font_size_out": "font_size", "font_weight_out": "font_weight",
    "font_style_out": "font_style",
}


_FINISH_COLS: list | None = None


def _finish(df: DataFrame) -> DataFrame:
    # ONE aliased select: a withColumnRenamed chain re-analyzes the
    # whole (wide) plan once per rename — 10 renames x 3 call sites
    # was a measurable slice of driver-side DAG-construction time.
    # The select list is a pure function of the module constants, so
    # it is built once per process: unresolved Columns are immutable
    # and DataFrame-independent, and re-creating the 48-entry list
    # cost ~2.9k py4j round-trips per model build.
    global _FINISH_COLS
    if _FINISH_COLS is None:
        _FINISH_COLS = [
            F.col(c).alias(_RENAME[c]) if c in _RENAME else F.col(c)
            for c in _ENTITY_COLS]
    return df.select(*_FINISH_COLS)


def build_free_nodes(converted: DataFrame) -> DataFrame:
    """DataNode / Shape / Label entities (no relational deps).
    DataNode unions wpType into types (ref: src/2013a/toPvjson.ts:340-346);
    Shape with a cellular component gains PhysicalEntity typing
    (ref: src/2013a/toPvjson.ts:359-373)."""
    df = converted.filter(
        F.col("gpml_element_name").isin("DataNode", "Shape", "Label"))
    df = df.withColumns(_free_node_exprs())
    return _finish(df)


_FREE_NODE_EXPRS: dict | None = None


def _free_node_exprs() -> dict:
    """build_free_nodes' typing projection — name-based expressions
    only, memoized per process."""
    global _FREE_NODE_EXPRS
    if _FREE_NODE_EXPRS is not None:
        return _FREE_NODE_EXPRS
    is_dn = F.col("gpml_element_name") == "DataNode"
    is_shape = F.col("gpml_element_name") == "Shape"
    cc = F.col("cellular_component")
    types = _base_types()
    types = F.when(is_dn, C.union_types(types, C.arr(F.col("wp_type_out")))) \
        .when(is_shape & cc.isNotNull(),
              C.union_types(types, F.array(F.lit("PhysicalEntity"),
                                           F.lit("CellularComponent")),
                            C.arr(cc))) \
        .otherwise(types)
    _FREE_NODE_EXPRS = {
        "types": types,
        # wpType key only exists on DataNodes; stateType never here
        "wp_type_out": F.when(is_dn, F.col("wp_type_out")),
        "state_type_out": F.lit(None).cast("string"),
    }
    return _FREE_NODE_EXPRS


def build_states(converted: DataFrame) -> DataFrame:
    """State entities: inherit ZOrder from the parent DataNode (J3)
    and resolve the burr offset against parent dims (J8)."""
    states = converted.filter(F.col("gpml_element_name") == "State")
    parents = converted.select(
        F.col("url").alias("p_url"),
        F.col("frag").alias("p_frag"),
        F.col("graph_id").alias("p_id"),
        F.col("zorder").alias("p_zorder"),
        F.col("width_out").alias("p_width"),
        F.col("height_out").alias("p_height"),
    )
    j = states.join(
        parents,
        (states.url == parents.p_url) & (states.frag == parents.p_frag)
        & (states.graph_ref == parents.p_id),
        "left",
    ).drop("p_url", "p_frag")
    j = j.withColumn("z_index", F.coalesce(F.col("z_index"), F.col("p_zorder")))
    j = j.withColumn(
        "attachment_offset",
        F.when(
            F.col("attachment_relative_offset").isNotNull(),
            F.array(
                F.element_at("attachment_relative_offset", 1) * F.col("p_width"),
                F.element_at("attachment_relative_offset", 2) * F.col("p_height"),
            ),
        ),
    ).withColumn("attachment_relative_offset", F.lit(None).cast("array<double>"))
    j = j.withColumn("types", _base_types())
    j = j.withColumn("wp_type_out", F.lit(None).cast("string"))
    return _finish(j)


def build_anchors(converted: DataFrame) -> DataFrame:
    anchors = converted.filter(F.col("gpml_element_name") == "Anchor")
    anchors = anchors.withColumn("types", _base_types())
    anchors = anchors.withColumn("wp_type_out", F.lit(None).cast("string")) \
        .withColumn("state_type_out", F.lit(None).cast("string"))
    # anchor x/y along the parent edge path needs arc-length
    # parametrization (SmartPath.position) — not needed for triples;
    # deferred (SURVEY.md §2.7 F2).
    return _finish(anchors)


_CITATION_COLS: list | None = None


def _citation_cols() -> list:
    """build_citations' select list — name-based expressions only
    (incl. the window spec), memoized per process like
    _nodeish_exprs."""
    global _CITATION_COLS
    if _CITATION_COLS is not None:
        return _CITATION_COLS
    w = Window.partitionBy(*DOC_KEY).orderBy(
        F.col("pub_year").cast("int").asc_nulls_last(), F.col("elem_idx"))
    curie = F.when(
        F.col("pub_db").isNotNull() & F.col("xref_identifier").isNotNull(),
        F.concat_ws(":", "pub_db", "xref_identifier"),
    )
    _CITATION_COLS = [
        *DOC_KEY,
        "pathway_id",
        "elem_idx",
        F.concat(F.lit("publicationXref"), F.col("pub_id")).alias("id"),
        F.lit("PublicationXref").alias("gpml_element_name"),
        F.col("xref_identifier"),
        F.col("pub_db").alias("xref_datasource"),
        C.html_unescape_name("pub_title").alias("standard_name"),
        C.html_unescape_name("pub_source").alias("source"),
        F.col("pub_year").cast("int").alias("year"),
        F.transform(F.col("pub_authors"),
                    lambda a: C.html_unescape(a)).alias("authors"),
        C.union_types(F.array(F.lit("PublicationXref")),
                      C.arr(curie)).alias("types"),
        F.row_number().over(w).cast("string").alias("text_content"),
    ]
    return _CITATION_COLS


def build_citations(mentions: DataFrame) -> DataFrame:
    """PublicationXref entities + year-ordered citation ordinal (A6,
    the reference's only window function,
    ref: src/2013a/toPvjson.ts:939-980)."""
    pubs = mentions.filter(F.col("gpml_element_name") == "PublicationXref")
    return pubs.select(*_citation_cols())


_VOCAB_EXPRS: tuple | None = None


def _vocab_exprs() -> tuple:
    """build_vocabularies' select list + derived columns — name-based
    expressions of the module constants, memoized per process."""
    global _VOCAB_EXPRS
    if _VOCAB_EXPRS is not None:
        return _VOCAB_EXPRS
    vocab_map = C._map_literal(VOCABULARY_NAME_TO_IRI)
    sel = [
        *DOC_KEY,
        "pathway_id",
        "elem_idx",
        F.col("ontology"),
        F.col("vocab_term").alias("term"),
        F.col("xref_identifier"),
        F.element_at(vocab_map, F.col("ontology")).alias("iri_prefix"),
    ]
    extra = {
        "id": F.concat(F.col("iri_prefix"), F.col("xref_identifier")),
        "types": F.array(F.lit("openControlledVocabulary")),
        "gpml_element_name": F.lit("openControlledVocabulary"),
    }
    _VOCAB_EXPRS = (sel, extra)
    return _VOCAB_EXPRS


def build_vocabularies(mentions: DataFrame) -> DataFrame:
    """openControlledVocabulary entities; ontology name -> IRI via a
    broadcast literal map; unknown ontologies -> quarantine (J10,
    ref: src/2013a/toPvjson.ts:892-937)."""
    vocabs = mentions.filter(
        F.col("gpml_element_name") == "openControlledVocabulary")
    sel, extra = _vocab_exprs()
    return vocabs.select(*sel).withColumns(extra)


_PATHWAY_COLS: list | None = None


def _pathway_cols() -> list:
    """build_pathways' select list — name-based expressions of the
    module constants, memoized per process."""
    global _PATHWAY_COLS
    if _PATHWAY_COLS is not None:
        return _PATHWAY_COLS
    d = GPML_DEFAULTS["Pathway"]
    name = C.html_unescape(F.coalesce(F.col("name"), F.lit(d["name"])))
    # "Name (variant)" -> standardName/displayName
    # (ref: src/2013a/toPvjson.ts:256-273)
    splittable = name.rlike(r"^[^()]*\([^()]*\)[^()]*$") & name.contains(" (")
    standard = F.when(splittable, F.regexp_extract(name, r"^(.*?) \(", 1)) \
        .otherwise(name)
    display = F.when(splittable, F.regexp_extract(name, r"\((.*?)\)", 1)) \
        .otherwise(name)
    # textContent: "Key: value" lines for Name/Organism/License
    text_content = F.concat_ws(
        "\n",
        F.concat(F.lit("Name: "), name),
        F.when(F.col("organism").isNotNull(),
               F.concat(F.lit("Organism: "), F.col("organism"))),
        F.when(F.col("license").isNotNull(),
               F.concat(F.lit("License: "), F.col("license"))),
    )
    organism_part = F.when(
        F.col("organism").isNotNull(),
        F.concat(F.lit("&species="), F.col("organism")),
    ).otherwise(F.lit(""))
    is_similar_to = C.encode_uri(F.concat(
        F.lit("http://wikipathways.org/index.php/Special:SearchPathways"
              "?query="), name, organism_part, F.lit("&doSearch=1")))
    _PATHWAY_COLS = [
        *DOC_KEY,
        "pathway_id",
        F.col("pathway_id").alias("id"),
        F.lit("Pathway").alias("gpml_element_name"),
        F.lit("Group").alias("kaavio_type"),
        name.alias("name"),
        standard.alias("standard_name"),
        display.alias("display_name"),
        text_content.alias("text_content"),
        is_similar_to.alias("is_similar_to"),
        F.col("organism"),
        F.col("license"),
        C.html_unescape_name("data_source").alias("data_source"),
        F.col("version").alias("data_source_version"),
        C.html_unescape_name("author").alias("author"),
        C.html_unescape_name("email").alias("email"),
        C.html_unescape_name("maintainer").alias("maintainer"),
        F.col("last_modified"),
        F.col("board_width").alias("width"),
        F.coalesce(F.col("board_height"),
                   F.lit(d["board_height"])).alias("height"),
        F.col("comments"),
        F.array(F.lit("Pathway")).alias("types"),
    ]
    return _PATHWAY_COLS


def build_pathways(mentions: DataFrame) -> DataFrame:
    """Pathway metadata row -> pathway entity (A1/P19/JS1,
    ref: src/2013a/toPvjson.ts:234-320)."""
    p = mentions.filter(F.col("gpml_element_name") == "Pathway")
    return p.select(*_pathway_cols())
