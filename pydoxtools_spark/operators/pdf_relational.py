"""Relational (Spark-first) PDF layout branch.

The original all-Python kernel (functions/pdflayout.extract_pdf_spans,
kept as the single-process oracle) spent ~18 ms of pandas overhead per
34-row group — the classic UDF-in-the-hot-path anti-pattern.  Here the
90% that is relational runs as whole-stage-codegen Spark SQL, and ONLY
the geometric clustering of graphics (a per-page numpy kernel over ~10
rows) stays in Python:

  stage                          | engine | reference
  -------------------------------|--------|----------------------------
  text-box grouping (min/max/agg)| SQL    | extract_textstructure.py:99-158
  title rule (median font join)  | SQL    | extract_textstructure.py:172-256
  graphics -> table areas+borders| numpy  | extract_tables.py:893-1210
  cell assignment (border search)| SQL    | extract_tables.py:400-553
  grid render + validity         | SQL    | extract_tables.py:555-608,714-761
  covered-text anti-join         | SQL    | extract_textstructure.py:368-372
  reading order                  | SQL    | extract_textstructure.py:418

Scale: every aggregate is map-side combinable; the graphics kernel
sees only Graphic rows (a few per page); giant docs parallelize by
page bucket; no stage holds more than a page of data in Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..constants import (
    CELL_SORT_Y_WEIGHT,
    KIND_ERROR,
    KIND_HEADER,
    KIND_IMAGE,
    KIND_TABLE,
    KIND_TEXT,
    MIN_BOX_TEXT_CHARS,
    PAGES_PER_BUCKET,
    TITLE_MAX_WORDS,
    TITLE_SIZE_RATIO,
    VERTICAL_ORIENTATION,
)
from ..functions.spantext import CELL_SEP
from ..kernels import walk_runs

# the routed kernels' group: one (doc, page bucket) per kernel call
_BUCKET = ("doc_id", "page_bucket")

# item rows joined back into the extraction pipeline:
# (ref, p_num, y0, x0, kind, text, media_ref)
ITEM = StructType(
    [
        StructField("ref", StringType(), False),
        StructField("p_num", IntegerType(), False),
        StructField("y0", DoubleType(), False),
        StructField("x0", DoubleType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
    ]
)


# per-page routed kernel output: ruled-grid candidate areas (borders,
# cell assignment continues relationally) OR finished full-fidelity
# tables (chars pages), discriminated by `kind`
ROUTED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("p_num", IntegerType(), False),
        StructField("kind", StringType(), False),  # 'area' | 'table'
        StructField("area_id", IntegerType(), False),
        StructField("x0", DoubleType(), False),
        StructField("y0", DoubleType(), False),
        StructField("x1", DoubleType(), False),
        StructField("y1", DoubleType(), False),
        StructField("row_b", ArrayType(DoubleType()), True),
        StructField("col_b", ArrayType(DoubleType()), True),
        StructField("text", StringType(), True),
    ]
)


def _page_router_kernel(pdf: pd.DataFrame) -> list[tuple]:
    """kernels.walk_runs kernel over one (doc_id, page_bucket) group of
    GRAPHIC + CHAR rows, routing PER PAGE exactly like the canonical
    oracle (functions/pdflayout.extract_pdf_items:383-407):

      page has Char rows  -> full reference table pipeline (word
                             rebuild -> sweep-line -> spanning grid ->
                             frozen validity tree) -> finished 'table'
                             rows
      page has none       -> numpy area clustering only -> 'area' rows
                             (cell assignment / render / validity stay
                             relational, whole-stage codegen)

    One kernel pass, same group count as a graphics-only kernel — the
    routing adds NO joins or extra shuffles; Char rows add shuffle
    volume only on corpora that carry them."""
    import numpy as np

    from ..functions.pdflayout import detect_table_areas
    from ..functions.spantext import table_to_text
    from ..functions.tablecells import extract_page_tables_full

    # Columns are pulled to numpy ONCE and pages/types selected with
    # boolean masks: the pandas groupby + per-page frame slicing this
    # replaces was ~2/3 of the kernel (r7 cProfile: 6.2 -> ~2 ms/doc;
    # pandas Index/take machinery, not table math).  Iteration order
    # (np.unique = ascending p_num, mask selection = original row
    # order) and the arrays handed to the table kernels are identical.
    rows = []
    doc_id = pdf["doc_id"].iloc[0]
    p_arr = pdf["p_num"].to_numpy()
    typ = pdf["type"].to_numpy()
    coords = np.column_stack([pdf[c].to_numpy(float)
                              for c in ("x0", "y0", "x1", "y1")])
    raw = pdf["rawtext"].to_numpy(object)
    is_g = typ == "Graphic"
    is_ch = typ == "Char"
    for p in np.unique(p_arr):
        on_page = p_arr == p
        g = on_page & is_g
        if not g.any():
            continue
        ch = on_page & is_ch
        if ch.any():
            full = extract_page_tables_full(
                coords[g], coords[ch],
                [raw[i] for i in np.flatnonzero(ch)],
            )
            for aid, ((bx0, by0, bx1, by1), grid) in enumerate(full):
                rows.append((doc_id, int(p), "table", aid, bx0, by0, bx1, by1,
                             None, None, table_to_text(grid)))
        else:
            areas = detect_table_areas(coords[g])
            for aid, (ax0, ay0, ax1, ay1, row_b, col_b) in enumerate(areas):
                rows.append(
                    (doc_id, int(p), "area", aid, ax0, ay0, ax1, ay1,
                     [float(v) for v in row_b], [float(v) for v in col_b],
                     None)
                )
    return rows


def _grid_tables(areas, lines):
    """Ruled-grid table path (relational): candidate areas+borders come
    from the routed kernel; cell assignment, grid render and validity
    run as whole-stage-codegen Spark SQL.  `areas` carries (doc_id,
    p_num, area_id, ax0..ay1, row_b, col_b) of the pages routed to this
    path (already persisted upstream — consumed three times: cell
    assignment, grid metadata, covered-box anti-join).  Returns
    (tables ITEM rows, valid_areas for the covered-box anti-join)."""
    # ---------------- cell assignment: equi-join on (doc, page) then
    # containment filter; cell index by counting borders <= center
    # (the relational form of np.searchsorted)
    cx = (F.col("x0") + F.col("x1")) / 2.0
    cy = (F.col("y0") + F.col("y1")) / 2.0
    la = (
        lines.join(areas, ["doc_id", "p_num"])
        .withColumn("cx", cx)
        .withColumn("cy", cy)
        .filter(
            (F.col("cx") >= F.col("ax0")) & (F.col("cx") <= F.col("ax1"))
            & (F.col("cy") >= F.col("ay0")) & (F.col("cy") <= F.col("ay1"))
        )
        .withColumn("ncols", F.size("col_b") - 1)
        .withColumn("nrows", F.size("row_b") - 1)
        # STRICT < : the oracle's np.searchsorted(side='left') - 1 counts
        # borders strictly below the center; a center exactly on a border
        # must land in the same cell on both paths (frozen convention,
        # see constants.py CELL_BORDER_STRICT note)
        .withColumn(
            "ci",
            F.size(F.filter("col_b", lambda b: b < F.col("cx"))) - 1,
        )
        .withColumn(
            "ri",
            F.size(F.filter("row_b", lambda b: b < F.col("cy"))) - 1,
        )
        .filter(
            (F.col("ci") >= 0) & (F.col("ci") < F.col("ncols"))
            & (F.col("ri") >= 0) & (F.col("ri") < F.col("nrows"))
        )
        .withColumn("r_top", F.col("nrows") - 1 - F.col("ri"))
    )

    # within-cell ordering: x0 - 40*y0 ascending (extract_tables.py:115-123)
    cell_sort_key = F.col("x0") - F.lit(CELL_SORT_Y_WEIGHT) * F.col("y0")
    cells = (
        la.groupBy("doc_id", "p_num", "area_id", "r_top", "ci")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(cell_sort_key.alias("sk"),
                                                F.col("rawtext").alias("t")))
                    ),
                    lambda x: x["t"],
                ),
                " ",
            ).alias("cell_txt")
        )
    )

    # ---------------- grid render + validity, per area (pure SQL)
    grids = (
        cells.join(
            areas.select("doc_id", "p_num", "area_id", "ax0", "ay0",
                         (F.size("row_b") - 1).alias("nrows"),
                         (F.size("col_b") - 1).alias("ncols")),
            ["doc_id", "p_num", "area_id"],
        )
        .groupBy("doc_id", "p_num", "area_id", "ax0", "ay0", "nrows", "ncols")
        .agg(
            F.map_from_arrays(
                F.collect_list(F.col("r_top") * 10000 + F.col("ci")),
                F.collect_list("cell_txt"),
            ).alias("cellmap"),
            F.count("*").alias("filled"),
        )
        # full is_valid_table lockstep: >=2 rows AND >=2 cols AND
        # half-filled (detect_table_areas only guarantees >=2 borders,
        # i.e. nrows/ncols >= 1 — without this a 1-row ruled area is
        # emitted here but rejected by the oracle, flipping the
        # covered-text anti-join)
        .filter(
            (F.col("filled") * 2 >= F.col("nrows") * F.col("ncols"))
            & (F.col("nrows") >= 2)
            & (F.col("ncols") >= 2)
        )
    ).persist()  # reused by table render AND valid-area anti-join
    row_expr = (
        "array_join(transform(sequence(0, ncols - 1), "
        "c -> coalesce(element_at(cellmap, r * 10000 + c), '')), '{cell}')"
    ).format(cell=CELL_SEP)
    tbl_text = F.expr(
        "array_join(transform(sequence(0, nrows - 1), r -> {row}), '{rs}')".format(
            row=row_expr, rs="\\n"
        )
    )
    tables = grids.select(
        F.col("doc_id").alias("ref"),
        "p_num",
        F.col("ay0").alias("y0"),
        F.col("ax0").alias("x0"),
        F.lit(KIND_TABLE).alias("kind"),
        tbl_text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )

    # valid areas (those that produced a table) for the covered-box
    # anti-join
    valid_areas = grids.select("doc_id", "p_num", "area_id").join(
        areas, ["doc_id", "p_num", "area_id"]
    ).select("doc_id", "p_num", "ax0", "ay0", "ax1", "ay1")
    return tables, valid_areas

def pdf_layout_items(pdf_elements: DataFrame) -> DataFrame:
    """pdf_elements -> unordered item rows (ITEM schema).  The caller
    (pipeline._pdf_branch) attaches reading-order sort keys.

    Table-path routing is PER (doc, page), mirroring the canonical
    single-process oracle (functions/pdflayout.extract_pdf_items:383-407):
    pages carrying type='Char' rows take the full-fidelity chars kernel
    (word rebuild, sweep-line cells, spanning grid, frozen validity
    tree), every other page runs the relational ruled-grid path
    (whole-stage codegen).  On a mixed corpus both engines therefore
    select identically per page — a global mode switch would silently
    diverge (ignore Char rows, or drop char-less ruled pages).
    (extract(table_mode='chars') only asks the blob parser for Char
    rows; it does not switch the layout path.)
    """
    from pyspark import StorageLevel

    # five consumers below (text lines x2, graphics, size_cuts, images)
    # would each rescan the parquet source; one narrow projection is
    # persisted instead — five low-utilization scan stages collapse
    # into one (MEMORY_AND_DISK: spills, never fails, per-job lifetime)
    el = pdf_elements.select(
        "doc_id", "p_num", "boxnum", "linenum", "type", "x0", "y0",
        "x1", "y1", "rawtext", "font_size", "mean_char_orientation",
        "media_ref",
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # ---------------- text lines (vertical + empty excluded)
    lines = el.filter(
        (F.col("type") == "Text")
        & F.col("rawtext").isNotNull()
        & (F.length(F.trim("rawtext")) > 0)
        # 90 AND 270 are both vertical (r6: the bytes parser now emits
        # 270° labels too); VERTICAL_ORIENTATION stays the canonical 90
        & (F.coalesce(F.col("mean_char_orientation"), F.lit(0.0))
           % F.lit(180.0) == F.lit(0.0))
    ).select(
        "doc_id", "p_num", "boxnum", "linenum", "x0", "y0", "x1", "y1",
        "rawtext", "font_size",
    )

    # ---------------- title threshold: exact median per doc (JVM)
    size_cuts = (
        el.filter((F.col("type") == "Text") & F.col("font_size").isNotNull())
        .groupBy("doc_id")
        .agg((F.median("font_size") * F.lit(TITLE_SIZE_RATIO)).alias("size_cut"))
    )

    # ---------------- per-page routed table kernel: ONE applyInPandas
    # pass over Graphic+Char rows decides per page (inside the kernel,
    # mirroring the oracle) between the finished chars pipeline and
    # grid candidate areas — no routing joins, no extra shuffles; the
    # routed output is persisted because it feeds four consumers
    # (chars tables, grid cell assignment, grid metadata, covered-box
    # anti-join) and each would re-run the python kernel otherwise.
    gc = el.filter(F.col("type").isin("Graphic", "Char")).select(
        "doc_id", "p_num", "type", "x0", "y0", "x1", "y1", "rawtext",
        (F.col("p_num") / PAGES_PER_BUCKET).cast("int").alias("page_bucket"),
    )
    # explicit repartition on the group keys: the kernel stage is
    # COMPUTE-heavy but byte-light (tens of small rows per page), so
    # AQE's size-based coalescing would shrink it to a handful of
    # tasks (measured: 5 tasks / 12.6 s on a 5000-doc chars corpus vs
    # full-width ~2 s).  Since r7 the kernel runs as a contiguous-run
    # mapInPandas walk (kernels.walk_runs, CLAUDE.md trap 14) instead
    # of groupBy.applyInPandas — identical per-group inputs without the
    # ~18 ms/group pandas fixed cost (88 vs ~8 task-seconds on the
    # 5000-doc sf0.1 chars corpus).
    routed = walk_runs(gc, _BUCKET, _page_router_kernel, ROUTED).persist()

    tables_chars = routed.filter(F.col("kind") == "table").select(
        F.col("doc_id").alias("ref"),
        "p_num",
        "y0",
        "x0",
        F.lit(KIND_TABLE).alias("kind"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
    )
    valid_chars = routed.filter(F.col("kind") == "table").select(
        "doc_id", "p_num",
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
    )
    areas = routed.filter(F.col("kind") == "area").select(
        "doc_id", "p_num", "area_id",
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        "row_b", "col_b",
    )
    tables_grid, valid_grid = _grid_tables(areas, lines)
    tables = tables_chars.unionByName(tables_grid)
    valid_areas = valid_chars.unionByName(valid_grid)


    # ---------------- text boxes: hash-agg grouping, JVM only
    boxes = (
        lines.groupBy("doc_id", "p_num", "boxnum")
        .agg(
            F.min("x0").alias("x0"),
            F.min("y0").alias("y0"),
            F.max("x1").alias("x1"),
            F.max("y1").alias("y1"),
            F.max("font_size").alias("font_size"),
            F.sum(F.size(F.split(F.trim("rawtext"), r"\s+"))).alias("words"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("linenum", F.col("rawtext").alias("t")))
                    ),
                    lambda x: x["t"],
                ),
                " ",
            ).alias("btext"),
        )
        .filter(F.length("btext") >= MIN_BOX_TEXT_CHARS)
    )
    # covered-text anti-join (±1 tolerance, matching the oracle);
    # explicit renames keep the equi-keys unambiguous for the analyzer
    va = valid_areas.select(
        F.col("doc_id").alias("va_doc_id"), F.col("p_num").alias("va_p_num"),
        "ax0", "ay0", "ax1", "ay1")
    boxes = boxes.join(
        va,
        on=[
            boxes.doc_id == va.va_doc_id,
            boxes.p_num == va.va_p_num,
            boxes.x0 >= va.ax0 - 1,
            boxes.x1 <= va.ax1 + 1,
            boxes.y0 >= va.ay0 - 1,
            boxes.y1 <= va.ay1 + 1,
        ],
        how="left_anti",
    )
    box_items = boxes.join(size_cuts, "doc_id", "left").select(
        F.col("doc_id").alias("ref"),
        "p_num",
        "y0",
        "x0",
        F.when(
            F.col("size_cut").isNotNull()
            & (F.col("font_size") >= F.col("size_cut"))
            & (F.col("words") < TITLE_MAX_WORDS),
            KIND_HEADER,
        ).otherwise(KIND_TEXT).alias("kind"),
        F.col("btext").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )

    # ---------------- images: projection
    image_items = el.filter(F.col("type") == "Image").select(
        F.col("doc_id").alias("ref"),
        "p_num",
        "y0",
        "x0",
        F.lit(KIND_IMAGE).alias("kind"),
        F.lit(None).cast("string").alias("text"),
        "media_ref",
    )

    # ---------------- parse failures (bytes path): error rows that the
    # assembly routes to the `error` column + parse_failures metric
    error_items = el.filter(F.col("type") == "ParseError").select(
        F.col("doc_id").alias("ref"),
        "p_num",
        F.lit(0.0).alias("y0"),
        F.lit(0.0).alias("x0"),
        F.lit(KIND_ERROR).alias("kind"),
        F.col("rawtext").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )

    return (tables.unionByName(box_items).unionByName(image_items)
            .unionByName(error_items))


# --------------------------------------------- text-only (unruled) tables

TEXTONLY = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("p_num", IntegerType(), False),
        StructField("x0", DoubleType(), False),
        StructField("y0", DoubleType(), False),
        StructField("x1", DoubleType(), False),
        StructField("y1", DoubleType(), False),
        StructField("text", StringType(), True),
    ]
)


def _textonly_kernel(pdf: pd.DataFrame) -> list[tuple]:
    """kernels.walk_runs kernel over one (doc_id, page_bucket) group of
    Text+Graphic rows: pages WITHOUT graphics run alignment-based grid
    detection (functions/textonly_tables.detect_text_only_grid); pages
    with graphics belong to the ruled/chars routed kernel and are
    skipped here, so running both ops never double-reports a table."""
    from ..functions.spantext import table_to_text
    from ..functions.textonly_tables import detect_text_only_grid

    rows = []
    doc_id = pdf["doc_id"].iloc[0]
    for p, page in pdf.groupby("p_num"):
        if (page["type"] == "Graphic").any():
            continue
        t = page[page["type"] == "Text"]
        if len(t) < 4:
            continue
        boxes = t[["x0", "y0", "x1", "y1"]].to_numpy(float)
        grid = detect_text_only_grid(boxes, t["rawtext"].tolist())
        if grid is None:
            continue
        rows.append(
            (doc_id, int(p),
             float(boxes[:, 0].min()), float(boxes[:, 1].min()),
             float(boxes[:, 2].max()), float(boxes[:, 3].max()),
             table_to_text(grid))
        )
    return rows


def textonly_tables_from_elements(pdf_elements: DataFrame) -> DataFrame:
    """Opt-in unruled-table extraction — reference
    convert_cells_to_df_text_only (extract_tables.py:610-662): infer a
    cell grid from text-line alignment on pages that carry NO graphic
    rules.  Not part of the default pipeline (alignment detection can
    false-positive on multi-column prose; the row-fill discriminator
    rejects prose, but the default corpus contract only promises ruled
    tables) — run it as a side channel and union the results.

    Input needs (doc_id, p_num, type, x0, y0, x1, y1, rawtext); feed
    pre-filtered horizontal text lines for parity with the main path.
    Returns (doc_id, p_num, bbox, text) with the canonical ' | '/'\\n'
    table rendering.

    Scale shape: same as the routed table kernel — one kernels.walk_runs
    pass over (doc, page_bucket) runs with an explicit repartition on
    exactly the group keys (the stage is compute-heavy and byte-light,
    so AQE's byte-based coalescing would serialize it)."""
    el = pdf_elements.filter(
        (F.col("type") == "Graphic")
        | (
            (F.col("type") == "Text")
            & F.col("rawtext").isNotNull()
            & (F.length(F.trim("rawtext")) > 0)
        )
    ).select(
        "doc_id", "p_num", "type", "x0", "y0", "x1", "y1", "rawtext",
        (F.col("p_num") / PAGES_PER_BUCKET).cast("int").alias("page_bucket"),
    )
    return walk_runs(el, _BUCKET, _textonly_kernel, TEXTONLY)
