"""Relational (Spark-first) PDF layout branch.

The original all-Python kernel (functions/pdflayout.extract_pdf_spans,
kept as the single-process oracle) spent ~18 ms of pandas overhead per
34-row group — the classic UDF-in-the-hot-path anti-pattern.  Here the
90% that is relational runs as whole-stage-codegen Spark SQL, and ONLY
the page-local table work (graphics clustering and the cells of the
page's tables, a numpy kernel over one page's rows) stays in Python:

  stage                          | engine | reference
  -------------------------------|--------|----------------------------
  text-box grouping (min/max/agg)| SQL    | extract_textstructure.py:99-158
  title rule (median font join)  | SQL    | extract_textstructure.py:172-256
  graphics -> table areas+borders| numpy  | extract_tables.py:893-1210
  cell assignment (border search)| numpy  | extract_tables.py:400-553
  grid render + validity         | numpy  | extract_tables.py:555-608,714-761
  covered-text anti-join         | SQL    | extract_textstructure.py:368-372
  reading order                  | SQL    | extract_textstructure.py:418

Scale: every aggregate is map-side combinable; the table kernel sees
only Graphic, Char and text-line rows; giant docs parallelize by page
bucket; no stage holds more than a page bucket of data in Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
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
from ..session import pin

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


# per-page routed kernel output: one finished table (ruled grid or
# chars pipeline) with its area bbox
ROUTED = StructType(
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


def _grid_page_tables(graphics, lines, texts) -> list[tuple]:
    """Ruled-grid tables of ONE char-less page: graphics (n,4) -> areas
    + borders (functions/pdflayout.detect_table_areas); text lines
    (m,4) with their raw texts -> cells.  A line belongs to the area
    holding its centre; its cell index counts the borders STRICTLY
    below the centre (np.searchsorted side='left', constants.py
    CELL_BORDER_STRICT), so a centre exactly on a border lands in the
    cell before it.  Within a cell, lines join with ' ' in (x0 -
    CELL_SORT_Y_WEIGHT*y0, text) order (extract_tables.py:115-123).
    Valid iff >=2 rows, >=2 columns and at least half the cells filled
    (detect_table_areas only guarantees >=2 borders).  Rendered raw:
    cells ' | '-joined, rows '\\n'-joined, empty cells '' — no
    whitespace normalisation.  -> [((x0, y0, x1, y1), text)]"""
    import numpy as np

    from ..functions.pdflayout import detect_table_areas

    out = []
    cx = (lines[:, 0] + lines[:, 2]) / 2.0
    cy = (lines[:, 1] + lines[:, 3]) / 2.0
    sort_key = lines[:, 0] - CELL_SORT_Y_WEIGHT * lines[:, 1]
    for ax0, ay0, ax1, ay1, row_b, col_b in detect_table_areas(graphics):
        nrows, ncols = len(row_b) - 1, len(col_b) - 1
        if nrows < 2 or ncols < 2:
            continue
        ci = np.searchsorted(col_b, cx) - 1
        ri = np.searchsorted(row_b, cy) - 1
        inside = np.flatnonzero(
            (cx >= ax0) & (cx <= ax1) & (cy >= ay0) & (cy <= ay1)
            & (ci >= 0) & (ci < ncols) & (ri >= 0) & (ri < nrows))
        cells: dict[tuple[int, int], list[tuple[float, str]]] = {}
        for i in inside:
            cells.setdefault((nrows - 1 - int(ri[i]), int(ci[i])), []).append(
                (float(sort_key[i]), texts[i]))
        if len(cells) * 2 < nrows * ncols:
            continue
        joined = {rc: " ".join(t for _k, t in sorted(v))
                  for rc, v in cells.items()}
        text = "\n".join(
            CELL_SEP.join(joined.get((r, c), "") for c in range(ncols))
            for r in range(nrows))
        out.append(((ax0, ay0, ax1, ay1), text))
    return out


def _page_router_kernel(pdf: pd.DataFrame) -> list[tuple]:
    """kernels.walk_runs kernel over one (doc_id, page_bucket) group of
    GRAPHIC + CHAR + text-line rows, routing PER PAGE exactly like the
    canonical oracle (functions/pdflayout.extract_pdf_items:383-407):

      page has Char rows  -> full reference table pipeline (word
                             rebuild -> sweep-line -> spanning grid ->
                             frozen validity tree)
      page has none       -> ruled grid: area clustering, cell
                             assignment of the page's text lines,
                             validity and render (_grid_page_tables)

    Both paths emit finished tables: one kernel pass, no routing joins
    and no cell-level aggregation after it.  Text lines and Char rows
    add shuffle volume, not jobs."""
    import numpy as np

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
    is_line = typ == "Text"
    for p in np.unique(p_arr):
        on_page = p_arr == p
        g = on_page & is_g
        if not g.any():
            continue
        ch = on_page & is_ch
        if ch.any():
            tables = [(bbox, table_to_text(grid))
                      for bbox, grid in extract_page_tables_full(
                          coords[g], coords[ch], list(raw[ch]))]
        else:
            ln = on_page & is_line
            tables = _grid_page_tables(coords[g], coords[ln], list(raw[ln]))
        for (bx0, by0, bx1, by1), text in tables:
            rows.append((doc_id, int(p), bx0, by0, bx1, by1, text))
    return rows


def pdf_layout_items(pdf_elements: DataFrame) -> DataFrame:
    """pdf_elements -> unordered item rows (ITEM schema).  The caller
    (pipeline._pdf_branch) attaches reading-order sort keys.

    Table-path routing is PER (doc, page), mirroring the canonical
    single-process oracle (functions/pdflayout.extract_pdf_items:383-407):
    pages carrying type='Char' rows take the full-fidelity chars kernel
    (word rebuild, sweep-line cells, spanning grid, frozen validity
    tree), every other page with graphics runs the ruled-grid path;
    both finish inside the one routed kernel.  On a mixed corpus both
    engines therefore select identically per page — a global mode
    switch would silently diverge (ignore Char rows, or drop char-less
    ruled pages).
    (extract(table_mode='chars') only asks the blob parser for Char
    rows; it does not switch the layout path.)

    Two tables have several consumers and are pinned (session.pin):
    the narrow element projection and the routed kernel's output.  A
    pin is new on every call, so a later call over a grown input
    re-reads it; under AQE, constructing this plan runs the stages
    below any exchange in the input (CLAUDE.md trap 23).
    """
    # five consumers below (text lines, table kernel, size_cuts,
    # images, parse errors) would each rescan the parquet source; one
    # narrow projection is pinned instead — five low-utilization scan
    # stages collapse into one
    el = pin(pdf_elements.select(
        "doc_id", "p_num", "boxnum", "linenum", "type", "x0", "y0",
        "x1", "y1", "rawtext", "font_size", "mean_char_orientation",
        "media_ref",
    ))

    # ---------------- text lines (vertical + empty excluded)
    is_line = (
        (F.col("type") == "Text")
        & F.col("rawtext").isNotNull()
        & (F.length(F.trim("rawtext")) > 0)
        # 90 AND 270 are both vertical (r6: the bytes parser now emits
        # 270° labels too); VERTICAL_ORIENTATION stays the canonical 90
        & (F.coalesce(F.col("mean_char_orientation"), F.lit(0.0))
           % F.lit(180.0) == F.lit(0.0))
    )
    lines = el.filter(is_line).select(
        "doc_id", "p_num", "boxnum", "linenum", "x0", "y0", "x1", "y1",
        "rawtext", "font_size",
    )

    # ---------------- title threshold: exact median per doc (JVM)
    size_cuts = (
        el.filter((F.col("type") == "Text") & F.col("font_size").isNotNull())
        .groupBy("doc_id")
        .agg((F.median("font_size") * F.lit(TITLE_SIZE_RATIO)).alias("size_cut"))
    )

    # ---------------- per-page routed table kernel: ONE walk over the
    # Graphic + Char + text-line rows decides per page (inside the
    # kernel, mirroring the oracle) between the chars pipeline and the
    # ruled grid, and finishes the tables of both — no routing joins,
    # no cell aggregation; the output is pinned because it feeds the
    # table items AND the covered-box anti-join.
    gc = el.filter(F.col("type").isin("Graphic", "Char") | is_line).select(
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
    routed = pin(walk_runs(gc, _BUCKET, _page_router_kernel, ROUTED))
    tables = routed.select(
        F.col("doc_id").alias("ref"),
        "p_num",
        "y0",
        "x0",
        F.lit(KIND_TABLE).alias("kind"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
    )

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
    # covered-text anti-join against the tables' areas (±1 tolerance,
    # matching the oracle); explicit renames keep the equi-keys
    # unambiguous for the analyzer
    va = routed.select(
        F.col("doc_id").alias("va_doc_id"), F.col("p_num").alias("va_p_num"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"))
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
