"""PDF layout kernel: pre-parsed elements -> ordered spans (per document).

Re-expresses the reference's layout pipeline with numpy per doc:

  - textbox grouping by (p_num, boxnum) with bbox min/max agg
    (reference extract_textstructure.py:99-158)
  - reading-order sort (p_num asc, y0 desc, x0 asc)
    (reference extract_textstructure.py:418)
  - vertical-text and 1-char-box exclusion
    (reference extract_textstructure.py:410-412)
  - graphics filtering (huge page-background + tiny decorations)
    (reference extract_tables.py:893-949)
  - table-area candidates via single-linkage clustering of graphics
    with gap-distance threshold; union-find replaces sklearn
    AgglomerativeClustering — same single-linkage result
    (reference extract_tables.py:1099-1174, cluster_utils.py:681-721)
  - grid-line inference via 1-D gap clustering (cluster1D,
    reference cluster_utils.py:727-733) and cell text assignment
    (sweep-line equivalent for ruled tables,
    reference extract_tables.py:400-608)
  - table validity check (intent of the frozen decision tree at
    extract_tables.py:752-758; see is_valid_table docstring)
  - covered-text anti-join: text boxes inside a valid table area are
    consumed by the table span (reference extract_textstructure.py:368-372)
  - title detection: deterministic font-size-quantile + word-count rule
    standing in for the reference's unseeded IsolationForest
    (extract_textstructure.py:172-256; SURVEY.md §7.3 risk 2)

Runs per document inside Arrow-batched `mapInPandas` — no per-row
Python at the Spark level.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..constants import (
    AREA_DETECTION_LEVELS,
    CELL_BORDER_TOLERANCE,
    CELL_SORT_Y_WEIGHT,
    KIND_HEADER,
    KIND_IMAGE,
    KIND_TABLE,
    KIND_TEXT,
    MAX_GRAPHIC_PAGE_AREA_RATIO,
    MAX_TABLE_ASPECT,
    MIN_BOX_TEXT_CHARS,
    MIN_CELL_WIDTH,
    MIN_GRAPHIC_SIZE,
    MIN_TABLE_AREA,
    PAGE_MARGIN,
    TABLE_AREA_CLUSTER_THRESHOLD,
    TITLE_MAX_WORDS,
    TITLE_SIZE_RATIO,
    VERTICAL_ORIENTATION,
)
from .spantext import table_to_text

PAGE_W, PAGE_H = 612.0, 792.0  # US-Letter 72dpi default (pdf_utils.py:220-223)


# ------------------------------------------------------------ union-find


def _union_find_cluster(connect: np.ndarray) -> np.ndarray:
    """Labels connected components of a boolean adjacency matrix.
    Single-linkage clustering over a thresholded distance graph ==
    AgglomerativeClustering(linkage='single', distance_threshold)."""
    n = connect.shape[0]
    parent = np.arange(n)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ii, jj = np.nonzero(np.triu(connect, 1))
    for i, j in zip(ii.tolist(), jj.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[rj] = ri
    return np.array([find(i) for i in range(n)])


def _axis_gap(boxes: np.ndarray, axis: int) -> np.ndarray:
    """Pairwise gap along one axis, clipped at 0 (reference
    pairwise_box_gap_distance_along_axis_func, cluster_utils.py:154-191:
    minimum-bounding-length minus the two individual lengths)."""
    c0, c1 = (1, 3) if axis == 1 else (0, 2)
    lo, hi = boxes[:, c0], boxes[:, c1]
    l_along = np.maximum(hi[:, None], hi[None, :]) - np.minimum(lo[:, None], lo[None, :])
    lb = hi - lo
    return np.maximum(0.0, l_along - lb[:, None] - lb[None, :])


def _edge_alignments(boxes: np.ndarray) -> list[np.ndarray]:
    """The six pairwise edge/middle alignment distances (reference
    pairwise_edge_coordinate_alignement, cluster_utils.py:479-496):
    [x0, x_mid, x1, y0, y_mid, y1] absolute differences."""
    xm = (boxes[:, 0] + boxes[:, 2]) / 2.0
    ym = (boxes[:, 1] + boxes[:, 3]) / 2.0
    cols = [boxes[:, 0], xm, boxes[:, 2], boxes[:, 1], ym, boxes[:, 3]]
    return [np.abs(c[:, None] - c[None, :]) for c in cols]


def _weighted_distance_matrix(
    boxes: np.ndarray, params: dict[str, list[float]]
) -> np.ndarray:
    """Weighted min-of-sums distance used for table-area merging
    (reference pairwise_weighted_distance_combination,
    cluster_utils.py:585-625 with the 'va'/'ha' parameter sets):
      d_va = va0*y_gap + min(|x0|d*va1, |xm|d*va2, |x1|d*va3)
      d_ha = ha0*x_gap + min(|y0|d*ha1, |ym|d*ha2, |y1|d*ha3)
      d    = min(d_va, d_ha)      # OR-relationship between criteria
    """
    align = _edge_alignments(boxes)
    d_coll = []
    if p := params.get("va"):
        y_gap = _axis_gap(boxes, 1)
        d_coll.append(
            p[0] * y_gap
            + np.minimum(np.minimum(align[0] * p[1], align[1] * p[2]), align[2] * p[3])
        )
    if p := params.get("ha"):
        x_gap = _axis_gap(boxes, 0)
        d_coll.append(
            p[0] * x_gap
            + np.minimum(np.minimum(align[3] * p[1], align[4] * p[2]), align[5] * p[3])
        )
    return np.minimum.reduce(d_coll)


def multilevel_cluster(
    gb: np.ndarray,
    levels: list[dict[str, list[float]]],
    threshold: float,
) -> np.ndarray:
    """Iterative multi-level area clustering (reference
    detect_table_area_candidates, extract_tables.py:1130-1146: each
    level clusters the PREVIOUS level's merged boxes with its own
    distance weights).  Returns the FINAL cluster label per ORIGINAL
    box (labels composed through the level merges).  Merge condition is
    strict `< threshold` — sklearn AgglomerativeClustering stops at
    distances >= distance_threshold."""
    cur = gb
    assign = np.arange(len(gb))
    for params in levels:
        if len(cur) < 2:
            break
        labels = _union_find_cluster(_weighted_distance_matrix(cur, params) < threshold)
        _uniq, inv = np.unique(labels, return_inverse=True)
        merged = np.empty((len(_uniq), 4))
        for gi in range(len(_uniq)):
            m = cur[inv == gi]
            merged[gi] = (m[:, 0].min(), m[:, 1].min(), m[:, 2].max(), m[:, 3].max())
        assign = inv[assign]
        cur = merged
    return assign


def _cluster_1d(vals: np.ndarray, tol: float) -> np.ndarray:
    """Sorted 1-D values -> merged representative positions (mean of each
    gap-separated run).  Equivalent of the reference's cluster1D."""
    if len(vals) == 0:
        return vals
    v = np.sort(vals)
    splits = np.nonzero(np.diff(v) > tol)[0] + 1
    return np.array([g.mean() for g in np.split(v, splits)])


# ---------------------------------------------------------------- tables


def is_valid_table(grid: list[list[str]], n_cell_texts: int) -> bool:
    """Structural validity: >=2 rows, >=2 cols, and at least half of the
    grid cells carry text.

    The reference uses a frozen 2-split decision tree over pdfminer word
    geometry (thresholds 1.2666667699813843 / 11.474941492080688,
    extract_tables.py:752-758).  Those features need raw char-level word
    boxes that the pre-parsed element fixture does not carry; this check
    preserves the tree's intent (reject sparse/degenerate candidates).
    """
    if len(grid) < 2 or not grid or len(grid[0]) < 2:
        return False
    total = len(grid) * len(grid[0])
    filled = sum(1 for row in grid for c in row if c)
    return filled * 2 >= total


def filter_graphics(gb: np.ndarray) -> np.ndarray:
    """Reference graphics pre-filter (filter_out_small_graphics_elements,
    extract_tables.py:893-949): drop page-background rects
    (area_ratio >= 0.4), elements thinner than the min dims in their
    long direction ((w>h AND w>min) OR (h>w AND h>min); squares and
    dots fail both arms), and elements within PAGE_MARGIN of the page
    edge.  min dims use the 5.0 floor (the reference couples them to
    the page's smallest text box; the floor is its recall-preserving
    lower bound — documented deviation)."""
    if len(gb) == 0:
        return gb
    w = gb[:, 2] - gb[:, 0]
    h = gb[:, 3] - gb[:, 1]
    area_ratio = (w * h) / (PAGE_W * PAGE_H)
    keep = (
        (area_ratio < MAX_GRAPHIC_PAGE_AREA_RATIO)
        & (((w > h) & (w > MIN_GRAPHIC_SIZE)) | ((h > w) & (h > MIN_GRAPHIC_SIZE)))
        & (gb[:, 2] + PAGE_MARGIN < PAGE_W)
        & (gb[:, 3] + PAGE_MARGIN < PAGE_H)
        & (gb[:, 0] - PAGE_MARGIN > 0.0)
        & (gb[:, 1] - PAGE_MARGIN > 0.0)
    )
    return gb[keep]


def _area_ok(ax0: float, ay0: float, ax1: float, ay1: float) -> bool:
    """Candidate-area filters (_filter_boxes, extract_tables.py:1177-1210):
    area strictly > min_table_area, aspect ratio h/w strictly inside
    (min_aspect, max_aspect)."""
    aw, ah = ax1 - ax0, ay1 - ay0
    if aw <= 0 or ah <= 0 or aw * ah <= MIN_TABLE_AREA:
        return False
    aspect = ah / aw
    return (1.0 / MAX_TABLE_ASPECT) < aspect < MAX_TABLE_ASPECT


def detect_table_area_boxes(
    gb: np.ndarray,
) -> list[tuple[float, float, float, float, np.ndarray]]:
    """Graphics bboxes (n,4) of ONE page -> filtered candidate areas
    [(x0,y0,x1,y1, member_boxes)] sorted top-to-bottom
    (y1 desc, x0 asc, y0 desc, x1 asc — extract_tables.py:1170-1172).

    Two-level weighted-distance clustering (multilevel_cluster with
    AREA_DETECTION_LEVELS) replaces the single-level chebyshev pass;
    this is what separates nested/nearby tables the single level
    merges."""
    gb = filter_graphics(np.asarray(gb, dtype=float))
    if len(gb) == 0:
        return []
    assign = multilevel_cluster(gb, AREA_DETECTION_LEVELS,
                                TABLE_AREA_CLUSTER_THRESHOLD)
    out = []
    for lab in np.unique(assign):
        cb = gb[assign == lab]
        ax0, ay0 = cb[:, 0].min(), cb[:, 1].min()
        ax1, ay1 = cb[:, 2].max(), cb[:, 3].max()
        if not _area_ok(ax0, ay0, ax1, ay1):
            continue
        out.append((float(ax0), float(ay0), float(ax1), float(ay1), cb))
    out.sort(key=lambda a: (-a[3], a[0], -a[1], a[2]))
    return out


def detect_table_areas(
    gb: np.ndarray,
) -> list[tuple[float, float, float, float, np.ndarray, np.ndarray]]:
    """Graphics bboxes (n,4) of ONE page -> candidate table areas
    [(x0,y0,x1,y1, row_borders asc-y, col_borders asc-x)].

    Shared by the single-process oracle and the Spark graphics kernel:
    graphics filtering (extract_tables.py:893-949), two-level weighted
    single-linkage clustering via union-find (:1099-1174,
    cluster_utils.py:585-625, 681-721), area filters (:1177-1210),
    grid-border inference (cluster1D, cluster_utils.py:727-733).
    Cell-text assignment and validity are relational and happen OUTSIDE
    (Spark SQL / oracle python); the char-level full-fidelity path is
    functions/tablecells.py.
    """
    out = []
    for ax0, ay0, ax1, ay1, cb in detect_table_area_boxes(gb):
        ch = cb[:, 3] - cb[:, 1]
        cw = cb[:, 2] - cb[:, 0]
        hy = cb[(np.abs(ch) <= 2.0) & (cw > MIN_CELL_WIDTH), 1]
        vx = cb[(np.abs(cw) <= 2.0) & (ch > MIN_CELL_WIDTH), 0]
        row_b = _cluster_1d(hy, CELL_BORDER_TOLERANCE)  # ascending y
        col_b = _cluster_1d(vx, CELL_BORDER_TOLERANCE)  # ascending x
        if len(row_b) < 2 or len(col_b) < 2:
            continue
        out.append((ax0, ay0, ax1, ay1, row_b, col_b))
    return out


def _detect_tables_on_page(
    g: pd.DataFrame, lines: pd.DataFrame
) -> list[tuple[float, float, float, float, str]]:
    """graphics + text lines of one page -> [(x0,y0,x1,y1, table_text)].
    Oracle path: detect_table_areas + cell assignment, single-process.
    Within-cell ordering: x0 - CELL_SORT_Y_WEIGHT*y0 ascending
    (extract_tables.py:115-123)."""
    if g.empty:
        return []
    areas = detect_table_areas(g[["x0", "y0", "x1", "y1"]].to_numpy(float))
    if not areas:
        return []
    lx = lines[["x0", "y0", "x1", "y1"]].to_numpy(float) if not lines.empty else np.zeros((0, 4))
    ltxt = lines["rawtext"].tolist() if not lines.empty else []

    out = []
    for ax0, ay0, ax1, ay1, row_b, col_b in areas:
        nrows, ncols = len(row_b) - 1, len(col_b) - 1
        cells: dict[tuple[int, int], list[tuple[float, str]]] = {}
        n_assigned = 0
        if len(lx):
            cx = (lx[:, 0] + lx[:, 2]) / 2.0
            cy = (lx[:, 1] + lx[:, 3]) / 2.0
            inside = (cx >= ax0) & (cx <= ax1) & (cy >= ay0) & (cy <= ay1)
            for i in np.nonzero(inside)[0]:
                ci = int(np.searchsorted(col_b, cx[i]) - 1)
                ri = int(np.searchsorted(row_b, cy[i]) - 1)
                if 0 <= ci < ncols and 0 <= ri < nrows and ltxt[i]:
                    r_top = nrows - 1 - ri
                    sk = float(lx[i, 0] - CELL_SORT_Y_WEIGHT * lx[i, 1])
                    cells.setdefault((r_top, ci), []).append((sk, ltxt[i]))
                    n_assigned += 1
        grid = [["" for _ in range(ncols)] for _ in range(nrows)]
        for (r, c), entries in cells.items():
            entries.sort()
            grid[r][c] = " ".join(t for _sk, t in entries)
        if is_valid_table(grid, n_assigned):
            out.append((ax0, ay0, ax1, ay1, table_to_text(grid)))
    return out


# ----------------------------------------------------------------- kernel


def doc_title_size_cut(elements: pd.DataFrame) -> float:
    """Doc-level title font-size threshold = TITLE_SIZE_RATIO * median of
    text-line font sizes.  Computed OUTSIDE the page kernel so pages of a
    giant doc can be processed in parallel buckets (skew defusal,
    SURVEY.md §4); the Spark pipeline computes the same value JVM-side
    with F.median and passes it in."""
    sizes = elements.loc[elements["type"] == "Text", "font_size"].dropna()
    if sizes.empty:
        return float("inf")
    return float(np.median(sizes.to_numpy(float))) * TITLE_SIZE_RATIO


def extract_pdf_items(
    elements: pd.DataFrame, size_cut: float
) -> list[tuple[int, float, float, str, str | None, str | None]]:
    """Elements (any subset of a doc's pages) -> UNORDERED items
    [(p_num, y0, x0, kind, text, media_ref)].  Page-local: safe to call
    per page bucket; caller sorts by (p_num, -y0, x0) for reading order.
    """
    if elements.empty:
        return []
    el = elements

    text = el[
        (el["type"] == "Text")
        & el["rawtext"].notna()
        # any non-horizontal orientation (90 OR 270) is vertical —
        # dropped like the reference's template rotation filter
        & (el["mean_char_orientation"].fillna(0.0) % 180.0 == 0.0)
    ]
    graphics = el[el["type"] == "Graphic"]
    images = el[el["type"] == "Image"]
    chars = el[el["type"] == "Char"] if (el["type"] == "Char").any() else None

    items: list[tuple[int, float, float, str, str | None, str | None]] = []
    # (p_num, y0, x0, kind, text, media_ref)

    # ---- tables first (to know which text boxes they consume).
    # Pages carrying char-level elements take the full-fidelity path
    # (word rebuild + sweep-line + spanning cells + frozen validity
    # tree, functions/tablecells.py); element tables without chars use
    # the ruled-grid path.
    table_areas_by_page: dict[int, list[tuple[float, float, float, float]]] = {}
    for p in sorted(set(graphics["p_num"].tolist())):
        pch = chars[chars["p_num"] == p] if chars is not None else None
        if pch is not None and len(pch):
            # local import: tablecells imports from this module
            from .tablecells import extract_page_tables_full

            g = graphics[graphics["p_num"] == p]
            full = extract_page_tables_full(
                g[["x0", "y0", "x1", "y1"]].to_numpy(float),
                pch[["x0", "y0", "x1", "y1"]].to_numpy(float),
                pch["rawtext"].tolist(),
            )
            table_areas_by_page[p] = [bb for bb, _g in full]
            for (bx0, by0, _bx1, _by1), grid in full:
                items.append(
                    (int(p), float(by0), float(bx0), KIND_TABLE,
                     table_to_text(grid), None))
            continue
        t_areas = _detect_tables_on_page(
            graphics[graphics["p_num"] == p], text[text["p_num"] == p]
        )
        table_areas_by_page[p] = [(a[0], a[1], a[2], a[3]) for a in t_areas]
        for ax0, ay0, _ax1, _ay1, ttext in t_areas:
            items.append((int(p), float(ay0), float(ax0), KIND_TABLE, ttext, None))

    # ---- text boxes: group by (p_num, boxnum), lines joined in linenum
    # order by ' ' (box text normal form), bbox = min/max
    if not text.empty:
        tt = text.sort_values(["p_num", "boxnum", "linenum"], kind="mergesort")
        grouped = tt.groupby(["p_num", "boxnum"], sort=False).agg(
            x0=("x0", "min"),
            y0=("y0", "min"),
            x1=("x1", "max"),
            y1=("y1", "max"),
            btext=("rawtext", lambda s: " ".join(v for v in s if v)),
            font_size=("font_size", "max"),
            words=("rawtext", lambda s: sum(len((v or "").split()) for v in s)),
        )
        grouped = grouped[grouped["btext"].str.len() >= MIN_BOX_TEXT_CHARS]

        for (p, _b), row in grouped.iterrows():
            # anti-join: inside a valid table area on this page -> consumed
            covered = any(
                row["x0"] >= ax0 - 1 and row["x1"] <= ax1 + 1
                and row["y0"] >= ay0 - 1 and row["y1"] <= ay1 + 1
                for ax0, ay0, ax1, ay1 in table_areas_by_page.get(int(p), [])
            )
            if covered:
                continue
            is_title = (
                row["font_size"] is not None
                and float(row["font_size"]) >= size_cut
                and int(row["words"]) < TITLE_MAX_WORDS
            )
            items.append(
                (int(p), float(row["y0"]), float(row["x0"]),
                 KIND_HEADER if is_title else KIND_TEXT, row["btext"], None)
            )

    # ---- images
    for _, row in images.iterrows():
        items.append(
            (int(row["p_num"]), float(row["y0"]), float(row["x0"]),
             KIND_IMAGE, None, row.get("media_ref"))
        )

    return items


def extract_pdf_spans(elements: pd.DataFrame) -> list[tuple[str, str | None, str | None]]:
    """One FULL document's elements -> reading-ordered (kind, text,
    media_ref).  Single-process oracle path used by tests; the Spark
    pipeline runs extract_pdf_items per page bucket and sorts JVM-side."""
    items = extract_pdf_items(elements, doc_title_size_cut(elements))
    # reading order: p asc, y0 desc, x0 asc (extract_textstructure.py:418)
    items.sort(key=lambda t: (t[0], -t[1], t[2]))
    return [(k, txt, ref) for _p, _y, _x, k, txt, ref in items]
