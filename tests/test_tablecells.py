"""Full-fidelity table kernel tests: word rebuild from chars, sweep-line
cells, spanning cells, and the FROZEN is_valid decision tree — the
reference's golden-shape invariant (exactly 2 valid tables, shapes
(10,2) and (14,2); tests/test_extractor.py:170-184) reproduced on a
constructed char-level fixture."""

import numpy as np

from pydoxtools_spark.functions.tablecells import (
    cells_to_grid,
    extract_page_tables_full,
    is_valid_table_tree,
    sweep_line_cells,
    words_from_chars,
)

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _word(i: int, n: int = 5) -> str:
    return "".join(_LETTERS[(i * 7 + k) % 26] for k in range(n))


def ruled_table(tx0, ty1, nr, nc, cell_w=90.0, cell_h=20.0,
                words_per_cell=2, word_len=5, span_top=False):
    """Char-level ruled table: graphics lines + per-cell char boxes.
    Returns (graphics, char_boxes, char_texts, expected_grid)."""
    graphics, chars, texts = [], [], []
    ty0 = ty1 - nr * cell_h
    for r in range(nr + 1):
        y = ty1 - r * cell_h
        graphics.append((tx0, y, tx0 + nc * cell_w, y))
    for c in range(nc + 1):
        x = tx0 + c * cell_w
        top = ty1 - cell_h if (span_top and 0 < c < nc) else ty1
        graphics.append((x, ty0, x, top))
    expected = []
    wi = 0
    for r in range(nr):  # r = 0 is the TOP row
        row = []
        cols = 1 if (span_top and r == 0) else nc
        for c in range(cols):
            cy = ty1 - (r + 1) * cell_h + 6.0
            cx = tx0 + c * cell_w + 4.0
            ws = []
            for _ in range(words_per_cell):
                t = _word(wi, word_len)
                wi += 1
                for k, ch in enumerate(t):
                    chars.append((cx + k * 5.0, cy, cx + (k + 1) * 5.0, cy + 8.0))
                    texts.append(ch)
                ws.append(t)
                cx += len(t) * 5.0 + 5.0
            row.append(" ".join(ws))
        if span_top and r == 0:
            row = row * nc  # spanning text repeats at covered positions
        expected.append(row)
    return graphics, chars, texts, expected


def test_words_from_chars_rebuild():
    g, chars, texts, exp = ruled_table(72.0, 760.0, 2, 2)
    words, wtexts = words_from_chars(np.array(chars), texts)
    # 2 rows x 2 cols x 2 words
    assert len(wtexts) == 8
    flat = {w for row in exp for cell in row for w in cell.split()}
    assert set(wtexts) == flat


def test_sweep_line_and_grid_shapes():
    g, chars, texts, exp = ruled_table(72.0, 760.0, 3, 2)
    g, chars = np.array(g, dtype=float), np.array(chars, dtype=float)
    words, wtexts = words_from_chars(chars, texts)
    allb = np.vstack([words, g])
    bbox = (allb[:, 0].min(), allb[:, 1].min(), allb[:, 2].max(), allb[:, 3].max())
    cells = sweep_line_cells(g, words, wtexts, bbox)
    assert len(cells) == 6
    grid, hlines, vlines, span_count = cells_to_grid(cells, words, wtexts)
    assert len(grid) == 3 and len(grid[0]) == 2
    assert span_count == 0
    assert grid == exp  # top-down, left-right, exact text


def test_spanning_cell_meshgrid():
    g, chars, texts, exp = ruled_table(72.0, 700.0, 3, 2, span_top=True)
    tables = extract_page_tables_full(
        np.array(g, dtype=float), np.array(chars, dtype=float), texts)
    assert len(tables) == 1
    _bbox, grid = tables[0]
    assert len(grid) == 3 and len(grid[0]) == 2
    # the spanning header text occupies BOTH top positions
    assert grid[0][0] == grid[0][1] == exp[0][0]
    assert grid[1:] == exp[1:]


def test_frozen_tree_golden_shapes_10x2_14x2():
    """The reference's fixture invariant: exactly 2 VALID tables with
    shapes (10,2) and (14,2); a sparse ruled candidate on the same page
    is rejected by the frozen decision tree (threshold T2), not by any
    structural heuristic."""
    g1, c1, t1, e1 = ruled_table(72.0, 760.0, 10, 2)
    g2, c2, t2, e2 = ruled_table(72.0, 520.0, 14, 2)
    # sparse: rasters fine (2x2) but words_area_sum/h - h/cells <= T2
    g3, c3, t3, _ = ruled_table(72.0, 200.0, 2, 2, cell_h=30.0,
                                words_per_cell=1, word_len=1)
    graphics = np.array(g1 + g2 + g3, dtype=float)
    chars = np.array(c1 + c2 + c3, dtype=float)
    texts = t1 + t2 + t3

    tables = extract_page_tables_full(graphics, chars, texts)
    shapes = [(len(gr), len(gr[0])) for _b, gr in tables]
    assert shapes == [(10, 2), (14, 2)]  # top-to-bottom order, sparse dropped
    assert [gr for _b, gr in tables] == [e1, e2]


def test_tree_thresholds_wired():
    # exactly the frozen split points (extract_tables.py:752-758)
    assert not is_valid_table_tree(3, 2, 0, 4, 100.0, 10.0)  # f1 ok, f2 low
    assert is_valid_table_tree(3, 4, 0, 20, 8000.0, 200.0)
    assert not is_valid_table_tree(10, 4, 4, 20, 8000.0, 200.0)  # f1 > T1


def test_chars_oracle_path_span_equality():
    """Single-process oracle (extract_pdf_spans) recovers the
    constructed goldens when Char elements are present."""
    import pandas as pd

    from pydoxtools_spark.fixtures import gen_chars_corpus
    from pydoxtools_spark.functions.pdflayout import extract_pdf_spans

    docs, pdf, exp = gen_chars_corpus(25)
    el = pd.DataFrame(pdf)
    for e in exp:
        ref = f"media://pdf/{e['doc_id']}_0"
        got = extract_pdf_spans(el[el["doc_id"] == ref])
        want = [(s["kind"], s["text"], s["media_ref"]) for s in e["spans"]]
        assert got == want, e["doc_id"]


def test_chars_mode_spark_end_to_end(spark):
    """Full-fidelity Spark path (table_mode='chars'): span-sequence
    equality incl. offsets vs the constructed goldens."""
    from pydoxtools_spark.fixtures import gen_chars_corpus
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

    docs, pdf, exp = gen_chars_corpus(40)
    docs_df = spark.createDataFrame(docs, schema=DOCUMENTS_IN)
    pdf_df = spark.createDataFrame(pdf, schema=PDF_ELEMENT)
    out = extract(spark, docs_df, pdf_df, parallelism=4, table_mode="chars")
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in out.collect()
    }
    want = {
        e["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in e["spans"]]
        for e in exp
    }
    assert got == want


def test_mixed_corpus_per_page_routing(spark):
    """Per-(doc,page) table-path routing mirrors the oracle
    (extract_pdf_items:383-407): one doc whose page 0 carries Char rows
    (full-fidelity kernel) while page 1 is an element-only ruled grid
    (relational grid path).  A global table_mode would lose one of the
    two tables; the Spark output must match the single-process oracle
    span-for-span."""
    import pandas as pd

    from pydoxtools_spark.functions.pdflayout import extract_pdf_spans
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

    ref = "media://pdf/mixed_0"
    rows = []
    boxnum = 0

    def el(**kw):
        nonlocal boxnum
        boxnum += 1
        base = dict(
            doc_id=ref, p_num=0, boxnum=boxnum, linenum=0, type="Text",
            x0=0.0, y0=0.0, x1=0.0, y1=0.0, rawtext=None,
            font_name="Helv", font_size=10.0, font_color="#000",
            mean_char_orientation=0.0, linewidth=None, media_ref=None,
        )
        base.update(kw)
        rows.append(base)

    # page 0: char-level ruled table (chars kernel path)
    g, chars, texts, _exp = ruled_table(72.0, 700.0, 4, 2)
    for (x0, y0, x1, y1) in g:
        el(p_num=0, type="Graphic", x0=x0, y0=y0, x1=x1, y1=y1, linewidth=1.0)
    for (x0, y0, x1, y1), t in zip(chars, texts):
        el(p_num=0, type="Char", x0=x0, y0=y0, x1=x1, y1=y1, rawtext=t)
    el(p_num=0, x0=72.0, y0=740.0, x1=300.0, y1=752.0, rawtext="page zero intro")

    # page 1: element-only ruled grid (grid path; cell_h=28 clears the
    # min-area filter) + a text box
    nr, nc, cw, ch = 3, 2, 90.0, 28.0
    tx0, ty1 = 72.0, 600.0
    ty0 = ty1 - nr * ch
    for r in range(nr + 1):
        y = ty1 - r * ch
        el(p_num=1, type="Graphic", x0=tx0, y0=y, x1=tx0 + nc * cw, y1=y,
           linewidth=1.0)
    for c in range(nc + 1):
        x = tx0 + c * cw
        el(p_num=1, type="Graphic", x0=x, y0=ty0, x1=x, y1=ty1, linewidth=1.0)
    for r in range(nr):
        for c in range(nc):
            t = _word(r * nc + c, 4) + " " + _word(r * nc + c + 7, 3)
            el(p_num=1, x0=tx0 + c * cw + 4.0, y0=ty1 - (r + 1) * ch + 7.0,
               x1=tx0 + (c + 1) * cw - 4.0, y1=ty1 - (r + 1) * ch + 17.0,
               rawtext=t)
    el(p_num=1, x0=72.0, y0=700.0, x1=300.0, y1=712.0, rawtext="page one intro")

    want = [(k, t, r) for k, t, r in extract_pdf_spans(pd.DataFrame(rows))]
    assert sum(1 for k, _t, _r in want if k == "table") == 2  # both paths fired

    docs = spark.createDataFrame(
        [{"doc_id": "mixed", "spans": [
            {"kind": "pdf_ref", "text": None, "media_ref": ref, "offset": 0}]}],
        schema=DOCUMENTS_IN)
    pdf_df = spark.createDataFrame(rows, schema=PDF_ELEMENT)
    (out,) = extract(spark, docs, pdf_df, parallelism=2).collect()
    got = [(s["kind"], s["text"], s["media_ref"]) for s in out["spans"]]
    assert got == want


def test_pdf_bytes_failure_containment(spark):
    """A blob failing BOTH repair rungs becomes an error row + empty
    spans — never a task failure (north rule containment)."""
    from pydoxtools_spark.functions.pdfparse import build_tiny_pdf
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN

    good = build_tiny_pdf([{"texts": [(72.0, 700.0, 12.0, "hello world")]}])
    blobs = spark.createDataFrame(
        [("media://pdfb/a", bytearray(good)),
         ("media://pdfb/b", bytearray(b"not a pdf at all"))],
        "ref string, content binary")
    docs = spark.createDataFrame(
        [{"doc_id": d, "spans": [
            {"kind": "pdf_bytes", "text": None,
             "media_ref": f"media://pdfb/{d}", "offset": 0}]}
         for d in ("a", "b")], schema=DOCUMENTS_IN)
    rows = {r["doc_id"]: r for r in
            extract(spark, docs, None, parallelism=2,
                    pdf_blobs=blobs).collect()}
    assert rows["a"]["error"] is None
    assert [s["text"] for s in rows["a"]["spans"]] == ["hello world"]
    assert rows["b"]["error"] and "pdf_parse_error" in rows["b"]["error"]
    assert rows["b"]["spans"] == []


def test_pdf_bytes_to_chars_table_end_to_end(spark):
    """Raw PDF bytes -> content-stream parse (emit_chars) -> word
    rebuild -> sweep-line -> frozen tree -> table span: the whole
    bytes-to-table chain through extract(table_mode='chars')."""
    from pydoxtools_spark.functions.pdfparse import build_tiny_pdf
    from pydoxtools_spark.functions.spantext import table_to_text
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN

    tx0, ty1, nr, nc, cw, ch = 72.0, 600.0, 3, 2, 90.0, 20.0
    ty0 = ty1 - nr * ch
    lines = [(tx0, ty1 - r * ch, tx0 + nc * cw, ty1 - r * ch)
             for r in range(nr + 1)]
    lines += [(tx0 + c * cw, ty0, tx0 + c * cw, ty1) for c in range(nc + 1)]
    texts = [(72.0, 700.0, 18.0, "My Title"), (72.0, 650.0, 10.0, "body text")]
    grid = []
    wi = 0
    for r in range(nr):
        row = []
        for c in range(nc):
            w1, w2 = _word(wi, 2), _word(wi + 1, 3)
            wi += 2
            cell = f"{w1} {w2}"
            texts.append((tx0 + c * cw + 4.0, ty1 - (r + 1) * ch + 6.0,
                          10.0, cell))
            row.append(cell)
        grid.append(row)
    data = build_tiny_pdf([{"texts": texts, "lines": lines}])

    blobs = spark.createDataFrame([("media://pdfb/t", bytearray(data))],
                                  "ref string, content binary")
    docs = spark.createDataFrame(
        [{"doc_id": "t", "spans": [{"kind": "pdf_bytes", "text": None,
                                    "media_ref": "media://pdfb/t",
                                    "offset": 0}]}], schema=DOCUMENTS_IN)
    (row,) = extract(spark, docs, None, parallelism=2, pdf_blobs=blobs,
                     table_mode="chars").collect()
    assert row["error"] is None
    got = [(s["kind"], s["text"]) for s in row["spans"]]
    assert got == [("header", "My Title"), ("text", "body text"),
                   ("table", table_to_text(grid))]


def test_line2txt_size_hints():
    from pydoxtools_spark.functions.tablecells import line_chars_to_text

    # default: plain join (the reference's own df_words path)
    assert line_chars_to_text(list("abc")) == "abc"
    # hints: '<s>' on size drop, '</s>' on rise, first char never hinted
    assert line_chars_to_text(
        list("Tiny"), [12.0, 8.0, 8.0, 12.0], size_hints=True
    ) == "T<s>in</s>y"


def test_table_kernel_property_random_shapes():
    """Property: any well-formed ruled table (random shape / cell dims /
    word counts within the generator's validity envelope) is recovered
    exactly by the full kernel."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(min_value=2, max_value=7),   # rows
        st.integers(min_value=2, max_value=4),   # cols
        st.sampled_from([18.0, 20.0, 24.0]),     # cell height
        st.sampled_from([80.0, 90.0, 110.0]),    # cell width
    )
    def check(nr, nc, ch, cw):
        ty1 = 40.0 + nr * ch + 400.0 / nr  # keep inside page margins
        g, chars, texts, exp = ruled_table(
            72.0, min(ty1, 760.0), nr, nc, cell_w=cw, cell_h=ch)
        tables = extract_page_tables_full(
            np.array(g, dtype=float), np.array(chars, dtype=float), texts)
        assert len(tables) == 1
        assert tables[0][1] == exp

    check()


def test_damaged_blob_chars_table_recovered(spark):
    """Repair ladder x chars path: a chars-mode table PDF with its
    xref/trailer stripped goes through the lenient rung and still
    yields the exact table span."""
    from pydoxtools_spark.functions.pdfparse import build_tiny_pdf
    from pydoxtools_spark.functions.spantext import table_to_text
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN

    tx0, ty1, nr, nc, cw, ch = 72.0, 600.0, 3, 2, 90.0, 20.0
    ty0 = ty1 - nr * ch
    lines = [(tx0, ty1 - r * ch, tx0 + nc * cw, ty1 - r * ch)
             for r in range(nr + 1)]
    lines += [(tx0 + c * cw, ty0, tx0 + c * cw, ty1) for c in range(nc + 1)]
    texts, grid = [], []
    for r in range(nr):
        row = []
        for c in range(nc):
            cell = f"{_word(r * nc + c, 3)} {_word(r + c + 9, 4)}"
            texts.append((tx0 + c * cw + 4.0, ty1 - (r + 1) * ch + 6.0,
                          10.0, cell))
            row.append(cell)
        grid.append(row)
    data = build_tiny_pdf([{"texts": texts, "lines": lines}])
    damaged = data[: data.rfind(b"startxref")]  # strict rung must fail

    blobs = spark.createDataFrame([("media://pdfb/dmg", bytearray(damaged))],
                                  "ref string, content binary")
    docs = spark.createDataFrame(
        [{"doc_id": "dmg", "spans": [{"kind": "pdf_bytes", "text": None,
                                      "media_ref": "media://pdfb/dmg",
                                      "offset": 0}]}], schema=DOCUMENTS_IN)
    (row,) = extract(spark, docs, None, parallelism=2, pdf_blobs=blobs,
                     table_mode="chars").collect()
    assert row["error"] is None
    assert [(s["kind"], s["text"]) for s in row["spans"]] == [
        ("table", table_to_text(grid))]


def test_multipage_chars_doc_page_buckets(spark):
    """A chars doc spanning 20 pages (> PAGES_PER_BUCKET=8, so >=3
    buckets) keeps per-page tables and cross-page reading order."""
    import pandas as pd

    from pydoxtools_spark.functions.pdflayout import extract_pdf_spans
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

    ref = "media://pdf/mp_0"
    rows = []
    boxnum = 0

    def el(**kw):
        nonlocal boxnum
        boxnum += 1
        base = dict(
            doc_id=ref, p_num=0, boxnum=boxnum, linenum=0, type="Text",
            x0=0.0, y0=0.0, x1=0.0, y1=0.0, rawtext=None,
            font_name="Helv", font_size=10.0, font_color="#000",
            mean_char_orientation=0.0, linewidth=None, media_ref=None,
        )
        base.update(kw)
        rows.append(base)

    for p in range(20):
        el(p_num=p, x0=72.0, y0=740.0, x1=300.0, y1=752.0,
           rawtext=f"page {p} intro")
        g, chars, texts, _exp = ruled_table(72.0, 700.0, 3 + p % 2, 2)
        for (x0, y0, x1, y1) in g:
            el(p_num=p, type="Graphic", x0=x0, y0=y0, x1=x1, y1=y1,
               linewidth=1.0)
        for (x0, y0, x1, y1), t in zip(chars, texts):
            el(p_num=p, type="Char", x0=x0, y0=y0, x1=x1, y1=y1, rawtext=t)

    want = extract_pdf_spans(pd.DataFrame(rows))
    assert sum(1 for k, _t, _r in want if k == "table") == 20

    docs = spark.createDataFrame(
        [{"doc_id": "mp", "spans": [
            {"kind": "pdf_ref", "text": None, "media_ref": ref, "offset": 0}]}],
        schema=DOCUMENTS_IN)
    pdf_df = spark.createDataFrame(rows, schema=PDF_ELEMENT)
    (out,) = extract(spark, docs, pdf_df, parallelism=4).collect()
    got = [(s["kind"], s["text"], s["media_ref"]) for s in out["spans"]]
    assert got == list(want)


def _grid_edge_elements(ref):
    """Element-only ruled pages (the grid path) that hit its edge
    cases: a line centre exactly on a column and on a row border,
    doubled inner spaces, tab-only and space-only lines, two lines
    tying on the within-cell sort key, a 1-row ruled area, an exactly
    half-filled grid and a less-than-half-filled one."""
    rows = []

    def el(**kw):
        base = dict(doc_id=ref, p_num=0, boxnum=len(rows), linenum=0,
                    type="Text", x0=0.0, y0=0.0, x1=0.0, y1=0.0,
                    rawtext=None, font_name="Helv", font_size=10.0,
                    font_color="#000", mean_char_orientation=0.0,
                    linewidth=None, media_ref=None)
        base.update(kw)
        rows.append(base)

    def grid(p, tx0, ty1, nr, nc, cw, ch):
        for r in range(nr + 1):
            el(p_num=p, type="Graphic", x0=tx0, y0=ty1 - r * ch,
               x1=tx0 + nc * cw, y1=ty1 - r * ch, linewidth=1.0)
        for c in range(nc + 1):
            el(p_num=p, type="Graphic", x0=tx0 + c * cw, y0=ty1 - nr * ch,
               x1=tx0 + c * cw, y1=ty1, linewidth=1.0)

    def line(p, x0, y0, x1, y1, t):
        el(p_num=p, x0=x0, y0=y0, x1=x1, y1=y1, rawtext=t)

    # page 0: 3x3 grid, columns at x 100/190/280/370, rows at y 600/570/540/510
    grid(0, 100.0, 600.0, 3, 3, 90.0, 30.0)
    line(0, 104.0, 577.0, 180.0, 587.0, "alpha")
    line(0, 194.0, 577.0, 280.0, 587.0, "two  spaces")
    line(0, 150.0, 577.0, 230.0, 587.0, "on border")     # cx == 190.0
    line(0, 284.0, 560.0, 360.0, 580.0, "cy on border")  # cy == 570.0
    line(0, 104.0, 547.0, 180.0, 557.0, "\t")
    line(0, 194.0, 547.0, 280.0, 557.0, "   ")
    line(0, 284.0, 547.0, 360.0, 557.0, "zeta")          # same sort key
    line(0, 284.0, 547.0, 360.0, 557.0, "eta")
    line(0, 104.0, 517.0, 180.0, 527.0, "lower left")
    line(0, 100.0, 700.0, 300.0, 712.0, "page zero intro")
    # page 1: a 1-row ruled area
    grid(1, 100.0, 600.0, 1, 3, 90.0, 60.0)
    line(1, 104.0, 560.0, 180.0, 570.0, "one row a")
    line(1, 194.0, 560.0, 280.0, 570.0, "one row b")
    # page 2: 2 of 4 cells filled (valid), 2 of 6 (not)
    grid(2, 100.0, 600.0, 2, 2, 90.0, 30.0)
    line(2, 104.0, 577.0, 180.0, 587.0, "half one")
    line(2, 194.0, 547.0, 280.0, 557.0, "half two")
    grid(2, 100.0, 400.0, 2, 3, 90.0, 30.0)
    line(2, 104.0, 377.0, 180.0, 387.0, "sparse one")
    line(2, 194.0, 347.0, 280.0, 357.0, "sparse two")
    return rows


def test_grid_edge_pages_render_like_the_relational_path(spark):
    """The routed kernel finishes ruled-grid tables in numpy; these
    expected spans are what the Spark SQL cell assignment, render and
    validity (the relational grid path it replaced) produced for the
    same pages.  They differ from the single-process oracle on purpose:
    cells render raw (doubled spaces and a tab cell kept), not through
    norm_ws."""
    from pydoxtools_spark.pipeline import extract
    from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

    ref = "media://pdf/grid_edges"
    docs = spark.createDataFrame(
        [{"doc_id": "edges", "spans": [
            {"kind": "pdf_ref", "text": None, "media_ref": ref, "offset": 0}]}],
        schema=DOCUMENTS_IN)
    pdf_df = spark.createDataFrame(_grid_edge_elements(ref),
                                   schema=PDF_ELEMENT)
    (out,) = extract(spark, docs, pdf_df, parallelism=2).collect()
    got = [(s["kind"], s["text"], s["offset"]) for s in out["spans"]]
    assert got == [
        ("text", "page zero intro", 0),
        ("table", "alpha on border | two  spaces | \n"
                  "\t |  | cy on border eta zeta\n"
                  "lower left |  | ", 15),
        ("text", "one row a", 93),
        ("text", "one row b", 102),
        ("table", "half one | \n | half two", 111),
        ("text", "sparse one", 134),
        ("text", "sparse two", 144),
    ]


def test_layout_plan_has_no_grid_aggregation(spark):
    """Grid tables finish inside the routed kernel: no plan of the
    layout query, analyzed through executed, carries the cell-level
    aggregation (the map_from_arrays grid render of the relational
    path)."""
    from pydoxtools_spark.operators.pdf_relational import pdf_layout_items
    from pydoxtools_spark.schemas import PDF_ELEMENT

    df = pdf_layout_items(spark.createDataFrame(
        _grid_edge_elements("media://pdf/grid_edges"), schema=PDF_ELEMENT))
    assert sum(1 for r in df.collect() if r["kind"] == "table") == 2
    plans = df._jdf.queryExecution().toString()
    assert "map_from_arrays" not in plans, plans
