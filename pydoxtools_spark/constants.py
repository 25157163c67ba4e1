"""Frozen constants for the extraction engine.

Every ordering rule, threshold, and join convention that affects span
equality lives here so the Spark kernels and the single-process oracle
share one source of truth (SURVEY.md §7.3 risk 1).

Reference citations (behavioral parity, NOT code copies):
  - reading order sort (p_num asc, y0 desc, x0 asc):
    /root/reference/pydoxtools/extract_textstructure.py:418
  - paragraph split on blank lines:
    /root/reference/pydoxtools/extract_textstructure.py:72-82
  - valid-table decision-tree thresholds:
    /root/reference/pydoxtools/extract_tables.py:752-758
  - table-area cluster distance threshold 10.0 / word threshold 1.0:
    /root/reference/pydoxtools/extract_tables.py:31-87, 351-386
  - markdown detection needs >=3 pattern families:
    /root/reference/pydoxtools/document.py:66-89
"""

from __future__ import annotations

# ---------------------------------------------------------------- spans
# Output span kinds (closed vocabulary).
KIND_TEXT = "text"
KIND_HEADER = "header"
KIND_LIST = "list"
KIND_TABLE = "table"
KIND_IMAGE = "image"
KIND_MEDIA = "media"
KIND_ERROR = "error"
KIND_SENTINEL = "__sentinel"  # internal marker, never in output

# Input span kinds (interleaved corpus, BASELINE.json input_hint).
IN_KIND_HTML = "html"
IN_KIND_TEXT = "text"
IN_KIND_PDF_REF = "pdf_ref"      # media_ref -> pre-parsed pdf_elements rows
IN_KIND_PDF_BYTES = "pdf_bytes"  # media_ref -> pdf_blobs(ref, content) row
IN_KIND_DOCX_BYTES = "docx_bytes"  # media_ref -> doc_blobs(ref, content) row
IN_KIND_ODT_BYTES = "odt_bytes"    # media_ref -> doc_blobs(ref, content) row
IN_KIND_EPUB_BYTES = "epub_bytes"  # media_ref -> doc_blobs(ref, content) row
IN_KIND_RTF_BYTES = "rtf_bytes"    # media_ref -> doc_blobs(ref, content) row
IN_KIND_IMAGE_REF = "image_ref"

# Paragraph separator for plain-text docs and full_text joins
# (reference: "\n\n".join, document.py:227-229).
PARAGRAPH_SPLIT_REGEX = r"\s*\n\s*\n\s*"
PARAGRAPH_JOIN = "\n\n"

# ------------------------------------------------------------ HTML kernel
# Link-density above which a block is considered navigation boilerplate
# (re-expression of is_link_only semantics, extract_html.py:101-146).
HTML_LINK_DENSITY_MAX = 0.5
# Minimum stripped text length for a block to be a content candidate.
HTML_MIN_BLOCK_CHARS = 3
# Tags whose subtrees are always boilerplate.
HTML_BOILERPLATE_TAGS = frozenset(
    {"nav", "header", "footer", "aside", "script", "style", "noscript",
     "form", "button", "svg", "select", "option", "iframe", "head"}
)
# Block-level tags that delimit candidate text blocks.
HTML_BLOCK_TAGS = frozenset(
    {"p", "div", "section", "article", "main", "body", "li", "ul", "ol",
     "table", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre",
     "td", "th", "tr", "br", "nav", "header", "footer", "aside", "title"}
)
# Link-ish tags counted toward link text length (extract_html.py:98 family).
HTML_LINKISH_TAGS = frozenset({"a", "button"})
HTML_HEADER_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# --------------------------------------------------------- PDF layout kernel
# Reading-order sort key: (p_num asc, y0 desc, x0 asc)
# -> array_sort comparator / numpy lexsort((x0, -y0, p_num)).
READING_ORDER = ("p_num", "-y0", "x0")

# Title detection (deterministic stand-in for IsolationForest,
# extract_textstructure.py:172-256; SURVEY.md §7.3 risk 2): a box is a
# title iff word count < TITLE_MAX_WORDS and its dominant font size
# >= TITLE_SIZE_RATIO * median(doc line font sizes).  (The reference's
# own rule uses the p75 size quantile + wordcount<10 on IsolationForest
# outliers; a median ratio is seed-stable and robust on short docs.)
TITLE_MAX_WORDS = 10
TITLE_SIZE_RATIO = 1.15

# Vertical text exclusion (extract_textstructure.py:412).
VERTICAL_ORIENTATION = 90.0
MIN_BOX_TEXT_CHARS = 2  # 1-char boxes dropped (extract_textstructure.py:410)
PAGES_PER_BUCKET = 8  # pages per (doc, page_bucket) table-kernel run

# ------------------------------------------------------------ table kernel
# Single-linkage clustering threshold for table-area merging
# (extract_tables.py:1018: constant 10.0; sensitivity tuned through the
# per-level distance weights below).
TABLE_AREA_CLUSTER_THRESHOLD = 10.0
# Two-level weighted-distance parameters for area detection
# (TableExtractionParameters.reduced_params, extract_tables.py:74-87:
# hp = es1 11.1, es2 2.1, gs1 11.1, gs2 20.1; va/ha = [gs, es, es/2, es]).
AREA_DETECTION_LEVELS = [
    {"va": [11.1, 11.1, 5.55, 11.1], "ha": [11.1, 11.1, 5.55, 11.1]},
    {"va": [20.1, 2.1, 1.05, 2.1], "ha": [20.1, 2.1, 1.05, 2.1]},
]
# Word-building distance threshold + char pairwise params
# (extract_tables.py:351-386: max_word_distance 1.0;
# TableExtractionParameters: max_char_disalignement 4.0, max_char_dist 2.0).
WORD_CLUSTER_THRESHOLD = 1.0
MAX_CHAR_DISALIGNMENT = 4.0
MAX_CHAR_DIST = 2.0
# Sweep-line cell constants (extract_tables.py:50-64,400-553):
# max_v_line_thickness 5.0, elem_scan_tol 1.0, min_cell_width 6.0,
# text_line_tol 5.0, cell_idx_tol 5.0; _get_cell_text newline gap 4.
MAX_V_LINE_THICKNESS = 5.0
ELEM_SCAN_TOL = 1.0
MIN_CELL_WIDTH = 6.0
CELL_TEXT_TOLERANCE = 5.0
CELL_IDX_TOL = 5.0
MIN_NEW_LINE_GAP = 4.0
# Margin around a candidate area when collecting its elements
# (TableExtractionParameters.text_extraction_margin = 10.0).
TEXT_EXTRACTION_MARGIN = 10.0
CELL_BORDER_TOLERANCE = 7.0  # cluster1D tol for grid lines (:555-608)
# Cell-index join convention (FROZEN): a line center is assigned to cell
# i = (count of borders STRICTLY below the center) - 1 on BOTH paths —
# np.searchsorted(borders, center, side='left') - 1 in the oracle,
# size(filter(borders, b -> b < center)) - 1 in Spark SQL.  A center
# exactly equal to a border value belongs to the cell ABOVE/RIGHT of it.
CELL_BORDER_STRICT = True
# Area filters (extract_tables.py:35-38, 1177-1210): area strictly >
# 50*50 dots^2; aspect h/w strictly within (1/50, 50).
MIN_TABLE_AREA = 50.0 * 50.0
MAX_TABLE_ASPECT = 50.0
# Graphics filters (extract_tables.py:893-949, 1004-1010: min_size 5.0,
# page margin 20, max area ratio 0.4).
MAX_GRAPHIC_PAGE_AREA_RATIO = 0.4
MIN_GRAPHIC_SIZE = 5.0
PAGE_MARGIN = 20.0
# Frozen valid-table decision-tree thresholds (extract_tables.py:752-758).
VALID_TABLE_T1 = 1.2666667699813843
VALID_TABLE_T2 = 11.474941492080688
# In-table-cell sort key x0 - 40*y0 (extract_tables.py:115-123).
CELL_SORT_Y_WEIGHT = 40.0

# List detection regex (extract_tables.py:241-254: leading -,*,bullet with
# negative lookahead for degree-like usage).
LIST_CHAR_REGEX = r"^\s*[-*∙•](?![\d\s]*°)"

# ----------------------------------------------------------- text analysis
# Token regex: BPE-ish word/number/punct pieces.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
# Language-ID stopword lists (tiny n-gram/stopword heuristic; the sandbox
# corpus langs are en/de/fr/es/zh).
LANGID_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "por", "que"],
    # ASCII-only stopwords by design: RE2's \b is an ASCII word
    # boundary, so accented/non-latin stopwords would tokenize
    # differently between Spark (Java regex) and the DuckDB twin
    "it": ["il", "di", "che", "per", "con", "non", "una", "sono"],
    "pt": ["uma", "para", "com", "mais", "como", "dos", "mas", "ele"],
    "nl": ["het", "een", "van", "dat", "niet", "zijn", "ook", "naar"],
}
# Script-scored languages: character-class counts instead of stopwords
# (no word boundaries involved -> engine-identical); literal range
# chars so Java regex and RE2 parse them identically.  ja counts kana
# only, so kanji-bearing Japanese text still beats zh when kana present.
LANGID_CHAR_CLASSES = {
    "zh": "[一-鿿]",
    "ja": "[ぁ-ゖァ-ヺ]",
    "ko": "[가-힣]",
    "ar": "[ء-ي]",
    # r5 tier (r4 verdict item 7): pure char-class scripts — both
    # engines count the same ranges, so twin agreement is trivial
    "hi": "[ऀ-ॿ]",   # Devanagari U+0900-097F
    "ru": "[Ѐ-ӿ]",   # Cyrillic U+0400-04FF
    "th": "[ก-๛]",   # Thai U+0E01-0E5B
    "el": "[Ͱ-Ͽ]",   # Greek U+0370-03FF
}
CJK_CHAR_CLASS = LANGID_CHAR_CLASSES["zh"]

# ------------------------------------------------------------------- dedup
MINHASH_NUM_PERM = 64
MINHASH_BANDS = 16          # 16 bands x 4 rows
MINHASH_SHINGLE_K = 5       # character shingles
SIMHASH_BITS = 64

# ------------------------------------------------------------------- scale
# Size-tier routing: docs with payload bytes above this quantile go to the
# dedicated giant-doc pass (SURVEY.md §4 skew defusal).
GIANT_DOC_QUANTILE = 0.99
DEFAULT_SHUFFLE_PARTITIONS = 32

# ---------------------------------------------------------------- budgets
# Output cap of one inflated PDF stream, PNG IDAT or gzip WARC segment: a
# Flate bomb (199 KiB -> 200 MiB) becomes a typed error row instead of an
# OOM'd python worker.  64 MiB is far above any content stream and a
# 20-megapixel RGB image; a larger WARC segment must be pre-split.
MAX_INFLATE_BYTES = 64 * 1024 * 1024
