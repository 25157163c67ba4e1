"""Training-data curation operators: PII scrubbing and deterministic
dataset splitting.

Beyond the reference's surface (it extracts; a 100 TB training-data
pipeline also has to sanitize and partition what it extracted) — part
of the first-class LLM-pipeline tier alongside operators/dedup.py.
Everything is pure Spark SQL (JVM regex / md5 — whole-stage codegen,
cross-engine oracle twins below each op).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin

# Patterns are written to the common Java-regex/RE2 subset (no
# backreferences, no lookaround) so the DuckDB twin matches bit-exactly.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def scrub_pii(col: Column) -> Column:
    """Replace emails, IPv4 addresses and phone-like digit runs with
    typed placeholders, in a fixed order (emails first so their digit
    tails can't half-match as phones)."""
    out = col
    for pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def scrub_pii_sql(expr: str) -> str:
    """DuckDB twin: identical patterns, identical application order."""
    out = expr
    for pat, rep in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


def split_bucket(id_col: Column, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets) from md5 of the id string —
    stable across runs, partitionings, and engines (first 4 hex chars
    as an int; fixed-width hex parses identically everywhere)."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 4), 16, 10)
        .cast("int") % buckets
    )


def split_bucket_sql(expr: str, buckets: int = 100) -> str:
    return (f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 4))::INT"
            f" % {buckets})")


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 0,
) -> DataFrame:
    """Hash-split the corpus into train/val(/test) — the standard
    leakage-safe split for training corpora: membership depends only on
    the id, so re-runs, resharding, and incremental appends never move
    a document across splits.  Adds `bucket` and `split` columns."""
    b = split_bucket(F.col(id_col))
    split = (
        F.when(b < val_pct, "val")
        .when(b < val_pct + test_pct, "test")
        .otherwise("train")
    )
    return df.withColumn("bucket", b).withColumn("split", split)


# ------------------------------------------------------- line-level dedup


def drop_repeated_lines(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Within-document repeated-line removal (the C4/RefinedWeb recipe:
    exact duplicate lines inside one document are boilerplate — keep
    the FIRST occurrence, preserve line order).  Blank lines are
    preserved as-is (they are structure, not content).

    Pure Spark SQL: posexplode -> row_number window over
    (doc, trimmed line) -> keep first -> ordered re-assembly.  All
    shuffles key on doc_id, so the operator scales like any per-doc
    window; no Python."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.trim("line"))
    w = Window.partitionBy("id", "norm").orderBy("pos")
    kept = lines.withColumn(
        "rn", F.when(F.col("norm") == "", F.lit(1)).otherwise(
            F.row_number().over(w))
    ).filter(F.col("rn") == 1)
    return _reassemble_lines(df, kept, id_col)


def drop_boilerplate_lines(df: DataFrame, min_df: int = 10,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Cross-document boilerplate-line removal: a (trimmed, non-blank)
    line occurring in >= min_df DISTINCT documents is navigation/
    footer/legal boilerplate — removed from every document.

    Scale shape: the line-frequency table is a map-side-combinable
    hash-agg; only lines above the cap join back (broadcast-sized by
    construction — boilerplate is by definition few distinct strings),
    so the corpus streams through one explode + one broadcast
    anti-join, the exact stopword-shingle pattern from
    dedup.ngram_jaccard_pairs."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.trim("line"))
    freq = (
        lines.filter(F.col("norm") != "")
        .select("id", "norm").distinct()
        .groupBy("norm").agg(F.count("*").alias("df_cnt"))
        .filter(F.col("df_cnt") >= min_df)
    )
    kept = lines.join(
        F.broadcast(freq.select("norm")), "norm", "left_anti")
    return _reassemble_lines(df, kept, id_col)


def _reassemble_lines(df: DataFrame, kept: DataFrame,
                      id_col: str) -> DataFrame:
    """Ordered re-assembly of surviving (id, pos, line) rows, re-joined
    onto EVERY input id: split(NULL) explodes to zero rows, so a doc
    with NULL text would otherwise vanish from the groupBy output (the
    drop_duplicated_windows re-join/coalesce contract — every input doc
    comes back, NULL/empty text as '')."""
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", F.col("line").alias("l")))
                    ),
                    lambda x: x["l"],
                ),
                "\n",
            ).alias("clean_text")
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(F.col("id").alias(id_col),
                F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


# ------------------------------------------------- repetition signals


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Per-document repetition quality signals — the Gopher-style
    repetition filters for web-scale corpora (Rae et al. 2021 §A1.1
    filters on duplicate lines and repeated n-grams; exact fractions
    here are the deterministic MASS variants so both engines agree
    bit-for-bit):

      dup_line_frac       duplicate occurrences of a (trimmed,
                          non-blank) line / total such lines
      dup_line_char_frac  chars in those duplicate occurrences / chars
                          in all non-blank lines
      top_ngram_frac      mass of the most frequent top_n-gram
                          (count * gram chars, ties -> longest gram) /
                          total top_n-gram mass
      dup_ngram_frac      mass of dup_n-grams occurring more than
                          once / total dup_n-gram mass

    All four are int/int single divisions (IEEE-identical across
    engines); docs with no qualifying lines/grams get 0.0.  Filter
    downstream with thresholds of your choice (Gopher drops docs with
    dup_line_frac > 0.3, top-2-gram fraction > 0.2, ...).

    Scale shape: every aggregate keys on (doc, line|gram) then doc —
    map-side-combinable hash-aggs, no cross-document join anywhere, so
    the corpus streams through.  The two gram passes share one scan
    when the input is cached/persisted; at 100 TB fuse them by passing
    top_n == dup_n or project `words` once upstream.
    """
    from pyspark.sql import Window

    ids = df.select(F.col(id_col).alias("id")).distinct()

    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("raw"),
        )
        .select("id", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
    )
    line_counts = lines.groupBy("id", "line").agg(F.count("*").alias("cnt"))
    line_sig = line_counts.groupBy("id").agg(
        ((F.sum("cnt") - F.count("*")) / F.sum("cnt")).alias(
            "dup_line_frac"),
        (
            F.sum((F.col("cnt") - 1) * F.length("line"))
            / F.sum(F.col("cnt") * F.length("line"))
        ).alias("dup_line_char_frac"),
    )

    def gram_counts(n: int) -> DataFrame:
        w = df.select(
            F.col(id_col).alias("id"),
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                 r"\s+", " "),
                " ",
            ).alias("w"),
        ).filter(F.size("w") >= n)
        pos = w.select(
            "id", "w",
            F.posexplode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias(
                "_p", "s"),
        )
        g = pos.select(
            "id",
            F.array_join(F.slice(F.col("w"), F.col("s"), n), " ").alias("g"),
        )
        return (
            g.groupBy("id", "g")
            .agg(F.count("*").alias("cnt"))
            .withColumn("len", F.length("g"))
        )

    topc = gram_counts(top_n)
    mxw = Window.partitionBy("id")
    top_sig = (
        topc.withColumn("mx", F.max("cnt").over(mxw))
        .groupBy("id")
        .agg(
            (
                F.max("mx")
                * F.max(F.when(F.col("cnt") == F.col("mx"), F.col("len")))
                / F.sum(F.col("cnt") * F.col("len"))
            ).alias("top_ngram_frac")
        )
    )
    dup_sig = gram_counts(dup_n).groupBy("id").agg(
        (
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.col("len"))
                .otherwise(0)
            )
            / F.sum(F.col("cnt") * F.col("len"))
        ).alias("dup_ngram_frac")
    )

    out = (
        ids.join(line_sig, "id", "left")
        .join(top_sig, "id", "left")
        .join(dup_sig, "id", "left")
    )
    return out.select(
        F.col("id").alias(id_col),
        *[
            F.coalesce(F.col(c), F.lit(0.0)).alias(c)
            for c in ("dup_line_frac", "dup_line_char_frac",
                      "top_ngram_frac", "dup_ngram_frac")
        ],
    )


# ----------------------------------------------------- quota sampling


def quota_sample(
    df: DataFrame,
    group_col: str,
    quota: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling: keep at most `quota` rows per
    group, chosen by md5-of-id rank — a reproducible uniform sample
    that is stable under resharding, re-runs, and appends (a kept row
    stays kept unless a lower-hash row enters its group), the same
    leakage-safe-hash idea as deterministic_split.  Standard corpus-
    balancing move: cap each domain/source/language at a quota.

    Adds `sample_rank` (1-based within group).

    Scale shape: plan-audited — Spark plants a PARTIAL WindowGroupLimit
    below the exchange (each map task pre-prunes to its local top-quota
    per group), so the shuffle carries at most quota * input_partitions
    rows per group and the per-group final sort is tiny; the classic
    "mega-domain becomes one giant sort task" failure mode is already
    defused by the engine for rank <= k predicates.
    """
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return df.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= quota)


# ------------------------------------------- unigram LM quality score


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram language-model score — the CCNet-style
    quality signal (Wenzek et al. 2020 buckets documents by LM
    perplexity; a corpus-fitted UNIGRAM model keeps the whole thing
    two hash-aggregates and one join, no external model):

        score = avg over word occurrences of -ln(cnt(w) / total)
              = ln(total) - sum(k_w * ln(cnt(w))) / n

    Low score = common-word prose (head bucket), high score = rare-token
    noise (tail bucket); threshold or tercile downstream.

    Scale shape (100 TB): occurrences collapse to DISTINCT (doc, word)
    pairs with a weight BEFORE the vocabulary join (map-side-combinable
    hash-agg, then the join input is bounded by doc vocabulary, not doc
    length).  The vocab side is corpus-wide — too big to broadcast at
    full scale, so it stays a shuffle equi-join on the word; zipfian
    skew is bounded by the distinct-pair collapse (one row per doc per
    word, however often "the" repeats) and AQE skew-split handles the
    rest.  `total` rides along as a 1-row broadcast cross join, not a
    driver collect.  The (doc, word) pair table feeds three consumers
    (scoring join, vocab agg, total agg) — pinned so the explode +
    pair-agg subtree runs once, not three times (plan-audited: the
    unpinned form carried three full scans)."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                 r"\s+", " "),
                " ",
            )
        ).alias("w"),
    ).filter(F.col("w") != "")
    pairs = pin(words.groupBy("id", "w").agg(F.count("*").alias("k")))
    vocab = pairs.groupBy("w").agg(F.sum("k").alias("cnt"))
    total = pairs.agg(F.sum("k").alias("total"))
    scored = pairs.join(vocab, "w").groupBy("id").agg(
        F.sum(F.col("k") * F.log(F.col("cnt").cast("double"))).alias("s"),
        F.sum("k").alias("n"),
    )
    return scored.crossJoin(F.broadcast(total)).select(
        F.col("id").alias(id_col),
        (
            F.log(F.col("total").cast("double"))
            - F.col("s") / F.col("n")
        ).alias("logprob"),
    )


# ------------------------------------------------- composite keep/drop


def quality_filter(
    df: DataFrame,
    min_words: int = 20,
    min_ad_ratio: float = 0.5,
    max_dup_line_frac: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The curation CAPSTONE: one keep/drop decision per document from
    the composed quality signals (the FineWeb/Gopher recipe shape —
    each rule is an already-oracle-checked signal, the filter is their
    conjunction with an auditable reason trail):

      too_short         fewer than min_words whitespace words
      low_alpha_ratio   alpha/(alpha+digit) below min_ad_ratio
      repetitive_lines  duplicate-line mass fraction above
                        max_dup_line_frac (Gopher dup_line_frac)

    Returns (id, n_words, ad_ratio, dup_line_frac, reasons, keep) —
    reasons is the comma-joined failed-rule list in fixed order, ''
    for keepers, so downstream metrics can group by failure mode.

    Scale shape: one per-doc projection, no shuffle — dup_line_frac is
    (n - distinct) / n over the doc's trimmed non-empty line array, so
    the text lines never leave their row; at 100 TB the reasons column
    doubles as the per-rule drop-rate metric source."""
    from .textstats import a_d_ratio, num_words

    # NULL text counts as empty, not as "no signal": without the
    # coalesce every rule's WHEN evaluates NULL -> no reason fires and
    # a null doc silently KEEPS (caught by the unit test)
    t = F.coalesce(F.col(text_col), F.lit(""))
    # lines built once here: the outer select reads them 3x (trap 1)
    base = df.select(
        F.col(id_col).alias("id"),
        num_words(t).alias("n_words"),
        F.round(a_d_ratio(t), 4).alias("ad_ratio"),
        F.filter(F.transform(F.split(t, "\n"), lambda line: F.trim(line)),
                 lambda line: line != "").alias("lines"),
    )
    n = F.size("lines")
    j = base.select(
        "id", "n_words", "ad_ratio",
        F.when(n > 0, F.round((n - F.size(F.array_distinct("lines"))) / n, 4))
        .otherwise(F.lit(0.0)).alias("dup_line_frac"),
    )
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_words") < min_words, "too_short"),
        F.when(F.col("ad_ratio") < min_ad_ratio, "low_alpha_ratio"),
        F.when(F.col("dup_line_frac") > max_dup_line_frac,
               "repetitive_lines"),
    )
    return j.select(
        F.col("id").alias(id_col),
        "n_words", "ad_ratio", "dup_line_frac",
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )


# ----------------------------------------------- sequence packing


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    shards: int = 64,
) -> DataFrame:
    """Concat-and-chunk training-sequence packing (the GPT-2/3 data
    recipe: documents joined by one EOD token into a stream that is
    sliced into fixed seq_len-token windows).  Assigns each document
    its slot in that stream WITHOUT materializing it: the writer job
    that later emits token files needs only (shard, start_pos).

    Deterministic by construction: shard = md5(id) prefix mod
    `shards`, order within a shard = (md5(id), id) — stable under
    resharding and re-runs, the same leakage-safe-hash idea as
    deterministic_split.  Each document contributes token_col + 1
    (its EOD) to the stream; start_pos is the running total BEFORE
    the document, seq_index/seq_offset locate its first token in the
    window grid.

    Adds: shard, start_pos, seq_index, seq_offset.

    Scale shape: one shuffle on `shard` + a per-shard window cumsum —
    a GLOBAL stream order would serialize 100 TB through one sort, so
    packing is per-shard by design (shards are independent training
    files; raise `shards` until a shard's documents fit one task
    comfortably).  All arithmetic is bigint JVM-side; no python.

    Cross-engine twin (DuckDB):
      shard:   ('0x' || substr(md5(id::VARCHAR), 1, 8))::BIGINT % S
      cumsum:  SUM(n+1) OVER (PARTITION BY shard
               ORDER BY md5(id::VARCHAR), id
               ROWS UNBOUNDED PRECEDING) - (n+1)
    """
    from pyspark.sql import Window

    if seq_len < 1 or shards < 1:
        raise ValueError(f"seq_len/shards must be >= 1, "
                         f"got {seq_len}/{shards}")
    h = F.md5(F.col(id_col).cast("string"))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"),
        F.lit(shards))
    w = (Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    contrib = (F.col(token_col) + F.lit(1)).cast("bigint")
    return (
        df.withColumn("_h", h)
        .withColumn("shard", shard)
        .withColumn("start_pos",
                    (F.sum(contrib).over(w) - contrib).cast("bigint"))
        .withColumn("seq_index", F.expr(f"start_pos div {int(seq_len)}"))
        .withColumn("seq_offset",
                    F.pmod(F.col("start_pos"), F.lit(int(seq_len))))
        .drop("_h")
    )


# ------------------------------------------- URL blocklist filtering


def filter_url_blocklist(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Domain-blocklist filtering — the C4/RefinedWeb curation move
    (both drop documents whose REGISTRABLE host matches a bad-domain
    list, e.g. the UT1 categories): a URL's host matches if the host
    itself OR ANY parent domain is listed (x.ads.bad.com matches
    bad.com).

    Adds `host`, `blocked_domain` (null = clean) and `keep`.

    Scale shape: suffix expansion runs on DISTINCT hosts, not
    documents (web corpora have ~1e7 hosts against ~1e10 docs), so
    the only full-width operation is a broadcast join of the blocked-
    host table back onto the documents — no document-table shuffle.
    Suffix matching is pure Catalyst (split + transform + explode); no
    python."""
    host = F.lower(F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    hosts = df.select(host.alias("host")).filter(
        F.col("host") != "").distinct()
    # every dot-suffix of the host: a.b.c -> [a.b.c, b.c, c]
    sufs = hosts.select(
        "host",
        F.explode(F.expr(
            "transform(sequence(1, size(split(host, '[.]'))), "
            "i -> array_join(slice(split(host, '[.]'), i, "
            "size(split(host, '[.]'))), '.'))")).alias("suf"))
    blocked = (
        sufs.join(F.broadcast(blocklist.select(
            F.lower("domain").alias("suf"))), "suf")
        .groupBy("host").agg(F.min("suf").alias("blocked_domain")))
    return (df.withColumn("host", host)
            .join(F.broadcast(blocked), "host", "left")
            .withColumn("keep", F.col("blocked_domain").isNull()))
