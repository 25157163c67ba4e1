"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, benchmark decontamination,
and substring-level dedup (duplicated n-word windows: detection as
merged intervals + the canonical-keep cut).

All hot paths are pure Spark SQL (higher-order array functions, hash
aggregates) — no Python UDFs.  Hash primitive is md5 (present in both
Spark and DuckDB) so every operator has an exact cross-engine oracle;
fixed-width hex strings compare lexicographically == numerically, so
a MIN over md5 hex IS min-hashing.

Scale notes (100 TB):
  - exact dedup: one hash aggregate on a 32-hex key — the classic
    map-side-combinable groupBy; no skew (md5 keys uniform).
  - minhash signatures: one md5 per shingle through a Generate
    boundary, then num_perm affine permutations as map-side-combinable
    MIN aggregates — that shuffle carries (id, num_perm longs) per doc;
    the signatures are materialized at full shuffle width.
  - LSH bucket join: self-join on narrow (id, band, band_sig) rows;
    the verify joins then scale with candidate pairs per document,
    small at realistic near-dup rates.  Bucket sizes are bounded
    because identical band signatures imply near-duplicate docs; AQE
    skew-join splits pathological buckets.
  - ngram-jaccard: inverted-index join on shingle hash, count common
    shingles, |A∪B| = |A|+|B|-common.  Quadratic only within a
    posting list; frequent-shingle cap bounds it (DF cap like a
    stopword filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    MINHASH_BANDS,
    MINHASH_NUM_PERM,
    MINHASH_SHINGLE_K,
    SIMHASH_BITS,
)
from ..kernels import map_rows
from ..session import checkpoint, pin, width


def _norm(col: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum id per exact (normalized) content hash.
    Returns (doc_id, content_hash, dup_count)."""
    return (
        df.select(F.col(id_col), F.md5(_norm(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .select(id_col, "content_hash", "dup_count")
    )


# -------------------------------------------------------------- shingles


def char_shingle_rows(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      k: int = MINHASH_SHINGLE_K) -> DataFrame:
    """(id, shingle) rows, one k-char shingle per row (NOT distinct —
    min-hash is multiset-invariant, and distinctness would cost a
    shuffle).

    Performance shape: the normalization regex is evaluated ONCE per
    document because the posexplode Generate node is an optimizer
    barrier (CollapseProject cannot inline the child projection into
    the post-Generate projection) — measured ~40x faster than
    substringing inside a transform() lambda, where the norm expression
    re-evaluates per element.

    The text is split into a per-codepoint array once per document and
    each shingle is slice+array_join over it: substr(i, k) on a UTF8
    string scans from the start to find codepoint i (O(position) per
    shingle -> O(doc_len^2) per document), while array slice is O(k)
    whatever the position (r7: 2.0 s -> 0.9 s on the 3M-shingle sf0.1
    stage; the gap grows quadratically with document length).  Java's
    empty-pattern split advances codepoint-wise, so astral-plane
    characters stay intact and the emitted shingles are byte-identical
    to the substr form (exceptAll-verified both ways, incl. surrogate
    edge cases)."""
    t = df.select(
        F.col(id_col).alias("id"), F.split(_norm(F.col(text_col)), "").alias("a")
    )
    n = F.greatest(F.size("a") - (k - 1), F.lit(1))
    pos = t.select(
        "id", "a", F.posexplode(F.sequence(F.lit(1), n)).alias("_p", "i")
    )
    return pos.select(
        "id", F.array_join(F.slice(F.col("a"), F.col("i"), k), "").alias("s"))


def word_shingle_rows(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """DISTINCT (id, shingle-hash) rows of k-word shingles (set
    semantics for exact Jaccard).  Same Generate-boundary shape as
    char_shingle_rows."""
    w = df.select(
        F.col(id_col).alias("id"), F.split(_norm(F.col(text_col)), " ").alias("w")
    )
    n = F.greatest(F.size("w") - (k - 1), F.lit(1))
    pos = w.select(
        "id", "w", F.posexplode(F.sequence(F.lit(0), n - 1)).alias("_p", "i")
    )
    sh = pos.select(
        "id",
        F.md5(F.array_join(F.slice(F.col("w"), F.col("i") + 1, F.lit(k)), " ")).alias("sh"),
    )
    return sh.dropDuplicates(["id", "sh"])


# --------------------------------------------------------------- minhash


# universal-hash parameters for the fast minhash: p prime > 2^32;
# a_i odd < 2^31, b_i < p, both seeded deterministically
_MH_P = 4294967311


def _mh_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    import random as _r

    rng = _r.Random(seed)
    return [
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, _MH_P))
        for _ in range(num_perm)
    ]


def minhash_signatures_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = MINHASH_NUM_PERM,
    seed: int = 42,
    k: int = MINHASH_SHINGLE_K,
) -> DataFrame:
    """Standard minhash with universal hashing, explode+aggregate form:
    ONE md5 per shingle (h = first 8 hex chars as uint32), then num_perm
    affine permutations (a*h+b) mod p as map-side-combinable MIN
    aggregates.  Products stay < 2^63 so bigint math is exact (portable
    to any 64-bit engine).

    Why explode+agg instead of per-row transform: Catalyst's projection
    collapse re-inlines a shared `transform(shingles, md5)` subexpression
    into every permutation lambda (no CSE in interpreted HOFs), making
    the per-row form num_perm x more expensive.  The hash aggregate
    shuffles only (id, num_perm longs) per doc.

    Returns (id, sig array<bigint>).
    """
    params = _mh_params(num_perm, seed)
    sh = char_shingle_rows(df, text_col, id_col, k).select(
        "id", F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("bigint").alias("h")
    )
    aggs = [
        F.min((F.col("h") * a + b) % _MH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return sh.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig")
    )


def minhash_bands(sig: Column, bands: int = MINHASH_BANDS,
                  num_perm: int = MINHASH_NUM_PERM) -> Column:
    """Band signatures for LSH: split the signature into `bands` rows of
    num_perm/bands values, hash each band."""
    rows = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.array_join(
                F.transform(
                    F.slice(sig, b * rows + 1, rows), lambda v: v.cast("string")
                ),
                "|",
            )
        ),
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = MINHASH_NUM_PERM,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash LSH, verified by
    estimated Jaccard = matching signature positions / num_perm.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b."""
    # Stage 1: materialize signatures ONCE (downstream uses them three
    # times: band explode + two verify joins) at full width (trap 7)
    sigs = checkpoint(
        minhash_signatures_fast(df, text_col, id_col, num_perm=num_perm)
        .repartition(width(df.sparkSession), "id"))

    # Stage 2: LSH band join on ids only (narrow shuffle rows)
    banded = sigs.select(
        "id", F.posexplode(minhash_bands(F.col("sig"), bands, num_perm)).alias(
            "band", "band_sig")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # Stage 3: verify candidates against the materialized signatures
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    same = F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda m: m)
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                (F.size(same) / F.lit(num_perm)).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# --------------------------------------------------------------- simhash


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over word tokens: per token take `bits` bits of
    md5(token); signature bit j = majority vote.  Pure SQL:
    aggregate(tokens, zero-vector, vector add of ±1 per bit).

    Returns the signature as a `bits`-char '0'/'1' string (portable
    across engines — no 64-bit int headaches)."""
    tokens = F.split(_norm(col), " ")

    # per token: bit j of md5(token) via hex->binary string expansion
    # (conv(nibble,16,2) lpad'ed to 4) — Column-safe, no bit ops needed
    def tok_bits(t):
        h = F.md5(t)
        nbits = bits // 4
        binstr = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(nbits)),
                lambda i: F.lpad(F.conv(F.substring(h, 1, nbits).substr(i, F.lit(1)), 16, 2), 4, "0"),
            ),
            "",
        )
        return F.transform(
            F.slice(F.split(binstr, ""), 1, bits),
            lambda b: F.when(b == "1", 1).otherwise(-1),
        )

    summed = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, tok_bits(t), lambda a, b: a + b),
    )
    return F.array_join(
        F.transform(summed, lambda v: F.when(v > 0, "1").otherwise("0")), ""
    )


def simhash_sql(tokens_expr: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of simhash(): `tokens_expr` names a LIST(VARCHAR)
    column of the space-split normalized text (compute it once in a
    subquery — this expression references it `bits` times).  Bit j of
    md5(token) = nibble j//4 (hex char j//4+1) AND (8 >> j%4); the ±1
    majority vote and '0'/'1' rendering mirror the Spark expression
    exactly."""
    bit_cases = []
    for j in range(bits):
        ni = j // 4 + 1
        mask = 8 >> (j % 4)
        vote = (
            f"list_sum([CASE WHEN (('0x' || substr(md5(t), {ni}, 1))::INT "
            f"& {mask}) != 0 THEN 1 ELSE -1 END FOR t IN {tokens_expr}])"
        )
        bit_cases.append(f"(CASE WHEN {vote} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bit_cases)


# --------------------------------------------------------- ngram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.
    Shingles appearing in > max_df docs are dropped (stopword-shingle
    cap — bounds posting-list blowup at corpus scale).
    Returns (id_a, id_b, jaccard).

    The distinct (id, shingle-hash) table feeds FOUR consumers (doc
    sizes, the DF cap, and both sides of the inverted-index self-join);
    without materialization each consumer re-runs the Generate + md5 +
    distinct subtree — plan-audited at 6 parquet scans / 4 shingle
    subtrees under AQE (broadcast rewrites defeat ReuseExchange).  It
    is therefore materialized once (session.checkpoint) — the
    minhash_dedup_pairs signature-materialization pattern."""
    sh = checkpoint(word_shingle_rows(df, text_col, id_col, k))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    popular = sh.groupBy("sh").agg(F.count("*").alias("df_cnt")).filter(
        F.col("df_cnt") > max_df
    )
    sh = sh.join(F.broadcast(popular.select("sh")), "sh", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    j = (
        common.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


# ------------------------------------------------------ dedup groups


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int | None = None) -> DataFrame:
    """Near-duplicate pairs -> canonical groups via iterative min-label
    propagation: each node adopts the smallest id reachable through its
    edges.  Returns (id, component) where component = min id of the
    group.  Labels are seeded from the first hook, so a graph of
    diameter d takes d rounds: 1-2 for near-cliques, d for a revision
    chain.  max_iter None = the node count, which always converges; an
    explicit budget that ends with labels changing raises RuntimeError.

    Scale notes (100 TB):
      - ONE materializing action per round — the checkpoint.  The
        convergence check rides on it as an Observation (CollectMetrics
        node in the same plan), so there is NO extra per-round driver
        count job or label self-join.
      - the checkpoint is session.checkpoint: reliable storage (HDFS/
        object store, survives executor loss) when the session has a
        checkpoint dir, else the single-job localCheckpoint form.
    """
    import itertools

    from pyspark.sql import Observation

    edges = checkpoint(
        pairs.select(F.explode(F.array(
            F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
            F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
        )).alias("e")).select("e.a", "e.b")
    )
    # seed: read twice in round 0 (one reused exchange), then checkpointed
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
        .withColumnRenamed("a", "id")
    )
    for i in itertools.count(1):
        # each node proposes its current component to its neighbors
        prop = (
            edges.join(labels, edges.a == labels.id)
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("component").alias("n_comp"))
        )
        obs = Observation(f"cc_round_{i}")
        labels = checkpoint(
            labels.join(prop, "id")
            .select(
                "id",
                F.least("component", "n_comp").alias("new_component"),
                F.col("component").alias("old_component"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("new_component") != F.col("old_component")).cast("int")
                ).alias("changed"),
                F.count(F.lit(1)).alias("nodes"),
            )
            .select("id", F.col("new_component").alias("component"))
        )
        seen = obs.get
        if int(seen["changed"] or 0) == 0:
            return labels
        if i >= (seen["nodes"] if max_iter is None else max_iter):
            raise RuntimeError(f"connected_components: labels still changing"
                               f" after max_iter={i} rounds")


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Drop near-duplicates: keep only the minimum-id member of each
    connected component (plus all docs with no near-dup edges).  CC runs
    to convergence: a long revision chain costs rounds, not an error."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# -------------------------------------------------------- decontamination


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    k: int = 13,
    threshold: float = 0.8,
    max_df: int = 10_000,
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose k-word
    shingle set covers more than `threshold` of a benchmark item's
    shingles (the published n-gram decontamination recipe — GPT-3's
    appendix C used 13-gram collision filtering; overlap is measured
    against the BENCHMARK item so short eval questions embedded in long
    documents are still caught).

    Returns (doc_id, bench_id, overlap) for contaminated pairs —
    anti-join doc_ids against the corpus to drop or quarantine.

    Scale shape: same inverted-index join as ngram_jaccard_pairs —
    the 10^12-doc corpus side streams through one Generate + hash-agg;
    the benchmark side is small by nature (thousands of eval items);
    shingles in > max_df docs are dropped as stopword shingles before
    the join (bounds posting lists; a benchmark item made ENTIRELY of
    such shingles cannot be matched — raise max_df if eval items are
    that generic)."""
    d = word_shingle_rows(docs, text_col, id_col, k)
    b = word_shingle_rows(benchmark, bench_text_col, bench_id_col, k) \
        .withColumnRenamed("id", "bid")
    bsizes = b.groupBy("bid").agg(F.count("*").alias("n_b"))
    popular = d.groupBy("sh").agg(F.count("*").alias("df_cnt")).filter(
        F.col("df_cnt") > max_df
    )
    d = d.join(F.broadcast(popular.select("sh")), "sh", "left_anti")
    common = (
        d.join(b, "sh")
        .groupBy(F.col("id").alias("doc_id"), "bid")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(bsizes, "bid")
        .select(
            "doc_id",
            F.col("bid").alias("bench_id"),
            (F.col("n_common") / F.col("n_b")).alias("overlap"),
        )
        .filter(F.col("overlap") >= threshold)
    )


# ----------------------------------------------- substring-level dedup


def _words(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w): each doc's whitespace-normalized word array."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.split(_norm(F.col(text_col)), " ").alias("w"),
    )


def _window_hashes(words: DataFrame, n: int) -> DataFrame:
    """(id, w) -> (id, s, h): the md5 of every n-word window, s its
    1-based start word, for docs of at least n words."""
    pos = words.filter(F.size("w") >= n).select(
        "id", "w",
        F.posexplode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias(
            "_p", "s"),
    )
    return pos.select(
        "id", "s",
        F.md5(F.array_join(F.slice(F.col("w"), F.col("s"), n), " ")).alias(
            "h"),
    )


def _merged_runs(windows: DataFrame, n: int) -> DataFrame:
    """(id, s, ...) n-word windows -> (id, start_word, end_word): the
    maximal word intervals they cover per doc.  Overlapping and
    ADJACENT windows merge — a per-doc prefix-max window, one shuffle
    on id."""
    from pyspark.sql import Window

    prev = (
        Window.partitionBy("id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    iv = windows.select(
        "id", "s", (F.col("s") + (n - 1)).alias("e")
    ).withColumn("pmax", F.max("e").over(prev)).withColumn(
        "brk",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax") + 1), 1
        ).otherwise(0),
    ).withColumn("grp", F.sum("brk").over(run))
    return iv.groupBy("id", "grp").agg(
        F.min("s").alias("start_word"), F.max("e").alias("end_word"))


def duplicated_window_spans(
    docs: DataFrame,
    n: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document substring duplication: flag every n-WORD window
    whose exact content appears in >= min_docs distinct documents, and
    return the flagged regions merged into maximal word intervals per
    document — the published substring-deduplication recipe for
    training corpora (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", which removes duplicated 50-token
    substrings; suffix arrays there, a bucketed hash join here — same
    output contract, shuffle-friendly).

    Returns (doc_id, start_word, end_word): 1-based inclusive word
    positions in the whitespace-normalized token stream.  Overlapping
    and ADJACENT flagged windows merge (window at s covers [s, s+n-1];
    a window starting at s+n continues the run), so each row is one
    maximal duplicated region; callers cut or keep-first as policy.

    Scale shape (100 TB): windows are (id, pos, md5) rows through one
    Generate boundary — the gram TEXT never crosses a shuffle, only
    its 32-hex hash.  Flagging is distinct(h, id) -> hash-agg count
    (both map-side combinable, md5 keys uniform so no skew); the
    flag-back is an equi semi-join on h (the flagged set is corpus-
    sized in the worst case, so no broadcast).  Interval merging is a
    per-document prefix-max window — shuffles once on doc_id.

    The (id, pos, hash) window table feeds two consumers (the flag agg
    and the semi-join probe side) and is materialized once via
    session.checkpoint (r7: recomputing it meant hashing every 50-word
    window TWICE — the md5 over the joined slice dominates the op, and
    the checkpoint halved the sf0.1 query, 2.8 -> 1.5 s; the
    checkpointed rows are ~40 B each, the same order as the shuffle
    blocks the aggregation writes anyway).
    """
    hashed = checkpoint(_window_hashes(_words(docs, text_col, id_col), n))
    flagged = (
        hashed.select("h", "id").distinct()
        .groupBy("h").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    hits = hashed.join(flagged, "h", "semi")
    return _merged_runs(hits, n).select(
        F.col("id").alias(id_col), "start_word", "end_word")


def drop_duplicated_windows(
    docs: DataFrame,
    n: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the Lee-et-al cut to the corpus: for every n-word window
    content appearing in >= min_docs distinct documents, KEEP the
    occurrences in the canonical document (the smallest id containing
    that window — deterministic under resharding) and CUT the flagged
    word regions everywhere else, then rebuild each document's text
    from its surviving words.

    Returns (id_col, clean_text, words_cut).  Documents shorter than n
    words (like every uncut document) come back in NORMALIZED form —
    clean_text is rebuilt from the lowercased, whitespace-collapsed
    token stream, not the verbatim input (the DuckDB twin matches the
    same normalization, so cross-engine parity holds).  Cut regions are the MERGED maximal
    intervals of each doc's non-canonical flagged windows (the
    duplicated_window_spans convention), so partial overlaps with a
    window the doc IS canonical for still get cut — the policy is
    "this doc does not own the run, the run goes".

    Scale shape: everything from duplicated_window_spans, plus a
    min(id)-per-hash agg (map-side combinable), and a per-doc
    range-membership join of words against that doc's cut intervals —
    both sides keyed and bounded per document, reassembly is the same
    sorted collect_list as drop_repeated_lines.  Unlike the detection
    op (whose double compute is cheaper than caching), this one fans
    the token and hash streams out to FIVE consumers — plan-audited at
    8 source scans unpinned — so both narrow streams are pinned
    (session.pin: a corpus-rewriting op already pays corpus-sized I/O;
    one materialized copy beats 8 re-derivations).
    """
    w = pin(_words(docs, text_col, id_col))
    hashed = pin(_window_hashes(w, n))
    per_doc = hashed.select("h", "id").distinct()
    counts = per_doc.groupBy("h").agg(
        F.count("*").alias("n_docs"), F.min("id").alias("canonical"))
    flagged = counts.filter(F.col("n_docs") >= min_docs)
    # non-canonical occurrences only
    cuts = hashed.join(flagged.select("h", "canonical"), "h").filter(
        F.col("id") != F.col("canonical"))
    merged = _merged_runs(cuts, n)

    words = w.select(
        "id", F.posexplode("w").alias("p0", "word")
    ).select("id", (F.col("p0") + 1).alias("p"), "word")
    hit = words.join(merged, "id").filter(
        (F.col("p") >= F.col("start_word"))
        & (F.col("p") <= F.col("end_word"))
    ).select("id", "p").distinct()
    kept = words.join(hit, ["id", "p"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("p", F.col("word").alias("t")))
                ),
                lambda x: x["t"],
            ),
            " ",
        ).alias("clean_text")
    )
    n_cut = hit.groupBy("id").agg(F.count("*").alias("words_cut"))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .join(n_cut, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(
                F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("words_cut"), F.lit(0)).cast("int").alias(
                "words_cut"),
        )
    )


# --------------------------------------- content-defined chunk dedup


def cdc_chunk_table(blobs: DataFrame, ref_col: str = "ref",
                    content_col: str = "content",
                    mask_bits: int = 13, min_size: int = 2048,
                    max_size: int = 65536) -> DataFrame:
    """Storage-level dedup primitive for BINARY corpora (media blobs,
    archives, model artifacts): split every blob at content-defined
    boundaries — Gear rolling hash, functions/cdc.py, the LBFS/FastCDC
    recipe — and emit one row per chunk: (ref, chunk_idx, offset,
    size, chunk_md5).  A byte run shared between two blobs yields the
    SAME chunks regardless of its offset (the hash window is 64 bytes,
    so boundaries are content-local), which fixed-size blocking cannot
    do; downstream a plain groupBy(chunk_md5) is the dedup/ref-count
    table, the same hash-agg shape as exact_dedup.

    Scale shape: chunking is an Arrow-batched mapInPandas over the
    blob scan (vectorized 64-tap hash; chunks stay in their blob's
    partition, no shuffle); only (ref, idx, offset, size, md5) rows —
    never chunk BYTES — leave the kernel, so the dedup join moves
    ~40 bytes per chunk no matter how large the chunks are.  A NULL
    blob is empty (no chunks); a blob the chunker raises on is one
    contained row with NULL chunk fields and the error text in
    chunk_md5."""
    def chunks(ref, raw):
        import hashlib

        from ..functions.cdc import chunk_boundaries

        rows, last = [], 0
        for i, end in enumerate(chunk_boundaries(
                raw, mask_bits, min_size, max_size)):
            rows.append((ref, i, last, end - last,
                         hashlib.md5(raw[last:end]).hexdigest()))
            last = end
        return rows

    return map_rows(blobs.select(ref_col, content_col), chunks,
                    "ref string, chunk_idx int, offset long, "
                    "size long, chunk_md5 string")


def cdc_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Chunk table -> corpus-level storage-dedup numbers: unique vs
    total chunks/bytes and the dedup ratio.  One hash-agg + one tiny
    agg; the classic 'how much would a dedup store save' report."""
    per = chunks.groupBy("chunk_md5").agg(
        F.count("*").alias("copies"), F.first("size").alias("size"))
    return per.agg(
        F.count("*").cast("bigint").alias("unique_chunks"),
        F.sum("copies").cast("bigint").alias("total_chunks"),
        F.sum("size").cast("bigint").alias("unique_bytes"),
        F.sum(F.col("copies") * F.col("size")).cast("bigint")
        .alias("total_bytes"),
        F.round(F.sum(F.col("copies") * F.col("size"))
                / F.sum("size"), 4).alias("dedup_ratio"))
