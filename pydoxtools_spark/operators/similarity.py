"""Similarity search over an embedding column (array<float>).

The reference builds an hnswlib cosine ANN index per document set
(extract_index.py:87-160) and a KNN similarity graph (:163-196).  A
single-node graph index does not translate to 100 TB; the Spark-native
re-expression is:

  - brute-force top-k: broadcast the (small) query set, cosine via
    zip_with/aggregate (JVM-side), window row_number per query.
    This is the exact baseline — O(Q x N) but embarrassingly parallel,
    the right tool when Q is small.
  - LSH-bucketed ANN (scale path): random-hyperplane signatures
    (deterministic seeded planes), join on bucket, exact cosine only
    within buckets.  Probes = multi-table LSH by rotating the plane
    subset.  Trades recall for a ~bucket-fraction of the comparisons.

No Python UDFs: dot products run as Catalyst higher-order functions
inside whole-stage codegen.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint, pin


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return (_dot(a, b) / (_norm2(a) * _norm2(b))).cast("double")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for each query vector.
    Returns (query_id, neighbor_id, cos_sim, rank); self-matches excluded.
    The query side is broadcast — never shuffle the corpus."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes (driver-side, embedded as literals
    in the plan -> identical on every executor and in the oracle)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string for a vector under the given planes."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(x) for x in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact cosine only within matching LSH buckets.
    Recall < 1 by design; the scale path for large query sets."""
    planes = random_planes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hash_embeddings_sparse(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           dim: int = 64) -> DataFrame:
    """Feature-hashing text embeddings, sparse form (id, bucket, val):
    every word occurrence adds ±1 to bucket md5(word)%dim, sign from the
    next md5 hex digit's low bit — the hashing-trick stand-in for the
    reference's calculate_string_embeddings (nlp_utils.py:403-414; the
    HF model is a pandas-UDF plug point, absent from this sandbox).
    Deterministic, pure Spark SQL, exact DuckDB twin (integer sums)."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                           r"\s+", " "), " ")).alias("w"),
    )
    h = F.md5(F.col("w"))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % dim
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") % 2 == 0, 1
    ).otherwise(-1)
    return (
        words.select("doc_id", bucket.cast("int").alias("bucket"),
                     sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )


def hash_embeddings_sparse_sql(dim: int = 64) -> str:
    """DuckDB twin over the `documents` view."""
    return rf"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(
        regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      FROM documents
    ), h AS (
      SELECT doc_id,
        CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % {dim} AS INT) AS bucket,
        CASE WHEN ('0x' || substr(md5(w), 9, 1))::INT % 2 = 0
             THEN 1 ELSE -1 END AS s
      FROM w
    )
    SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS val
    FROM h GROUP BY 1, 2 HAVING sum(s) != 0
    """


def hash_embeddings(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", dim: int = 64) -> DataFrame:
    """Dense L2-normalized form (id, embedding array<double>) — plugs
    straight into embedding_neardup_pairs / knn_graph_lsh / lsh_topk,
    closing the text -> embed -> ANN/near-dup chain without any model
    dependency."""
    sparse = hash_embeddings_sparse(df, text_col, id_col, dim)
    # The L2 norm is computed IN the aggregation as sum(val^2) — val is
    # a bigint, so the sum is exact integer arithmetic and
    # sqrt(cast(n2)) is bit-identical to the old per-row
    # aggregate(v, acc + x*x) fold (integer-valued doubles sum exactly
    # below 2^53).  The old form captured that whole fold expression
    # inside the normalize transform() lambda, where interpreted HOF
    # evaluation re-ran it per ELEMENT (twice: condition + value) —
    # ~2*dim^2 multiply-adds per row (CLAUDE.md trap #1); measured
    # 7.9 s -> 1.7 s on the 12.5k-sentence textrank corpus at sf0.1.
    dense = (
        sparse.groupBy("doc_id")
        .agg(
            F.map_from_arrays(
                F.collect_list("bucket"), F.collect_list("val")
            ).alias("m"),
            F.sum(F.col("val") * F.col("val")).alias("n2"),
        )
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, {dim - 1}),"
                " i -> cast(coalesce(element_at(m, i), 0) as double))"
            ).alias("v"),
            F.sqrt(F.col("n2").cast("double")).alias("norm"),
        )
    )
    return dense.select(
        "doc_id",
        F.transform(
            "v",
            lambda x: x / F.when(F.col("norm") > 0, F.col("norm"))
            .otherwise(1.0),
        ).alias("embedding"),
    )


KNN_EXACT_MAX = 100_000


def knn_graph(corpus: DataFrame, k: int = 4, max_dist: float = 0.2,
              id_col: str = "vec_id", vec_col: str = "embedding",
              exact: bool | None = None,
              exact_max: int = KNN_EXACT_MAX, dim: int = 64) -> DataFrame:
    """Similarity graph edges: each vector's k nearest cosine neighbors
    with distance (1-cos) <= max_dist — the reference's SimilarityGraph
    semantics (extract_index.py:163-196) relationally.

    SIZE-GATED, ZERO-ACTION: the exact form broadcasts the full corpus
    as the query side (O(N^2) score work) — correct for the reference's
    per-document-set scope (a few thousand text pieces), a scale-killer
    beyond ~100k vectors.  Anything above `exact_max` auto-routes to
    knn_graph_lsh — bucketed candidates, no broadcast, recall < 1 by
    design.  Routing with exact=None spends NO Spark job: it uses
    Catalyst's optimized-plan statistics — the exact rowCount when the
    plan carries one, else a row estimate of sizeInBytes / (8*dim).
    That estimate is a deliberate UNDER-estimate of bytes-per-row
    (vectors alone), so it OVER-estimates rows and errs toward LSH: the
    failure mode is recall < 1, never an accidental O(N^2) broadcast
    (unestimable leaf nodes default to Long.Max sizeInBytes -> LSH, same
    bias).  Pass exact=True to pin the exact form, exact=False to force
    LSH."""
    if exact is None:
        stats = corpus._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()

        def _num(v):  # py4j hands back int or scala.math.BigInt
            return float(v) if isinstance(v, (int, float)) \
                else float(v.toString())

        n = (_num(rc.get()) if rc.isDefined()
             else _num(stats.sizeInBytes()) / (8 * dim))
        exact = n <= exact_max
    if not exact:
        return knn_graph_lsh(corpus, k=k, max_dist=max_dist,
                             id_col=id_col, vec_col=vec_col, dim=dim)
    edges = brute_force_topk(corpus, corpus, k=k, id_col=id_col, vec_col=vec_col)
    return edges.select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        (1.0 - F.col("cos_sim")).alias("dist"),
        "rank",
    ).filter(F.col("dist") <= max_dist)


def knn_graph_lsh(
    corpus: DataFrame,
    k: int = 4,
    max_dist: float = 0.2,
    n_planes: int = 8,
    rotations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """KNN graph at corpus scale: candidate pairs come from multi-table
    LSH (`rotations` independent plane sets — rotating the planes is the
    standard recall amplifier: a near pair missed by one table collides
    in another), exact cosine is computed only within buckets, and the
    corpus is never broadcast or cross-joined.

    Plan shape: ALL rotations' buckets are computed in ONE projection
    and posexploded to (id, rot, bucket) rows, so one equi-join on
    (rot, bucket) replaces `rotations` separate bucket joins (shuffle
    hash/SMJ, AQE splits skewed buckets) — the corpus is scanned once
    and each vector's plane dots are evaluated once instead of once
    per rotation per join side (2*rotations times), and the two join
    sides share the exchange (identical subplans -> ReuseExchange).
    The candidate set is identical: a pair joined under (rot, bucket)
    for ANY rot is exactly a pair some rotation's bucket join would
    emit (exceptAll-verified).  Then a distinct on bare (src, dst)
    ids — vectors are joined back AFTER the dedup so the wide rows
    never flow through it.  Recall < 1 by design; identical vectors
    always share every bucket (recall 1 for exact dups)."""
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bucket_arr = F.array(*[
        lsh_bucket(F.col("v"), random_planes(dim, n_planes, seed + r))
        for r in range(rotations)
    ])
    b = c.select("id", F.posexplode(bucket_arr).alias("rot", "bucket"))
    x, y = b.alias("x"), b.alias("y")
    cand = x.join(
        y,
        (F.col("x.rot") == F.col("y.rot"))
        & (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.id") != F.col("y.id")),
    ).select(F.col("x.id").alias("src"), F.col("y.id").alias("dst"))
    cand = cand.dropDuplicates(["src", "dst"])
    sv = c.select(F.col("id").alias("src"), F.col("v").alias("sv"))
    dv = c.select(F.col("id").alias("dst"), F.col("v").alias("dv"))
    scored = (
        cand.join(sv, "src")
        .join(dv, "dst")
        .select("src", "dst", cosine(F.col("sv"), F.col("dv")).alias("cos_sim"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src", "dst", (1.0 - F.col("cos_sim")).alias("dist"), "rank"
        )
        .filter(F.col("dist") <= max_dist)
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    graph_col: str = "doc_id",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Weighted pagerank over per-graph edge sets (one graph per
    `graph_col` value — the reference runs networkx pagerank per
    document's similarity graph, extract_index.py:189-196).

    Fixed-iteration form: `iters` rounds of
      r'(j) = (1-d)/N + d * (sum_{i->j} r(i) * w_ij / outw(i)
                             + dangling_mass / N)
    Deterministic (no convergence probe), so no per-round driver logic
    is needed.  Each round's rank table is lineage-truncated
    (session.checkpoint, the connected_components pattern): the round's
    plan references the previous ranks TWICE (edge contributions +
    dangling mass), so without truncation the logical plan doubles per
    round and analysis time explodes exponentially.  Normalized edges
    and the node table are pinned (session.pin) because every round
    references them.

    Scale: each round is two shuffles on (graph, node) keys, the
    standard distributed-pagerank shape; graphs are independent so skew
    is bounded by the largest single graph (per-doc token graphs:
    thousands of nodes at most)."""
    e = edges.select(
        F.col(graph_col).alias("g"),
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    out_w = e.groupBy("g", "src").agg(F.sum("w").alias("ow"))
    ne = pin(e.join(out_w, ["g", "src"]).select(
        "g", "src", "dst", (F.col("w") / F.col("ow")).alias("p")
    ))
    if nodes is None:
        # node set from the edges; pass `nodes` (graph_col, id) to also
        # rank isolated vertices (the reference adds every token to the
        # graph before wiring edges, extract_index.py:178)
        nodes = (
            e.select("g", F.col("src").alias("id"))
            .unionByName(e.select("g", F.col("dst").alias("id")))
            .distinct()
        )
    else:
        nodes = nodes.select(
            F.col(graph_col).alias("g"), F.col("id")).distinct()
    counts = nodes.groupBy("g").agg(F.count("*").alias("n"))
    # dangling = nodes with no out-edges (networkx semantics: their
    # mass is redistributed uniformly).  Since r7 the dangling set is a
    # boolean column ON the node table instead of a separate DataFrame:
    # the per-round dangling-mass aggregation becomes a filter over the
    # (checkpointed) rank table rather than a semi-join against a
    # second plan — one join fewer per iteration, same rows summed.
    # Derived from the PERSISTED ne, not out_w: out_w hangs off the raw
    # edge plan, so probing it would re-run the caller's whole edge
    # chain (measured: the textrank_sentences knn chain re-ran here,
    # ~15 s of the 112 s sf0.1 wall); ne carries the same (g, src) set.
    src_set = ne.select("g", F.col("src").alias("id")).distinct() \
        .withColumn("_out", F.lit(True))
    nodes = pin(
        nodes.join(counts, "g")
        .join(src_set, ["g", "id"], "left")
        .withColumn("dang", F.col("_out").isNull())
        .drop("_out")
    )
    # One cheap isEmpty probe on the pinned inputs decides whether
    # the per-round dangling aggregation exists at all — graphs built
    # by doc_knn_edges may have none, and dropping the extra stages per
    # round roughly halves the per-iteration fixed cost.
    has_dangling = not nodes.filter(F.col("dang")).isEmpty()

    # Lineage truncation cadence: with dangling, each round references
    # the previous ranks TWICE (plan doubles per round) -> truncate
    # every round; without, the reference is single (linear growth) ->
    # every 3rd round suffices, cutting checkpoint jobs ~3x.
    ckpt_every = 1 if has_dangling else 3

    ranks = nodes.select(
        "g", "id", "n", "dang", (1.0 / F.col("n")).alias("r"))
    for i in range(iters):
        if i % ckpt_every == 0:
            ranks = checkpoint(ranks)
        contrib = (
            ranks.select("g", F.col("id").alias("src"), "r")
            .join(ne, ["g", "src"])
            .groupBy("g", F.col("dst").alias("id"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("c"))
        )
        new_ranks = nodes.join(contrib, ["g", "id"], "left")
        if has_dangling:
            dmass = (
                ranks.filter(F.col("dang"))
                .groupBy("g")
                .agg(F.sum("r").alias("dm"))
            )
            new_ranks = new_ranks.join(dmass, "g", "left")
            dm = F.coalesce(F.col("dm"), F.lit(0.0)) / F.col("n")
        else:
            dm = F.lit(0.0)
        ranks = new_ranks.select(
            "g", "id", "n", "dang",
            (
                (1.0 - damping) / F.col("n")
                + damping * (F.coalesce(F.col("c"), F.lit(0.0)) + dm)
            ).alias("r"),
        )
    return ranks.select(
        F.col("g").alias(graph_col), "id", F.col("r").alias("rank")
    )


def doc_knn_edges(
    tokens: DataFrame,
    k: int = 4,
    max_dist: float = 0.2,
    doc_col: str = "doc_id",
    id_col: str = "tok_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-document similarity-graph edges (reference SimilarityGraph,
    extract_index.py:163-188: directed i->j for j among i's k nearest,
    d <= max_distance, weight = 1 - d).

    The self-join is scoped to ONE document's tokens (equi-join on
    doc_col), so the quadratic factor is bounded by tokens-per-doc
    (thousands), never corpus size — each doc's block is independent
    and AQE splits skewed giants."""
    a = tokens.select(
        F.col(doc_col).alias("g"), F.col(id_col).alias("src"),
        F.col(vec_col).alias("sv"))
    b = tokens.select(
        F.col(doc_col).alias("g"), F.col(id_col).alias("dst"),
        F.col(vec_col).alias("dv"))
    scored = (
        a.join(b, "g")
        .filter(F.col("src") != F.col("dst"))
        .select("g", "src", "dst", cosine(F.col("sv"), F.col("dv")).alias("cos"))
    )
    w = Window.partitionBy("g", "src").orderBy(
        F.col("cos").desc(), F.col("dst").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & (1.0 - F.col("cos") <= max_dist))
        .select(
            F.col("g").alias(doc_col), "src", "dst",
            F.col("cos").alias("weight"), "rank",
        )
    )


def textrank_keywords(
    tokens: DataFrame,
    top_k: int = 5,
    k: int = 4,
    max_dist: float = 0.2,
    iters: int = 10,
    damping: float = 0.85,
    doc_col: str = "doc_id",
    id_col: str = "tok_id",
    label_col: str = "token",
    vec_col: str = "embedding",
    edges: DataFrame | None = None,
) -> DataFrame:
    """Textrank keywords (reference TextrankOperator,
    extract_index.py:190-196 + keyword dedup): per-doc similarity
    graph -> weighted pagerank -> labels ranked by score, duplicates
    keep their best position, top_k kept.

    Returns (doc_col, pos, keyword).  Ranking uses round(rank, 6) with
    an id tie-break so mathematically-equal scores (symmetric nodes)
    order identically on every engine regardless of float summation
    order.  Pass `edges` to rank an externally built graph (e.g.
    knn_graph_lsh output joined back to docs)."""
    # tokens fan out to three consumers (edge build, node set, label
    # join) — when they carry an expensive upstream (the sentence
    # hash-embedding chain), each materialization re-runs it; pin the
    # narrow projection once.
    tokens = pin(tokens.select(
        doc_col, id_col, label_col,
        *([vec_col] if vec_col in tokens.columns else []),
    ))
    if edges is None:
        edges = doc_knn_edges(tokens, k=k, max_dist=max_dist,
                              doc_col=doc_col, id_col=id_col, vec_col=vec_col)
    node_ids = tokens.select(doc_col, F.col(id_col).alias("id"))
    ranks = pagerank(edges, damping=damping, iters=iters, graph_col=doc_col,
                     nodes=node_ids)
    labels = tokens.select(
        doc_col, F.col(id_col).alias("id"), F.col(label_col).alias("keyword"))
    scored = ranks.join(labels, [doc_col, "id"])
    w_pos = Window.partitionBy(doc_col).orderBy(
        F.round("rank", 6).desc(), F.col("id").asc())
    scored = scored.withColumn("pos0", F.row_number().over(w_pos))
    w_dup = Window.partitionBy(doc_col, "keyword").orderBy("pos0")
    first = scored.withColumn("rl", F.row_number().over(w_dup)).filter(
        F.col("rl") == 1)
    w_final = Window.partitionBy(doc_col).orderBy("pos0")
    return (
        first.withColumn("pos", F.row_number().over(w_final))
        .filter(F.col("pos") <= top_k)
        .select(doc_col, "pos", "keyword")
    )


def textrank_sentences(
    df: DataFrame,
    top_k: int = 3,
    k: int = 4,
    max_dist: float = 0.6,
    iters: int = 10,
    damping: float = 0.85,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Extractive summary: the top_k most CENTRAL sentences per doc by
    textrank over a sentence-similarity graph, returned in original
    document order (the classic extractive recipe; the reference's
    SimilarityGraph docstring names 'sentence ranks' as a use,
    extract_index.py:163-169 — its transformer summarizer
    (nlp_utils.py:488-529) stays an LLM-tier plug point).

    Chain: regex sentence split (the num_sents convention) ->
    hash_embeddings per sentence -> per-doc knn edges -> weighted
    pagerank -> top_k by round(rank,6) with sent_idx tie-break ->
    re-sorted by position.  Every stage is an existing oracle-checked
    operator; scale properties are theirs."""
    # consumed by the embedding chain AND the final document-order join
    sents = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), r"(?<=[.!?])\s+")
        ).alias("sent_idx", "sentence"),
    ).filter(F.length(F.trim("sentence")) > 0)
    # The sentence split + explode runs BEFORE the first exchange, so
    # its parallelism is the input's: a caller with a single-file doc
    # table repartitions it first (r7 stage audit: 1.8 s single-task
    # CPU at sf0.1), as q_textrank_summary does.
    sents = pin(sents)
    # unique token id per (doc, sentence) for the embedding helper
    emb = hash_embeddings(
        sents.select(
            F.concat_ws("\x00", "doc_id", F.col("sent_idx").cast("string"))
            .alias("doc_id"),
            F.col("sentence").alias("text"),
        ),
        dim=dim,
    ).select(
        F.split(F.col("doc_id"), "\x00")[0].alias("doc_id"),
        F.split(F.col("doc_id"), "\x00")[1].cast("int").alias("sent_idx"),
        "embedding",
    )
    tokens = sents.join(emb, ["doc_id", "sent_idx"])
    ranked = textrank_keywords(
        tokens.select("doc_id", F.col("sent_idx").alias("tok_id"),
                      F.col("sentence").alias("token"), "embedding"),
        top_k=top_k, k=k, max_dist=max_dist, iters=iters, damping=damping,
    )
    # summary order = document order, not rank order
    chosen = ranked.select("doc_id", F.col("keyword").alias("sentence"))
    ordered = chosen.join(sents, ["doc_id", "sentence"]).groupBy(
        "doc_id", "sentence").agg(F.min("sent_idx").alias("sent_idx"))
    w = Window.partitionBy("doc_id").orderBy("sent_idx")
    return ordered.withColumn("pos", F.row_number().over(w)).select(
        "doc_id", "pos", "sentence")


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    rotations: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from matching
    random-hyperplane LSH buckets (identical vectors always share every
    bucket, so exact dups have recall 1), verified by exact cosine.
    Returns (id_a, id_b, cos_sim) with id_a < id_b.

    The O(n^2) brute-force comparison collapses to within-bucket pairs:
    with b sign bits, random pairs collide with prob ~2^-b while
    near-identical vectors collide with prob ~1 — the standard
    embedding-dedup shape for a 10^12-row corpus (bucket join + AQE
    skew splitting).

    rotations > 1 is the recall amplifier for thresholds below ~0.99:
    a near-dup pair at cosine c collides in one b-bit table with prob
    (1 - acos(c)/pi)^b; with R independent plane sets the miss prob
    compounds to (1 - p)^R.  All rotations' buckets are computed in
    one projection and posexploded to (id, rot, bucket) rows — one
    (rot, bucket) self-join replaces R bucket joins, the corpus is
    scanned once, and the join sides share their exchange (see
    knn_graph_lsh).  Candidates are deduped on bare (id, id) pairs
    BEFORE the exact-cosine verify, so each extra rotation adds only
    candidate rows, never re-verification.  Default rotations=3:
    measured recall at threshold 0.95 on the 96k-vector bench corpus
    is ~0.76 with one table vs >=0.9 with three (bench.ann_recall)."""
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bucket_arr = F.array(*[
        lsh_bucket(F.col("v"), random_planes(dim, n_planes, seed + r))
        for r in range(rotations)
    ])
    b = c.select("id", F.posexplode(bucket_arr).alias("rot", "bucket"))
    x, y = b.alias("x"), b.alias("y")
    cand = x.join(
        y,
        (F.col("x.rot") == F.col("y.rot"))
        & (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.id") < F.col("y.id")),
    ).select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    if rotations > 1:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    va = c.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = c.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )
