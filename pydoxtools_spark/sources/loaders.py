"""Corpus sources — every ingest path of the reference, Spark-native
(SURVEY.md §2.1).

| reference                         | here                               |
|-----------------------------------|------------------------------------|
| PathLoader (extract_filesystem.py:46-109)  | load_directory (binaryFile src) |
| load_raw_file_content (:25-38)    | binaryFile `content` column        |
| force_decode (:13-22)             | decode_text_col                    |
| SQLTableLoader (dask_operators.py:81-108)  | load_sql_table (partitioned JDBC) |
| dict/list/yaml loaders (document.py:756-802) | docs_from_json / docs_from_yaml |
| DocumentBag path sources (document.py:1461-1472) | same binaryFile scan |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import MAX_INFLATE_BYTES
from ..kernels import error_text, map_rows


def load_directory(
    spark: SparkSession,
    directory: str,
    wildcard: str = "*",
    recursive: bool = True,
    max_bytes: int | None = None,
) -> DataFrame:
    """Recursive directory scan -> (path, modificationTime, length,
    content binary).  The reference walks the filesystem in Python
    (PathLoader); on Spark the binaryFile source distributes the listing
    and the read, and partition sizing follows
    spark.sql.files.maxPartitionBytes."""
    reader = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", wildcard)
        .option("recursiveFileLookup", str(recursive).lower())
    )
    df = reader.load(directory)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def decode_text_col(content: F.Column) -> F.Column:
    """bytes -> str decode ladder (force_decode semantics,
    extract_filesystem.py:13-22: chardet sniff, then utf-8 with replace).
    chardet is not in the sandbox; the JVM-side ladder is: accept the
    bytes as utf-8 when is_valid_utf8 says so, else fall back to
    ISO-8859-1 (never fails, preserves every byte).  Pure Catalyst
    expressions, no Python — Spark 4's strict-ANSI decode would throw
    MALFORMED_CHARACTER_CODING on the probe, hence the validate-first
    shape."""
    as_utf8 = content.cast("string")  # byte-copy, no validation
    return F.when(F.is_valid_utf8(as_utf8), as_utf8).otherwise(
        F.decode(content, "ISO-8859-1")
    )


def load_sql_table(
    spark: SparkSession,
    url: str,
    table: str,
    index_column: str,
    num_partitions: int = 32,
    lower: int | None = None,
    upper: int | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """Partitioned JDBC ingest — the reference's SQLTableLoader
    (dask read_sql_table with bytes_per_chunk) maps to JDBC range
    partitioning on the index column."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", index_column)
        .option("numPartitions", str(num_partitions))
    )
    if lower is not None:
        reader = reader.option("lowerBound", str(lower))
    if upper is not None:
        reader = reader.option("upperBound", str(upper))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def docs_from_json(df: DataFrame, json_col: str = "json") -> DataFrame:
    """JSON/dict documents -> flattened (key, value) TextBox-style rows
    (the reference flattens dicts into TextBox elements,
    document.py:756-802): explode map entries, pure SQL."""
    parsed = df.select(
        "doc_id",
        F.from_json(F.col(json_col), "map<string,string>").alias("m"),
    )
    return parsed.select(
        "doc_id", F.explode_outer("m").alias("key", "value")
    )


def docs_from_yaml(df: DataFrame, yaml_col: str = "yaml",
                   id_col: str = "doc_id") -> DataFrame:
    """YAML documents -> flattened (key, value) rows — the reference's
    application/x-yaml pipeline (document.py:756-802: yaml load ->
    dict branch -> flatten_dict -> 'k: v' TextBox rows).  Nested
    mappings flatten to dotted keys, list items to key.<index>.

    Gated on pyyaml: raises ImportError at CALL time when the lib is
    absent (docs_from_json and createDataFrame cover the shape).
    safe_load, not the reference's unsafe_load — arbitrary-object
    construction from corpus bytes is a non-goal.  Parse failures emit
    a (doc_id, NULL, NULL) row, mirroring docs_from_json's
    explode_outer on unparseable payloads."""
    try:
        import yaml  # noqa: F401
    except ImportError as e:  # pragma: no cover - env without pyyaml
        raise ImportError(
            "docs_from_yaml requires pyyaml; use docs_from_json or "
            "spark.createDataFrame(records) otherwise") from e

    def flat(prefix, v, out):
        if isinstance(v, dict):
            for k, sub in v.items():
                flat(f"{prefix}.{k}" if prefix else str(k), sub, out)
        elif isinstance(v, (list, tuple)):
            for i, sub in enumerate(v):
                flat(f"{prefix}.{i}" if prefix else str(i), sub, out)
        else:
            out.append((prefix, None if v is None else str(v)))

    def rows(doc_id, raw):
        import yaml as _yaml

        data = _yaml.safe_load(raw or "")
        if not isinstance(data, (dict, list)):
            return [(doc_id, None, None)]
        kv: list[tuple[str, str | None]] = []
        flat("", data, kv)
        return [(doc_id, k, v) for k, v in kv]

    return map_rows(df.select(id_col, yaml_col), rows,
                    f"{id_col} string, key string, value string",
                    lambda v, e: (v[0], None, None))


def select_keys(df: DataFrame, keys: list[str],
                renames: dict[str, str] | None = None,
                id_col: str = "doc_id") -> DataFrame:
    """DictSelector semantics (reference operators_base.py:344-352) over
    flattened (id, key, value) rows: keep the requested keys, rename
    via `renames` (out_name -> source_key), and — exactly like the
    reference's `selectable.get(a, None)` — emit a NULL-value row for
    every requested key a document lacks.

    Relational form: the requested-key list is a literal array exploded
    per document (broadcast-free: the list is part of the plan), then a
    left join against the key/value rows."""
    sel = [(k, k) for k in keys] + [
        (src, out) for out, src in (renames or {}).items()
    ]
    pairs = F.array(*[
        F.struct(F.lit(src).alias("src"), F.lit(out).alias("out"))
        for src, out in sel
    ])
    wanted = (
        df.select(id_col).distinct()
        .select(id_col, F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.src").alias("src"), F.col("p.out").alias("out"))
    )
    vals = df.select(id_col, F.col("key").alias("src"), "value")
    return wanted.join(vals, [id_col, "src"], "left").select(
        id_col, F.col("out").alias("key"), "value"
    )


# ------------------------------------------------------------ vector sink


def to_vector_sink(df: DataFrame, path: str, id_col: str = "doc_id",
                   vec_col: str = "embedding",
                   document_col: str | None = None,
                   metadata_col: str | None = None,
                   mode: str = "overwrite") -> str:
    """Vector-collection sink — the Spark-native stand-in for the
    reference's chroma ingestion (add_to_chroma,
    tests/test_documentbag.py:47-58: ids + embeddings + documents +
    metadata): the collection lands as a parquet table with exactly the
    columns a real chroma/faiss ingest consumes, written
    partition-parallel.  Pair with query_vector_sink for the query
    side."""
    doc = (F.col(document_col) if document_col
           else F.lit(None).cast("string")).alias("document")
    meta = (F.col(metadata_col) if metadata_col
            else F.lit(None).cast("string")).alias("metadata")
    df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("embedding"),
        doc, meta,
    ).write.mode(mode).parquet(path)
    return path


def query_vector_sink(spark: SparkSession, path: str, queries: DataFrame,
                      k: int = 5, query_id_col: str = "query_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Query side of the vector sink (reference `query(...)` closure):
    cosine top-k of each query vector against the stored collection,
    documents/metadata joined back.  Broadcasts the query side only —
    the collection streams (similarity.brute_force_topk; swap in
    lsh_topk for corpus-scale collections)."""
    from ..operators.similarity import brute_force_topk

    col = spark.read.parquet(path)
    hits = brute_force_topk(
        col.select(F.col("id").alias("vec_id"), "embedding"),
        queries.select(F.col(query_id_col).alias("vec_id"),
                       F.col(vec_col).alias("embedding")),
        k=k,
    )
    return hits.join(
        col.select(F.col("id").alias("neighbor_id"), "document", "metadata"),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "cos_sim", "rank",
             "document", "metadata")


def warc_records(blobs: DataFrame, ref_col: str = "path",
                 content_col: str = "content") -> DataFrame:
    """(ref, content) WARC segment blobs -> one row per record:
    (ref, rec_idx, warc_type, target_uri, rec_headers map, content
    binary, error).  The web-scale ingest front door: Common Crawl
    publishes WARC/WET segments, and every published curation recipe
    (C4, CCNet, RefinedWeb) starts by exploding them into records.

    Transport is functions/warc.py (WARC/1.0-1.1 framing,
    Content-Length-authoritative, member-gzip segments decoded
    transparently); response-record HTTP header blocks are stripped so
    `content` is the document body ready for ingest_blobs/extract().
    A malformed FILE is one contained error row (null record fields),
    never task death.

    Scale shape: one Arrow-batched mapInPandas over the segment blobs
    — records of a segment stay in their scan partition (no shuffle);
    segment files are the parallelism unit exactly as on a real
    crawl-processing cluster.  Giant segments: lower
    spark.sql.files.maxPartitionBytes at the binaryFile scan or
    pre-split segments; per-record gzip members mean a segment never
    needs to be decompressed twice."""
    def records(ref, content):
        from ..functions.warc import (
            http_payload,
            parse_warc,
            warc_target_uri,
            warc_type,
        )

        return [(ref, i, warc_type(headers), warc_target_uri(headers),
                 headers, http_payload(payload), None)
                for i, (headers, payload) in enumerate(parse_warc(content))]

    return map_rows(_blobs(blobs, ref_col, content_col), records,
                    "ref string, rec_idx int, warc_type string, "
                    "target_uri string, rec_headers map<string,string>, "
                    "content binary, error string")


def zip_members(blobs: DataFrame, ref_col: str = "path",
                content_col: str = "content",
                max_member_bytes: int = MAX_INFLATE_BYTES) -> DataFrame:
    """(ref, content) zip-archive blobs -> one row per member file:
    (ref, member, n_bytes, content, error).  The archive-of-documents
    ingest shape (a tarball-less world ships zips): ingest_blobs
    already recognizes docx/odt/epub zips as CONTAINERS, and routes a
    plain zip to an auditable 'binary' error — this exploder is the
    step BEFORE that for archives whose members are the documents.

    Per-member containment: an unreadable member (bad CRC, encrypted,
    truncated) is its own error row with the member name; a blob that
    is not a zip at all is one file-level error row.  Members declaring
    more than `max_member_bytes` are error rows, never inflated — the
    zip-bomb guard (zipfile stops at the declared size); directories
    are skipped silently.

    Scale shape: stateless Arrow-batched mapInPandas, members stay in
    their archive's scan partition (no shuffle); like warc_records,
    archive files are the parallelism unit."""
    def members(ref, raw):
        import io
        import zipfile

        zf = zipfile.ZipFile(io.BytesIO(raw))
        return _members(
            ref, ((i.filename, i.file_size, lambda i=i: zf.read(i))
                  for i in zf.infolist() if not i.is_dir()),
            max_member_bytes)

    return map_rows(_blobs(blobs, ref_col, content_col), members,
                    _MEMBERS)


def tar_members(blobs: DataFrame, ref_col: str = "path",
                content_col: str = "content",
                max_member_bytes: int = MAX_INFLATE_BYTES) -> DataFrame:
    """(ref, content) tar blobs (plain or gz/bz2/xz) -> one row per
    member: (ref, member, n_bytes, content, error) — the zip_members
    twin for the tape-archive world.  Per-member containment and the
    same zip-bomb guard; non-tar blobs are one file-level error row."""
    def members(ref, raw):
        tf = _open_tar(raw)
        return _members(
            ref, ((i.name, i.size, lambda i=i: tf.extractfile(i).read())
                  for i in tf.getmembers() if i.isfile()),
            max_member_bytes)

    return map_rows(_blobs(blobs, ref_col, content_col), members,
                    _MEMBERS)


def webdataset_samples(blobs: DataFrame, ref_col: str = "path",
                       content_col: str = "content") -> DataFrame:
    """Tar-shard blobs -> one row per WebDataset SAMPLE: (ref, key,
    parts map<extension, binary>, n_parts, error).

    WebDataset is the de-facto tar-shard layout for multimodal
    training data: members sharing a basename stem form one sample
    (`000123.jpg` + `000123.json` + `000123.txt` -> key `000123`,
    parts jpg/json/txt); the key is the member name up to the FIRST
    dot of the basename, the extension everything after it (so
    `a/b.seg.png` -> key `a/b`, part `seg.png` — the published
    convention).

    Scale shape: grouping happens IN-KERNEL per shard (members of a
    sample are adjacent in a well-formed shard and always in the same
    tar), so there is no shuffle — shard files are the parallelism
    unit, exactly how WebDataset loaders consume them.  Directories
    and keyless members are skipped; a non-tar blob is one error
    row."""
    def samples(ref, raw):
        tf = _open_tar(raw)
        rows, by_key = [], {}
        for info in tf.getmembers():
            if not info.isfile():
                continue
            d = info.name.rfind("/") + 1
            dot = info.name.find(".", d)
            if dot <= d:  # dotless or hidden: not a sample part
                continue
            key, ext = info.name[:dot], info.name[dot + 1:]
            try:
                data = tf.extractfile(info).read()
            except Exception as e:
                rows.append((ref, key, None, None, f"{ext}: {error_text(e)}"))
                continue
            by_key.setdefault(key, {})[ext] = data
        rows.extend((ref, key, parts, len(parts), None)
                    for key, parts in by_key.items())
        return rows

    return map_rows(_blobs(blobs, ref_col, content_col), samples,
                    "ref string, key string, parts map<string,binary>, "
                    "n_parts int, error string")


_MEMBERS = ("ref string, member string, n_bytes long, content binary, "
            "error string")


def _blobs(blobs: DataFrame, ref_col: str, content_col: str) -> DataFrame:
    return blobs.select(F.col(ref_col).alias("ref"),
                        F.col(content_col).alias("content"))


def _open_tar(raw: bytes):
    import io
    import tarfile

    return tarfile.open(fileobj=io.BytesIO(raw), mode="r:*")


def _members(ref, members, max_member_bytes: int) -> list[tuple]:
    """(name, size, read) archive members -> member rows.  A member
    larger than max_member_bytes is an error row and is never read; a
    read that raises is that member's error row."""
    rows = []
    for name, size, read in members:
        if size > max_member_bytes:
            rows.append((ref, name, size, None,
                         f"member exceeds max_member_bytes ({size})"))
            continue
        try:
            data = read()
        except Exception as e:  # bad CRC / encrypted / short
            rows.append((ref, name, size, None, error_text(e)))
            continue
        rows.append((ref, name, len(data), data, None))
    return rows
