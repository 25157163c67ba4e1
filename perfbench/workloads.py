"""The benchmark workloads: inputs, one pass, its correctness check, and
the traced-run probes of the layers each workload exercises.

extract_corpus
    One resumable extraction over a mixed estate: the interleaved
    fixture document table (html, text, markdown, wiki, pdf_ref, image
    spans and the 1-in-97 giant skew docs) plus raw pdf (classic and
    CID), docx, rtf, html and txt files as extract() takes them after
    ingest routing (a documents_in row per file and a blob side table).
    The html / markdown / pdf-bytes / docx / rtf kernels, markup
    dispatch, pdf_relational, extract()'s assembly and the run_resumable
    commit all run in one call.  The traced run adds the directory scan
    and magic routing: ``load_directory`` and ``extract_files`` over the
    same raw files written as a directory.
curate_dedup
    ``minhash_dedup_pairs`` -> ``dedup_keep_canonical`` ->
    ``quality_filter`` over the span text of an extracted corpus with
    10% planted near-duplicates: JVM shuffle and aggregation, no python
    kernel.  The only workload for operators.dedup / curation.
"""

from __future__ import annotations

import json
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import inputs
import probes
from probes import timed
from stats import median

PARALLELISM = 4


# ------------------------------------------------------------- extract


class ExtractCorpus:
    name = "extract_corpus"
    N_DOCS = 1200
    # measured rates of ~700 fixture docs/s and ~340 raw files/s give
    # the two halves of the pass about the same kernel time
    N_FILES = 600

    def build_inputs(self, bench):
        path = inputs.extract_inputs(bench.work, bench.seed, self.N_DOCS,
                                     self.N_FILES)
        self.path = path
        self.corpus = os.path.join(path, "corpus")
        self.expected = _fixture_expected(
            f"{self.corpus}/extracted_expected.parquet")
        with open(os.path.join(path, "files_expected.json")) as fh:
            for name, spans in json.load(fh).items():
                self.expected[name] = [tuple(s) for s in spans]
        self.n_docs = len(self.expected)

    def prepare(self, spark, bench):
        from pyspark.sql import functions as F

        read = spark.read.parquet
        self.docs = read(f"{self.corpus}/documents_in.parquet").unionByName(
            read(f"{self.path}/files_docs.parquet"))
        self.pdf = read(f"{self.corpus}/pdf_elements.parquet")
        blobs = read(f"{self.path}/blobs.parquet")
        is_pdf = F.col("in_kind") == "pdf_bytes"
        self.blobs = {
            "pdf_blobs": blobs.filter(is_pdf).select("ref", "content"),
            "doc_blobs": blobs.filter(~is_pdf).select("ref", "content")}

    def _resume(self, spark, out):
        from pydoxtools_spark.pipeline import run_resumable

        return run_resumable(spark, self.docs, self.pdf, out,
                             parallelism=PARALLELISM, **self.blobs)

    def run_pass(self, spark, bench, label):
        out = bench.fresh_dir(label)
        with bench.tracer.span("pipeline.run_resumable"):
            bench.job_group(label, "run_resumable")
            res = self._resume(spark, out)
        return {"docs": res["docs_processed"], "out": out}

    def check(self, spark, bench, result) -> int:
        """Docs whose committed spans equal the expected spans (with
        offsets) and carry no error, each committed exactly once."""
        from pydoxtools_spark.pipeline import read_extracted

        rows = read_extracted(spark, result["out"]).collect()
        seen: dict[str, int] = {}
        ok = set()
        for r in rows:
            key = r["doc_id"]
            seen[key] = seen.get(key, 0) + 1
            got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in r["spans"]]
            if r["error"] is None and got == self.expected.get(key):
                ok.add(key)
        return sum(1 for k in ok if seen[k] == 1)

    def probe_layers(self, spark, bench, result) -> tuple[dict, int]:
        """Per-layer probes, and the docs found wrong by them: those a
        no-op resume over the last pass's output re-committed (it must
        process none) and the raw files extract_files got wrong."""
        from pydoxtools_spark.pipeline import (
            extract,
            list_snapshots,
            read_extracted,
        )

        m = {}
        before = len(list_snapshots(result["out"]))
        bench.job_group("probe", "noop_resume")
        res, m["pipeline.noop_resume_s"] = timed(
            self._resume, spark, result["out"])
        recommitted = res["docs_processed"]
        if len(list_snapshots(result["out"])) != before:
            recommitted = max(recommitted, 1)
        files, wrong_files = self._ingest_probes(spark, bench)
        m.update(files)
        _df, m["pipeline.plan_s"] = timed(
            extract, spark, self.docs, self.pdf, PARALLELISM, **self.blobs)
        _p, m["pipeline.list_snapshots_s"] = timed(
            list_snapshots, result["out"])
        _r, m["pipeline.read_extracted_s"] = timed(
            read_extracted, spark, result["out"])
        m.update(_kernel_probes(spark, bench, self.docs))
        m.update(_file_probes(f"{self.path}/blobs.parquet"))
        return m, recommitted + wrong_files

    def _ingest_probes(self, spark, bench) -> tuple[dict, int]:
        """The directory path the timed pass leaves out: a
        ``load_directory`` scan of raw/ (to the noop sink), then
        ``extract_files`` over it (scan, magic routing, extract) written
        to parquet.  Returns the timings and the raw files whose spans
        differ from the oracle's."""
        from pydoxtools_spark.pipeline import extract_files
        from pydoxtools_spark.sources.loaders import load_directory

        raw = os.path.join(self.path, "raw")
        n_files = len(os.listdir(raw))

        def scan():
            load_directory(spark, raw).write.format("noop").mode(
                "overwrite").save()

        bench.job_group("probe", "load_directory")
        _n, load_s = timed(scan)
        out = bench.fresh_dir("probe-extract_files")
        bench.job_group("probe", "extract_files")
        _n, files_s = timed(lambda: extract_files(
            spark, raw, parallelism=PARALLELISM).write.parquet(out))
        probes.release_storage(spark)  # ingest_blobs persists its routing
        right = 0
        for r in spark.read.parquet(out).collect():
            name = os.path.basename(r["doc_id"])
            got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in r["spans"]]
            right += r["error"] is None and got == self.expected.get(name)
        return ({"loaders.load_s": load_s,
                 "pipeline.extract_files_s": files_s}, n_files - right)


def _fixture_expected(path: str) -> dict[str, list[tuple]]:
    import pyarrow.parquet as pq

    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]]
            for r in pq.read_table(path).to_pylist()}


def _kernel_probes(spark, bench, docs) -> dict:
    """Arrow boundary vs kernel body over the python-kernel branch input
    (html spans and markup-routed text spans): a pass-through
    mapInPandas written to the noop sink, against direct single-process
    calls of the kernel bodies on the same payloads."""
    from pyspark.sql import functions as F

    from pydoxtools_spark.dispatch import (
        MARKUP_GUARD,
        TYPE_MARKDOWN,
        TYPE_MEDIAWIKI,
        doc_type_col,
    )
    from pydoxtools_spark.functions.htmlparse import extract_html_spans
    from pydoxtools_spark.functions.markdown import (
        extract_markdown_spans,
        extract_wiki_spans,
    )
    from pydoxtools_spark.pipeline import explode_input_spans

    dtype = doc_type_col(F.col("in_text"))
    branch = explode_input_spans(docs).filter(
        (F.col("in_kind") == "html")
        | ((F.col("in_kind") == "text") & F.col("in_text").rlike(MARKUP_GUARD)
           & dtype.isin(TYPE_MARKDOWN, TYPE_MEDIAWIKI))
    ).select("doc_id", "span_idx", "in_kind", "in_text", dtype.alias("dt"))

    def noop_kernel(batches):  # nested: pickled by value for the workers
        yield from batches

    noop = branch.mapInPandas(noop_kernel, branch.schema)
    bench.job_group("probe", "arrow_boundary")
    noop.write.format("noop").mode("overwrite").save()  # warm
    _n, boundary_s = timed(noop.write.format("noop").mode("overwrite").save)

    html_s = md_s = 0.0
    n_html = n_md = 0
    for r in branch.collect():
        if r["in_kind"] == "html":
            _s, dt = timed(extract_html_spans, r["in_text"] or "")
            html_s, n_html = html_s + dt, n_html + 1
        else:
            fn = (extract_wiki_spans if r["dt"] == TYPE_MEDIAWIKI
                  else extract_markdown_spans)
            _s, dt = timed(fn, r["in_text"] or "")
            md_s, n_md = md_s + dt, n_md + 1
    return {"kernel.arrow_boundary_s": boundary_s,
            "kernel.body_s": html_s + md_s,
            "htmlparse.ms_per_span": 1e3 * html_s / max(n_html, 1),
            "markdown.ms_per_span": 1e3 * md_s / max(n_md, 1)}


def _file_probes(blobs_path: str) -> dict:
    """Direct calls of the byte parsers and the blob router on every raw
    file of the workload."""
    import pyarrow.parquet as pq

    from pydoxtools_spark.dispatch import blob_in_kind
    from pydoxtools_spark.functions.docx import extract_docx_spans
    from pydoxtools_spark.functions.pdfparse import pdf_elements_from_bytes
    from pydoxtools_spark.functions.rtf import extract_rtf_spans

    parsers = {"pdf_bytes": ("pdfparse", lambda b: pdf_elements_from_bytes(b, "d")),
               "docx_bytes": ("docx", extract_docx_spans),
               "rtf_bytes": ("rtf", extract_rtf_spans)}
    spent = {layer: [0.0, 0] for layer, _fn in parsers.values()}
    route_s, n_blobs = 0.0, 0
    for blob in pq.read_table(blobs_path).to_pylist():
        data = blob["content"]
        _k, dt = timed(blob_in_kind, data)
        route_s, n_blobs = route_s + dt, n_blobs + 1
        layer, fn = parsers[blob["in_kind"]]
        _o, dt = timed(fn, data)
        spent[layer][0] += dt
        spent[layer][1] += 1
    out = {f"{layer}.ms_per_file": 1e3 * s / max(n, 1)
           for layer, (s, n) in spent.items()}
    out["dispatch.us_per_blob"] = 1e6 * route_s / max(n_blobs, 1)
    return out


# -------------------------------------------------------------- curate

_WORD = re.compile(r"[^ \t\n\x0b\f\r]+")  # Java \S


def _round4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def quality_oracle(text: str, min_words=20, min_ad_ratio=0.5,
                   max_dup_line_frac=0.3) -> tuple[int, bool]:
    """(n_words, keep) as operators.curation.quality_filter decides
    them with its default thresholds."""
    n_words = len(_WORD.findall(text))
    alpha = sum(c.isascii() and c.isalpha() for c in text)
    digit = sum(c.isascii() and c.isdigit() for c in text)
    ad = _round4(alpha / (alpha + digit)) if alpha + digit else 0.0
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    counts: dict[str, int] = {}
    for ln in lines:
        counts[ln] = counts.get(ln, 0) + 1
    dup = _round4((len(lines) - len(counts)) / len(lines)) if lines else 0.0
    keep = n_words >= min_words and ad >= min_ad_ratio and dup <= max_dup_line_frac
    return n_words, keep


def _shingles(text: str, k: int = 5) -> set[str]:
    t = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
    return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}


def shingle_masks(texts: dict[str, str]) -> dict[str, int]:
    """doc_id -> its shingle set as a bitmask over every shingle of
    `texts`: an intersection is then one AND and a bit count."""
    ids: dict[str, int] = {}
    masks = {}
    for doc_id, text in texts.items():
        m = 0
        for sh in _shingles(text):
            m |= 1 << ids.setdefault(sh, len(ids))
        masks[doc_id] = m
    return masks


def jaccard(a: int, b: int) -> float:
    both = (a & b).bit_count()
    either = a.bit_count() + b.bit_count() - both
    return both / either if either else 1.0


class CurateDedup:
    name = "curate_dedup"
    N_DOCS = 1200
    # two docs are true near-duplicates at this exact Jaccard: MinHash
    # verifies at an estimated 0.7, and 64 permutations put the exact
    # Jaccard of a verified pair well above this
    MIN_TRUE_JACCARD = 0.5

    def build_inputs(self, bench):
        import pyarrow.parquet as pq

        path = inputs.curate_inputs(bench.work, bench.seed, self.N_DOCS)
        self.table = os.path.join(path, "text.parquet")
        t = pq.read_table(self.table)
        self.load_rows(list(zip(t["doc_id"].to_pylist(),
                                t["text"].to_pylist())))

    def load_rows(self, rows: list[tuple[str, str]]):
        self.rows = rows
        self.text = dict(rows)
        self.n_docs = len(rows)
        self.planted = {d for d, _t in rows if d.endswith(inputs.DUP_SUFFIX)}
        self._masks: dict[str, int] | None = None  # made on first use
        self._near: dict[str, list[str]] = {}
        self.recall: list[float] = []

    def prepare(self, spark, bench):
        self.df = spark.read.parquet(self.table)

    def run_pass(self, spark, bench, label):
        from pydoxtools_spark.operators.curation import quality_filter
        from pydoxtools_spark.operators.dedup import (
            dedup_keep_canonical,
            minhash_dedup_pairs,
        )

        out = bench.fresh_dir(label)
        with bench.tracer.span("dedup.minhash_dedup_pairs"):
            bench.job_group(label, "minhash")
            pairs = minhash_dedup_pairs(self.df)
        with bench.tracer.span("dedup.dedup_keep_canonical"):
            bench.job_group(label, "cc")
            kept = dedup_keep_canonical(self.df, pairs)
        with bench.tracer.span("curation.quality_filter"):
            bench.job_group(label, "quality")
            quality_filter(kept).write.parquet(out)
        return {"docs": self.n_docs, "out": out}

    def _near_of(self, doc_id) -> list[str]:
        """The docs whose exact shingle Jaccard with `doc_id` reaches
        MIN_TRUE_JACCARD."""
        if self._masks is None:
            self._masks = shingle_masks(self.text)
        if doc_id not in self._near:
            mine = self._masks[doc_id]
            self._near[doc_id] = [
                o for o, m in self._masks.items() if o != doc_id
                and jaccard(mine, m) >= self.MIN_TRUE_JACCARD]
        return self._near[doc_id]

    def _justly_dropped(self, doc_id, kept) -> bool:
        """Keep-the-minimum-id may drop a doc only for a kept doc of a
        smaller id in its near-duplicate cluster (the docs linked by
        true near-duplicate pairs)."""
        seen, todo = {doc_id}, [doc_id]
        while todo:
            for o in self._near_of(todo.pop()):
                if o in kept and o < doc_id:
                    return True
                if o not in seen:
                    seen.add(o)
                    todo.append(o)
        return False

    def verdicts(self, got: dict[str, dict]) -> int:
        """Docs decided correctly, given the output rows by doc_id:
        planted dups dropped; any doc dropped only for a kept smaller-id
        near-duplicate, so a cluster dropped whole is wrong; each kept
        doc's quality decision equal to the single-process oracle."""
        ok = 0
        for doc_id, text in self.rows:
            if doc_id not in got:
                ok += self._justly_dropped(doc_id, got)
            elif doc_id not in self.planted:
                r = got[doc_id]
                ok += (r["n_words"], r["keep"]) == quality_oracle(text)
        return ok

    def check(self, spark, bench, result) -> int:
        import pyarrow.parquet as pq

        got = {r["doc_id"]: r for r in pq.read_table(result["out"]).to_pylist()}
        self.recall.append(
            sum(d not in got for d in self.planted) / max(len(self.planted), 1))
        return self.verdicts(got)

    def probe_layers(self, spark, bench, result) -> tuple[dict, int]:
        from pydoxtools_spark.operators.dedup import minhash_dedup_pairs

        bench.job_group("probe", "pairs")
        # threshold 0 keeps every LSH candidate: the verify step's input
        candidates = minhash_dedup_pairs(self.df, threshold=0.0).count()
        verified = minhash_dedup_pairs(self.df).count()
        return {"dedup.candidate_pairs": candidates,
                "dedup.verified_pairs": verified,
                "dedup.lsh_yield": verified / max(candidates, 1),
                "dedup.recall": median(self.recall)}, 0


WORKLOADS = {w.name: w for w in (ExtractCorpus, CurateDedup)}
