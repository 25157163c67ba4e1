"""The one materialization policy (session.checkpoint / session.pin):
the session checkpoint dir decides local vs reliable mode, every
operator returns identical rows in both, and no module outside
session.py materializes on its own."""
import pathlib
import re

import pytest

from pydoxtools_spark.operators import dedup, similarity

PKG = pathlib.Path(__file__).resolve().parent.parent / "pydoxtools_spark"

_TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3, "the quick brown fox jumps over the lazy dog near the old mill"),
    (4, "completely different content here entirely about something else"),
]


def _texts(spark):
    return spark.createDataFrame(_TEXTS, ["doc_id", "text"])


def _pairs(spark):
    return spark.createDataFrame([(1, 2), (2, 3), (7, 8), (8, 9)],
                                 ["id_a", "id_b"])


def _edges(spark):
    # node 3 is dangling: pagerank then checkpoints every round
    edges = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (1, 3, 3.0)]
    return spark.createDataFrame([("d", s, t, w) for s, t, w in edges],
                                 ["doc_id", "src", "dst", "weight"])


OPERATORS = {
    "minhash_dedup_pairs": lambda spark: dedup.minhash_dedup_pairs(
        _texts(spark), threshold=0.5, num_perm=16, bands=8),
    "ngram_jaccard_pairs": lambda spark: dedup.ngram_jaccard_pairs(
        _texts(spark), threshold=0.5),
    "duplicated_window_spans": lambda spark: dedup.duplicated_window_spans(
        _texts(spark), n=6, min_docs=2),
    "connected_components": lambda spark: dedup.connected_components(
        _pairs(spark)),
    "pagerank": lambda spark: similarity.pagerank(_edges(spark), iters=5)
    .selectExpr("doc_id", "id", "round(rank, 9) AS rank"),
}


@pytest.fixture
def reliable_mode(spark, tmp_path):
    """Yields a switch into loss-safe mode (session checkpoint dir under
    tmp_path); on teardown the shared session is back in local mode, or
    every later test would silently run reliable mode."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    root = tmp_path / "ckpt"

    def enable():
        sc.setCheckpointDir(str(root))
        return root

    try:
        yield enable
    finally:
        # pyspark has no public unset: assign scala None to the field
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_local_and_reliable_checkpoint_modes_agree(spark, reliable_mode, op):
    run = OPERATORS[op]
    local = sorted(map(tuple, run(spark).collect()))
    assert local, "fixture must produce rows"
    root = reliable_mode()
    reliable = sorted(map(tuple, run(spark).collect()))
    assert reliable == local
    # reliable mode really wrote checkpoint files under the session dir
    assert list(root.glob("*/rdd-*")), op


def test_materialization_only_in_session_module():
    """The policy cannot scatter again: lineage-truncating
    materialization calls appear in session.py only."""
    pat = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    hits = [
        f"{p.relative_to(PKG)}:{n}"
        for p in sorted(PKG.rglob("*.py")) if p != PKG / "session.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == []
