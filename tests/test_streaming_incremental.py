"""Streaming incremental dedup: cross-batch semantics with planted dups.

The claim under test (streaming/incremental_dedup.py): a document is a
duplicate iff it MinHash-matches the kept store from EARLIER batches or is
a non-minimum member of an intra-batch duplicate cluster; survivors' and
only survivors' signatures enter the store. Planted near-copies across and
within batches make every branch observable with exact expected output.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyspark.sql.functions as F
import pytest

from corintick_spark.operators import dedup as D
from corintick_spark.streaming.incremental_dedup import streaming_incremental_dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green bottles hang on the wall near the old stone bridge"
)
OTHER = (
    "completely different material about spark partitions shuffles "
    "and columnar parquet row groups for distributed analytics engines"
)
THIRD = (
    "unrelated verse counting stars above the harbor where ships "
    "carry crates of oranges lemons and ripe pomegranates to market"
)


def _stage_stream(spark, batches):
    """Write doc batches as single parquet files with increasing mtimes and
    return a maxFilesPerTrigger=1 file stream over them."""
    stage = tempfile.mkdtemp(prefix="incdedup_test_")
    t0 = time.time()
    schema = None
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        schema = df.schema
        tmp = tempfile.mkdtemp(prefix="incdedup_w_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(
            os.path.join(tmp, part), os.path.join(stage, f"b{i}.parquet")
        )
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(os.path.join(stage, f"b{i}.parquet"), (t0 + i * 10, t0 + i * 10))
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return src, stage


def test_cross_batch_planted_dup(spark):
    """A batch-2 near-copy of a batch-1 survivor is flagged against it;
    batch-2 fresh text is kept."""
    b1 = [(1, BASE), (2, OTHER)]
    b2 = [(10, BASE + " tail"), (11, THIRD)]
    src, stage = _stage_stream(spark, [b1, b2])
    try:
        out = streaming_incremental_dedup(spark, src, threshold=0.5).toPandas()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    got = {int(r.doc_id): (bool(r.is_dup), None if r.matched_id != r.matched_id else int(r.matched_id))
           for r in out.itertuples()}
    assert got[1] == (False, None)
    assert got[2] == (False, None)
    assert got[10] == (True, 1)
    assert got[11] == (False, None)


def test_intra_batch_cluster_min_survives(spark):
    """Within one batch, a duplicate cluster keeps its minimum id; the
    non-minimum member is matched to it."""
    b1 = [(5, BASE), (7, BASE + " extra"), (8, OTHER)]
    src, stage = _stage_stream(spark, [b1])
    try:
        out = streaming_incremental_dedup(spark, src, threshold=0.5).toPandas()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    got = {int(r.doc_id): bool(r.is_dup) for r in out.itertuples()}
    assert got == {5: False, 7: True, 8: False}
    m = out.set_index("doc_id")["matched_id"]
    assert int(m.loc[7]) == 5


def test_dup_does_not_enter_store(spark):
    """A batch-2 dup must NOT become a match target for batch 3: only
    survivors' signatures enter the store. Doc 20 dups doc 1; doc 30 (a
    near-copy of both) must match the SURVIVOR 1, not 20."""
    b1 = [(1, BASE)]
    b2 = [(20, BASE + " tail")]
    b3 = [(30, BASE + " tip")]
    src, stage = _stage_stream(spark, [b1, b2, b3])
    try:
        out = streaming_incremental_dedup(spark, src, threshold=0.5).toPandas()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    m = out.set_index("doc_id")
    assert bool(m.loc[20, "is_dup"]) and int(m.loc[20, "matched_id"]) == 1
    assert bool(m.loc[30, "is_dup"]) and int(m.loc[30, "matched_id"]) == 1


def test_warm_start_store(spark):
    """With a pre-built corpus signature table, batch 1 already dedupes
    against it (the warm-start posture of a pipeline re-run)."""
    corpus = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    store = tempfile.mkdtemp(prefix="incdedup_store_") + "/sig"
    D.minhash_signature_table(corpus).write.parquet(store)
    b1 = [(1, BASE + " tail"), (2, OTHER)]
    src, stage = _stage_stream(spark, [b1])
    try:
        out = streaming_incremental_dedup(
            spark, src, store_path=store, threshold=0.5
        ).toPandas()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)
    m = out.set_index("doc_id")
    assert bool(m.loc[1, "is_dup"]) and int(m.loc[1, "matched_id"]) == 100
    assert not bool(m.loc[2, "is_dup"])


def test_determinism_on_documents(spark, sf_dir):
    """Two runs over the real documents table agree row-for-row (the
    driver's rows-only bar, strengthened to full equality)."""
    from corintick_spark.streaming.incremental_dedup import (
        documents_stream_batched,
    )

    def run():
        src = documents_stream_batched(spark, sf_dir, n_batches=3)
        return (
            streaming_incremental_dedup(spark, src, threshold=0.3)
            .orderBy("doc_id")
            .toPandas()
        )

    a, b = run(), run()
    assert a.equals(b)
    assert (~a.is_dup).sum() > 0


def test_batch_retry_is_exactly_once(spark):
    """The ADVICE r04 scenario: a micro-batch that crashes after its
    survivors commit and retries must NOT (a) double-append decisions,
    (b) match its own just-committed signatures (every doc flagged as its
    own dup), or (c) poison later batches. Epoch-keyed overwrite commits
    + the epoch-filtered store read make the retry a no-op rewrite."""
    import tempfile as _tf

    from corintick_spark.streaming.incremental_dedup import (
        make_batch_processor,
    )

    work = _tf.mkdtemp(prefix="incretry_")
    store, decisions = os.path.join(work, "store"), os.path.join(work, "dec")
    proc = make_batch_processor(spark, store, decisions, threshold=0.5)

    b0 = spark.createDataFrame(
        [(1, BASE), (2, OTHER)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(3, BASE + " extra"), (4, THIRD)], "doc_id long, text string"
    )
    proc(b0, 0)
    proc(b0, 0)  # retry of epoch 0 AFTER its survivors committed
    out0 = spark.read.option("recursiveFileLookup", "true").parquet(decisions)
    rows0 = {r.doc_id: (r.is_dup, r.matched_id) for r in out0.collect()}
    assert out0.count() == 2  # no double-append
    assert rows0[1] == (False, None) and rows0[2] == (False, None)  # no self-match

    proc(b1, 1)
    proc(b1, 1)  # retried later epoch still dedupes against epoch 0 only
    out = spark.read.option("recursiveFileLookup", "true").parquet(decisions)
    rows = {r.doc_id: (r.is_dup, r.matched_id) for r in out.collect()}
    assert out.count() == 4
    assert rows[3] == (True, 1)  # near-copy of batch-0 survivor
    assert rows[4] == (False, None)


def test_longest_text_policy_intra_batch(spark):
    """policy='longest_text' (verdict r06 item 8): within one batch the
    cluster survivor is the LONGEST text (dedup_survivors' curation
    policy), not the minimum id."""
    # doc 7 is the longest cluster member; min-id policy would keep 5
    b1 = [(5, BASE), (7, BASE + " extra tail making it longest"), (8, OTHER)]
    src, stage = _stage_stream(spark, [b1])
    try:
        out = streaming_incremental_dedup(
            spark, src, threshold=0.5, policy="longest_text"
        ).toPandas()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    got = {int(r.doc_id): bool(r.is_dup) for r in out.itertuples()}
    assert got == {5: True, 7: False, 8: False}
    m = out.set_index("doc_id")["matched_id"]
    assert int(m.loc[5]) == 7


def test_stream_batch_survivorship_parity(spark):
    """stream ≡ batch under BOTH policies (verdict r06 item 8): a one-batch
    stream's keeper set must equal the batch tier's — dup_clusters' min-id
    keepers and dedup_survivors' longest-text keepers — over the same
    planted near-dup corpus and the same LSH pair graph."""
    from corintick_spark.operators.dup_clusters import dup_clusters

    rows = [
        (1, BASE),
        (4, BASE + " somewhat longer duplicate of the base text"),
        (2, OTHER),
        (9, OTHER + " x"),
        (3, THIRD),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", 3, 32, 8, 0.5
    ).select("a_id", "b_id")

    # batch tier keepers under both policies
    labels = dup_clusters(docs, pairs).select("doc_id", "cluster_id")
    members = labels.join(docs.select("doc_id", F.length("text").alias("_len")), "doc_id")
    batch_min = {
        r.doc_id for r in members.collect() if r.doc_id == r.cluster_id
    }
    by_cluster: dict = {}
    for r in members.collect():
        cur = by_cluster.get(r.cluster_id)
        if cur is None or (-r._len, r.doc_id) < (-cur[1], cur[0]):
            by_cluster[r.cluster_id] = (r.doc_id, r._len)
    batch_longest = {v[0] for v in by_cluster.values()}

    for policy, expected in (("min_id", batch_min), ("longest_text", batch_longest)):
        src, stage = _stage_stream(spark, [rows])  # ONE batch
        try:
            out = streaming_incremental_dedup(
                spark, src, threshold=0.5, policy=policy
            ).toPandas()
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        stream_keepers = {
            int(r.doc_id) for r in out.itertuples() if not r.is_dup
        }
        assert stream_keepers == expected, (policy, stream_keepers, expected)


def test_unknown_policy_raises(spark):
    from corintick_spark.streaming.incremental_dedup import make_batch_processor

    with pytest.raises(ValueError, match="policy"):
        make_batch_processor(spark, "/tmp/x", "/tmp/y", policy="newest")


def test_fold_signs_batch_once(spark, monkeypatch):
    """Folding a batch against a non-empty store builds the MinHash
    signature plan ONCE: the store match and the intra-batch pairs both
    read the fold's own signature checkpoint instead of re-shingling and
    re-hashing the batch text."""
    from corintick_spark.streaming.incremental_dedup import make_batch_processor

    work = tempfile.mkdtemp(prefix="incsign_")
    try:
        dec = os.path.join(work, "dec")
        proc = make_batch_processor(
            spark, os.path.join(work, "store"), dec, threshold=0.5
        )
        proc(spark.createDataFrame(
            [(1, BASE), (2, OTHER)], "doc_id long, text string"), 0)
        calls = []
        real = D.minhash_signature

        def counting(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(D, "minhash_signature", counting)
        proc(spark.createDataFrame(
            [(3, BASE + " extra"), (4, THIRD), (5, THIRD + " tail")],
            "doc_id long, text string",
        ), 1)
        assert len(calls) == 1
        out = spark.read.option("recursiveFileLookup", "true").parquet(dec)
        rows = {r.doc_id: (r.is_dup, r.matched_id) for r in out.collect()}
        assert rows[3] == (True, 1)  # store match
        assert rows[4] == (False, None) and rows[5] == (True, 4)  # intra-batch
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fold_measures_signatures_once(spark, monkeypatch):
    """The MinHash fold measures its batch signatures once, on the signing
    checkpoint job: neither the store match nor the intra-batch pairs runs
    an aggregate over ``sig``, and connected components' distributed route
    runs no action besides its checkpoints."""
    from corintick_spark.streaming.incremental_dedup import make_batch_processor
    from tests.spy import ACTIONS, driver_actions, loop_route

    work = tempfile.mkdtemp(prefix="incmeasure_")
    try:
        dec = os.path.join(work, "dec")
        proc = make_batch_processor(
            spark, os.path.join(work, "store"), dec, threshold=0.5
        )
        proc(spark.createDataFrame(
            [(1, BASE), (2, OTHER)], "doc_id long, text string"), 0)
        batch = spark.createDataFrame(
            [(3, BASE + " extra"), (4, THIRD), (5, THIRD + " tail")],
            "doc_id long, text string",
        )
        with loop_route(monkeypatch, "distributed"), driver_actions(
            spark, monkeypatch, (*ACTIONS, "localCheckpoint")
        ) as calls:
            proc(batch, 1)
        sig_ckpts = [c for c in calls if c[0] == "localCheckpoint" and "sig" in c[1]]
        assert len(sig_ckpts) == 1
        assert [c for c in calls if c[0] != "localCheckpoint"] == []
        out = spark.read.option("recursiveFileLookup", "true").parquet(dec)
        rows = {r.doc_id: (r.is_dup, r.matched_id) for r in out.collect()}
        assert rows[3] == (True, 1)
        assert rows[4] == (False, None) and rows[5] == (True, 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
