"""Streaming incremental dedup — PERCEPTUAL (Hamming) tier (round 11,
verdict r10 item 7): cross-batch semantics with planted signatures.

The claim under test (streaming/incremental_dedup.py::
streaming_incremental_neardup): a payload is a duplicate iff its
signature Hamming-matches the kept store from EARLIER batches or it is a
non-minimum member of an intra-batch duplicate cluster; survivors' and
only survivors' signatures enter the store. An IDENTITY signer over
pre-planted signature columns makes every branch observable with exact
expected output without payload decode (the real signers —
phash128_images, fingerprint_audio — are pinned by their own codec tests
and the two ORACLE-PAIRED registered stream queries).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyspark.sql.functions as F

from corintick_spark.streaming.incremental_dedup import (
    make_hamming_batch_processor,
    streaming_incremental_neardup,
)


def _identity_signer(df):
    return df.select("doc_id", "sig")


def _stage_stream(spark, batches):
    """Write (doc_id, sig) batches as single parquet files with increasing
    mtimes and return a maxFilesPerTrigger=1 file stream over them."""
    stage = tempfile.mkdtemp(prefix="incneardup_test_")
    t0 = time.time()
    schema = None
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, sig long")
        schema = df.schema
        tmp = tempfile.mkdtemp(prefix="incneardup_w_")
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


def _run(spark, batches, max_hamming, store_path=None):
    src, stage = _stage_stream(spark, batches)
    try:
        out = streaming_incremental_neardup(
            spark, src, _identity_signer, sig_col="sig",
            max_hamming=max_hamming, store_path=store_path,
        ).toPandas()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return {
        int(r.doc_id): (
            bool(r.is_dup),
            None if r.matched_id != r.matched_id else int(r.matched_id),
        )
        for r in out.itertuples()
    }


def test_cross_batch_planted_dup_hamming(spark):
    """A batch-2 signature within the ball of a batch-1 survivor is
    flagged against it; distant batch-2 signatures are kept."""
    b1 = [(1, 0b1111000), (2, 1 << 40)]
    b2 = [(10, 0b1111001), (11, (1 << 50) | (1 << 20))]  # 10 ~ 1 (d=1)
    got = _run(spark, [b1, b2], max_hamming=2)
    assert got[1] == (False, None)
    assert got[2] == (False, None)
    assert got[10] == (True, 1)
    assert got[11] == (False, None)


def test_intra_batch_cluster_min_survives_hamming(spark):
    """Within one batch, a Hamming duplicate cluster keeps its minimum id;
    the non-minimum member is matched to it."""
    b1 = [(5, 0xABCD00), (7, 0xABCD01), (8, 1 << 33)]
    got = _run(spark, [b1], max_hamming=2)
    assert got == {5: (False, None), 7: (True, 5), 8: (False, None)}


def test_dup_does_not_enter_store_hamming(spark):
    """A batch-2 dup must NOT become a match target for batch 3: doc 30
    (within the ball of both 1 and 20) must match the SURVIVOR 1."""
    b1 = [(1, 0b11110000)]
    b2 = [(20, 0b11110001)]
    b3 = [(30, 0b11110010)]
    got = _run(spark, [b1, b2, b3], max_hamming=2)
    assert got[20] == (True, 1)
    assert got[30] == (True, 1)


def test_exact_match_d0(spark):
    """max_hamming=0 is the transcode-dedup operator: only bit-identical
    signatures pair; distance-1 neighbors are kept."""
    b1 = [(1, 12345)]
    b2 = [(10, 12345), (11, 12344)]  # 11 differs in 1 bit
    got = _run(spark, [b1, b2], max_hamming=0)
    assert got[10] == (True, 1)
    assert got[11] == (False, None)


def test_warm_start_store_hamming(spark):
    """With a pre-built corpus signature table, batch 1 already dedupes
    against it (the warm-start posture of a pipeline re-run)."""
    corpus = spark.createDataFrame([(100, 777)], "doc_id long, sig long")
    store = tempfile.mkdtemp(prefix="incneardup_store_") + "/sig"
    corpus.write.parquet(store)
    try:
        got = _run(
            spark, [[(1, 777), (2, 1 << 22)]], max_hamming=0,
            store_path=store,
        )
    finally:
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)
    assert got[1] == (True, 100)
    assert got[2] == (False, None)


def test_batch_retry_is_exactly_once_hamming(spark):
    """Driving the processor directly with a REPEATED batch_id (a stream
    retry) must not double-append survivors or make the retried batch
    match its own earlier partial output — the epoch-keyed overwrite +
    epoch-filtered read contract shared with the text fold."""
    work = tempfile.mkdtemp(prefix="incneardup_retry_")
    try:
        store = os.path.join(work, "store")
        dec = os.path.join(work, "decisions")
        proc = make_hamming_batch_processor(
            spark, store, dec, _identity_signer, "sig", max_hamming=0
        )
        b0 = spark.createDataFrame([(1, 9)], "doc_id long, sig long")
        proc(b0, 0)
        proc(b0, 0)  # retry of the SAME epoch
        b1 = spark.createDataFrame([(10, 9)], "doc_id long, sig long")
        proc(b1, 1)
        out = (
            spark.read.option("recursiveFileLookup", "true").parquet(dec)
        )
        rows = {
            int(r.doc_id): (bool(r.is_dup), r.matched_id)
            for r in out.collect()
        }
        assert rows[1] == (False, None)
        assert rows[10][0] and int(rows[10][1]) == 1
        # the store holds exactly one survivor signature for doc 1
        kept = spark.read.option("recursiveFileLookup", "true").parquet(store)
        assert [
            (int(r.doc_id), int(r.sig)) for r in kept.collect()
        ] == [(1, 9)]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_determinism_two_runs(spark):
    """Two runs over the same planted batches agree row-for-row (the
    driver's rows-only bar, strengthened to full equality)."""
    batches = [
        [(i, (i // 3) * 1024) for i in range(0, 9)],
        [(i, (i // 3) * 1024) for i in range(9, 18)],
    ]
    a = _run(spark, batches, max_hamming=0)
    b = _run(spark, batches, max_hamming=0)
    assert a == b
    # and the fold's content is right: block minima survive
    for i in sorted(a):
        keeper = (i // 3) * 3
        assert a[i] == ((i != keeper), keeper if i != keeper else None)


def test_fold_signs_batch_once_hamming(spark):
    """Folding a batch against a non-empty store calls the signer once:
    the store match, the intra-batch pairs and the survivor write share
    its checkpoint."""
    work = tempfile.mkdtemp(prefix="incneardup_sign_")
    calls = []

    def signer(df):
        calls.append(1)
        return _identity_signer(df)

    try:
        dec = os.path.join(work, "decisions")
        proc = make_hamming_batch_processor(
            spark, os.path.join(work, "store"), dec, signer, "sig",
            max_hamming=0,
        )
        proc(spark.createDataFrame([(1, 9)], "doc_id long, sig long"), 0)
        calls.clear()
        proc(spark.createDataFrame(
            [(10, 9), (11, 5), (12, 5)], "doc_id long, sig long"), 1)
        assert calls == [1]
        out = spark.read.option("recursiveFileLookup", "true").parquet(dec)
        rows = {
            int(r.doc_id): (bool(r.is_dup), r.matched_id) for r in out.collect()
        }
        assert rows[10] == (True, 1)
        assert rows[11] == (False, None) and rows[12] == (True, 11)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fold_checkpoints_signatures_once_hamming(spark, monkeypatch):
    """Folding a batch against a non-empty store checkpoints and measures
    its signatures ONCE: the store match and the intra-batch pairs read
    the fold's own checkpoint and non-null count instead of each
    checkpointing and counting a copy."""
    from tests.spy import ACTIONS, driver_actions

    work = tempfile.mkdtemp(prefix="incneardup_ckpt_")
    try:
        dec = os.path.join(work, "decisions")
        proc = make_hamming_batch_processor(
            spark, os.path.join(work, "store"), dec, _identity_signer, "sig",
            max_hamming=0,
        )
        proc(spark.createDataFrame([(1, 9)], "doc_id long, sig long"), 0)
        batch = spark.createDataFrame(
            [(10, 9), (11, 5), (12, 5), (13, None)], "doc_id long, sig long"
        )
        with driver_actions(spark, monkeypatch, (*ACTIONS, "localCheckpoint")) as calls:
            proc(batch, 1)
        sig_ckpts = [c for c in calls if c[0] == "localCheckpoint" and "sig" in c[1]]
        assert len(sig_ckpts) == 1
        assert ("count", ("doc_id", "sig")) not in calls
        out = spark.read.option("recursiveFileLookup", "true").parquet(dec)
        rows = {
            int(r.doc_id): (bool(r.is_dup), r.matched_id) for r in out.collect()
        }
        assert rows[10] == (True, 1)
        assert rows[11] == (False, None) and rows[12] == (True, 11)
        assert rows[13] == (False, None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
