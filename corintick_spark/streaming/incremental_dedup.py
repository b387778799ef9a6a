"""Streaming incremental near-dedup: a document stream folded against a
growing signature store.

The production posture of a 100 TB training-data pipeline is not "dedup the
corpus once" but "dedup every arriving batch against everything kept so
far". Batch-side that is :func:`corintick_spark.operators.dedup.
incremental_minhash_dedup` (new batch vs a persisted signature table);
this module closes the loop for Structured Streaming: ``foreachBatch``
deduplicates each micro-batch against the store, emits per-document
decisions, and appends only the SURVIVORS' signatures — so later batches
automatically dedupe against earlier ones, and the corpus text behind the
store is never re-read or re-hashed (the store carries (doc_id, shingles,
sig) only).

Semantics (deterministic fold): documents arrive in doc_id-ordered
micro-batches; a document is a duplicate iff it (a) MinHash-matches the
kept store (earlier batches + any warm-start corpus), or (b) is a
non-minimum member of an intra-batch duplicate CLUSTER (transitive
closure of the batch's pair graph — the same min-id survivorship policy
as ``dedup_survivors``). Survivors (= store-clean cluster minima and
unpaired store-clean docs) enter the store; ``matched_id`` is the
smallest of the doc's store match and its cluster minimum. Both rules
are order-free within a batch, so the outcome depends only on the batch
partition, never on task scheduling.

Scale notes: each micro-batch pays one banded equi-join against the store
(band hashes derive from stored ``sig`` arrays — pure arithmetic, no
text), one shingle-verification join on the candidates, and one append
write. State lives in the parquet store, not executor memory, so the
stream's state size is O(0) in Spark's state store and the store itself
scales as any parquet table (partition by band at real scale). Stream
epochs commit to ``b{batch_id}`` subdirs with mode=overwrite and the store
read excludes the current epoch, so retries are exactly-once (a batch
reader of a stream-grown store uses ``recursiveFileLookup``). This is
`foreachBatch` + epoch-keyed commits rather than `applyInPandasWithState`
because the kept-set is corpus-sized — orders of magnitude beyond what a
per-key state store should hold — and because the store must be readable
by the BATCH incremental path between stream runs (one store, two APIs).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from corintick_spark.operators import dedup as D
from corintick_spark.operators.ckpt import release_local_checkpoint


def frame_stream_batched(
    spark: SparkSession, raw: DataFrame, n_batches: int = 3,
    order_col: str = "doc_id",
) -> DataFrame:
    """Any DataFrame replayed as ``n_batches`` micro-batches split by
    ``order_col`` range (ascending, half-open), strictly increasing file
    mtimes + maxFilesPerTrigger=1 — so the stream delivers rows in the
    same id-ascending order the batch survivor fold scans them. Round
    11: factored out of :func:`documents_stream_batched` so the
    perceptual tiers can replay PLANTED payload corpora (image/audio
    builders) through the same staging."""
    head = raw.agg(F.min(order_col), F.max(order_col)).first()
    if head[0] is None:
        bounds: list[int] = []
    else:
        mn, mx = int(head[0]), int(head[1])
        step = max(1, (mx - mn) // n_batches + 1)
        bounds = [mn + i * step for i in range(1, n_batches)]
    cuts = [None, *bounds, None]

    stage = tempfile.mkdtemp(prefix="docs_batched_")
    _cleanup_at_exit(stage)
    t0 = time.time()
    for i in range(len(cuts) - 1):
        b = raw
        if cuts[i] is not None:
            b = b.filter(F.col(order_col) >= F.lit(cuts[i]))
        if cuts[i + 1] is not None:
            b = b.filter(F.col(order_col) < F.lit(cuts[i + 1]))
        tmp = tempfile.mkdtemp(prefix="docs_batched_w_")
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stage, f"batch_{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
    return (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def documents_stream_batched(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> DataFrame:
    """documents replayed as ``n_batches`` micro-batches split by doc_id
    range (ascending, half-open) — see :func:`frame_stream_batched`."""
    raw = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return frame_stream_batched(spark, raw, n_batches)


def _cleanup_at_exit(path: str) -> None:
    import atexit

    atexit.register(shutil.rmtree, path, ignore_errors=True)


def _store_epoch_paths(store_path: str, batch_id: int) -> "list[str]":
    """Paths the epoch ``batch_id`` is allowed to read: root-level parquet
    files (a warm-start corpus signature table) plus one ``b{N}`` subdir
    per committed stream epoch STRICTLY BEFORE this one. A retried epoch
    must NOT see its own partial survivors — it would match every doc
    against itself and poison all later batches."""
    if not os.path.isdir(store_path):
        return []
    out = []
    for name in os.listdir(store_path):
        p = os.path.join(store_path, name)
        if name.endswith(".parquet") and os.path.isfile(p):
            out.append(p)
        elif (
            os.path.isdir(p)
            and name.startswith("b")
            and name[1:].isdigit()
            and int(name[1:]) < batch_id
        ):
            out.append(p)
    return out




def _fold_processor(
    spark: SparkSession,
    store_path: str,
    decisions_path: str,
    id_col: str,
    sign,
    pairs,
    longest_col: "str | None" = None,
):
    """The one foreachBatch fold body; a tier supplies only its signer and
    its matcher.

    ``sign(batch)`` -> (the batch's signature checkpoint keyed by
    ``id_col`` — the rows the store keeps — and its measure), both from
    one checkpoint job (``dedup._minhash_sigs`` / ``dedup._hamming_sigs``);
    ``pairs(sig, measure, store)`` -> (new_id, corpus_id, ...) pairs of
    the signed batch against the store, and ``pairs(sig, measure)`` ->
    (a_id, b_id, ...) pairs within the batch. The matcher checkpoints and
    measures nothing of its own. ``longest_col``: keep the longest
    value of this column per intra-batch cluster (id breaking ties)
    instead of the cluster minimum.

    Per micro-batch: sign and measure the batch once, match it against the
    store, cluster the intra-batch pairs, apply survivorship, then write
    survivors and decisions to their epoch directories and release both
    checkpoints."""
    from corintick_spark.operators.dup_clusters import connected_components

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # the one signing pass: the checkpoint feeds the store match, the
        # intra-batch pairs and the survivor write
        sig, measure = sign(batch_df)

        # vs the store (earlier batches + any warm-start corpus)
        prior = _store_epoch_paths(store_path, batch_id)
        if prior:
            vs_store = pairs(sig, measure, spark.read.parquet(*prior)).select(
                "new_id", F.col("corpus_id").alias("matched_id")
            )
        else:
            vs_store = None

        # intra-batch duplicate clusters: transitive closure of the batch's
        # pair graph; every non-keeper member is a dup matched to its keeper
        labels = connected_components(pairs(sig, measure))
        if longest_col is not None:
            stats = batch_df.select(
                F.col(id_col).alias("node"),
                F.coalesce(F.length(longest_col), F.lit(-1)).alias("_len"),
            )
            keepers = (
                labels.join(stats, "node")
                .groupBy("comp")
                .agg(
                    F.min_by(
                        "node", F.struct((-F.col("_len")).alias("a"), F.col("node").alias("b"))
                    ).alias("_keeper")
                )
            )
            labels = labels.join(keepers, "comp").select(
                "node", F.col("_keeper").alias("comp")
            )
        # min_id: the CC root IS the cluster minimum
        intra = labels.filter(F.col("node") != F.col("comp")).select(
            F.col("comp").alias("matched_id"), F.col("node").alias("new_id")
        )
        matches = intra if vs_store is None else vs_store.unionByName(intra)
        dup = matches.groupBy("new_id").agg(F.min("matched_id").alias("matched_id"))

        decisions = (
            batch_df.select(F.col(id_col))
            .join(dup, F.col(id_col) == F.col("new_id"), "left")
            .select(
                id_col,
                F.col("matched_id").isNotNull().alias("is_dup"),
                "matched_id",
            )
            .localCheckpoint(eager=True)
        )
        survivors = sig.join(
            decisions.filter("is_dup").select(F.col(id_col).alias("_d")),
            sig[id_col] == F.col("_d"),
            "left_anti",
        )
        # epoch-keyed OVERWRITE commits (not blind appends): a micro-batch
        # retry replaces its own previous partial output instead of
        # double-appending — the same batch_id-manifest idempotency
        # contract sources/stream_sink.py implements. Combined with the
        # epoch-filtered store read above, the fold is exactly-once under
        # any crash/retry point.
        survivors.write.mode("overwrite").parquet(
            os.path.join(store_path, f"b{batch_id}")
        )
        decisions.write.mode("overwrite").parquet(
            os.path.join(decisions_path, f"b{batch_id}")
        )
        # both per-batch checkpoints are fully consumed by the two writes
        # above — free their blocks NOW. Dataset.unpersist() is a no-op on
        # localCheckpointed frames, so without this a long-running stream
        # accumulates every batch's signature blocks (operators/ckpt.py).
        release_local_checkpoint(sig)
        release_local_checkpoint(decisions)

    return _process


def _run_fold(
    stream: DataFrame, process, work: str, decisions_path: str, name: str
) -> DataFrame:
    """Run ``stream`` to quiescence through ``process`` and read back the
    decisions frame (doc_id, is_dup, matched_id)."""
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .queryName(name + uuid.uuid4().hex[:8])
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.read.option("recursiveFileLookup", "true").parquet(
        decisions_path
    )


def make_batch_processor(
    spark: SparkSession,
    store_path: str,
    decisions_path: str,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    policy: str = "min_id",
):
    """Build the MinHash-tier foreachBatch fold callback. Module-level (not
    a closure of the stream runner) so tests can drive it directly with
    repeated batch_ids — the retry-idempotency contract is part of the
    API. The batch is shingled and signed once; the store match is the
    bipartite and the intra-batch pairs the self form of the MinHash band
    join (operators/dedup.py), both over that one signature checkpoint.

    ``policy`` picks the INTRA-BATCH cluster survivor (one knob shared
    with the batch tier): ``"min_id"`` keeps the smallest id per duplicate
    cluster (dedup_clusters' keeper) and ``"longest_text"`` keeps the
    longest text, id breaking ties (dedup_survivors' curation policy).
    ACROSS batches the stored survivor always wins regardless of policy —
    a stream cannot retract an already-emitted survivor when a longer
    duplicate arrives later; the stream≡batch parity test therefore feeds
    one batch."""
    if policy not in ("min_id", "longest_text"):
        raise ValueError(f"unknown survivorship policy: {policy!r}")
    return _fold_processor(
        spark, store_path, decisions_path, id_col,
        lambda b: D._minhash_sigs(
            D.minhash_signature_table(b, id_col, text, k, num_hashes)
        ),
        lambda sig, nbytes, store=None: D._minhash_pairs(
            sig, nbytes, id_col, num_hashes, bands, threshold, corpus=store
        ),
        longest_col=text if policy == "longest_text" else None,
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    doc_stream: DataFrame,
    store_path: str | None = None,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    policy: str = "min_id",
) -> DataFrame:
    """Run ``doc_stream`` to quiescence through the incremental-dedup fold
    and return the decisions frame (doc_id, is_dup, matched_id).

    ``store_path``: the signature store parquet dir. May already contain a
    corpus's signatures (built by ``minhash_signature_table``) — the
    warm-start posture; defaults to a fresh temp dir (cold start: the
    first batch keeps everything not self-duplicated).
    """
    work = tempfile.mkdtemp(prefix="incdedup_")
    _cleanup_at_exit(work)
    if store_path is None:
        store_path = os.path.join(work, "store")
    decisions_path = os.path.join(work, "decisions")
    process = make_batch_processor(
        spark, store_path, decisions_path,
        id_col, text, k, num_hashes, bands, threshold, policy,
    )
    return _run_fold(doc_stream, process, work, decisions_path, "incdedup_")


def make_hamming_batch_processor(
    spark: SparkSession,
    store_path: str,
    decisions_path: str,
    signer,
    sig_col: "str | list[str]",
    max_hamming: int = 0,
    id_col: str = "doc_id",
):
    """The PERCEPTUAL-tier binding of the same fold as
    :func:`make_batch_processor`, with Hamming-signature matching in place
    of MinHash/Jaccard — the operator a live image/audio ingest actually
    runs. ``signer`` maps a payload micro-batch to its signature frame
    (``phash128_images``, ``fingerprint_audio`` ...; applied to the BATCH
    only — the store carries (id, signature words) and corpus payload
    bytes are never re-decoded). Cross-batch matching is the bipartite
    :func:`corintick_spark.operators.dedup.hamming_join`; intra-batch
    clusters come from :func:`...dedup.hamming_pairs` + connected
    components with min-id survivorship (the batch tiers' policy), both
    over the fold's one signature checkpoint and its non-null count. Same
    retry-idempotency contract: epoch-keyed OVERWRITE commits, the store
    read excludes the current epoch."""
    return _fold_processor(
        spark, store_path, decisions_path, id_col,
        lambda b: D._hamming_sigs(signer(b), sig_col),
        # the store match is the bipartite chunk join, the intra-batch
        # pairs the self-join with its scheme picked from the count
        lambda sig, n, store=None: D._hamming_band_join(
            sig, store, id_col, sig_col, max_hamming, None,
            "auto" if store is None else "chunk", n,
        ),
    )


def streaming_incremental_neardup(
    spark: SparkSession,
    payload_stream: DataFrame,
    signer,
    sig_col: "str | list[str]",
    max_hamming: int = 0,
    store_path: "str | None" = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Run a payload stream to quiescence through the Hamming-tier
    incremental-dedup fold and return the decisions frame (doc_id,
    is_dup, matched_id) — the streaming face of
    :func:`corintick_spark.operators.dedup.incremental_neardup`.

    ``store_path`` may already contain a corpus signature table written
    by a previous batch run of the same signer (warm start); defaults to
    a fresh temp dir (cold start)."""
    work = tempfile.mkdtemp(prefix="incneardup_")
    _cleanup_at_exit(work)
    if store_path is None:
        store_path = os.path.join(work, "store")
    decisions_path = os.path.join(work, "decisions")
    process = make_hamming_batch_processor(
        spark, store_path, decisions_path, signer, sig_col,
        max_hamming, id_col,
    )
    return _run_fold(payload_stream, process, work, decisions_path, "incneardup_")
