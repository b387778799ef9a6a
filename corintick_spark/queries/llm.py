"""LLM-data-pipeline queries — T-B48..B53 + training-pipeline extensions
(SURVEY.md §2.2; north_star mandate: dedup, similarity search, multimodal
columns, text analysis as first-class operators).

Implementations live in operators/{dedup,similarity,text,multimodal}.py;
this module binds them to the driver's testdata tables with DuckDB oracles
where SQL-expressible (MinHash/SimHash/LSH banding are hash-construction
specific → rows-only per the driver contract).
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Window

from corintick_spark.catalog import table
from corintick_spark.operators import dedup as D
from corintick_spark.operators import multimodal as M
from corintick_spark.operators.spread import spread_input
from corintick_spark.operators import similarity as S
from corintick_spark.operators import text as T
from corintick_spark.registry import query


def _per_doc(d, fn, schema: str):
    """``fn(doc_id)`` rows for every doc_id of ``d`` (a tuple, or a list of
    tuples for 0..n rows), mapped through the same per-payload helper as
    the multimodal operators."""
    return M._map_payloads(d, fn, schema, "doc_id", "doc_id")


def _planted(d, payload):
    """(doc_id, payload) for every doc_id of ``d``, the bytes coming from
    ``payload(doc_id)``: a planted corpus is only its per-document bytes."""
    return _per_doc(d, lambda i: (payload(i),), "doc_id long, payload binary")


def _stereo_rows(samples: "list[int]") -> "list[tuple[int, int, int]]":
    """(channel, frame, sample) rows of an interleaved stereo stream."""
    return [
        (ch, fi, samples[2 * fi + ch])
        for fi in range(len(samples) // 2)
        for ch in range(2)
    ]


def _wav(tag, channels, rate, byte_rate, block_align, bits, data) -> bytes:
    """RIFF/WAVE bytes: one ``fmt `` chunk with the given fields, then one
    ``data`` chunk, padded to an even length."""
    fmt = struct.pack(
        "<HHIIHH", tag, channels, rate, byte_rate, block_align, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _planted_recall(d, pairs, div: int, preds, cols):
    """The planted-group invariants of a rows-only near-dup query.

    Planted groups are ``doc_id div <div>`` over the ids of ``d``; each
    row of ``pairs`` (a_id, b_id, ...) gets ``same_grp``. ``inv_recall``
    is the POOLED planted recall — found same-group pairs over the
    C(size, 2) pairs the groups hold — computed in-plan from two 1-row
    aggregates broadcast onto every row. ``inv_ok`` is same_grp AND every
    per-row predicate in ``preds`` AND inv_recall >= 0.999. Returns
    ``cols``, inv_recall rounded to 6 places, and inv_ok."""
    found = pairs.withColumn(
        "same_grp", F.expr(f"(a_id div {div}) = (b_id div {div})")
    )
    expected = (
        d.select(F.expr(f"doc_id div {div}").alias("_g"))
        .groupBy("_g")
        .count()
        .agg(
            F.sum(F.expr("count * (count - 1) div 2"))
            .cast("long")
            .alias("expected_pairs")
        )
    )
    pooled = found.agg(
        F.sum(F.when(F.col("same_grp"), 1).otherwise(0))
        .cast("long")
        .alias("found_same")
    )
    ok = F.col("same_grp")
    for p in preds:
        ok = ok & p
    return (
        found.crossJoin(F.broadcast(expected))  # 1-row invariant aggregates
        .crossJoin(F.broadcast(pooled))
        .withColumn(
            "inv_recall",
            F.col("found_same").cast("double") / F.col("expected_pairs"),
        )
        .withColumn("inv_ok", ok & (F.col("inv_recall") >= F.lit(0.999)))
        .select(*cols, F.round("inv_recall", 6).alias("inv_recall"), "inv_ok")
    )


# T-B48 — exact dedup by content hash.
@query(
    "dedup_exact",
    sql="""
    SELECT sha256(text) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: groupBy(sha256(text)) keeping min doc_id."""
    d = table(spark, sf_dir, "documents")
    return D.exact_dedup(d)


# T-B49 — MinHash+LSH near-dup (hash-construction specific → rows-only).
@query("dedup_minhash", sql=None)
def dedup_minhash(spark, sf_dir):
    """Near-dup candidate pairs via 32-hash MinHash, 8-band LSH, verified
    with true shingle Jaccard >= 0.3 (operators/dedup.py::minhash_lsh_pairs).
    Rows-only invariants (round 11, verdict r10 item 4 — the
    dedup_simhash_multi replayable-subset pattern): every emitted pair
    carries its EXACT verified jaccard, so inv_ok must hold in every row;
    and the REPLAYABLE SUBSET — documents with identical distinct
    3-shingle sets (SQL-expressible as xxhash64 of the sorted shingle
    array) have identical MinHash signatures in every band, hence MUST be
    emitted, with jaccard exactly 1.0. A full_outer join rides the subset
    along: a same-set pair missed by the LSH (or emitted with jaccard !=
    1) fails inv_ok."""
    d = table(spark, sf_dir, "documents")
    p, sig = D.minhash_lsh_pairs(
        d, k=3, num_hashes=32, bands=8, threshold=0.3, return_sig=True
    )
    # replayable subset: identical distinct 3-shingle SETS => identical
    # signatures => banded together => verified jaccard == 1.0 exactly.
    # Round 11 (guide §2.4): read the shingle sets from the operator's
    # already-checkpointed signature frame instead of re-tokenizing and
    # re-shingling the corpus text a second time (bench: 2.96s -> see
    # OPTIMIZATION_r11.md) — identical arrays by construction.
    sets = sig.select(
        "doc_id",
        F.expr("xxhash64(array_sort(shingles))").alias("_ss"),
    )
    same_set = (
        sets.alias("x")
        .join(sets.alias("y"), F.col("x._ss") == F.col("y._ss"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.lit(True).alias("_is_same"),
        )
    )
    return (
        p.join(same_set, ["a_id", "b_id"], "full_outer")
        .withColumn(
            "inv_ok",
            F.when(
                F.col("_is_same").isNotNull(),
                F.col("jaccard").isNotNull() & (F.col("jaccard") == 1.0),
            ).otherwise(
                (F.col("jaccard") >= F.lit(0.3))
                & (F.col("a_id") < F.col("b_id"))
            ),
        )
        .select("a_id", "b_id", "jaccard", "inv_ok")
    )


# Incremental dedup: a new batch against the persisted corpus signature
# table — the re-run posture of a 100 TB pipeline (hash-construction
# specific → rows-only; unit-tested with planted dups + a plan assertion
# that corpus text is never re-scanned).
@query("dedup_incremental", sql=None)
def dedup_incremental(spark, sf_dir):
    """Docs arriving in the 'new' split (doc_id % 11 == 0) near-duplicating
    the existing corpus, matched through a parquet signature table only
    (operators/dedup.py::incremental_minhash_dedup)."""
    import tempfile

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 11 != 0)
    new_batch = d.filter(F.col("doc_id") % 11 == 0)
    sig_path = tempfile.mkdtemp(prefix="sigtbl_") + "/sig"
    D.minhash_signature_table(corpus).write.mode("overwrite").parquet(sig_path)
    out = D.incremental_minhash_dedup(
        new_batch, spark.read.parquet(sig_path), threshold=0.3
    )
    # rows-only invariants: verified jaccard >= threshold, and the match
    # direction is structural — new ids are the %11==0 split, corpus ids
    # are not (a row violating either means the split or verify is broken)
    return out.withColumn(
        "inv_ok",
        (F.col("jaccard") >= F.lit(0.3))
        & (F.col("new_id") % 11 == 0)
        & (F.col("corpus_id") % 11 != 0),
    ).orderBy("new_id", "corpus_id")


# SimHash near-dup (training-pipeline extension; rows-only).
@query("dedup_simhash", sql=None)
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash pairs with Hamming <= 6 via pigeonhole chunk banding.
    Rows-only invariant: the exact Hamming distance rides along — inv_ok
    (hamming <= 6 AND a_id < b_id) must hold in every row."""
    d = table(spark, sf_dir, "documents")
    p = D.simhash_pairs(d, max_hamming=6)
    return p.withColumn(
        "inv_ok",
        (F.col("hamming") <= F.lit(6)) & (F.col("a_id") < F.col("b_id")),
    )


# Multi-word SimHash near-dup (round 10, verdict r9 item 6): the
# longer-signature scale path for text, mirroring the image tier's
# 64->128-bit move. 128 bits at d=10 covers the same similarity cut as
# 64 bits at d=6 (SimHash distance ESTIMATES similarity, so expected
# distance doubles with the bits while sigma grows only sqrt(2)x —
# measured on this corpus: the 64-bit d<=6 population sits at 128-bit
# distances 3..44, near-identical mass <=10), and 128//11 = 11-bit
# pigeonhole chunks give ~4x fewer chance band collisions than the
# 64-bit tier's 9-bit chunks at >>10^6 docs. Rows-only (majority votes
# over salted xxhash64 lanes are not SQL-replayable at corpus size);
# inv_ok pins the exact ridden-along distance, pair ordering, and that
# every IDENTICAL-text pair (the replayable subset: simhash of equal
# token bags is equal, so distance must be 0) is found with hamming 0.
@query("dedup_simhash_multi", sql=None)
def dedup_simhash_multi(spark, sf_dir):
    """128-bit (2x64 salted-lane) SimHash pairs with Hamming <= 10 via
    multi-word pigeonhole banding — the chance-collision-safe text tier
    for >>10^6-doc corpora. Invariants: exact distance <= 10, ordered
    pairs, and exact-duplicate texts must appear at distance 0."""
    d = table(spark, sf_dir, "documents")
    p = D.simhash_pairs_multi(d, words=2, max_hamming=10)
    # replayable subset: identical normalized token bags => distance 0
    toks = d.select(
        "doc_id",
        F.expr("xxhash64(filter(split(text, ' '), x -> x != ''))").alias("_tb"),
    )
    same_text = (
        toks.alias("x")
        .join(toks.alias("y"), F.col("x._tb") == F.col("y._tb"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.lit(True).alias("_is_same"),
        )
    )
    return (
        p.join(same_text, ["a_id", "b_id"], "full_outer")
        .withColumn(
            "inv_ok",
            F.when(
                F.col("_is_same").isNotNull(),
                F.col("hamming").isNotNull() & (F.col("hamming") == 0),
            ).otherwise(
                (F.col("hamming") <= F.lit(10))
                & (F.col("a_id") < F.col("b_id"))
            ),
        )
        .select("a_id", "b_id", "hamming", "inv_ok")
    )


# n-gram Jaccard within a blocking key — exact, oracle-checkable.
@query(
    "dedup_ngram",
    sql="""
    WITH w AS (
        SELECT doc_id, source,
               list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS wset
        FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.wset, b.wset))
               / len(list_distinct(a.wset || b.wset)) AS jaccard
    FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.wset, b.wset))
              / len(list_distinct(a.wset || b.wset)) >= 0.5
    """,
)
def dedup_ngram(spark, sf_dir):
    """Exact word-set Jaccard >= 0.5 for doc pairs sharing a source."""
    d = table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, block_col="source", threshold=0.5)


# T-B50 — brute-force cosine top-k (exact baseline).
@query(
    "similarity_topk",
    sql="""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id < 10
    ), c AS (
        SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ), pairs AS (
        SELECT q.q_id, c.c_id,
               ROUND(list_inner_product(q.e, c.e)
                     / (SQRT(list_inner_product(q.e, q.e))
                        * SQRT(list_inner_product(c.e, c.e))), 6) AS score
        FROM c, q WHERE q.q_id != c.c_id
    ), ranked AS (
        SELECT q_id, c_id, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY score DESC, c_id
               ) AS BIGINT) AS "rank"
        FROM pairs
    )
    SELECT q_id, c_id, score, "rank" FROM ranked WHERE "rank" <= 5
    """,
)
def similarity_topk(spark, sf_dir):
    """Exact cosine top-5 for 10 probe vectors against the corpus —
    broadcast probes, one corpus pass (operators/similarity.py)."""
    e = table(spark, sf_dir, "embeddings")
    # probe is <10 rows by construction — skip the guard's count probe
    return S.brute_force_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, max_broadcast_rows=None
    )


# T-B50 scale path — LSH-bucketed ANN (rows-only: hash-construction specific).
@query("similarity_lsh", sql=None)
def similarity_lsh(spark, sf_dir):
    """Approximate cosine top-5 via sign-random-projection LSH banding —
    the corpus-vs-corpus scale path (equi-join on signature bands).
    Rows-only invariants (inv_ok): within each q_id the ranks are
    contiguous from 1 and scores non-increasing in rank, the candidate is
    never the probe itself, and every cosine lies in [-1, 1] — structural
    properties a broken banding/re-rank cannot satisfy by accident — plus
    inv_recall: POOLED recall@5 vs the exact cosine scan, computed
    in-plan, with a 0.4 floor — measured 0.74 (sf0.001) / 0.76 (sf0.01) /
    0.50 (edge set) for 32-bit/8-band SRP over near-uniform synthetic
    embeddings, so the floor carries ≥1.25× margin while a broken
    banding/re-rank drops to the ~5/n random baseline."""
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    out = S.lsh_topk(probes, e, k=5, nbits=32, bands=8)
    out = _topk_invariants(out, "score", descending=True, lo=-1.0, hi=1.0)
    return _with_recall(out, _exact_pairs(probes, e, "cos"), k=5, floor=0.4)


def _topk_invariants(
    out,
    score_col: str = "score",
    descending: bool = True,
    lo: float | None = None,
    hi: float | None = None,
):
    """Attach the rows-only `inv_ok` column to a (q_id, c_id, score, rank)
    top-k frame: rank contiguity from 1, score monotonicity in rank
    (non-increasing for similarity scores, non-decreasing for distances),
    no self-match, and optional score bounds."""
    w = Window.partitionBy("q_id").orderBy("rank")
    prev = F.lag(F.col(score_col)).over(w)
    prev_rank = F.lag(F.col("rank")).over(w)
    mono = prev >= F.col(score_col) if descending else prev <= F.col(score_col)
    ok = (prev.isNull() & (F.col("rank") == 1)) | (
        mono & (prev_rank == F.col("rank") - 1)
    )
    ok = ok & (F.col("q_id") != F.col("c_id"))
    if lo is not None:
        ok = ok & (F.col(score_col) >= F.lit(lo))
    if hi is not None:
        ok = ok & (F.col(score_col) <= F.lit(hi))
    return out.withColumn("inv_ok", ok)


_RECALL_EPS = 1.5e-6  # one quantum of the 6dp score rounding, plus slack


def _exact_pairs(probes, corpus, metric: str = "cos"):
    """All (probe, candidate) pairs with their EXACT score — the recall
    baseline for the ANN tier, computed in-plan: corpus pass against a
    broadcast probe set (the similarity_topk shape, O(|corpus|·|probes|)
    with |probes| ≤ 10 by construction). `metric` is "cos" (cosine, 6dp)
    or "l2" (squared L2 — what the PQ ADC scan approximates)."""
    from corintick_spark.operators.similarity import _cosine, _dot, _norm2

    q = probes.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = corpus.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    if metric == "cos":
        es = F.round(_cosine(_dot("qe", "ce"), _norm2("qe"), _norm2("ce")), 6)
    else:
        es = F.expr(
            "aggregate(zip_with(qe, ce, (x, y) -> "
            "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "0D, (s, v) -> s + v)"
        )
    return pairs.select("q_id", "c_id", es.alias("_es"))


def _with_recall(out, pairs, k: int, floor: float, descending: bool = True):
    """Attach `inv_recall` — recall@k against the exact scan, computed
    INSIDE the query so the driver's rows-only record adjudicates it
    (VERDICT r05 item 4) — and fold `inv_recall >= floor` into inv_ok.

    Tie-robust: an ANN candidate counts as a hit when its EXACT score
    reaches the exact k-th-best score (id-based recall would punish a
    legitimately-equal-score pick). The denominator is the number of
    exact top-k rows (≤ k on small corpora); candidates with no exact
    score (zero-norm → NULL cosine) count as misses, and a probe with NO
    scorable exact baseline (degenerate edge corpora) passes vacuously."""
    order = F.col("_es").desc() if descending else F.col("_es").asc()
    wr = Window.partitionBy("q_id").orderBy(order, F.col("c_id"))
    topk = (
        pairs.filter(F.col("_es").isNotNull())
        .withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") <= k)
    )
    agg = F.min("_es") if descending else F.max("_es")
    tau = topk.groupBy("q_id").agg(
        agg.alias("_tau"), F.count(F.lit(1)).alias("_nk")
    )
    cand = out.join(pairs, ["q_id", "c_id"], "left").join(
        F.broadcast(tau), ["q_id"], "left"
    )
    hit = (
        F.col("_es") >= F.col("_tau") - F.lit(_RECALL_EPS)
        if descending
        else F.col("_es") <= F.col("_tau") + F.lit(_RECALL_EPS)
    )
    # POOLED recall over the whole probe set (the standard ANN-benchmark
    # figure): total hits / total exact-top-k rows. Per-probe recall at
    # k=5 is quantized to fifths and its min is hash-noise; the pooled
    # figure is stable enough to carry a meaningful floor. The result is
    # ≤ |probes|·k rows here, so the global windows are trivial.
    wq = Window.partitionBy("q_id").orderBy("rank")
    wg = Window.partitionBy()
    first_in_probe = F.row_number().over(wq) == 1
    denom = F.sum(
        F.when(first_in_probe, F.coalesce(F.col("_nk"), F.lit(0))).otherwise(
            F.lit(0)
        )
    ).over(wg)
    numer = F.sum(F.when(hit, F.lit(1)).otherwise(F.lit(0))).over(wg)
    rec = F.when(denom == 0, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), numer / denom.cast("double"))
    )
    return (
        cand.withColumn("inv_recall", F.round(rec, 6))
        .withColumn(
            "inv_ok",
            F.col("inv_ok") & (F.col("inv_recall") >= F.lit(float(floor))),
        )
        .drop("_es", "_tau", "_nk")
    )


# T-B50 graph-index tier — NN-Descent k-NN graph (the HNSW-family build,
# rows-only: seed-dependent approximate construction).
@query("ann_knn_graph", sql=None)
def ann_knn_graph(spark, sf_dir):
    """Approximate k-NN graph by NN-Descent (operators/nndescent.py —
    Dong et al. WWW'11, the distributed batch equivalent of an HNSW
    build): expander init from 3 independent hash-bucketings, then 4
    rounds of capped neighbor-of-neighbor descent, built at width 15 and
    trimmed to the returned k=5. Output = the graph rows of the 10 probe
    nodes. Rows-only invariants: _topk_invariants structure (contiguous
    ranks, non-increasing scores, no self-edge, cosine in [-1,1]) plus
    inv_recall — POOLED edge recall@5 vs the exact scan, in-plan, floor
    0.5: measured 0.98 (sf0.001) / 0.98 (sf0.01) / ~0.8 at 2000 vectors
    (near-uniform synthetic embeddings — NN-Descent's documented worst
    case; clustered corpora measure 0.98 at the same budget), so a broken
    descent (e.g. the clique-trapped single-bucket init this query's
    operator test pins against) drops well below the floor."""
    e = table(spark, sf_dir, "embeddings")
    from corintick_spark.operators.nndescent import knn_graph

    g = knn_graph(e, k=5, iters=4, build_k=15)
    out = g.filter(F.col("id") < 10).select(
        F.col("id").alias("q_id"),
        F.col("nbr").alias("c_id"),
        "score",
        "rank",
    )
    out = _topk_invariants(out, "score", descending=True, lo=-1.0, hi=1.0)
    probes = e.filter(F.col("vec_id") < 10)
    return _with_recall(out, _exact_pairs(probes, e, "cos"), k=5, floor=0.5)


def _clustered_embeddings(e, clusters: int = 40, noise: float = 2.0, dim: int = 64):
    """Deterministic clustered derivation of the embeddings table — the
    corpus shape real text/image encoders emit (and the shape a flat k-NN
    graph needs entry-point seeding to search, which is what the query
    below exercises). Cluster = xxhash64(vec_id) mod `clusters`; centroid
    dim j = hash-uniform in [-1, 1]; vector = centroid + noise·embedding
    (intra-cluster cosine ~0.8 at noise=2 for the |emb|~1 vs |cent|~4.6
    norms of this table). All Spark expressions — no Python row work."""
    e2 = e.select(
        "vec_id",
        F.pmod(F.xxhash64("vec_id"), F.lit(clusters)).alias("_c"),
        "embedding",
    )
    cent = F.expr(
        f"transform(sequence(1, {dim}), "
        "j -> (CAST(pmod(xxhash64(_c, j), 2001) AS DOUBLE) - 1000.0) / 1000.0)"
    )
    vec = F.zip_with(
        cent, F.col("embedding"), lambda a, b: a + F.lit(noise) * b.cast("double")
    )
    return e2.select("vec_id", vec.alias("embedding"))


# T-B50 graph-index tier — batched beam search over the built graph.
@query("similarity_graph_ann", sql=None)
def similarity_graph_ann(spark, sf_dir):
    """Graph-ANN top-5: NN-Descent build + batched greedy beam search
    with per-probe best-of-sample entry points (the HNSW upper layer
    collapsed to one sampled level — operators/nndescent.py). Runs over a
    deterministic CLUSTERED derivation of the embeddings table
    (_clustered_embeddings) because that is both what real encoder output
    looks like and the regime where a flat k-NN graph is a disjoint union
    of cluster cliques — so this query would score ~P(random entry hits
    the right cluster) ≈ 0.2 if the seeding phase broke (measured), far
    under the floor. Rows-only invariants: top-k structure + pooled
    recall@5 vs the exact scan of the same derived corpus, floor 0.6
    (measured 1.00 at sf0.01, 0.98 at 2000 vectors)."""
    from corintick_spark.operators.nndescent import graph_search, knn_graph

    e = _clustered_embeddings(table(spark, sf_dir, "embeddings"))
    probes = e.filter(F.col("vec_id") < 10)
    g = knn_graph(e, k=10, iters=3, build_k=10)
    out = graph_search(probes, g, e, k=5, beam=15, hops=3, sample_size=128)
    out = _topk_invariants(out, "score", descending=True, lo=-1.0, hi=1.0)
    return _with_recall(out, _exact_pairs(probes, e, "cos"), k=5, floor=0.6)


# T-B50 graph-index tier — HNSW-style incremental insertion into a
# persisted graph index (the live-ingest half, mirroring the
# incremental_neardup posture of the dedup tiers).
@query("ann_graph_incremental", sql=None)
def ann_graph_incremental(spark, sf_dir):
    """Incremental graph-ANN: build a GraphIndex over the corpus stratum
    (vec_id ≥ 50 of the clustered derivation), INSERT the new batch
    (vec_id < 50) by search-and-connect — the corpus is never re-scored,
    only id-joined (operators/ann_index.py::GraphIndex.insert) — then
    serve the 10 probe vectors from the merged index. Rows-only
    invariants: top-k structure + pooled recall@5 vs the exact scan of
    the FULL corpus (so a batch that failed to wire in, or a repair that
    corrupted corpus lists, shows up as missing true neighbors), floor
    0.6 — measured 1.0 at sf0.01 and 0.9+ at 2000 vectors."""
    from corintick_spark.operators.ann_index import GraphIndex

    e = _clustered_embeddings(table(spark, sf_dir, "embeddings"))
    corpus = e.filter(F.col("vec_id") >= 50)
    batch = e.filter(F.col("vec_id") < 50)
    idx = GraphIndex.build(corpus, k=10, iters=3).insert(batch)
    probes = e.filter(F.col("vec_id") < 10)
    out = idx.search(probes, k=5, beam=15, hops=3, sample_size=128)
    out = _topk_invariants(out, "score", descending=True, lo=-1.0, hi=1.0)
    return _with_recall(out, _exact_pairs(probes, e, "cos"), k=5, floor=0.6)


# T-B52 — word count (explode + agg).
@query(
    "text_wordcount",
    sql="""
    SELECT w AS word, COUNT(*) AS cnt
    FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        FROM documents
    )
    GROUP BY w
    """,
)
def text_wordcount(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        D.tokenize(d)
        .select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


# Quality scoring (C4/Gopher-style heuristics; exact arithmetic).
@query(
    "text_quality",
    sql="""
    WITH t AS (
        SELECT doc_id, text,
               CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the','a','of','to','and','in','is','for','on','with'))) AS BIGINT) AS n_stop
        FROM documents
    )
    SELECT doc_id,
           n_words, n_chars_calc,
           n_stop / NULLIF(n_words, 0) AS stop_ratio,
           n_alpha / NULLIF(n_chars_calc, 0) AS alpha_ratio,
           length(replace(text, ' ', '')) / NULLIF(n_words, 0) AS avg_word_len,
           least(n_words / 100.0, 1.0) * 0.4
               + (n_stop / NULLIF(n_words, 0)) * 0.3
               + (n_alpha / NULLIF(n_chars_calc, 0)) * 0.3 AS quality_score
    FROM t
    """,
)
def text_quality(spark, sf_dir):
    """Length/stopword/alpha-ratio quality features + composite score."""
    d = table(spark, sf_dir, "documents")
    return T.quality_features(d).select(
        "doc_id",
        "n_words",
        "n_chars_calc",
        "stop_ratio",
        "alpha_ratio",
        "avg_word_len",
        "quality_score",
    )


# Token counting + order-sensitive fingerprint.
@query(
    "text_tokens",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')) AS BIGINT) AS n_tokens,
               list_filter(string_split(text, ' '), x -> x != '') AS words
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(COALESCE(list_sum(list_transform(range(1, len(words) + 1),
                    i -> CAST(i AS BIGINT) * length(words[i]))), 0)
                % 1000000007 AS BIGINT) AS fingerprint
    FROM toks
    """,
)
def text_tokens(spark, sf_dir):
    """BPE-ish regex token count + positional rolling fingerprint."""
    d = table(spark, sf_dir, "documents")
    return T.token_stats(d).select(
        "doc_id",
        "n_tokens",
        T.fingerprint(d).alias("fingerprint"),
    )


# Language-ID heuristic (marker-word voting) — exact argmax, oracle-able.
# COALESCE mirrors the Spark side: NULL text scores 0 for every language,
# so the argmax ties deterministically to the first language in both engines
_LANG_SQL_SCORES = ",\n".join(
    f"""CAST(COALESCE(len(list_filter(string_split(text, ' '),
        x -> x IN ({','.join(f"'{m}'" for m in sorted_markers)}))), 0) AS BIGINT) AS s_{lang}"""
    for lang, sorted_markers in sorted(
        (lang, markers) for lang, markers in T.LANG_MARKERS.items()
    )
)


@query(
    "text_langid",
    sql=f"""
    WITH s AS (
        SELECT doc_id, lang AS lang_label,
               {_LANG_SQL_SCORES}
        FROM documents
    )
    SELECT doc_id, lang_label,
           CASE
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS lang_guess
    FROM s
    """,
)
def text_langid(spark, sf_dir):
    """Marker-word-voting language ID (deterministic argmax, lexicographic
    tiebreak) next to the ground-truth label column."""
    d = table(spark, sf_dir, "documents")
    return T.lang_id(d).select(
        "doc_id", F.col("lang").alias("lang_label"), "lang_guess"
    )


# T-B53 — multimodal row: text + embedding + metadata joined 1:1.
@query(
    "multimodal_join",
    sql="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           e.label,
           CAST(len(e.embedding) AS BIGINT) AS dim,
           ROUND(SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                         CAST(e.embedding AS DOUBLE[]))), 6) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def multimodal_join(spark, sf_dir):
    """Documents ⋈ embeddings on id — one multimodal row per document."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            "label",
            F.size("embedding").cast("bigint").alias("dim"),
            F.round(
                F.sqrt(
                    F.expr(
                        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (s, v) -> s + v)"
                    )
                ),
                6,
            ).alias("emb_norm"),
        )
    )


# Multimodal decode plumbing: binary payload → metadata via mapInPandas
# (fake codec — deterministic from byte length, so fully oracle-checkable).
@query(
    "multimodal_decode",
    sql="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height,
           'fake/raw' AS format
    FROM documents
    """,
)
def multimodal_decode(spark, sf_dir):
    """Binary-column decode plumbing: encode text→bytes, mapInPandas over
    Arrow batches extracting metadata (codec stubbed — container has no
    image libs; byte-derived fake keeps the contract testable)."""
    d = table(spark, sf_dir, "documents")
    return M.decode_image_meta(M.attach_payload(d), fake=True)


# The REAL image-metadata decoder (struct header parse, no image libs):
# deterministic PNG payloads are synthesized per doc_id Spark-side, decoded
# by parse_image_header, and the oracle recomputes the dimension formula —
# so the driver adjudicates the actual parser, not a fake.
@query(
    "multimodal_decode_png",
    sql="""
    SELECT doc_id,
           CAST(33 AS BIGINT) AS n_bytes,
           CAST(doc_id % 640 + 1 AS BIGINT) AS width,
           CAST(doc_id % 480 + 1 AS BIGINT) AS height,
           'png' AS format
    FROM documents
    """,
)
def multimodal_decode_png(spark, sf_dir):
    """Real PNG header decode over synthesized payloads (width/height are a
    known function of doc_id; operators/multimodal.py::parse_image_header)."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        ihdr = struct.pack(">II5B", i % 640 + 1, i % 480 + 1, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        )

    return M.decode_image_meta(_planted(d, payload), fake=False)


# The REAL pixel decoder (stdlib zlib inflate + all-five-filter scanline
# un-filtering; operators/multimodal.py::decode_png_pixels): PNG payloads
# with KNOWN pixel content are synthesized per doc_id — pixel k of doc i is
# (i*7 + k) % 256, each scanline filtered with type (i + y) % 5 so every
# un-filter path is on the adjudicated path — and the oracle recomputes the
# pixel-sum formula symbolically. px_sum is wrong unless the whole codec is
# exactly right, so the driver adjudicates real pixel decoding, not a fake.
@query(
    "multimodal_decode_px",
    sql="""
    SELECT doc_id,
           CAST(doc_id % 5 + 2 AS BIGINT) AS width,
           CAST(doc_id % 3 + 2 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3)::INT),
                    k -> (doc_id * 7 + k) % 256)) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3)::INT),
                    k -> k * ((doc_id * 7 + k) % 256))) AS BIGINT) AS px_wsum,
           ROUND(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3)::INT),
                    k -> (doc_id * 7 + k) % 256))
                 / ((doc_id % 5 + 2) * (doc_id % 3 + 2) * 3.0), 6) AS px_mean
    FROM documents
    """,
)
def multimodal_decode_px(spark, sf_dir):
    """Real PNG PIXEL decode over synthesized payloads: per-doc pixel sum/
    mean from zlib-inflated, un-filtered scanlines (all 5 PNG filters)."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 5 + 2, i % 3 + 2
        px = bytes((i * 7 + k) % 256 for k in range(w * h * 3))
        return M.encode_png(
            w, h, px, 3, filter_for_row=lambda y: (i + y) % 5
        )

    return M.decode_image_pixels(_planted(d, payload))


# REAL baseline JPEG pixel decode (operators/multimodal.py::
# decode_jpeg_pixels) — the codec tier's last stub made real (verdict r05
# item 5). Payloads are 3-component YCbCr JPEGs of CONSTANT-GRAY 8x8
# blocks (block j of doc i is (i*13 + j*17) % 256): a constant block's
# FDCT is DC-only and 8·(v−128) is integer under the all-ones quant
# table, and gray RGB converts to (Y=v, Cb=Cr=128) exactly — so the lossy
# pipeline is bit-exact on the planted content and the oracle can
# recompute every pixel symbolically. The adjudicated path still runs the
# full codec: Huffman DC categories + EOB, DC prediction across blocks,
# byte unstuffing, restart markers (doc_id%3 picks DRI 0/1/2), dequant,
# IDCT, YCbCr→RGB. px_wsum is position-weighted, wrong under any block
# mis-placement.
@query(
    "multimodal_decode_jpg",
    sql="""
    WITH s AS (
        SELECT doc_id,
               (doc_id % 3 + 1) * 8 AS w,
               (doc_id % 2 + 1) * 8 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> (doc_id * 13
                         + ((k // 3) // w // 8 * (w // 8)
                            + (k // 3) % w // 8) * 17) % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_jpg(spark, sf_dir):
    """Real baseline-JPEG pixel decode over synthesized constant-block
    payloads: Huffman + DC prediction + RST + IDCT + YCbCr→RGB, through
    the same format-dispatched decode_image_pixels path as PNG/BMP/GIF."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = (i % 3 + 1) * 8, (i % 2 + 1) * 8
        bw = w // 8
        px = bytearray()
        for p in range(w * h):
            x, y = p % w, p // w
            v = (i * 13 + ((y // 8) * bw + x // 8) * 17) % 256
            px += bytes((v, v, v))
        return M.encode_jpeg(
            w, h, bytes(px), channels=3, restart_interval=i % 3
        )

    return M.decode_image_pixels(_planted(d, payload))


# PROGRESSIVE JPEG pixel decode (operators/multimodal.py::
# decode_jpeg_pixels, whose progressive scans fill the same coefficient
# grid as a sequential scan): same planted
# constant-gray-block content as multimodal_decode_jpg, but the payloads
# are SOF2 progressive streams synthesized by encode_jpeg_progressive —
# a DC first scan, doc_id%3 successive-approximation refinement scans
# (dc_al 0/1/2 exercises both DC pass types and the no-refinement edge),
# and per-component AC first scans that are pure EOB runs on this
# content. Constant blocks make the lossy pipeline bit-exact (DC-only
# coefficients, all-ones quant), so the oracle recomputes every pixel
# symbolically; px_wsum is position-weighted and fails under any
# scan-accumulation or block-placement error.
@query(
    "multimodal_decode_jpg_prog",
    sql="""
    WITH s AS (
        SELECT doc_id,
               (doc_id % 3 + 1) * 8 AS w,
               (doc_id % 2 + 1) * 8 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> (doc_id * 13
                         + ((k // 3) // w // 8 * (w // 8)
                            + (k // 3) % w // 8) * 17) % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_jpg_prog(spark, sf_dir):
    """Progressive-JPEG pixel decode over synthesized constant-block
    payloads: DC first + successive-approximation refinement + EOB-run AC
    scans accumulated across the progression, then one IDCT — through the
    same format-dispatched decode_image_pixels path as baseline JPEG."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = (i % 3 + 1) * 8, (i % 2 + 1) * 8
        bw = w // 8
        px = bytearray()
        for p in range(w * h):
            x, y = p % w, p // w
            v = (i * 13 + ((y // 8) * bw + x // 8) * 17) % 256
            px += bytes((v, v, v))
        return M.encode_jpeg_progressive(
            w, h, bytes(px), channels=3,
            dc_al=i % 3, ac_al=i % 2,
            # restart markers inside every scan on 2 of 5 docs (interval
            # rotates 1-2 MCUs) — the decoder realigns + resets DC/EOB
            # state at each
            restart_interval=(i % 5) if i % 5 < 3 else 0,
        )

    return M.decode_image_pixels(_planted(d, payload))


# CHROMA-SUBSAMPLED (4:2:0) baseline JPEG decode (round 7): the decoder's
# MCU-interleaved path — 4 Y blocks + 1 Cb + 1 Cr per 16x16 MCU, box-mean
# downsampled chroma, nearest-replication upsample. Payloads plant
# constant 16x16 GRAY tiles (value (i*53 + tile*29) % 256): constant over
# every sampling grid, so downsample and upsample are identities, the
# FDCT is DC-only, and the whole lossy pipeline is bit-exact — DuckDB
# recomputes every pixel symbolically. doc_id%2 rotates restart intervals
# (restart cadence is per MCU in the subsampled layout — a per-block
# assumption would desync immediately); px_wsum is position-weighted and
# fails under any MCU-order or upsample-placement error.
@query(
    "multimodal_decode_jpg_420",
    sql="""
    WITH s AS (
        SELECT doc_id,
               (doc_id % 2 + 1) * 16 AS w,
               16 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> (doc_id * 53
                         + ((k // 3) // w // 16 * (w // 16)
                            + (k // 3) % w // 16) * 29) % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_jpg_420(spark, sf_dir):
    """4:2:0 chroma-subsampled baseline-JPEG decode over synthesized
    constant-tile payloads: MCU-interleaved Huffman decode, box/nearest
    chroma round trip, per-MCU restarts — through the format-dispatched
    decode_image_pixels path."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = (i % 2 + 1) * 16, 16
        tw = w // 16
        px = bytearray()
        for p in range(w * h):
            x, y = p % w, p // w
            v = (i * 53 + ((y // 16) * tw + x // 16) * 29) % 256
            px += bytes((v, v, v))
        return M.encode_jpeg(
            w, h, bytes(px), channels=3,
            sampling=[(2, 2), (1, 1), (1, 1)],
            restart_interval=i % 2,
        )

    return M.decode_image_pixels(_planted(d, payload))


# REAL BMP pixel decode (operators/multimodal.py::decode_bmp_pixels):
# 24-bit bottom-up BGR payloads with 4-byte row padding (padding bytes are
# nonzero) synthesized per doc_id; pixel k of doc i — in the CANONICAL
# top-down RGB order the decoder must reconstruct — is (i*11 + k*5) % 256.
# px_wsum (position-weighted) is wrong unless the row flip, the BGR->RGB
# swap, and padding stripping are all exactly right; the plain px_sum alone
# would pass under any byte reordering. Widths 2..7 make most strides
# non-aligned, so padding is on the adjudicated path.
@query(
    "multimodal_decode_bmp",
    sql="""
    SELECT doc_id,
           CAST(doc_id % 6 + 2 AS BIGINT) AS width,
           CAST(doc_id % 4 + 2 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 3)::INT),
                    k -> (doc_id * 11 + k * 5) % 256)) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 3)::INT),
                    k -> k * ((doc_id * 11 + k * 5) % 256))) AS BIGINT)
               AS px_wsum,
           ROUND(list_sum(list_transform(
                    range(0, ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 3)::INT),
                    k -> (doc_id * 11 + k * 5) % 256))
                 / ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 3.0), 6) AS px_mean
    FROM documents
    """,
)
def multimodal_decode_bmp(spark, sf_dir):
    """Real BMP pixel decode over synthesized bottom-up 24-bit payloads:
    per-doc pixel sum / position-weighted sum / mean through the same
    format-dispatched decode_image_pixels path as PNG."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 6 + 2, i % 4 + 2
        px = bytes((i * 11 + k * 5) % 256 for k in range(w * h * 3))
        return M.encode_bmp(w, h, px, top_down=False)

    return M.decode_image_pixels(_planted(d, payload))


# 32-bit BMP decode (round 7 — BGRA, both BI_RGB and BI_BITFIELDS with
# the standard masks, doc_id%2 rotating the header variant and doc_id%3
# the row order): canonical RGBA byte k of doc i is (i*11 + k*5) % 256
# EXCEPT that on-disk alpha rides the 4th channel — the oracle recomputes
# every byte incl. alpha; px_wsum breaks under any BGRA swizzle or
# row-flip error.
@query(
    "multimodal_decode_bmp32",
    sql="""
    SELECT doc_id,
           CAST(doc_id % 6 + 2 AS BIGINT) AS width,
           CAST(doc_id % 4 + 2 AS BIGINT) AS height,
           CAST(4 AS BIGINT) AS channels,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 4)::INT),
                    k -> (doc_id * 11 + k * 5) % 256)) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 4)::INT),
                    k -> k * ((doc_id * 11 + k * 5) % 256))) AS BIGINT)
               AS px_wsum,
           ROUND(list_sum(list_transform(
                    range(0, ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 4)::INT),
                    k -> (doc_id * 11 + k * 5) % 256))
                 / ((doc_id % 6 + 2) * (doc_id % 4 + 2) * 4.0), 6) AS px_mean
    FROM documents
    """,
)
def multimodal_decode_bmp32(spark, sf_dir):
    """32-bit BGRA BMP decode (BI_RGB / standard-mask BI_BITFIELDS,
    bottom-up and top-down) through decode_image_pixels."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 6 + 2, i % 4 + 2
        px = bytes((i * 11 + k * 5) % 256 for k in range(w * h * 4))
        return M.encode_bmp32(
            w, h, px, top_down=(i % 3 == 0),
            bitfields=(i % 2 == 0),
        )

    return M.decode_image_pixels(_planted(d, payload))


# RLE8 BMP decode (round 7): palette index of pixel p is
# (doc_id*7 + p//3) % 16 (horizontal runs of 3 exercise run coding);
# palette entry j is ((j*19)%256, (j*19+19)%256, (j*19+38)%256) packed as
# BGRX quads on disk. doc_id%2 alternates rows through word-aligned
# ABSOLUTE mode so both RLE paths are on the adjudicated path; the
# bottom-up row order + palette swizzle are position-pinned by px_wsum.
@query(
    "multimodal_decode_bmp_rle8",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 2 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> ((doc_id * 7 + (k // 3) // 3) % 16 * 19
                         + (k % 3) * 19) % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_bmp_rle8(spark, sf_dir):
    """RLE8 palette BMP decode (encoded runs + absolute-mode rows,
    end-of-line/bitmap escapes) through decode_image_pixels."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    palette = bytes(
        (j * 19 + c * 19) % 256 for j in range(16) for c in range(3)
    )

    def payload(i: int) -> bytes:
        w, h = i % 5 + 4, i % 3 + 2
        idx = bytes((i * 7 + p // 3) % 16 for p in range(w * h))
        absolute = (
            set(range(0, h, 2)) if i % 2 == 0 else None
        )
        return M.encode_bmp_rle8(w, h, idx, palette, absolute_rows=absolute)

    return M.decode_image_pixels(_planted(d, payload))


# REAL GIF pixel decode (operators/multimodal.py::decode_gif_pixels):
# variable-width LZW streams with an 8-color global palette are synthesized
# per doc_id — palette index of pixel m is (doc_id*3 + m) % 8, palette color
# j is (j*30, j*30+1, j*30+2) — so canonical RGB byte k is
# ((doc_id*3 + k//3) % 8) * 30 + k % 3, which the oracle recomputes
# symbolically. px_sum/px_wsum are wrong unless the LSB-first bit unpacking,
# code-width growth, dictionary rules, and color-table mapping are all
# exactly right.
@query(
    "multimodal_decode_gif",
    sql="""
    SELECT doc_id,
           CAST(doc_id % 5 + 3 AS BIGINT) AS width,
           CAST(doc_id % 3 + 2 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3)::INT),
                    k -> ((doc_id * 3 + k // 3) % 8) * 30 + k % 3))
               AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3)::INT),
                    k -> k * (((doc_id * 3 + k // 3) % 8) * 30 + k % 3)))
               AS BIGINT) AS px_wsum,
           ROUND(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3)::INT),
                    k -> ((doc_id * 3 + k // 3) % 8) * 30 + k % 3))
                 / ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3.0), 6) AS px_mean
    FROM documents
    """,
)
def multimodal_decode_gif(spark, sf_dir):
    """Real GIF LZW pixel decode over synthesized payloads: per-doc pixel
    sum / position-weighted sum / mean through the format-dispatched
    decode_image_pixels path (PNG/BMP/GIF)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    palette = bytes(j * 30 + c for j in range(8) for c in range(3))

    def payload(i: int) -> bytes:
        w, h = i % 5 + 3, i % 3 + 2
        idx = [(i * 3 + m) % 8 for m in range(w * h)]
        return M.encode_gif(w, h, idx, palette)

    return M.decode_image_pixels(_planted(d, payload))


# INTERLACED GIF decode (round 7 — operators/multimodal.py::
# _gif_deinterlace): the SAME planted content as multimodal_decode_gif,
# stored in the 4-pass interlace row order with the descriptor flag set.
# The oracle is identical by construction (deinterlacing must reproduce
# the top-down raster exactly); px_wsum is position-weighted, so any
# pass-ordering error (the classic off-by-one on pass strides) flips it.
# Heights span 2-4 so passes 1/2 are empty for some docs and not others.
@query(
    "multimodal_decode_gif_interlaced",
    sql="""
    SELECT doc_id,
           CAST(doc_id % 5 + 3 AS BIGINT) AS width,
           CAST(doc_id % 3 + 2 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3)::INT),
                    k -> ((doc_id * 3 + k // 3) % 8) * 30 + k % 3))
               AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3)::INT),
                    k -> k * (((doc_id * 3 + k // 3) % 8) * 30 + k % 3)))
               AS BIGINT) AS px_wsum,
           ROUND(list_sum(list_transform(
                    range(0, ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3)::INT),
                    k -> ((doc_id * 3 + k // 3) % 8) * 30 + k % 3))
                 / ((doc_id % 5 + 3) * (doc_id % 3 + 2) * 3.0), 6) AS px_mean
    FROM documents
    """,
)
def multimodal_decode_gif_interlaced(spark, sf_dir):
    """Interlaced-GIF pixel decode: 4-pass row reordering on top of the
    LZW machinery, adjudicated against the raster-order symbolic oracle."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    palette = bytes(j * 30 + c for j in range(8) for c in range(3))

    def payload(i: int) -> bytes:
        w, h = i % 5 + 3, i % 3 + 2
        idx = [(i * 3 + m) % 8 for m in range(w * h)]
        return M.encode_gif(w, h, idx, palette, interlace=True)

    return M.decode_image_pixels(_planted(d, payload))


# PALETTE PNG decode (round 7 — color type 3): indices filter as a
# 1-byte-per-pixel stream (the spec's subtlety: bpp for Sub/Average/Paeth
# is 1, not 3), then expand through PLTE to RGB. Planted content: pixel p
# of doc i has palette index (i*7 + p*3) % 16; palette entry j is
# ((j*17)%256, (j*31)%256, (j*53)%256) — every canonical byte is
# recomputable symbolically. filter_for_row = p%5 rotates ALL FIVE filter
# types through the adjudicated path; px_wsum breaks under any filter or
# palette-mapping error.
@query(
    "multimodal_decode_png_palette",
    sql="""
    WITH s AS (
        SELECT doc_id,
               doc_id % 6 + 4 AS w,
               doc_id % 4 + 3 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> CASE k % 3
                        WHEN 0 THEN ((doc_id * 7 + (k // 3) * 3) % 16) * 17 % 256
                        WHEN 1 THEN ((doc_id * 7 + (k // 3) * 3) % 16) * 31 % 256
                        ELSE ((doc_id * 7 + (k // 3) * 3) % 16) * 53 % 256
                        END) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_png_palette(spark, sf_dir):
    """Palette-PNG pixel decode (color type 3, all five filters rotating
    per scanline) through the format-dispatched decode_image_pixels path."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    palette = bytes(
        v for j in range(16)
        for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        idx = bytes((i * 7 + p * 3) % 16 for p in range(w * h))
        return M.encode_png_palette(
            w, h, idx, palette, filter_for_row=lambda y: y % 5
        )

    return M.decode_image_pixels(_planted(d, payload))


# REAL WAV PCM sample decode (operators/multimodal.py::decode_wav_pcm) —
# the audio twin of multimodal_decode_px: 16-bit PCM payloads whose sample
# k is ((doc_id*31 + k*7) % 65536) - 32768 are synthesized per doc_id, and
# the oracle recomputes sum/mean/peak/RMS symbolically. sample_sum and
# peak_abs are integers that are wrong unless byte width, signedness, and
# the data-chunk walk are exactly right.
@query(
    "multimodal_decode_pcm",
    sql="""
    WITH s AS (
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                               WHEN 2 THEN 32000 ELSE 40000 END AS rate,
               doc_id % 2 + 1 AS channels,
               (doc_id % 50 + 1) * (doc_id % 2 + 1) AS n,
               list_transform(
                   range(0, ((doc_id % 50 + 1) * (doc_id % 2 + 1))::INT),
                   k -> (doc_id * 31 + k * 7) % 65536 - 32768) AS v
        FROM documents
    )
    SELECT doc_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(v) AS BIGINT) AS sample_sum,
           ROUND(list_sum(v) / (1.0 * n), 6) AS sample_mean,
           CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT)
               AS peak_abs,
           ROUND(SQRT(list_sum(list_transform(v, x -> 1.0 * x * x)) / n), 6)
               AS rms
    FROM s
    """,
)
def multimodal_decode_pcm(spark, sf_dir):
    """Real WAV PCM sample decode over synthesized 16-bit payloads: per-doc
    sample sum/mean, peak amplitude, and RMS (the loudness/clipping screen
    of an audio-curation pass) via decode_audio_samples."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    rates = [8000, 16000, 32000, 40000]

    def payload(i: int) -> bytes:
        rate, channels = rates[i % 4], i % 2 + 1
        n = (i % 50 + 1) * channels
        data = struct.pack(
            f"<{n}h",
            *((i * 31 + k * 7) % 65536 - 32768 for k in range(n)),
        )
        return _wav(
            1, channels, rate, rate * 2 * channels, 2 * channels, 16, data
        )

    return M.decode_audio_samples(_planted(d, payload))


# 24-bit PCM + IEEE float32 WAV decode (round 7 — the two studio/DSP
# formats that previously hit the honest stub). Even doc_ids plant
# 24-bit samples spanning the full signed range (k*7919 strides hit both
# sign halves); odd doc_ids plant float32 samples x = m/1000 for
# m in [-1000, 1000], which the decoder maps to integers by
# round-half-away(CAST(x AS REAL) * 32767). DuckDB replicates the exact
# pipeline: REAL cast = float32 quantization, then the same double
# multiply and floor/ceil rounding — so sample_sum/peak/rms adjudicate
# byte width, sign extension, float32 bit decoding, and the rounding
# convention symbolically.
@query(
    "multimodal_decode_pcm24f",
    sql="""
    WITH s AS (
        SELECT doc_id,
               16000 AS rate,
               doc_id % 2 + 1 AS channels,
               (doc_id % 40 + 1) * (doc_id % 2 + 1) AS n
        FROM documents
    ), v AS (
        SELECT doc_id, rate, channels, n,
               CASE WHEN doc_id % 2 = 0 THEN
                   list_transform(range(0, n::INT),
                       k -> (doc_id * 31 + k * 7919) % 16777216 - 8388608)
               ELSE
                   list_transform(range(0, n::INT),
                       k -> CASE
                            WHEN CAST(((doc_id * 13 + k * 37) % 2001 - 1000)
                                      / 1000.0 AS REAL) >= 0
                            THEN CAST(FLOOR(CAST(CAST(((doc_id * 13 + k * 37)
                                     % 2001 - 1000) / 1000.0 AS REAL)
                                     AS DOUBLE) * 32767 + 0.5) AS BIGINT)
                            ELSE CAST(CEIL(CAST(CAST(((doc_id * 13 + k * 37)
                                     % 2001 - 1000) / 1000.0 AS REAL)
                                     AS DOUBLE) * 32767 - 0.5) AS BIGINT)
                            END)
               END AS v
        FROM s
    )
    SELECT doc_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(v) AS BIGINT) AS sample_sum,
           ROUND(list_sum(v) / (1.0 * n), 6) AS sample_mean,
           CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT)
               AS peak_abs,
           ROUND(SQRT(list_sum(list_transform(v, x -> 1.0 * x * x)) / n), 6)
               AS rms
    FROM v
    """,
)
def multimodal_decode_pcm24f(spark, sf_dir):
    """24-bit PCM (even docs) and IEEE float32 (odd docs) WAV decode:
    same loudness-screen stats as multimodal_decode_pcm, through
    decode_audio_samples."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        rate, channels = 16000, i % 2 + 1
        n = (i % 40 + 1) * channels
        if i % 2 == 0:  # 24-bit PCM
            vals = [(i * 31 + k * 7919) % (1 << 24) - (1 << 23) for k in range(n)]
            data = b"".join((v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
            return _wav(
                1, channels, rate, rate * 3 * channels, 3 * channels, 24, data
            )
        xs = [((i * 13 + k * 37) % 2001 - 1000) / 1000.0 for k in range(n)]
        return _wav(  # IEEE float32
            3, channels, rate, rate * 4 * channels, 4 * channels, 32,
            struct.pack(f"<{n}f", *xs),
        )

    return M.decode_audio_samples(_planted(d, payload))


# Embedding-cosine near-dup (north_star list) — blocked by label (IVF-style:
# compare within coarse cells only).
@query(
    "dedup_embedding",
    sql="""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_inner_product(a.e, b.e)
                 / (SQRT(list_inner_product(a.e, a.e))
                    * SQRT(list_inner_product(b.e, b.e))), 6) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_inner_product(a.e, b.e)
                / (SQRT(list_inner_product(a.e, a.e))
                   * SQRT(list_inner_product(b.e, b.e))), 6) >= 0.5
    """,
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs within label blocks (cosine >=
    0.5) — operators/similarity.py::embedding_near_dup_pairs."""
    e = table(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(e, block_col="label", threshold=0.5)


# End-to-end training-data pipeline: quality filter -> exact dedup ->
# token accounting, reported per language.
@query(
    "pipeline_clean_corpus",
    sql=f"""
    WITH q AS (
        SELECT doc_id, lang, text,
               CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the','a','of','to','and','in','is','for','on','with'))) AS BIGINT) AS n_stop,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
               CAST(length(text) AS BIGINT) AS n_chars_calc
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, text, n_words,
               least(n_words / 100.0, 1.0) * 0.4
                   + (n_stop / NULLIF(n_words, 0)) * 0.3
                   + (n_alpha / NULLIF(n_chars_calc, 0)) * 0.3 AS quality_score
        FROM q WHERE n_words >= 10
    ), kept AS (
        SELECT MIN(doc_id) AS doc_id, ANY_VALUE(lang) AS lang,
               ANY_VALUE(n_words) AS n_words
        FROM scored
        WHERE quality_score >= 0.4
        GROUP BY text
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM kept
    GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark, sf_dir):
    """The composed training-data pipeline: quality-filter (score >= 0.4,
    >= 10 words) -> exact dedup (keep min doc_id per text) -> per-language
    token accounting. One declarative plan: Catalyst fuses the filters and
    the two aggregations into two shuffles total."""
    d = table(spark, sf_dir, "documents")
    scored = T.quality_features(d).filter(
        (F.col("n_words") >= 10) & (F.col("quality_score") >= 0.4)
    )
    kept = scored.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.any_value("lang").alias("lang"),
        F.any_value("n_words").alias("n_words"),
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
    )


# The full pretraining-prep composition: quality filter -> exact dedup ->
# context-window packing. Extends pipeline_clean_corpus with the packing
# stage (the last mile before the tokenizer): kept docs are binned into
# 4096-token windows per language by an exclusive prefix sum. Still one
# declarative plan — filter fuses into the scan, dedup is one groupBy(text),
# packing is one window + one agg, and partitioning on lang carries from
# the window into the final aggregation (no extra exchange).
@query(
    "pipeline_pack_corpus",
    sql="""
    WITH q AS (
        SELECT doc_id, lang, text,
               CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the','a','of','to','and','in','is','for','on','with'))) AS BIGINT) AS n_stop,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
               CAST(length(text) AS BIGINT) AS n_chars_calc
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, text, n_words,
               least(n_words / 100.0, 1.0) * 0.4
                   + (n_stop / NULLIF(n_words, 0)) * 0.3
                   + (n_alpha / NULLIF(n_chars_calc, 0)) * 0.3 AS quality_score
        FROM q WHERE n_words >= 10
    ), kept AS (
        SELECT MIN(doc_id) AS doc_id, ANY_VALUE(lang) AS lang,
               ANY_VALUE(n_words) AS n_words
        FROM scored
        WHERE quality_score >= 0.4
        GROUP BY text
    ), p AS (
        SELECT doc_id, lang, n_words,
               COALESCE(SUM(n_words) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        FROM kept
    )
    SELECT lang,
           CAST(FLOOR(prefix / 4096.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM p
    GROUP BY lang, bin_id
    """,
)
def pipeline_pack_corpus(spark, sf_dir):
    """Quality-filter -> exact dedup -> 4096-token packing per language."""
    d = table(spark, sf_dir, "documents")
    scored = T.quality_features(d).filter(
        (F.col("n_words") >= 10) & (F.col("quality_score") >= 0.4)
    )
    kept = scored.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.any_value("lang").alias("lang"),
        F.any_value("n_words").alias("n_words"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = kept.withColumn("prefix", F.coalesce(F.sum("n_words").over(w), F.lit(0)))
    return (
        p.groupBy(
            "lang",
            F.floor(F.col("prefix") / 4096.0).cast("bigint").alias("bin_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# Iterative k-means clustering (rows-only: iterative float averaging is not
# SQL-expressible; structure checked by unit tests).
@query("cluster_kmeans", sql=None)
def cluster_kmeans(spark, sf_dir):
    """Deterministic-init k-means (k=16, 5 iterations) over embeddings —
    the iterative-algorithm tier; driver loop, distributed assign/update
    (operators/clustering.py)."""
    from corintick_spark.operators.clustering import kmeans_assign, kmeans_fit

    e = table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, k=16, iters=5)
    out = kmeans_assign(e, cents)
    # rows-only invariants, computed INDEPENDENTLY of the assign path:
    # the assigned distance must beat the distance to a fixed reference
    # centroid (cell 0) — a consequence of argmin that a broken assign
    # cannot satisfy for every row — plus dist >= 0 and cell in [0, k).
    ref = cents.filter(F.col("cell") == 0).select(
        F.col("centroid").alias("_ref")
    )
    d_ref = F.expr(
        "aggregate(zip_with(embedding, _ref,"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0D, (s, v) -> s + v)"
    )
    return (
        out.join(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(ref))  # 1-row reference centroid
        .withColumn(
            "inv_ok",
            (F.col("dist") >= 0)
            & F.col("cell").between(0, 15)
            & (F.col("dist") <= d_ref + F.lit(1e-9)),
        )
        .select("vec_id", "cell", "dist", "inv_ok")
    )


# IVF-Flat ANN: k-means coarse quantizer + nprobe cell search (rows-only).
@query("similarity_ivf", sql=None)
def similarity_ivf(spark, sf_dir):
    """IVF-Flat cosine top-5 (FAISS-shape): corpus bucketed by nearest of 16
    trained cells, queries probe 4 cells — the billion-scale ANN layout."""
    from corintick_spark.operators.clustering import ivf_topk, kmeans_fit

    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    cents = kmeans_fit(e, k=16, iters=5)
    out = ivf_topk(probes, e, cents, k=5, nprobe=4)
    # rows-only invariants: rank/score structure + cosine bounds (see
    # _topk_invariants) + inv_recall — POOLED recall@5 vs the exact
    # cosine scan (floor 0.4, measured 0.68/0.60/0.70 at
    # sf0.001/sf0.01/edge — nprobe=4 of 16 k-means cells)
    out = _topk_invariants(out, "score", descending=True, lo=-1.0, hi=1.0)
    return _with_recall(out, _exact_pairs(probes, e, "cos"), k=5, floor=0.4)


# Transitive duplicate clusters: connected components over near-dup edges.
@query(
    "dedup_clusters",
    sql="""
    WITH RECURSIVE w AS (
        SELECT doc_id, source,
               list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS wset
        FROM documents
    ), p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.wset, b.wset))
                  / len(list_distinct(a.wset || b.wset)) >= 0.5
    ), e AS (
        SELECT a_id AS u, b_id AS v FROM p
        UNION
        SELECT b_id AS u, a_id AS v FROM p
    ), reach(node, r) AS (
        SELECT u, v FROM e
        UNION
        SELECT u, u FROM e
        UNION
        SELECT reach.node, e.v FROM reach, e WHERE reach.r = e.u
    ), comp AS (
        SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(c.comp, d.doc_id) AS cluster_id,
           (COALESCE(c.comp, d.doc_id) = d.doc_id) AS is_keeper
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def dedup_clusters(spark, sf_dir):
    """Transitive near-duplicate clusters: n-gram Jaccard pairs -> connected
    components via alternating min-label propagation (operators/
    dup_clusters.py) -> one keeper per cluster. Oracle is the recursive-CTE
    transitive closure — a genuinely different algorithm computing the same
    fixpoint."""
    from corintick_spark.operators.dup_clusters import dup_clusters

    d = table(spark, sf_dir, "documents")
    # bucket_pair_max: the clustering scale guard (operators/dedup.py) —
    # never binds at driver SF (blocks there take the exact naive path),
    # bounds pair volume to O(docs) inside replicated-dup neighborhoods
    # at scale (98.3% identical labels vs exact at sf1, splits-only).
    pairs = D.ngram_jaccard_pairs(
        d, block_col="source", threshold=0.5, bucket_pair_max=64
    ).select("a_id", "b_id")
    return dup_clusters(d, pairs)


# Substring-containment dedup (exact-substring tier).
@query(
    "dedup_containment",
    sql="""
    SELECT a.doc_id AS outer_id, b.doc_id AS inner_id
    FROM documents a JOIN documents b ON a.source = b.source
    WHERE a.doc_id != b.doc_id
      AND length(b.text) <= length(a.text)
      AND contains(a.text, b.text)
    """,
)
def dedup_containment(spark, sf_dir):
    """Documents fully contained in another same-source document
    (operators/dedup.py::containment_pairs) — the exact-substring dedup
    tier; blocked join, contains() residual."""
    d = table(spark, sf_dir, "documents")
    return D.containment_pairs(d, block_col="source")


# TF-IDF top terms per document.
@query(
    "text_tfidf",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
        FROM documents
    ), tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word
    ), df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.word,
               ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, rk FROM (
        SELECT doc_id, word, tfidf,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, word
               ) AS BIGINT) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def text_tfidf(spark, sf_dir):
    """Top-5 TF-IDF terms per document: explode -> tf (per doc-word) and df
    (per word) aggregations -> broadcast df join -> windowed top-k. The
    document-frequency table is vocabulary-sized — broadcastable even at
    corpus scale."""
    d = table(spark, sf_dir, "documents")
    tok = D.tokenize(d).select("doc_id", F.explode("words").alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a broadcast 1-row aggregate, not a driver-side count():
    # the whole query stays one plan / one job
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.select(
            "doc_id", "word", "tfidf",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


# Edit-distance fuzzy matching (levenshtein) within blocks.
@query(
    "dedup_fuzzy",
    sql="""
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS edit_dist
    FROM documents a JOIN documents b ON a.source = b.source
    WHERE a.doc_id < b.doc_id
      AND levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 20
    """,
)
def dedup_fuzzy(spark, sf_dir):
    """Prefix edit-distance fuzzy pairs within source blocks — the
    levenshtein tier of the dedup toolkit (blocked; at corpus scale run it
    as verification inside LSH buckets, never across blocks)."""
    d = table(spark, sf_dir, "documents")
    a = d.select(
        F.col("source").alias("_blk"),
        F.col("doc_id").alias("a_id"),
        F.substring("text", 1, 40).alias("a_head"),
    )
    b = d.select(
        F.col("source").alias("_blk"),
        F.col("doc_id").alias("b_id"),
        F.substring("text", 1, 40).alias("b_head"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("edit_dist", F.levenshtein("a_head", "b_head").cast("bigint"))
        .filter(F.col("edit_dist") <= 20)
        .select("a_id", "b_id", "edit_dist")
    )


# ---------------------------------------------------------------------------
# Training-pipeline extensions, round 2: repetition scoring, PII scrubbing,
# document chunking, batch sessionization.
# ---------------------------------------------------------------------------


@query(
    "text_repetition",
    sql="""
    WITH w AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        FROM documents
    ), b AS (
        SELECT doc_id, ws,
               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS bg
        FROM w
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           1.0 - len(list_distinct(ws)) / NULLIF(len(ws), 0) AS dup_word_frac,
           list_max(list_transform(list_distinct(ws),
                                   w2 -> len(list_filter(ws, x -> x = w2))))
               / NULLIF(len(ws), 0) AS top_word_frac,
           1.0 - len(list_distinct(bg)) / NULLIF(len(bg), 0) AS dup_bigram_frac
    FROM b
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-word fraction, top-word
    dominance, duplicate-bigram fraction — row-local array expressions,
    map-only at any scale (operators/text.py::repetition_features)."""
    d = table(spark, sf_dir, "documents")
    return T.repetition_features(d).select(
        "doc_id", "n_words", "dup_word_frac", "top_word_frac", "dup_bigram_frac"
    )


@query(
    "text_pii_scrub",
    sql=f"""
    WITH s AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{T.PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{T.PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, '{T.PII_IP}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(raw,
               '{T.PII_EMAIL}', '[EMAIL]', 'g'),
               '{T.PII_PHONE}', '[PHONE]', 'g'),
               '{T.PII_IP}', '[IP]', 'g') AS scrubbed
    FROM s
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII detect-and-redact over a deterministic synthetic-PII overlay
    (emails / phone numbers / IPv4) — pure regexp pass, shuffle-free
    (operators/text.py::pii_scrub). Patterns sit in the Java-regex ∩ RE2
    common subset so Spark and DuckDB apply identical semantics."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    d2 = d.select("doc_id", raw.alias("raw"))
    return T.pii_scrub(d2, "raw").select(
        "doc_id", "n_emails", "n_phones", "n_ips", "scrubbed"
    )


@query(
    "text_chunks",
    sql="""
    WITH w AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        FROM documents
    ), s AS (
        SELECT doc_id, ws,
               unnest(range(1, greatest(len(ws), 1) + 1, 24)) AS start_tok
        FROM w
    )
    SELECT doc_id,
           CAST((start_tok - 1) // 24 AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(ws[start_tok:start_tok + 31]) AS BIGINT) AS chunk_len,
           -- COALESCE: DuckDB's array_to_string of an EMPTY list is NULL,
           -- Spark's array_join is '' — a token-less doc's single empty
           -- chunk must agree (edge-dataset differential)
           COALESCE(array_to_string(ws[start_tok:start_tok + 31], ' '), '') AS chunk_text
    FROM s
    """,
)
def text_chunks(spark, sf_dir):
    """Overlapping token-window chunking (size 32, stride 24) — the
    training-example splitter. sequence()+explode flatMap, no shuffle
    (operators/text.py::chunk_tokens)."""
    d = table(spark, sf_dir, "documents")
    return T.chunk_tokens(d, size=32, stride=24).select(
        "doc_id", "chunk_idx", "start_tok", "chunk_len", "chunk_text"
    )


@query(
    "events_sessionize",
    sql="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ), flags AS (
        SELECT user_id, event_id, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NULL
                      OR ts_us - lag(ts_us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
        SELECT user_id, ts_us,
               CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flags
    )
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts_us) AS first_us, MAX(ts_us) AS last_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Gap-based batch sessionization (30-min gap) + per-session stats over
    the events log — lag→flag→cumsum in one window exchange, then the
    session aggregate (operators/sessions.py). Microsecond timestamps on
    both engines so gap decisions are bit-identical."""
    from corintick_spark.operators import sessions as SS

    e = table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    s = SS.sessionize(e, key="user_id", ts_us="ts_us")
    return SS.session_stats(s, key="user_id", ts_us="ts_us")


# Corpus-wide bigram counts, top 100 — n-gram statistics for tokenizer /
# contamination analysis. Spark builds bigrams with a higher-order array
# transform (zero joins, zero Python); the oracle builds them by a
# positional self-join. Ties in the top-k are broken by the bigram string,
# so the LIMIT is deterministic in both engines.
@query(
    "text_topngrams",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(ws) AS tok,
               unnest(range(1, len(ws) + 1)) AS ord
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS ws
              FROM documents)
    ), big AS (
        SELECT a.tok || ' ' || b.tok AS bigram
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM big GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 100
    """,
)
def text_topngrams(spark, sf_dir):
    """Top-100 corpus bigrams by frequency (array transform, no join)."""
    d = D.tokenize(table(spark, sf_dir, "documents"))
    bigrams = F.expr(
        "transform(slice(words, 1, size(words) - 1),"
        " (w, i) -> concat(w, ' ', element_at(words, i + 2)))"
    )
    return (
        d.filter(F.size("words") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(100)
    )


# Inverted index build (term -> document-frequency + sorted posting list).
# The postings are emitted as a comma-joined string so the result is
# hashable by the driver's canonicalizer; numeric sort order (not lexical)
# is pinned by sorting the bigint ids BEFORE casting to string.
@query(
    "text_inverted_index",
    sql="""
    WITH raw AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x != ''))
                   AS term
        FROM documents
    ), toks AS (
        SELECT DISTINCT doc_id, term FROM raw
    )
    SELECT term, COUNT(*) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings
    FROM toks GROUP BY term
    HAVING COUNT(*) >= 20
    """,
)
def text_inverted_index(spark, sf_dir):
    """Posting lists for every term appearing in >= 20 documents."""
    d = D.tokenize(table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.array_distinct("words")).alias("term")
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.concat_ws(
                ",",
                F.expr(
                    "transform(array_sort(collect_list(doc_id)),"
                    " x -> cast(x as string))"
                ),
            ).alias("postings"),
        )
        .filter(F.col("df") >= 20)
    )


# Per-label embedding norm statistics. The L2 norm folds the vector with an
# INTEGER accumulator (each squared element scaled to a bigint) so the
# within-vector sum is order-independent and bit-identical across engines;
# cross-row aggregation uses the same scaled-long technique as agg_corr.
@query(
    "vector_norms",
    sql="""
    WITH n AS (
        SELECT label,
               SQRT(CAST(list_sum(list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                        * 1000000) AS BIGINT))) AS DOUBLE)
                    / 1000000) AS l2
        FROM embeddings
    )
    SELECT label, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(round(l2 * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000 / COUNT(*), 6) AS avg_norm,
           ROUND(MIN(l2), 6) AS min_norm,
           ROUND(MAX(l2), 6) AS max_norm
    FROM n GROUP BY label
    """,
)
def vector_norms(spark, sf_dir):
    """Exact L2-norm distribution of embeddings per label."""
    e = table(spark, sf_dir, "embeddings")
    l2 = F.expr(
        "sqrt(cast(aggregate(embedding, cast(0 as bigint),"
        " (acc, x) -> acc + cast(round(cast(x as double) * cast(x as double)"
        " * 1000000) as bigint)) as double) / 1000000)"
    )
    n = e.select("label", l2.alias("l2"))
    ssum = F.sum(F.round(F.col("l2") * 1_000_000).cast("bigint")).cast("double") / 1_000_000
    return n.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(ssum / F.count("*"), 6).alias("avg_norm"),
        F.round(F.min("l2"), 6).alias("min_norm"),
        F.round(F.max("l2"), 6).alias("max_norm"),
    )


# Cross-document boilerplate: word 5-grams appearing in >= 5 distinct
# documents. The pretraining-cleanup screen for shared headers/footers and
# template text; Spark builds shingles with one array transform, the
# oracle with four positional self-joins.
@query(
    "text_boilerplate",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(ws) AS tok,
               unnest(range(1, len(ws) + 1)) AS ord
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS ws
              FROM documents)
    ), five AS (
        SELECT a.doc_id,
               a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok
                     || ' ' || e.tok AS gram
        FROM toks a
        JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
        JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
        JOIN toks d ON d.doc_id = a.doc_id AND d.ord = a.ord + 3
        JOIN toks e ON e.doc_id = a.doc_id AND e.ord = a.ord + 4
    ), u AS (
        SELECT DISTINCT doc_id, gram FROM five
    )
    SELECT gram, COUNT(*) AS df
    FROM u GROUP BY gram HAVING COUNT(*) >= 5
    """,
)
def text_boilerplate(spark, sf_dir):
    """Word 5-grams shared by >= 5 documents (boilerplate screen)."""
    d = D.tokenize(table(spark, sf_dir, "documents"))
    grams = F.expr(
        "transform(slice(words, 1, size(words) - 4), (w, i) -> concat_ws(' ',"
        " w, element_at(words, i + 2), element_at(words, i + 3),"
        " element_at(words, i + 4), element_at(words, i + 5)))"
    )
    per_doc = (
        d.filter(F.size("words") >= 5)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 5)
    )


# Semantic dedup pipeline: embedding-cosine near-dup pairs (blocked by
# label — the IVF cell pattern) -> distributed connected components ->
# per-cluster membership stats. The full modern near-dup stack in one
# declarative chain; the oracle recomputes the same fixpoint with a
# recursive CTE.
@query(
    "pipeline_semantic_dedup",
    sql="""
    WITH RECURSIVE v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ), p AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(list_inner_product(a.e, b.e)
                    / (SQRT(list_inner_product(a.e, a.e))
                       * SQRT(list_inner_product(b.e, b.e))), 6) >= 0.5
    ), e2 AS (
        SELECT a_id AS u, b_id AS v FROM p
        UNION
        SELECT b_id AS u, a_id AS v FROM p
    ), reach(node, r) AS (
        SELECT u, v FROM e2
        UNION
        SELECT u, u FROM e2
        UNION
        SELECT reach.node, e2.v FROM reach, e2 WHERE reach.r = e2.u
    ), comp AS (
        SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    ), assign AS (
        SELECT x.vec_id, COALESCE(c.comp, x.vec_id) AS cluster_id
        FROM embeddings x LEFT JOIN comp c ON x.vec_id = c.node
    )
    SELECT cluster_id, COUNT(*) AS n_members,
           MIN(vec_id) AS keeper_id
    FROM assign GROUP BY cluster_id
    """,
)
def pipeline_semantic_dedup(spark, sf_dir):
    """Embedding near-dup pairs -> connected components -> cluster stats."""
    from corintick_spark.operators.dup_clusters import dup_clusters

    e = table(spark, sf_dir, "embeddings")
    pairs = S.embedding_near_dup_pairs(
        e, block_col="label", threshold=0.5
    ).select("a_id", "b_id")
    clustered = dup_clusters(e, pairs, id_col="vec_id")
    return clustered.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min("vec_id").alias("keeper_id"),
    )


# Product-quantization ANN (rows-only: codebook training is iterative float
# averaging, same tier as cluster_kmeans). PQ is the memory-compression
# half of the billion-scale ANN stack — 64-dim float vectors become 8
# one-byte codes (32x), and the ADC scan reads ONLY the codes column plus
# a broadcast distance table (operators/pq.py; Jégou et al., TPAMI 2011).
@query("similarity_pq", sql=None)
def similarity_pq(spark, sf_dir):
    """PQ-compressed cosine/L2 top-5: fit m=8 x k=16 codebooks, encode the
    corpus to 8-byte codes, ADC-scan for the first 10 vectors as probes."""
    from corintick_spark.operators.pq import pq_encode, pq_fit, pq_topk

    e = table(spark, sf_dir, "embeddings")
    books = pq_fit(e, m=8, k=16, iters=3)
    codes = pq_encode(e, books)
    out = pq_topk(e.filter(F.col("vec_id") < 10), codes, books, k=5)
    # rows-only invariants: ADC distances are sums of squared distances —
    # non-negative — and ascending in rank (see _topk_invariants)
    return _topk_invariants(out, "adc_dist", descending=False, lo=0.0)


# Token-budget corpus mixture — the "data mixing" step of a pretraining
# pipeline: given a global token budget split uniformly across sources,
# compute each source's deterministic keep-rate and subsample docs by a
# portable integer hash (Knuth multiplicative, same expression both
# engines — rand() could never oracle-match). One aggregation for the
# per-source totals (a |sources|-row broadcast), one map-side filtered
# re-aggregation; the corpus is scanned twice but shuffled only at
# |sources| granularity.
@query(
    "corpus_mixture",
    sql="""
    WITH tok AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), tot AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        FROM tok GROUP BY source
    ), rate AS (
        SELECT source, src_tokens,
               LEAST(1.0, (20000.0 / (SELECT COUNT(DISTINCT source)
                                      FROM documents)) / src_tokens)
                   AS keep_rate
        FROM tot
    )
    SELECT r.source, r.src_tokens, ROUND(r.keep_rate, 6) AS keep_rate,
           CAST(COALESCE(SUM(CASE WHEN ((t.doc_id * 2654435761) % 4294967296)
                                       / 4294967296.0 < r.keep_rate
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(SUM(CASE WHEN ((t.doc_id * 2654435761) % 4294967296)
                                       / 4294967296.0 < r.keep_rate
                                  THEN t.n_tokens ELSE 0 END), 0) AS BIGINT)
               AS tokens_kept
    FROM tok t JOIN rate r USING (source)
    GROUP BY r.source, r.src_tokens, r.keep_rate
    """,
)
def corpus_mixture(spark, sf_dir):
    """Uniform-budget mixture sampling: per-source keep-rate for a 20k-token
    budget, docs kept by deterministic hash threshold."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(F.expr("filter(split(text, ' '), x -> x != '')"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    nsrc = d.select(F.countDistinct("source").alias("nsrc"))
    rate = (
        tok.groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "src_tokens",
            F.least(
                F.lit(1.0), (F.lit(20000.0) / F.col("nsrc")) / F.col("src_tokens")
            ).alias("keep_rate"),
        )
    )
    frac = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    kept = F.when(frac < F.col("keep_rate"), F.lit(1)).otherwise(F.lit(0))
    return (
        tok.join(F.broadcast(rate), "source")
        .groupBy("source", "src_tokens", "keep_rate")
        .agg(
            F.coalesce(F.sum(kept), F.lit(0)).alias("n_docs_kept"),
            F.coalesce(
                F.sum(F.when(kept == 1, F.col("n_tokens")).otherwise(F.lit(0))),
                F.lit(0),
            ).alias("tokens_kept"),
        )
        .select(
            "source",
            "src_tokens",
            F.round("keep_rate", 6).alias("keep_rate"),
            "n_docs_kept",
            "tokens_kept",
        )
    )


# Benchmark decontamination — the REMOVAL composition on top of the
# text_contamination screen: drop every training doc that shares a distinct
# 5-gram with the benchmark split (doc_id % 97 == 0), report what survives
# per language. The contaminated-id set is tiny relative to the corpus, so
# the removal is a broadcast anti-join — the corpus is never shuffled.
@query(
    "pipeline_decontaminate",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(ws) AS tok,
               unnest(range(1, len(ws) + 1)) AS ord
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS ws
              FROM documents)
    ), five AS (
        SELECT a.doc_id,
               a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok
                     || ' ' || e.tok AS gram
        FROM toks a
        JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
        JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
        JOIN toks d ON d.doc_id = a.doc_id AND d.ord = a.ord + 3
        JOIN toks e ON e.doc_id = a.doc_id AND e.ord = a.ord + 4
    ), u AS (
        SELECT DISTINCT doc_id, gram FROM five
    ), probe AS (
        SELECT DISTINCT gram FROM u WHERE doc_id % 97 = 0
    ), bad AS (
        SELECT DISTINCT u.doc_id FROM u JOIN probe USING (gram)
        WHERE u.doc_id % 97 <> 0
    )
    SELECT d.lang, COUNT(*) AS n_docs_kept,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
    FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    GROUP BY d.lang
    """,
)
def pipeline_decontaminate(spark, sf_dir):
    """Remove benchmark-contaminated docs (shared distinct 5-gram with the
    doc_id%97==0 split); per-language counts of the surviving corpus."""
    d = table(spark, sf_dir, "documents")
    toks = D.tokenize(d)
    grams = F.expr(
        "transform(slice(words, 1, size(words) - 4), (w, i) -> concat_ws(' ',"
        " w, element_at(words, i + 2), element_at(words, i + 3),"
        " element_at(words, i + 4), element_at(words, i + 5)))"
    )
    per_doc = toks.filter(F.size("words") >= 5).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    probe = per_doc.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    bad = (
        per_doc.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(probe), "gram")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bad), "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )


# Deterministic training-order shuffle — the global permutation a training
# run needs, expressed as the SHARDED shape that scales: a portable hash
# assigns each doc to one of 16 output shards, and position is assigned
# WITHIN the shard (window partitioned by shard — parallel), never by a
# single global row_number (which would collapse to one partition). At
# 100 TB each shard is one writer task; global order is (shard, pos).
@query(
    "shuffle_shards",
    sql="""
    WITH h AS (
        SELECT doc_id, source, n_chars,
               (doc_id * 2654435761) % 4294967296 AS skey
        FROM documents
    )
    SELECT doc_id, source, n_chars,
           skey % 16 AS shard,
           ROW_NUMBER() OVER (PARTITION BY skey % 16
                              ORDER BY skey, doc_id) AS pos_in_shard
    FROM h
    """,
)
def shuffle_shards(spark, sf_dir):
    """Hash-sharded deterministic training shuffle: shard id + in-shard
    position per doc."""
    d = table(spark, sf_dir, "documents")
    skey = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    h = d.select("doc_id", "source", "n_chars", skey.alias("skey"))
    w = Window.partitionBy(F.col("skey") % 16).orderBy("skey", "doc_id")
    return h.select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("skey") % 16).alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )


# REAL WAV audio-metadata decode — widens the real-codec multimodal tier
# (multimodal_decode_png) to audio: deterministic RIFF/WAV payloads are
# synthesized per doc_id, parsed by the dependency-free header walker
# (operators/multimodal.py::parse_wav_header), and the oracle recomputes
# the rate/frames/duration formulas — the driver adjudicates the actual
# parser. Rates are chosen so 1e6/rate is exact in binary (no rounding
# divergence in duration_us).
@query(
    "multimodal_decode_wav",
    sql="""
    SELECT doc_id,
           CAST(44 + (doc_id % 100 + 1) * 2 * (doc_id % 2 + 1) AS BIGINT)
               AS n_bytes,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 32000 ELSE 40000 END AS BIGINT)
               AS sample_rate,
           CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits,
           CAST(doc_id % 100 + 1 AS BIGINT) AS n_frames,
           ROUND((doc_id % 100 + 1) * 1000000.0
                 / (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                    WHEN 2 THEN 32000 ELSE 40000 END), 6)
               AS duration_us
    FROM documents
    """,
)
def multimodal_decode_wav(spark, sf_dir):
    """Real WAV header decode over synthesized PCM payloads (rate/channels/
    frames are known functions of doc_id)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    rates = [8000, 16000, 32000, 40000]

    def payload(i: int) -> bytes:
        rate = rates[i % 4]
        channels = i % 2 + 1
        frames = i % 100 + 1
        block = 2 * channels  # 16-bit PCM
        data = b"\x00" * (frames * block)
        return _wav(1, channels, rate, rate * block, block, 16, data)

    return M.decode_audio_meta(_planted(d, payload))


# IVF + PQ composed (rows-only — both stages are iterative-float trained).
# Completes the published billion-scale ANN stack: IVF bounds candidates,
# PQ bounds bytes per candidate (operators/pq.py::ivfpq_topk).
@query("similarity_ivfpq", sql=None)
def similarity_ivfpq(spark, sf_dir):
    """FAISS-IVFADC-shaped top-5: 16 coarse cells (nprobe=4) over 8x16 PQ
    codes; candidate join carries only 8-byte codes."""
    from corintick_spark.operators.clustering import kmeans_fit
    from corintick_spark.operators.pq import ivfpq_topk, pq_encode, pq_fit

    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    cells = kmeans_fit(e, k=16, iters=5)
    books = pq_fit(e, m=8, k=32, iters=3)
    codes = pq_encode(e, books)
    out = ivfpq_topk(probes, e, cells, books, codes, k=5, nprobe=4)
    # rows-only invariants: non-negative ADC distances ascending in rank +
    # inv_recall — POOLED recall@5 vs the EXACT squared-L2 scan (the
    # metric ADC approximates). Floor 0.15, measured 0.26 (sf0.001) /
    # 0.28 (sf0.01) / 0.50 (edge): recall@5 for 8x32 PQ over near-uniform
    # synthetic embeddings is structurally low (no cluster structure to
    # exploit — tests/test_graph_pq.py documents the same regime) but the
    # floor is still ~300x the 5/n random baseline at sf0.01; a broken
    # codebook/ADC table drops straight to ~random.
    out = _topk_invariants(out, "adc_dist", descending=False, lo=0.0)
    return _with_recall(
        out, _exact_pairs(probes, e, "l2"), k=5, floor=0.15, descending=False
    )


# Mergeable frequent-items sketch, deployed exactly (2-pass Misra-Gries:
# per-partition capacity-200 summaries -> superset candidates -> exact
# broadcast verification; operators/heavyhitters.py). Oracle-checkable
# BECAUSE of the verification pass — the sketch bounds which items can be
# heavy, the second pass makes their counts exact.
@query(
    "text_heavyhitters",
    sql="""
    WITH w AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
            AS item
        FROM documents
    )
    SELECT item, COUNT(*) AS cnt
    FROM w
    GROUP BY item
    HAVING COUNT(*) > (SELECT COUNT(*) FROM w) / 200
    """,
)
def text_heavyhitters(spark, sf_dir):
    """Words with frequency > n/200 (exact counts) via per-partition
    Misra-Gries candidates + broadcast verification — never a
    full-vocabulary shuffle."""
    from corintick_spark.operators.heavyhitters import heavy_hitters

    d = table(spark, sf_dir, "documents")
    words = D.tokenize(d).select(F.explode("words").alias("word"))
    return heavy_hitters(words, "word", k=200)


# Unigram-LM perplexity scoring — the CCNet-style quality filter: docs
# whose tokens are improbable under the corpus language model score high
# (gibberish/noise), low scores mean stereotypical text. avg_nll =
# log2(N) - mean(log2 cnt(w)) per doc. The per-word log terms go through
# the scaled-long trick (round(log2(cnt)*1e6) summed as BIGINT), which
# makes the sum order-independent AND washes out last-ulp log differences
# between engines; the q6 floor quantizes the final float (agg_entropy
# technique). Two shuffles at scale: vocab counts (keyed by word) and the
# tok⋈vocab equi-join — the LM is derived and joined in-plan, never
# driver-held.
@query(
    "text_perplexity",
    sql="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        FROM documents
    ), vocab AS (
        SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
    ), tot AS (
        SELECT COUNT(*) AS n FROM tok
    )
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           FLOOR((log2((SELECT n FROM tot))
                  - CAST(SUM(CAST(round(log2(v.cnt) * 1000000) AS BIGINT))
                         AS DOUBLE) / 1000000 / COUNT(*)) * 1000000) / 1000000
               AS avg_nll
    FROM tok t JOIN vocab v ON t.w = v.w
    GROUP BY t.doc_id
    """,
)
def text_perplexity(spark, sf_dir):
    """Per-doc average negative log2-likelihood under the corpus unigram
    LM (in-plan derived)."""
    from corintick_spark.exact import q6

    d = table(spark, sf_dir, "documents")
    tok = D.tokenize(d).select("doc_id", F.explode("words").alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = tok.agg(F.count("*").alias("n"))
    s = (
        F.sum(F.round(F.log2("cnt") * 1_000_000).cast("bigint")).cast("double")
        / 1_000_000
    )
    return (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "n")
        .agg(F.count("*").alias("n_tokens"), s.alias("s"))
        .select(
            "doc_id",
            "n_tokens",
            q6(F.log2("n") - F.col("s") / F.col("n_tokens")).alias("avg_nll"),
        )
    )


# REAL video-container frame sampling — the third modality's container
# walk made real (FRMS header parse + every-2nd-frame sampling), same
# synthesized-payload adjudication pattern as the PNG/WAV decoders: the
# oracle recomputes which frame indices survive from the doc_id formula.
@query(
    "multimodal_frames",
    sql="""
    SELECT doc_id,
           CAST(f * 2 AS BIGINT) AS frame_idx,
           CAST(64 + doc_id % 32 AS BIGINT) AS frame_bytes
    FROM documents,
         UNNEST(range(0, CAST(FLOOR((doc_id % 7 + 2 + 1) / 2.0) AS BIGINT)))
             t(f)
    """,
)
def multimodal_frames(spark, sf_dir):
    """Every-2nd-frame sample over synthesized FRMS containers
    (n_frames = doc_id%7+2, frame_bytes = 64+doc_id%32)."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        n = i % 7 + 2
        fb = 64 + i % 32
        return (
            b"FRMS"
            + struct.pack("<IHHI", n, 320, 240, fb)
            + b"\x00" * (n * fb)
        )

    return M.sample_container_frames(_planted(d, payload), every_n=2)


# The GRAND composition — a full pretraining-data pipeline as ONE
# declarative plan: quality filter -> benchmark decontamination -> exact
# dedup -> token-budget mixture sampling -> context packing. Every stage
# reuses an individually driver-adjudicated building block
# (text_quality / pipeline_decontaminate / dedup_exact / corpus_mixture /
# pack_sequences); the value of the composition is that Catalyst fuses it:
# the quality filter rides the scan, the contaminated-id set broadcasts
# into an anti-join, dedup is one text-hash shuffle, the mixture rates are
# a |sources|-row broadcast, and packing shares the source partitioning —
# no stage materializes a corpus-sized intermediate.
@query(
    "pipeline_training_mix",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(ws) AS tok,
               unnest(range(1, len(ws) + 1)) AS ord
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS ws
              FROM documents)
    ), five AS (
        SELECT a.doc_id,
               a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok
                     || ' ' || e.tok AS gram
        FROM toks a
        JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
        JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
        JOIN toks d ON d.doc_id = a.doc_id AND d.ord = a.ord + 3
        JOIN toks e ON e.doc_id = a.doc_id AND e.ord = a.ord + 4
    ), u AS (
        SELECT DISTINCT doc_id, gram FROM five
    ), probe AS (
        SELECT DISTINCT gram FROM u WHERE doc_id % 97 = 0
    ), bad AS (
        SELECT DISTINCT u.doc_id FROM u JOIN probe USING (gram)
        WHERE u.doc_id % 97 <> 0
    ), q AS (
        SELECT doc_id, source, text,
               CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
                    AS BIGINT) AS n_words,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the','a','of','to','and','in','is','for',
                               'on','with'))) AS BIGINT) AS n_stop,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    AS BIGINT) AS n_alpha,
               CAST(length(text) AS BIGINT) AS n_chars_calc
        FROM documents
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM bad)
    ), scored AS (
        SELECT doc_id, source, text, n_words
        FROM q
        WHERE n_words >= 10
          AND least(n_words / 100.0, 1.0) * 0.4
              + (n_stop / NULLIF(n_words, 0)) * 0.3
              + (n_alpha / NULLIF(n_chars_calc, 0)) * 0.3 >= 0.4
    ), kept AS (
        SELECT MIN(doc_id) AS doc_id, ANY_VALUE(source) AS source,
               ANY_VALUE(n_words) AS n_words
        FROM scored GROUP BY text
    ), tot AS (
        SELECT source, CAST(SUM(n_words) AS BIGINT) AS src_tokens
        FROM kept GROUP BY source
    ), rate AS (
        SELECT source, LEAST(1.0, (20000.0 / (SELECT COUNT(*) FROM tot))
                                  / src_tokens) AS keep_rate
        FROM tot
    ), sampled AS (
        SELECT k.doc_id, k.source, k.n_words
        FROM kept k JOIN rate r USING (source)
        WHERE ((k.doc_id * 2654435761) % 4294967296) / 4294967296.0
                  < r.keep_rate
    ), p AS (
        SELECT doc_id, source, n_words,
               COALESCE(SUM(n_words) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prefix
        FROM sampled
    )
    SELECT source,
           CAST(FLOOR(prefix / 2048.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS bin_tokens
    FROM p
    GROUP BY source, CAST(FLOOR(prefix / 2048.0) AS BIGINT)
    """,
)
def pipeline_training_mix(spark, sf_dir):
    """Quality -> decontaminate -> dedup -> mixture-sample -> 2048-token
    pack, one fused plan."""
    d = table(spark, sf_dir, "documents")

    # decontamination set (broadcast anti-join side)
    toks = D.tokenize(d)
    grams = F.expr(
        "transform(slice(words, 1, size(words) - 4), (w, i) -> concat_ws(' ',"
        " w, element_at(words, i + 2), element_at(words, i + 3),"
        " element_at(words, i + 4), element_at(words, i + 5)))"
    )
    per_doc = toks.filter(F.size("words") >= 5).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    probe = per_doc.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    bad = (
        per_doc.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(probe), "gram")
        .select("doc_id")
        .distinct()
    )

    scored = (
        T.quality_features(d.filter(F.col("doc_id") % 97 != 0))
        .join(F.broadcast(bad), "doc_id", "left_anti")
        .filter((F.col("n_words") >= 10) & (F.col("quality_score") >= 0.4))
    )
    kept = scored.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.any_value("source").alias("source"),
        F.any_value("n_words").alias("n_words"),
    )
    tot = kept.groupBy("source").agg(
        F.sum("n_words").cast("bigint").alias("src_tokens")
    )
    nsrc = tot.agg(F.count("*").alias("nsrc"))
    rate = tot.crossJoin(F.broadcast(nsrc)).select(
        "source",
        F.least(
            F.lit(1.0), (F.lit(20000.0) / F.col("nsrc")) / F.col("src_tokens")
        ).alias("keep_rate"),
    )
    frac = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    sampled = (
        kept.join(F.broadcast(rate), "source")
        .filter(frac < F.col("keep_rate"))
        .select("doc_id", "source", "n_words")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = sampled.withColumn(
        "prefix", F.coalesce(F.sum("n_words").over(w), F.lit(0))
    )
    return p.groupBy(
        "source", F.floor(F.col("prefix") / 2048.0).cast("bigint").alias("bin_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("bin_tokens"),
    )


# Survivorship policy over near-duplicate clusters: dedup_clusters keeps
# the min-id doc; real curation keeps the RICHEST copy. One row per
# cluster: the survivor under (longest text, then smallest id), member
# count, and the chars discarded by deduplication. The cluster fixpoint
# reuses dup_clusters (alternating min-label propagation, O(log n)
# rounds); the ranking is one tiny window over the cluster table — at
# 100 TB the cluster table is |docs| rows of two ids, and the documents
# join for n_chars is key-partitioned.
@query(
    "dedup_survivors",
    sql="""
    WITH RECURSIVE w AS (
        SELECT doc_id, source,
               list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS wset
        FROM documents
    ), p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.wset, b.wset))
                  / len(list_distinct(a.wset || b.wset)) >= 0.5
    ), e AS (
        SELECT a_id AS u, b_id AS v FROM p
        UNION
        SELECT b_id AS u, a_id AS v FROM p
    ), reach(node, r) AS (
        SELECT u, v FROM e
        UNION
        SELECT u, u FROM e
        UNION
        SELECT reach.node, e.v FROM reach, e WHERE reach.r = e.u
    ), comp AS (
        SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    ), members AS (
        SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id, d.n_chars
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), ranked AS (
        SELECT cluster_id, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
               CAST(SUM(n_chars) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS total_chars
        FROM members
    )
    SELECT cluster_id, doc_id AS survivor_doc_id, n_members,
           total_chars - n_chars AS chars_discarded
    FROM ranked WHERE rk = 1
    ORDER BY cluster_id
    """,
)
def dedup_survivors(spark, sf_dir):
    """One survivor per near-dup cluster (longest text wins, id breaks
    ties) with member count and discarded volume."""
    from corintick_spark.operators.dup_clusters import dup_clusters

    d = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, block_col="source", threshold=0.5, bucket_pair_max=64
    ).select("a_id", "b_id")  # scale guard — see dedup_clusters
    members = dup_clusters(d, pairs).join(
        d.select("doc_id", "n_chars"), "doc_id"
    )
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    ranked = members.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wc).alias("n_members"),
        F.sum("n_chars").over(wc).alias("total_chars"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            "n_members",
            (F.col("total_chars") - F.col("n_chars")).alias("chars_discarded"),
        )
        .orderBy("cluster_id")
    )


# Exact small-k edit-distance join WITHOUT a blocking key — the
# positional-q-gram count filter (operators/dedup.py::edit_pairs_qgram;
# same lossless-pruning family as the Jaccard prefix filter). The oracle
# is the naive quadratic join, so agreement proves the filter exact; the
# operator's own equivalence battery (repetitive text, short strings,
# sentinel collisions, random tiny-alphabet differential) lives in
# tests/test_editjoin.py.
@query(
    "dedup_editjoin",
    sql="""
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
                AS BIGINT) AS edit_dist
    FROM documents a
    JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 = 0
      AND levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 2
    """,
)
def dedup_editjoin(spark, sf_dir):
    """All pairs within edit distance 2 on 40-char prefixes, via PassJoin
    segment indexing (no blocking key, no quadratic candidate stage).

    Switched from edit_pairs_qgram in round 6: on the replicated sf10
    corpus the 3-gram probing prefix produced 1.8e9 candidates for 2,897
    true pairs (gram frequencies inflate wherever word cores repeat), vs
    PassJoin's 13-char verbatim-segment candidates — measured 1194s ->
    13s at sf10, identical output, both pinned against the naive join in
    tests/test_editjoin.py."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return D.edit_pairs_passjoin(d, k=2, prefix_len=40)


# BM25 retrieval scoring — the inverted-index ranking function every
# search/retrieval pipeline uses (and RAG corpora are scored with). Same
# distributed shape as text_tfidf: one explode → tf (per doc-term) and df
# (per term) aggregations; df and the 2-row corpus stats (N, avgdl) are
# vocabulary-/constant-sized broadcasts, so the document side never
# shuffles twice. Query terms enter as a 3-row broadcast; the score is
# the standard Robertson/Okapi formula (k1=1.2, b=0.75) rounded to 6dp
# for cross-engine float identity (LN agrees between engines — same
# precedent as text_tfidf/agg_entropy).
@query(
    "text_bm25",
    sql="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x != ''))
                   AS word
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), q(word) AS (VALUES ('spark'), ('shuffle'), ('broadcast')),
    tf AS (
        SELECT t.doc_id, t.word, COUNT(*) AS tf
        FROM tok t JOIN q ON t.word = q.word
        GROUP BY t.doc_id, t.word
    ), df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE word IN (SELECT word FROM q)
        GROUP BY word
    ), scored AS (
        SELECT tf.doc_id,
               SUM(
                 LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
               ) AS score
        FROM tf
        JOIN df ON tf.word = df.word
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(score, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25(spark, sf_dir):
    """Top-20 documents by BM25 for the query {spark, shuffle, broadcast}."""
    d = table(spark, sf_dir, "documents")
    tok = D.tokenize(d).select("doc_id", F.explode("words").alias("word"))
    q = spark.createDataFrame(
        [("spark",), ("shuffle",), ("broadcast",)], "word string"
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tok.join(F.broadcast(q), "word")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = (
        tok.join(F.broadcast(q), "word")
        .groupBy("word")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + 1.2 * (
        0.25 + 0.75 * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * 2.2 / denom).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# REAL image resize (operators/multimodal.py::resize_images): decode the
# synthesized PNGs (same planted content as multimodal_decode_px), then
# nearest-neighbor resample to 4x4 with the floor sampling grid
# src = out_idx * in_dim // out_dim. The oracle recomputes the RESIZED
# buffer symbolically — output position k' maps to source pixel
# ((k'//12)*h//4, ((k'%12)//3)*w//4, k'%3), whose planted value is
# (i*7 + src_k) % 256 — so rz_wsum adjudicates the exact sampling grid
# and output layout, not just aggregate brightness.
@query(
    "multimodal_resize",
    sql="""
    SELECT doc_id,
           CAST(4 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           CAST(list_sum(list_transform(range(0, 48), k ->
               (doc_id * 7
                + (((k // 12) * (doc_id % 3 + 2) // 4) * (doc_id % 5 + 2)
                   + ((k % 12) // 3) * (doc_id % 5 + 2) // 4) * 3
                + (k % 3)) % 256)) AS BIGINT) AS rz_sum,
           CAST(list_sum(list_transform(range(0, 48), k -> k *
               ((doc_id * 7
                 + (((k // 12) * (doc_id % 3 + 2) // 4) * (doc_id % 5 + 2)
                    + ((k % 12) // 3) * (doc_id % 5 + 2) // 4) * 3
                 + (k % 3)) % 256))) AS BIGINT) AS rz_wsum,
           ROUND(list_sum(list_transform(range(0, 48), k ->
               (doc_id * 7
                + (((k // 12) * (doc_id % 3 + 2) // 4) * (doc_id % 5 + 2)
                   + ((k % 12) // 3) * (doc_id % 5 + 2) // 4) * 3
                + (k % 3)) % 256)) / 48.0, 6) AS rz_mean
    FROM documents
    """,
)
def multimodal_resize(spark, sf_dir):
    """Real nearest-neighbor 4x4 resize of decoded PNG pixels."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 5 + 2, i % 3 + 2
        px = bytes((i * 7 + k) % 256 for k in range(w * h * 3))
        return M.encode_png(
            w, h, px, 3, filter_for_row=lambda y: (i + y) % 5
        )

    return M.resize_images(_planted(d, payload), out_w=4, out_h=4)


# Exact duplicated-substring detection (Lee et al. 2022's training-data
# dedup, re-expressed shuffle-bounded — operators/dedup.py::
# duplicated_window_stats): a position is duplicated when its 30-char
# window occurs >= 2 times ANYWHERE in the corpus, alignment-free. The
# oracle enumerates every window with generate_series and recounts — the
# Spark side's hash-candidates + exact-text verification must agree
# exactly (an xxhash64 collision adds a candidate, never a result row).
@query(
    "dedup_substring",
    sql="""
    WITH grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i, substr(text, CAST(i AS INT), 30) AS g
      FROM (
        SELECT doc_id, text, unnest(range(1, length(text) - 30 + 2)) AS i
        FROM documents
        WHERE length(text) >= 30
      )
    ),
    dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ),
    hits AS (
      SELECT doc_id, COUNT(*) AS dup_windows
      FROM grams WHERE g IN (SELECT g FROM dup)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(d.text) - 30 + 1 AS BIGINT) AS n_windows,
           h.dup_windows,
           CAST(h.dup_windows * 1000000 // (length(d.text) - 30 + 1) AS BIGINT)
             AS dup_ppm
    FROM hits h JOIN documents d USING (doc_id)
    """,
)
def dedup_substring(spark, sf_dir):
    """Per-doc duplicated-window stats: corpus-wide exact 30-char
    substring duplication (boilerplate spans), hash-candidate +
    text-verified."""
    d = table(spark, sf_dir, "documents")
    return D.duplicated_window_stats(d, min_len=30)


# Span-level duplicated-substring accounting (operators/dedup.py::
# duplicated_span_stats): merge each doc's duplicated 30-char windows into
# maximal spans — the unit a cleaning pass cuts — via the gaps-and-islands
# fold (window start past the running max end opens a new span). The
# oracle replays the identical fold with SQL window functions over the
# exhaustively recounted duplicated positions.
_SPANS_SQL = """
    WITH grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i, substr(text, CAST(i AS INT), 30) AS g
      FROM (
        SELECT doc_id, text, unnest(range(1, length(text) - 30 + 2)) AS i
        FROM documents
        WHERE length(text) >= 30
      )
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    pos AS (
      SELECT doc_id, i, i + 30 AS e
      FROM grams WHERE g IN (SELECT g FROM dup)
    ),
    flagged AS (
      SELECT doc_id, i, e,
             CASE WHEN MAX(e) OVER w IS NULL OR i > MAX(e) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM pos
      WINDOW w AS (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    islands AS (
      SELECT doc_id, i, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, island, MIN(i) AS s, MAX(e) AS e2
      FROM islands GROUP BY doc_id, island
    )
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(e2 - s) AS BIGINT) AS dup_chars,
           CAST(MAX(e2 - s) AS BIGINT) AS max_span
    FROM spans GROUP BY doc_id
    """


@query("dedup_substring_spans", sql=_SPANS_SQL)
def dedup_substring_spans(spark, sf_dir):
    """Maximal duplicated spans per doc: count, covered chars, longest."""
    d = table(spark, sf_dir, "documents")
    return D.duplicated_span_stats(d, min_len=30)


# The DEFAULT substring-dedup path (verdict r07 item 2, operators/
# dedup.py::duplicated_span_stats_auto): size-routed — exact tier below
# EXACT_SUBSTRING_MAX_WINDOWS corpus windows, winnowing scale tier above
# (precision 1, recall >= 0.95, 6.0x/10x at sf10 vs the exact tier's
# ~11x). At the driver's sf0.01 the corpus sits far below the threshold,
# so the router provably takes the exact branch and the exhaustive spans
# oracle adjudicates it hash-exact; the winnow branch is adjudicated by
# dedup_substring_winnow's adversarial recall/precision invariants and
# the routing itself by a unit test forcing both branches.
@query("dedup_substring_auto", sql=_SPANS_SQL)
def dedup_substring_auto(spark, sf_dir):
    """Size-routed duplicated-span dedup: exact below the window
    threshold, winnowing scale tier above."""
    d = table(spark, sf_dir, "documents")
    return D.duplicated_span_stats_auto(d, min_len=30, w=8)


# G.711 companded-audio decode (operators/multimodal.py::ulaw_expand/
# alaw_expand wired into decode_wav_pcm for WAV format tags 7/6): per-doc
# telephony-audio payloads alternate mu-law and A-law; the oracle
# recomputes EVERY expanded sample symbolically from the CCITT integer
# formulas (complement/xor-0x55, mantissa shift, segment scaling, bias) —
# wrong if the polarity, bias, or segment arithmetic is off by anything.
@query(
    "multimodal_decode_g711",
    sql="""
    WITH s AS (
      SELECT doc_id,
             doc_id % 40 + 1 AS n,
             list_transform(range(0, (doc_id % 40 + 1)::INT),
                            k -> (doc_id * 13 + k * 11) % 256) AS bytes
      FROM documents
    ), e AS (
      SELECT doc_id, n,
             CASE WHEN doc_id % 2 = 1 THEN
               list_transform(bytes, u -> CASE
                 WHEN ((255 - u) & 128) != 0
                 THEN 132 - (((255 - u) % 16) * 8 + 132)
                          * (1 << (((255 - u) // 16) % 8))
                 ELSE (((255 - u) % 16) * 8 + 132)
                          * (1 << (((255 - u) // 16) % 8)) - 132 END)
             ELSE
               list_transform(bytes, a -> CASE
                 WHEN (xor(a, 85) & 128) != 0
                 THEN CASE WHEN (xor(a, 85) // 16) % 8 = 0
                           THEN (xor(a, 85) % 16) * 16 + 8
                           WHEN (xor(a, 85) // 16) % 8 = 1
                           THEN (xor(a, 85) % 16) * 16 + 264
                           ELSE ((xor(a, 85) % 16) * 16 + 264)
                                * (1 << ((xor(a, 85) // 16) % 8 - 1)) END
                 ELSE -(CASE WHEN (xor(a, 85) // 16) % 8 = 0
                             THEN (xor(a, 85) % 16) * 16 + 8
                             WHEN (xor(a, 85) // 16) % 8 = 1
                             THEN (xor(a, 85) % 16) * 16 + 264
                             ELSE ((xor(a, 85) % 16) * 16 + 264)
                                  * (1 << ((xor(a, 85) // 16) % 8 - 1)) END)
                 END)
             END AS v
      FROM s
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(v) AS BIGINT) AS sample_sum,
           ROUND(list_sum(v) / (1.0 * n), 6) AS sample_mean,
           CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT)
               AS peak_abs,
           ROUND(SQRT(list_sum(list_transform(v, x -> 1.0 * x * x)) / n), 6)
               AS rms
    FROM e
    """,
)
def multimodal_decode_g711(spark, sf_dir):
    """Real G.711 mu-law/A-law expansion over synthesized telephony WAVs
    (format tags 7/6), per-doc loudness features via decode_audio_samples."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        n = i % 40 + 1
        tag = 7 if i % 2 == 1 else 6  # mu-law odd, A-law even
        data = bytes((i * 13 + k * 11) % 256 for k in range(n))
        return _wav(tag, 1, 8000, 8000, 1, 8, data)

    return M.decode_audio_samples(_planted(d, payload))


# Winnowing anchors — the documented shuffle-divider tier of substring
# dedup (operators/dedup.py::winnow_anchor_stats; Schleimer et al. 2003).
# Content-defined anchor selection has no SQL oracle (xxhash64 argmins),
# so the driver's rows-only check adjudicates the self-describing
# invariants: the winnowing DENSITY guarantee (>= 1 anchor per w
# consecutive windows, i.e. n_anchors >= min_anchors) and trivial upper
# bound, in EVERY row. The alignment-free locality guarantee (shared
# spans select identical anchors) is pinned by a planted-span unit test.
@query("dedup_winnow", sql=None)
def dedup_winnow(spark, sf_dir):
    """Per-doc winnowing anchor stats (L=30, w=8) with the density
    guarantee as inv_ok."""
    d = table(spark, sf_dir, "documents")
    s = D.winnow_anchor_stats(d, min_len=30, w=8)
    return s.withColumn(
        "inv_ok",
        (F.col("n_anchors") >= F.col("min_anchors"))
        & (F.col("n_anchors") <= F.col("n_windows")),
    )


# Winnow-tier substring dedup END-TO-END (verdict r06 item 4 — operators/
# dedup.py::duplicated_span_stats_winnow): anchor-sampled candidates +
# span recovery, adjudicated ADVERSARIALLY against the exact tier the way
# the ANN queries adjudicate against the exact scan. Per affected doc the
# row carries the exact span cover and the winnow-recovered cover;
# inv_ok requires (a) PRECISION 1 row-by-row — recovered cover never
# exceeds the exact cover (anchors are text-verified, so a false span is
# impossible unless the recovery fold is broken) — and (b) pooled recall
# >= 0.8 (measured 0.97/0.95/1.00 at sf0.001/sf0.01/edge; the slack is
# spans shorter than L + w - 1, the documented sampling trade).
@query("dedup_substring_winnow", sql=None)
def dedup_substring_winnow(spark, sf_dir):
    """Winnowing scale tier of duplicated-span dedup vs the exact tier:
    per-doc covers with precision/recall invariants."""
    d = table(spark, sf_dir, "documents")
    exact = D.duplicated_span_stats(d, min_len=30).select(
        "doc_id", F.col("dup_chars").alias("exact_chars")
    )
    win = D.duplicated_span_stats_winnow(d, min_len=30, w=8).select(
        "doc_id", F.col("dup_chars").alias("winnow_chars")
    )
    # FULL outer (ADVICE r7): a winnow-only doc — spans recovered where
    # the exact tier found none — is exactly the precision-1 violation
    # inv_ok exists to flag; a left join would silently drop it. With
    # exact_chars coalesced to 0, such a doc fails winnow <= exact.
    j = exact.join(win, "doc_id", "full").select(
        "doc_id",
        F.coalesce("exact_chars", F.lit(0)).alias("exact_chars"),
        F.coalesce("winnow_chars", F.lit(0)).alias("winnow_chars"),
    )
    pooled = j.agg(
        (
            F.sum("winnow_chars").cast("double")
            / F.sum("exact_chars").cast("double")
        ).alias("inv_recall")
    )
    return (
        j.crossJoin(F.broadcast(pooled))  # 1-row pooled-recall aggregate
        .withColumn(
            "inv_ok",
            (F.col("winnow_chars") <= F.col("exact_chars"))
            & (F.col("inv_recall") >= F.lit(D.WINNOW_POOLED_RECALL_FLOOR)),
        )
        .select(
            "doc_id", "exact_chars", "winnow_chars",
            F.round("inv_recall", 6).alias("inv_recall"), "inv_ok",
        )
    )


# 16-BIT PNG decode (round 8 — verdict r07 item 5): bit depth 16 flows
# through the same five-filter un-filter path with the spec's one
# subtlety, a bytes-per-pixel offset of channels*2. Planted content:
# sample p of doc i is (i*257 + p*1031) % 65536, stored big-endian; the
# oracle recomputes BOTH bytes of every sample symbolically (hi = v div
# 256, lo = v % 256), so a wrong byte order, a filter offset of 1, or
# any truncation to 8 bits breaks px_wsum. Filters rotate per row.
@query(
    "multimodal_decode_png16",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 5 + 3 AS w, doc_id % 3 + 2 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 2)::INT),
                   k -> CASE WHEN k % 2 = 0
                        THEN ((doc_id * 257 + (k // 2) * 1031) % 65536) // 256
                        ELSE ((doc_id * 257 + (k // 2) * 1031) % 65536) % 256
                        END) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 2)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 2.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_png16(spark, sf_dir):
    """16-bit grayscale PNG decode (full precision, big-endian sample
    stream) through the format-dispatched decode_image_pixels path."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 5 + 3, i % 3 + 2
        be = b"".join(
            ((i * 257 + p * 1031) % 65536).to_bytes(2, "big")
            for p in range(w * h)
        )
        return M.encode_png(
            w, h, be, channels=1,
            filter_for_row=lambda y: y % 5, depth=16,
        )

    return M.decode_image_pixels(_planted(d, payload))


# ANIMATED GIF decode (round 8 — the round-7 codec tier's highest-
# frequency honest stub): real multi-frame compositing over the logical
# screen — sub-rectangle placement, GCE transparency pass-through,
# disposal 1 (leave) and 2 (restore rect to background). Three planted
# frames per doc: full-screen base, a transparent-holed inner rect that
# disposal-2 erases, then a two-row top banner painted AFTER the erase —
# the oracle recomputes every byte of all three composited canvases
# symbolically, so wrong disposal ordering, transparency, placement, or
# frame order each break fr_wsum. (Disposal 3 and interlaced frames are
# exercised by the unit differential in tests/test_multimodal_jpeg.py.)
@query(
    "multimodal_decode_gif_anim",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 4 + 3 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (3 * w * h * 3)::INT), k ->
                 (CASE
                   -- frame index f = k // (w*h*3); pixel p; channel c
                   WHEN k // (w * h * 3) = 0
                   THEN (doc_id + (k % (w * h * 3)) // 3) % 8
                   WHEN k // (w * h * 3) = 1
                   THEN CASE
                     WHEN ((k % (w * h * 3)) // 3) % w BETWEEN 1 AND w - 2
                          AND ((k % (w * h * 3)) // 3) // w BETWEEN 1 AND h - 2
                     THEN CASE
                       WHEN (doc_id * 5
                             + (((k % (w * h * 3)) // 3) // w - 1) * (w - 2)
                             + (((k % (w * h * 3)) // 3) % w - 1)) % 8
                            = doc_id % 8
                       THEN (doc_id + (k % (w * h * 3)) // 3) % 8
                       ELSE (doc_id * 5
                             + (((k % (w * h * 3)) // 3) // w - 1) * (w - 2)
                             + (((k % (w * h * 3)) // 3) % w - 1)) % 8
                       END
                     ELSE (doc_id + (k % (w * h * 3)) // 3) % 8
                     END
                   ELSE CASE
                     WHEN ((k % (w * h * 3)) // 3) // w < 2
                     THEN (doc_id * 11 + (k % (w * h * 3)) // 3) % 8
                     WHEN ((k % (w * h * 3)) // 3) % w BETWEEN 1 AND w - 2
                          AND ((k % (w * h * 3)) // 3) // w BETWEEN 1 AND h - 2
                     THEN 0
                     ELSE CASE
                       WHEN ((k % (w * h * 3)) // 3) % w BETWEEN 1 AND w - 2
                            AND ((k % (w * h * 3)) // 3) // w
                                BETWEEN 1 AND h - 2
                            AND (doc_id * 5
                                 + (((k % (w * h * 3)) // 3) // w - 1) * (w - 2)
                                 + (((k % (w * h * 3)) // 3) % w - 1)) % 8
                                != doc_id % 8
                       THEN (doc_id * 5
                             + (((k % (w * h * 3)) // 3) // w - 1) * (w - 2)
                             + (((k % (w * h * 3)) // 3) % w - 1)) % 8
                       ELSE (doc_id + (k % (w * h * 3)) // 3) % 8
                       END
                     END
                  END) * 30 + k % 3) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_frames,
           CAST(list_sum(v) AS BIGINT) AS fr_sum,
           CAST(list_sum(list_transform(range(0, (3 * w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS fr_wsum,
           ROUND(list_sum(v) / (3 * w * h * 3.0), 6) AS fr_mean
    FROM px
    """,
)
def multimodal_decode_gif_anim(spark, sf_dir):
    """Animated-GIF multi-frame compositing (transparency + disposal),
    adjudicated against a symbolic replay of every composited canvas."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    palette = bytes(j * 30 + c for j in range(8) for c in range(3))

    def payload(i: int) -> bytes:
        w, h = i % 5 + 4, i % 4 + 3
        f0 = dict(
            left=0, top=0, iw=w, ih=h, disposal=1, transparent=None,
            indices=[(i + p) % 8 for p in range(w * h)],
        )
        f1 = dict(
            left=1, top=1, iw=w - 2, ih=h - 2, disposal=2,
            transparent=i % 8,
            indices=[(i * 5 + q) % 8 for q in range((w - 2) * (h - 2))],
        )
        f2 = dict(
            left=0, top=0, iw=w, ih=2, disposal=0, transparent=None,
            indices=[(i * 11 + r) % 8 for r in range(w * 2)],
        )
        return M.encode_gif_anim(w, h, [f0, f1, f2], palette, bg=0)

    return M.decode_gif_anim_stats(_planted(d, payload))


# Adam7 interlaced PNG (round 8): seven independently-filtered passes
# reassembled to the natural raster — sizes rotate through shapes where
# some passes are EMPTY (the spec's edge the naive implementation gets
# wrong). Planted byte k of doc i is (i*7 + k*13) % 256; the oracle
# recomputes every byte of the deinterlaced raster, so pass order,
# scatter offsets, or per-pass filter state leaking across passes all
# break px_wsum.
@query(
    "multimodal_decode_png_adam7",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 3 AS w, doc_id % 5 + 2 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> (doc_id * 7 + k * 13) % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_png_adam7(spark, sf_dir):
    """Adam7 interlaced RGB PNG decode (filter rotation across all seven
    passes) through the format-dispatched decode_image_pixels path."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 6 + 3, i % 5 + 2
        px = bytes((i * 7 + k * 13) % 256 for k in range(w * h * 3))
        return M.encode_png(
            w, h, px, channels=3,
            filter_for_row=lambda y: y % 5, interlace=True,
        )

    return M.decode_image_pixels(_planted(d, payload))


# Palette transparency (round 8): a tRNS chunk turns palette expansion
# RGBA — per-entry alpha, entries past the chunk length opaque (255).
# Planted: index (i*7 + p*3) % 8 into the round-7 palette; tRNS covers
# entries 0-5 with alpha (j*37) % 256, entries 6-7 default opaque. The
# oracle recomputes all four channels of every pixel.
@query(
    "multimodal_decode_png_trns",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 4 AS w, doc_id % 4 + 3 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 4)::INT),
                   k -> CASE k % 4
                        WHEN 0 THEN ((doc_id * 7 + (k // 4) * 3) % 8) * 17 % 256
                        WHEN 1 THEN ((doc_id * 7 + (k // 4) * 3) % 8) * 31 % 256
                        WHEN 2 THEN ((doc_id * 7 + (k // 4) * 3) % 8) * 53 % 256
                        ELSE CASE
                          WHEN (doc_id * 7 + (k // 4) * 3) % 8 < 6
                          THEN ((doc_id * 7 + (k // 4) * 3) % 8) * 37 % 256
                          ELSE 255 END
                        END) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(4 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 4)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 4.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_png_trns(spark, sf_dir):
    """Palette-PNG with tRNS transparency: RGBA expansion with default-
    opaque entries past the chunk length, filters rotating."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    palette = bytes(
        v for j in range(8)
        for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )
    trns = bytes((j * 37) % 256 for j in range(6))

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        idx = bytes((i * 7 + p * 3) % 8 for p in range(w * h))
        return M.encode_png_palette(
            w, h, idx, palette,
            filter_for_row=lambda y: y % 5, trns=trns,
        )

    return M.decode_image_pixels(_planted(d, payload))


# 16-bit BMP (round 8): X1R5G5B5 (BI_RGB) on even docs, R5G6B5
# (BI_BITFIELDS standard masks) on odd — components upscale by bit
# replication, the exact integer formula the oracle replays per channel.
@query(
    "multimodal_decode_bmp16",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 5 + 3 AS w, doc_id % 3 + 2 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT), k ->
                 CASE WHEN doc_id % 2 = 0 THEN
                   -- 555: v masked to 15 bits
                   CASE k % 3
                     WHEN 0 THEN (((doc_id * 257 + (k // 3) * 1031) % 32768) // 1024 % 32) * 8
                                 + (((doc_id * 257 + (k // 3) * 1031) % 32768) // 1024 % 32) // 4
                     WHEN 1 THEN (((doc_id * 257 + (k // 3) * 1031) % 32768) // 32 % 32) * 8
                                 + (((doc_id * 257 + (k // 3) * 1031) % 32768) // 32 % 32) // 4
                     ELSE (((doc_id * 257 + (k // 3) * 1031) % 32768) % 32) * 8
                          + (((doc_id * 257 + (k // 3) * 1031) % 32768) % 32) // 4
                   END
                 ELSE
                   -- 565
                   CASE k % 3
                     WHEN 0 THEN (((doc_id * 257 + (k // 3) * 1031) % 65536) // 2048 % 32) * 8
                                 + (((doc_id * 257 + (k // 3) * 1031) % 65536) // 2048 % 32) // 4
                     WHEN 1 THEN (((doc_id * 257 + (k // 3) * 1031) % 65536) // 32 % 64) * 4
                                 + (((doc_id * 257 + (k // 3) * 1031) % 65536) // 32 % 64) // 16
                     ELSE (((doc_id * 257 + (k // 3) * 1031) % 65536) % 32) * 8
                          + (((doc_id * 257 + (k // 3) * 1031) % 65536) % 32) // 4
                   END
                 END) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_bmp16(spark, sf_dir):
    """16-bit BMP decode, both standard layouts (555 BI_RGB / 565
    BI_BITFIELDS) with bit-replication upscaling."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 5 + 3, i % 3 + 2
        vals = [
            (i * 257 + p * 1031) % 65536 for p in range(w * h)
        ]
        if i % 2 == 0:
            vals = [v & 0x7FFF for v in vals]
            return M.encode_bmp16(w, h, vals, "555")
        else:
            return M.encode_bmp16(w, h, vals, "565")

    return M.decode_image_pixels(_planted(d, payload))


# 1/4-bit palette BMPs (round 8): MSB-first sub-byte packing with 32-bit
# row alignment — monochrome on odd docs, 16-color on even; widths rotate
# through shapes that split pixels across byte boundaries.
@query(
    "multimodal_decode_bmp_lowbit",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 7 + 3 AS w, doc_id % 3 + 2 AS h,
               CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 16 END AS ncol
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> (((doc_id + k // 3) % ncol) * 19 + (k % 3) * 7) % 256)
                   AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_bmp_lowbit(spark, sf_dir):
    """1-bit and 4-bit palette BMP decode (MSB-first packing, aligned
    rows), alternating by doc parity."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 7 + 3, i % 3 + 2
        bpp = 1 if i % 2 == 1 else 4
        ncol = 2 if bpp == 1 else 16
        pal = bytes(
            (j * 19 + c * 7) % 256
            for j in range(ncol) for c in range(3)
        )
        idx = bytes((i + p) % ncol for p in range(w * h))
        return M.encode_bmp_lowbit(
            w, h, idx, pal, bpp, top_down=bool(i % 3 == 0)
        )

    return M.decode_image_pixels(_planted(d, payload))


# RLE4 BMP (round 8): alternating-nibble encoded runs plus word-aligned
# absolute mode rows (rotated in per doc), through the 16-color palette.
@query(
    "multimodal_decode_bmp_rle4",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 4 AS w, doc_id % 4 + 3 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> ((((doc_id + (k // 3) // 2) % 16) * 3 + k % 3) * 19)
                        % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_bmp_rle4(spark, sf_dir):
    """RLE4 BMP decode (nibble runs + absolute escapes) through the
    format-dispatched decode_image_pixels path."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    palette = bytes((j * 19) % 256 for j in range(16 * 3))

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        idx = bytes((i + p // 2) % 16 for p in range(w * h))
        absrows = {y for y in range(h) if (i + y) % 2 == 0}
        return M.encode_bmp_rle4(w, h, idx, palette, absolute_rows=absrows)

    return M.decode_image_pixels(_planted(d, payload))


# Sub-byte palette PNG (round 8): depths 1/2/4 rotate by doc (with
# sequential vs Adam7 alternating) — the filter stream is the PACKED
# byte stream (offset unit 1 byte per spec) and indices unpack MSB-first
# per scanline. Planted: index (i + p) % 2^depth into the standard test
# palette; the oracle recomputes every expanded byte.
@query(
    "multimodal_decode_png_lowbit",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 4 AS w, doc_id % 4 + 3 AS h,
               CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END AS ncol
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT),
                   k -> CASE k % 3
                        WHEN 0 THEN ((doc_id + k // 3) % ncol) * 17 % 256
                        WHEN 1 THEN ((doc_id + k // 3) % ncol) * 31 % 256
                        ELSE ((doc_id + k // 3) % ncol) * 53 % 256
                        END) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_png_lowbit(spark, sf_dir):
    """Sub-byte palette PNG decode (1/2/4-bit packed index scanlines,
    sequential and Adam7 alternating)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    pal16 = bytes(
        v for j in range(16)
        for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        depth = {0: 1, 1: 2, 2: 4}[i % 3]
        ncol = 1 << depth
        idx = bytes((i + p) % ncol for p in range(w * h))
        return M.encode_png_palette(
            w, h, idx, pal16[: 3 * ncol],
            filter_for_row=lambda y: y % 5,
            interlace=bool(i % 2), depth=depth,
        )

    return M.decode_image_pixels(_planted(d, payload))


# IMA ADPCM decode (round 8, WAV format tag 17): the quantizer is a
# sequential state machine (predictor + step index, 89-entry step
# table), so the oracle replays it with a RECURSIVE CTE — a genuinely
# different implementation (SQL row-per-step fixpoint vs the Python
# nibble loop) computing the identical per-sample values. One block per
# doc: header predictor (the block's sample 0) + packed nibbles, LOW
# nibble first. Output is one row PER SAMPLE — the strongest possible
# adjudication of a stateful codec.
@query(
    "multimodal_decode_adpcm",
    sql="""
    WITH RECURSIVE s AS (
        SELECT doc_id, doc_id % 12 + 3 AS nbytes FROM documents
    ), st AS (
        SELECT doc_id, nbytes, 0 AS pos,
               CAST((doc_id * 73) % 4096 - 2048 AS INT) AS pred,
               CAST(doc_id % 89 AS INT) AS idx
        FROM s
        UNION ALL
        SELECT doc_id, nbytes, pos + 1,
               CAST(GREATEST(-32768, LEAST(32767,
                 pred + CASE WHEN nib >= 8 THEN -1 ELSE 1 END *
                   (stp // 8
                    + CASE WHEN nib % 2 = 1 THEN stp // 4 ELSE 0 END
                    + CASE WHEN (nib // 2) % 2 = 1 THEN stp // 2 ELSE 0 END
                    + CASE WHEN (nib // 4) % 2 = 1 THEN stp ELSE 0 END)))
                 AS INT),
               CAST(GREATEST(0, LEAST(88,
                 idx + CASE nib % 8
                       WHEN 4 THEN 2 WHEN 5 THEN 4
                       WHEN 6 THEN 6 WHEN 7 THEN 8
                       ELSE -1 END)) AS INT)
        FROM (
            SELECT doc_id, nbytes, pos, pred, idx,
                   CASE WHEN pos % 2 = 0
                        THEN ((doc_id * 13 + (pos // 2) * 7) % 256) % 16
                        ELSE ((doc_id * 13 + (pos // 2) * 7) % 256) // 16
                   END AS nib,
                   ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
                     41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,
                     173,190,209,230,253,279,307,337,371,408,449,494,544,
                     598,658,724,796,876,963,1060,1166,1282,1411,1552,
                     1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
                     4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
                     11487,12635,13899,15289,16818,18500,20350,22385,
                     24623,27086,29794,32767])[idx + 1] AS stp
            FROM st WHERE pos < nbytes * 2
        )
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           CAST(pred AS BIGINT) AS sample
    FROM st
    """,
)
def multimodal_decode_adpcm(spark, sf_dir):
    """Mono IMA ADPCM WAV decode, one output row per sample (header
    predictor = sample 0), adjudicated against a recursive-CTE replay of
    the quantizer state machine."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def samples(i: int):
        nbytes = i % 12 + 3
        data = struct.pack("<hBB", (i * 73) % 4096 - 2048, i % 89, 0)
        data += bytes((i * 13 + k * 7) % 256 for k in range(nbytes))
        wav = _wav(0x11, 1, 8000, 8000, 4 + nbytes, 4, data)
        return list(enumerate(M.decode_wav_pcm(wav)[2]))

    return _per_doc(d, samples, "doc_id long, pos long, sample long")


# IEEE float64 WAV decode (round 8): dyadic planted values (m/256 with
# |m| <= 1023) make every double operation exact, so the symmetric
# round-half-away scaling is bit-reproducible in SQL.
@query(
    "multimodal_decode_f64",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 30 + 2 AS n FROM documents
    ), v AS (
        SELECT doc_id, n,
               list_transform(range(0, n::INT), k ->
                 CASE WHEN ((doc_id * 13 + k * 7) % 2047 - 1023) >= 0
                 THEN CAST(FLOOR(((doc_id * 13 + k * 7) % 2047 - 1023)
                          / 256.0 * 32767 + 0.5) AS BIGINT)
                 ELSE CAST(CEIL(((doc_id * 13 + k * 7) % 2047 - 1023)
                          / 256.0 * 32767 - 0.5) AS BIGINT)
                 END) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(v,
                x -> GREATEST(-32768, LEAST(32767, x)))) AS BIGINT)
               AS sample_sum,
           CAST(list_sum(list_transform(range(0, n::INT),
                k -> k * GREATEST(-32768, LEAST(32767, v[k + 1]))))
               AS BIGINT) AS sample_wsum
    FROM v
    """,
)
def multimodal_decode_f64(spark, sf_dir):
    """IEEE float64 WAV decode (exact dyadic planted values), position-
    weighted sample stats."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def stats(i: int):
        n = i % 30 + 2
        xs = [((i * 13 + k * 7) % 2047 - 1023) / 256.0 for k in range(n)]
        wav = _wav(3, 1, 8000, 64000, 8, 64, struct.pack(f"<{n}d", *xs))
        rate, ch, samples = M.decode_wav_pcm(wav)
        return (
            rate, ch, len(samples), sum(samples),
            sum(k * v for k, v in enumerate(samples)),
        )

    return _per_doc(
        d, stats,
        "doc_id long, sample_rate long, channels long,"
        " n_samples long, sample_sum long, sample_wsum long",
    )


# Color-key tRNS PNG decode (round 8): gray/RGB images gain an alpha
# sample per pixel — 0 where every sample equals the planted key, full
# opacity elsewhere (spec 11.3.2). Three classes rotate by doc: gray8
# (filters rotating), RGB8 (filters rotating, phase-shifted), gray16
# (sequential/Adam7 alternating, 2-byte big-endian samples). The key is
# planted at pixel p0 = doc_id % (w*h); the sample generators use
# multipliers coprime to the modulus, so p0 is provably the ONLY
# transparent pixel and the oracle recomputes every output byte.
@query(
    "multimodal_decode_png_ckey",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 4 AS w, doc_id % 4 + 3 AS h,
               doc_id % 3 AS cls
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               CASE cls WHEN 1 THEN 4 ELSE 2 END AS channels,
               flatten(list_transform(range(0, (w * h)::INT), p ->
                 CASE cls
                 WHEN 0 THEN [
                     (doc_id + 3 * p) % 256,
                     CASE WHEN p = doc_id % (w * h) THEN 0 ELSE 255 END]
                 WHEN 1 THEN [
                     (doc_id + 5 * p) % 256,
                     (doc_id * 2 + 7 * p) % 256,
                     (doc_id * 3 + 11 * p) % 256,
                     CASE WHEN p = doc_id % (w * h) THEN 0 ELSE 255 END]
                 ELSE [
                     ((doc_id * 257 + 1031 * p) % 65536) // 256,
                     ((doc_id * 257 + 1031 * p) % 65536) % 256,
                     CASE WHEN p = doc_id % (w * h) THEN 0 ELSE 255 END,
                     CASE WHEN p = doc_id % (w * h) THEN 0 ELSE 255 END]
                 END)) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(channels AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, len(v)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (len(v) * 1.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_png_ckey(spark, sf_dir):
    """Color-key tRNS PNG decode (gray8 / RGB8 / gray16 rotating; the
    planted key pixel is the only transparent one by construction)."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        n = w * h
        p0 = i % n
        cls = i % 3
        if cls == 0:
            px = bytes((i + 3 * p) % 256 for p in range(n))
            return M.encode_png(
                w, h, px, 1, filter_for_row=lambda y: y % 5,
                trns_key=((i + 3 * p0) % 256,),
            )
        elif cls == 1:
            px = bytes(
                v for p in range(n)
                for v in ((i + 5 * p) % 256,
                          (i * 2 + 7 * p) % 256,
                          (i * 3 + 11 * p) % 256)
            )
            return M.encode_png(
                w, h, px, 3, filter_for_row=lambda y: (y + 1) % 5,
                trns_key=tuple(px[3 * p0 : 3 * p0 + 3]),
            )
        else:
            vals = [(i * 257 + 1031 * p) % 65536 for p in range(n)]
            px = b"".join(struct.pack(">H", v) for v in vals)
            return M.encode_png(
                w, h, px, 1, depth=16, interlace=bool(i % 2),
                trns_key=(vals[p0],),
            )

    return M.decode_image_pixels(_planted(d, payload))


# Exotic BMP bitfield masks (round 8): the general BI_BITFIELDS path —
# arbitrary contiguous masks, bit-replicated 8-bit upscale, alpha
# channel only when a BITMAPV4 alpha mask is present. Four mask layouts
# rotate by doc: byte-swapped B5G6R5 (16bpp, no alpha), A4R4G4B4
# (16bpp + alpha), A2R10G10B10 (32bpp + alpha), and byte-reversed RGBX
# (32bpp, no alpha); orientation alternates top-down/bottom-up. The
# oracle recomputes every replicated output byte symbolically
# (rep5 = v*8 + v//4, rep6 = v*4 + v//16, rep4 = v*17, rep10 = v//4,
# rep2 = v*85).
@query(
    "multimodal_decode_bmp_masks",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 4 AS w, doc_id % 4 + 3 AS h,
               doc_id % 4 AS cls
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               CASE WHEN cls IN (1, 2) THEN 4 ELSE 3 END AS channels,
               flatten(list_transform(range(0, (w * h)::INT), p ->
                 CASE cls
                 WHEN 0 THEN [
                     ((doc_id + 3 * p) % 32) * 8 + ((doc_id + 3 * p) % 32) // 4,
                     ((doc_id + 3 * p + 7) % 64) * 4
                       + ((doc_id + 3 * p + 7) % 64) // 16,
                     ((doc_id + 3 * p + 14) % 32) * 8
                       + ((doc_id + 3 * p + 14) % 32) // 4]
                 WHEN 1 THEN [
                     ((doc_id + 3 * p) % 16) * 17,
                     ((doc_id + 3 * p + 7) % 16) * 17,
                     ((doc_id + 3 * p + 14) % 16) * 17,
                     ((doc_id + 3 * p + 21) % 16) * 17]
                 WHEN 2 THEN [
                     ((doc_id + 3 * p) % 1024) // 4,
                     ((doc_id + 3 * p + 7) % 1024) // 4,
                     ((doc_id + 3 * p + 14) % 1024) // 4,
                     ((doc_id + 3 * p + 21) % 4) * 85]
                 ELSE [
                     (doc_id + 3 * p) % 256,
                     (doc_id + 3 * p + 7) % 256,
                     (doc_id + 3 * p + 14) % 256]
                 END)) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(channels AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, len(v)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (len(v) * 1.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_bmp_masks(spark, sf_dir):
    """Exotic BMP bitfield masks via the general BI_BITFIELDS decode
    path (swapped 565, A4R4G4B4, A2R10G10B10, reversed RGBX rotating)."""
    # (bpp, (r, g, b) masks, alpha mask, per-channel widths)
    layouts = [
        (16, (0x001F, 0x07E0, 0xF800), 0, (5, 6, 5)),
        (16, (0x0F00, 0x00F0, 0x000F), 0xF000, (4, 4, 4, 4)),
        (32, (0x3FF00000, 0x000FFC00, 0x000003FF), 0xC0000000,
         (10, 10, 10, 2)),
        (32, (0x000000FF, 0x0000FF00, 0x00FF0000), 0, (8, 8, 8)),
    ]

    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        bpp, masks, am, widths = layouts[i % 4]
        shifts = [
            (m & -m).bit_length() - 1
            for m in list(masks) + ([am] if am else [])
        ]
        vals = []
        for p in range(w * h):
            v = 0
            for c, (s, wd) in enumerate(zip(shifts, widths)):
                v |= ((i + 3 * p + 7 * c) % (1 << wd)) << s
            vals.append(v)
        return M.encode_bmp_masks(
            w, h, vals, bpp, masks, am, top_down=bool(i % 2)
        )

    return M.decode_image_pixels(_planted(d, payload))


# MS-ADPCM decode (round 8, WAV format tag 2): like the IMA query, the
# quantizer is a sequential state machine — predictor = trunc((s1*c1 +
# s2*c2) / 256) + signed_nibble * delta (7 public coefficient pairs;
# C integer division truncating toward zero per the Microsoft spec and
# ffmpeg — ADVICE r8 replaced the earlier floor convention on both
# sides), delta adapting by a 16-entry table with a floor of 16 — so
# the oracle replays it with a RECURSIVE CTE computing identical
# per-sample values (DuckDB's integer `//` truncates toward zero,
# exactly the C convention). One block per
# doc: header (predictor index, initial delta, sample1, sample2) emits
# sample2 then sample1, then one sample per nibble, HIGH nibble first.
# delta grows unboundedly under adversarial nibbles, so state stays
# BIGINT. One row PER SAMPLE.
@query(
    "multimodal_decode_msadpcm",
    sql="""
    WITH RECURSIVE s AS (
        SELECT doc_id, doc_id % 12 + 3 AS nbytes,
               ([256, 512, 0, 192, 240, 460, 392])[doc_id % 7 + 1] AS c1,
               ([0, -256, 0, 64, 0, -208, -232])[doc_id % 7 + 1] AS c2
        FROM documents
    ), st AS (
        SELECT doc_id, nbytes, c1, c2, 1 AS pos,
               CAST((doc_id * 37) % 4096 - 2048 AS BIGINT) AS s1,
               CAST((doc_id * 91) % 4096 - 2048 AS BIGINT) AS s2,
               CAST(doc_id % 500 + 16 AS BIGINT) AS delta
        FROM s
        UNION ALL
        SELECT doc_id, nbytes, c1, c2, pos + 1,
               GREATEST(-32768, LEAST(32767,
                 (s1 * c1 + s2 * c2) // 256
                 + (CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END)
                   * delta)),
               s1,
               GREATEST(16,
                 ([230, 230, 230, 230, 307, 409, 512, 614, 768, 614,
                   512, 409, 307, 230, 230, 230])[nib + 1] * delta // 256)
        FROM (
            SELECT doc_id, nbytes, c1, c2, pos, s1, s2, delta,
                   CASE WHEN (pos - 1) % 2 = 0
                        THEN ((doc_id * 13 + ((pos - 1) // 2) * 7) % 256)
                             // 16
                        ELSE ((doc_id * 13 + ((pos - 1) // 2) * 7) % 256)
                             % 16
                   END AS nib
            FROM st WHERE pos < nbytes * 2 + 1
        )
    )
    SELECT doc_id, CAST(0 AS BIGINT) AS pos,
           CAST((doc_id * 91) % 4096 - 2048 AS BIGINT) AS sample
    FROM s
    UNION ALL
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(s1 AS BIGINT) AS sample
    FROM st
    """,
)
def multimodal_decode_msadpcm(spark, sf_dir):
    """Mono MS-ADPCM WAV decode, one output row per sample (header
    sample2/sample1 = samples 0/1), adjudicated against a recursive-CTE
    replay of the predictor + delta-adaptation state machine."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def samples(i: int):
        nbytes = i % 12 + 3
        data = struct.pack(
            "<Bhhh", i % 7, i % 500 + 16,
            (i * 37) % 4096 - 2048, (i * 91) % 4096 - 2048,
        )
        data += bytes((i * 13 + k * 7) % 256 for k in range(nbytes))
        wav = _wav(2, 1, 8000, 4000, 7 + nbytes, 4, data)
        return list(enumerate(M.decode_wav_pcm(wav)[2]))

    return _per_doc(d, samples, "doc_id long, pos long, sample long")


# 12-bit extended-sequential JPEG decode (round 8, SOF1 + 16-bit DQT
# entries): constant-gray 8x8 blocks at 12-bit precision (DC-only FDCT
# with quant 8 is exact: quantized DC = g - 2048), level shift 2048,
# canonical 8-bit output via the documented >> 4 downscale — so the
# oracle recomputes every output byte symbolically. Restart cadences
# rotate 0/1/2 MCUs by doc, exercising RSTn in the 12-bit path; a
# 16-bit AC quant entry (300) pins the Pq=1 table parse.
@query(
    "multimodal_decode_jpg12",
    sql="""
    WITH s AS (
        SELECT doc_id, (doc_id % 3 + 1) * 8 AS w, (doc_id % 2 + 1) * 8 AS h
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h)::INT), k ->
                 ((doc_id * 97
                   + ((k // w) // 8 * (w // 8) + (k % w) // 8) * 251)
                  % 4096) // 16) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 1.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_jpg12(spark, sf_dir):
    """12-bit extended-sequential JPEG decode (SOF1, Pq=1 quant tables,
    2048 level shift, rotating restart intervals)."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = (i % 3 + 1) * 8, (i % 2 + 1) * 8
        nbx = w // 8
        samples = [
            (i * 97 + ((y // 8) * nbx + x // 8) * 251) % 4096
            for y in range(h) for x in range(w)
        ]
        q = [8] + [1] * 63
        q[1] = 300  # 16-bit table entry on an always-zero AC slot
        return M.encode_jpeg12(
            w, h, samples, quant=q, restart_interval=i % 3
        )

    return M.decode_image_pixels(_planted(d, payload))


# Factor-4 (and factor-3) chroma sampling (round 8): 4:1:1 — four luma
# blocks per MCU sharing one chroma block horizontally — plus a 4x4
# chroma-solid class and a legal non-power-of-two 3x1 class. Planted
# gray-valued RGB tiles sized to the MCU grid are constant over every
# sampling grid, so box-mean downsample and nearest upsample are both
# identity and the decode is bit-exact; the oracle recomputes every
# byte. Restart cadence alternates by doc.
@query(
    "multimodal_decode_jpg_411",
    sql="""
    WITH s AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 64 WHEN 1 THEN 64 ELSE 48 END AS w,
               CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 32 ELSE 8 END AS h,
               CASE doc_id % 3 WHEN 0 THEN 32 WHEN 1 THEN 32 ELSE 24 END AS tw,
               CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 32 ELSE 8 END AS th
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT), k ->
                 (doc_id * 31
                  + (((k // 3) // w) // th * (w // tw)
                     + ((k // 3) % w) // tw) * 53) % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_jpg_411(spark, sf_dir):
    """4:1:1 / 4:4 / 3:1 chroma-sampled JPEG decode on grid-constant
    gray-valued tiles (bit-exact through the lossy pipeline)."""
    # (w, h, tile_w, tile_h, sampling)
    layouts = [
        (64, 8, 32, 8, [(4, 1), (1, 1), (1, 1)]),
        (64, 32, 32, 32, [(4, 4), (1, 1), (1, 1)]),
        (48, 8, 24, 8, [(3, 1), (1, 1), (1, 1)]),
    ]

    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h, tw, th, samp = layouts[i % 3]
        px = bytearray()
        for p in range(w * h):
            x, y = p % w, p // w
            v = (i * 31 + ((y // th) * (w // tw) + x // tw) * 53) % 256
            px += bytes((v, v, v))
        return M.encode_jpeg(
            w, h, bytes(px), 3, sampling=samp,
            restart_interval=i % 2,
        )

    return M.decode_image_pixels(_planted(d, payload))


# Lossless JPEG decode (round 8, SOF3 — T.81 Annex H): predictive
# coding with no DCT, so decode is EXACT and the oracle recomputes every
# output byte from the planted sample generator alone. Precision
# rotates 8/12/16 by doc, all seven predictors and both point-transform
# values are exercised across the corpus; canonical 8-bit output is
# (sample << Pt) >> (P - 8).
@query(
    "multimodal_decode_jpg_lossless",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 4 AS w, doc_id % 4 + 3 AS h,
               CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 12 ELSE 16 END AS p,
               doc_id % 2 AS pt
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h)::INT), k ->
                 (((doc_id * 7 + k * 13) % (1 << (p - pt))) * (1 << pt))
                 // (1 << (p - 8))) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 1.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_jpg_lossless(spark, sf_dir):
    """Lossless JPEG decode (SOF3, predictors 1-7 rotating, precision
    8/12/16, point transform 0/1) — exact predictive reconstruction."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        p = {0: 8, 1: 12, 2: 16}[i % 3]
        pt = i % 2
        modv = 1 << (p - pt)
        samples = [(i * 7 + k * 13) % modv for k in range(w * h)]
        return M.encode_jpeg_lossless(
            w, h, samples, p, predictor=i % 7 + 1, pt=pt
        )

    return M.decode_image_pixels(_planted(d, payload))


# Progressive JPEG with chroma subsampling (round 8): interleaved DC
# scans cover the padded MCU grid while the non-interleaved AC scans
# cover each component's own block grid (T.81 A.2.2/A.2.3) — the block
# geometry the 1x1 progressive query could never exercise. Planted
# gray-valued tiles sized to the MCU grid are constant over every
# sampling grid, so the multi-scan decode is bit-exact and the oracle
# recomputes every byte. Sampling rotates 4:2:0 / 4:2:2 / 4:1:1 by doc;
# DC refinement depth and restart cadence rotate too.
@query(
    "multimodal_decode_jpg_prog420",
    sql="""
    WITH s AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 2 THEN 64 ELSE 32 END AS w,
               CASE doc_id % 3 WHEN 0 THEN 32 ELSE 16 END AS h,
               CASE doc_id % 3 WHEN 2 THEN 32 ELSE 16 END AS tw,
               CASE doc_id % 3 WHEN 0 THEN 16 ELSE 8 END AS th
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               list_transform(range(0, (w * h * 3)::INT), k ->
                 (doc_id * 29
                  + (((k // 3) // w) // th * (w // tw)
                     + ((k // 3) % w) // tw) * 47) % 256) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, (w * h * 3)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (w * h * 3.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_jpg_prog420(spark, sf_dir):
    """Chroma-subsampled progressive JPEG decode (4:2:0 / 4:2:2 / 4:1:1
    rotating, grid-constant gray-valued tiles, rotating DC refinement
    depth and restart cadence)."""
    # (w, h, tile_w, tile_h, sampling) — tiles span the MCU grid so the
    # lossy pipeline is bit-exact on them
    layouts = [
        (32, 32, 16, 16, [(2, 2), (1, 1), (1, 1)]),  # 4:2:0
        (32, 16, 16, 8, [(2, 1), (1, 1), (1, 1)]),   # 4:2:2
        (64, 16, 32, 8, [(4, 1), (1, 1), (1, 1)]),   # 4:1:1
    ]

    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h, tw, th, samp = layouts[i % 3]
        px = bytearray()
        for p in range(w * h):
            x, y = p % w, p // w
            v = (i * 29 + ((y // th) * (w // tw) + x // tw) * 47) % 256
            px += bytes((v, v, v))
        return M.encode_jpeg_progressive(
            w, h, bytes(px), 3, dc_al=i % 3, ac_al=i % 2,
            restart_interval=i % 2, sampling=samp,
        )

    return M.decode_image_pixels(_planted(d, payload))


# Sub-byte grayscale PNG decode (round 8, color type 0, depths 1/2/4):
# the packed scanline stream un-filters at byte offset 1 and samples
# bit-replicate to 8 bits (1-bit -> 0/255, 2-bit -> v*85, 4-bit ->
# v*17 — spec 12.5 sample-depth scaling); docs alternate sequential and
# Adam7 and a third of them carry a gray color-key tRNS compared at raw
# sample depth. The oracle recomputes every output byte.
@query(
    "multimodal_decode_png_gray_lowbit",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 6 + 4 AS w, doc_id % 4 + 3 AS h,
               CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS d,
               doc_id % 3 = 0 AS keyed
        FROM documents
    ), px AS (
        SELECT doc_id, w, h,
               CASE WHEN keyed THEN 2 ELSE 1 END AS channels,
               flatten(list_transform(range(0, (w * h)::INT), p ->
                 CASE WHEN keyed THEN [
                     ((doc_id + p) % (1 << d)) * (255 // ((1 << d) - 1)),
                     CASE WHEN (doc_id + p) % (1 << d)
                               = doc_id % (1 << d)
                          THEN 0 ELSE 255 END]
                 ELSE [((doc_id + p) % (1 << d)) * (255 // ((1 << d) - 1))]
                 END)) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(channels AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, len(v)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           ROUND(list_sum(v) / (len(v) * 1.0), 6) AS px_mean
    FROM px
    """,
)
def multimodal_decode_png_gray_lowbit(spark, sf_dir):
    """Sub-byte grayscale PNG decode (1/2/4-bit packed, bit-replicated
    upscale, sequential/Adam7 alternating, rotating color-key tRNS)."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        w, h = i % 6 + 4, i % 4 + 3
        depth = {0: 1, 1: 2, 2: 4}[i % 3]
        ncol = 1 << depth
        vals = bytes((i + p) % ncol for p in range(w * h))
        return M.encode_png_gray_lowbit(
            w, h, vals, depth,
            filter_for_row=lambda y: y % 5,
            interlace=bool(i % 2),
            trns_key=(i % ncol) if i % 3 == 0 else None,
        )

    return M.decode_image_pixels(_planted(d, payload))


# Stereo IMA ADPCM decode (round 8): per-channel 4-byte headers and
# nibble payload in alternating 4-byte channel groups. The oracle
# replays BOTH channels' quantizer state machines with one recursive
# CTE over (doc, channel) — channel ch's k-th nibble lives at payload
# byte 8*(k//8) + 4*ch + (k%8)//2, LOW nibble first — so every sample
# of every channel is recomputed. One row per (channel, sample).
@query(
    "multimodal_decode_adpcm_stereo",
    sql="""
    WITH RECURSIVE s AS (
        SELECT doc_id, ch, (doc_id % 3 + 1) * 8 AS nnib
        FROM documents, (SELECT unnest([0, 1]) AS ch)
    ), st AS (
        SELECT doc_id, ch, nnib, 0 AS pos,
               CAST(((doc_id + ch * 7) * 73) % 4096 - 2048 AS INT) AS pred,
               CAST((doc_id + ch * 31) % 89 AS INT) AS idx
        FROM s
        UNION ALL
        SELECT doc_id, ch, nnib, pos + 1,
               CAST(GREATEST(-32768, LEAST(32767,
                 pred + CASE WHEN nib >= 8 THEN -1 ELSE 1 END *
                   (stp // 8
                    + CASE WHEN nib % 2 = 1 THEN stp // 4 ELSE 0 END
                    + CASE WHEN (nib // 2) % 2 = 1 THEN stp // 2 ELSE 0 END
                    + CASE WHEN (nib // 4) % 2 = 1 THEN stp ELSE 0 END)))
                 AS INT),
               CAST(GREATEST(0, LEAST(88,
                 idx + CASE nib % 8
                       WHEN 4 THEN 2 WHEN 5 THEN 4
                       WHEN 6 THEN 6 WHEN 7 THEN 8
                       ELSE -1 END)) AS INT)
        FROM (
            SELECT doc_id, ch, nnib, pos, pred, idx,
                   CASE WHEN pos % 2 = 0
                        THEN ((doc_id * 13 + ch * 17 + (pos // 2) * 7)
                              % 256) % 16
                        ELSE ((doc_id * 13 + ch * 17 + (pos // 2) * 7)
                              % 256) // 16
                   END AS nib,
                   ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
                     41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,
                     173,190,209,230,253,279,307,337,371,408,449,494,544,
                     598,658,724,796,876,963,1060,1166,1282,1411,1552,
                     1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
                     4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
                     11487,12635,13899,15289,16818,18500,20350,22385,
                     24623,27086,29794,32767])[idx + 1] AS stp
            FROM st WHERE pos < nnib
        )
    )
    SELECT doc_id, CAST(ch AS BIGINT) AS ch, CAST(pos AS BIGINT) AS pos,
           CAST(pred AS BIGINT) AS sample
    FROM st
    """,
)
def multimodal_decode_adpcm_stereo(spark, sf_dir):
    """Stereo IMA ADPCM WAV decode, one output row per (channel,
    sample), adjudicated against a recursive-CTE replay of both
    channels' quantizer state machines."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def samples(i: int):
        headers = b"".join(
            struct.pack(
                "<hBB",
                ((i + ch * 7) * 73) % 4096 - 2048,
                (i + ch * 31) % 89, 0,
            )
            for ch in range(2)
        )
        inter = bytes(
            (i * 13 + ch * 17 + (g * 4 + bb) * 7) % 256
            for g in range(i % 3 + 1)
            for ch in range(2)
            for bb in range(4)
        )
        data = headers + inter
        wav = _wav(0x11, 2, 8000, 8000, len(data), 4, data)
        return _stereo_rows(M.decode_wav_pcm(wav)[2])

    return _per_doc(d, samples, "doc_id long, ch long, pos long, sample long")


# Stereo MS-ADPCM decode (round 8): interleaved header fields, every
# HIGH nibble left / LOW nibble right. Same recursive-CTE replay as the
# mono query, parameterized by channel; one row per (channel, sample).
@query(
    "multimodal_decode_msadpcm_stereo",
    sql="""
    WITH RECURSIVE s AS (
        SELECT doc_id, ch, doc_id % 10 + 2 AS nbytes,
               ([256, 512, 0, 192, 240, 460, 392])[(doc_id + ch) % 7 + 1]
                   AS c1,
               ([0, -256, 0, 64, 0, -208, -232])[(doc_id + ch) % 7 + 1]
                   AS c2
        FROM documents, (SELECT unnest([0, 1]) AS ch)
    ), st AS (
        SELECT doc_id, ch, nbytes, c1, c2, 1 AS pos,
               CAST(((doc_id + ch * 5) * 37) % 4096 - 2048 AS BIGINT) AS s1,
               CAST(((doc_id + ch * 3) * 91) % 4096 - 2048 AS BIGINT) AS s2,
               CAST((doc_id + ch * 13) % 500 + 16 AS BIGINT) AS delta
        FROM s
        UNION ALL
        SELECT doc_id, ch, nbytes, c1, c2, pos + 1,
               GREATEST(-32768, LEAST(32767,
                 (s1 * c1 + s2 * c2) // 256
                 + (CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END)
                   * delta)),
               s1,
               GREATEST(16,
                 ([230, 230, 230, 230, 307, 409, 512, 614, 768, 614,
                   512, 409, 307, 230, 230, 230])[nib + 1] * delta // 256)
        FROM (
            SELECT doc_id, ch, nbytes, c1, c2, pos, s1, s2, delta,
                   CASE WHEN ch = 0
                        THEN ((doc_id * 13 + (pos - 1) * 7) % 256) // 16
                        ELSE ((doc_id * 13 + (pos - 1) * 7) % 256) % 16
                   END AS nib
            FROM st WHERE pos < nbytes + 1
        )
    )
    SELECT doc_id, CAST(ch AS BIGINT) AS ch, CAST(0 AS BIGINT) AS pos,
           CAST(((doc_id + ch * 3) * 91) % 4096 - 2048 AS BIGINT) AS sample
    FROM (SELECT DISTINCT doc_id, ch FROM s)
    UNION ALL
    SELECT doc_id, CAST(ch AS BIGINT) AS ch, CAST(pos AS BIGINT) AS pos,
           CAST(s1 AS BIGINT) AS sample
    FROM st
    """,
)
def multimodal_decode_msadpcm_stereo(spark, sf_dir):
    """Stereo MS-ADPCM WAV decode, one output row per (channel,
    sample), adjudicated against a per-channel recursive-CTE replay."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def samples(i: int):
        ips = bytes(((i + ch) % 7) for ch in range(2))
        deltas = struct.pack(
            "<2h", *((i + ch * 13) % 500 + 16 for ch in range(2))
        )
        s1s = struct.pack(
            "<2h",
            *(((i + ch * 5) * 37) % 4096 - 2048 for ch in range(2)),
        )
        s2s = struct.pack(
            "<2h",
            *(((i + ch * 3) * 91) % 4096 - 2048 for ch in range(2)),
        )
        nibbles = bytes((i * 13 + j * 7) % 256 for j in range(i % 10 + 2))
        data = ips + deltas + s1s + s2s + nibbles
        wav = _wav(2, 2, 8000, 4000, len(data), 4, data)
        return _stereo_rows(M.decode_wav_pcm(wav)[2])

    return _per_doc(d, samples, "doc_id long, ch long, pos long, sample long")


# Mixed-format corpus scan (round 8): the realistic 100 TB ingest shape
# — one binary column whose payloads rotate PNG / BMP / GIF / JPEG /
# non-image bytes per doc, decoded by ONE magic-byte-dispatching pass
# (decode_image_pixels) with non-image rows null-propagating instead of
# failing the scan. Every class plants exactly-reconstructible content
# (lossless codecs verbatim; JPEG constant-gray blocks), so the oracle
# recomputes the stats of all four decodable classes and pins NULL rows
# for the fifth.
@query(
    "multimodal_decode_mixed",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 5 AS cls,
               CASE WHEN doc_id % 5 = 3
                    THEN (doc_id % 2 + 1) * 8 ELSE doc_id % 6 + 4 END AS w,
               CASE WHEN doc_id % 5 = 3 THEN 8 ELSE doc_id % 4 + 3 END AS h
        FROM documents
    ), px AS (
        SELECT doc_id, cls, w, h,
               CASE cls WHEN 0 THEN 1 WHEN 3 THEN 1
                        WHEN 1 THEN 3 WHEN 2 THEN 3 END AS channels,
               CASE cls
               WHEN 0 THEN list_transform(range(0, (w * h)::INT),
                    p -> (doc_id + 3 * p) % 256)
               WHEN 1 THEN list_transform(range(0, (w * h * 3)::INT),
                    k -> (doc_id + 2 * k) % 256)
               WHEN 2 THEN list_transform(range(0, (w * h * 3)::INT),
                    k -> CASE k % 3
                         WHEN 0 THEN ((doc_id + k // 3) % 8) * 17 % 256
                         WHEN 1 THEN ((doc_id + k // 3) % 8) * 31 % 256
                         ELSE ((doc_id + k // 3) % 8) * 53 % 256 END)
               WHEN 3 THEN list_transform(range(0, (w * h)::INT),
                    p -> (doc_id * 97
                          + ((p // w) // 8 * (w // 8) + (p % w) // 8)
                            * 251) % 256)
               ELSE NULL
               END AS v
        FROM s
    )
    SELECT doc_id,
           CASE WHEN cls = 4 THEN NULL ELSE CAST(w AS BIGINT) END AS width,
           CASE WHEN cls = 4 THEN NULL ELSE CAST(h AS BIGINT) END AS height,
           CAST(channels AS BIGINT) AS channels,
           CAST(list_sum(v) AS BIGINT) AS px_sum,
           CAST(list_sum(list_transform(range(0, len(v)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS px_wsum,
           CASE WHEN cls = 4 THEN NULL
                ELSE ROUND(list_sum(v) / (len(v) * 1.0), 6) END AS px_mean
    FROM px
    """,
)
def multimodal_decode_mixed(spark, sf_dir):
    """Mixed-format binary-column scan: PNG/BMP/GIF/JPEG/non-image
    payloads rotating per doc through one magic-byte-dispatching decode
    pass; non-image rows null-propagate (corpus-scan posture)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    pal8 = bytes(
        v for j in range(8)
        for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )

    def payload(i: int) -> bytes:
        cls = i % 5
        if cls == 3:
            w, h = (i % 2 + 1) * 8, 8
        else:
            w, h = i % 6 + 4, i % 4 + 3
        if cls == 0:
            px = bytes((i + 3 * p) % 256 for p in range(w * h))
            return M.encode_png(
                w, h, px, 1, filter_for_row=lambda y: y % 5
            )
        elif cls == 1:
            px = bytes((i + 2 * k) % 256 for k in range(w * h * 3))
            return M.encode_bmp(w, h, px, top_down=bool(i % 2))
        elif cls == 2:
            idx = [(i + p) % 8 for p in range(w * h)]
            return M.encode_gif(w, h, idx, pal8, interlace=bool(i % 2))
        elif cls == 3:
            nbx = w // 8
            px = bytes(
                (i * 97 + ((y // 8) * nbx + x // 8) * 251) % 256
                for y in range(h) for x in range(w)
            )
            return M.encode_jpeg(
                w, h, px, 1, restart_interval=i % 3
            )
        else:  # non-image bytes: the scan must null-propagate
            return (f"plain text payload {i} " * 3).encode()

    return M.decode_image_pixels(_planted(d, payload))


# Mixed-format audio scan (round 8): WAV payloads rotating PCM16 /
# PCM8 / G.711 mu-law / IEEE float32 / non-audio bytes per doc through
# ONE decode pass (decode_audio_samples), non-audio rows
# null-propagating — the audio-corpus analogue of
# multimodal_decode_mixed. Every decodable class plants exactly-
# reconstructible samples (dyadic float32 values make the double
# arithmetic exact), so the oracle recomputes count/sum/mean/peak/RMS
# for all four and pins NULL rows for the fifth.
@query(
    "multimodal_audio_mixed",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 5 AS cls,
               CASE doc_id % 5
               WHEN 0 THEN doc_id % 20 + 2
               WHEN 1 THEN doc_id % 30 + 3
               WHEN 2 THEN doc_id % 40 + 1
               WHEN 3 THEN doc_id % 30 + 2
               END AS n,
               CASE doc_id % 5 WHEN 0 THEN 16000 WHEN 3 THEN 44100
                    WHEN 4 THEN NULL ELSE 8000 END AS rate
        FROM documents
    ), v AS (
        SELECT doc_id, cls, n, rate,
               CASE cls
               WHEN 0 THEN list_transform(range(0, n::INT),
                    k -> (doc_id * 13 + k * 7) % 4096 - 2048)
               WHEN 1 THEN list_transform(range(0, n::INT),
                    k -> (doc_id + k) % 256 - 128)
               WHEN 2 THEN list_transform(range(0, n::INT), k -> CASE
                    WHEN ((255 - ((doc_id + 3 * k) % 256)) & 128) != 0
                    THEN 132 - (((255 - ((doc_id + 3 * k) % 256)) % 16)
                                * 8 + 132)
                             * (1 << (((255 - ((doc_id + 3 * k) % 256))
                                       // 16) % 8))
                    ELSE (((255 - ((doc_id + 3 * k) % 256)) % 16)
                          * 8 + 132)
                         * (1 << (((255 - ((doc_id + 3 * k) % 256))
                                   // 16) % 8)) - 132 END)
               WHEN 3 THEN list_transform(range(0, n::INT), k ->
                    CASE WHEN ((doc_id * 13 + k * 7) % 2047 - 1023) >= 0
                    THEN GREATEST(-32768, LEAST(32767,
                         CAST(FLOOR(((doc_id * 13 + k * 7) % 2047 - 1023)
                              / 256.0 * 32767 + 0.5) AS BIGINT)))
                    ELSE GREATEST(-32768, LEAST(32767,
                         CAST(CEIL(((doc_id * 13 + k * 7) % 2047 - 1023)
                              / 256.0 * 32767 - 0.5) AS BIGINT)))
                    END)
               ELSE NULL
               END AS v
        FROM s
    )
    SELECT doc_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CASE WHEN cls = 4 THEN NULL
                ELSE CAST(1 AS BIGINT) END AS channels,
           CASE WHEN cls = 4 THEN NULL
                ELSE CAST(n AS BIGINT) END AS n_samples,
           CAST(list_sum(v) AS BIGINT) AS sample_sum,
           CASE WHEN cls = 4 THEN NULL
                ELSE ROUND(list_sum(v) / (1.0 * n), 6) END AS sample_mean,
           CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT)
               AS peak_abs,
           CASE WHEN cls = 4 THEN NULL
                ELSE ROUND(SQRT(list_sum(
                         list_transform(v, x -> 1.0 * x * x)) / n), 6)
                END AS rms
    FROM v
    """,
)
def multimodal_audio_mixed(spark, sf_dir):
    """Mixed-format audio scan: PCM16/PCM8/mu-law/float32/non-audio
    payloads rotating per doc through one decode pass; non-audio rows
    null-propagate (corpus-scan posture)."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        cls = i % 5
        if cls == 0:
            n = i % 20 + 2
            vals = [(i * 13 + k * 7) % 4096 - 2048 for k in range(n)]
            return _wav(1, 1, 16000, 32000, 2, 16, struct.pack(f"<{n}h", *vals))
        elif cls == 1:
            raw = bytes(((i + k) % 256) for k in range(i % 30 + 3))
            return _wav(1, 1, 8000, 8000, 1, 8, raw)
        elif cls == 2:
            raw = bytes((i + 3 * k) % 256 for k in range(i % 40 + 1))
            return _wav(7, 1, 8000, 8000, 1, 8, raw)
        elif cls == 3:
            n = i % 30 + 2
            xs = [((i * 13 + k * 7) % 2047 - 1023) / 256.0 for k in range(n)]
            return _wav(3, 1, 44100, 176400, 4, 32, struct.pack(f"<{n}f", *xs))
        else:  # non-audio bytes: the scan must null-propagate
            return f"not a wav payload {i}".encode()

    return M.decode_audio_samples(_planted(d, payload))


# Audio sample-rate normalization (round 8): nearest-neighbor resample
# to a fixed 8 kHz — the standardization pass an audio-corpus pipeline
# runs before featurization. Input rates rotate 16k/8k/4k by doc
# (downsample, identity, upsample) and channel count alternates
# mono/stereo, so frame indexing AND channel interleave are both load-
# bearing; the oracle rebuilds the resampled stream symbolically
# (output frame j takes input frame j*in_rate//8000).
@query(
    "multimodal_audio_resample",
    sql="""
    WITH s AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 8000
                    ELSE 4000 END AS in_rate,
               doc_id % 20 + 4 AS nf,
               doc_id % 2 + 1 AS ch
        FROM documents
    ), r AS (
        SELECT doc_id, in_rate, ch,
               (nf * 8000) // in_rate AS n_out,
               flatten(list_transform(range(0, ((nf * 8000) // in_rate)::INT),
                 j -> list_transform(range(0, ch::INT),
                   c -> (doc_id * 13
                         + ((j * in_rate // 8000) * ch + c) * 7)
                        % 4096 - 2048))) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS out_rate,
           CAST(n_out AS BIGINT) AS n_out,
           CAST(list_sum(v) AS BIGINT) AS rs_sum,
           CAST(list_sum(list_transform(range(0, len(v)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS rs_wsum,
           ROUND(list_sum(v) / (len(v) * 1.0), 6) AS rs_mean
    FROM r
    """,
)
def multimodal_audio_resample(spark, sf_dir):
    """Nearest-neighbor audio resample to 8 kHz (16k/8k/4k inputs
    rotating, mono/stereo alternating), stats of the resampled stream."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    rates = (16000, 8000, 4000)
    with_audio = _planted(d, lambda i: _resample_input(i, rates[i % 3]))
    return M.resample_audio_nearest(with_audio, 8000)


# Linear-interpolation audio resample (round 9, verdict r8 item 6): the
# interpolating normalization a pipeline actually runs. Input rates
# rotate 12k (rem alternates 0/4000 — every other output frame is a
# true midpoint), 8k (identity — rem always 0, output must equal
# input), and 3k (upsample — rem cycles through eighths), so the
# interpolation weights, the tail clamp, and the channel interleave are
# all load-bearing. Output sample = trunc((x[p]*(8000-rem) +
# x[p+1]*rem)/8000) with p+1 clamped to the last frame; DuckDB's
# integer `//` truncates toward zero exactly like the operator, so the
# oracle rebuilds every output sample symbolically.
@query(
    "multimodal_audio_resample_linear",
    sql="""
    WITH s AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 12000 WHEN 1 THEN 8000
                    ELSE 3000 END AS in_rate,
               doc_id % 20 + 4 AS nf,
               doc_id % 2 + 1 AS ch
        FROM documents
    ), r AS (
        SELECT doc_id, in_rate, ch,
               (nf * 8000) // in_rate AS n_out,
               flatten(list_transform(range(0, ((nf * 8000) // in_rate)::INT),
                 j -> list_transform(range(0, ch::INT),
                   c -> (((doc_id * 13
                           + (((j * in_rate) // 8000) * ch + c) * 7)
                          % 4096 - 2048)
                         * (8000 - (j * in_rate) % 8000)
                         + ((doc_id * 13
                             + (LEAST((j * in_rate) // 8000 + 1, nf - 1)
                                * ch + c) * 7)
                            % 4096 - 2048)
                           * ((j * in_rate) % 8000)) // 8000))) AS v
        FROM s
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS out_rate,
           CAST(n_out AS BIGINT) AS n_out,
           CAST(list_sum(v) AS BIGINT) AS rs_sum,
           CAST(list_sum(list_transform(range(0, len(v)::INT),
                    k -> k * v[k + 1])) AS BIGINT) AS rs_wsum,
           ROUND(list_sum(v) / (len(v) * 1.0), 6) AS rs_mean
    FROM r
    """,
)
def multimodal_audio_resample_linear(spark, sf_dir):
    """Linear-interpolation audio resample to 8 kHz (12k/8k/3k inputs
    rotating, mono/stereo alternating), stats of the resampled stream."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    rates = (12000, 8000, 3000)
    with_audio = _planted(d, lambda i: _resample_input(i, rates[i % 3]))
    return M.resample_audio_linear(with_audio, 8000)


def _resample_input(i: int, in_rate: int) -> bytes:
    """16-bit PCM input of the resample queries: doc_id%20+4 frames,
    mono/stereo by doc parity, sample k = (doc_id*13 + k*7) % 4096 - 2048."""
    nf, ch = i % 20 + 4, i % 2 + 1
    vals = [(i * 13 + k * 7) % 4096 - 2048 for k in range(nf * ch)]
    data = struct.pack(f"<{len(vals)}h", *vals)
    return _wav(1, ch, in_rate, in_rate * 2 * ch, 2 * ch, 16, data)


# Perceptual image dedup, EXACT tier (round 9, verdict r8 item 3): dHash
# over the decoded-pixel path. Every doc plants a 9s x 8s image (s =
# doc_id % 3 + 1) whose adjacent-cell comparison pattern IS a 63-bit
# spread of its content key m = doc_id % 40 (bit k of the hash = bit 5
# of m*2654435761 + k*40503 — distinct for every m, verified in tests),
# alternating PNG / BMP encodings per doc parity. Because dHash is pure
# integer end to end (BT.601 luma // 1000, exact area-average, strict
# >), re-encoded and integer-upscaled copies hash bit-identically, so
# the oracle reconstructs the hash AND the duplicate-group size from
# doc_id arithmetic alone — the full decode -> luma -> downscale ->
# compare -> pack -> group pipeline is adjudicated hash-exact.
@query(
    "dedup_image_dhash",
    sql="""
    WITH s AS (
        SELECT doc_id, doc_id % 40 AS m, doc_id % 3 + 1 AS sc
        FROM documents
    )
    SELECT doc_id,
           CAST(9 * sc AS BIGINT) AS width,
           CAST(8 * sc AS BIGINT) AS height,
           CAST(list_sum(list_transform(range(0, 63),
               k -> CASE WHEN ((m * 2654435761 + k * 40503) // 32) % 2 = 1
                    THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT)
                    END)) AS BIGINT) AS dhash,
           CAST(COUNT(*) OVER (PARTITION BY m) AS BIGINT) AS n_copies
    FROM s
    """,
)
def dedup_image_dhash(spark, sf_dir):
    """Exact image dedup via dHash: per-doc planted images (re-encoded
    PNG/BMP, integer-upscaled) -> 64-bit difference hash -> duplicate
    group sizes by hash equality; hash values adjudicated bit-exact."""
    d = spread_input(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    def payload(i: int) -> bytes:
        m, s = i % 40, i % 3 + 1
        grid = []
        for r in range(8):
            row = [128]
            for c in range(8):
                k = r * 8 + c
                bit = (
                    0 if k == 63
                    else ((m * 2654435761 + k * 40503) >> 5) & 1
                )
                row.append(row[-1] - 7 if bit else row[-1] + 7)
            grid.append(row)
        w, h = 9 * s, 8 * s
        px = bytearray()
        for y in range(h):
            for x in range(w):
                v = grid[y // s][x // s]
                px += bytes((v, v, v))
        enc = M.encode_png if i % 2 == 0 else M.encode_bmp
        return enc(w, h, bytes(px))

    with_img = _planted(d, payload)
    hset = M.dhash_images(with_img)
    return hset.withColumn(
        "n_copies", F.count(F.lit(1)).over(Window.partitionBy("dhash"))
    ).select("doc_id", "width", "height", "dhash", "n_copies")


# Perceptual image dedup, NEAR tier (round 9, verdict r8 item 3): pHash
# + the Hamming-ball banding reused from simhash_pairs
# (operators/dedup.py::hamming_pairs). Docs group by fours (g = doc_id
# div 4 — group count scales with the corpus, group SIZE stays
# constant, so pair volume stays linear at 100 TB); each group plants a
# smooth 32x32 base image with nonzero amplitude in every low-freq DCT
# slot (margins ~3x the noise), and members 1-3 perturb 16 pixels by
# +-5 — measured pHash ball <= 2 bits, inter-group distance >= 16, so
# max_hamming=4 recovers every planted pair (intra <= 2*ball = 4) and
# admits no cross-group pair (>= 16 - 4 = 12). Rows-only by design
# (float DCT is not SQL-replayable); inv_ok gates per row: pair is
# same-group (precision 1 on planted data), hamming <= 4, and pooled
# planted recall == 1 (found same-group pairs / C(group,2) summed).
def _planted_phash_corpus(spark, sf_dir):
    """Shared planted near-dup image corpus for the pHash tier: groups of
    four (g = doc_id div 4), one smooth full-spectrum base image per
    group (every low-freq DCT slot at amplitude 3x{±1..6} — pHash ball
    measured <= 2 bits under the member perturbation, inter-group
    distance >= 16 over 300 seeds), members 1-3 perturbing 16 pixels by
    ±5, PNG-gray encoded. Returns (doc_id, payload). The doc_id source
    is spread to defaultParallelism first: payload synthesis + decode +
    DCT are the CPU-bound stage, and a single-file local scan would
    otherwise run them on one partition (a well-partitioned cluster
    scan skips the shuffle)."""
    d = spread_input(table(spark, sf_dir, "documents").select("doc_id"))
    return _planted(d, lambda i: _dct_png(i, 3))


def _dct_png(i: int, lo: int, hi: "int | None" = None) -> bytes:
    """PNG-gray member i % 4 of group i // 4 of a planted pHash corpus
    (see :func:`_dct_member`)."""
    g, r = divmod(i, 4)
    return M.encode_png(32, 32, _dct_member(g, g, r, 0, lo, hi).tobytes(), channels=1)


@functools.lru_cache(maxsize=64)
def _dct_cos(n: int) -> "np.ndarray":
    """cos(pi*(2x+1)*u/64) for u < n, x < 32: the inverse-DCT rows the
    planted 32x32 images are built from."""
    return np.array(
        [[np.cos(np.pi * (2 * x + 1) * u / (2 * 32)) for x in range(32)]
         for u in range(n)]
    )


@functools.lru_cache(maxsize=1024)
def _dct_base(seed: int, lo: int, hi: "int | None") -> "np.ndarray":
    """Smooth 32x32 uint8 base image of a planted pHash corpus: 128 plus
    the inverse DCT of an LCG-drawn amplitude block, nonzero in every
    low-frequency slot but DC. Slot (u horizontal, p vertical < 8) gets
    lo x {±1..6} for u < 8; ``hi`` extends the block to u < 16 at
    hi x {±1..6} (the right half only the 128-bit hash sees)."""
    cols = 8 if hi is None else 16
    v = (seed * 2654435761 + 97) % (2**31)
    amps = np.zeros((cols, 8))  # [horizontal u, vertical p]
    for u in range(cols):
        for p in range(8):
            if u == 0 and p == 0:
                continue
            v = (v * 1103515245 + 12345) % (2**31)
            t = v % 11 - 5
            if t >= 0:
                t += 1
            amps[u, p] = (lo if u < 8 else hi) * t
    img = 128.0 + _dct_cos(8).T @ amps.T @ _dct_cos(cols)
    im = np.clip(np.rint(img), 0, 255).astype(np.uint8)
    im.setflags(write=False)  # cached: shared by every caller
    return im


def _dct_member(
    seed: int, g: int, r: int, f: int, lo: int, hi: "int | None" = None
) -> "np.ndarray":
    """Flat pixels of member r of planted group g (frame f of a clip):
    member 0 is the base image of ``seed``, members r > 0 move 16 pixels
    (positions keyed by g, f and r) by ±5, clamped to 0..255."""
    b = _dct_base(seed, lo, hi).ravel()
    if not r:
        return b
    b = b.astype(int)
    for t in range(16):
        idx = (g * 9973 + f * 127 + t * 613 + r * 331) % 1024
        b[idx] = min(255, max(0, int(b[idx]) + (5 if (t + r) % 2 else -5)))
    return b.astype(np.uint8)


@query("dedup_image_phash", sql=None)
def dedup_image_phash(spark, sf_dir):
    """Near-dup image pairs via 64-bit pHash + pigeonhole Hamming
    banding over planted perturbed duplicates; planted-recall/precision
    invariants in inv_ok.

    DEMOTED to the documented SMALL-CORPUS tier (round 10, verdict r9
    item 8, the dedup_substring_spans pattern): 12-bit bands give 4096
    buckets, so chance collisions grow ~n^2/2^12 — measured 6.7x per
    10x data at sf10 (SCALING.md round 9). The routed default is
    ``dedup_image_phash_auto`` (operators/multimodal.py::
    phash_pairs_auto), which probes the corpus size and switches to
    128-bit signatures / 18-bit bands (measured 1.2x per 10x) past
    PHASH64_MAX_SIGS; this 64-bit form stays registered as the
    fixed-width adjudication surface for the <=10^4-image regime where
    it is ~2x cheaper per image."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    with_img = _planted_phash_corpus(spark, sf_dir)
    sigs = M.phash_images(with_img)
    pairs = D.hamming_pairs(sigs, sig_col="phash", max_hamming=4)
    return _planted_recall(
        d, pairs, 4,
        [F.col("hamming") <= F.lit(4)],
        ["a_id", "b_id", "hamming", "same_grp"],
    )


# Image near-dup CLUSTERING (round 9): the full multimodal dedup stage —
# pHash signatures -> Hamming-banded pairs -> alternating-star connected
# components (operators/dup_clusters.py) -> (doc, component, size). The
# planted corpus makes the fixpoint labels derivable from doc_id
# arithmetic alone (groups of four, label = the group's MIN PRESENT
# member — a windowed MIN, gap-correct on sparse-id corpora like the
# edge set; measured pHash margins guarantee the edge set is exactly
# the intra-group pairs), so the ITERATIVE clustering is adjudicated
# hash-exact — rare for a fixpoint algorithm. Docs whose group has a
# single member (corpus size not divisible by 4) label themselves.
@query(
    "dedup_image_clusters",
    sql="""
    SELECT doc_id,
           CAST(MIN(doc_id) OVER (PARTITION BY doc_id // 4) AS BIGINT)
               AS comp,
           CAST(COUNT(*) OVER (PARTITION BY doc_id // 4) AS BIGINT)
               AS csize
    FROM documents
    """,
)
def dedup_image_clusters(spark, sf_dir):
    """Image near-dup clusters: pHash -> Hamming pairs -> connected
    components; component label (min member) and size per document."""
    from corintick_spark.operators.dup_clusters import connected_components

    d = table(spark, sf_dir, "documents").select("doc_id")
    sigs = M.phash_images(_planted_phash_corpus(spark, sf_dir))
    pairs = D.hamming_pairs(sigs, sig_col="phash", max_hamming=4)
    labels = connected_components(pairs)
    out = (
        d.join(
            labels.select(
                F.col("node").alias("doc_id"), F.col("comp").alias("_c")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("_c", F.col("doc_id")).alias("comp")
        )
    )
    return out.withColumn(
        "csize", F.count(F.lit(1)).over(Window.partitionBy("comp"))
    ).select("doc_id", "comp", "csize")


# Image survivor selection (round 9): what the multimodal dedup stage
# actually EMITS — one canonical survivor per near-dup image cluster
# (min doc_id, the same deterministic policy as the text tier's
# dedup_survivors) and a keep/drop verdict per document. Planted labels
# make the whole pHash -> banding -> connected-components -> survivor
# pipeline derivable from doc_id arithmetic, so the oracle is exact.
@query(
    "dedup_image_survivors",
    sql="""
    SELECT doc_id,
           CAST(MIN(doc_id) OVER (PARTITION BY doc_id // 4) AS BIGINT)
               AS survivor,
           doc_id = MIN(doc_id) OVER (PARTITION BY doc_id // 4) AS keep
    FROM documents
    """,
)
def dedup_image_survivors(spark, sf_dir):
    """Canonical survivor (min member) per image near-dup cluster and a
    keep/drop verdict per document."""
    from corintick_spark.operators.dup_clusters import connected_components

    d = table(spark, sf_dir, "documents").select("doc_id")
    sigs = M.phash_images(_planted_phash_corpus(spark, sf_dir))
    pairs = D.hamming_pairs(sigs, sig_col="phash", max_hamming=4)
    labels = connected_components(pairs)
    return (
        d.join(
            labels.select(
                F.col("node").alias("doc_id"), F.col("comp").alias("_c")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("_c", F.col("doc_id")).alias("survivor"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("survivor"))
    )


# Corpus ingest audit (round 9 — the ADVICE-r8 "surface an error class"
# suggestion made a first-class operator): ONE scan over a mixed/dirty
# binary column classifying every payload — 'ok' (decoded, with stats),
# 'corrupt' (magic bytes pass, body malformed: truncated stream,
# spec-violating header), 'stub' (valid container hitting a documented
# codec stub, here arithmetic-coded JPEG SOF9), 'not_image'. No task
# failures, no silent nulls: at 100 TB this is the pass that tells you
# what fraction of the corpus decodes BEFORE the pipeline runs. Every
# class is planted per doc_id % 6, so the oracle pins status AND the
# decoded stats symbolically.
@query(
    "multimodal_scan_errors",
    sql="""
    WITH s AS (SELECT doc_id, doc_id % 6 AS cls FROM documents)
    SELECT doc_id,
           CASE WHEN cls <= 1 THEN 'ok'
                WHEN cls <= 3 THEN 'corrupt'
                WHEN cls = 4 THEN 'stub'
                ELSE 'not_image' END AS status,
           CASE WHEN cls <= 1 THEN CAST(3 AS BIGINT) END AS width,
           CASE WHEN cls <= 1 THEN CAST(2 AS BIGINT) END AS height,
           CASE WHEN cls <= 1 THEN CAST(list_sum(list_transform(
                range(0, 18), k -> (doc_id * 7 + k * 13) % 256))
                AS BIGINT) END AS px_sum
    FROM s
    """,
)
def multimodal_scan_errors(spark, sf_dir):
    """Ingest-audit scan: per-payload decode status (ok / corrupt / stub
    / not_image) + stats for decodable rows, planted per doc_id class."""
    d = spread_input(
        table(spark, sf_dir, "documents").select("doc_id")
    )

    stub_jpg = (
        b"\xff\xd8\xff\xc9" + (9).to_bytes(2, "big")
        + bytes([8]) + (8).to_bytes(2, "big") * 2 + bytes([1])
    )

    def payload(i: int) -> bytes:
        cls = i % 6
        if cls <= 1:
            px = bytes((i * 7 + k * 13) % 256 for k in range(18))
            enc = M.encode_png if cls == 0 else M.encode_bmp
            return enc(3, 2, px)
        elif cls == 2:
            px = bytes((i * 7 + k * 13) % 256 for k in range(18))
            return M.encode_png(3, 2, px)[:20]
        elif cls == 3:
            px = bytes((i * 7 + k * 13) % 256 for k in range(18))
            b = bytearray(M.encode_png(3, 2, px))
            b[20:24] = struct.pack(">I", 200)  # inflate IHDR height
            return bytes(b)
        elif cls == 4:
            return stub_jpg  # arithmetic SOF9: named stub
        else:
            return f"not an image {i}".encode()

    return M.scan_images(_planted(d, payload))


# Video (animated-sequence) near-dup (round 9): per-frame pHash joined
# WITHIN aligned frame index — two clips are near-dups when every
# sampled frame pairs inside the Hamming ball. Planted: groups of three
# (g = doc_id div 3), each doc a 4-frame animated GIF (256-gray global
# palette; frame f of group g seeded by the full-spectrum generator at
# g*4+f), members 1-2 perturbing 16 pixels per frame by ±5 — per-frame
# ball <= 2 bits, inter-group frames >= 12 apart, so matched_frames is
# exactly 4 for every intra-group pair and no cross-group frame pairs
# at all. Rows-only (float DCT); inv_ok gates same-group, full frame
# agreement, and pooled planted recall == 1. Group SIZE is constant, so
# pair volume stays linear in the corpus at 100 TB; the shuffle carries
# (id, frame_idx, 8-byte hash) rows only.
VIDEO_N_FRAMES = 4


def video_gif_payloads(d):
    """Planted animated-GIF corpus for the video tier: doc_id frame ->
    (doc_id, payload). Frame f of group g = doc_id div 3 is the pHash
    image generator at seed g*VIDEO_N_FRAMES+f, members 1-2 perturbing
    16 pixels per frame. Factored out of ``dedup_video_phash`` so
    scripts/measure_video_scale.py can MATERIALIZE the corpus to
    parquet once and measure the operator from payload inputs — the
    in-query synthesis (Python LZW encode per doc) otherwise dominates
    the SCALING row, misgrading a map-shaped operator."""
    return _planted(d, lambda i: _dct_gif(i, 3))


_GRAY_PALETTE = bytes(v for v in range(256) for _ in range(3))


def _dct_gif(i: int, lo: int, hi: "int | None" = None) -> bytes:
    """Animated 32x32 gray GIF of VIDEO_N_FRAMES planted frames: member
    i % 3 of clip group i // 3 (see :func:`_dct_member`)."""
    g, r = divmod(i, 3)
    frames = [
        {"left": 0, "top": 0, "iw": 32, "ih": 32, "disposal": 0,
         "transparent": None,
         "indices": list(_dct_member(g * VIDEO_N_FRAMES + f, g, r, f, lo, hi))}
        for f in range(VIDEO_N_FRAMES)
    ]
    return M.encode_gif_anim(32, 32, frames, _GRAY_PALETTE)


@query("dedup_video_phash", sql=None)
def dedup_video_phash(spark, sf_dir):
    """Video near-dup via aligned-frame pHash voting over planted
    animated GIFs; planted-recall/precision invariants in inv_ok."""
    N_FRAMES = VIDEO_N_FRAMES

    d = spread_input(
        table(spark, sf_dir, "documents").select("doc_id")
    )
    with_vid = video_gif_payloads(d)
    sigs = M.phash_video_frames(with_vid)
    frame_pairs = D.hamming_pairs(
        sigs, sig_col="phash", max_hamming=4, within=["frame_idx"]
    )
    votes = frame_pairs.groupBy("a_id", "b_id").agg(
        F.count(F.lit(1)).alias("matched_frames"),
        F.max("hamming").alias("max_hamming"),
    )
    near = votes.filter(F.col("matched_frames") * 4 >= F.lit(3 * N_FRAMES))
    return _planted_recall(
        d, near, 3,
        [
            F.col("matched_frames") == F.lit(N_FRAMES),
            F.col("max_hamming") <= F.lit(4),
        ],
        ["a_id", "b_id", "matched_frames", "max_hamming", "same_grp"],
    )


def video_gif_hybrid_payloads(d):
    """Planted animated-GIF corpus for the 128-bit video tier: frame f
    of group g is the HYBRID-amplitude generator (the image tier's —
    3x{±1..6} in the 8x8 DCT block, 2x{±1..6} in the right half only
    the 128-bit hash sees) at seed g*4+f, groups of three with members
    1-2 perturbing 16 pixels by ±5 per frame. Per-seed statistics are
    the image hybrid corpus's (128-bit intra <= 3, inter >= 43 over 400
    seeds), so d=6 keeps per-frame planted recall 1 / precision 1."""
    return _planted(d, lambda i: _dct_gif(i, 3, 2))


# 128-bit video near-dup (round 10): the longer-signature scale path
# for the VIDEO tier, closing the tail the round-10 operator-only
# re-measure exposed — from materialized payloads the 64-bit per-frame
# path still scales 21x per 10x data at sf10 (linear decode x10 plus
# the SAME 12-bit-band chance-collision tail the image tier had),
# while 128-bit per-frame signatures band into 18-bit chunks (262k
# buckets per frame slot). Same aligned-frame voting semantics as
# dedup_video_phash; planted corpus is the hybrid-amplitude generator
# per frame (image-tier margins: intra <= 3, inter >= 43), so d=6
# keeps planted recall 1 / precision 1. Rows-only (float DCT); inv_ok
# gates same-group, full frame agreement, and pooled recall == 1.
@query("dedup_video_phash128", sql=None)
def dedup_video_phash128(spark, sf_dir):
    """Video near-dup via aligned-frame 128-bit pHash voting — the
    chance-collision-safe path for >>10^5-clip corpora; planted
    recall/precision invariants in inv_ok."""
    N_FRAMES = VIDEO_N_FRAMES

    d = spread_input(
        table(spark, sf_dir, "documents").select("doc_id")
    )
    with_vid = video_gif_hybrid_payloads(d)
    sigs = M.phash128_video_frames(with_vid)
    frame_pairs = D.hamming_pairs(
        sigs,
        sig_col=["phash0", "phash1"],
        max_hamming=6,
        within=["frame_idx"],
    )
    votes = frame_pairs.groupBy("a_id", "b_id").agg(
        F.count(F.lit(1)).alias("matched_frames"),
        F.max("hamming").alias("max_hamming"),
    )
    near = votes.filter(F.col("matched_frames") * 4 >= F.lit(3 * N_FRAMES))
    return _planted_recall(
        d, near, 3,
        [
            F.col("matched_frames") == F.lit(N_FRAMES),
            F.col("max_hamming") <= F.lit(6),
        ],
        ["a_id", "b_id", "matched_frames", "max_hamming", "same_grp"],
    )


# Width-routed video near-dup (round 10): video_pairs_auto probes the
# CLIP count (one column-pruned scan, no payload bytes) and routes the
# per-frame signature width — 64-bit below PHASH64_MAX_SIGS clips,
# 128-bit/18-bit bands above, killing the measured ~21x-per-10x
# operator-only tail of the 64-bit tier (SCALING.md round 10). The
# hybrid-amplitude corpus is valid under BOTH widths (the image tier's
# measured margins carry per frame seed: 64-bit intra <= 1 / inter >=
# 17, 128-bit intra <= 3 / inter >= 43), so planted recall/precision
# stay 1 whichever route the probe takes. Rows-only; inv_ok gates
# same-group, full frame agreement at the taken route's threshold, and
# pooled planted recall == 1.
@query("dedup_video_phash_auto", sql=None)
def dedup_video_phash_auto(spark, sf_dir):
    """Width-routed video near-dup: one column-pruned clip count
    routes 64-bit vs 128-bit per-frame pHash; aligned-frame voting;
    planted recall/precision invariants hold under both routes."""
    N_FRAMES = VIDEO_N_FRAMES

    d = spread_input(
        table(spark, sf_dir, "documents").select("doc_id")
    )
    with_vid = video_gif_hybrid_payloads(d)
    # count the source table, not the GIF builder (see phash_pairs_auto)
    frame_pairs = M.video_pairs_auto(
        with_vid, n_hint=table(spark, sf_dir, "documents").count()
    )
    votes = frame_pairs.groupBy("a_id", "b_id", "sig_bits").agg(
        F.count(F.lit(1)).alias("matched_frames"),
        F.max("hamming").alias("max_hamming"),
    )
    near = votes.filter(F.col("matched_frames") * 4 >= F.lit(3 * N_FRAMES))
    return _planted_recall(
        d, near, 3,
        [
            F.col("matched_frames") == F.lit(N_FRAMES),
            F.col("max_hamming")
            <= F.when(F.col("sig_bits") == 64, F.lit(4)).otherwise(F.lit(6)),
        ],
        ["a_id", "b_id", "matched_frames", "max_hamming", "sig_bits", "same_grp"],
    )


# 128-bit pHash near-dup (round 9): the LONGER-SIGNATURE scale path —
# at d=6 the 128-bit signature bands into 7 chunks of 18 bits (262k
# buckets) where 64 bits would give 9 (512), the fix for chance bucket
# collisions once a corpus passes ~10^6 images (SCALING round-9 rule:
# longer signatures, not looser balls). Planted like the 64-bit tier
# but with nonzero amplitude in all 127 slots of the 8x16 low-freq
# block (horizontal frequency to 15, vertical to 7 — matching the
# block the hash thresholds): measured ball <= 3 bits, inter-group
# >= 38 over 200 seeds, so d=6 keeps planted recall 1 (intra <= 2*ball
# = 6) and precision 1 (>= 38 - 6 = 32 > 6). Rows-only (float DCT);
# same inv_ok gates as dedup_image_phash.
@query("dedup_image_phash128", sql=None)
def dedup_image_phash128(spark, sf_dir):
    """Near-dup image pairs via 128-bit pHash (two bigint words) +
    multi-word Hamming banding; planted-recall/precision invariants."""
    d = spread_input(table(spark, sf_dir, "documents").select("doc_id"))
    with_img = _planted(d, lambda i: _dct_png(i, 2, 2))
    sigs = M.phash128_images(with_img)
    pairs = D.hamming_pairs(
        sigs, sig_col=["phash0", "phash1"], max_hamming=6
    )
    return _planted_recall(
        d, pairs, 4,
        [F.col("hamming") <= F.lit(6)],
        ["a_id", "b_id", "hamming", "same_grp"],
    )


# Width-routed perceptual near-dup (round 10, verdict r9 item 2): the
# 64-bit pHash presents a measured 6.7x-per-10x candidate tail past
# ~10^4-10^5 images (chance 12-bit-band collisions, SCALING.md r9);
# the 128-bit path measures 1.2x. phash_pairs_auto probes the corpus
# size with one column-pruned count BEFORE any decode and routes the
# signature width — the dedup_substring_auto pattern applied to the
# image tier, retiring the unrouted 64-bit default. Planted corpus is
# HYBRID-amplitude (3x{±1..6} in the 8x8 DCT block both widths see,
# 2x{±1..6} in the right half only the 128-bit hash sees): measured
# margins 64-bit intra <= 1 / inter >= 17 and 128-bit intra <= 3 /
# inter >= 43 over 400 seeds, so BOTH routes keep planted recall 1 and
# precision 1 with their thresholds (4 / 6). Rows-only (float DCT);
# inv_ok gates same-group, in-ball hamming for the taken route, and
# pooled planted recall == 1.
def _planted_phash_hybrid_corpus(spark, sf_dir):
    """Planted near-dup image corpus valid under BOTH pHash widths:
    groups of four (g = doc_id div 4), base images with amplitude
    3x{±1..6} in the 8x8 low-freq DCT block and 2x{±1..6} in slots
    u=8..15 (the 8x16 block's right half), members 1-3 perturbing 16
    pixels by ±5, PNG-gray encoded. Shared by dedup_image_phash_auto
    and the incremental image tier."""
    d = spread_input(table(spark, sf_dir, "documents").select("doc_id"))
    return _planted(d, lambda i: _dct_png(i, 3, 2))


@query("dedup_image_phash_auto", sql=None)
def dedup_image_phash_auto(spark, sf_dir):
    """Width-routed perceptual near-dup: one column-pruned count routes
    64-bit vs 128-bit pHash signatures; planted recall/precision
    invariants hold under BOTH routes (hybrid-amplitude corpus)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    with_img = _planted_phash_hybrid_corpus(spark, sf_dir)
    # the probe through the payload BUILDER would re-run synthesis;
    # the source table answers the same count from parquet metadata
    pairs = M.phash_pairs_auto(with_img, n_hint=d.count())
    return _planted_recall(
        d, pairs, 4,
        [
            F.col("hamming")
            <= F.when(F.col("sig_bits") == 64, F.lit(4)).otherwise(F.lit(6)),
        ],
        ["a_id", "b_id", "hamming", "sig_bits", "same_grp"],
    )


# Incremental image dedup (round 10, verdict r9 item 5): the operator a
# daily ingest actually runs — the corpus persists (doc_id, phash0,
# phash1) ONCE; every new batch decodes only its own payloads and
# band-joins its signatures against the parquet table
# (operators/dedup.py::hamming_join — the bipartite twin of
# hamming_pairs, mirroring incremental_minhash_dedup). The corpus image
# bytes are never re-read on the incremental pass (plan-asserted in
# tests/test_plans.py). ORACLE-PAIRED: on the hybrid planted corpus
# (members r=0..2 in the corpus, r=3 arriving as the new batch) the
# measured 128-bit margins (intra <= 3, inter >= 43, d=6) make the
# matched pair set EXACTLY new-member-vs-its-group's-corpus-members —
# derivable from doc_id arithmetic alone.
@query(
    "dedup_image_incremental",
    sql="""
    SELECT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM documents n JOIN documents c
      ON (n.doc_id // 4) = (c.doc_id // 4)
    WHERE n.doc_id % 4 = 3 AND c.doc_id % 4 <> 3
    """,
)
def dedup_image_incremental(spark, sf_dir):
    """New-batch images near-duplicating an existing corpus, matched
    through a persisted pHash signature table only — the corpus is
    never re-decoded; exact expected pair set from planted margins."""
    import tempfile

    imgs = _planted_phash_hybrid_corpus(spark, sf_dir)
    corpus = imgs.filter(F.col("doc_id") % 4 != 3)
    new_batch = imgs.filter(F.col("doc_id") % 4 == 3)
    sig_path = tempfile.mkdtemp(prefix="imgsig_") + "/sig"
    M.phash128_images(corpus).write.mode("overwrite").parquet(sig_path)
    pairs = D.incremental_neardup(
        new_batch,
        spark.read.parquet(sig_path),
        M.phash128_images,
        sig_col=["phash0", "phash1"],
        max_hamming=6,
    )
    return pairs.select("new_id", "corpus_id")


# Audio ingest audit (round 9, the audio twin of multimodal_scan_errors):
# ONE map-only pass classifying every payload — 'ok' (decoded, with
# sample count/sum), 'corrupt' (RIFF magic, malformed body: an
# MS-ADPCM block header naming predictor 7 of 0-6), 'stub' (valid WAV
# container hitting a documented codec stub: MP3-in-WAV format tag 85,
# 3-channel ADPCM), 'not_audio'. Classes planted per doc_id % 6 so the
# oracle pins status AND the decoded stats symbolically.
@query(
    "multimodal_scan_audio_errors",
    sql="""
    WITH s AS (SELECT doc_id, doc_id % 6 AS cls, doc_id % 20 + 2 AS n
               FROM documents)
    SELECT doc_id,
           CASE WHEN cls <= 1 THEN 'ok'
                WHEN cls = 2 THEN 'corrupt'
                WHEN cls <= 4 THEN 'stub'
                ELSE 'not_audio' END AS status,
           CASE WHEN cls <= 1 THEN CAST(n AS BIGINT) END AS n_samples,
           CASE WHEN cls = 0 THEN CAST(list_sum(list_transform(
                    range(0, n::INT),
                    k -> (doc_id * 13 + k * 7) % 4096 - 2048)) AS BIGINT)
                WHEN cls = 1 THEN CAST(list_sum(list_transform(
                    range(0, n::INT),
                    k -> (doc_id + k) % 256 - 128)) AS BIGINT)
           END AS sample_sum
    FROM s
    """,
)
def multimodal_scan_audio_errors(spark, sf_dir):
    """Audio ingest-audit scan: per-payload decode status (ok / corrupt
    / stub / not_audio) + sample stats for decodable rows."""
    d = spread_input(table(spark, sf_dir, "documents").select("doc_id"))

    def payload(i: int) -> bytes:
        cls, n = i % 6, i % 20 + 2
        if cls == 0:
            vals = [(i * 13 + k * 7) % 4096 - 2048 for k in range(n)]
            return _wav(1, 1, 16000, 32000, 2, 16, struct.pack(f"<{n}h", *vals))
        elif cls == 1:
            raw = bytes((i + k) % 256 for k in range(n))
            return _wav(1, 1, 8000, 8000, 1, 8, raw)
        elif cls == 2:  # MS-ADPCM predictor index 7: spec-malformed
            bad = struct.pack("<Bhhh", 7, 16, 0, 0) + bytes(2)
            return _wav(2, 1, 8000, 8000, 9, 4, bad)
        elif cls == 3:  # MP3-in-WAV: documented stub
            return _wav(85, 1, 8000, 8000, 1, 0, bytes(8))
        elif cls == 4:  # 3-channel ADPCM: documented stub
            return _wav(0x11, 3, 8000, 24000, 16, 4, bytes(16))
        else:
            return f"not audio {i}".encode()

    return M.scan_audio(_planted(d, payload))


def _audio_plant_bit(m: int, k: int) -> int:
    """Default planted walk bit — SQL-replayable (the dedup_audio_fp
    oracle recomputes it), but PERIOD 64 IN m: bit 5 of the sum sees
    only the low 6 bits of m*2654435761, measured by a 200k-key
    collision sweep. Safe for modular keys < 64 (the exact tier's
    %40); block-keyed corpora must use :func:`_audio_plant_bit_mix`."""
    return ((m * 2654435761 + k * 40503) >> 5) & 1


def _audio_plant_bit_mix(m: int, k: int) -> int:
    """Full-entropy planted walk bit (splitmix64 finalizer over
    (m << 8) ^ k): 0 collisions over 300k block keys measured — the
    recipe for corpora whose group KEY grows with the corpus, where
    the exact-equality (d=0) oracle needs distinct per-group
    fingerprints. Not SQL-replayed (the incremental oracle pins the
    PAIR SET from doc_id arithmetic, not the hash value)."""
    mask = (1 << 64) - 1
    x = ((m << 8) ^ k) & mask
    x = (x * 0x9E3779B97F4A7C15) & mask
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & mask
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & mask
    x ^= x >> 31
    return x & 1


def _planted_audio_fp_corpus(d, content_key=None, bit_fn=None):
    """Planted transcoded-duplicate PCM corpus for the exact audio
    tier: content keyed by ``content_key(doc_id)`` (default
    doc_id % 40 — a 63-bit amplitude walk whose comparison pattern IS
    the fingerprint), duplicates being TRANSCODED copies — amplitude
    scale x(doc_id%3+1) and alternating 16/24-bit encodings, both
    exactly fingerprint-invariant. Shared by ``dedup_audio_fp``
    (modular key: fixed 40 groups, sizes the window oracle counts) and
    ``dedup_audio_incremental`` (block key doc_id div 10: FIXED group
    size, so pair volume stays linear in the corpus — a modular key
    grows group sizes with the corpus and made the round-10 sf10
    SCALING row quadratic by construction)."""
    key = content_key or (lambda i: i % 40)
    bit_of = bit_fn or _audio_plant_bit

    def payload(i: int) -> bytes:
        m, s = key(i), i % 3 + 1
        a, amps = 2048, []
        for k in range(65):
            amps.append(a)
            bit = 0 if k == 63 else bit_of(m, k)
            a += 16 if bit else -16
        vals = []
        for av in amps:
            vals += [av * s] * 4  # 65 frames x 4 samples = 260
        if i % 2 == 0:
            return M.encode_wav_pcm(16000, 1, vals, 16)
        else:  # 24-bit transcode: exact x256 energy scale
            return M.encode_wav_pcm(16000, 1, [v * 256 for v in vals], 24)

    return _planted(d, payload)


# Perceptual AUDIO dedup, EXACT tier (round 10, verdict r9 item 3): the
# audio analogue of dedup_image_dhash — energy-delta fingerprint
# (operators/multimodal.py::audio_fp_words, Haitsma-Kalker family) over
# planted piecewise-stationary PCM, where the planted amplitude-walk
# comparison pattern IS the fingerprint. Duplicates are TRANSCODED
# copies: amplitude scale x(doc_id%3+1) and alternating 16-bit /
# 24-bit (x256) encodings — both multiply every frame energy by an
# exact square, so copies fingerprint bit-identically and the oracle
# reconstructs the hash AND the duplicate-group size from doc_id
# arithmetic alone (the same adjudication structure as the dhash
# oracle; bit 63 planted 0 so no sign wrap).
@query(
    "dedup_audio_fp",
    sql="""
    WITH s AS (SELECT doc_id, doc_id % 40 AS m FROM documents)
    SELECT doc_id,
           CAST(260 AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, 63),
               k -> CASE WHEN ((m * 2654435761 + k * 40503) // 32) % 2 = 1
                    THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT)
                    END)) AS BIGINT) AS afp,
           CAST(COUNT(*) OVER (PARTITION BY m) AS BIGINT) AS n_copies
    FROM s
    """,
)
def dedup_audio_fp(spark, sf_dir):
    """Exact audio dedup via energy-delta fingerprint: per-doc planted
    PCM (amplitude-scaled, 16/24-bit transcoded) -> 64-bit fingerprint
    -> duplicate group sizes; fingerprint adjudicated bit-exact."""
    d = spread_input(table(spark, sf_dir, "documents").select("doc_id"))
    with_audio = _planted_audio_fp_corpus(d)
    fp = M.fingerprint_audio(with_audio)
    return fp.withColumn(
        "n_copies", F.count(F.lit(1)).over(Window.partitionBy("afp"))
    ).select("doc_id", "n_samples", "afp", "n_copies")


# Perceptual AUDIO dedup, NEAR tier (round 10): resampled/transcoded
# duplicate audio — the same pipeline stage as re-encoded images.
# Groups of three (g = doc_id div 3): base 12 kHz s16 piecewise-
# stationary PCM (65 planted amplitude frames x 40 samples), member 1
# LINEAR-RESAMPLED to 8 kHz (the exact integer math of
# resample_audio_linear), member 2 re-encoded IEEE float32 (decoder
# scales by 32767 with per-sample rounding). Time-fraction frames make
# the fingerprint resample-robust: measured ball 0 and min inter-group
# distance 16 over ALL pairs of 400 seeds, so max_hamming=4 keeps
# planted recall 1 and precision 1. Rows-only (fingerprint
# construction is not SQL-replayable through the resample); inv_ok
# gates same-group, in-ball hamming, and pooled planted recall == 1.
@query("dedup_audio_near", sql=None)
def dedup_audio_near(spark, sf_dir):
    """Near-dup audio pairs via energy-delta fingerprint + Hamming
    banding over planted resampled/float-transcoded duplicates;
    planted-recall/precision invariants in inv_ok."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def base_samples(g: int) -> "list[int]":
        v = (g * 2654435761 + 97) % (2**31)
        a, x = 2048, []
        for _ in range(65):
            x += [a] * 40
            v = (v * 1103515245 + 12345) % (2**31)
            a += 16 if (v >> 16) & 1 else -16
        return x

    with_audio = _planted(
        spread_input(d), lambda i: _near_audio(base_samples(i // 3), i % 3)
    )
    sigs = M.fingerprint_audio(with_audio)
    pairs = D.hamming_pairs(sigs, sig_col="afp", max_hamming=4)
    return _planted_recall(
        d, pairs, 3,
        [F.col("hamming") <= F.lit(4)],
        ["a_id", "b_id", "hamming", "same_grp"],
    )


# Incremental AUDIO dedup (round 10): completes the audio lifecycle the
# way dedup_image_incremental completes the image tier's — the corpus
# persists (doc_id, afp) ONCE; a new batch decodes only its own
# payloads and equality-joins its fingerprints against the parquet
# signature table (hamming_join at d=0 — one 63-bit pigeonhole chunk,
# i.e. an exact-match band join; transcoded duplicates fingerprint
# bit-identically so d=0 IS the transcode-dedup operator). Corpus audio
# bytes are never re-read on the incremental pass (plan-asserted in
# tests/test_plans.py). ORACLE-PAIRED: content is keyed by the BLOCK
# m = doc_id div 10 — FIXED group size, so the matched pair volume
# stays LINEAR in the corpus (a modular key like the exact tier's
# %40 grows group sizes with the corpus: the round-10 sf10 SCALING
# run measured the resulting by-construction-quadratic output before
# this re-key) — and the batch split is within-block: members 8-9 of
# each 10-block arrive as the new batch. Matched set is exactly
# new-member x same-block corpus members, doc_id arithmetic alone.
# Planted min inter-group fingerprint distance can be as low as 1
# (measured on the modular corpus), so ONLY d=0 keeps the set exact —
# the near tier (dedup_audio_near) carries the resample ball instead.
@query(
    "dedup_audio_incremental",
    sql="""
    SELECT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM documents n JOIN documents c
      ON (n.doc_id // 10) = (c.doc_id // 10)
    WHERE n.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
    """,
)
def dedup_audio_incremental(spark, sf_dir):
    """New-batch audio duplicating an existing corpus, matched through
    a persisted fingerprint table only — the corpus is never
    re-decoded; exact expected pair set from transcode invariance,
    linear pair volume (fixed-size planted groups)."""
    import tempfile

    d = spread_input(table(spark, sf_dir, "documents").select("doc_id"))
    audio = _planted_audio_fp_corpus(
        d, content_key=lambda i: i // 10, bit_fn=_audio_plant_bit_mix
    )
    is_new = F.expr("doc_id % 10 >= 8")
    corpus = audio.filter(~is_new)
    new_batch = audio.filter(is_new)
    sig_path = tempfile.mkdtemp(prefix="audsig_") + "/sig"
    (
        M.fingerprint_audio(corpus)
        .select("doc_id", "afp")
        .write.mode("overwrite")
        .parquet(sig_path)
    )
    pairs = D.incremental_neardup(
        new_batch,
        spark.read.parquet(sig_path),
        lambda df: M.fingerprint_audio(df).select("doc_id", "afp"),
        sig_col="afp",
        max_hamming=0,
    )
    return pairs.select("new_id", "corpus_id")


def _near_audio(x: "list[int]", r: int) -> bytes:
    """Member r of a planted near-dup audio group over the 12 kHz base
    samples ``x``: 0 is s16 as is, 1 is linear-resampled to 8 kHz (the
    integer math of resample_audio_linear), 2 is float32 re-encoded."""
    if r == 0:
        return M.encode_wav_pcm(12000, 1, x, 16)
    if r == 1:
        return M.encode_wav_pcm(8000, 1, M.resample_linear(x, 1, 12000, 8000), 16)
    return M.encode_wav_pcm(12000, 1, x, 32)


def _audio_129_base(g: int) -> "list[int]":
    """129-plateau amplitude walk (40 samples each, splitmix bits —
    full-entropy in g, see _audio_plant_bit_mix) — the planted content
    for the 128-bit audio fingerprint tier: fp128 margins measured
    over 300 groups: resample ball 0, min inter-group distance 40."""
    a, x = 2048, []
    for k in range(129):
        x += [a] * 40
        a += 16 if _audio_plant_bit_mix(g << 1, k) else -16
    return x


# 128-bit audio near-dup (round 10): the longer-signature scale path
# for the audio fingerprint — the 64-bit tier measured a ~14x-per-10x
# candidate tail at 50k clips (12-bit bands; SCALING.md round 10);
# 128-bit signatures at d=4 band into 25-bit chunks (33M buckets).
# Planted groups of three: base 12 kHz s16, member 1 linear-resampled
# to 8 kHz, member 2 float32 re-encoded — fp128 margins measured over
# 300 groups (resample ball 0, float32 included; min inter 40), so
# d=4 keeps planted recall 1 / precision 1. Rows-only; same invariant
# structure as dedup_audio_near.
@query("dedup_audio_near128", sql=None)
def dedup_audio_near128(spark, sf_dir):
    """Near-dup audio pairs via the 128-bit (two-word) energy-delta
    fingerprint + multi-word Hamming banding over planted resampled /
    float-transcoded duplicates; planted invariants in inv_ok."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    with_audio = _planted(
        spread_input(d), lambda i: _near_audio(_audio_129_base(i // 3), i % 3)
    )
    sigs = M.fingerprint_audio_multi(with_audio)
    pairs = D.hamming_pairs(sigs, sig_col=["afp0", "afp1"], max_hamming=4)
    return _planted_recall(
        d, pairs, 3,
        [F.col("hamming") <= F.lit(4)],
        ["a_id", "b_id", "hamming", "same_grp"],
    )


# Width-routed audio near-dup (round 10): audio_pairs_auto probes the
# clip count (n_hint — the documents table answers from parquet
# metadata) and routes 64-bit vs 128-bit fingerprints. The planted
# corpus here uses TRANSCODE duplicates only (amplitude x2/x3,
# 16/24-bit) — every copy fingerprints BIT-IDENTICALLY at ANY width
# (energy comparisons are scale-exact by algebra), so the corpus is
# valid under both routes without needing dual-width resample margins
# (65-frame and 129-frame plateau boundaries cannot align — 65 and
# 129 are coprime — so a resample ball at BOTH widths is impossible
# on one corpus; the resample robustness of each width is adjudicated
# by dedup_audio_near / dedup_audio_near128 instead). Rows-only;
# inv_ok gates same-group, hamming == 0, route-threshold, and pooled
# planted recall == 1.
@query("dedup_audio_auto", sql=None)
def dedup_audio_auto(spark, sf_dir):
    """Width-routed audio dedup: one metadata count routes 64-bit vs
    128-bit fingerprints over planted transcoded duplicates (exactly
    invariant under both widths); planted invariants in inv_ok."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def payload(i: int) -> bytes:
        g, r = divmod(i, 3)
        x = _audio_129_base(g)
        if r == 0:
            return M.encode_wav_pcm(12000, 1, x, 16)
        elif r == 1:  # amplitude x3: energies x9, exact invariance
            return M.encode_wav_pcm(12000, 1, [3 * v for v in x], 16)
        else:  # 24-bit transcode: x256, exact invariance
            return M.encode_wav_pcm(12000, 1, [256 * v for v in x], 24)

    with_audio = _planted(spread_input(d), payload)
    pairs = M.audio_pairs_auto(with_audio, n_hint=d.count())
    return _planted_recall(
        d, pairs, 3,
        [F.col("hamming") == F.lit(0)],
        ["a_id", "b_id", "hamming", "sig_bits", "same_grp"],
    )
