"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k (the exact baseline) and an LSH-bucketed
approximate variant (the scale path).

Part of the LLM-training-data operator set (SURVEY.md §7 Stage 3).
The reference pipeline has no vector surface; the engine adds one
because dedup/retrieval over embeddings is core to a 100 TB data
pipeline.

Scale design:
- **Brute force is a broadcast, not a cross join.** The query vector
  (or a small query *set*) is broadcast to executors; scoring is a
  map-only stage over the embeddings scan followed by a
  TakeOrderedAndProject top-k — no shuffle of the big side, ever.
  At 100 TB this is scan-bound, the right baseline.
- **LSH variant prunes the scan.** Random-hyperplane signs (seeded,
  deterministic) bucket vectors; only buckets matching the query's
  signature within a Hamming radius are scored. Bucket ids are a
  partition-prunable column when the table is written partitioned by
  them.
- **Exact arithmetic for oracle-stable scores.** Dot products and
  norms accumulate per-element double products cast to
  DECIMAL(30,12): float->double widening is exact, the double product
  is IEEE-identical everywhere, the decimal cast is deterministic, and
  decimal summation is exact (order-independent). Both engines
  therefore compute bit-identical cosines before the final rounding —
  no half-boundary divergence (the round-1 flagship bug class).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Exact decimal dot product (canonical builder in functions/exact.py;
# see module docstring there for why this is engine-stable).
from real_time_ride_hailing_data_pipeline_spark.functions.exact import (  # noqa: E402
    decimal_dot as _dot_decimal,
)


def cosine_similarity_expr(a: str, b: str, decimals: int = 6) -> Column:
    """Cosine similarity of two vector columns, rounded to ``decimals``.

    cast(double) of exact decimal dot/norms -> identical doubles in
    every engine -> identical rounding.
    """
    return F.expr(
        f"round(cast({_dot_decimal(a, b)} as double) / "
        f"  (sqrt(cast({_dot_decimal(a, a)} as double)) * "
        f"   sqrt(cast({_dot_decimal(b, b)} as double))), {decimals})"
    )


def brute_force_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a (1-row or small) query set.

    Two-phase since r12: delegates to :func:`brute_force_topk_batch`
    (lossless fp64 BLAS screen + exact-DECIMAL refine — the previous
    form paid the interpreted decimal fold for EVERY corpus row; at
    sf1 that was 14 s for one query where the screen form is
    sub-second). For a multi-row query set, the global top-k over the
    union of per-query top-k's equals the old global ranking over all
    (row, query) pairs — any globally-ranked pair is inside its own
    query's top-k. Ties broken by id for determinism. Returns
    (vec_id, sim) sorted desc.
    """
    qids = query.select(F.col(vec_col).alias(vec_col)).withColumn(
        "_bfqid", F.monotonically_increasing_id()
    )
    ranked = brute_force_topk_batch(
        embeddings,
        qids,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col="_bfqid",
    )
    return (
        ranked.select(F.col(id_col), F.col("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def brute_force_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    screen_margin: int = 32,
    mask_col: str | None = None,
    query_masks: dict | None = None,
) -> DataFrame:
    """Exact per-query top-k against a broadcast query *set* — the
    batch retrieval shape (eval-set decontamination, hard-negative
    mining run k queries at once, not one).

    Two-phase, like :func:`bucketed_cosine_pairs` (r12 — the previous
    single-phase form scored every (corpus row × query) pair with the
    interpreted exact-DECIMAL fold, ~5× slower than DuckDB at sf1;
    the hot loop is now one BLAS matmul per Arrow batch):

    - **Screen (Arrow mapInPandas, fp64 BLAS):** the query matrix is
      collected once (Q is small by contract — it rides a broadcast
      either way) and captured in the closure; each corpus batch
      computes an (n × Q) cosine matrix in one ``X @ Q.T`` and keeps,
      per query, every row whose cosine can reach within ``1e-6 +
      1e-9`` of its batch-local ``k + screen_margin``-th best.
      LOSSLESS w.r.t. the REFINE'S ranking, which orders by
      round(sim, 6) DESC then id ASC: two rows up to 1e-6 apart in
      raw cosine can round to the SAME 6-dp value and tie-break by
      id, so the band must cover the full rounding granularity (1e-6)
      plus fp drift (1e-9) — a bare fp-drift band would screen out a
      lower-id row that the exact ranking tie-breaks INTO the top-k
      (ADVICE r12, matching bucketed_cosine_pairs' 1e-6 margin). The
      refine's cosine is not the fp64 one either: ``decimal_dot``
      rounds each of its d products to 12 dp (its sums are exact), so
      x·q, ‖x‖² and ‖q‖² are each off by up to ``e = d·0.5e-12``,
      which moves the cosine by up to ``(e/(‖x‖‖q‖) + 1 − s)/s``,
      ``s = sqrt((1 − e/‖x‖²)(1 − e/‖q‖²))`` — nothing for
      unit-scale vectors, ~1e-4 for six components near 1e-4. The screen therefore finds the cut on
      each row's lowest possible refine cosine (fp64 − bound) and
      keeps a row when its highest possible one (fp64 + bound)
      reaches it. Candidate volume is O((k + margin +
      ties-within-the-band) × Q × batches), independent of corpus
      size.
    - **Refine (JVM, exact DECIMAL):** candidates join back to their
      vectors (corpus by id — a broadcast-able candidate set; query
      side broadcast) and only they pay the exact-decimal dot
      product, so the reported sims stay bit-identical across engines
      (module docstring). Final ranking: row_number over
      (sim DESC, id ASC), rn <= k.

    ``mask_col``/``query_masks`` (r14, VERDICT r13 item 3 — the
    cell-masked batch screen): when set, ``mask_col`` names a column
    of ``embeddings`` (e.g. an IVF cell id) and ``query_masks`` maps
    each query id to the set of mask values that query is allowed to
    see. The screen then cuts each query's batch-local top-m over ITS
    masked subset only, and keeps only masked rows — so Q queries
    with different probe sets share ONE scan of the union instead of
    Q per-query plan branches, while each query's candidate set (and
    therefore its exact top-k) still depends only on its own allowed
    subset. Losslessness argument is unchanged: per (batch, query)
    the masked subset is just "the corpus" of the single-query proof.

    Returns (query_id, rn, vec_id, sim).
    """
    import numpy as np

    spark = embeddings.sparkSession
    qrows = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    ).collect()
    qids = [r["_qid"] for r in qrows]  # native type — ids need not be long
    qmat = np.asarray([list(r["_qvec"]) for r in qrows], dtype=np.float64)
    qnorms = np.sqrt((qmat * qmat).sum(axis=1))
    # zero-norm guard: a 0-vector's cosine is undefined; inf norm makes
    # its sims 0.0 (finite) instead of NaN — an unguarded NaN landing on
    # np.partition's cut element would make keep all-False and silently
    # drop the ENTIRE batch's candidates for that query (ADVICE r12)
    qnorms = np.where(qnorms == 0.0, np.inf, qnorms)
    m = k + screen_margin
    # the refine ranks by round(sim, 6): the band must cover the full
    # 6-dp rounding granularity plus fp drift, not just drift — see
    # docstring (ADVICE r12)
    eps = 1e-6 + 1e-9
    mask_arrays = None
    if mask_col is not None:
        if query_masks is None:
            raise ValueError("mask_col requires query_masks")
        unmasked = [qid for qid in qids if qid not in query_masks]
        if unmasked:
            raise ValueError(
                f"query_masks has no entry for query id(s) {unmasked[:10]} "
                f"({len(unmasked)} of {len(qids)} queries); every query "
                f"needs its allowed {mask_col!r} values"
            )
        mask_arrays = [np.asarray(sorted(query_masks[qid])) for qid in qids]

    def _screen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            vecs = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.sqrt((vecs * vecs).sum(axis=1))
            norms = np.where(norms == 0.0, np.inf, norms)
            denom = np.outer(norms, qnorms)
            sims = (vecs @ qmat.T) / denom  # n x Q
            # belt-and-braces: any residual non-finite sim (NaN/inf in
            # the raw vectors — out of contract) must never poison the
            # partition cut; rank it last instead
            np.nan_to_num(sims, copy=False, nan=-np.inf)
            # per-(row, query) bound on |fp64 − refine| cosine (see
            # docstring); a zero-norm side (inf norm) bounds to 0
            e = vecs.shape[1] * 0.5e-12
            with np.errstate(divide="ignore"):
                s = np.outer(
                    np.sqrt(np.clip(1 - e / norms**2, 0, None)),
                    np.sqrt(np.clip(1 - e / qnorms**2, 0, None)),
                )
                err = (e / denom + 1 - s) / s
            lo, hi = sims - err, sims + err
            masks = (
                pdf[mask_col].to_numpy() if mask_arrays is not None else None
            )
            out_q, out_id = [], []
            for j in range(sims.shape[1]):
                if masks is None:
                    top = min(m, sims.shape[0])
                    cut = np.partition(lo[:, j], -top)[-top] - eps
                    keep = np.nonzero(hi[:, j] >= cut)[0]
                else:
                    # this query sees only its allowed subset: cut over
                    # the masked sims, keep masked survivors — per
                    # (batch, query) exactly the unmasked screen run on
                    # the subset, so the losslessness proof carries over
                    mj = np.isin(masks, mask_arrays[j])
                    lom = lo[mj, j]
                    if lom.size == 0:
                        continue
                    top = min(m, lom.size)
                    cut = np.partition(lom, -top)[-top] - eps
                    keep = np.nonzero(mj & (hi[:, j] >= cut))[0]
                out_q.extend([qids[j]] * len(keep))
                out_id.extend(ids[keep].tolist())
            yield pd.DataFrame({query_id_col: out_q, id_col: out_id})

    # output schema derives from the INPUT id types (string/int/...
    # doc ids all pass through unchanged — ADVICE r12: the previous
    # hardcoded `long, long` corrupted non-long ids)
    q_id_type = queries.schema[query_id_col].dataType.simpleString()
    c_id_type = embeddings.schema[id_col].dataType.simpleString()
    screen_cols = [id_col, vec_col] + ([mask_col] if mask_col else [])
    cands = embeddings.select(*screen_cols).mapInPandas(
        _screen, f"{query_id_col} {q_id_type}, {id_col} {c_id_type}"
    )
    # zero-norm rows are EXCLUDED (cosine undefined; the screen scores
    # them 0.0 but a batch containing only zero vectors still emits
    # them as batch-local "best" candidates, and the exact refine's
    # division would raise under ANSI mode)
    corpus = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(
            f"sqrt(cast({_dot_decimal(vec_col, vec_col)} as double))"
        ).alias("_nrm"),
    ).filter(F.col("_nrm") > 0)
    q = F.broadcast(
        spark.createDataFrame(
            [(r["_qid"], r["_qvec"]) for r in qrows],
            queries.select(
                F.col(query_id_col).alias("_qid"),
                F.col(vec_col).alias("_qvec"),
            ).schema,
        ).withColumn(
            "_qnrm",
            F.expr(f"sqrt(cast({_dot_decimal('_qvec', '_qvec')} as double))"),
        ).filter(F.col("_qnrm") > 0)
    )
    # same operand order as cosine_similarity_expr: corpus norm first
    scored = (
        cands.join(corpus, id_col)
        .join(q, cands[query_id_col] == q["_qid"])
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.expr(
                f"round(cast({_dot_decimal(vec_col, '_qvec')} as double) / "
                f"  (_nrm * _qnrm), 6)"
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, "rn", id_col, "sim")
    )


def plane_signs(num_planes: int = 16, dim: int = 64) -> list:
    """The deterministic ±1 hyperplane-normal components used by
    :func:`hyperplane_signature`: ``plane_signs(P, D)[p][j]`` is
    component j of plane p's normal, derived from md5(f"{p}:{j}")
    (first hex nibble odd → +1). Data-independent and seedless, so
    ANY engine that embeds these integers as literals computes the
    identical signature — this is what lets the DuckDB oracles replay
    the LSH bucketing bit-exactly (r13)."""
    import hashlib

    def _sign(p: int, j: int) -> int:
        nibble = hashlib.md5(f"{p}:{j}".encode()).hexdigest()[0]
        # original SQL: 2 * ((instr('0123456789abcdef', nibble) - 1) % 2) - 1
        return 2 * (int(nibble, 16) % 2) - 1

    return [[_sign(p, j) for j in range(dim)] for p in range(num_planes)]


def hyperplane_signature(vec_col: str, num_planes: int = 16, dim: int = 64) -> Column:
    """Deterministic random-hyperplane LSH signature (a bit per plane).

    Plane p's normal has component c_j in {-1, +1} derived from
    md5(p:j) — seedless, engine-portable determinism. Sign of the
    (+/-1-weighted) projection gives bit p. Map-only.

    r12: the md5-derived signs are DATA-INDEPENDENT (they depend only
    on (p, j)), but the original expression recomputed md5 inside the
    per-element lambda — planes × dim interpreted md5 calls PER ROW
    (5.1M md5s on a 20k-vector scan, the entire cost of the LSH
    entry). The signs are now computed once driver-side — bit-equal
    by construction: Python's md5 of the same "p:j" bytes, first hex
    nibble odd → +1 — and embedded as integer literals, so the scan
    does only the multiply-accumulate.

    r13: the sign table is exposed as :func:`plane_signs` so an
    oracle (DuckDB SQL) can embed the SAME literals and replay the
    bucketing exactly — the LSH tier no longer needs rows-only
    verification.
    """
    planes = plane_signs(num_planes, dim)
    bits = []
    for p, signs in enumerate(planes):
        arr = "array(" + ",".join(str(s) for s in signs) + ")"
        proj = (
            f"aggregate(zip_with({vec_col}, {arr}, (x, s) -> "
            f"  cast(cast(x as double) * s as decimal(30,12))), "
            f"  cast(0 as decimal(38,12)), "
            f"  (acc, v) -> cast(acc + v as decimal(38,12)))"
        )
        bits.append(
            f"(case when {proj} > 0 then cast({1 << p} as bigint) "
            f"else cast(0 as bigint) end)"
        )
    return F.expr(" + ".join(bits))


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane signature
    matches the query's exactly (Hamming radius 0; widen by unioning
    neighboring signatures for higher recall).

    The signature equality is a *filter*, not a join of the big side.
    As executed here it is a cheap predicate over a full scan — the
    UNMATERIALIZED twin. The materialized layout that turns the same
    filter into partition pruning (shrinking a 100 TB scan by
    ~2^-num_planes) is an EXECUTED path since late r13:
    :func:`build_lsh_index` writes the corpus ``partitionBy("sig")``
    and :func:`lsh_topk_indexed` probes it (PartitionFilters
    plan-asserted; registry entry ``ann_lsh_indexed_topk`` carries the
    shared full value-hash oracle).
    """
    sig = hyperplane_signature(vec_col, num_planes, dim)
    emb_sig = embeddings.withColumn("_sig", sig)
    q_sig = F.broadcast(
        query.select(F.col(vec_col).alias("_qvec")).withColumn(
            "_qsig", hyperplane_signature("_qvec", num_planes, dim)
        )
    )
    pruned = emb_sig.join(q_sig, F.col("_sig") == F.col("_qsig")).select(
        F.col(id_col), F.col(vec_col)
    )
    # the signature filter prunes the scan; scoring the surviving
    # bucket delegates to the r12 two-phase top-k (same decimal
    # ranking, no interpreted per-row fold)
    return brute_force_topk(pruned, query, k=k, id_col=id_col, vec_col=vec_col)


def build_lsh_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    dim: int = 64,
) -> None:
    """MATERIALIZE the LSH index: signatures computed once (map-only)
    and the corpus written ``partitionBy("sig")`` — the layout the
    ``lsh_bucketed_topk`` docstring points at, as an EXECUTED path:
    probes against this index are partition pruning (the scan never
    lists unprobed signatures' files), shrinking a 100 TB scan by
    ~2^-num_planes. The build half of the same build-then-probe
    contract as ``ivf.build_cell_index``; probe half:
    :func:`lsh_topk_indexed` (PartitionFilters plan-asserted in
    tests/test_plans.py). At production plane counts a banded PREFIX
    of the signature keeps the partition count bounded; here the full
    signature is the partition key (num_planes<=16 -> <=65536 cells,
    populated cells bounded by the corpus).

    Like the IVF index, the layout is ``sig=<s>/ingest_epoch=<e>``
    (base rows in epoch -1) so :func:`ingest_into_lsh_index` can
    maintain it exactly-once; probes filter only on ``sig``."""
    # sig-clustered write (guide §6, same trade as ivf.build_cell_index):
    # one shuffle so each populated signature lands as ONE file instead
    # of O(tasks x sigs) fragments — the probe reads whole buckets, so
    # the bucket IS the right file unit.
    embeddings.withColumn(
        "sig", hyperplane_signature(vec_col, num_planes, dim)
    ).withColumn("ingest_epoch", F.lit(-1)).repartition(
        "sig"
    ).write.partitionBy("sig", "ingest_epoch").mode("overwrite").parquet(path)


def ingest_into_lsh_index(
    batch: DataFrame,
    path: str,
    epoch: int,
    vec_col: str = "embedding",
    num_planes: int = 16,
    dim: int = 64,
) -> None:
    """EXACTLY-ONCE incremental maintenance of the signature-
    partitioned LSH index — the LSH twin of
    ``ivf.ingest_into_cell_index``: signatures are data-independent
    (same md5 plane literals), so base+delta ingest is bit-identical
    to a full rebuild, and dynamic partition overwrite on
    ``sig=<s>/ingest_epoch=<epoch>`` makes a crash-replayed
    micro-batch (same deterministic batchId) REPLACE its previous
    attempt instead of appending duplicates."""
    batch.withColumn(
        "sig", hyperplane_signature(vec_col, num_planes, dim)
    ).withColumn("ingest_epoch", F.lit(int(epoch))).repartition(
        "sig"
    ).write.partitionBy("sig", "ingest_epoch").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(path)


def lsh_topk_indexed(
    spark,
    index_path: str,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k against the materialized signature-partitioned index:
    the (1-row) query's signature is computed driver-side (a scalar
    collect) and probed as a LITERAL equality predicate on the
    partition column — PartitionFilters at planning time, identical
    bucket semantics (Hamming radius 0) and scoring to
    :func:`lsh_bucketed_topk` on the unpartitioned table."""
    qsig = (
        query.select(F.col(vec_col).alias("_qvec"))
        .select(hyperplane_signature("_qvec", num_planes, dim).alias("s"))
        .collect()[0]["s"]
    )
    pruned = (
        spark.read.parquet(index_path)
        .filter(F.col("sig") == int(qsig))
        .select(F.col(id_col), F.col(vec_col))
    )
    return brute_force_topk(pruned, query, k=k, id_col=id_col, vec_col=vec_col)


def bucketed_cosine_pairs(
    embeddings: DataFrame,
    bucket_col: str = "label",
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-style: vectors only
    meet inside their coarse cell (``bucket_col`` — here the cluster
    label; in production the assignment of a trained coarse
    quantizer), so the pair space is sum(|cell|^2), never n^2. The
    all-pairs cosine join is banned at scale; this is the sanctioned
    shape.

    Two-phase refine: candidate pairs come from a vectorized numpy
    matmul per cell (Arrow applyInPandas — ONE shuffle of the vectors
    by cell, versus shuffling both self-join sides; a 64-dim cell of
    625 vectors scores all ~200k in-cell pairs in one BLAS call,
    where the previous SQL higher-order-function fold interpreted
    ~64 multiplies per pair). The double-arithmetic screen keeps a
    1e-6 margin so summation-order fp error (~1e-13) can never drop
    a true pair; the exact-decimal cosine then runs only on
    survivors, keeping the reported values bit-identical across
    engines (module docstring). Giant skewed cells are processed in
    row blocks (bounded memory); a trained, balanced coarse
    quantizer is what bounds |cell| at corpus scale.
    """
    import numpy as np

    margin = threshold - 1e-6

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        norms = np.sqrt((vecs * vecs).sum(axis=1))
        out_a, out_b = [], []
        block = 1024
        for lo in range(0, len(ids), block):
            hi = min(lo + block, len(ids))
            sims = (vecs[lo:hi] @ vecs.T) / np.outer(norms[lo:hi], norms)
            rows, cols = np.nonzero(sims >= margin)
            keep = (rows + lo) < cols  # upper triangle only, no self-pairs
            out_a.append(ids[(rows + lo)[keep]])
            out_b.append(ids[cols[keep]])
        a = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
        b = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
        return pd.DataFrame(
            {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b)}
        )

    cands = embeddings.groupBy(bucket_col).applyInPandas(
        _cell_pairs, "vec_a long, vec_b long"
    )
    with_norm = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(f"sqrt(cast({_dot_decimal(vec_col, vec_col)} as double))").alias("_nrm"),
    )
    a = with_norm.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = with_norm.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    exact = F.expr(
        f"round(cast({_dot_decimal('_va', '_vb')} as double) / (_na * _nb), {decimals})"
    )
    return (
        cands.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", exact.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def quantize_int8_stats(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Int8 symmetric quantization of embeddings (the storage/serving
    compression step of a vector pipeline), via a SCALAR Arrow
    pandas_udf — numpy-vectorized over whole record batches, the
    sanctioned fast path for array math the built-in functions can't
    express well.

    Determinism across engines: codes are floor(x*scale + 0.5)
    (explicit half-up — numpy's rint is half-even and would diverge
    from SQL round) on doubles that are bit-identical everywhere
    (float->double widening, IEEE multiply). Returns per-vector code
    stats rather than the int8 payloads so the result is value-hash
    comparable.
    """
    from pyspark.sql.functions import pandas_udf

    out_type = "sum_codes long, max_abs_code long, qscale double"

    @pandas_udf(out_type)
    def quant(vecs: pd.Series) -> pd.DataFrame:
        import numpy as np

        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        scale = 127.0 / np.abs(m).max(axis=1)
        codes = np.floor(m * scale[:, None] + 0.5)
        return pd.DataFrame(
            {
                "sum_codes": codes.sum(axis=1).astype(np.int64),
                "max_abs_code": np.abs(codes).max(axis=1).astype(np.int64),
                # half-up to 6 decimals (python round() is half-even)
                "qscale": np.floor(scale * 1e6 + 0.5) / 1e6,
            }
        )

    q = embeddings.select(F.col(id_col), quant(F.col(vec_col)).alias("q"))
    return q.select(id_col, "q.sum_codes", "q.max_abs_code", "q.qscale")


def norm_stats_by_label(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label L2-norm-squared statistics — the sanity profile run
    before any ANN work (catches unnormalized or degenerate vectors).

    Per-row norm-squares are exact DECIMALs (see module docstring), the
    per-label sum/max over them are exact and order-independent, and
    only the final division/sqrt touch doubles — on inputs that are
    bit-identical in every engine, so the 6-decimal rounding is stable.
    """
    per_row = embeddings.select(
        F.col(label_col),
        F.expr(_dot_decimal(vec_col, vec_col)).alias("_norm_sq"),
    )
    return (
        per_row.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("_norm_sq").alias("_sum_sq"),
            F.max("_norm_sq").alias("_max_sq"),
        )
        .select(
            F.col(label_col),
            F.col("n_vectors"),
            F.expr("round(cast(_sum_sq as double) / n_vectors, 6)").alias("avg_norm_sq"),
            F.expr("round(sqrt(cast(_max_sq as double)), 6)").alias("max_norm"),
        )
    )


def embedding_intstats_arrow(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector integer stats via ``mapInArrow`` — Spark 4's
    Arrow-native map: the UDF receives raw ``pyarrow.RecordBatch``es
    (no pandas conversion at all) and answers with pyarrow compute
    kernels, the zero-copy fast path for columnar array math.

    The per-element work runs on the FLATTENED child array of the
    list column (one vectorized kernel over every element in the
    batch), then folds back per row via ``list_parent_indices`` +
    ``group_by`` — the Arrow idiom for ragged data, no Python loop
    anywhere. Stats are exact integers (floor(x*1000) on the
    bit-identical float->double widening), so the query carries a full
    value-hash oracle despite crossing the Python boundary."""
    import pyarrow as pa

    out_schema = f"{id_col} long, sum_milli long, n_pos long"

    def stats(batches):
        import pyarrow.compute as pc

        for b in batches:
            vec = b.column(vec_col)
            ids = b.column(id_col)
            lv = pc.cast(vec, pa.list_(pa.float64()))
            parent = pc.list_parent_indices(lv)
            vals = pc.list_flatten(lv)
            milli = pc.cast(pc.floor(pc.multiply(vals, 1000.0)), pa.int64())
            pos = pc.cast(pc.greater(vals, 0.0), pa.int64())
            agg = (
                pa.table({"p": parent, "milli": milli, "pos": pos})
                .group_by("p")
                .aggregate([("milli", "sum"), ("pos", "sum")])
                .sort_by("p")
            )
            def as_array(col):
                return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col

            yield pa.record_batch(
                {
                    id_col: as_array(pc.take(ids, agg.column("p"))),
                    "sum_milli": as_array(agg.column("milli_sum")),
                    "n_pos": as_array(agg.column("pos_sum")),
                }
            )

    return embeddings.select(id_col, vec_col).mapInArrow(stats, out_schema)


def label_intstats_arrow(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label aggregate stats via grouped ``applyInArrow`` — the
    grouped sibling of mapInArrow (one pyarrow.Table per group, no
    pandas): vector count, total floor-milli mass, and the min vec_id
    per label, all with pyarrow compute kernels. Exact integers ->
    full value-hash oracle across the Python boundary.

    Scale: the group count is the label cardinality (dim-sized); each
    group's table is one cell of the corpus — the same partition-by-
    key contract applyInPandas has, minus the pandas conversion."""
    import pyarrow as pa

    def stats(tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        lv = pc.cast(tbl.column(vec_col).combine_chunks(), pa.list_(pa.float64()))
        vals = pc.list_flatten(lv)
        milli = pc.cast(pc.floor(pc.multiply(vals, 1000.0)), pa.int64())
        return pa.table(
            {
                "label": pa.array([tbl.column("label")[0].as_py()], pa.int32()),
                "n_vecs": pa.array([tbl.num_rows], pa.int64()),
                "sum_milli_total": pa.array([pc.sum(milli).as_py()], pa.int64()),
                "min_vec_id": pa.array(
                    [pc.min(tbl.column(id_col)).as_py()], pa.int64()
                ),
            }
        )

    return (
        embeddings.select("label", id_col, vec_col)
        .groupBy("label")
        .applyInArrow(stats, "label int, n_vecs long, sum_milli_total long, min_vec_id long")
    )
