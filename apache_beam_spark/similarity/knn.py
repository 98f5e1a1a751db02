"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — a broadcast nested-loop of
(queries x corpus) with all math in Column higher-order functions.
Correct at any scale where the corpus fits broadcast OR the cross
product is partition-parallel (Spark shuffles neither side fully; the
small side broadcasts).

Scale path: random-hyperplane LSH (sign bits of dot with fixed random
planes) buckets vectors; top-k runs within multi-probe buckets — turns
O(N*M) into O(N*M/2^bits) at a small recall cost.  An IVF variant is the
same shape with learned centroids (k-means) instead of random planes.
"""

from __future__ import annotations

import random
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from apache_beam_spark.functions.vectors import cosine, dot, normalize
from apache_beam_spark.plans.partitioning import parallelize_narrow


def pair_cosine(df: DataFrame, a_col: str, b_col: str,
                out: str = "sim") -> DataFrame:
    """Batch cosine over a pair stream: drop the two vector columns,
    append ``out`` (double).

    Replaces the interpreted ``functions.vectors.cosine`` HOF on the
    post-candidate-join rerank path (optimization r13, guide §4.2):
    higher-order aggregate expressions never enter whole-stage codegen,
    so every candidate pair paid an interpreted 3-fold evaluation; here
    whole Arrow batches go through numpy instead.  Float semantics are
    BIT-IDENTICAL to the HOF: the fold is a strict left-to-right
    float64 accumulation, which ``np.cumsum`` reproduces exactly
    (sequential adds, and the fold's 0.0 seed is exact), with the same
    cast-to-double per element and the same ``dot / (norm_a * norm_b)``
    op order.  Mismatched/absent arrays yield null, as ``zip_with``'s
    null-padding does, and so do null elements.  A NaN quotient (a NaN
    element — Arrow delivers null elements as NaN floats too — or inf
    arithmetic) is masked to null exactly as the HOF masks it (ADVICE
    r13: unmasked, a NaN sim sorts ABOVE every real double under
    ``sim.desc()`` and promotes corrupt vectors into top-k).  A zero
    vector (0/0) yields null too, as the HOF's ``try_divide`` does.
    """
    import numpy as np

    keep = [c for c in df.columns if c not in (a_col, b_col)]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields if f.name in keep)
    schema = f"{fields}, {out} double" if fields else f"{out} double"

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            try:
                a = np.array(list(pdf[a_col]), dtype=np.float64)
                b = np.array(list(pdf[b_col]), dtype=np.float64)
                if a.ndim != 2 or a.shape != b.shape or a.shape[1] == 0:
                    raise ValueError("ragged")
                d = np.cumsum(a * b, axis=1)[:, -1]
                na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
                nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
                sim = d / (na * nb)
            except Exception:
                # ragged / null rows: exact per-row left fold with the
                # HOF's null semantics (length mismatch or a None
                # element -> null); same op order as the HOF
                # (dot / (sqrt(aa) * sqrt(bb)))
                sim = np.full(len(pdf), np.nan)
                for i, (va, vb) in enumerate(zip(pdf[a_col], pdf[b_col])):
                    if (va is None or vb is None or len(va) != len(vb)
                            or any(x is None for x in va)
                            or any(y is None for y in vb)):
                        continue
                    acc = sa = sb = 0.0
                    for x, y in zip(va, vb):
                        x = float(x); y = float(y)
                        acc += x * y; sa += x * x; sb += y * y
                    sim[i] = (np.float64(acc) / (np.sqrt(np.float64(sa))
                                                 * np.sqrt(np.float64(sb))))
            # NaN quotients -> null, the HOF's nanvl mask
            nan = np.isnan(sim)
            if nan.any():
                sim = sim.astype(object)
                sim[nan] = None
            res = pdf[keep].copy()
            res[out] = sim
            yield res

    return df.mapInPandas(fn, schema)


#: candidate-volume crossover between the interpreted HOF cosine and
#: the Arrow ``pair_cosine`` batch path, in UNITS OF THE
#: ``_est_candidate_pairs`` ESTIMATE (r13 A/B: the Python stage's
#: fixed Arrow+worker cost beats the per-pair interpreted fold from
#: ~1e5 ACTUAL pairs per run — near_dup 1.9->2.3 s and semantic_dedup
#: 2.6->4.0 s REGRESSED on pair_cosine at ~1e4-pair volumes, while the
#: ivf rerank at ~1e6 pairs was the r13 win).  The estimator is an
#: upper-ish envelope of the actual volume (sf0.1 calibration:
#: est 46k/64k for the two near-dup miners whose measured volume is
#: ~1e4), so the threshold sits at 2e5 est-units ~= 1e5 actual pairs
#: with ~3x margin against flipping the small-corpus plans.
PAIR_COSINE_MIN_EST_PAIRS = 200_000


def _est_candidate_pairs(n_rows: int, n_bands: int, band_bits: int) -> float:
    """Expected distinct banded-LSH candidate pairs for an UNCORRELATED
    corpus: ``C(n,2) * (1 - (1 - 2^-bits)^bands)``.  An upper-ish
    envelope of the real volume (true near-dups collide in many bands
    at once — multiplicity doesn't add distinct pairs — and
    ``group_col``-scoped mining only removes candidates).  Deterministic
    in (n, geometry): used ONLY to pick the cosine execution path —
    both paths are bit-identical on well-formed vectors — never to
    change what a query computes."""
    p_any = 1.0 - (1.0 - 2.0 ** -band_bits) ** n_bands
    return 0.5 * n_rows * (n_rows - 1) * p_any


def cosine_pairs(df: DataFrame, a_col: str, b_col: str, out: str = "sim",
                 est_pairs: Optional[float] = None) -> DataFrame:
    """THE guarded chooser between the interpreted HOF ``cosine`` and
    the Arrow ``pair_cosine`` batch path (VERDICT r13 item 8: one call
    site owns the operating-range switch instead of comments at three).

    Below the crossover the HOF wins — higher-order aggregates never
    codegen, but the Python stage's FIXED Arrow+worker cost dominates
    small candidate volumes; above it the per-pair interpreted fold
    dominates and the numpy batches win.  ``est_pairs=None`` (volume
    unknown) keeps the HOF — the small-corpus default;
    ``embedding_near_dup_pairs`` always passes the estimate from its
    memoized corpus probe, so the Arrow path engages at scale without
    a code change.  Both branches
    produce identical columns ``[*keep, out]`` and bit-identical sims
    on well-formed vectors (pinned in tests/test_knn_scale.py)."""
    if est_pairs is not None and est_pairs >= PAIR_COSINE_MIN_EST_PAIRS:
        return pair_cosine(df, a_col, b_col, out)
    return (df.withColumn(out, cosine(F.col(a_col), F.col(b_col)))
            .drop(a_col, b_col))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                     query_id: str = "vec_id", corpus_id: str = "vec_id",
                     vec_col: str = "embedding", self_exclude: bool = True) -> DataFrame:
    """(query_id, neighbor_id, sim, rank): exact cosine top-k.

    The corpus side is broadcast (must be the smaller side); ranking is a
    per-query bounded heap via row_number window.
    """
    q = parallelize_narrow(
        queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).alias("__qv__")))
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv__"))
    joined = q.crossJoin(F.broadcast(c))
    if self_exclude:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    sims = joined.select(
        "query_id", "neighbor_id",
        cosine(F.col("__qv__"), F.col("__cv__")).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's own size estimate for the frame (what the planner
    consults for broadcast decisions) — no job is triggered."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:  # pragma: no cover - non-classic DataFrame impls
        return None


#: max densified corpus the "corpus" mode may collect+broadcast;
#: past this the streaming mode is mandatory (VERDICT r2 item 7)
MAX_BROADCAST_BYTES = 2 << 30


def _choose_broadcast_side(corpus: DataFrame, max_broadcast_bytes: int) -> str:
    """Size-based mode pick (the caller's memory is not an input):
    collect+broadcast the corpus only when Catalyst's size stat says it
    fits; otherwise stream the corpus and broadcast the queries."""
    est = _plan_size_bytes(corpus)
    return ("corpus" if est is not None and est <= max_broadcast_bytes
            else "queries")


def brute_force_topk_blas(queries: DataFrame, corpus: DataFrame, k: int = 5,
                          query_id: str = "vec_id", corpus_id: str = "vec_id",
                          vec_col: str = "embedding",
                          self_exclude: bool = True,
                          max_broadcast_bytes: int = MAX_BROADCAST_BYTES) -> DataFrame:
    """Exact cosine top-k via block matrix multiply — the scale path for
    brute force.  Identical results to ``brute_force_topk`` (same
    rounding, same neighbor-id tiebreak) at ~100x the throughput: the
    per-pair work is a BLAS gemm per Arrow batch instead of an
    interpreted higher-order Column function.

    The densified side comes from Catalyst's size estimate of the
    corpus: corpus mode while it fits ``max_broadcast_bytes`` (the
    deployment's executor-memory cap), else the streaming mode — the
    caller's memory is never the deciding input, and a missing size
    stat fails safe to streaming:

    - ``"corpus"``: the corpus is collected once and shipped via
      ``sc.broadcast`` (ONE copy per executor — not per task closure);
      every Arrow batch of queries runs one gemm (Q x D @ D x N).
      Right when the corpus fits executor memory (~1e6 x 1024 f32 =
      4 GB).
    - ``"queries"``: the QUERY matrix is broadcast and the corpus
      STREAMS through ``mapInPandas`` — each corpus partition emits its
      local per-query top-k and a window does the exact k-way merge
      (any global top-k member is in its own partition's top-k, so the
      merge is lossless).  The corpus is never collected anywhere: this
      is the 100 TB path, where only the query side must be small.
    """
    import numpy as np

    broadcast_side = _choose_broadcast_side(corpus, max_broadcast_bytes)

    def _densify(df: DataFrame, idc: str):
        rows = df.select(F.col(idc).alias("id"), F.col(vec_col).alias("v")).collect()
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)

    out_schema = "query_id bigint, neighbor_id bigint, sim double, rank int"

    if broadcast_side == "corpus":
        sc = corpus.sparkSession.sparkContext
        bc = sc.broadcast(_densify(corpus, corpus_id))

        def fn(batches):
            import pandas as pd

            ids, mat_n = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                q = np.array(list(pdf["__qv__"]), dtype=np.float64)
                qn = q / np.linalg.norm(q, axis=1, keepdims=True)
                sims = qn @ mat_n.T                  # one gemm per batch
                out_q, out_n, out_s, out_r = [], [], [], []
                for qi, qid in enumerate(pdf["query_id"]):
                    s = sims[qi]
                    mask = ids != qid if self_exclude else np.ones(len(ids), bool)
                    cand = np.nonzero(mask)[0]
                    # bounded selection, then exact (sim desc, id asc) order
                    take = min(k, len(cand))
                    top = cand[np.argpartition(-s[cand], take - 1)[:take]]
                    order = np.lexsort((ids[top], -s[top]))
                    for r, j in enumerate(top[order], start=1):
                        out_q.append(qid); out_n.append(ids[j])
                        out_s.append(round(float(s[j]), 6)); out_r.append(r)
                yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                    "sim": out_s, "rank": out_r})

        q = parallelize_narrow(
            queries.select(F.col(query_id).alias("query_id"),
                           F.col(vec_col).alias("__qv__")))
        return q.mapInPandas(fn, out_schema)

    # broadcast_side == "queries": corpus streams, per-partition top-k + merge
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast(_densify(queries, query_id))

    def fn(batches):
        import pandas as pd

        qids, qn = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["__cv__"]), dtype=np.float64)
            cn = c / np.linalg.norm(c, axis=1, keepdims=True)
            sims = qn @ cn.T                          # Q x C_batch
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                s = sims[qi]
                mask = cids != qid if self_exclude else np.ones(len(cids), bool)
                cand = np.nonzero(mask)[0]
                if not len(cand):
                    continue
                take = min(k, len(cand))
                top = cand[np.argpartition(-s[cand], take - 1)[:take]]
                out_q.extend([qid] * len(top))
                out_n.extend(cids[top]); out_s.extend(s[top])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "sim": out_s})

    c = parallelize_narrow(
        corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv__")))
    local = c.mapInPandas(fn, "query_id bigint, neighbor_id bigint, sim double")
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank"))


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def _lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from fixed random hyperplanes.

    Built as ONE ``F.expr`` string: the naive Column construction makes
    ``n_bits * dim`` ``F.lit`` py4j round trips (~2.4 s of pure driver
    time at 6x64 — measured r3, the embed_lsh_knn bench regression);
    identical expression tree, identical double arithmetic (literals
    ``repr``-round-trip and are cast to double exactly as the Column
    HOF version did)."""
    def dlit(x: float) -> str:
        # scientific notation is a DOUBLE literal in Spark SQL (bare
        # decimals would be DECIMAL); 17 sig digits round-trips exactly
        s = f"{x:.17g}"
        return s if "e" in s or "E" in s else s + "E0"

    terms = []
    for i, plane in enumerate(planes):
        arr = "array(" + ",".join(dlit(x) for x in plane) + ")"
        d = (f"aggregate(zip_with({{v}}, {arr}, "
             "(x, y) -> cast(x as double) * y), "
             "cast(0.0 as double), (acc, v) -> acc + v)")
        terms.append(f"shiftleft(cast(({d}) > 0 as bigint), {i})")
    expr = " | ".join(terms)
    # vec must be a plain column reference for the SQL string
    name = vec._jc.toString() if hasattr(vec, "_jc") else str(vec)
    return F.expr(expr.replace("{v}", name))


def lsh_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
             n_bits: int = 8, query_id: str = "vec_id", corpus_id: str = "vec_id",
             vec_col: str = "embedding", self_exclude: bool = True,
             seed: int = 42) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket (single-probe).

    Equi-join on bucket replaces the cross join — the shuffle is by
    bucket id, each bucket ~N/2^n_bits vectors.  Recall < 1; raise via
    fewer bits or multi-probe.
    """
    planes = _hyperplanes(dim, n_bits, seed)
    q = parallelize_narrow(queries).select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv__"),
        _lsh_bucket(F.col(vec_col), planes).alias("__b__"),
    )
    c = parallelize_narrow(corpus).select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv__"),
        _lsh_bucket(F.col(vec_col), planes).alias("__b__"),
    )
    joined = q.join(c, on="__b__")
    if self_exclude:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    # HOF cosine, NOT pair_cosine: LSH buckets bound candidates to a
    # few per query (~10^4 pairs here) and the Python stage's fixed
    # Arrow+worker cost measured 1.5x the whole interpreted rerank
    # (optimization r13 A/B; the crossover lives in ONE place now —
    # ``PAIR_COSINE_MIN_EST_PAIRS`` / ``cosine_pairs``)
    sims = joined.select(
        "query_id", "neighbor_id",
        cosine(F.col("__qv__"), F.col("__cv__")).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def _kmeans(sample, n_cells: int, iters: int = 10, seed: int = 42):
    """Driver-side Lloyd's k-means over a (normalized) sample — the IVF
    coarse quantizer.  numpy only; seeded; returns (n_cells, dim)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    x = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    cent = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)          # cosine = dot (normalized)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / (np.linalg.norm(m) or 1.0)
    return cent


def ivf_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
             n_cells: int = 16, n_probe: int = 4,
             query_id: str = "vec_id", corpus_id: str = "vec_id",
             vec_col: str = "embedding", self_exclude: bool = True,
             sample_size: int = 10000, seed: int = 42,
             max_cell: Optional[int] = None,
             centroids=None) -> DataFrame:
    """IVF approximate top-k: k-means cells as the coarse index.

    Corpus vectors live in their nearest-centroid cell; each query
    probes its ``n_probe`` nearest cells — the equi-join on cell id
    replaces the cross join, scanning ~``n_probe/n_cells`` of the
    corpus.  Same output contract as ``lsh_topk`` (recall < 1).

    At 100 TB: centroids are tiny (n_cells x dim floats) and broadcast;
    the cell assignment is one BLAS argmax pass; the candidate join
    shuffles by cell id, so cell balance (k-means, vs LSH's random
    cuts) is what keeps partitions even.  ``max_cell`` handles the
    skew k-means can't fix: cells above that population are split into
    ``ceil(count/max_cell)`` salted sub-cells (corpus rows hashed to a
    salt, queries probe every salt of a probed cell) — identical
    candidate set, bounded per-task bucket size.
    """
    import math

    import numpy as np

    if centroids is not None:
        # fixed coarse quantizer (normalized) — deterministic across
        # engines, so the query becomes oracle-checkable (the k-means
        # path depends on a driver-side sample)
        cent = np.asarray(centroids, dtype=np.float64)
        cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    else:
        sample = np.array(
            [r[0] for r in corpus.select(vec_col).limit(sample_size).collect()],
            dtype=np.float64)
        cent = _kmeans(sample, n_cells, seed=seed)

    def assign(df: DataFrame, id_alias: str, vec_alias: str, probes: int) -> DataFrame:
        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.array(list(pdf[vec_alias]), dtype=np.float64)
                vn = v / np.linalg.norm(v, axis=1, keepdims=True)
                sims = vn @ cent.T
                # stable: ties probe the lowest cell id (oracle-parity)
                top = np.argsort(-sims, axis=1, kind="stable")[:, :probes]
                out = pdf.loc[pdf.index.repeat(probes)].copy()
                out["__cell__"] = top.ravel()
                yield out

        return parallelize_narrow(df).mapInPandas(
            fn, f"{id_alias} bigint, {vec_alias} array<double>, __cell__ int")

    q = assign(queries.select(F.col(query_id).alias("query_id"),
                              F.col(vec_col).alias("__qv__")),
               "query_id", "__qv__", n_probe)
    c = assign(corpus.select(F.col(corpus_id).alias("neighbor_id"),
                             F.col(vec_col).alias("__cv__")),
               "neighbor_id", "__cv__", 1)
    join_keys = ["__cell__"]
    if max_cell is not None:
        # split hot cells into salted sub-cells; the factor map is
        # n_cells rows — driver-side like the k-means sample
        factors = {int(r["__cell__"]): max(1, math.ceil(r["cnt"] / max_cell))
                   for r in c.groupBy("__cell__")
                   .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        fmap = F.create_map(*[F.lit(x) for kv in factors.items() for x in kv])
        c = c.withColumn("__salt__", F.pmod(
            F.xxhash64("neighbor_id"),
            F.coalesce(fmap[F.col("__cell__")], F.lit(1))).cast("int"))
        q = (q.withColumn("__salt__", F.explode(F.sequence(
                F.lit(0), F.coalesce(fmap[F.col("__cell__")], F.lit(1)) - 1)))
             .withColumn("__salt__", F.col("__salt__").cast("int")))
        join_keys.append("__salt__")
    joined = q.join(c, on=join_keys)
    if self_exclude:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    # vectorized exact rerank of the probed-cell candidates — always
    # the Arrow path: the probe-join volume (~n_queries x n_probe x
    # cell width, ~1e6 at sf0.1) sits far above the
    # PAIR_COSINE_MIN_EST_PAIRS crossover at any scale worth running
    # IVF on (the r13 measured win)
    sims = pair_cosine(
        joined.select("query_id", "neighbor_id", "__qv__", "__cv__"),
        "__qv__", "__cv__").dropDuplicates(["query_id", "neighbor_id"])
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def auto_band_bits(n_rows: int, target_occupancy: int = 8,
                   lo: int = 8, hi: int = 24) -> int:
    """Band width that keeps EXPECTED bucket occupancy ~constant as the
    corpus grows: ``2^band_bits ~= n / target_occupancy``.  With a
    fixed width, occupancy grows linearly in N and candidate pairs
    quadratically (the r3 scale finding); deriving it from a corpus
    count keeps per-band candidate work ~linear."""
    import math

    return max(lo, min(hi, math.ceil(math.log2(max(2, n_rows)
                                               / max(1, target_occupancy)))))


def auto_n_bands(threshold: float, band_bits: int,
                 miss_target: float = 1e-4, lo: int = 8, hi: int = 64) -> int:
    """Band count that holds recall as ``band_bits`` grows: a random
    hyperplane keeps a pair at cosine ``threshold`` together with
    ``p = 1 - acos(t)/pi``; a band matches with ``p^band_bits``; choose
    the smallest n_bands with ``(1 - p^bits)^n_bands <= miss_target``.
    Wider bands (bigger corpora) therefore get proportionally more
    bands — work grows ~log N, recall stays pinned."""
    import math

    p = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    p_band = p ** band_bits
    if p_band >= 1.0:
        return lo
    return max(lo, min(hi, math.ceil(math.log(miss_target)
                                     / math.log(1.0 - p_band))))


def _vector_clone_stats(src: DataFrame, grp_keys: list) -> tuple:
    """``(rows, distinct (group, vector) hashes)`` of the
    ``(id, __v__[, grp])`` frame — memoized per logical plan through
    the ``dedup/probe.py`` registry, so repeat builds over the same
    vectors (the bench family, a driver composing several ANN
    pipelines) submit no job.  One partial-agg count-distinct: exact
    duplicates exist iff the two differ."""
    from apache_beam_spark.dedup.probe import memoize_plan_stat

    def compute():
        r = src.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(
                *grp_keys, F.xxhash64("__v__")).alias("d")).collect()[0]
        return (int(r["n"]), int(r["d"]))

    return memoize_plan_stat(src, "__vec_stats__", compute)


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.95,
                             n_bands: Optional[int] = None,
                             band_bits: Optional[int] = None,
                             seed: int = 42,
                             max_bucket: int = 10000,
                             dim: Optional[int] = None,
                             group_col: Optional[str] = None,
                             vectors_df: Optional[DataFrame] = None,
                             observation=None,
                             expand: str = "full") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= t).

    Candidate generation is banded sign-bit LSH — the same band/bucket
    shape as ``dedup/minhash.py`` — NOT an all-pairs cross join:

    1. one memoized probe (``_vector_clone_stats``) counts the rows
       and the distinct vectors; every plan choice below comes from it;
    2. when the probe finds EXACT duplicates, ids sharing a vector
       hash map to their min-id representative (one ids+hash shuffle —
       vectors never move), so a boilerplate corpus's most-duplicated
       content contributes ONE member per bucket instead of flooding
       it; a duplicate-free corpus skips the rep window and expansion
       joins (identical output);
    3. one vectorized pass computes ``n_bands * band_bits`` hyperplane
       sign bits per vector (a single BLAS gemm per Arrow batch) and
       packs each band into an int bucket key;
    4. pairs sharing any (band, bucket) meet via
       ``dedup/buckets.bucket_pairs`` — over-cap buckets are chunked
       and triangle-split across tasks, NEVER silently dropped (the r3
       scale-killer); pass ``observation`` to read the
       overcap-bucket/candidate counters;
    5. rep pairs expand back through the duplicate groups
       (``dedup/buckets.expand_rep_pairs``), and exact cosine verifies
       every candidate.

    ``band_bits``/``n_bands`` default to AUTO: width from the probe's
    row count (constant expected occupancy — see ``auto_band_bits``),
    count from the threshold so P(miss) <= 1e-4 regardless of width
    (see ``auto_n_bands``).  Pass both explicitly to pin the geometry
    (oracle-pinned queries do).

    ``group_col``: optional pre-partitioning (e.g. an IVF cell id) —
    pairs are then mined only WITHIN a group: the bucket key becomes
    (group, band, bucket), so per-bucket width is bounded by the LSH
    bucket discipline even when one group holds O(N) vectors.  This is
    the SemDeDup in-cell shape with the quadratic term capped.

    ``vectors_df``: optional (id, vec) source for the exact-cosine
    verification joins.  When ``df`` is itself a join (e.g. corpus x
    cell assignment), pass the raw corpus here so the candidate-verify
    joins don't recompute that upstream join twice — the group column
    only matters for bucketing, never for verification.

    ``expand``: how exact-duplicate groups surface in the output.
    ``"full"`` (default, the pair CONTRACT) emits every member pair —
    inherently quadratic in group width because the true answer is.
    ``"star"`` emits one spanning (rep, member) edge per duplicate plus
    the un-expanded rep pairs — LINEAR output with identical connected
    components (identical vectors share every sim, so connectivity is
    preserved); the right mode when the consumer is cluster resolution
    (``dup_clusters``), not the pair list itself.
    """
    import numpy as np

    from apache_beam_spark.dedup.buckets import bucket_pairs, expand_rep_pairs
    from apache_beam_spark.plans.caching import cache_scoped

    if expand not in ("full", "star"):
        raise ValueError(f"expand must be 'full' or 'star', got {expand!r}")
    if dim is None:  # one-row probe; pass dim to keep the plan lazy
        dim = len(df.select(vec_col).first()[0])
    has_grp = group_col is not None
    grp_keys = ["grp"] if has_grp else []
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("__v__")]
    sig_schema = "id bigint, band int, bh bigint"
    if has_grp:
        cols.append(F.col(group_col).cast("bigint").alias("grp"))
        sig_schema += ", grp bigint"
    src = df.select(*cols)

    n_rows, n_distinct = _vector_clone_stats(src, grp_keys)
    if band_bits is None:
        band_bits = auto_band_bits(n_rows)
    if n_bands is None:
        n_bands = auto_n_bands(threshold, band_bits)
    planes = np.random.RandomState(seed).standard_normal(
        (n_bands * band_bits, dim))
    pack = (1 << np.arange(band_bits, dtype=np.int64))
    band_idx = np.arange(n_bands, dtype=np.int64)

    def sig_fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf["__v__"]), dtype=np.float64)
            bits = (v @ planes.T) > 0                    # n x (bands*bits)
            bh = bits.reshape(len(v), n_bands, band_bits) @ pack  # n x bands
            ids = pdf["id"].to_numpy(dtype=np.int64)
            out = {
                "id": np.repeat(ids, n_bands),
                "band": np.tile(band_idx, len(v)),
                "bh": bh.ravel(),
            }
            if has_grp:
                out["grp"] = np.repeat(
                    pdf["grp"].to_numpy(dtype=np.int64), n_bands)
            yield pd.DataFrame(out)

    # suite-scoped banding cache (optimization r13): the (id, band, bh)
    # frame is rebuilt by every consumer branch and every rebuild of
    # the same query; mapInPandas closures pickle deterministically
    # (seeded planes), so CacheManager shares one copy across builds.
    # n_bands ints per vector — tiny next to the vectors themselves.
    sigs = cache_scoped(
        parallelize_narrow(src).mapInPandas(sig_fn, sig_schema))

    bucket_keys = grp_keys + ["band", "bh"]
    if n_rows == n_distinct:
        pairs = bucket_pairs(sigs.select(*grp_keys, "band", "bh", "id"),
                             bucket_keys, id_col="id",
                             max_bucket=max_bucket, observation=observation)
    else:
        # exact-duplicate collapse: rep = min id per (group,
        # vector-hash) — only (id, hash) shuffles; xxhash64 collisions
        # (2^-64, the same family risk the minhash path accepts) are
        # filtered by the exact cosine verify below.  Cached: (id, rep)
        # is ids-only but feeds THREE plan branches (bucket members,
        # both expansion sides) — without it each branch would re-scan
        # the full vector column just to re-hash
        rep_map = cache_scoped(
            src.select("id", *grp_keys, F.xxhash64("__v__").alias("__h__"))
            .withColumn("rep", F.min("id").over(
                W.partitionBy(*grp_keys, "__h__")))
            .select("id", *grp_keys, "rep"))
        # bucket members at representative granularity: identical
        # vectors have identical signatures, so (bucket, rep) collapses
        # in bucket_pairs' collect_set — degenerate boilerplate groups
        # add ONE member per bucket, not w
        members = (sigs.join(rep_map.select("id", "rep"), on="id")
                   .select(*grp_keys, "band", "bh", F.col("rep").alias("id")))
        rep_pairs = bucket_pairs(members, bucket_keys, id_col="id",
                                 max_bucket=max_bucket,
                                 observation=observation)
        # within-group and star edges are identical vectors (sim 1.0),
        # still verified below like every other candidate
        pairs = expand_rep_pairs(rep_pairs, rep_map.select("id", "rep"),
                                 expand, max_bucket).distinct()

    vecs = (vectors_df if vectors_df is not None else df).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v__"))
    # exact-cosine verify through the ONE guarded chooser
    # (``cosine_pairs``, VERDICT r13 item 8): small candidate volumes
    # keep the interpreted HOF (the r13 A/B loser was the Python
    # stage's fixed cost at ~1e4 pairs), while a corpus whose
    # estimated volume crosses PAIR_COSINE_MIN_EST_PAIRS — any real
    # 100 TB corpus — gets the Arrow batch path without a code change.
    # Both branches are bit-identical on these vectors.
    cand = (
        pairs
        .join(vecs.select(F.col("id").alias("id_a"), F.col("__v__").alias("__va__")), on="id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("__v__").alias("__vb__")), on="id_b")
        .select("id_a", "id_b", "__va__", "__vb__"))
    return (
        cosine_pairs(cand, "__va__", "__vb__", "sim",
                     est_pairs=_est_candidate_pairs(n_rows, n_bands,
                                                    band_bits))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )
