"""Embedding similarity search over an ``array<float>`` column.

Three top-k paths, mirroring how a 100 TB pipeline actually runs ANN:

- ``cosine_topk``: brute-force exact top-k. The query side is small and
  broadcast, so the big side streams through one narrow stage — no
  shuffle of the corpus, cost O(corpus x queries). This is the baseline
  and the verifier for the approximate paths.
- ``lsh_topk`` / ``lsh_topk_from_index``: random-hyperplane LSH. Corpus
  and queries are bucketed by sign-pattern of dot products against
  shared deterministic hyperplanes; only same-bucket pairs are scored.
  Sub-linear scored pairs at the cost of recall; multiple tables raise
  recall.
- ``ivf_topk`` / ``ivf_topk_from_index`` / ``ivf_pq_topk_rerank``: an
  IVF coarse quantizer; queries score only their probed cells, against
  float, SQ8 or PQ-coded index rows.

The JVM forms of all of them share one probe-join skeleton
(:func:`_probe_side` + :func:`_probe_topk`). Dot products run JVM-side
via ``aggregate(zip_with(...))`` — no Python in the hot loop.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataprocessingframework_spark.functions.hashing import hash64_py


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product of two array<numeric> columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _driver_meta_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-local metadata rows (quantizer matrices, SQ8 bounds, PQ
    codebooks — KB-scale BY CONSTRUCTION, never corpus-bounded) as a
    ONE-partition DataFrame.

    Why not plain ``spark.createDataFrame(rows)``: that parallelizes
    the list into ``defaultParallelism`` Python-RDD slices, and the
    single write task of the companion-table ``saveAsTable`` then
    drains those slices SEQUENTIALLY — one Python worker launch per
    slice (~150 ms each). Measured r17 on the sq8 index build: the two
    companion writes cost 2 x 4.7 s at local[32] vs 2 x 1.2 s at
    local[8] — the whole 2.4-3.4x inverse-scaling signal on the build
    extras (BENCH_r16 vs BENCH_r16_c8), reproduced and pinned in
    plans/r17/. One slice is the size-derived partitioning for
    driver-held metadata at ANY cluster width; a 16-row write is
    0.35 s either way after this."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=schema
    )


def _save_companion(
    spark: SparkSession, table: str, suffix: str, rows: list, schema: str,
    mode: str, path: str | None,
) -> None:
    """Persist driver-held metadata rows as the ``{table}{suffix}``
    companion table of an index (at ``{path}{suffix}`` when external)."""
    w = _driver_meta_df(spark, rows, schema).write.mode(mode).format("parquet")
    if path:
        w = w.option("path", f"{path}{suffix}")
    w.saveAsTable(f"{table}{suffix}")


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _per_query_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k over (q_id, nbr_id, cos_raw) score rows — the
    TakeOrdered discipline, delegated to Catalyst.

    The ``row_number() <= k`` filter triggers Spark's
    ``InferWindowGroupLimit`` rule (3.5+), which plans a map-side
    ``WindowGroupLimit ... Partial`` BELOW the q_id exchange: each map
    partition sorts locally (spillable) and forwards at most k rows
    per query, so the reduce side receives n_map_partitions x k rows
    per query — never a corpus-sized score set in one q_id partition.
    ``tests/test_plans.py::test_cosine_topk_window_not_over_raw_scores``
    pins the partial group-limit so a refactor that defeats the rule
    (e.g. k above spark.sql.window.group.limit.threshold, default
    1000, or a non-rank filter shape) is caught.
    """
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("nbr_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "nbr_id", F.round("cos_raw", 4).alias("cos"))
    )


# A probe batch is broadcast only while its post-fanout row count stays
# under this (see lsh_topk); a larger one shuffles both join sides.
BROADCAST_THRESHOLD = 100_000
# lsh_topk_from_index's probe-key pushdown disarms above this many keys.
PUSHDOWN_KEY_CAP = 4096

_Q_SIDE = ("q_id", "q_vec", "q_norm")
_C_SIDE = ("nbr_id", "c_vec", "c_norm")


def _probe_side(
    df: DataFrame,
    names: tuple[str, str, str],
    id_col: str,
    vec: str | Column,
    norm_col: str | None = None,
    *keys: str | Column,
) -> DataFrame:
    """One side of a top-k probe join: (id, vec, norm, *keys) renamed to
    ``names`` (``_Q_SIDE`` or ``_C_SIDE``). ``vec`` is a column name or a
    Column (an index's packed SQ8 codes, a PQ reconstruction);
    ``norm_col`` names a stored norm, else the norm is folded here —
    once per row, not once per joined pair.

    Zero-norm rows (all-zero embeddings, a real artifact of failed
    encoders) are dropped on every side: their cosine is 0/0, which
    raises DIVIDE_BY_ZERO under ANSI mode and is otherwise a NaN that
    sorts above every real neighbor under F.desc."""
    i, v, n = names
    vec = F.col(vec) if isinstance(vec, str) else vec
    nrm = norm(vec) if norm_col is None else F.col(norm_col)
    return df.select(
        F.col(id_col).alias(i), vec.alias(v), nrm.alias(n), *keys
    ).filter(F.col(n) > 0)


def _probe_topk(
    c: DataFrame,
    q: DataFrame,
    k: int,
    on: str | list[str] | None = None,
    score: Column | None = None,
    dedup: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """The shared tail of every JVM top-k path, REPOSE's shape (ICDE
    2021): the corpus side ``c`` meets the query side ``q`` (both
    :func:`_probe_side` frames) on the probe key ``on`` — a cross join
    when there is none — with ``q`` broadcast unless ``broadcast`` is
    False, so the corpus never shuffles. Self-pairs drop, each pair
    scores ``score / (q_norm * c_norm)`` (``score`` defaults to the
    float ``dot(q_vec, c_vec)``), and :func:`_per_query_topk` keeps a
    partition-local top-k before the global merge.

    ``dedup`` collapses duplicate (q_id, nbr_id) pairs on the skinny
    score relation before ranking — only where they can arise: a pair
    colliding in several LSH tables, or a maintained index holding a
    crash-replayed append's duplicate rows (a doubled neighbor would
    displace a distinct real one). Its exchange stays apart from the
    ranking one on purpose: one repartition(q_id) was A/B'd 8 %
    faster at sf0.1 but puts a hot query's whole candidate set in one
    task; the (q_id, nbr_id) spread plus the map-side partial
    WindowGroupLimit is the skew guard (PLANS.md r8)."""
    if score is None:
        score = dot(F.col("q_vec"), F.col("c_vec"))
    q = F.broadcast(q) if broadcast else q
    pairs = c.crossJoin(q) if on is None else c.join(q, on=on)
    scored = pairs.filter(F.col("nbr_id") != F.col("q_id")).select(
        "q_id",
        "nbr_id",
        (score / (F.col("q_norm") * F.col("c_norm"))).alias("cos_raw"),
    )
    if dedup:
        scored = scored.dropDuplicates(["q_id", "nbr_id"])
    return _per_query_topk(scored, k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    impl: str = "jvm",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Returns (q_id, nbr_id, cos) — cos rounded to 4 decimals for stable
    comparison; ranking uses the unrounded value with nbr_id tiebreak.
    Self-pairs excluded. Queries are broadcast: the corpus never
    shuffles, and top-k selection is two-level — a map-side partial
    WindowGroupLimit (see ``_per_query_topk``) keeps only k rows per
    (map partition, query) before the q_id exchange, so no single
    partition ever holds a corpus-sized score set.

    impl='jvm' (default): sequential-fold dot product in whole-stage
    codegen — bit-reproducible against the DuckDB oracle.
    impl='blas': Arrow-batched numpy matmul against a broadcast query
    matrix — ~2-3x faster warm and the winner at scale (SIMD, batch
    amortization); float summation order differs, so scores can drift
    in the last ulp — use for production ANN, jvm for exact parity.

    Zero-norm vectors are EXCLUDED on both sides in both impls, as in
    every top-k path (:func:`_probe_side`): NaN cosines rank first in
    Spark's/DuckDB's descending sort while numpy comparisons drop them
    — the one place the two impls could diverge (ADVICE r5).
    """
    if impl == "blas":
        return _cosine_topk_blas(corpus, queries, id_col, vec_col, k)
    # NB: no fan_out here — measured at sf0.1, repartitioning the
    # (small) embedding corpus costs more than the serial fold saves;
    # at real scale the corpus arrives with its own splits anyway
    q = _probe_side(queries, _Q_SIDE, id_col, vec_col)
    return _probe_topk(_probe_side(corpus, _C_SIDE, id_col, vec_col), q, k)


def _cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Vectorized scoring: the (small) query side becomes a broadcast
    numpy matrix; each Arrow batch of the corpus is one BLAS matmul.
    The corpus never shuffles, and each batch emits only its own
    top-(k+1) candidates per query (``np.argpartition``, with exact
    boundary-tie inclusion), so the per-query top-k window downstream
    sees at most ~(k+1) x n_batches rows per query — never a
    corpus-sized score set in one partition. (+1 absorbs the one
    self-pair a batch can contain, which is filtered after.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    qp = queries.select(id_col, vec_col).toPandas()
    qm = np.stack(qp[vec_col].values).astype(np.float64)
    qnorm = np.linalg.norm(qm, axis=1)
    keep = qnorm > 0  # zero-norm queries excluded (see cosine_topk)
    qn = qm[keep] / qnorm[keep, None]
    q_ids = qp[id_col].values[keep]
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, qn))

    schema = StructType(
        [
            StructField("q_id", LongType()),
            StructField("nbr_id", LongType()),
            StructField("cos_raw", DoubleType()),
        ]
    )

    def score(pdfs):
        ids, qmat = bq.value
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            c = np.stack(pdf[vec_col].values).astype(np.float64)
            cnorm = np.linalg.norm(c, axis=1)
            ck = cnorm > 0  # zero-norm corpus rows excluded
            if not ck.any():
                continue
            cn = c[ck] / cnorm[ck, None]
            sims = cn @ qmat.T  # (batch, nq)
            nbr = pdf[id_col].values[ck]
            n, m = sims.shape
            kk = min(k + 1, n)
            if n <= kk:
                yield pd.DataFrame(
                    {
                        "q_id": np.repeat(ids, n),
                        "nbr_id": np.tile(nbr, m),
                        "cos_raw": sims.T.ravel(),
                    }
                )
                continue
            # kth-largest score per query; keep every row >= it so an
            # exact tie at the boundary can never evict the candidate
            # the (cos desc, nbr_id asc) global tiebreak would keep
            kth = np.partition(sims, n - kk, axis=0)[n - kk]  # (m,)
            out_q, out_n, out_s = [], [], []
            for j in range(m):
                sel = np.nonzero(sims[:, j] >= kth[j])[0]
                out_q.append(np.full(len(sel), ids[j]))
                out_n.append(nbr[sel])
                out_s.append(sims[sel, j])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "nbr_id": np.concatenate(out_n),
                    "cos_raw": np.concatenate(out_s),
                }
            )

    scored = (
        corpus.select(id_col, vec_col)
        .mapInPandas(score, schema)
        .filter(F.col("nbr_id") != F.col("q_id"))
    )
    return _per_query_topk(scored, k)


def _hyperplanes(
    dim: int, n_planes: int, table: int = 0
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the md5 hash chain
    (no RNG state, reproducible across engines/runs). ``table`` salts
    the chain so multi-table LSH gets independent plane sets; table 0
    keeps the original unsalted strings, so single-table callers (and
    their recorded oracles) are unchanged."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            key = (
                f"plane:{p}:{d}"
                if table == 0
                else f"plane:{table}:{p}:{d}"
            )
            h = hash64_py(key)
            row.append((h % 2_000_001) / 1_000_000.0 - 1.0)  # [-1, 1]
        planes.append(row)
    return planes


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p = (vec . plane_p) >= 0.

    The plane matrix enters the plan as ONE nested-array Literal and
    the per-plane dots as a ``transform`` over it — NOT as an unrolled
    per-element expression forest. The unrolled form was n_planes x
    dim literal nodes (512 per table at the 8x64 default), and since
    expression IDs differ per DataFrame construction, Catalyst
    re-analyzed (and codegen re-compiled) that forest on EVERY probe
    batch — measured as ~2s/trial of fixed planning cost on the
    repeated-probe path (PLANS.md "r8 compact LSH bucket expression").
    Value-identical to the unrolled form: the inner fold is the same
    sequential aggregate(zip_with) as :func:`dot`, and the bit
    accumulation folds p ascending, so every oracle hash is unchanged.
    """
    # _nested_array_lit: ONE parsed-SQL py4j call for the whole plane
    # matrix. F.lit(nested_list) recurses into a py4j call per element
    # (~512 per 8x64 table), which cProfile showed as ~0.33 s of
    # driver-side construction per call — and this helper runs once
    # per table per SIDE, so the 3-table probe paid ~2 s of pure py4j
    # chatter per trial (guide §5: the driver should do almost no
    # work). Parsed doubles are bit-identical (repr round-trip).
    scores = F.transform(
        _nested_array_lit([[float(x) for x in plane] for plane in planes]),
        lambda p: dot(vec, p),
    )
    # long literals directly (the F.lit int path produced ints that
    # were then coerced long inside the fold — same values, same
    # result type)
    powers = F.expr(
        "array(" + ",".join(f"{2**p}L" for p in range(len(planes))) + ")"
    )
    return F.aggregate(
        F.zip_with(
            scores,
            powers,
            lambda s, w: F.when(s >= 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 1,
    probe_radius: int = 1,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing a probed LSH bucket.

    With n_planes=8 the corpus splits into <=256 buckets, cutting scored
    pairs ~256x. ``probe_radius=1`` is multi-probe LSH (Lv et al. 2007,
    public): each QUERY also probes the n_planes buckets at Hamming
    distance 1 from its own — the likeliest homes of near neighbors
    that fell on the other side of one hyperplane. Only the (tiny)
    query side fans out x(n_planes+1); the corpus keeps exactly one
    bucket per row and table. probe_radius=0 restores single-bucket
    probing. At 100 TB the shape stays the only viable one: bucket
    assignment is a narrow map, the join is an equi-join on bucket
    (on (tbl, bucket) with several tables; shuffle on bucket id,
    AQE-skew-splittable).

    ``n_tables=L`` adds independent plane sets: a candidate passes if
    it shares a (probed) bucket with the query in ANY table (classic
    LSH OR-amplification — Indyk–Motwani; the production knob for
    raising recall without the exponential radius-2 probe blowup).
    Table 0 is the single-table plane set, so recall can only improve
    with L; shuffle volume grows linearly in L, never all-pairs. Pairs
    colliding in several tables are scored per collision and deduped
    on the skinny score relation (see :func:`_probe_topk`); one table
    needs no dedup. The body is the probe of :func:`lsh_topk_from_index`
    over the inline :func:`lsh_ann_index` of ``corpus``.

    Comparability note: the probe_radius default changed 0 -> 1 in
    round 3, so recall and bench timings before/after that round are
    not directly comparable.

    The query side is broadcast only while its post-probe row count
    (|queries| x L x fanout) stays under ``BROADCAST_THRESHOLD``; a
    large probe batch (say 10M rows against a corpus) instead flows
    through a plain equi-join, which shuffles both sides but cannot OOM
    the driver or executors on broadcast materialization. The
    auto-decision costs a count() action (one query-side scan);
    ``broadcast_queries`` True/False skips it when the caller knows the
    batch size class.
    """
    return _lsh_probe(
        corpus, queries, id_col, vec_col, k, dim, n_planes, n_tables,
        probe_radius, broadcast_queries, indexed=False,
    )


def _probe_structs(
    buckets: list[Column], n_planes: int, probe_radius: int
) -> Column:
    """array<struct<tbl,bucket>> for the query side: each table's
    bucket column, plus its n_planes Hamming-1 neighbors under
    multi-probe."""
    masks = [F.lit(0).cast("long")]
    if probe_radius == 1:
        masks += [F.lit(2**p).cast("long") for p in range(n_planes)]
    return F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), b.bitwiseXOR(m).alias("bucket"))
            for t, b in enumerate(buckets)
            for m in masks
        ]
    )


def _bucket_structs(
    vec: Column, tables: list[list[list[float]]]
) -> Column:
    """array<struct<tbl,bucket>> for the corpus side (one per table)."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket_expr(vec, planes).alias("bucket"),
            )
            for t, planes in enumerate(tables)
        ]
    )


def lsh_ann_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 3,
) -> DataFrame:
    """(tbl, bucket, id, vec, vnorm) rows — the MATERIALIZABLE half of
    multi-table ANN (the embedding twin of dedup.lsh_index). In
    continuous ingestion this table is written once per corpus and
    appended per accepted batch; each probe batch then joins it on
    (tbl, bucket) instead of re-hashing the corpus. Norms are
    precomputed so probes never touch raw corpus vectors twice.
    Zero-norm rows are excluded at build time (their cosine is NaN
    against every query — same semantics as cosine_topk/lsh_topk)."""
    tables = [_hyperplanes(dim, n_planes, t) for t in range(n_tables)]
    structs = _bucket_structs(F.col(vec_col), tables)
    # one table needs no Generate: the explode of a one-element array
    # cost lsh_topk ~30 % on the sf0.1 bench entry
    pr = structs[0] if n_tables == 1 else F.explode(structs)
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("vnorm"),
        pr.alias("pr"),
    ).filter(F.col("vnorm") > 0).select(
        F.col("pr.tbl").alias("tbl"),
        F.col("pr.bucket").alias("bucket"),
        id_col,
        vec_col,
        "vnorm",
    )


def materialize_lsh_ann_index(
    corpus: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 3,
    num_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Materialize :func:`lsh_ann_index` hash-BUCKETED on (tbl,
    bucket) and return the re-read table. Physical bucketing matches
    :func:`lsh_topk_from_index`'s probe keys, so the probe join plans
    with NO Exchange on the index side — the corpus index is never
    reshuffled per query batch (pinned by tests/test_bucketed.py).
    The caller must pass the SAME (dim, n_planes, n_tables) to
    lsh_topk_from_index; size ``num_buckets`` so one bucket fits an
    executor (thousands at 100 TB, not 32)."""
    from dataprocessingframework_spark.sources.bucketed import (
        write_bucketed,
    )

    idx = lsh_ann_index(corpus, id_col, vec_col, dim, n_planes, n_tables)
    write_bucketed(
        idx,
        table,
        ["tbl", "bucket"],
        num_buckets=num_buckets,
        sort_cols=["tbl", "bucket"],
        path=path,
        mode=mode,
    )
    return corpus.sparkSession.table(table)


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated relation size — a driver-side stats lookup
    (file-size sum for file relations). Unlike ``df.inputFiles()``,
    this never ships a per-file list through py4j: the r8 soak
    measured ~5s of pure listing overhead per probe on a 26k-file
    index from the inputFiles()-based heuristic it replaces."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def lsh_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 3,
    probe_radius: int = 1,
    broadcast_queries: bool | None = None,
    pushdown_probe_keys: bool = False,
) -> DataFrame:
    """:func:`lsh_topk` against a prebuilt (tbl, bucket) index — the
    repeated-probe production path. (dim, n_planes, n_tables,
    probe_radius semantics) must match the index build. Same output
    as lsh_topk on the same corpus (pinned by tests). Pairs are always
    deduped: a maintained index can hold a crash-replayed append's
    duplicate rows.

    ``pushdown_probe_keys=True`` collects the batch's distinct
    (tbl, bucket) probe keys driver-side (bounded by |queries| x
    fanout, hard-capped by ``PUSHDOWN_KEY_CAP``) and pushes them into
    the index scan as per-table ``bucket IN (...)`` predicates. The
    index files are sorted by (tbl, bucket)
    (:func:`materialize_lsh_ann_index`), so parquet row-group stats
    prune everything outside the probed buckets — probe cost scales
    with touched buckets, not corpus size, which is the whole point
    of the index at 100 TB. Semantics-preserving: the inner probe
    join already discards index rows outside the probed keys.

    Default OFF, by measurement: on local NVMe with a warm page
    cache the bytes this filter avoids reading/decoding cost less
    than its fixed ~0.4s driver-side keys-collect job at every shape
    tested (index sizes 2 MB - 2.7 GB, probe batches touching
    8 - 80 % of buckets; PLANS.md "r8 ANN probe soak"). Opt in where
    scan bytes are genuinely expensive — cold data on object storage,
    or indexes orders of magnitude past the testable range — and the
    probed fraction is small.

    The index side keeps the ``vnorm > 0`` filter: an index
    materialized before lsh_ann_index excluded zero-norm rows may
    still hold them, and the predicate is a cheap scan-side filter
    that does not disturb the exchange-free bucketed probe join."""
    return _lsh_probe(
        index, queries, id_col, vec_col, k, dim, n_planes, n_tables,
        probe_radius, broadcast_queries, indexed=True,
        pushdown_probe_keys=pushdown_probe_keys,
    )


def _lsh_probe(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    n_planes: int,
    n_tables: int,
    probe_radius: int,
    broadcast_queries: bool | None,
    indexed: bool,
    pushdown_probe_keys: bool = False,
) -> DataFrame:
    """The body of :func:`lsh_topk` (``indexed=False``: ``corpus`` is
    raw and indexed inline) and :func:`lsh_topk_from_index`
    (``indexed=True``: ``corpus`` is an :func:`lsh_ann_index`)."""
    if probe_radius not in (0, 1):
        raise ValueError("probe_radius must be 0 or 1")
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    tables = [_hyperplanes(dim, n_planes, t) for t in range(n_tables)]
    # zero-norm rows drop BEFORE the explode (one filter per row, not
    # per probe), and each table's bucket folds once per row in that
    # projection: inside the explode's array the fold would rerun for
    # every probe mask (x(n_planes+1) interpreted folds per row)
    bcols = [f"_b{t}" for t in range(n_tables)]
    q = _probe_side(
        queries, _Q_SIDE, id_col, vec_col, None,
        *[
            lsh_bucket_expr(F.col(vec_col), planes).alias(b)
            for b, planes in zip(bcols, tables)
        ],
    ).select(
        *_Q_SIDE,
        F.explode(
            _probe_structs([F.col(b) for b in bcols], n_planes, probe_radius)
        ).alias("pr"),
    ).select(*_Q_SIDE, "pr.tbl", "pr.bucket")
    if not indexed:
        corpus = lsh_ann_index(corpus, id_col, vec_col, dim, n_planes, n_tables)
    elif pushdown_probe_keys:
        # one tiny job over the (broadcast-sized) query batch; cap+1
        # rows bound the driver collect even if the caller passed an
        # unexpectedly wide batch with pushdown forced on
        keys = (
            q.select("tbl", "bucket")
            .distinct()
            .limit(PUSHDOWN_KEY_CAP + 1)
            .collect()
        )
        if 0 < len(keys) <= PUSHDOWN_KEY_CAP:
            by_tbl: dict[int, list[int]] = {}
            for r in keys:
                by_tbl.setdefault(r.tbl, []).append(r.bucket)
            clauses = [
                (F.col("tbl") == tbl) & F.col("bucket").isin(buckets)
                for tbl, buckets in sorted(by_tbl.items())
            ]
            corpus = corpus.filter(functools.reduce(operator.or_, clauses))
    fanout = n_tables * ((n_planes + 1) if probe_radius == 1 else 1)
    # broadcast_queries=None auto-decides via a count() of the query
    # side — that action is a full query-side scan, so callers that
    # already KNOW their probe batch is small (or huge) pass
    # True/False and skip the extra job
    if broadcast_queries is None:
        broadcast_queries = queries.count() * fanout <= BROADCAST_THRESHOLD
    c = _probe_side(corpus, _C_SIDE, id_col, vec_col, "vnorm", "tbl", "bucket")
    # one inline table: no pair can repeat, and tbl is the constant 0 —
    # a single long key keeps Spark's LongHashedRelation probe, ~20 %
    # faster than the (tbl, bucket) composite on the sf0.1 bench entry
    multi = indexed or n_tables > 1
    return _probe_topk(
        c, q, k, on=["tbl", "bucket"] if multi else "bucket", dedup=multi,
        broadcast=broadcast_queries,
    )


def _salt_self_join_blocks(
    a: DataFrame,
    b: DataFrame,
    key: str,
    max_rows: int | None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Bound cogroup-group size for a same-key self-join pair listing:
    ``key`` groups above ``max_rows`` split into n_salt hash blocks
    per side, and each side fans across the OTHER side's salt, so the
    ordered pair (x, y) meets in exactly the one group
    (key, salt(x), salt(y)) — no duplicate pairs, no lost pairs.
    Replication per side is n_salt (group count n_salt^2, each
    bounded). The bound is in expectation (hash split, like every
    salted join), not a hard ceiling.

    ``a`` must carry ``id_a`` and ``b`` ``id_b`` for the salt hash.
    Returns (salted a, salted b, cogroup keys)."""
    if max_rows is None:
        return a, b, [key]
    counts = a.groupBy(key).agg(
        F.ceil(F.count(F.lit(1)) / F.lit(int(max_rows)))
        .cast("int")
        .alias("n_salt")
    )
    fan = F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1))
    a_g = (
        a.join(F.broadcast(counts), on=key)
        .withColumn(
            "sa", F.pmod(F.xxhash64("id_a"), F.col("n_salt")).cast("int")
        )
        .withColumn("sb", fan)
        .drop("n_salt")
    )
    b_g = (
        b.join(F.broadcast(counts), on=key)
        .withColumn(
            "sb", F.pmod(F.xxhash64("id_b"), F.col("n_salt")).cast("int")
        )
        .withColumn("sa", fan)
        .drop("n_salt")
    )
    return a_g, b_g, [key, "sa", "sb"]


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    exact: bool = False,
    impl: str = "jvm",
    max_bucket_rows: int | None = 100_000,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cos >= threshold).

    exact=True does the full self-join (verification path); default uses
    LSH buckets so only same-bucket pairs are scored.

    impl='jvm' (default): per-pair codegen fold — fold-order-exact vs
    the DuckDB oracles. impl='blas' (bucketed path only): each LSH
    bucket is scored as ONE cogrouped numpy matmul, the same
    per-cell-matmul shape (and the same measured >=45x class of win
    on 10^8-pair workloads) as incremental_semantic_dedup's blas
    gate. Last-ulp float summation differences vs the fold —
    production path; rounding is half-away-from-zero to match the
    JVM path's HALF_UP ``F.round`` even on exact .00005 ties.

    ``max_bucket_rows`` (default ON, blas path) bounds per-task
    memory: applyInPandas materializes a whole cogroup in one Python
    worker, so a hot LSH bucket (near-dup-heavy corpora concentrate)
    would otherwise OOM an executor. Buckets above the cap are hash-
    salted into sub-blocks on BOTH sides and every (salt_a, salt_b)
    sub-block pair is scored, so each ordered pair (id_a < id_b)
    meets in exactly one group — semantics-free blocking of the
    self-join, the same discipline as the LSH tier's
    ``max_bucket_size``. The matmul additionally chunks so the sims
    matrix stays <=2^24 doubles (~128 MB) per step."""
    # per-side norm precompute (as in cosine_topk): the norm fold runs
    # once per row, not once per candidate pair — bit-identical values
    # zero-norm rows excluded on both sides: their cosine is NaN, and
    # Spark comparisons treat NaN as GREATER than any number, so an
    # all-zero embedding would otherwise "near-duplicate" everything
    # it shares a bucket with (numpy would silently disagree)
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    ).filter(F.col("na") > 0)
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    ).filter(F.col("nb") > 0)
    if exact:
        pairs = a.crossJoin(b)
    else:
        planes = _hyperplanes(dim, n_planes)
        a = a.withColumn("bucket", lsh_bucket_expr(F.col("va"), planes))
        b = b.withColumn("bucket", lsh_bucket_expr(F.col("vb"), planes))
        if impl == "blas":
            import numpy as np
            import pandas as pd

            a_g, b_g, keys = _salt_self_join_blocks(
                a, b, "bucket", max_bucket_rows
            )

            def score(apdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
                empty = pd.DataFrame(
                    {
                        "id_a": pd.Series([], dtype="int64"),
                        "id_b": pd.Series([], dtype="int64"),
                        "cos": pd.Series([], dtype="float64"),
                    }
                )
                if len(apdf) == 0 or len(bpdf) == 0:
                    return empty
                bm = np.stack(bpdf["vb"].values).astype(np.float64)
                bn = bpdf["nb"].values.astype(np.float64)
                ib = bpdf["id_b"].values
                out = []
                step = max(1, (1 << 24) // len(bpdf))
                for lo in range(0, len(apdf), step):
                    am = np.stack(
                        apdf["va"].values[lo : lo + step]
                    ).astype(np.float64)
                    an = apdf["na"].values[lo : lo + step].astype(
                        np.float64
                    )
                    ia = apdf["id_a"].values[lo : lo + step]
                    sims = (am @ bm.T) / np.outer(an, bn)
                    ai, bi = np.nonzero(
                        (sims >= threshold) & (ia[:, None] < ib[None, :])
                    )
                    if len(ai) == 0:
                        continue
                    s = sims[ai, bi]
                    out.append(
                        pd.DataFrame(
                            {
                                "id_a": ia[ai].astype("int64"),
                                "id_b": ib[bi].astype("int64"),
                                # half-AWAY-FROM-ZERO to match the JVM
                                # path's F.round (HALF_UP) on exact
                                # .00005 ties — np.round is half-even
                                "cos": np.sign(s)
                                * np.floor(np.abs(s) * 1e4 + 0.5)
                                / 1e4,
                            }
                        )
                    )
                return pd.concat(out) if out else empty

            return (
                a_g.groupby(*keys)
                .cogroup(b_g.groupby(*keys))
                .applyInPandas(
                    score, schema="id_a long, id_b long, cos double"
                )
            )
        pairs = a.join(b, on="bucket")
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 4).alias("cos"))
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean embedding, long format (label, pos, centroid).

    The supervised sibling of the IVF coarse quantizer: class
    prototypes for centroid-distance outlier pruning and per-topic
    corpus balancing. Long format keeps it oracle-checkable
    value-by-value (no float-array stringification ambiguity).

    Shape at 100 TB: posexplode multiplies rows by dim, but every
    (label, pos) partial sum is map-side combined, so the shuffle
    carries only n_labels x dim aggregate rows per task — the corpus
    itself never moves. This beats an array-valued groupBy(label)
    agg of F.transform sums, which would put whole vectors in the
    aggregation buffer without partial aggregation over elements.
    """
    ex = df.select(
        label_col, F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    return (
        ex.groupBy(label_col, "pos")
        # + 0.0 folds IEEE -0.0 to +0.0: each engine's last-ulp sum
        # noise around a true-zero mean otherwise rounds to ±0.0 on
        # DIFFERENT sides, and "%.4f" renders the sign (r6 sf0.1 find)
        .agg(
            (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .select(
            F.col(label_col).cast("long").alias("label"),
            F.col("pos").cast("long").alias("pos"),
            "centroid",
            "n_vecs",
        )
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# --------------------------------------------------------------------------


def _ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    iters: int,
    impl: str = "jvm",
) -> list[list[float]]:
    """Deterministic coarse centroids.

    Init: the n_cells corpus vectors with the smallest md5-derived hash
    of their id — a seedless, engine-portable random sample. Then
    ``iters`` distributed Lloyd rounds (assign by max cosine → new
    centroid = normalized mean of the cell, computed via posexplode +
    groupBy(cell, pos) — one shuffle per round whose volume is
    n_cells × dim rows after partial aggregation). Only the
    n_cells × dim centroid matrix ever reaches the driver.
    """
    from dataprocessingframework_spark.functions.hashing import hash64

    seed_rows = (
        corpus.select(
            F.col(vec_col).alias("v"),
            hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(n_cells)
        .collect()
    )
    cents = [[float(x) for x in r["v"]] for r in seed_rows]

    for _ in range(iters):
        assigned = assign_cells(
            corpus, cents, id_col, vec_col, n_probe=1, impl=impl
        )
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        new = []
        for c, old in enumerate(cents):
            if c in by_cell:
                vec = [by_cell[c][p] for p in range(len(old))]
                n = sum(x * x for x in vec) ** 0.5 or 1.0
                new.append([x / n for x in vec])
            else:
                new.append(old)  # empty cell keeps its seed
        cents = new
    return cents


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
    impl: str = "jvm",
) -> DataFrame:
    """Attach the top-n_probe nearest-centroid cell ids to each row.

    impl='jvm': centroids are literal arrays — cell scoring is a narrow
    projection in whole-stage codegen (n_cells dot products per row),
    no join, no shuffle. impl='blas': one numpy matmul per Arrow batch
    against the (n_cells × dim) centroid matrix — ~10× faster when
    n_cells × dim work per row outgrows the codegen fold. Both are
    narrow (no shuffle) and deterministic; ties break toward the lower
    cell id. Returns the input columns plus ``cell`` (exploded when
    n_probe > 1).
    """
    if impl == "blas":
        return _assign_cells_blas(df, centroids, vec_col, n_probe)
    # centroid matrix as ONE nested-array Literal, not an unrolled
    # n_cells x dim expression forest — same per-construction
    # analysis/codegen rationale (and value-identical fold) as
    # lsh_bucket_expr; the transform index replaces F.lit(i)
    scores = F.transform(
        _nested_array_lit([[float(x) for x in c] for c in centroids]),
        lambda c, i: F.struct(
            dot(F.col(vec_col), c).alias("s"), i.alias("c")
        ),
    )
    top = F.slice(F.array_sort(scores, lambda a, b: F.when(a["s"] > b["s"], -1).when(a["s"] < b["s"], 1).otherwise(0)), 1, n_probe)
    out = df.withColumn("_cells", F.transform(top, lambda t: t["c"]))
    if n_probe == 1:
        return out.withColumn("cell", F.col("_cells")[0]).drop("_cells")
    return out.withColumn("cell", F.explode("_cells")).drop("_cells")


def _top_cells(v: Any, cmat: Any, n_probe: int) -> Any:
    """The ``n_probe`` nearest-centroid cell ids of each row of the
    float64 matrix ``v`` as an int32 (rows × n_probe) array, from one
    (rows × n_cells) matmul; ties break to the lower cell id (stable
    argsort), matching the JVM comparator. ``n_probe`` clamps to
    n_cells, as the JVM path's ``slice`` does."""
    import numpy as np

    sims = v @ cmat.T
    n_probe = min(n_probe, cmat.shape[0])
    if n_probe == 1:
        return sims.argmax(axis=1).astype("int32")[:, None]
    return np.argsort(-sims, axis=1, kind="stable")[:, :n_probe].astype("int32")


def _assign_cells_blas(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Arrow-batched centroid assignment: each batch is one (batch ×
    n_cells) matmul (:func:`_top_cells`). Narrow (no shuffle)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cmat = np.array(centroids, dtype=np.float64)
    schema = StructType(df.schema.fields + [StructField("cell", IntegerType())])

    def go(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            top = _top_cells(np.stack(pdf[vec_col].values).astype(np.float64), cmat, n_probe)
            if top.shape[1] == 1:
                out = pdf.copy()
            else:
                out = pdf.loc[pdf.index.repeat(top.shape[1])].reset_index(drop=True)
            out["cell"] = top.ravel()
            yield out

    return df.mapInPandas(go, schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 1,
    impl: str = "blas",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer (the FAISS-style
    scale path, alongside lsh_topk): corpus rows are assigned to their
    nearest of n_cells centroids; each query probes its n_probe nearest
    cells and scores only that fraction of the corpus (~n_probe/n_cells
    of it, data permitting).

    All heavy steps are narrow maps (cell assignment is codegen'd dot
    products against literal centroids); the only shuffles are the
    centroid means (n_cells × dim rows) and the per-query top-k window.
    Recall is tunable via n_probe; n_probe = n_cells degenerates to the
    exact result.

    ``centroids`` short-circuits the coarse-quantizer build: production
    serving trains the quantizer ONCE per corpus snapshot (or loads it
    from the feature store) and reuses it for every probe batch —
    recomputing per query batch would re-run the Lloyd rounds and the
    seed collect against 100 TB each time.
    """
    cents = centroids or _ivf_centroids(
        corpus, id_col, vec_col, n_cells, iters, impl=impl
    )
    c = assign_cells(
        _probe_side(corpus, _C_SIDE, id_col, vec_col),
        cents, "nbr_id", "c_vec", n_probe=1, impl=impl,
    )
    q = assign_cells(
        _probe_side(queries, _Q_SIDE, id_col, vec_col),
        cents, "q_id", "q_vec", n_probe=n_probe, impl=impl,
    )
    # _per_query_topk's map-side partial WindowGroupLimit keeps a fat
    # IVF cell from funneling its full membership through one q_id
    # partition
    return _probe_topk(c, q, k, on="cell")


SQ8_LEVELS = 256
_SQ8_PER_WORD = 7  # codes per packed long: 7x8=56 bits — the top
# byte of a full 8 would set bit 63 and make the word sign-dependent,
# which DuckDB BIGINT shifts and ANSI-mode addition both reject;
# 7-per-long keeps every word positive and the packing bit-portable


def _sq8_bounds(corpus: DataFrame, vec_col: str) -> tuple[list, list]:
    """Per-dimension (mins, maxs) over the corpus — ONE posexplode +
    groupBy(pos) pass collapsing to two dim-length lists on the
    driver (dim-bounded, never corpus-bounded)."""
    rows = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .orderBy("pos")
        .collect()
    )
    return [float(r.mn) for r in rows], [float(r.mx) for r in rows]


def _finite_d(x: float, what: str) -> str:
    """repr-literal a double for SQL interpolation, failing LOUDLY on
    non-finite input (ADVICE r16): ``repr(inf)`` would emit ``infD``
    and surface as an opaque ParseException where the old F.lit
    column-algebra path built a (still-wrong) plan. Same actionable
    contract as _nested_array_lit's guard. The repr round-trips
    binary64 exactly, so the parsed literal is bit-identical to the
    F.lit path."""
    import math

    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite {what} ({x!r}); repr-based SQL literals"
            " cannot encode NaN/Inf — clean the input vectors or"
            " rebuild the index bounds before probing"
        )
    return f"{x!r}D"


def _sq8_code_sql(vec_col: str, mins: list, maxs: list, i: int) -> str:
    """SQ8 code for dimension i as a SQL fragment: clamp(0, 255,
    floor((x-mn)/(mx-mn)*256)), 0 on degenerate dims — same pure
    floor arithmetic as quantize_embeddings, bit-portable across
    engines. The LOWER clamp matters only on the append path: a
    batch value below the STORED per-dim min would otherwise code
    negative and corrupt the packed word's neighboring bytes.

    A SQL string, not column algebra (r16): the py4j form cost ~10
    driver round-trips per dimension; parsing is one call for the
    whole pack/dequant expression. The parsed tree computes the
    identical arithmetic — `-`/`/`/`*` left-associate in both forms,
    `v[i]` is the same 0-based GetArrayItem, the mn/range literals
    are Python-computed doubles emitted as shortest-round-trip
    reprs, and floor(double) is BIGINT either way (the SQ8 probe
    parity tests and the emb_ivf_sq8_topk oracle pin bit-equality)."""
    mn, mx = mins[i], maxs[i]
    if mx <= mn:
        return "CAST(0 AS BIGINT)"
    return (
        "greatest(CAST(0 AS BIGINT), least("
        f"CAST({SQ8_LEVELS - 1} AS BIGINT), "
        f"FLOOR((CAST({vec_col}[{i}] AS DOUBLE)"
        f" - {_finite_d(mn, f'sq8 min[{i}]')})"
        f" / {_finite_d(mx - mn, f'sq8 range[{i}]')}"
        f" * {float(SQ8_LEVELS)!r}D)))"
    )


def _sq8_pack_expr(vec_col: str, mins: list, maxs: list) -> Column:
    """Pack the SQ8 codes 7-per-long into array<bigint> — a true
    (dim bytes)-per-row payload vs 4*dim for float32, independent of
    parquet encodings. Statically unrolled (dim is driver-known from
    the bounds), build-time only — probes never re-pack. ONE parsed
    SQL expression (r16, see _sq8_code_sql): the py4j column-algebra
    form issued ~10 round-trips per dimension per index build."""
    dim = len(mins)
    words = []
    for w in range(0, dim, _SQ8_PER_WORD):
        terms = ["CAST(0 AS BIGINT)"]
        for j, i in enumerate(range(w, min(w + _SQ8_PER_WORD, dim))):
            terms.append(
                f"shiftleft({_sq8_code_sql(vec_col, mins, maxs, i)},"
                f" {8 * j})"
            )
        words.append(" + ".join(terms))
    return F.expr(f"array({', '.join(words)})")


def _sq8_dequant_dot(
    vec_col: str, codes_col: str, mins: list, maxs: list
) -> Column:
    """Dot product of a float vector column against the packed SQ8
    codes' midpoint dequantization, as a statically UNROLLED
    left-nested sum: sum_i v[i] * (mn_i + (code_i + 0.5) * step_i).
    The left-to-right addition order matches both the aggregate-fold
    arithmetic and DuckDB's list_dot_product, so results are
    bit-identical across engines (the oracled probe pins this);
    unrolling skips the per-candidate dequant-array materialization
    and per-element HOF lambda overhead (measured 54.1s -> 33.1s on
    the 1M-row probe, PLANS.md "r10 SQ8 IVF index").

    Built as ONE parsed SQL expression (r16): the py4j column-algebra
    form cost ~8 driver round-trips per dimension per probe
    construction. The parsed tree is identical — `+` and `*` are
    left-associative in both forms, `v[i]` is the same 0-based
    GetArrayItem, and the mn/step literals are Python-computed doubles
    emitted as shortest-round-trip reprs either way."""
    dim = len(mins)
    terms = []
    for i in range(dim):
        w, j = divmod(i, _SQ8_PER_WORD)
        mn, mx = mins[i], maxs[i]
        step = (mx - mn) / float(SQ8_LEVELS)
        code = f"(shiftright({codes_col}[{w}], {8 * j}) & 255)"
        terms.append(
            f"CAST({vec_col}[{i}] AS DOUBLE) * "
            f"({_finite_d(mn, f'sq8 min[{i}]')}"
            f" + (CAST({code} AS DOUBLE) + 0.5D) * "
            f"{_finite_d(step, f'sq8 step[{i}]')})"
        )
    return F.expr(" + ".join(terms))


def sq8_gate_margin(
    mins: list, maxs: list, min_vnorm: float
) -> float:
    """A SOUND stage-1 margin for the SQ8 rung of :func:`semantic_dedup_gate`:
    with ``margin >= sq8_gate_margin(...)`` the two-stage compressed
    gate provably equals the exact gate.

    Derivation (all public linear algebra): midpoint dequantization
    puts each stored vector v̂ within step_i/2 of the true v per
    dimension (the clamp rails included: v == mx codes 255 and lands
    step/2 away; degenerate dims contribute 0), so
    ‖v − v̂‖₂ ≤ Δ := sqrt(Σ_i (step_i/2)²). For unit directions,
    ‖v/‖v‖ − v̂/‖v̂‖‖ ≤ 2‖v − v̂‖ / max(‖v‖, ‖v̂‖), and by
    Cauchy-Schwarz |cos(q,v) − cos(q,v̂)| is at most that. Taking
    ``min_vnorm`` = the smallest STORED vnorm in the index (≤ every
    max(‖v‖, ‖v̂‖)) gives the corpus-wide bound 2Δ/min_vnorm. The
    bound is deliberately not tight — last-ulp differences in how two
    engines evaluate it cannot make it unsound."""
    import math

    delta2 = 0.0
    for mn, mx in zip(mins, maxs):
        if mx > mn:
            step = (mx - mn) / float(SQ8_LEVELS)
            delta2 += (step / 2.0) ** 2
    if min_vnorm <= 0:
        raise ValueError(
            f"min_vnorm must be positive, got {min_vnorm}"
        )
    return 2.0 * math.sqrt(delta2) / float(min_vnorm)


def load_sq8_bounds(
    spark: SparkSession, table: str
) -> tuple[list, list]:
    """(mins, maxs) persisted by materialize_ivf_index(sq8=True)."""
    rows = spark.table(f"{table}_sq8").collect()
    if len(rows) != 1:
        raise ValueError(
            f"{table}_sq8 must hold exactly one bounds row, got "
            f"{len(rows)}; rebuild via materialize_ivf_index(sq8=True)"
        )
    r = rows[0]
    return [float(x) for x in r.mins], [float(x) for x in r.maxs]


def load_prefix_dims(spark: SparkSession, table: str) -> tuple[int, int]:
    """(prefix_dims, full_dim) persisted by
    materialize_ivf_index(prefix_dims=...)."""
    rows = spark.table(f"{table}_prefix").collect()
    if len(rows) != 1:
        raise ValueError(
            f"{table}_prefix must hold exactly one geometry row, got"
            f" {len(rows)}; rebuild via"
            " materialize_ivf_index(prefix_dims=...)"
        )
    return int(rows[0].dims), int(rows[0].full_dim)


def _nested_array_lit(mat: list[list[float]]) -> Column:
    """A k x d nested-array literal that enters the UNOPTIMIZED plan
    as two nodes: ``from_json('<matrix json>', 'array<array<double>>')``
    over one string literal. The optimizer's ConstantFolding collapses
    it to a single folded array Literal before execution (verified in
    the optimized plan), so no row ever parses JSON.

    Why not the obvious forms: ``F.lit(nested_list)`` issues a py4j
    call per element — a 256 x 8 PQ codebook cost ~14 s of driver-side
    plan CONSTRUCTION per probe (measured r8). The r8 fix (one parsed
    ``array(array(...))`` SQL expression) killed the py4j cost but
    still put ~k x d CreateArray/Literal NODES into the analyzed
    plan, and the analyzer re-walks the whole tree on EVERY subsequent
    DataFrame op — the 16-codebook PQ probe paid ~0.13 s per op
    across ~15 ops (~2 s/probe of pure re-analysis, measured r16).
    The folded-at-optimization form keeps analysis O(1) in matrix
    size.

    Exactness: ``json.dumps`` emits Python ``repr`` floats (shortest
    round-tripping decimal) and Jackson's double parsing is correctly
    rounded, so the folded doubles are bit-identical to the F.lit
    path."""
    import json
    import math

    for row in mat:
        for x in row:
            if not math.isfinite(float(x)):
                raise ValueError(
                    "non-finite value in centroid/codebook matrix"
                    f" ({x!r}); JSON/repr-based literals cannot encode"
                    " NaN/Inf — clean the seed embeddings or drop the"
                    " degenerate row before building the index"
                )
    return F.from_json(
        F.lit(json.dumps([[float(x) for x in row] for row in mat])),
        "array<array<double>>",
    )


def _pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    refine_iters: int = 0,
    train_rows: int | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks. Default (``refine_iters=0``):
    the k corpus vectors with the smallest md5-derived id hash (the
    same seedless portable sample as _ivf_centroids), each split into
    m sub-vectors — codebooks[s][c] is codeword c of subspace s. No
    Lloyd refinement, so every downstream code assignment is pure
    portable arithmetic and the whole PQ path carries a FULL
    cross-engine oracle. Only k x dim doubles reach the driver.

    ``refine_iters=N`` is the production-quality path: per subspace,
    N rounds of Lloyd (k-means assign + mean update) over a BOUNDED
    deterministic training sample — the ``train_rows`` (default
    256*k, the FAISS max_points_per_centroid convention) smallest
    hash-ordered vectors, collected once via TakeOrdered. The seeded
    books are the measured recall FLOOR on unclustered data
    (0.35-0.66 direct at sf0.1, PLANS.md); real-world embedding
    corpora are clustered, and Lloyd codebooks are where PQ earns its
    compression (Jegou et al. 2011 trains exactly this way). Empty
    clusters keep their previous codeword, so every iteration is
    deterministic given the sample; refined books use float64 numpy
    and therefore DROP the cross-engine oracle guarantee — the
    oracled registry query stays at refine_iters=0. Driver transfer
    is train_rows x dim doubles (256*256 x 64 = 32 MB), independent
    of corpus size — sample-trained codebooks are the standard at
    billion scale; training never scans the full corpus."""
    from dataprocessingframework_spark.functions.hashing import hash64

    n_train = k if not refine_iters else max(
        k, train_rows if train_rows is not None else 256 * k
    )
    rows = (
        corpus.select(
            F.col(vec_col).alias("v"),
            hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(n_train)
        .collect()
    )
    vecs = [[float(x) for x in r["v"]] for r in rows]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sd = dim // m
    books = [
        [vec[s * sd : (s + 1) * sd] for vec in vecs[:k]]
        for s in range(m)
    ]
    if not refine_iters:
        return books
    import numpy as np

    train = np.array(vecs, dtype=np.float64)
    refined: list[list[list[float]]] = []
    for s in range(m):
        X = train[:, s * sd : (s + 1) * sd]
        C = np.array(books[s], dtype=np.float64)
        x2 = (X * X).sum(axis=1)[:, None]
        for _ in range(refine_iters):
            d = x2 - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
            a = np.argmin(d, axis=1)
            sums = np.zeros_like(C)
            np.add.at(sums, a, X)
            counts = np.bincount(a, minlength=len(C)).astype(np.float64)
            live = counts > 0
            C[live] = sums[live] / counts[live, None]
        refined.append([[float(x) for x in row] for row in C])
    return refined


def _pq_code_exprs(
    vec_col: str, codebooks: list[list[list[float]]]
) -> list[Column]:
    """Per-subspace PQ code: argmin_k squared L2 distance between the
    sub-vector and codeword k, ties to the lower k (array_min over
    (dist, k) structs — field order IS the tiebreak). Each subspace's
    codebook ships as ONE nested-array literal (compact-literal
    pattern); the scan stays a narrow projection."""
    m = len(codebooks)
    sd = len(codebooks[0][0])

    def scorer(sub):
        # closure factory: a `sub=sub` default param would change the
        # lambda's arity and break PySpark's HOF argument counting
        return lambda cw, kk: F.struct(
            F.aggregate(
                F.zip_with(sub, cw, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            kk.alias("k"),
        )

    exprs = []
    for s in range(m):
        sub = F.slice(F.col(vec_col), s * sd + 1, sd)
        scores = F.transform(
            _nested_array_lit(codebooks[s]), scorer(sub)
        )
        exprs.append(F.array_min(scores)["k"].cast("long"))
    return exprs


def _pq_recon(books: list[list[list[float]]]) -> Column:
    """The PQ reconstruction of an index row's packed ``codes``: one
    codebook lookup per subspace (element_at on a nested-array literal
    indexed by the unpacked code), concatenated in dim order, so a dot
    fold over it sums in the order of the build-side
    reconstruction-norm fold and of the DuckDB oracle. Each k x subdim
    codebook literal appears exactly ONCE — an earlier unrolled-sum
    variant referenced the lookup per DIMENSION, duplicating every
    literal sd times, and Catalyst analysis + janino paid for a
    131k-node literal forest per probe (r8)."""
    return F.concat(
        *[
            F.element_at(
                _nested_array_lit(bk),
                (
                    F.shiftright(
                        F.col("codes")[s // _SQ8_PER_WORD],
                        8 * (s % _SQ8_PER_WORD),
                    ).bitwiseAND(F.lit(255))
                    + 1
                ).cast("int"),
            )
            for s, bk in enumerate(books)
        ]
    )


def load_pq_codebooks(
    spark: SparkSession, table: str
) -> list[list[list[float]]]:
    """Codebooks persisted by :func:`materialize_pq_index` —
    m x k x subdim, always driver-sized."""
    rows = spark.table(f"{table}_pq").orderBy("s", "c").collect()
    books: list[list[list[float]]] = []
    for r in rows:
        if r.s == len(books):
            books.append([])
        if r.s != len(books) - 1 or r.c != len(books[-1]):
            raise ValueError(
                f"{table}_pq rows are not contiguous (s={r.s}, c={r.c})"
                " — corrupted or double-written; rebuild via"
                " materialize_pq_index"
            )
        books[-1].append([float(x) for x in r.codeword])
    return books


def _pq_encode(assigned: DataFrame, books: list[list[list[float]]], impl: str) -> DataFrame:
    """PQ index rows (cell, vec_id, codes, vnorm, resid): per-subspace
    argmin codes packed 7 per bigint, ``vnorm`` the RECONSTRUCTION's
    norm, and the per-row residual ``resid`` = ||v - v̂||, the sound
    per-vector margin input of the pq gate rung (8 B/row)."""
    m, sd = len(books), len(books[0][0])
    if impl == "jvm":
        # expression encode: portable argmin arithmetic, the
        # oracle-exact path. Interpreted-HOF cost is ~28 ms/row
        # (k_codes folds per subspace per row) — fine for the
        # oracled registry query, wrong for a production build;
        # the blas default below is ~100x faster per batch.
        assigned = assigned.withColumn(
            "pq_codes", F.array(*_pq_code_exprs("embedding", books))
        )
        words = []
        for w in range(0, m, _SQ8_PER_WORD):
            expr = F.lit(0).cast("long")
            for j, s in enumerate(range(w, min(w + _SQ8_PER_WORD, m))):
                expr = expr + F.shiftleft(F.col("pq_codes")[s], 8 * j)
            words.append(expr)
        recon = F.concat(
            *[
                F.element_at(
                    _nested_array_lit(books[s]),
                    (F.col("pq_codes")[s] + 1).cast("int"),
                )
                for s in range(m)
            ]
        )
        return assigned.select(
            "cell",
            "vec_id",
            F.array(*words).alias("codes"),
            norm(recon).alias("vnorm"),
            norm(
                F.zip_with(F.col("embedding"), recon, lambda a, b: a - b)
            ).alias("resid"),
        )
    # Arrow-batched numpy encode (production default): per batch, per
    # subspace ONE ||sub||^2 - 2 sub@CB^T + ||CB||^2 distance matrix and
    # a vectorized argmin (np ties -> first index = lowest codeword,
    # same tiebreak as the expression path). Distances accumulate in a
    # different order than the JVM fold, so a code can differ only on
    # an exact inter-codeword distance tie — use impl='jvm' for
    # oracle-exact parity.
    import numpy as np
    import pandas as pd

    n_words = (m + _SQ8_PER_WORD - 1) // _SQ8_PER_WORD
    b_books = [np.array(books[s], dtype=np.float64) for s in range(m)]
    b_norm2 = [(b * b).sum(axis=1) for b in b_books]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            words = np.zeros((len(pdf), n_words), dtype=np.int64)
            recon = np.empty_like(vm)
            for s in range(m):
                sub = vm[:, s * sd : (s + 1) * sd]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ b_books[s].T)
                    + b_norm2[s][None, :]
                )
                cs = np.argmin(d, axis=1)
                recon[:, s * sd : (s + 1) * sd] = b_books[s][cs]
                words[:, s // _SQ8_PER_WORD] |= cs << (8 * (s % _SQ8_PER_WORD))
            yield pd.DataFrame(
                {
                    "cell": pdf["cell"].values,
                    "vec_id": pdf["vec_id"].values,
                    "codes": [w.tolist() for w in words],
                    "vnorm": np.linalg.norm(recon, axis=1),
                    "resid": np.linalg.norm(vm - recon, axis=1),
                }
            )

    return assigned.select("cell", "vec_id", "embedding").mapInPandas(
        encode,
        schema="cell int, vec_id long, codes array<bigint>,"
        " vnorm double, resid double",
    )


def materialize_pq_index(
    corpus: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 1,
    impl: str = "blas",
    centroids: list[list[float]] | None = None,
    num_buckets: int = 16,
    path: str | None = None,
    mode: str = "overwrite",
    m: int = 8,
    k_codes: int = 256,
    refine_iters: int = 0,
    balance_cell_rows: int | None = None,
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """IVF-PQ: the canonical billion-scale ANN layout (Jegou et al.
    2011) Spark-first — inverted lists bucketed on ``cell`` exactly
    like :func:`materialize_ivf_index`, but each vector stored as m
    product-quantization codes packed 7-per-bigint: dim=64, m=8 is
    8 code bytes -> 2 bigints = 16 B payload vs 256 B float32 (16x;
    measured on-disk ratio in PLANS.md "r10 IVF-PQ index"). SQ8
    (~4x) keeps per-dim resolution; PQ trades more accuracy for
    another 4x — the right rung when the index must live on object
    storage or fit a memory budget.

    Codebooks are md5-seeded corpus sub-vectors by default, so code
    assignment is portable argmin arithmetic and the
    ``emb_ivf_pq_topk`` registry query carries a FULL DuckDB oracle.
    ``refine_iters=N`` runs N Lloyd rounds per subspace over a
    bounded hash-ordered training sample (production recall path —
    see :func:`_pq_codebooks`; trades away the cross-engine oracle,
    keep 0 for oracle-checked uses).
    ``vnorm`` stores the RECONSTRUCTION's norm (probe cosines are
    consistent for what the index holds). ``mode='append'`` reuses
    the persisted centroids AND codebooks (the caller's ``m`` is
    ignored) — re-seeding on a batch would shift the code space under
    existing rows. Probe via
    ``ivf_topk_from_index(..., codebooks=load_pq_codebooks(...))``
    or :func:`ivf_pq_topk_rerank`. ``balance_cell_rows``: as in
    :func:`materialize_ivf_index` — fresh builds only, runs
    :func:`balance_centroids` after training so the persisted
    quantizer is the balanced one."""
    if k_codes > 256:
        raise ValueError(
            f"k_codes={k_codes} > 256: PQ codes are packed one byte"
            " each (7 per bigint); codes >= 256 would silently"
            " corrupt neighboring bytes in the packed word"
        )

    def codebooks(nz: DataFrame, stored: Any) -> Any:
        if stored is not None:
            return stored
        return _pq_codebooks(
            nz, "vec_id", "embedding", m, min(k_codes, nz.count()),
            refine_iters=refine_iters,
        )

    return _build_ivf_index(
        corpus, table, "pq", codebooks, id_col, vec_col, n_cells, iters, impl,
        centroids, num_buckets, path, mode, balance_cell_rows,
    )


def ivf_pq_topk_rerank(
    index: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    n_probe: int = 4,
    impl: str = "jvm",
) -> DataFrame:
    """Two-stage IVF-PQ serving — the standard FAISS recipe: the
    compressed index generates a ``shortlist`` of candidates per
    query (reading ~16 B/vector), then ONLY those candidates' original
    float vectors are fetched and exactly re-ranked to top-k. On the
    repo's unclustered worst-case embeddings, PQ top-10 directly is
    0.35-0.66 recall, but shortlist=100 + re-rank recovers 0.86-0.99
    of exact (PLANS.md "r10 IVF-PQ index") — compression costs only
    shortlist coverage, not ranking quality.

    Scale shape: the shortlist (|queries| x shortlist rows, skinny,
    joined to its query vectors) BROADCASTS into the corpus join on
    nbr_id, so the full-precision corpus is touched only through a
    broadcast-hash lookup of candidate ids — at 100 TB the re-rank
    reads shortlist-many vectors per query, not the corpus."""
    short = ivf_topk_from_index(
        index, centroids, queries, id_col, vec_col, k=shortlist,
        n_probe=n_probe, impl=impl, codebooks=codebooks,
    ).select("q_id", "nbr_id")
    q = short.join(
        F.broadcast(_probe_side(queries, _Q_SIDE, id_col, vec_col)), on="q_id"
    )
    c = _probe_side(corpus, _C_SIDE, id_col, vec_col)
    return _probe_topk(c, q, k, on="nbr_id")


def update_hot_lineage(
    sizes: dict[int, int],
    max_cell_rows: int,
    hot_state: dict[int, tuple[int, int]],
    unsplittable: dict[int, int],
) -> tuple[dict[int, tuple[int, int]], set[int]]:
    """Per-round lineage bookkeeping for :func:`balance_centroids`.

    Pure driver-side arithmetic over the n_cells-bounded ``sizes``
    map: for every still-hot cell, compare its size against its
    lineage reference (``hot_state``: cell -> (reference size,
    consecutive no-progress rounds)) and classify it — fresh (first
    attempt, or real progress made), ``stuck`` (kept >=95% of its
    reference once: escalate to the mean-sideways split), or
    ``unsplittable`` (no progress twice: stop burning rounds on it).

    Mutates ``unsplittable`` in place. A marked cell that gained
    >5% new mass since the mark has its mark cleared AND its
    lineage reset (``ref = None``), so the retry gets one full
    fresh hash-pair -> mean-sideways escalation cycle. Without the
    reset the retry path is dead: the stale lineage carries
    cons >= 2, and growth always satisfies n >= 0.95*ref, so the
    cell would be re-marked in the same pass before any split ran
    (ADVICE r12).

    Returns ``(new_hot_state, stuck)``.
    """
    stuck: set[int] = set()
    new_state: dict[int, tuple[int, int]] = {}
    for c, n in sizes.items():
        if n <= max_cell_rows:
            continue
        ref = hot_state.get(c)
        if c in unsplittable and n > 1.05 * unsplittable[c]:
            del unsplittable[c]  # new mass arrived: retry it
            ref = None  # fresh lineage: full escalation cycle
        if ref is not None and n >= 0.95 * ref[0]:
            cons = ref[1] + 1
            if cons >= 2:
                unsplittable[c] = n
            else:
                stuck.add(c)
        else:
            cons = 0
        new_state[c] = (n, cons)
    return new_state, stuck


def balance_centroids(
    corpus: DataFrame,
    centroids: list[list[float]],
    max_cell_rows: int,
    rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "jvm",
    round_stats: list | None = None,
) -> list[list[float]]:
    """Split HOT quantizer cells by seeding new centroids inside them
    (r12): the gates' chunked scoring bounds per-TASK memory when a
    mega-cell exists, but every probe of that cell still scores all
    of it; splitting the cell
    makes the quantizer itself balanced, so probe latency and gate
    candidate sets shrink at the source. The IVF skew risk at 100 TB
    is exactly this (`ivf_cell_stats` is the detector; this is the
    repair).

    Per round: assign the corpus to its nearest centroid (one narrow
    argmax-dot pass, no shuffle), count cells (map-side-combined,
    n_cells-bounded), and for every cell with more than
    ``max_cell_rows`` rows pick that cell's 2 md5-hash-order seed
    ROWS as replacement centroids — seed 1 replaces the hot
    centroid in place, seed 2 appends (in ascending hot-cell order,
    so ids are deterministic). All portable arithmetic (same
    hash-order seeding as :func:`_ivf_centroids`, same argmax-dot +
    lower-cell tiebreak as :func:`assign_cells`), so the whole
    trajectory is DuckDB-replayable — the ``emb_ivf_balance``
    registry query carries a FULL oracle. Only the seed rows (2 per
    hot cell, <= 2 x n_cells) ever reach the driver, and the seed
    window's rn<=2 plans a MAP-SIDE ``WindowGroupLimit Partial``
    below the cell exchange (plan-verified), so even the mega-cell
    being split ships only per-task top-2 rows — the hot cell never
    shuffles whole.

    Stops early when no cell is hot, and tracks per-cell progress
    through the split LINEAGE (a split's surviving mass can land on
    either child, including the freshly appended id — both inherit
    the parent's reference size): a DIRECTION-TIGHT cell is
    unsplittable by
    any two in-cell seed rows under argmax-dot — the separator
    dot(v, a−b)=0 passes through the origin, and a tight
    same-direction cluster far from the origin lies entirely on one
    side (measured: a 5.8k-row planted cluster oscillated ±10 rows
    across 8 hash-pair rounds). A hot cell that keeps >=95% of its
    size for a round escalates to the MEAN-SIDEWAYS split: with μ =
    the cell's vector mean and side = seed1 − proj_μ(seed1), the
    pair (μ+side, μ−side) has a−b = 2·side exactly ⊥ μ, so the
    boundary cuts the cluster through its middle on sideways noise
    (numpy-verified 50.2/49.8 on the oscillating cluster; equal
    norms, so no norm bias; in-cell mass still beats foreign
    centroids). Still pure portable arithmetic — one extra
    posexplode-avg over the stuck cells' rows. A cell stuck even
    after its mean-sideways round (side = 0: identical vectors) is
    marked unsplittable and excluded (until a later round moves >5%
    new mass into it, which clears the mark and retries — shifted
    boundaries can make a once-tight cell diverse) — the gates still
    score it correctly, only slower. ``rounds`` caps the attempts
    and ``round_stats`` (pass a list) records per round
    ``{round, n_cells, hot_cells, max_cell, reflected,
    unsplittable}`` (the last updated after the split loop, so
    'provably unsplittable' and 'budget exhausted' read differently
    in the ledger). Returns the new centroid list — persist it by
    passing ``centroids=`` to :func:`materialize_ivf_index` /
    :func:`materialize_pq_index` (probes reload it from the
    ``_centroids`` table, so the split quantizer is what every later
    batch probes)."""
    from dataprocessingframework_spark.functions.hashing import hash64

    cents = [[float(x) for x in c] for c in centroids]
    nz = corpus.select(
        F.col(id_col).alias("bid"),
        F.col(vec_col).cast("array<double>").alias("bv"),
        norm(F.col(vec_col)).alias("bn"),
    ).filter(F.col("bn") > 0)
    # hot-cell LINEAGE state: current cell id -> (reference size,
    # consecutive no-progress rounds). A split's surviving mass can
    # land on EITHER child — the replaced parent id or the appended
    # id (measured: a dominant-norm seed2 takes the whole cell, so
    # the hot mass hops to a brand-new id every round, which any
    # per-id tracker misses) — so after a split BOTH children
    # inherit the parent's reference size and counter.
    hot_state: dict[int, tuple[int, int]] = {}
    # cell id -> size at the moment it was marked unsplittable; a
    # later round that moves meaningfully MORE mass into the cell
    # (boundaries shift when other centroids are replaced) clears
    # the mark and retries — the new mass may be diverse and
    # splittable even though the original was not
    unsplittable: dict[int, int] = {}
    for r in range(rounds):
        assigned = assign_cells(nz, cents, "bid", "bv", n_probe=1,
                                impl=impl)
        sizes = {
            row.cell: row.n
            for row in assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # per-lineage progress: a hot cell that kept >=95% of its
        # ancestor's size made no real progress — escalate it to the
        # mean-sideways split; stuck even after that round, mark it
        # unsplittable and stop burning rounds on it (the gates
        # still score it correctly, only slower).
        hot_state, stuck = update_hot_lineage(
            sizes, max_cell_rows, hot_state, unsplittable
        )
        hot = sorted(
            c
            for c, n in sizes.items()
            if n > max_cell_rows and c not in unsplittable
        )
        if round_stats is not None:
            round_stats.append(
                {
                    "round": r,
                    "n_cells": len(cents),
                    "hot_cells": len(hot),
                    "max_cell": max(sizes.values()) if sizes else 0,
                    "reflected": len(stuck & set(hot)),
                    "unsplittable": len(unsplittable),
                }
            )
        if not hot:
            break
        w = Window.partitionBy("cell").orderBy("h", "bid")
        seeds = (
            assigned.filter(F.col("cell").isin(hot))
            .withColumn("h", hash64(F.col("bid").cast("string")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .select("cell", "rn", "bv")
            .collect()
        )
        by_cell: dict[int, dict[int, list[float]]] = {}
        for row in seeds:
            by_cell.setdefault(int(row.cell), {})[int(row.rn)] = [
                float(x) for x in row.bv
            ]
        mus: dict[int, list[float]] = {}
        stuck_hot = sorted(stuck & set(hot))
        if stuck_hot:
            # per-cell vector means for the escalated cells: one
            # posexplode-avg over only those cells' rows, a
            # |stuck| x dim result
            acc: dict[int, dict[int, float]] = {}
            for row in (
                assigned.filter(F.col("cell").isin(stuck_hot))
                .select("cell", F.posexplode("bv").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            ):
                acc.setdefault(int(row.cell), {})[int(row.pos)] = float(
                    row.m
                )
            mus = {
                c: [d[i] for i in range(len(d))] for c, d in acc.items()
            }
        new_cents = list(cents)
        appended = []
        for c in hot:
            picks = by_cell.get(c, {})
            if 1 not in picks:
                continue
            s1 = picks[1]
            if c in stuck:
                # hash pairs cannot cut this cell: mean-sideways
                # split — boundary exactly ⊥ the cell mean, cutting
                # a tight cluster through its middle
                mu = mus.get(c)
                if mu is None:
                    continue
                mn2 = sum(x * x for x in mu)
                if mn2 <= 0:
                    unsplittable[c] = sizes[c]
                    continue
                k2 = sum(a * b for a, b in zip(s1, mu)) / mn2
                side = [a - k2 * b for a, b in zip(s1, mu)]
                if all(x == 0.0 for x in side):
                    # no sideways component (identical-vector cell):
                    # provably uncuttable, stop trying
                    unsplittable[c] = sizes[c]
                    continue
                s1 = [m + s for m, s in zip(mu, side)]
                s2 = [m - s for m, s in zip(mu, side)]
            else:
                if 2 not in picks:
                    continue
                s2 = picks[2]
            child = len(cents) + len(appended)
            new_cents[c] = s1
            appended.append(s2)
            # both children inherit the lineage state: wherever the
            # surviving mass lands next round, it is measured
            # against THIS cell's size
            hot_state[child] = hot_state[c]
        if round_stats is not None and round_stats:
            # marks made inside the split loop (side == 0 cells)
            # must be ledger-visible: 'provably unsplittable' and
            # 'round budget exhausted' read differently
            round_stats[-1]["unsplittable"] = len(unsplittable)
        if not appended and all(
            new_cents[i] == cents[i] for i in range(len(cents))
        ):
            break  # nothing left that can move
        cents = new_cents + appended
    return cents


def _sq8_encode(assigned: DataFrame, bounds: tuple[list, list], impl: str) -> DataFrame:
    """SQ8 index rows (cell, vec_id, codes, vnorm): codes packed 7 per
    bigint, and ``vnorm`` the norm of the DEQUANTIZED midpoint vector,
    so probe cosines are consistent with what the index stores. The
    same JVM expressions for either ``impl``."""
    mins, maxs = bounds
    # direct per-dim midpoint exprs — value-identical to unpacking the
    # codes (the pack/unpack round-trip itself is pinned by the probe
    # parity tests). One parsed SQL expression (r16, see
    # _sq8_code_sql): the py4j form issued ~15 round-trips per
    # dimension per build
    deq = F.expr(
        "array(" + ", ".join(
            f"{_finite_d(mins[i], f'sq8 min[{i}]')} + "
            f"(CAST({_sq8_code_sql('embedding', mins, maxs, i)}"
            " AS DOUBLE) + 0.5D) * "
            + _finite_d(
                (maxs[i] - mins[i]) / float(SQ8_LEVELS),
                f"sq8 step[{i}]",
            )
            for i in range(len(mins))
        ) + ")"
    )
    return assigned.select(
        "cell",
        "vec_id",
        _sq8_pack_expr("embedding", mins, maxs).alias("codes"),
        norm(deq).alias("vnorm"),
    )


def _sq8_clamp_stats(nz: DataFrame, mins: list, maxs: list) -> dict:
    """SQ8 append-drift telemetry over the rows to encode: ``n_rows``,
    ``rows_clamped`` (rows with >= 1 dimension outside the stored
    bounds) and ``dims_clamped`` (total such dimensions). Those dims
    clamp to the code rails, where the dequant error exceeds step/2
    and the gate margin is no longer sound; for degenerate dims (mx <=
    mn, everything codes 0) any x != mn is equally uncovered, which the
    x < mn | x > mx test already says. One batch-sized agg."""
    x = [F.col("embedding")[i].cast("double") for i in range(len(mins))]
    cd = functools.reduce(operator.add, [
        F.when((x[i] < F.lit(mins[i])) | (x[i] > F.lit(maxs[i])), 1).otherwise(0)
        for i in range(len(mins))
    ])
    row = nz.select(cd.alias("cd")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("cd") > 0, 1).otherwise(0)).alias("r"),
        F.sum("cd").alias("d"),
    ).collect()[0]
    return {
        "n_rows": int(row.n),
        "rows_clamped": int(row.r or 0),
        "dims_clamped": int(row.d or 0),
    }


def _prefix_encode(assigned: DataFrame, dims: tuple[int, int], impl: str) -> DataFrame:
    """Prefix index rows (cell, vec_id, prefix, rest_norm, vnorm): the
    first d_p coordinates and the norm of the rest."""
    dp = dims[0]
    return assigned.select(
        "cell",
        "vec_id",
        F.expr(f"slice(embedding, 1, {dp})").alias("prefix"),
        norm(F.expr(f"slice(embedding, {dp + 1}, size(embedding))")).alias("rest_norm"),
        "vnorm",
    )


class _IndexRung(NamedTuple):
    """How a compressed rung stores its IVF index: the row encoder, and
    the ``{table}{suffix}`` companion table holding its sidecar."""

    suffix: str
    schema: str
    rows: Callable[[Any], list]  # sidecar -> companion rows
    load: Callable[[SparkSession, str], Any]  # companion table -> sidecar
    dim: Callable[[Any], int]  # vector length the sidecar encodes
    encode: Callable[[DataFrame, Any, str], DataFrame]  # (assigned, sidecar, impl)


# keyed like _GATE_RUNGS; the float rung stores (cell, vec_id,
# embedding, vnorm) and no sidecar
_INDEX_RUNGS: dict[str, _IndexRung] = {
    "pq": _IndexRung(
        "_pq", "s int, c int, codeword array<double>",
        rows=lambda books: [(s, c, w) for s, bk in enumerate(books) for c, w in enumerate(bk)],
        load=load_pq_codebooks, dim=lambda books: len(books) * len(books[0][0]),
        encode=_pq_encode,
    ),
    "sq8": _IndexRung(
        "_sq8", "mins array<double>, maxs array<double>, levels int",
        rows=lambda bounds: [(bounds[0], bounds[1], SQ8_LEVELS)],
        load=load_sq8_bounds, dim=lambda bounds: len(bounds[0]), encode=_sq8_encode,
    ),
    "prefix": _IndexRung(
        "_prefix", "dims int, full_dim int",
        rows=lambda dims: [(int(dims[0]), int(dims[1]))],
        load=load_prefix_dims, dim=lambda dims: dims[1], encode=_prefix_encode,
    ),
}


def _build_ivf_index(
    corpus: DataFrame, table: str, rung: str,
    sidecar: Callable[[DataFrame, Any], Any], id_col: str, vec_col: str,
    n_cells: int, iters: int, impl: str, centroids: list[list[float]] | None,
    num_buckets: int, path: str | None, mode: str, balance_cell_rows: int | None,
) -> tuple[DataFrame, list[list[float]], Any]:
    """The IVF index build of every rung. A fresh build trains the
    coarse quantizer unless ``centroids`` are given (then balances it
    when ``balance_cell_rows`` is set); an append extends the inverted
    lists under the STORED quantizer and rung — retraining would shift
    cell boundaries between the old rows and the new ones — and its
    batch must have the stored geometry's vector length. Zero-norm
    vectors (undefined cosine) are excluded; the rest go to their
    nearest cell, are encoded by the rung and written bucketed on
    ``cell`` (``write_bucketed`` owns the append rule).
    ``sidecar(nz, stored)`` gives the rung's sidecar: derived from the
    non-zero rows on a fresh build (``stored`` None), or the stored one
    checked on an append. A fresh build persists ``{table}_centroids``
    and the rung's companion table. Returns (index, centroids,
    sidecar)."""
    from dataprocessingframework_spark.sources.bucketed import write_bucketed

    spark = corpus.sparkSession
    if mode == "append" and balance_cell_rows is not None:
        raise ValueError(
            "balance_cell_rows is a fresh-build option: rebalancing"
            " under an existing index would reassign cells without"
            " rewriting stored rows — rebuild instead"
        )
    if mode == "append" and rung == "float":
        rung = detect_gate_rung(spark.table(table).columns)
    r = _INDEX_RUNGS.get(rung)
    stored = None
    if mode == "append":
        cents = centroids if centroids is not None else load_ivf_centroids(spark, table)
        if r is not None:
            stored = r.load(spark, table)
            dim = r.dim(stored)
            first = corpus.select(F.size(vec_col)).first()
            if first is not None and first[0] != dim:
                raise ValueError(
                    f"append batch dim {first[0]} != the stored {rung}"
                    f" geometry dim {dim} for {table}"
                )
    else:
        cents = centroids or _ivf_centroids(corpus, id_col, vec_col, n_cells, iters, impl=impl)
        if balance_cell_rows is not None:
            cents = balance_centroids(
                corpus, cents, balance_cell_rows,
                rounds=8, id_col=id_col, vec_col=vec_col, impl=impl,
            )
    nz = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        norm(F.col(vec_col)).alias("vnorm"),
    ).filter(F.col("vnorm") > 0)
    side = None if r is None else sidecar(nz, stored)
    idx = assign_cells(nz, cents, "vec_id", "embedding", n_probe=1, impl=impl)
    idx = idx.select("cell", "vec_id", "embedding", "vnorm") if r is None else r.encode(idx, side, impl)
    write_bucketed(idx, table, ["cell"], num_buckets=num_buckets, sort_cols=["cell"], path=path, mode=mode)
    if mode != "append":
        rows = [(c, [float(x) for x in vec]) for c, vec in enumerate(cents)]
        _save_companion(spark, table, "_centroids", rows, "cell int, centroid array<double>", mode, path)
        if r is not None:
            _save_companion(spark, table, r.suffix, r.rows(side), r.schema, mode, path)
    return spark.table(table), cents, side


def materialize_ivf_index(
    corpus: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 1,
    impl: str = "blas",
    centroids: list[list[float]] | None = None,
    num_buckets: int = 16,
    path: str | None = None,
    mode: str = "overwrite",
    sq8: bool = False,
    clamp_stats: dict | None = None,
    balance_cell_rows: int | None = None,
    prefix_dims: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Persist the IVF inverted lists: every corpus vector with its
    nearest-centroid ``cell``, hash-BUCKETED on the single ``cell``
    column, plus the trained coarse quantizer in ``{table}_centroids``.

    Single-column bucketing on ``cell`` is deliberate: Spark's bucket
    pruning applies ``cell IN (...)`` probe filters at FILE
    granularity, so a probe batch reads only the bucket files holding
    its probed cells — ~n_probe/n_cells of a 100 TB index, which is
    the entire IVF bargain. Rows carry ``vnorm`` so corpus norms are
    computed once at build, not per probe batch; zero-norm vectors
    (undefined cosine) are excluded at build. The quantizer is
    trained once here (``iters`` Lloyd rounds — the expensive part at
    scale) and reloaded via :func:`load_ivf_centroids` for every
    later probe batch. Returns (index frame, centroids).
    ``mode='append'`` extends the stored index under its stored
    quantizer, rung and sidecar; without ``sq8``/``prefix_dims`` it
    keeps whatever rung the stored index has. The build steps are
    shared with :func:`materialize_pq_index` (:func:`_build_ivf_index`).

    ``sq8=True`` stores SQ8 scalar-quantized codes instead of the
    float vectors — at 100 TB the index IS the scan cost, and codes
    cut the stored payload ~3.6x (7 codes packed per bigint word;
    measured bytes in PLANS.md "r10 SQ8 IVF index"). Rows become
    (cell, vec_id, codes array<bigint>, vnorm) with ``vnorm`` the
    norm of the DEQUANTIZED midpoint vector, so probe cosines are
    internally consistent for the stored approximation; per-dim
    bounds persist in ``{table}_sq8`` and reload via
    :func:`load_sq8_bounds`. Cell assignment still uses the ORIGINAL
    vectors (the quantizer sees no distortion). Append mode reuses
    the STORED bounds — recomputing on a batch would shift the code
    grid under the existing rows. Probe via
    ``ivf_topk_from_index(..., sq8_bounds=load_sq8_bounds(...))``;
    ranking is approximate within quantization distortion
    (recall-vs-distortion pinned in tests), and the whole path stays
    floor-arithmetic portable — the ``emb_ivf_sq8_topk`` registry
    query carries a FULL DuckDB oracle.

    ``clamp_stats`` (sq8 only, r12 — the runtime signal for the
    append-drift caveat in :func:`semantic_dedup_gate`):
    pass a dict and it is filled with ``n_rows`` (encoded rows),
    ``rows_clamped`` (rows with >= 1 dimension outside the stored
    bounds — those dims clamp to the code rails and their dequant
    error exceeds step/2, so the gate's derived margin no longer
    covers them) and ``dims_clamped`` (total such dims). One extra
    batch-sized agg, no corpus scan. Fresh builds report 0 by
    construction (bounds ARE the corpus min/max); a growing
    rows_clamped fraction across appends is the rebuild trigger —
    the failure direction until rebuild is MISSED duplicates, never
    false drops. :func:`streaming.curation.incremental_semantic_ingest`
    echoes this per batch via its ``clamp_log`` hook.

    ``prefix_dims=d_p`` (r13, mutually exclusive with ``sq8``) stores
    the PREFIX compression rung: rows become (cell, vec_id,
    ``prefix`` = the first d_p coordinates, ``rest_norm`` =
    ||v[d_p:]||, ``vnorm``) — a dim/d_p payload cut with NO training,
    codebooks, or quantization grid. The point is the per-pair
    Cauchy-Schwarz bound cos(b,v) <= (<b_p,v_p> + ||b_r||·||v_r||) /
    (||b||·||v||), which the prefix rung of :func:`semantic_dedup_gate`
    uses as a SOUND stage-1 margin (tighter than SQ8's global bound:
    it adapts per pair, and is exact when either remainder is zero).
    Matryoshka-trained embeddings concentrate mass in the prefix, so
    d_p = dim/4 typically keeps rest_norm/vnorm small and the bound
    tight; the ``{table}_prefix`` companion persists d_p for appends
    (:func:`load_prefix_dims`). Append mode validates the batch's
    vector length against the stored geometry, as for SQ8 and PQ.

    ``balance_cell_rows`` (fresh builds only, r12): after training
    the quantizer, run :func:`balance_centroids` with this cap
    before encoding, so the PERSISTED quantizer is the balanced one
    — every later probe/gate/append inherits even cells without the
    caller composing the two calls. Ignored (error) in append mode:
    rebalancing under an existing index would move rows between
    cells without rewriting them."""
    if sq8 and prefix_dims is not None:
        raise ValueError(
            "sq8 and prefix_dims are distinct compression rungs —"
            " pick one (stack them by materializing two indexes)"
        )

    def sidecar(nz: DataFrame, stored: Any) -> Any:
        if stored is not None:
            if prefix_dims is not None and prefix_dims != stored[0]:
                raise ValueError(
                    f"append prefix_dims {prefix_dims} != stored"
                    f" {stored[0]} for {table} — the stored geometry"
                    " is authoritative"
                )
        elif prefix_dims is not None:
            first = corpus.select(F.size(vec_col)).first()
            full_dim = int(first[0]) if first is not None else prefix_dims + 1
            if not (1 <= prefix_dims < full_dim):
                raise ValueError(
                    f"prefix_dims must be in [1, dim): got {prefix_dims}"
                    f" for dim {full_dim}"
                )
            return prefix_dims, full_dim
        else:
            stored = _sq8_bounds(nz, "embedding")
        if sq8 and clamp_stats is not None:
            clamp_stats.update(_sq8_clamp_stats(nz, *stored))
        return stored

    rung = "sq8" if sq8 else "float" if prefix_dims is None else "prefix"
    idx, cents, _ = _build_ivf_index(
        corpus, table, rung, sidecar, id_col, vec_col, n_cells, iters, impl,
        centroids, num_buckets, path, mode, balance_cell_rows,
    )
    return idx, cents


def load_ivf_centroids(spark: SparkSession, table: str) -> list[list[float]]:
    """Reload the coarse quantizer persisted by
    :func:`materialize_ivf_index` (the n_cells x dim matrix — always
    driver-sized)."""
    rows = spark.table(f"{table}_centroids").orderBy("cell").collect()
    # a hard error, not an assert: under ``python -O`` asserts vanish,
    # and a corrupted/duplicated quantizer table would then silently
    # reorder cells and return wrong probe results
    if [r.cell for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"{table}_centroids cell ids are not contiguous 0..n-1: "
            f"{[r.cell for r in rows]!r} — quantizer table corrupted "
            "or double-written; rebuild via materialize_ivf_index"
        )
    return [[float(x) for x in r.centroid] for r in rows]


def ivf_cell_stats(
    assigned: DataFrame,
    n_cells: int,
    cell_col: str = "cell",
) -> DataFrame:
    """One-row cell-balance report over an IVF assignment or
    materialized index — the diagnostic a user needs BEFORE sizing
    ``n_cells``/``n_probe``: probe latency at scale is governed by
    the largest probed cell (each probe reads whole cell buckets),
    so a skewed quantizer quietly turns p50-fast probes into
    p99-slow ones; ``max_cell`` here is the number to size
    :func:`balance_centroids` and ``rebalance_trigger`` caps from,
    not a guess. Columns:
    ``n_rows, n_used, n_empty, min_cell, max_cell, avg_cell
    (round 4), top_share`` (largest cell's row fraction, round 4),
    ``imbalance`` (max/avg, round 4 — 1.0 is perfectly balanced;
    empty cells inflate it by shrinking the usable average).

    Scale shape: ONE map-side-combined groupBy(cell) count, then one
    aggregate over the ≤ ``n_cells``-row size table — never
    corpus-sized state, no driver loop. Works on any frame with a
    cell column: a fresh :func:`assign_cells` output, a
    :func:`materialize_ivf_index` table, or a PQ index."""
    sizes = assigned.groupBy(F.col(cell_col)).agg(
        F.count(F.lit(1)).alias("sz")
    )
    used = F.count(F.lit(1))
    return sizes.agg(
        F.sum("sz").alias("n_rows"),
        used.alias("n_used"),
        (F.lit(n_cells) - used).cast("long").alias("n_empty"),
        F.min("sz").alias("min_cell"),
        F.max("sz").alias("max_cell"),
        F.round(F.avg("sz"), 4).alias("avg_cell"),
        F.round(F.max("sz") / F.sum("sz"), 4).alias("top_share"),
        F.round(F.max("sz") / F.avg("sz"), 4).alias("imbalance"),
    )


def rebalance_trigger(
    assigned: DataFrame,
    imbalance_threshold: float,
    max_cell_rows: int,
    cell_col: str = "cell",
) -> dict:
    """Deterministic auto-rebalance DECISION for the skew-repair loop
    (r13 — VERDICT r12 item 4): given any frame with a cell column
    (a maintained index, a fresh :func:`assign_cells` output),
    compute the balance signal and decide whether a
    :func:`balance_centroids` rebuild is warranted. The glue between
    the detector (:func:`ivf_cell_stats`) and the repair
    (:func:`balance_centroids`) that
    ``incremental_semantic_ingest(rebalance_on_imbalance=...)``
    evaluates after every index append.

    ``imbalance`` is max/avg over NON-EMPTY cells (the
    ivf_cell_stats arithmetic — exact integer counts divided in
    float64, portable across engines). ``triggered`` requires BOTH
    ``imbalance > imbalance_threshold`` AND
    ``max_cell > max_cell_rows``: a skewed-but-tiny index needs no
    repair (nothing exceeds the cap, so balance_centroids would
    no-op), and a uniformly-huge one is a capacity problem a split
    cannot fix (splitting a balanced quantizer just reshuffles equal
    mass).

    Scale shape: ONE map-side-combined groupBy(cell) count and one
    aggregate over the ≤ n_cells-row size table; the single returned
    dict is the only driver-resident data."""
    row = (
        assigned.groupBy(F.col(cell_col))
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.sum("sz").alias("n_rows"),
            F.count(F.lit(1)).alias("n_used"),
            F.max("sz").alias("max_cell"),
            F.avg("sz").alias("avg_cell"),
        )
        .collect()[0]
    )
    n_rows = int(row.n_rows or 0)
    max_cell = int(row.max_cell or 0)
    imb = (
        float(row.max_cell) / float(row.avg_cell) if n_rows else 0.0
    )
    return {
        "n_rows": n_rows,
        "n_used": int(row.n_used or 0),
        "max_cell": max_cell,
        "avg_cell": float(row.avg_cell or 0.0),
        "imbalance": imb,
        "triggered": bool(
            imb > imbalance_threshold and max_cell > max_cell_rows
        ),
    }


def ivf_topk_from_index(
    index: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    impl: str = "blas",
    pushdown_probe_cells: bool = False,
    sq8_bounds: tuple[list, list] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """:func:`ivf_topk` against a prebuilt cell-bucketed index — the
    repeated-probe production path (same output as ivf_topk with the
    same ``centroids``/``n_probe``/``impl``, pinned by tests).

    Queries assign to their n_probe nearest cells (narrow map against
    the driver-held centroid matrix — no quantizer retraining), then
    broadcast-join the index on ``cell``. ``pushdown_probe_cells``
    pushes the batch's distinct probed cells into the index scan as a
    ``cell IN (...)`` predicate (always bounded by n_cells), which
    bucket-prunes whole files on the single-column-bucketed index.
    Default OFF for the same measured reason as
    lsh_topk_from_index's pushdown: warm-cache local scans are
    cheaper than the keys-collect job even at 7.6 % touched cells on
    a 10M-row index (PLANS.md "r8 ANN probe soak"); opt in on
    cold/object storage with small probed fractions.

    The scoring follows what the index stores
    (:func:`detect_gate_rung` on its columns), and a compressed index
    needs its sidecar — a missing or mismatched one raises ValueError:

    - float (:func:`materialize_ivf_index`): the stored vectors.
    - SQ8 (``sq8=True``; pass ``sq8_bounds=load_sq8_bounds(...)``):
      the packed codes score with a statically UNROLLED
      ``sum_i q[i] * (mn_i + (code_i + 0.5) * step_i)``
      (:func:`_sq8_dequant_dot`, shared with the gate); left-nested
      additions keep the exact summation order of the aggregate fold
      and the DuckDB oracle while skipping the per-candidate array and
      HOF lambda overhead (54.1s -> 33.1s on the 1M-row probe, PLANS.md
      "r10 SQ8 IVF index").
    - PQ (:func:`materialize_pq_index`; pass
      ``codebooks=load_pq_codebooks(...)``): the original query vector
      against the reconstruction (:func:`_pq_recon`) — asymmetric
      scoring, no UDF.

    Compressed cosines are exact for the stored approximation (the
    stored ``vnorm`` is the approximation's norm); ranking is
    approximate within quantization distortion. A prefix index
    (``prefix_dims=``) stores no full vectors to rank by and is
    refused."""
    rung = detect_gate_rung(index.columns)
    if rung == "prefix":
        raise ValueError(
            "a prefix index stores only the leading dimensions — it"
            " serves semantic_dedup_gate; probe top-k on a float, sq8"
            " or pq index"
        )
    want = None if rung == "float" else _GATE_RUNGS[rung].sidecar
    for kw, val in (("sq8_bounds", sq8_bounds), ("codebooks", codebooks)):
        if kw == want and val is None:
            raise ValueError(
                f"index stores {rung} codes — pass {kw}="
                f"{_GATE_RUNGS[rung].load.__name__}(spark, table)"
            )
        if kw != want and val is not None:
            raise ValueError(f"{kw} given but the index is a {rung} index")
    q = assign_cells(
        _probe_side(queries, _Q_SIDE, id_col, vec_col),
        centroids, "q_id", "q_vec", n_probe=n_probe, impl=impl,
    )
    if pushdown_probe_cells:
        cells = [r.cell for r in q.select("cell").distinct().collect()]
        index = index.filter(F.col("cell").isin(cells))
    score = None
    if rung == "sq8":
        vec = F.col("codes")
        score = _sq8_dequant_dot("q_vec", "c_vec", *sq8_bounds)
    elif rung == "pq":
        vec = _pq_recon(codebooks)
    else:
        vec = F.col("embedding")
    c = _probe_side(index, _C_SIDE, "vec_id", vec, "vnorm", "cell")
    return _probe_topk(c, q, k, on="cell", score=score, dedup=True)


def kcenter_select(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    checkpoint_every: int = 16,
    batch_m: int = 1,
    pool_factor: int = 4,
    round_stats: list | None = None,
) -> DataFrame:
    """Greedy farthest-point (k-center) selection over an embedding
    column — the classic diverse-coreset / data-pruning pick: start
    from a deterministic seed (min md5-hash id, the same seedless
    portable sample as the IVF quantizer) and repeatedly take the
    vector with the LARGEST cosine distance to the selected set.
    Returns (sel_rank, vec_id, dist): dist is the selection-time distance
    to the previously selected set (rounded 4; the seed reports the
    max cosine distance 2.0), i.e. the coverage-radius sequence —
    read row k's dist as "every remaining vector is within this of a
    center".

    Scale shape: each of the k rounds is one narrow map (update the
    running min-distance against ONE new center, shipped as a
    literal) plus one global argmax (orderBy-limit-1 = TakeOrdered,
    map-side top-1 per partition); only k single rows and the k x dim
    center matrix ever reach the driver. The min-distance column
    nests one `least` per round, so lineage grows with k —
    ``checkpoint_every`` truncates it with localCheckpoint for large
    k. Keep the cadence at (or below) the default: the r10 soak
    measured FLAT ~1.7s/round marginals at checkpoint_every=16 out
    to k=256 but 8s/round and climbing at 64 — Catalyst re-analysis
    of the un-truncated `least` tree is quadratic in segment depth
    (PLANS.md "r10 k-center soak"). Ties break to the lower id;
    zero-norm vectors are excluded (cosine undefined). Greedy
    k-center is the standard 2-approximation of the optimal cover
    (Gonzalez 1985).

    ``batch_m > 1`` is the large-k path: the per-round cost at
    batch_m=1 is ~one fixed Spark job latency, so exact greedy at
    k in the thousands means hours of sequential driver round-trips
    regardless of cluster size. Pooled batching cuts rounds k ->
    k/batch_m: each round collects the top ``pool_factor * batch_m``
    rows by current min-distance (one TakeOrdered, driver gets a
    pool of that bounded size with vectors) and runs exact greedy
    driver-side WITHIN the pool for batch_m picks — each pick
    updates the pool's min-distances against the freshly picked
    center, so a round never picks batch_m mutual near-duplicates
    (the failure mode of naive take-top-m). Approximation contract:
    a pick can differ from exact greedy only when the true farthest
    point of an intra-round step lies outside the pool; batch_m=1
    reproduces the exact trajectory and stays the default (and the
    oracle-checked path). Within-pool distance updates use float64
    numpy (same arithmetic, summation order may differ from the JVM
    fold in the last ulp).

    ``round_stats`` (batch_m>1 only, r12 — VERDICT r11 item 6, the
    mirror of the CC contraction hook): pass a list and each pooled
    round appends ``{round, picks, min_selected_dist,
    next_global_max, pool_miss}``. ``min_selected_dist`` is the
    round's LAST pick's distance; ``next_global_max`` is the global
    farthest remaining distance observed right after the round (the
    next pool's head — the final round pays one extra TakeOrdered to
    close the ledger). Because min-distances only ever DECREASE,
    ``next_global_max > min_selected_dist`` is a sound WITNESS that
    the true farthest point sat outside the pool when that pick was
    made — exact greedy would have picked it first. Any
    ``pool_miss=True`` round is the cue to raise ``pool_factor``.
    The witness is ONE-SIDED: pool_miss=True is a sound proof of a
    miss, but all-False does NOT certify the exact greedy
    trajectory — ``next_global_max`` is measured only after the
    whole round closes, so a mid-round miss goes unwitnessed when a
    LATER in-round pick collapses the missed point's min-distance
    below ``min_selected_dist`` before the measurement (ADVICE
    r12). All-False means no miss was *observable at round
    granularity* (modulo the documented last-ulp numpy/JVM drift;
    the comparison carries a 1e-9 slack); for a per-pick guarantee
    run ``batch_m=1``, which is exact by construction."""
    from dataprocessingframework_spark.functions.hashing import hash64

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("kid"),
        F.col(vec_col).alias("kv"),
        norm(F.col(vec_col)).alias("kn"),
    ).filter(F.col("kn") > 0)
    seed = (
        base.withColumn("h", hash64(F.col("kid").cast("string")))
        .orderBy("h", "kid")
        .limit(1)
        .collect()[0]
    )

    def dist_to(vec: list[float], vnorm: float) -> Column:
        # engine-exact: the center's norm is reused from the collected
        # row (computed by the same fold), not recomputed driver-side.
        # Built as ONE parsed SQL expression rather than py4j column
        # algebra: the column form costs dim+2 py4j round-trips per
        # center (F.lit per element), which cProfile showed was 10.1s
        # of this operator's 12.5s wall at k=64/dim=64 — 28k driver
        # socket round-trips, zero cluster work (guide §1.1/§5: the
        # driver should do almost no work; here it WAS the job). The
        # parsed tree is arithmetically identical: repr() floats
        # round-trip binary64 exactly through the SQL double literal,
        # and zip_with/aggregate lambdas match dot()'s shape.
        return F.expr(_dist_to_sql(vec, vnorm))

    def _dist_to_sql(vec: list[float], vnorm: float) -> str:
        # _finite_d (ADVICE r16): a non-finite embedding component or
        # center norm fails as a named ValueError, not a parse error
        arr = ",".join(
            _finite_d(x, "kcenter center component") for x in vec
        )
        return (
            "1.0D - aggregate(zip_with(kv, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            "(acc, v) -> acc + v) / (kn * {vn})"
        ).format(arr=arr, vn=_finite_d(vnorm, "kcenter center norm"))

    selected = [(0, int(seed.kid), 2.0)]
    cur = base.withColumn(
        "mind", dist_to([float(x) for x in seed.kv], float(seed.kn))
    ).filter(F.col("kid") != int(seed.kid))
    if batch_m > 1:
        import numpy as np

        rank, rounds = 1, 0
        prev_round: dict | None = None
        ckpt_rounds = max(1, checkpoint_every // batch_m)

        def close_round(prev: dict, gm: float | None) -> dict:
            # one definition of the miss witness for BOTH the
            # intermediate closes (next pool's head) and the final
            # top-1 close — the 1e-9 slack absorbs numpy/JVM ulp
            # drift in the distance folds
            return {
                **prev,
                "next_global_max": gm,
                "pool_miss": (
                    gm is not None
                    and gm > prev["min_selected_dist"] + 1e-9
                ),
            }

        while rank < k:
            m = min(batch_m, k - rank)
            pool_rows = (
                cur.orderBy(F.desc("mind"), F.asc("kid"))
                .limit(pool_factor * m)
                .collect()
            )
            if round_stats is not None and prev_round is not None:
                # close the PREVIOUS round's ledger with this pool's
                # head = the global max remaining distance after its
                # picks (min-distances only decrease, so a head above
                # the round's last pick is a sound pool-miss witness)
                gm = float(pool_rows[0].mind) if pool_rows else None
                round_stats.append(close_round(prev_round, gm))
                prev_round = None
            if not pool_rows:
                break  # fewer than k usable vectors
            pv = np.array(
                [[float(x) for x in r.kv] for r in pool_rows]
            )
            pn = np.array([float(r.kn) for r in pool_rows])
            pids = np.array([int(r.kid) for r in pool_rows])
            pmind = np.array([float(r.mind) for r in pool_rows])
            picked = []
            for _ in range(min(m, len(pool_rows))):
                mx = pmind.max()
                if not np.isfinite(mx):
                    break
                # tie -> lowest id, same as the distributed ordering
                cand = np.where(pmind == mx)[0]
                i = int(cand[np.argmin(pids[cand])])
                selected.append((rank, int(pids[i]), float(pmind[i])))
                picked.append(i)
                rank += 1
                pmind = np.minimum(
                    pmind, 1.0 - (pv @ pv[i]) / (pn * pn[i])
                )
                pmind[i] = -np.inf
            if not picked:
                break
            if round_stats is not None:
                prev_round = {
                    "round": rounds,
                    "picks": len(picked),
                    "min_selected_dist": float(selected[-1][2]),
                }
            cur = cur.filter(
                ~F.col("kid").isin([int(pids[i]) for i in picked])
            ).withColumn(
                "mind",
                F.least(
                    F.col("mind"),
                    *[
                        dist_to([float(x) for x in pv[i]], float(pn[i]))
                        for i in picked
                    ],
                ),
            )
            rounds += 1
            if rounds % ckpt_rounds == 0:
                cur = cur.localCheckpoint(eager=False)
        if round_stats is not None and prev_round is not None:
            # final round: one extra TakeOrdered (top-1, no vectors
            # needed beyond the head) so the ledger is complete
            top = (
                cur.orderBy(F.desc("mind"), F.asc("kid"))
                .limit(1)
                .collect()
            )
            gm = float(top[0].mind) if top else None
            round_stats.append(close_round(prev_round, gm))
    else:
        for r in range(1, k):
            top_rows = (
                cur.orderBy(F.desc("mind"), F.asc("kid")).limit(1).collect()
            )
            if not top_rows:
                break  # fewer than k usable vectors
            top = top_rows[0]
            selected.append((r, int(top.kid), float(top.mind)))
            cur = cur.filter(F.col("kid") != int(top.kid)).withColumn(
                "mind",
                F.least(
                    F.col("mind"),
                    dist_to([float(x) for x in top.kv], float(top.kn)),
                ),
            )
            if r % checkpoint_every == 0:
                cur = cur.localCheckpoint(eager=False)
    # ROUND in Spark SQL (half-up, matching DuckDB for positives),
    # NOT Python round() (banker's — would diverge on exact .00005s).
    # pandas input takes the Arrow createDataFrame path: the
    # list-of-tuples form pickles rows into a defaultParallelism-way
    # Python RDD, and materializing these k rows then launches one
    # Python worker per core (measured: a 32-task, 8.6 core-s stage
    # for 64 rows — guide §6 Arrow for driver transfers)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(selected, columns=["sel_rank", "vec_id", "dist"]),
        schema="sel_rank int, vec_id long, dist double",
    ).select("sel_rank", "vec_id", F.round("dist", 4).alias("dist"))


def _probe_scan(
    b: DataFrame,
    src: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    decode: Callable[[Any], tuple[Any, Any]],
    bcols: tuple[str, ...] = ("b_vec",),
    pairs: bool = False,
) -> tuple[DataFrame, Any]:
    """Stage 1 of the 'blas' semantic gates: ONE narrow scan of the
    corpus side against the collected batch.

    ``b`` (b_id, b_vec, b_norm > 0, plus the ``bcols`` B is built
    from) is collected once with ``toArrow()`` — the batch is the
    small arriving side by contract, the same contract as the jvm
    path's broadcast, so it must fit on the driver — and each row's
    ``n_probe`` cells are assigned there (:func:`_top_cells`).
    ``src`` (c_id, c_norm > 0, plus what ``decode`` reads) is then
    read once by ``mapInPandas``: each Arrow chunk takes its cells
    from a stored ``cell`` column (filtered to the probed cells
    first, so a cell-bucketed index reads only their buckets, in at
    most one wave of tasks) or,
    without one, from an argmax of its decoded float vectors against
    ``centroids``. ``decode(chunk)`` gives the chunk's matrix R and
    its threshold (a scalar, or one per row); per cell, the batch
    rows probing it keep ``(B @ R.T) / outer(b_norm, c_norm) >= thr``
    against different-id rows, over batch slices of at most 2^24
    result doubles. Per-task memory is one Arrow chunk times one
    slice, whatever the cell sizes: mega-cells need no salting.

    Returns (hits, probes): the hit ``b_id``s — (b_id, c_id) pairs
    with ``pairs`` — and the batch's probed (cell, b_id) rows as
    pandas."""
    import numpy as np
    import pandas as pd

    schema = "b_id long, c_id long" if pairs else "b_id long"
    cmat = np.array(centroids, dtype=np.float64)
    bpdf = b.toArrow().to_pandas()
    bids = bpdf["b_id"].values.astype(np.int64)
    bvec = _rows(bpdf, ("b_vec",)) if len(bpdf) else np.empty((0, cmat.shape[1]))
    top = _top_cells(bvec, cmat, n_probe)
    probes = pd.DataFrame({"cell": top.ravel(), "b_id": np.repeat(bids, top.shape[1])})
    if not len(bpdf):
        return b.sparkSession.createDataFrame([], schema), probes
    bmat = bvec if bcols == ("b_vec",) else _rows(bpdf, bcols)
    bn = bpdf["b_norm"].values.astype(np.float64)
    members = {int(c): np.flatnonzero((top == c).any(axis=1)) for c in np.unique(top)}
    if "cell" in src.columns:
        # a bucketed scan is one task per selected bucket file, however
        # small, and each Python task pays a fixed Arrow hand-off (~0.3 s
        # on a 4-vCPU host, where a 20k-row 64-bucket index gate took
        # 6.3 s uncoalesced and 1.5 s coalesced), so run at most one
        # wave of scan tasks
        src = src.filter(F.col("cell").isin(sorted(members))).coalesce(
            b.sparkSession.sparkContext.defaultParallelism
        )
        cmat = None

    def scan(pdfs: Any) -> Any:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            recon, thr = decode(pdf)
            cells = pdf["cell"].values if cmat is None else _top_cells(recon, cmat, 1)[:, 0]
            cn = pdf["c_norm"].values.astype(np.float64)
            cids = pdf["c_id"].values.astype(np.int64)
            out = []
            for cell in np.unique(cells):
                rows = members.get(int(cell))
                if rows is None:
                    continue
                at = np.flatnonzero(cells == cell)
                r, n, ids = recon[at], cn[at], cids[at]
                t = thr[at] if np.ndim(thr) else thr
                step = max(1, (1 << 24) // len(at))
                for lo in range(0, len(rows), step):
                    sl = rows[lo : lo + step]
                    sims = (bmat[sl] @ r.T) / np.outer(bn[sl], n)
                    hit = (sims >= t) & (bids[sl][:, None] != ids[None, :])
                    if pairs:
                        i, j = np.nonzero(hit)
                        out.append(pd.DataFrame({"b_id": bids[sl][i], "c_id": ids[j]}))
                    else:
                        out.append(pd.DataFrame({"b_id": bids[sl][hit.any(axis=1)]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    return src.mapInPandas(scan, schema), probes


def incremental_semantic_dedup(
    batch: DataFrame,
    corpus: DataFrame | None,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_probe: int = 2,
    impl: str = "jvm",
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """Drop arriving vectors that semantically duplicate the accepted
    corpus: a batch row is removed iff some DIFFERENT-id corpus
    vector in one of its ``n_probe`` nearest IVF cells has cosine >=
    ``threshold``. (Same-id matches never count: ids are globally
    unique by contract, so a same-id hit is the batch meeting its own
    half-applied copy during a replay — counting it would silently
    drop the whole batch on retry.)

    ``corpus_cells`` short-circuits the corpus-side cell assignment:
    pass a frame with (cell, id_col, vec_col, vnorm) — e.g. a
    :func:`materialize_ivf_index` table built with the SAME
    centroids — and the corpus is gated as-is, each vector's cell
    computed ONCE at accept time instead of on every batch.
    The embedding twin of ``dedup.incremental_near_dup`` (which
    gates on text MinHash/Jaccard), and the batch kernel of
    ``streaming.incremental_semantic_ingest``.

    IVF-cell blocking is the scale shape: a corpus row is scored only
    against the batch rows probing its cell (corpus rows in their 1
    nearest cell, batch rows in their n_probe nearest), never an
    all-pairs score. ``centroids`` is the shared coarse quantizer —
    train it once (:func:`materialize_ivf_index` /
    :func:`load_ivf_centroids`) and reuse it across batches;
    recomputing per batch would re-scan the corpus. Zero-norm vectors
    never match (cosine undefined): they are excluded from scoring on
    both sides, so zero-norm batch rows are always kept. Within-batch
    duplicates are kept (the incremental contract). Returns surviving
    batch rows, all columns.

    Both paths rely on the batch being the small arriving side. The
    jvm path broadcasts it into a cell equi-join, so the corpus never
    shuffles: the key has only n_cells distinct values, and a shuffle
    join on it would concentrate each cell's corpus rows in one task.
    The blas path is one corpus scan against the collected batch
    (:func:`_probe_scan`): no join, no shuffle of the corpus, and one
    numpy matmul per (Arrow chunk, cell) instead of a per-pair
    codegen fold — seconds instead of minutes on a
    100k-batch-vs-100k-corpus gate at 64 cells (PLANS.md "r8 semantic
    ingest soak"). Its float summation order differs from the fold in
    the last ulp; use impl='jvm' for oracle-exact parity.
    """
    if corpus_cells is not None:
        c = corpus_cells.select(
            "cell",
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            F.col("vnorm").alias("c_norm"),
        ).filter(F.col("c_norm") > 0)
    else:
        c = corpus.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_norm"),
        ).filter(F.col("c_norm") > 0)
    b = batch.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_norm"),
    ).filter(F.col("b_norm") > 0)
    if impl == "blas":
        import numpy as np

        def decode(cpdf: Any) -> tuple[Any, float]:
            return np.stack(cpdf["c_vec"].values).astype(np.float64), threshold

        hits, _ = _probe_scan(b, c, centroids, n_probe, decode)
        dup_ids = hits.withColumnRenamed("b_id", id_col).distinct()
    else:
        if corpus_cells is None:
            c = assign_cells(c, centroids, "c_id", "c_vec", n_probe=1)
        b = assign_cells(b, centroids, "b_id", "b_vec", n_probe=n_probe)
        dup_ids = (
            c.join(F.broadcast(b), on="cell")
            .filter(F.col("c_id") != F.col("b_id"))
            .filter(
                dot(F.col("b_vec"), F.col("c_vec"))
                / (F.col("b_norm") * F.col("c_norm"))
                >= threshold
            )
            .select(F.col("b_id").alias(id_col))
            .distinct()
        )
    return batch.join(dup_ids, on=id_col, how="left_anti")


def _exact_gate_recheck(
    batch: DataFrame,
    corpus: DataFrame,
    cand: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    pushdown_candidate_ids: bool,
    gate_stats: dict | None = None,
) -> DataFrame:
    """Stage 2 of the compressed gates: fetch ONLY the shortlisted
    (b_id, c_id) pairs' corpus float vectors (broadcast semi-lookup,
    optional candidate-id scan pushdown) and drop batch rows with an
    exact cosine >= threshold witness. Shared by every compressed
    rung — the exactness of this stage is what makes their stage-1
    margins a superset filter rather than a verdict.

    ``gate_stats`` (opt-in): filled with ``stage1_candidates`` (the
    shortlisted pair count — the number whose explosion signals a
    margin collapse at runtime, the thing the sizing reports predict
    offline) and ``distinct_corpus_ids`` (the corpus rows stage 2
    actually fetches). Costs one localCheckpoint + count of the
    skinny pair frame; leave off on hot paths."""
    src = corpus
    if gate_stats is not None:
        cand = cand.localCheckpoint()
        gate_stats["stage1_candidates"] = cand.count()
        gate_stats["distinct_corpus_ids"] = (
            cand.select("c_id").distinct().count()
        )
    if pushdown_candidate_ids:
        # materialize the skinny pair set once; it is consumed twice
        # (id collect + recheck join) and recomputing it would re-run
        # the stage-1 scoring
        cand = cand.localCheckpoint()
        ids = [r.c_id for r in cand.select("c_id").distinct().collect()]
        if not ids:
            return batch
        src = corpus.filter(F.col(id_col).isin(ids))
    cvec = src.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    bvec = batch.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_norm"),
    )
    # no broadcast hint on the candidate join: in the normal regime
    # the pair set is skinny and AQE converts it to a runtime
    # broadcast (corpus never shuffles); in the degenerate regime —
    # e.g. the PQ gate over codebooks that reconstruct this corpus
    # poorly, where per-row margins collapse and the candidate set
    # approaches |batch| x cell size — a forced broadcast would
    # OOM/stall the driver, and a shuffle join is the correct plan
    dup_ids = (
        cvec.join(cand, on="c_id")
        .join(F.broadcast(bvec), on="b_id")
        .filter(
            dot(F.col("b_vec"), F.col("c_vec"))
            / (F.col("b_norm") * F.col("c_norm"))
            >= threshold
        )
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    return batch.join(dup_ids, on=id_col, how="left_anti")


def _degenerate_recon_candidates(
    index: DataFrame, b: DataFrame, cand: DataFrame
) -> DataFrame:
    """Soundness patch for the compressed gates: an index row whose
    STORED norm is <= 0 (a nonzero vector whose dequant/PQ
    reconstruction collapsed to ~zero — pathological but possible)
    has no defined approximate cosine and its margin bound is
    meaningless, so stage 1 cannot score it. Route every such row as
    an UNCONDITIONAL candidate against each probed batch row of its
    cell — stage 2's exact cosine (against the real float vector,
    which may be perfectly healthy) then decides. The set is empty on
    any sane index, so this costs one empty-side union."""
    deg = index.filter(~(F.col("vnorm") > 0)).select(
        "cell", F.col("vec_id").alias("c_id")
    )
    extra = (
        deg.join(F.broadcast(b.select("cell", "b_id")), on="cell")
        .filter(F.col("c_id") != F.col("b_id"))
        .select("b_id", "c_id")
    )
    return cand.unionByName(extra).distinct()


def _rows(pdf: Any, cols: tuple[str, ...]) -> Any:
    """A pandas group's array and scalar columns side by side as one
    float64 matrix, one row per group row."""
    import numpy as np

    return np.column_stack(
        [np.stack(pdf[c].values) if pdf[c].dtype == object else pdf[c].values for c in cols]
    ).astype(np.float64)


def _code_words(cpdf: Any) -> Any:
    """A pandas group's packed ``codes`` words as one int64 matrix."""
    import numpy as np

    return np.stack([np.asarray(x, dtype=np.int64) for x in cpdf["codes"]])


def _sq8_margin(index: DataFrame, bounds: tuple[list, list], margin: float | None) -> float:
    if margin is not None:
        return margin
    row = index.filter(F.col("vnorm") > 0).agg(F.min("vnorm")).collect()[0]
    # no scoreable rows: stage 1 yields nothing, but any degenerate
    # (vnorm<=0) rows still route to the exact recheck
    return 0.0 if row[0] is None else sq8_gate_margin(*bounds, float(row[0]))


def _sq8_decode(bounds: tuple[list, list], thr: float) -> Any:
    import numpy as np

    mins, maxs = (np.array(x, dtype=np.float64) for x in bounds)
    steps = (maxs - mins) / float(SQ8_LEVELS)
    dims = np.arange(len(mins))
    word, shift = dims // _SQ8_PER_WORD, (dims % _SQ8_PER_WORD) * 8

    def decode(cpdf: Any) -> tuple[Any, Any]:
        codes = (_code_words(cpdf)[:, word] >> shift) & 255
        return mins + (codes.astype(np.float64) + 0.5) * steps, thr

    return decode


def _prefix_margin(index: DataFrame, dp: int, margin: float | None) -> float:
    margin = 0.0 if margin is None else margin
    if margin < 0:
        raise ValueError(
            "prefix gate margin must be >= 0 — the Cauchy-Schwarz bound is"
            " already sound at 0; a negative margin would silently trade"
            " missed duplicates"
        )
    # geometry guard: the jvm bound's zip_with dot evaluates to NULL on
    # mismatched prefix lengths, silently emptying stage 1 and KEEPING
    # every duplicate — probe one stored row and fail loudly instead
    stored = index.select(F.size("prefix")).first()
    if stored is not None and int(stored[0]) != int(dp):
        raise ValueError(
            f"prefix_dims {int(dp)} != the index's stored prefix length"
            f" {int(stored[0])} — the stored geometry is authoritative"
            " (load_prefix_dims)"
        )
    return margin


def _prefix_batch(b: DataFrame, dp: int) -> DataFrame:
    return b.withColumns({
        "b_prefix": F.expr(f"slice(b_vec, 1, {int(dp)})"),
        "b_rest": norm(F.expr(f"slice(b_vec, {int(dp) + 1}, size(b_vec))")),
    })


def _pq_bound(books: list[list[list[float]]], thr: float) -> Column:
    approx_cos = dot(F.col("b_vec"), _pq_recon(books)) / (F.col("b_norm") * F.col("c_norm"))
    return approx_cos >= F.lit(thr) - F.lit(2.0) * F.col("resid") / F.col("c_norm")


def _pq_decode(books: list[list[list[float]]], thr: float) -> Any:
    import numpy as np

    arrs = [np.array(bk, dtype=np.float64) for bk in books]
    at = [(s // _SQ8_PER_WORD, 8 * (s % _SQ8_PER_WORD)) for s in range(len(books))]

    def decode(cpdf: Any) -> tuple[Any, Any]:
        words = _code_words(cpdf)
        recon = np.hstack([a[(words[:, w] >> sh) & 255] for a, (w, sh) in zip(arrs, at)])
        cn = cpdf["c_norm"].values.astype(np.float64)
        return recon, thr - 2.0 * cpdf["resid"].values.astype(np.float64) / cn

    return decode


class _GateRung(NamedTuple):
    """What differs between the compressed rungs of the semantic
    dedup gate; :func:`_two_stage_gate` is everything they share."""

    cols: tuple[str, ...]  # index columns stage 1 reads; cols[0] marks the rung
    sidecar: str  # the semantic_dedup_gate keyword carrying it
    load: Callable[[SparkSession, str], Any]  # sidecar from index_table
    margin: Callable[[DataFrame, Any, float | None], float]
    batch: Callable[[DataFrame, Any], DataFrame]
    bcols: tuple[str, ...]  # batch columns forming the numpy matrix B
    bound: Callable[[Any, float], Column]  # jvm stage-1 predicate
    decode: Callable[[Any, float], Any]  # cpdf -> (R, thr_row)


# in auto-detection order: a PQ index also carries 'codes'
_GATE_RUNGS: dict[str, _GateRung] = {
    "pq": _GateRung(
        cols=("resid", "codes"), sidecar="codebooks", load=load_pq_codebooks,
        margin=lambda index, books, margin: 0.0 if margin is None else margin,
        batch=lambda b, books: b, bcols=("b_vec",),
        bound=_pq_bound, decode=_pq_decode,
    ),
    "sq8": _GateRung(
        cols=("codes",), sidecar="sq8_bounds", load=load_sq8_bounds,
        margin=_sq8_margin, batch=lambda b, bounds: b, bcols=("b_vec",),
        bound=lambda bounds, thr: _sq8_dequant_dot("b_vec", "codes", *bounds)
        / (F.col("b_norm") * F.col("c_norm")) >= F.lit(thr),
        decode=_sq8_decode,
    ),
    "prefix": _GateRung(
        cols=("rest_norm", "prefix"), sidecar="prefix_dims",
        load=lambda spark, table: load_prefix_dims(spark, table)[0],
        margin=_prefix_margin, batch=_prefix_batch, bcols=("b_prefix", "b_rest"),
        bound=lambda dp, thr: (
            dot(F.col("b_prefix"), F.col("prefix")) + F.col("b_rest") * F.col("rest_norm")
        ) / (F.col("b_norm") * F.col("c_norm")) >= F.lit(thr),
        decode=lambda dp, thr: lambda cpdf: (_rows(cpdf, ("prefix", "rest_norm")), thr),
    ),
}


def detect_gate_rung(index_columns: list[str]) -> str:
    """The gate rung an index's columns encode: the first of 'pq',
    'sq8', 'prefix' whose marker column ('resid', 'codes',
    'rest_norm') is present, else 'float'."""
    return next((k for k, r in _GATE_RUNGS.items() if r.cols[0] in index_columns), "float")


def _two_stage_gate(
    rung: _GateRung, sidecar: Any, batch: DataFrame, corpus: DataFrame,
    centroids: list[list[float]], index: DataFrame, id_col: str, vec_col: str,
    threshold: float, margin: float | None, n_probe: int, impl: str,
    pushdown_candidate_ids: bool, gate_stats: dict | None,
) -> DataFrame:
    """A compressed rung of :func:`semantic_dedup_gate`: prune by a
    sound bound, then verify exactly. Stage 1 shortlists (b_id, c_id)
    pairs in the batch rows' probed cells whose compressed score
    reaches ``threshold - margin`` (a superset of the exact matches
    at the rung's default margin); stored rows with vnorm <= 0 join
    unconditionally; stage 2 decides on exact cosines. 'jvm' scores
    with the rung's codegen fold (oracle-exact); 'blas' is one index
    scan against the collected batch (:func:`_probe_scan`), decoding
    each chunk into R and per-row thresholds and keeping
    ``(B @ R.T) / outer(b_norm, c_norm) >= thr_row``."""
    thr = threshold - rung.margin(index, sidecar, margin)
    b = rung.batch(
        batch.select(
            F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"),
            norm(F.col(vec_col)).alias("b_norm"),
        ).filter(F.col("b_norm") > 0),
        sidecar,
    )
    c = index.filter(F.col("vnorm") > 0).select(
        "cell", F.col("vec_id").alias("c_id"), F.col("vnorm").alias("c_norm"), *rung.cols
    )
    if impl == "blas":
        cand, probes = _probe_scan(
            b, c, centroids, n_probe, rung.decode(sidecar, thr), rung.bcols, pairs=True
        )
        cand = cand.distinct()
        b = batch.sparkSession.createDataFrame(probes, "cell int, b_id long")
    else:
        # skinny (b_id, c_id) candidate pairs; distinct also collapses
        # a crash-replayed append's duplicate index rows
        b = assign_cells(b, centroids, "b_id", "b_vec", n_probe=n_probe)
        cand = (
            c.join(F.broadcast(b), on="cell")
            .filter(F.col("c_id") != F.col("b_id"))
            .filter(rung.bound(sidecar, thr))
            .select("b_id", "c_id")
            .distinct()
        )
    cand = _degenerate_recon_candidates(index, b, cand)
    return _exact_gate_recheck(
        batch, corpus, cand, id_col, vec_col, threshold,
        pushdown_candidate_ids, gate_stats=gate_stats,
    )


def semantic_dedup_gate(
    batch: DataFrame,
    corpus: DataFrame | None,
    centroids: list[list[float]],
    index: DataFrame | None = None,
    gate_kind: str = "auto",
    index_table: str | None = None,
    sq8_bounds: tuple[list, list] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    prefix_dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    margin: float | None = None,
    n_probe: int = 2,
    impl: str = "jvm",
    pushdown_candidate_ids: bool = False,
    gate_stats: dict | None = None,
    recommend_stats: dict | None = None,
) -> DataFrame:
    """The semantic dedup gate across the whole compression ladder:
    drop batch rows with cosine >= ``threshold`` to some different-id
    corpus vector in one of their ``n_probe`` nearest IVF cells. Every
    rung keeps exactly the float gate's rows (proven per rung, pinned
    in tests), so pipelines do not change when an index is rebuilt at
    another rung. Same-id pairs never count (replay contract);
    zero-norm and within-batch-duplicate batch rows are kept.

    'float' is :func:`incremental_semantic_dedup` over ``corpus``, or
    over a float :func:`materialize_ivf_index` table as
    ``corpus_cells`` (then ``corpus`` is unread; pass None). The
    compressed rungs are two-stage (:func:`_two_stage_gate`) and read
    the FLOAT ``corpus`` only to recheck their shortlist exactly:

    ====== =============== =================== =========================
    rung   marker (+ cols) sidecar (loader)    ``margin=None`` means
    ====== =============== =================== =========================
    pq     resid (+ codes) codebooks           0, plus 2·resid/vnorm per
                           (load_pq_codebooks) row
    sq8    codes           sq8_bounds          :func:`sq8_gate_margin`
                           (load_sq8_bounds)   at the index's min vnorm
    prefix rest_norm       prefix_dims         0 (Cauchy-Schwarz bound);
           (+ prefix)      (load_prefix_dims)  must be >= 0
    ====== =============== =================== =========================

    ``gate_kind='auto'`` picks the first rung whose marker column the
    index carries (pq, sq8, prefix), else 'float'; an explicit kind
    that contradicts it raises. A sidecar not passed is loaded from
    ``index_table``'s companion table (which alone also supplies the
    index). ``margin``: stage-1 slack below ``threshold``; a smaller
    SQ8 margin trades a bounded false-negative rate for a shorter
    shortlist (audit with the ``emb_gate_recall`` pattern). SQ8
    caveat: appends clamp drifted values to the stored code rails,
    which the derived margin no longer covers — MISSED duplicates,
    never false drops; widen ``margin`` or rebuild. PQ and prefix stay
    sound under append. ``pushdown_candidate_ids`` pushes the
    candidate ids into the recheck's corpus scan as an IN filter (one
    driver round-trip); ``gate_stats``: see :func:`_exact_gate_recheck`
    (the runtime twin of the ``emb_gate_margin_report`` /
    ``emb_gate_pq_margin_report`` sizing reports). ``impl``: as in
    :func:`incremental_semantic_dedup`.
    Rung choice guidance: docs/llm_operators.md.

    ``recommend_stats`` (opt-in dict): filled with ``signals``,
    ``decision``, ``rung`` and ``active_rung`` from
    :func:`gate_rung_signals` + :func:`recommend_gate_rung` over the
    FLOAT ``corpus`` (``prefix_dims`` defaults to dim/4) — telemetry
    only, one two-aggregation corpus pass."""
    spark = batch.sparkSession
    if index is None and index_table is not None:
        index = spark.table(index_table)
    detected = detect_gate_rung([] if index is None else index.columns)
    if gate_kind == "auto":
        gate_kind = detected
    if gate_kind != "float" and gate_kind not in _GATE_RUNGS:
        raise ValueError(
            f"unknown gate_kind {gate_kind!r}: expected 'auto'|'float'|'sq8'|'pq'|'prefix'"
        )
    if gate_kind != detected:
        need = (
            "an uncompressed index" if gate_kind == "float"
            else f"an index with {'+'.join(_GATE_RUNGS[gate_kind].cols)} columns"
        )
        got = "no index" if index is None else f"a {detected!r} index"
        raise ValueError(
            f"gate_kind={gate_kind!r} needs {need}, got {got} — scoring a"
            " compressed index with the wrong arithmetic would gate silently"
            " wrong; use gate_kind='auto'"
        )
    if gate_kind != "float" and corpus is None:
        raise ValueError(
            f"gate_kind={gate_kind!r} needs the accepted FLOAT corpus"
            " for the exact stage-2 recheck — corpus=None is only"
            " valid for the float-index rung (which never reads it)"
        )
    if recommend_stats is not None:
        if corpus is None:
            raise ValueError(
                "recommend_stats needs the FLOAT corpus (the picker's"
                " signals are corpus-side arithmetic)"
            )
        # prefix_dims=None → gate_rung_signals defaults to dim/4 per
        # row inside its own aggregation (no extra driver action)
        signals = gate_rung_signals(corpus, prefix_dims, vec_col=vec_col)
        decision = recommend_gate_rung(
            threshold=threshold,
            rest_mass_p95=signals["rest_mass_p95"],
            sq8_margin=signals["sq8_margin"],
        )
        recommend_stats.update(
            signals=signals, decision=decision, rung=decision["rung"], active_rung=gate_kind
        )
    if gate_kind == "float":
        cells = None
        if index is not None:
            cells = index.withColumnsRenamed({"vec_id": id_col, "embedding": vec_col})
        elif corpus is None:
            raise ValueError(
                "the float gate needs corpus= (or a float index /"
                " index_table to gate against)"
            )
        return incremental_semantic_dedup(
            batch, corpus, centroids,
            id_col=id_col, vec_col=vec_col, threshold=threshold,
            n_probe=n_probe, impl=impl, corpus_cells=cells,
        )
    rung = _GATE_RUNGS[gate_kind]
    sidecar = {"sq8": sq8_bounds, "pq": codebooks, "prefix": prefix_dims}[gate_kind]
    if sidecar is None:
        if index_table is None:
            raise ValueError(
                f"gate_kind={gate_kind!r} needs {rung.sidecar}= or index_table="
                f" (to load the persisted {rung.sidecar})"
            )
        sidecar = rung.load(spark, index_table)
    assert corpus is not None and index is not None
    return _two_stage_gate(
        rung, sidecar, batch, corpus, centroids, index, id_col, vec_col,
        threshold, margin, n_probe, impl, pushdown_candidate_ids, gate_stats,
    )


def gate_rung_signals(
    corpus: DataFrame,
    prefix_dims: int | None = None,
    vec_col: str = "embedding",
    levels: int = SQ8_LEVELS,
) -> dict:
    """The training-free inputs to :func:`recommend_gate_rung`,
    computed from the float corpus in two metadata-sized aggregations
    (no index needs to exist yet — this is the BEFORE-you-build
    instrument):

    - ``rest_mass_p95``: p95 of ‖v[d_p:]‖/‖v‖ — the prefix rung's
      flood predictor (a pair's Cauchy-Schwarz slack is the product
      of its two rest masses; matryoshka-trained embeddings
      concentrate mass early, random ones sit near
      sqrt(1 − d_p/d));
    - ``delta`` / ``min_vnorm`` / ``sq8_margin``: the SQ8 rung's
      sound derived margin 2Δ/min‖v‖ evaluated on the corpus's own
      per-dim min/max grid (exactly the bounds
      ``materialize_ivf_index(sq8=True)`` would store) — the same
      arithmetic as :func:`sq8_gate_margin`, pre-index.

    PQ has no training-free signal (its per-row margins exist only
    after codebooks are trained — run ``pq_gate_margin_report`` on a
    candidate index instead), so the auto-picker treats PQ as an
    explicit user choice.

    Scale shape: one narrow per-row projection + percentile (rows
    never shuffled), one posexplode → groupBy(pos) whose result is
    dim-sized; the returned dict is the only driver-resident data."""
    base = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    # prefix_dims=None defaults to dim/4 PER ROW (cast truncates) — a
    # plan-time expression, so no extra driver action samples the
    # corpus and an all-null/empty first row cannot crash the default
    start = (
        str(int(prefix_dims) + 1)
        if prefix_dims is not None
        else "cast(size(v) / 4 as int) + 1"
    )
    norms = base.select(
        F.sqrt(
            F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("vnorm"),
        F.sqrt(
            F.aggregate(
                F.expr(f"slice(v, {start}, size(v))"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            )
        ).alias("rest"),
    )
    nrow = norms.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.when(F.col("vnorm") > 0, F.col("vnorm"))).alias(
            "min_vnorm"
        ),
        F.percentile(
            F.when(F.col("vnorm") > 0, F.col("rest") / F.col("vnorm")),
            F.lit(0.95),
        ).alias("rest_mass_p95"),
    ).collect()[0]
    drow = (
        base.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.sqrt(
                F.sum(
                    F.when(
                        F.col("mx") > F.col("mn"),
                        F.pow(
                            (F.col("mx") - F.col("mn"))
                            / F.lit(float(levels))
                            / F.lit(2.0),
                            F.lit(2.0),
                        ),
                    ).otherwise(F.lit(0.0))
                )
            ).alias("delta")
        )
        .collect()[0]
    )
    min_vnorm = float(nrow.min_vnorm) if nrow.min_vnorm is not None else 0.0
    delta = float(drow.delta or 0.0)
    return {
        "n_rows": int(nrow.n_rows or 0),
        "rest_mass_p95": (
            float(nrow.rest_mass_p95)
            if nrow.rest_mass_p95 is not None
            else None
        ),
        "delta": delta,
        "min_vnorm": min_vnorm,
        "sq8_margin": (
            2.0 * delta / min_vnorm if min_vnorm > 0 else None
        ),
    }


def recommend_gate_rung(
    *,
    threshold: float = 0.95,
    rest_mass_p95: float | None = None,
    sq8_margin: float | None = None,
    pq_margin_p95: float | None = None,
    pq_frac_no_headroom: float | None = None,
    max_rest_mass_p95: float = 0.35,
    max_margin_frac: float = 0.25,
    max_frac_no_headroom: float = 0.05,
) -> dict:
    """Deterministic RUNG-PICKER verdict over the sizing reports (r14
    — VERDICT r13 item 5): the ladder has four rungs and three
    FULL-oracled instruments (``gate_rung_signals`` /
    ``emb_gate_prefix_report`` for prefix, ``emb_gate_margin_report``
    for SQ8, ``pq_gate_margin_report`` for PQ), and until now picking
    was a human reading them. This turns the report columns into a
    verdict with every cutoff an explicit argument — the
    ``rebalance_trigger`` pattern: pure scalar arithmetic, the dict
    is the whole output, trivially oracle-able.

    Viability per rung (a rung whose signal was not supplied is NOT
    viable — no silent guessing):

    - ``prefix``: ``rest_mass_p95 <= max_rest_mass_p95``. A pair's
      stage-1 over-estimate is the product of its two rest masses,
      so at p95 the slack is ~rest_mass_p95² (0.35 → ~0.12) — small
      enough that stage 1 still prunes; random embeddings
      (rest mass ≈ sqrt(1 − d_p/d)) fail this, matryoshka corpora
      pass.
    - ``sq8``: ``sq8_margin <= max_margin_frac * threshold`` — the
      global derived margin must leave stage 1 most of its
      threshold (0.25·0.95 ≈ 0.24 of budget at the defaults).
    - ``pq``: BOTH ``pq_margin_p95 <= max_margin_frac * threshold``
      AND ``pq_frac_no_headroom <= max_frac_no_headroom`` — the
      per-row margins are only as good as their tail.

    ``rung`` is the MOST-COMPRESSED viable rung (pq 16 B < sq8 ~1 B/
    dim < prefix d_p/d floats < float), falling back to ``float``
    (always sound — the other rungs buy space, never correctness)."""
    budget = max_margin_frac * threshold
    viable_prefix = (
        rest_mass_p95 is not None and rest_mass_p95 <= max_rest_mass_p95
    )
    viable_sq8 = sq8_margin is not None and sq8_margin <= budget
    viable_pq = (
        pq_margin_p95 is not None
        and pq_frac_no_headroom is not None
        and pq_margin_p95 <= budget
        and pq_frac_no_headroom <= max_frac_no_headroom
    )
    if viable_pq:
        rung = "pq"
    elif viable_sq8:
        rung = "sq8"
    elif viable_prefix:
        rung = "prefix"
    else:
        rung = "float"
    return {
        "rung": rung,
        "viable_prefix": viable_prefix,
        "viable_sq8": viable_sq8,
        "viable_pq": viable_pq,
        "margin_budget": budget,
    }


def pq_gate_margin_report(
    index: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """One-row sizing report for the PQ-compressed gate — the go/no-go
    instrument BEFORE switching a production gate to the 16 B rung
    (the pq rung of :func:`semantic_dedup_gate`). Unlike the SQ8 gate's
    single global margin (2Δ/min‖v‖ — ``emb_gate_margin_report``),
    the PQ gate's stage-1 margin is PER-ROW (2·resid/‖v̂‖) and
    collapses exactly when the codebooks reconstruct the corpus
    poorly — a regime invisible until stage 1 floods. This report is
    pure arithmetic over the index's stored ``resid``/``vnorm``
    columns (one map-side-combined agg, never a corpus re-scan):

    - ``n_rows`` / ``n_degenerate``: index rows, and rows whose
      reconstruction norm collapsed to <= 0 (unscoreable in stage 1,
      routed unconditionally to the exact recheck);
    - ``resid_p50/p95/max``: the reconstruction-residual distribution
      (the raw quantization-quality signal; compare to mean_vnorm);
    - ``min_vnorm`` / ``mean_vnorm``: stored reconstruction norms
      over scoreable rows;
    - ``margin_p50/p95/max``: the per-row stage-1 margin
      2·resid/vnorm — each row's stage-1 test runs at
      ``threshold - margin``, so a margin near/over the threshold
      means that row is shortlisted against its whole probed cell;
    - ``frac_no_headroom``: fraction of rows with NO stage-1 pruning
      power at ``threshold`` (margin >= threshold, or degenerate) —
      the single number to alert on: near 0.0 the PQ gate prunes
      like SQ8; near 1.0 every batch degenerates to the exact gate
      plus wasted code scans, and the fix is better codebooks
      (``refine_iters``) or the SQ8 rung.

    Reference parity: the reference has no compression tier; this
    instruments the repo's beyond-ref PQ gate
    (`similarity.py` semantic_dedup_gate, pq rung)."""
    if "resid" not in index.columns:
        raise ValueError(
            "index has no 'resid' column — build it with"
            " materialize_pq_index (this report sizes the PQ gate's"
            " per-row margins)"
        )
    m_col = F.when(
        F.col("vnorm") > 0, F.lit(2.0) * F.col("resid") / F.col("vnorm")
    )
    no_head = (
        F.when(~(F.col("vnorm") > 0), 1)
        .when(m_col >= F.lit(threshold), 1)
        .otherwise(0)
    )
    return index.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~(F.col("vnorm") > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_degenerate"),
        F.round(F.percentile("resid", F.lit(0.5)), 4).alias("resid_p50"),
        F.round(F.percentile("resid", F.lit(0.95)), 4).alias("resid_p95"),
        F.round(F.max("resid"), 4).alias("resid_max"),
        F.round(
            F.min(F.when(F.col("vnorm") > 0, F.col("vnorm"))), 4
        ).alias("min_vnorm"),
        F.round(
            F.avg(F.when(F.col("vnorm") > 0, F.col("vnorm"))), 4
        ).alias("mean_vnorm"),
        F.round(F.percentile(m_col, F.lit(0.5)), 4).alias("margin_p50"),
        F.round(F.percentile(m_col, F.lit(0.95)), 4).alias("margin_p95"),
        F.round(F.max(m_col), 4).alias("margin_max"),
        F.round(
            F.sum(no_head).cast("double") / F.count(F.lit(1)), 4
        ).alias("frac_no_headroom"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Scalar (per-dimension min/max) quantization of float embeddings
    to ``levels``-level integer codes — the 4x storage cut that makes
    a 100 TB float32 embedding store a 25 TB int8 one, at a bounded
    reconstruction error (the public FAISS-style SQ8 scheme).

    code_d = min(levels-1, floor((x_d - min_d) / (max_d - min_d) *
    levels)); degenerate dims (max == min) code to 0. Pure floor
    arithmetic — no rounding-mode ambiguity, so codes are bit-portable
    across engines. Dequantized midpoint x̂_d = min_d + (code_d + 0.5)
    * (max_d - min_d) / levels gives the per-vector MSE.

    Output: ``id_col``, ``codes array<int>``, ``mse`` (double).

    Scale shape: per-dim bounds come from ONE posexplode + groupBy(pos)
    (dim-sized result) collapsed to two dim-length arrays and
    broadcast; coding itself is a narrow ``zip_with`` projection — the
    corpus is never shuffled.
    """
    pe = df.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
    bounds = pe.groupBy("pos").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    packed = bounds.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ),
            lambda s: s["mn"],
        ).alias("mins"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ),
            lambda s: s["mx"],
        ).alias("maxs"),
    )
    lv = F.lit(float(levels))
    with_bounds = df.crossJoin(F.broadcast(packed))
    idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)
    code_at = lambda i: F.when(  # noqa: E731
        F.col("maxs")[i] > F.col("mins")[i],
        F.least(
            F.lit(levels - 1),
            F.floor(
                (F.col(vec_col)[i].cast("double") - F.col("mins")[i])
                / (F.col("maxs")[i] - F.col("mins")[i])
                * lv
            ),
        ),
    ).otherwise(F.lit(0))
    deq_at = lambda i: F.col("mins")[i] + (  # noqa: E731
        code_at(i).cast("double") + F.lit(0.5)
    ) * (F.col("maxs")[i] - F.col("mins")[i]) / lv
    err_at = lambda i: F.pow(  # noqa: E731
        F.col(vec_col)[i].cast("double") - deq_at(i), F.lit(2.0)
    )
    return with_bounds.select(
        F.col(id_col),
        F.transform(idx, lambda i: code_at(i).cast("int")).alias("codes"),
        (
            F.aggregate(
                F.transform(idx, err_at),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.size(F.col(vec_col))
        ).alias("mse"),
    )
