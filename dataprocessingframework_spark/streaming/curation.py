"""Continuous corpus curation — foreachBatch composition of the
engine's batch operators over an incremental ingest stream.

The reference's closest surface is batch re-runs of its filter
pipeline over a re-read dataset (`pipelines/filter_pipeline.py`,
`processors/writers/shards_writer.py:92-119` resume mode). Structured
Streaming subsumes both: the checkpoint tracks which source files are
done, and each micro-batch runs curation + dedup-against-corpus and
appends survivors — so a corpus directory that grows by thousands of
shards a day is curated continuously without re-reading history.

Exactly-once without transactional storage: foreachBatch is
at-least-once on retry, so each batch writes to its OWN subdirectory
``batch-{batch_id}`` with overwrite mode — a replayed batch id
rewrites the same directory instead of duplicating rows (the standard
idempotent-sink recipe). The dedup anti-join reads every batch dir
EXCEPT the current id, so a half-written failed attempt can never
mask its own replay.

Scale notes: only the new batch moves — the corpus side of
``incremental_dedup`` prunes to the key columns and stays put; with a
small batch AQE broadcasts the batch side. State is the checkpoint's
file log, not data."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataprocessingframework_spark.streaming.ingest import _run_available_now


def _batch_dirs(
    spark: SparkSession, corpus_dir: str, exclude: str | None = None
) -> list[str]:
    """Existing ``batch-*`` subdirectories of the corpus (Hadoop FS, so
    any supported scheme works), minus ``exclude``. Directories with no
    data files are skipped: a micro-batch whose rows were ALL filtered
    or deduped away writes only a _SUCCESS marker, and
    ``spark.read.parquet`` fails on a part-less directory."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(corpus_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if not (
            status.isDirectory() and name.startswith("batch-") and name != exclude
        ):
            continue
        has_data = any(
            not f.getPath().getName().startswith(("_", "."))
            for f in fs.listStatus(status.getPath())
        )
        if has_data:
            # Full URI (scheme + authority), not just the path part:
            # with a non-default filesystem (s3a:// corpus on an HDFS
            # defaultFS) a bare path would resolve against the wrong
            # FS and the dedup-vs-corpus anti-join would read nothing.
            out.append(str(status.getPath().toString()))
    return sorted(out)


def read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame | None:
    """The curated corpus as one DataFrame (None when empty)."""
    dirs = _batch_dirs(spark, corpus_dir)
    return spark.read.parquet(*dirs) if dirs else None


def _maybe_compact(
    spark: SparkSession,
    index_table: str | None,
    batch_id: int,
    compact_every: int | None,
) -> None:
    """Periodic maintained-index compaction: each append adds
    num_buckets files, so every ``compact_every`` committed batches
    the index is rewritten back to one file per bucket. Keyed off the
    monotonic batch_id, so the cadence survives restarts without
    extra state; a replayed batch at the boundary just re-compacts an
    already-compact index (idempotent)."""
    if (
        compact_every
        and index_table is not None
        and (batch_id + 1) % compact_every == 0
        and spark.catalog.tableExists(index_table)
    ):
        from dataprocessingframework_spark.sources.compact import (
            compact_bucketed_index,
        )

        compact_bucketed_index(spark, index_table)


def _index_source(
    spark: SparkSession, corpus_dir: str, batch_id: int, use_index: bool
) -> DataFrame | None:
    """What the maintained index write should cover after this batch:
    just the batch dir when appending to an existing index, the WHOLE
    accepted corpus when (re)building — an index adopted mid-stream
    must include the batches accepted before it existed, or every
    later probe under-gates. None when there is nothing to write
    (fully-gated batch — its dir holds only a _SUCCESS marker, which
    ``spark.read.parquet`` rejects)."""
    if not use_index:
        return read_corpus(spark, corpus_dir)
    cur = [
        d
        for d in _batch_dirs(spark, corpus_dir)
        if d.rstrip("/").endswith(f"batch-{batch_id}")
    ]
    return spark.read.parquet(cur[0]) if cur else None


def incremental_curation(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    corpus_dir: str,
    checkpoint_dir: str,
    dedup_cols: list[str],
    order_col: str | None = None,
    curate: Callable[[DataFrame], DataFrame] | None = None,
    src_format: str = "json",
    max_files_per_trigger: int | None = None,
) -> int:
    """Fold new source files into the curated corpus: per micro-batch,
    apply the ``curate`` stage (filter/projection over curation
    signals), drop rows whose dedup key already exists in the corpus,
    keep-first within the batch, and append the survivors
    idempotently. Returns micro-batches committed this run (0 when no
    new files). Rerunnable from the same checkpoint at any time — the
    streaming twin of the reference's resume-append mode with the
    curation pipeline fused in."""
    from dataprocessingframework_spark.operators.dedup import (
        exact_dedup,
        incremental_dedup,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        curated = curate(batch_df) if curate is not None else batch_df
        prior = _batch_dirs(spark, corpus_dir, exclude=f"batch-{batch_id}")
        if prior:
            corpus = spark.read.parquet(*prior)
            fresh = incremental_dedup(curated, corpus, dedup_cols, order_col)
        else:
            fresh = exact_dedup(curated, dedup_cols, order_col=order_col)
        fresh.write.mode("overwrite").parquet(f"{corpus_dir}/batch-{batch_id}")

    return _run_available_now(
        spark, src_dir, schema, checkpoint_dir,
        lambda w: w.foreachBatch(_process), src_format, max_files_per_trigger,
    )


def incremental_near_dup_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    corpus_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    curate: Callable[[DataFrame], DataFrame] | None = None,
    src_format: str = "json",
    max_files_per_trigger: int | None = None,
    index_table: str | None = None,
    index_path: str | None = None,
    index_num_buckets: int = 32,
    compact_every: int | None = None,
) -> int:
    """Continuous NEAR-dup-gated ingestion: per micro-batch, drop
    arriving docs that near-duplicate the already-accepted corpus
    (LSH candidates vs the corpus -> pair-driven exact-Jaccard verify
    >= ``threshold``), then append the survivors idempotently — the
    fuzzy twin of :func:`incremental_curation` and the continuous
    form of ``operators.dedup.incremental_near_dup``.

    Scale shape per batch: the corpus is touched through its LSH index
    and the verification texts of candidate docs only; shuffles are
    batch-sized plus collisions. ``index_table`` switches to a
    MAINTAINED ``materialize_lsh_index`` table: each batch probes the
    (band, bucket)-bucketed index exchange-free (the corpus is never
    re-hashed per batch) and appends its survivors' index rows.
    Replay safety: rows belonging to the current batch's ids are
    anti-joined OUT of the index before probing, so a half-applied
    append from a failed attempt cannot collide with its own replay
    (incremental_near_dup's disjoint-id precondition stays intact);
    the batch-dir corpus remains the source of truth and the index is
    derived state. Without ``index_table`` the index is recomputed
    per batch for self-containedness. Within-batch near-dups are NOT
    removed (matching the batch operator's contract).

    ``compact_every``: every N committed batches, rewrite the
    maintained index back to one file per bucket
    (``sources.compact.compact_bucketed_index``) — each append adds
    ``index_num_buckets`` files, so a long-running stream otherwise
    reintroduces the small-files probe regression the bucketed
    writer avoids at build time.
    """
    from dataprocessingframework_spark.operators.dedup import (
        incremental_near_dup,
        materialize_lsh_index,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        curated = curate(batch_df) if curate is not None else batch_df
        prior = _batch_dirs(spark, corpus_dir, exclude=f"batch-{batch_id}")
        use_index = (
            index_table is not None
            and spark.catalog.tableExists(index_table)
        )
        if prior:
            corpus = spark.read.parquet(*prior)
            cidx = None
            if use_index:
                # drop any half-applied rows of THIS batch's ids (a
                # failed earlier attempt) so the disjoint-id contract
                # holds on replay
                cidx = spark.table(index_table).join(
                    curated.select(id_col), on=id_col, how="left_anti"
                )
            fresh = incremental_near_dup(
                curated, corpus, text_col, id_col,
                threshold=threshold, num_hashes=num_hashes, bands=bands,
                corpus_index=cidx,
            )
        else:
            fresh = curated
        fresh.write.mode("overwrite").parquet(f"{corpus_dir}/batch-{batch_id}")
        if index_table is not None:
            # bootstrap: when the index is adopted mid-stream (or was
            # dropped), the initial overwrite build must cover the
            # WHOLE accepted corpus — prior batch dirs included, not
            # just this batch — or every later batch probes an index
            # that silently omits the old rows and under-gates
            # (ADVICE r8). read_corpus sees the batch dir just written.
            src = _index_source(spark, corpus_dir, batch_id, use_index)
            if src is not None:
                materialize_lsh_index(
                    src,
                    text_col,
                    id_col,
                    index_table,
                    num_hashes=num_hashes,
                    bands=bands,
                    num_buckets=index_num_buckets,
                    path=index_path,
                    mode="append" if use_index else "overwrite",
                )
            _maybe_compact(spark, index_table, batch_id, compact_every)

    return _run_available_now(
        spark, src_dir, schema, checkpoint_dir,
        lambda w: w.foreachBatch(_process), src_format, max_files_per_trigger,
    )


def incremental_semantic_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    corpus_dir: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_probe: int = 2,
    impl: str = "blas",
    curate: Callable[[DataFrame], DataFrame] | None = None,
    src_format: str = "json",
    max_files_per_trigger: int | None = None,
    index_table: str | None = None,
    index_path: str | None = None,
    index_num_buckets: int = 16,
    compact_every: int | None = None,
    rung: str = "float",
    prefix_dims: int | None = None,
    clamp_log: list | None = None,
    rebuild_on_clamp_frac: float | None = None,
    rebalance_on_imbalance: float | None = None,
    rebalance_cell_rows: int | None = None,
    rebalance_rounds: int = 4,
    rebalance_log: list | None = None,
    recommend_stats: dict | None = None,
) -> int:
    """Continuous SEMANTIC-dup-gated ingestion: per micro-batch, drop
    arriving embedding rows whose cosine similarity to any
    already-accepted vector reaches ``threshold`` (IVF-cell-blocked —
    ``operators.similarity.incremental_semantic_dedup``), then append
    the survivors idempotently. The embedding twin of
    :func:`incremental_near_dup_ingest` (which gates on text
    MinHash/Jaccard): the production shape for keeping a continuously
    ingested embedding store free of semantic duplicates.

    ``centroids`` is the shared coarse quantizer, trained ONCE
    outside the stream (``materialize_ivf_index`` /
    ``load_ivf_centroids`` — or seeded ``_ivf_centroids(iters=0)``
    for an engine-portable gate); per-batch cost is the batch's cell
    assignment plus a cell-blocked score against the corpus — never
    an all-pairs score, and no quantizer retraining inside the
    stream. Default ``impl='blas'`` is one corpus scan against the
    collected batch, one numpy matmul per (Arrow chunk, cell)
    (measured >=45x over the JVM fold on a 100k-vs-100k batch;
    PLANS.md "r8 semantic ingest soak"); the micro-batch must fit on
    the driver, the same contract as the jvm path's broadcast. Pass
    'jvm' for fold-order-exact scoring. Within-batch semantic dups
    are kept (the incremental contract).

    ``index_table`` switches the corpus side to a MAINTAINED
    materialized IVF index: each batch probes the cell-bucketed
    index (corpus cells computed once at accept time, never
    recomputed per batch) and appends its survivors to it. Replay
    safety without transactional storage: the gate ignores same-id
    matches, so a half-applied append from a failed attempt cannot
    gate its own replay, and duplicate index rows are harmless to
    the existential threshold decision (they re-confirm, never flip,
    a verdict). The batch-dir corpus remains the source of truth;
    the index is derived state rebuildable via
    ``materialize_ivf_index(read_corpus(...), centroids=...)``.
    The bootstrap build, and every rebuild below, covers the WHOLE
    accepted corpus. ``compact_every``: every N committed batches,
    rewrite the index back to one file per bucket (each append adds
    ``index_num_buckets`` files — see
    ``sources.compact.compact_bucketed_index``).

    ``rung`` (anything but 'float' requires ``index_table``): the
    compression rung the index is maintained at, gated through the
    same rung of ``similarity.semantic_dedup_gate``. The compressed
    rungs shortlist candidates from the compressed rows and recheck
    them exactly against the batch-dir float corpus, so every rung's
    accepted set is IDENTICAL to the float path (pinned in tests):

    - 'sq8': packed codes, the ~3.6-7.7x smaller payload, with the
      sound derived margin. Appends reuse the STORED bounds
      (code-grid stability). Caveat: appended vectors that drift
      OUTSIDE the bootstrap bounds clamp to the code rails, where the
      derived margin is no longer sound — the failure direction is a
      missed duplicate, never a false drop (``clamp_log``,
      ``rebuild_on_clamp_frac``).
    - 'pq': the 16 B/vector rung — PQ codes plus per-row
      reconstruction residuals (per-row 2·resid/vnorm sound
      margins). No append caveat: PQ encoding never clamps, and each
      appended row's resid is computed against the stored codebooks.
    - 'prefix': the training-free rung — the first ``prefix_dims``
      coordinates plus the remainder norm (per-pair Cauchy-Schwarz
      bound, sound at margin 0). No append caveat; appends validate
      the batch against the stored geometry. Right for
      matryoshka-trained embeddings — size d_p first with
      ``emb_gate_prefix_report``.
    - 'auto': the rung is picked at BOOTSTRAP by
      ``similarity.recommend_gate_rung`` over
      ``similarity.gate_rung_signals`` of the bootstrap corpus, with
      ``prefix_dims`` the candidate d_p: the most-compressed viable
      rung (prefix for matryoshka-shaped corpora, SQ8 when the
      derived margin leaves headroom, float otherwise; PQ is never
      auto-picked — its signal needs trained codebooks). On restart
      against an existing index, the PERSISTED index's columns are
      the rung of record (same principle as the persisted
      quantizer): re-detected, never re-decided. Acceptance is
      rung-independent, so the pick only moves cost, never verdicts.

    ``recommend_stats`` (opt-in dict, requires ``index_table``):
    filled at the bootstrap build with ``signals``, ``decision``,
    ``rung`` and ``active_rung``, as in ``semantic_dedup_gate``
    (``prefix_dims`` None means dim/4 for the signals). A restart with
    rung='auto' sets ``rung`` and ``active_rung`` to the re-detected
    rung only.

    ``clamp_log`` (rung='sq8' only, r12): pass a list and every index
    write appends ``{batch_id, n_rows, rows_clamped, dims_clamped,
    rebuilt}`` — the runtime signal for the SQ8 append-drift caveat
    above (clamped rows are exactly the ones the derived margin no
    longer covers). The bootstrap overwrite reports 0 by
    construction; a growing rows_clamped fraction across batches is
    the cue to rebuild the index so the bounds re-cover the corpus.

    ``rebuild_on_clamp_frac`` (rung='sq8' only, r12): closes that
    loop — when an append's rows_clamped/n_rows exceeds the fraction,
    the index is REBUILT from the whole accepted corpus in the same
    micro-batch, so the bounds re-cover the drifted distribution and
    the gate's margin is sound again from the NEXT batch on. The
    drifted batch itself was already gated before its write (its
    clamped rows can only have missed dups against themselves — the
    documented caveat direction); the rebuild bounds the exposure to
    one batch instead of forever. Keep the threshold above the noise
    floor (a few in 10k rows) — each rebuild is a full corpus
    re-encode.

    ``rebalance_on_imbalance`` (r13 — VERDICT r12 item 4, requires
    ``index_table``): the opt-in AUTO-REBALANCE policy closing the
    skew-repair loop (detector ``ivf_cell_stats`` → decision
    ``rebalance_trigger`` → repair ``balance_centroids``). After
    every index write, one groupBy(cell)-count over the maintained
    index evaluates ``rebalance_trigger(index,
    rebalance_on_imbalance, rebalance_cell_rows)``; when it fires
    (imbalance above the threshold AND a cell above the cap — a
    drifted stream piling mass into one quantizer cell), the
    quantizer is SPLIT via ``balance_centroids`` over the whole
    accepted corpus and the index is rebuilt at the same rung with
    the split centroid list — so from the NEXT batch on, batch
    assignment and index cells both use the repaired quantizer (they
    must move together: the gate equi-joins batch cells against
    index cells). The current batch was already gated before the
    rebuild, and the gate's verdicts are quantizer-independent in
    the sound regime (cells only bound WHERE candidates are probed;
    the threshold decision is exact cosine), so acceptance semantics
    are unchanged — pinned by the mid-stream-rebalance test equaling
    the exact gate. ``rebalance_cell_rows`` (required with the
    policy) is the cell size above which a cell is worth splitting;
    ``rebalance_rounds`` caps each repair's split rounds;
    ``rebalance_log`` (pass a list) records per index write
    ``{batch_id, n_rows, max_cell, imbalance, triggered,
    n_cells_before, n_cells_after, rebalanced}``. Cost when idle:
    one column-pruned cell-count scan per batch; when fired: one
    balance_centroids pass + one index rebuild."""
    from dataprocessingframework_spark.operators.similarity import (
        balance_centroids,
        detect_gate_rung,
        gate_rung_signals,
        incremental_semantic_dedup,
        load_ivf_centroids,
        load_prefix_dims,
        materialize_ivf_index,
        materialize_pq_index,
        rebalance_trigger,
        recommend_gate_rung,
        semantic_dedup_gate,
    )
    from dataprocessingframework_spark.sources.compact import _table_location

    if rung not in ("float", "sq8", "pq", "prefix", "auto"):
        raise ValueError(
            f"unknown rung {rung!r}: expected 'float'|'sq8'|'pq'|'prefix'|'auto'"
        )
    if index_table is None and (rung != "float" or recommend_stats is not None):
        raise ValueError(
            f"rung={rung!r} and recommend_stats require index_table (the"
            " rung is materialized as the maintained index)"
        )
    if rung in ("prefix", "auto") and prefix_dims is None:
        raise ValueError(
            f"rung={rung!r} needs prefix_dims (size d_p with"
            " emb_gate_prefix_report / gate_rung_signals)"
        )
    if rebalance_on_imbalance is not None:
        if index_table is None:
            raise ValueError(
                "rebalance_on_imbalance requires index_table (the"
                " policy reads the maintained index's cell sizes)"
            )
        if rebalance_cell_rows is None:
            raise ValueError(
                "rebalance_on_imbalance needs a cell cap: pass"
                " rebalance_cell_rows="
            )
    # the quantizer is MUTABLE stream state once the rebalance policy
    # is on: batch assignment and index cells must flip together, so
    # _process reads it from this box every batch; with rung='auto'
    # the picked rung is stream state the same way
    state = {
        "cents": [[float(x) for x in c] for c in centroids],
        "rung": rung,
        "prefix_dims": prefix_dims if rung == "prefix" else None,
    }
    if rung == "auto" and spark.catalog.tableExists(index_table):
        # restart: the PERSISTED index's columns are the rung of
        # record — re-deciding from a fresh signal pass could pick a
        # different rung than the table actually stores and score
        # packed words with the wrong arithmetic
        state["rung"] = detect_gate_rung(spark.table(index_table).columns)
        if state["rung"] == "pq":
            # 'auto' never picks PQ (its signal needs trained
            # codebooks), so a PQ table here means the caller switched
            # management modes — appending float rows into it would
            # corrupt the index; refuse instead
            raise ValueError(
                f"rung='auto' found an existing PQ index at"
                f" {index_table!r} — PQ is user-managed; pass rung='pq'"
                " to keep it"
            )
        if state["rung"] == "prefix":
            state["prefix_dims"] = load_prefix_dims(spark, index_table)[0]
        if recommend_stats is not None:
            recommend_stats.update(rung=state["rung"], active_rung=state["rung"])
    if rebalance_on_imbalance is not None and spark.catalog.tableExists(
        f"{index_table}_centroids"
    ):
        # with the policy on, the PERSISTED quantizer is the source
        # of truth, not the caller's argument: a previous run (or a
        # restart) may have split the quantizer and rebuilt the index
        # with it — seeding from the stale argument would assign
        # batch cells under one quantizer and equi-join them against
        # index cells written under another, silently missing
        # candidates
        state["cents"] = load_ivf_centroids(spark, index_table)

    def _write_index(
        src: DataFrame, mode: str, cents: list, clamp_stats: dict | None = None
    ) -> None:
        path = index_path
        if mode == "overwrite" and path is not None and spark.catalog.tableExists(index_table):
            # a rebuild: the CURRENT catalog location is authoritative —
            # compact_every may have relocated the external table since
            # bootstrap, and writing back to the stale index_path would
            # orphan the compacted directory and silently move the index
            path = _table_location(spark, index_table)
        vecs = src.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
        kw = dict(
            centroids=cents, impl=impl, num_buckets=index_num_buckets,
            path=path, mode=mode,
        )
        if state["rung"] == "pq":
            materialize_pq_index(vecs, index_table, **kw)
        else:
            materialize_ivf_index(
                vecs, index_table, sq8=state["rung"] == "sq8",
                clamp_stats=clamp_stats, prefix_dims=state["prefix_dims"], **kw,
            )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        curated = curate(batch_df) if curate is not None else batch_df
        prior = _batch_dirs(spark, corpus_dir, exclude=f"batch-{batch_id}")
        use_index = (
            index_table is not None
            and spark.catalog.tableExists(index_table)
        )
        if use_index:
            # ONE gate entry point across the ladder (r12): the
            # explicit gate_kind also validates that the index's
            # columns match the rung of record — a mismatched table
            # fails loudly instead of scoring packed words with the
            # wrong arithmetic. The compressed rungs read the float
            # batch-dir corpus only for the exact stage-2 recheck of
            # shortlisted candidates; the float-index rung never
            # reads it.
            kind = state["rung"]
            fresh = semantic_dedup_gate(
                curated,
                (
                    (
                        spark.read.parquet(*prior)
                        if prior
                        else curated.limit(0)
                    )
                    if kind != "float"
                    else None
                ),
                state["cents"],
                gate_kind=kind,
                index_table=index_table,
                prefix_dims=state["prefix_dims"],
                id_col=id_col, vec_col=vec_col,
                threshold=threshold, n_probe=n_probe, impl=impl,
            )
        elif prior:
            corpus = spark.read.parquet(*prior)
            fresh = incremental_semantic_dedup(
                curated, corpus, state["cents"],
                id_col=id_col, vec_col=vec_col,
                threshold=threshold, n_probe=n_probe, impl=impl,
            )
        else:
            fresh = curated
        fresh.write.mode("overwrite").parquet(f"{corpus_dir}/batch-{batch_id}")
        if index_table is not None:
            src = _index_source(spark, corpus_dir, batch_id, use_index)
            if src is not None:
                if not use_index and (state["rung"] == "auto" or recommend_stats is not None):
                    # bootstrap rung pick (r14): signals over the SAME
                    # corpus the bootstrap index covers, picked once —
                    # the persisted index then carries the decision
                    # across restarts
                    signals = gate_rung_signals(src, prefix_dims, vec_col=vec_col)
                    decision = recommend_gate_rung(
                        threshold=threshold,
                        rest_mass_p95=signals["rest_mass_p95"],
                        sq8_margin=signals["sq8_margin"],
                    )
                    if state["rung"] == "auto":
                        state["rung"] = decision["rung"]
                        if decision["rung"] == "prefix":
                            state["prefix_dims"] = prefix_dims
                    if recommend_stats is not None:
                        recommend_stats.update(
                            signals=signals, decision=decision,
                            rung=decision["rung"], active_rung=state["rung"],
                        )
                cstats: dict | None = (
                    {}
                    if state["rung"] == "sq8"
                    and (clamp_log is not None or rebuild_on_clamp_frac is not None)
                    else None
                )
                _write_index(src, "append" if use_index else "overwrite", state["cents"], cstats)
                rebuilt = (
                    cstats is not None
                    and rebuild_on_clamp_frac is not None
                    and use_index
                    and cstats["rows_clamped"]
                    > rebuild_on_clamp_frac * max(cstats["n_rows"], 1)
                )
                if rebuilt:
                    # bounds no longer cover the corpus: rebuild from
                    # ALL accepted batches, re-deriving bounds so the
                    # gate margin is sound again from the next batch on
                    full = _index_source(spark, corpus_dir, batch_id, False)
                    _write_index(full, "overwrite", state["cents"])
                if cstats is not None and clamp_log is not None:
                    clamp_log.append({"batch_id": batch_id, **cstats, "rebuilt": rebuilt})
            _maybe_compact(spark, index_table, batch_id, compact_every)
        if rebalance_on_imbalance is not None and spark.catalog.tableExists(index_table):
            decision = rebalance_trigger(
                spark.table(index_table), rebalance_on_imbalance,
                rebalance_cell_rows,
            )
            n_before = len(state["cents"])
            rebalanced = False
            # cooldown: if a triggered attempt changed nothing (the hot
            # cells were unsplittable — e.g. a pile of byte-identical
            # vectors), don't re-run the whole-corpus balance job every
            # micro-batch; retry only once the corpus has grown enough
            # (>=10%) that new mass could make the split succeed —
            # the stream-level mirror of balance_centroids' own
            # lineage-based unsplittable retry
            stale_at = state.get("rebalance_stale_at")
            cooling = (
                decision["triggered"]
                and stale_at is not None
                and decision["n_rows"] <= 1.1 * stale_at
            )
            if decision["triggered"] and not cooling:
                # repair at the source: split the quantizer over the
                # WHOLE accepted corpus, then rebuild the index with
                # the split list so batch assignment (state) and index
                # cells flip together
                full = _index_source(spark, corpus_dir, batch_id, False)
                if full is not None:
                    new_cents = balance_centroids(
                        full, state["cents"], rebalance_cell_rows,
                        rounds=rebalance_rounds, id_col=id_col,
                        vec_col=vec_col, impl=impl,
                    )
                    if new_cents != state["cents"]:
                        _write_index(full, "overwrite", new_cents)
                        state["cents"] = new_cents
                        rebalanced = True
                state["rebalance_stale_at"] = None if rebalanced else decision["n_rows"]
            if rebalance_log is not None:
                rebalance_log.append(
                    {
                        "batch_id": batch_id,
                        "n_rows": decision["n_rows"],
                        "max_cell": decision["max_cell"],
                        "imbalance": round(decision["imbalance"], 4),
                        "triggered": decision["triggered"],
                        "n_cells_before": n_before,
                        "n_cells_after": len(state["cents"]),
                        "rebalanced": rebalanced,
                        "skipped_cooldown": cooling,
                    }
                )

    return _run_available_now(
        spark, src_dir, schema, checkpoint_dir,
        lambda w: w.foreachBatch(_process), src_format, max_files_per_trigger,
    )
