"""The benchmark's workloads.

Each workload owns its generated inputs and exposes ``setup()`` (make
inputs, run anything that must exist before the first timed operation),
``op(i, rec)`` (one closed-loop operation; returns ``{"items": n}``,
the documents or rows it processed) and ``check(i)`` (the list of output
problems of operation ``i``; empty means correct).

When the recorder is enabled the operation runs traced: every package
call is timed from here, attributed to the layer that owns it, and its
output is materialised at the layer boundary so the time lands on the
call that caused it. When it is disabled the pipeline runs as a user
writes it: lazy, with only intermediates read by several later stages
materialised.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import numpy as np
import pandas as pd

import gen
from spans import Recorder, plan_split


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring bookkeeping files."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Workload:
    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.layer: dict[str, float] = {}  # per-layer metrics of the traced op
        self.detail: dict[str, object] = {}

    def rng(self, *key: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *key])


# ------------------------------------------------------------ curate_text
class CurateText(Workload):
    """The LLM-curation stage order over a generated crawl: quality gate,
    exact dedup, MinHash-LSH candidates, exact-Jaccard verification and
    removal of each verified pair's larger id, duplicated-span removal,
    sequence packing; the curated corpus is written as parquet. One
    operation is one full pass over the crawl."""

    N_DOCS = 4000
    SCHEMA = "doc_id long, text string, source string"
    THRESHOLD = 0.8
    CONTEXT_LEN = 512

    def setup(self) -> None:
        self.crawl = gen.crawl(self.rng(0), self.N_DOCS)
        self.src = os.path.join(self.work, "crawl.parquet")
        self.crawl.docs.to_parquet(self.src, index=False)
        self.input_bytes = os.path.getsize(self.src)
        self.words = {
            int(i): set(t.split(" ")) for i, t in zip(self.crawl.docs.doc_id, self.crawl.docs.text)
        }
        self.pairs: dict = {}

    def op(self, i: int, rec: Recorder) -> dict:
        from pyspark.sql import functions as F

        from dataprocessingframework_spark.dataset import Dataset
        from dataprocessingframework_spark.operators.dedup import jaccard_pairs, minhash_lsh_candidates
        from dataprocessingframework_spark.operators.text_analysis import pack_sequences
        from dataprocessingframework_spark.sources.formats import read_table

        spark = self.spark
        out = os.path.join(self.work, f"curated-{i}")
        traced = rec.enabled

        def call(name, layer, build, reused=False):
            if traced:
                return plan_split(rec, spark, name, layer, build)
            # a relation read by several later stages is materialised
            # once, as a user persists a shared intermediate
            return build().localCheckpoint(eager=True) if reused else build()

        raw = call("read_table", "sources", lambda: read_table(spark, self.src, schema=self.SCHEMA).select("doc_id", "text"))

        def gate():
            scored = Dataset(raw).classify_quality()
            return raw.join(scored.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")

        gated = call("classify_quality", "filters", gate)
        exact = call(
            "drop_duplicates_keep_first",
            "dedup",
            lambda: Dataset(gated).drop_duplicates_keep_first(["text"], order_col="doc_id").df,
            reused=True,
        )
        cand = call(
            "minhash_lsh_candidates",
            "dedup",
            lambda: minhash_lsh_candidates(exact, "text", "doc_id", num_hashes=16, bands=4),
        )
        pairs = call(
            "jaccard_pairs",
            "dedup",
            lambda: jaccard_pairs(exact, "text", "doc_id", threshold=self.THRESHOLD, candidates=cand),
            reused=True,
        )
        # a doc goes when a verified pair links it to a smaller id
        kept = exact.join(pairs.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti")
        clean = call(
            "remove_dup_spans",
            "text_analysis",
            lambda: Dataset(kept).remove_dup_spans("text", "doc_id", n=8, min_docs=2).df,
            reused=True,
        )
        packed = call(
            "pack_sequences",
            "text_analysis",
            lambda: pack_sequences(
                clean.select("doc_id", F.col("clean_text").alias("text")),
                "text",
                "doc_id",
                context_len=self.CONTEXT_LEN,
                order_col="doc_id",
                n_shards=8,
            ),
        )
        result = clean.join(packed, "doc_id")
        with rec.span("write_table", "sources"):
            Dataset(result).write_table(out)
        self.pairs[i] = pairs  # materialised; collected by check()
        if traced:
            sp = {s.name: s for s in rec.spans}
            n_cand = sp["minhash_lsh_candidates"].attrs["rows"]
            n_pairs = sp["jaccard_pairs"].attrs["rows"]
            out_bytes, out_files = _du(out)
            removed = clean.agg(F.sum("n_removed")).collect()[0][0] or 0
            self.layer.update(
                {
                    "sources.read_s": sp["read_table"].duration,
                    "sources.write_s": sp["write_table"].duration,
                    "sources.bytes_per_input_byte": out_bytes / self.input_bytes,
                    "sources.files_written": out_files,
                    "filters.quality_s": sp["classify_quality"].duration,
                    "dedup.exact_s": sp["drop_duplicates_keep_first"].duration,
                    "dedup.lsh_s": sp["minhash_lsh_candidates"].duration,
                    "dedup.verify_s": sp["jaccard_pairs"].duration,
                    "dedup.candidate_pairs": n_cand,
                    "dedup.verified_pairs": n_pairs,
                    "dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0,
                    "text_analysis.spans_s": sp["remove_dup_spans"].duration,
                    "text_analysis.pack_s": sp["pack_sequences"].duration,
                    "text_analysis.tokens_removed": int(removed),
                }
            )
        return {"items": self.N_DOCS}

    def check(self, i: int) -> list[str]:
        problems = []
        out = pd.read_parquet(os.path.join(self.work, f"curated-{i}"))
        ids = set(out.doc_id.tolist())
        leaked = ids & set(self.crawl.exact_dups.tolist())
        if leaked:
            problems.append(f"{len(leaked)} planted exact duplicates survived")
        pairs = self.pairs.pop(i).toPandas()
        for a, b in zip(pairs.id_a, pairs.id_b):
            wa, wb = self.words[int(a)], self.words[int(b)]
            if len(wa & wb) / len(wa | wb) < self.THRESHOLD:
                problems.append(f"verified pair ({a}, {b}) is below the Jaccard threshold")
                break
        if ids & set(pairs.id_b.tolist()):
            problems.append("the larger id of a verified pair was kept")
        ntok = out.clean_text.str.split().str.len().fillna(0)
        if not (ntok == out.n_tokens).all():
            problems.append("n_tokens does not match the cleaned text")
        for _, g in out.sort_values("doc_id").groupby("shard"):
            start = g.n_tokens.cumsum() - g.n_tokens
            if not (g.bin_id == start // self.CONTEXT_LEN).all():
                problems.append("a packed bin starts a doc beyond context_len")
                break
        self.detail["near_dups_kept"] = len(ids & set(self.crawl.near_dups.tolist()))
        return problems


# -------------------------------------------------------- semantic_ingest
class SemanticIngest(Workload):
    """Streaming semantic-dedup ingest. Setup writes the base corpus of
    accepted embeddings. One operation lands one generated embedding
    file (fresh vectors plus planted near-copies of accepted ones) and
    folds it in with ``incremental_semantic_ingest``: one micro-batch
    through the IVF-cell-blocked cosine gate against the accepted
    corpus, then an append of the survivors."""

    DIM = 32
    N_BASE = 5000
    N_CLUSTERS = 64
    N_CELLS = 16
    FILE_ROWS = 200
    DUP_ROWS = 20
    THRESHOLD = 0.95
    SCHEMA = "vec_id long, embedding array<float>"

    def setup(self) -> None:
        rng = self.rng(0)
        self.centers = gen.cluster_centers(rng, self.N_CLUSTERS, self.DIM)
        base = gen.clustered_vectors(rng, self.N_BASE, self.centers)
        # the coarse quantizer is trained once, outside the stream: a
        # seeded sample of base vectors, as an iters=0 quantizer picks
        self.cents = base[rng.choice(self.N_BASE, self.N_CELLS, replace=False)].astype(float).tolist()
        self.accepted = base
        self.next_id = self.N_BASE
        self.paths = {k: os.path.join(self.work, k) for k in ("src", "corpus", "ckpt")}
        self.expect: dict[int, set] = {}
        self.ingested: dict[int, int] = {}
        # the accepted corpus starts as the base file; the stream's own
        # micro-batches land beside it as batch-<id>
        base_dir = os.path.join(self.paths["corpus"], "batch-base")
        os.makedirs(base_dir)
        pd.DataFrame({"vec_id": np.arange(self.N_BASE, dtype=np.int64), "embedding": list(base)}).to_parquet(
            os.path.join(base_dir, "part-0.parquet"), index=False
        )

    def _land(self, n: int, vecs: np.ndarray, dup_ids: np.ndarray) -> None:
        """Write file ``n`` and update the exact ground truth: a row is
        kept iff its cosine to every vector accepted before this file
        stays below the threshold (duplicates within one file are kept,
        as the gate documents)."""
        ids = np.arange(self.next_id, self.next_id + len(vecs), dtype=np.int64)
        self.next_id += len(vecs)
        keep = gen.cosine_max(vecs, self.accepted) < self.THRESHOLD
        self.expect[n] = set(ids[keep].tolist())
        if not set(dup_ids.tolist()) <= set(ids[~keep].tolist()):
            raise RuntimeError("generator planted a duplicate the exact gate would keep")
        self.accepted = np.vstack([self.accepted, vecs[keep]])
        os.makedirs(self.paths["src"], exist_ok=True)
        pd.DataFrame({"vec_id": ids, "embedding": list(vecs)}).to_parquet(
            os.path.join(self.paths["src"], f"part-{n:05d}.parquet"), index=False
        )

    def _ingest(self) -> int:
        from dataprocessingframework_spark.streaming.curation import incremental_semantic_ingest

        return incremental_semantic_ingest(
            self.spark,
            self.paths["src"],
            self.SCHEMA,
            self.paths["corpus"],
            self.paths["ckpt"],
            self.cents,
            threshold=self.THRESHOLD,
            n_probe=2,
            src_format="parquet",
        )

    def op(self, i: int, rec: Recorder) -> dict:
        # file i becomes the stream's micro-batch i
        rng = self.rng(i + 1)
        fresh = gen.clustered_vectors(rng, self.FILE_ROWS - self.DUP_ROWS, self.centers)
        src = rng.integers(0, len(self.accepted), self.DUP_ROWS)
        dups = gen.near_copies(rng, self.accepted[src])
        first_dup = self.next_id + len(fresh)
        self._land(i, np.vstack([fresh, dups]), np.arange(first_dup, first_dup + self.DUP_ROWS))
        if not rec.enabled:
            self.ingested[i] = self._ingest()
            return {"items": self.FILE_ROWS}

        with rec.span("incremental_semantic_ingest", "streaming") as root, _traced_gate(rec, self.spark):
            self.ingested[i] = self._ingest()
        # the landed file is the micro-batch the gate saw; the gate's
        # span counted its surviving rows
        gates = [s for s in rec.spans if s.name == "incremental_semantic_dedup"]
        kept = sum(s.attrs["rows"] for s in gates)
        self.layer.update(
            {
                "similarity.gate_s": sum(s.duration for s in gates),
                "similarity.gate_drop_frac": (self.FILE_ROWS - kept) / self.FILE_ROWS,
                "streaming.batch_s": rec.self_times(root).get("streaming", 0.0),
                "streaming.batches_committed": self.ingested[i],
                "streaming.rows_accepted": len(self.expect[i]),
            }
        )
        return {"items": self.FILE_ROWS}

    def check(self, i: int) -> list[str]:
        problems = []
        if self.ingested.get(i) != 1:
            problems.append(f"file {i} committed {self.ingested.get(i)} micro-batches, expected 1")
        got = set(pd.read_parquet(os.path.join(self.paths["corpus"], f"batch-{i}")).vec_id.tolist())
        if got != self.expect[i]:
            problems.append(
                f"file {i}: {len(got - self.expect[i])} rows wrongly kept,"
                f" {len(self.expect[i] - got)} wrongly dropped"
            )
        return problems


@contextmanager
def _traced_gate(rec: Recorder, spark):
    """While active, the semantic gate the streaming ingest calls runs
    through a span and is materialised at its boundary."""
    from dataprocessingframework_spark.operators import similarity

    gate_fn = similarity.incremental_semantic_dedup

    def gate(*args, **kwargs):
        return plan_split(rec, spark, "incremental_semantic_dedup", "similarity", lambda: gate_fn(*args, **kwargs))

    # the ingest imports the gate from the module on every call
    similarity.incremental_semantic_dedup = gate
    try:
        yield
    finally:
        similarity.incremental_semantic_dedup = gate_fn


WORKLOADS = {"curate_text": CurateText, "semantic_ingest": SemanticIngest}
