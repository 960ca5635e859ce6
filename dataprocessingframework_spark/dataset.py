"""The core ``Dataset`` abstraction: a Spark DataFrame of per-sample
metadata plus dataset-level config (modalities, datatypes, paths).

Reference parity: DPF's ``DatasetProcessor`` holds a pandas DataFrame
(`/root/reference/DPF/processors/processor.py:46-49`) and mutates it in
place. Here the metadata table is an immutable Spark DataFrame; every
operation returns a new ``Dataset`` bound to a new lazy plan, so
Catalyst sees the whole pipeline and can prune/push down across
operator boundaries (the reference executes eagerly operator-at-a-time).

Order semantics: pandas has an implicit stable row index the reference
relies on (keep-first dedup, sort_index after multi-GPU splits). Spark
has none, so ``with_row_id`` materializes an explicit monotonic id at
ingest; every order-sensitive operator takes an explicit ordering.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ColumnOrName = Column | str


class Dataset:
    """Immutable metadata table + config; all ops lazy until an action.

    Mirrors the user-facing surface of DPF's ``DatasetProcessor``
    (`processors/processor.py`) re-expressed on Spark DataFrames.
    """

    def __init__(self, df: DataFrame, config: Any | None = None) -> None:
        self.df = df
        self.config = config

    # ---------------------------------------------------------------- core
    @property
    def spark(self) -> SparkSession:
        return self.df.sparkSession

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def _wrap(self, df: DataFrame) -> "Dataset":
        return Dataset(df, self.config)

    def count(self) -> int:
        """len(processor) — `processors/processor.py:487-488` (A2)."""
        return self.df.count()

    def to_pandas(self):
        return self.df.toPandas()

    def to_view(self, name: str) -> None:
        """Expose as SQL view; the reference has no SQL surface at all."""
        self.df.createOrReplaceTempView(name)

    # ------------------------------------------------------ projection/filter
    def filter(self, condition: ColumnOrName) -> "Dataset":
        """Row filter — `processors/processor.py:322-333` (P1)."""
        return self._wrap(self.df.filter(condition))

    where = filter

    def select(self, *cols: ColumnOrName) -> "Dataset":
        """Column projection (P3) — Catalyst prunes the scan to match."""
        return self._wrap(self.df.select(*cols))

    def with_column(self, name: str, col: Column) -> "Dataset":
        """Column set — `processors/processor.py:60-64` (P4)."""
        return self._wrap(self.df.withColumn(name, col))

    def with_columns(self, cols: Mapping[str, Column]) -> "Dataset":
        return self._wrap(self.df.withColumns(dict(cols)))

    def with_row_id(self, name: str = "row_id") -> "Dataset":
        """Explicit ingestion row-id replacing pandas' implicit index.

        Required by keep-first dedup (D1) and order restoration (D5,
        `filters/multigpu_filter.py:132` in the reference).
        """
        return self._wrap(self.df.withColumn(name, F.monotonically_increasing_id()))

    def drop_null(self, subset: Sequence[str] | None = None) -> "Dataset":
        """Failed-sample drop (P6) — `filters/data_filter.py:138-141`."""
        return self._wrap(self.df.na.drop(subset=list(subset) if subset else None))

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "Dataset":
        """Arbitrary df->df stage (P2) — `pipelines/pipeline_stages.py:37-47`."""
        return self._wrap(fn(self.df))

    # ----------------------------------------------------------- DDL-ish ops
    def rename_columns(self, mapping: Mapping[str, str]) -> "Dataset":
        """W5 — `processors/sharded_processor.py:32-41`."""
        return self._wrap(self.df.withColumnsRenamed(dict(mapping)))

    def delete_columns(self, cols: Iterable[str], protected: Iterable[str] = ()) -> "Dataset":
        """W6 — `processors/sharded_processor.py:43-56`; required columns
        are protected exactly as `helpers/dataframe_helper.py:30-60` does."""
        cols = list(cols)
        bad = set(cols) & set(protected)
        if bad:
            raise ValueError(f"cannot delete protected columns: {sorted(bad)}")
        return self._wrap(self.df.drop(*cols))

    def update_columns(self, new: DataFrame, key: str) -> "Dataset":
        """W4 keyed upsert of metadata columns.

        Semantics of `helpers/dataframe_helper.py:95-153`: new frame is
        keyed 1:1; overlapping non-key columns are replaced. The new side
        is typically small (filter output) -> broadcast hash join, no
        shuffle of the big side.
        """
        overlap = [c for c in new.columns if c != key and c in self.df.columns]
        base = self.df.drop(*overlap) if overlap else self.df
        return self._wrap(base.join(F.broadcast(new), on=key, how="inner"))

    # ----------------------------------------------------------------- joins
    def join(
        self,
        other: "Dataset | DataFrame",
        on: Any,
        how: str = "left",
        broadcast_other: bool = False,
    ) -> "Dataset":
        """J1-J3 plus the full Spark join surface (semi/anti/outer...).

        The reference's only join shape is a left equi-join merging
        filter results back (`processors/processor.py:197`); the result
        side is small, so ``broadcast_other=True`` reproduces its cost
        profile without shuffling the metadata table.
        """
        right = other.df if isinstance(other, Dataset) else other
        if broadcast_other:
            right = F.broadcast(right)
        return self._wrap(self.df.join(right, on=on, how=how))

    def asof_join(
        self, other: "Dataset | DataFrame", on: Any, **kwargs: Any
    ) -> "Dataset":
        """Temporal as-of join (operators/joins.asof_join): latest right
        row at-or-before each left row's timestamp, one shuffle."""
        from dataprocessingframework_spark.operators.joins import asof_join

        right = other.df if isinstance(other, Dataset) else other
        return self._wrap(asof_join(self.df, right, on, **kwargs))

    def nearest_join(
        self, other: "Dataset | DataFrame", on: Any, **kwargs: Any
    ) -> "Dataset":
        """Bidirectional nearest-in-time join
        (operators/joins.nearest_join): closest right row in either
        direction, exact tie -> the earlier right row."""
        from dataprocessingframework_spark.operators.joins import (
            nearest_join,
        )

        right = other.df if isinstance(other, Dataset) else other
        return self._wrap(nearest_join(self.df, right, on, **kwargs))

    def overlap_join(
        self,
        other: "Dataset | DataFrame",
        l_lo: str,
        l_hi: str,
        r_lo: str,
        r_hi: str,
        bin_width: int = 3600,
        on: Any = None,
    ) -> "Dataset":
        """Interval × interval overlap join
        (operators/joins.interval_overlap_join): binned equi-join with
        first-colliding-bin dedup, exact predicate post-filter."""
        from dataprocessingframework_spark.operators.joins import (
            interval_overlap_join,
        )

        right = other.df if isinstance(other, Dataset) else other
        return self._wrap(
            interval_overlap_join(
                self.df, right, l_lo, l_hi, r_lo, r_hi, bin_width, on
            )
        )

    def range_join(
        self, ranges: "Dataset | DataFrame", point_col: str,
        lo_col: str, hi_col: str, **kwargs: Any,
    ) -> "Dataset":
        """Point-in-interval join (operators/joins.range_join)."""
        from dataprocessingframework_spark.operators.joins import range_join

        r = ranges.df if isinstance(ranges, Dataset) else ranges
        return self._wrap(
            range_join(self.df, r, point_col, lo_col, hi_col, **kwargs)
        )

    def salted_join(
        self, other: "Dataset | DataFrame", on: Any, **kwargs: Any
    ) -> "Dataset":
        """Skew-resistant equi-join (operators/joins.salted_join)."""
        from dataprocessingframework_spark.operators.joins import salted_join

        right = other.df if isinstance(other, Dataset) else other
        return self._wrap(salted_join(self.df, right, on, **kwargs))

    # ------------------------------------------------------------ aggregates
    def group_by(self, *cols: ColumnOrName):
        return self.df.groupBy(*cols)

    def agg(self, *exprs: Column) -> "Dataset":
        return self._wrap(self.df.agg(*exprs))

    def distinct_values(self, col: str) -> list[Any]:
        """A4 — `df[col].unique()` (`processors/shards_processor.py:63-65`)."""
        return [r[0] for r in self.df.select(col).distinct().collect()]

    def summary_stats(self, cols: Sequence[str]) -> DataFrame:
        """A1 — describe()-style stats (`processors/processor.py:66-99`):
        count/mean/std/min/25%/50%/75%/max per column, one aggregate pass
        (the reference does a pandas describe on driver-resident data).
        """
        aggs: list[Column] = []
        for c in cols:
            col = F.col(c).cast("double")
            aggs += [
                F.count(col).alias(f"{c}_count"),
                F.avg(col).alias(f"{c}_mean"),
                F.stddev(col).alias(f"{c}_std"),
                F.min(col).alias(f"{c}_min"),
                F.percentile_approx(col, 0.25).alias(f"{c}_p25"),
                F.percentile_approx(col, 0.5).alias(f"{c}_p50"),
                F.percentile_approx(col, 0.75).alias(f"{c}_p75"),
                F.max(col).alias(f"{c}_max"),
            ]
        return self.df.agg(*aggs)

    def duplicates(self, cols: Sequence[str]) -> DataFrame:
        """A5 duplicate detection — groups with count>1
        (`validators/format_validators/sharded_validator.py:42-44`)."""
        return (
            self.df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1)
        )

    # ------------------------------------------- dedup / sample / sort / set
    def drop_duplicates(self, cols: Sequence[str] | None = None) -> "Dataset":
        """D1 nondeterministic-keep dedup (cheap: map-side partial agg)."""
        return self._wrap(self.df.dropDuplicates(list(cols) if cols else None))

    def drop_duplicates_keep_first(
        self, cols: Sequence[str], order_col: str
    ) -> "Dataset":
        """D1 with pandas keep='first' determinism
        (`pipelines/pipeline_stages.py:50-60`): smallest ``order_col``
        wins. Window + row_number — one shuffle on the dedup key."""
        w = Window.partitionBy(*[F.col(c) for c in cols]).orderBy(F.col(order_col))
        return self._wrap(
            self.df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def shuffle(self, seed: int = 42) -> "Dataset":
        """D2 full random shuffle (`pipeline_stages.py:27-34`), seeded."""
        return self._wrap(self.df.orderBy(F.rand(seed)))

    def hash_sample(
        self, key_col: str, num: int = 1, denom: int = 20, salt: str = ""
    ) -> "Dataset":
        """Deterministic md5-keyed sample (operators/sampling) — the
        reproducible holdout-split primitive; membership is a pure
        function of the key, identical on any engine or rerun."""
        from dataprocessingframework_spark.operators.sampling import (
            hash_sample,
        )

        return self._wrap(hash_sample(self.df, key_col, num, denom, salt))

    def stratified_sample(
        self, strata_col: str, fractions: Mapping[str, float], seed: int = 42
    ) -> "Dataset":
        """Per-stratum Bernoulli sample (seeded `sampleBy`)."""
        return self._wrap(
            self.df.sampleBy(strata_col, dict(fractions), seed=seed)
        )

    def split_assign(
        self,
        key_col: str,
        splits: tuple[tuple[str, int], ...] = (
            ("train", 90),
            ("val", 5),
            ("test", 5),
        ),
        salt: str = "split",
        out_col: str = "split",
    ) -> "Dataset":
        """Deterministic named train/val/test assignment on the
        portable key hash (operators/sampling.split_assign): disjoint,
        covering, engine-portable, shuffle-free."""
        from dataprocessingframework_spark.operators.sampling import (
            split_assign,
        )

        return self._wrap(
            split_assign(self.df, key_col, splits, salt, out_col)
        )

    def random_sample(self, fraction: float, seed: int = 42) -> "Dataset":
        """D3 — `processors/processor.py:295-320`."""
        return self._wrap(self.df.sample(fraction=fraction, seed=seed))

    def get_random_sample(
        self, seed: int = 42
    ) -> tuple[dict[str, bytes], dict]:
        """One random row with its media bytes — the reference's
        `processor.get_random_sample()` (`processors/processor.py`,
        docs/processor.md): returns ({name_column: bytes}, metadata
        row dict). Media resolution follows the dataset config:
        shards configs read the row's tar member(s), files/
        sharded-files configs read the row's path column(s). A
        config-less Dataset returns ({}, metadata)."""
        from dataprocessingframework_spark.configs import (
            FilesDatasetConfig,
            ShardedFilesDatasetConfig,
            ShardsDatasetConfig,
        )

        # fixed small fraction instead of a count()-sized one: the
        # count was a full extra scan per call, and any fraction works
        # because the limit(1) fallback below covers a sample that
        # comes back empty (tiny datasets included) — ADVICE r5
        row = self.df.sample(fraction=0.01, seed=seed).limit(1).collect()
        if not row:
            row = self.df.limit(1).collect()
        if not row:
            raise ValueError("get_random_sample: dataset is empty")
        meta = row[0].asDict()
        media: dict[str, bytes] = {}
        cfg = self.config
        if isinstance(cfg, ShardsDatasetConfig):
            import tarfile

            for c in cfg.name_columns:
                with tarfile.open(meta[f"{c}_tar_path"]) as tf:
                    media[c] = tf.extractfile(meta[c]).read()
        elif isinstance(cfg, ShardedFilesDatasetConfig):
            for c in cfg.name_columns:
                with open(meta[f"{c}_path"], "rb") as f:
                    media[c] = f.read()
        elif isinstance(cfg, FilesDatasetConfig):
            for c in cfg.path_columns:
                with open(meta[c], "rb") as f:
                    media[c] = f.read()
        return media, meta

    def union(self, other: "Dataset | DataFrame") -> "Dataset":
        """D4 — `pd.concat` (`dataset_reader.py:126-130`); by-name union."""
        right = other.df if isinstance(other, Dataset) else other
        return self._wrap(self.df.unionByName(right, allowMissingColumns=True))

    def order_by(self, *cols: ColumnOrName) -> "Dataset":
        return self._wrap(self.df.orderBy(*cols))

    def limit(self, n: int) -> "Dataset":
        return self._wrap(self.df.limit(n))

    def offset(self, n: int) -> "Dataset":
        """D7 head-of-range slice (`scripts/multi_gpu_filter.py:36-42`)."""
        return self._wrap(self.df.offset(n))

    def split_range(self, id_col: str, start: int, end: int) -> "Dataset":
        """D7 explicit-id slice: [start, end)."""
        return self._wrap(
            self.df.filter((F.col(id_col) >= start) & (F.col(id_col) < end))
        )

    # ------------------------------------------------------------ UDF surface
    def apply_column_filter(self, column_filter) -> "Dataset":
        """U1 — see filters/column_filter.py."""
        return self._wrap(column_filter(self.df))

    def apply_data_filter(self, data_filter) -> "Dataset":
        """U2 — see filters/data_filter.py."""
        return self._wrap(data_filter(self.df))

    def apply_transform(self, transform) -> "Dataset":
        """U4 — see filters/transforms.py."""
        return self._wrap(transform(self.df))

    # --------------------------------------------------------------- physical
    def repartition(self, n: int, *cols: ColumnOrName) -> "Dataset":
        """D6 physical split (`np.array_split` in the reference)."""
        if cols:
            return self._wrap(self.df.repartition(n, *cols))
        return self._wrap(self.df.repartition(n))

    def persist(self) -> "Dataset":
        self.df.persist()
        return self

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode=mode)

    # ------------------------------------------------- sinks (delegations)
    def write_shards(self, out_dir: str, **kwargs) -> None:
        """W1/W3 — see sources/writers.py."""
        from dataprocessingframework_spark.sources.writers import write_shards

        write_shards(self.df, out_dir, **kwargs)

    def write_sharded_files(self, out_dir: str, **kwargs) -> None:
        """W2 — see sources/writers.py."""
        from dataprocessingframework_spark.sources.writers import (
            write_sharded_files,
        )

        write_sharded_files(self.df, out_dir, **kwargs)

    def write_jsonl(self, path: str, **kwargs) -> None:
        """JSONL sink — see sources/jsonl.py."""
        from dataprocessingframework_spark.sources.jsonl import write_jsonl

        write_jsonl(self.df, path, **kwargs)

    def write_range_partitioned(
        self, path: str, sort_col: str, num_files: int, **kwargs
    ) -> None:
        """Clustered layout for scan pruning — see sources/layout.py."""
        from dataprocessingframework_spark.sources.layout import (
            write_range_partitioned,
        )

        write_range_partitioned(self.df, path, sort_col, num_files, **kwargs)

    def write_hive_partitioned(
        self, path: str, partition_cols: Sequence[str], **kwargs
    ) -> None:
        """Directory-partitioned layout (PartitionFilters pruning) —
        see sources/layout.py."""
        from dataprocessingframework_spark.sources.layout import (
            write_hive_partitioned,
        )

        write_hive_partitioned(self.df, path, list(partition_cols), **kwargs)

    # ------------------------------------- analysis / curation (delegations)
    def validate(self, required: Sequence[str], key_cols: Sequence[str]):
        """V1-V5 typed report — see operators/validators.py."""
        from dataprocessingframework_spark.operators.validators import validate

        return validate(self.df, list(required), list(key_cols))

    def profile(self, columns: Sequence[str] | None = None,
                approximate: bool = False) -> DataFrame:
        """One-pass column profile — see operators/profiling.py."""
        from dataprocessingframework_spark.operators.profiling import (
            profile_table,
        )

        return profile_table(self.df, list(columns) if columns else None,
                             approximate)

    def histogram(self, col: str, lo: float, hi: float,
                  n_buckets: int) -> DataFrame:
        """Fixed-width histogram — see operators/profiling.py."""
        from dataprocessingframework_spark.operators.profiling import histogram

        return histogram(self.df, col, lo, hi, n_buckets)

    def near_dup_candidates(
        self, text_col: str, id_col: str, **kwargs
    ) -> DataFrame:
        """MinHash-LSH candidate pairs — see operators/dedup.py."""
        from dataprocessingframework_spark.operators.dedup import (
            minhash_lsh_candidates,
        )

        return minhash_lsh_candidates(self.df, text_col, id_col, **kwargs)

    def near_dup_pairs(
        self,
        text_col: str,
        id_col: str,
        threshold: float = 0.5,
        **kwargs,
    ) -> DataFrame:
        """LSH candidates + pair-driven exact-Jaccard verification in
        one call — the full near-dup pipeline (see operators/dedup.py
        minhash_lsh_candidates + jaccard_pairs)."""
        from dataprocessingframework_spark.operators.dedup import (
            jaccard_pairs,
            minhash_lsh_candidates,
        )

        cand = minhash_lsh_candidates(self.df, text_col, id_col, **kwargs)
        return jaccard_pairs(
            self.df, text_col, id_col, threshold=threshold, candidates=cand
        )

    def classify_quality(
        self, text_col: str = "text", id_col: str = "doc_id", **kwargs
    ) -> DataFrame:
        """fastText-style hashed-linear quality gate — see
        operators/text_analysis.py hashed_linear_score."""
        from dataprocessingframework_spark.operators.text_analysis import (
            hashed_linear_score,
        )

        return hashed_linear_score(self.df, text_col, id_col, **kwargs)

    def analyze_text(self, text_col: str, id_col: str) -> "Dataset":
        """Token/quality/langid/fingerprint columns — see
        operators/text_analysis.py."""
        from dataprocessingframework_spark.operators.text_analysis import (
            analyze,
        )

        return self._wrap(analyze(self.df, text_col, id_col))

    def write_table(self, path: str, fmt: str = "parquet", **kwargs) -> None:
        """Generic format sink (parquet/ORC/CSV/JSONL) — see
        sources/formats.py."""
        from dataprocessingframework_spark.sources.formats import write_table

        write_table(self.df, path, fmt, **kwargs)

    def top_terms(
        self, text_col: str = "text", id_col: str = "doc_id", k: int = 3
    ) -> DataFrame:
        """Per-document tf-idf keywords — see
        operators/text_analysis.py tfidf_top_terms."""
        from dataprocessingframework_spark.operators.text_analysis import (
            tfidf_top_terms,
        )

        return tfidf_top_terms(self.df, text_col, id_col, k)

    def zipf(self, text_col: str = "text", top_n: int = 1000) -> DataFrame:
        """Corpus Zipf rank-frequency slope — see
        operators/text_analysis.py zipf_slope."""
        from dataprocessingframework_spark.operators.text_analysis import (
            zipf_slope,
        )

        return zipf_slope(self.df, text_col, top_n)

    def label_centroids(
        self, vec_col: str = "embedding", label_col: str = "label"
    ) -> DataFrame:
        """Per-label mean embedding — see operators/similarity.py."""
        from dataprocessingframework_spark.operators.similarity import (
            label_centroids,
        )

        return label_centroids(self.df, vec_col, label_col)

    def weighted_sample(
        self, weight_col: str, id_col: str, k: int = 100
    ) -> "Dataset":
        """k-row weighted sample without replacement (A-ES on the
        portable hash) — see operators/sampling.weighted_sample."""
        from dataprocessingframework_spark.operators.sampling import (
            weighted_sample,
        )

        return self._wrap(weighted_sample(self.df, weight_col, id_col, k))

    def chunk(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        window: int = 512,
        stride: int = 384,
    ) -> "Dataset":
        """Sliding-window document chunking (map-only) — see
        operators/text_analysis.chunk_windows."""
        from dataprocessingframework_spark.operators.text_analysis import (
            chunk_windows,
        )

        return self._wrap(
            chunk_windows(self.df, text_col, id_col, window, stride)
        )

    def diff_against(
        self,
        new: "Dataset | DataFrame",
        key_cols: Sequence[str],
        compare_cols: Sequence[str],
    ) -> DataFrame:
        """Snapshot diff (added/removed/changed/unchanged per key),
        treating SELF as the old snapshot — see
        operators/versioning.snapshot_diff."""
        from dataprocessingframework_spark.operators.versioning import (
            snapshot_diff,
        )

        other = new.df if isinstance(new, Dataset) else new
        return snapshot_diff(
            self.df, other, list(key_cols), list(compare_cols)
        )

    def remove_dup_spans(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 8,
        min_docs: int = 2,
    ) -> "Dataset":
        """Exact duplicated-SPAN removal at every token offset
        (stride-1; operators/text_analysis.remove_dup_spans)."""
        from dataprocessingframework_spark.operators.text_analysis import (
            remove_dup_spans,
        )

        return self._wrap(
            remove_dup_spans(self.df, text_col, id_col, n, min_docs)
        )

    def remove_boilerplate(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 8,
        min_docs: int = 2,
    ) -> "Dataset":
        """Corpus-level duplicate-passage removal — see
        operators/text_analysis.remove_dup_passages."""
        from dataprocessingframework_spark.operators.text_analysis import (
            remove_dup_passages,
        )

        return self._wrap(
            remove_dup_passages(self.df, text_col, id_col, n, min_docs)
        )

    def gini(self, col: str) -> DataFrame:
        """Concentration audit — see operators/drift.gini."""
        from dataprocessingframework_spark.operators.drift import gini

        return gini(self.df, col)

    def ks_against(self, other: "Dataset | DataFrame", col: str) -> DataFrame:
        """Two-sample KS drift check — see operators/drift.ks_statistic."""
        from dataprocessingframework_spark.operators.drift import ks_statistic

        o = other.df if isinstance(other, Dataset) else other
        return ks_statistic(self.df, o, col)

    def psi_against(
        self,
        other: "Dataset | DataFrame",
        col: str,
        lo: float,
        hi: float,
        bins: int = 10,
    ) -> DataFrame:
        """PSI drift score with SELF as baseline — see
        operators/drift.psi."""
        from dataprocessingframework_spark.operators.drift import psi

        o = other.df if isinstance(other, Dataset) else other
        return psi(self.df, o, col, lo, hi, bins)
