"""Deduplication operators for training-data pipelines.

The reference's only dedup is pandas ``drop_duplicates`` on a metadata
column (`pipelines/pipeline_stages.py:50-60`, canonically on
``image_phash_8``). At 100 TB that generalizes to a family:

- exact dedup (hash-groupBy) — one shuffle on the dedup key;
- MinHash + LSH banding — near-dup candidate generation whose cost is
  O(docs x bands), never O(docs^2);
- SimHash — 64-bit fingerprint, hamming-ball lookup;
- word-shingle Jaccard — exact similarity for verification of the
  approximate paths (quadratic; only for candidate verification or
  small slices);
- embedding cosine near-dup (see similarity.py).

All sketches use the md5-based `hash64` primitive so every kernel is
bit-reproducible in DuckDB SQL (see functions/hashing.py) — the
approximate paths are therefore *oracle-checkable*, which engine-native
nondeterministic hashing would forbid.

Scale notes: every operator here is a chain of narrow projections plus
exactly one shuffle (groupBy doc key or band key). Word explosion
happens map-side and is reduced by partial aggregation before the
shuffle (Spark's hash aggregate), so the shuffled volume is one row per
(doc, distinct word), not per occurrence.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataprocessingframework_spark.functions.hashing import (
    MINHASH_PRIME,
    hash64,
    minhash_coeffs,
)


def tokenize_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, word) pairs, distinct — the word-set view of each document.

    Split on single spaces to match the canonical oracle tokenization;
    empty tokens dropped.
    """
    return (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )


def tokenize_char_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int = 4
) -> DataFrame:
    """(id, gram) pairs, distinct — the character n-gram (shingle) view
    of each document. Shingling is robust to word-boundary edits
    (whitespace/punctuation churn) that break word-set Jaccard.

    Entirely JVM-side: sequence+transform+substring generate the
    shingles inside codegen (narrow), then one distinct. Row volume is
    ~len(text) per doc before distinct — the same order as the word
    explode, no extra shuffle shape.
    """
    # NB: Spark's sequence(1, 0) counts DOWN ([1,0]) rather than being
    # empty, so docs shorter than n need the explicit length guard.
    # Column API, not an F.expr string: any column name resolves
    text = F.col(text_col)
    grams = F.when(
        F.length(text) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (n - 1)),
            lambda i: text.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array())
    return (
        df.select(F.col(id_col), F.explode(grams).alias("word"))
        .distinct()
    )


def _has_unorderable_type(dtype) -> bool:
    """MapType is not orderable in Spark, so a struct containing one
    cannot go through min()/sort."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return True
    if isinstance(dtype, ArrayType):
        return _has_unorderable_type(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(_has_unorderable_type(f.dataType) for f in dtype.fields)
    return False


def exact_dedup(
    df: DataFrame, cols: list[str], order_col: str | None = None
) -> DataFrame:
    """Exact dedup. With ``order_col``: deterministic keep-first via
    min-id-wins groupBy — the winning row is carried as one struct with
    ``order_col`` as its leading field, so ``min(struct)`` picks the row
    with the smallest ``order_col`` (remaining fields break exact ties
    deterministically). A single shuffle with map-side partial min —
    cheaper than a window sort, which must shuffle-sort every group
    before discarding all but row 1.

    Struct ordering requires orderable payload types; rows carrying a
    map column fall back to the row_number window (shuffle + sort, same
    result with ``order_col`` ties broken arbitrarily among identical
    keys)."""
    if order_col is None:
        return df.dropDuplicates(cols)
    rest = [c for c in df.columns if c not in cols and c != order_col]
    if any(_has_unorderable_type(df.schema[c].dataType) for c in rest):
        w = Window.partitionBy(*cols).orderBy(F.col(order_col).asc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    packed = F.struct(F.col(order_col), *[F.col(c) for c in rest])
    agg = df.groupBy(*[F.col(c) for c in cols]).agg(F.min(packed).alias("__r"))
    return agg.select(
        *[
            F.col(c) if c in cols else F.col(f"__r.{c}").alias(c)
            for c in df.columns
        ]
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an already-deduped corpus: drop batch
    rows whose key already exists in the corpus (anti-join), then
    keep-first within the batch itself.

    The production shape of continuous ingest — the 100 TB corpus is
    never re-deduped per arrival; only the (small) batch moves. The
    anti-join shuffles on the dedup key; when the batch is small AQE
    plans it as a broadcast of the BATCH side against corpus partitions
    (corpus stays put either way, and the corpus side prunes to the key
    columns only). Within-batch dedup reuses :func:`exact_dedup`'s
    single-shuffle min-struct path.
    """
    seen = corpus.select(*cols).dropDuplicates(cols)
    fresh = batch.join(seen, on=cols, how="left_anti")
    return exact_dedup(fresh, cols, order_col=order_col)


def reduced_word_hash(word_col: Column) -> Column:
    """hash64 reduced mod p — the integer each minhash permutes."""
    return hash64(word_col) % F.lit(MINHASH_PRIME)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document: columns mh0..mh{k-1}.

    One explode -> one groupBy(id) with k partial-aggregated mins.
    Shuffled volume: one row per (doc, distinct word) pre-reduced to one
    row per doc by map-side combine.
    """
    # skinny scans otherwise run the word explode + k universal-hash
    # mins serially; one tiny round-robin shuffle unlocks full width
    # (no-op when the input arrives with real splits). Projected to
    # the two consumed columns first so the unlock shuffle never
    # carries the rest of the row, and SKIPPED for sub-partition-
    # budget inputs — there the serial explode is cheaper than the
    # shuffle (r15 A/B vs the r4 code: the unconditional fan-out cost
    # ~1.2-1.4x on the sf0.1 bench entry; PLANS.md "r15 minhash A/B")
    from dataprocessingframework_spark.functions.partitioning import (
        fan_out,
        partition_budget_bytes,
    )

    df = fan_out(
        df.select(id_col, text_col),
        skip_below_bytes=partition_budget_bytes(df.sparkSession),
    )
    # no distinct: MIN is idempotent over duplicate words, so skipping
    # the dedup avoids one full shuffle — groupBy's map-side partial
    # min collapses duplicates for free
    words = (
        df.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    h = words.withColumn("h", reduced_word_hash(F.col("word")))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return h.groupBy(id_col).agg(*aggs)


def _band_buckets(num_hashes: int, bands: int) -> list[Column]:
    """One bucket string per LSH band over a ``minhash_signatures``
    relation: md5 of the band's minhash values joined by ``,``. The
    single band-bucket encoding — :func:`minhash_lsh_candidates` keys
    on its 60-bit prefix, :func:`lsh_index` (and so every
    ``materialize_lsh_index`` table) stores it whole, and
    ``queries._lsh_band_sql`` builds the same bytes in DuckDB."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rpb = num_hashes // bands
    return [
        F.md5(
            F.concat_ws(
                ",", *[F.col(f"mh{b * rpb + j}").cast("string") for j in range(rpb)]
            )
        )
        for b in range(bands)
    ]


# Pair generation emits at most _PAIR_BLOCK**2 pairs per block-pair row,
# bounding per-task work independent of bucket size.
_PAIR_BLOCK = 512


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    bucket_stats: dict | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding: (id_a, id_b) with
    id_a < id_b that collide in >= 1 band.

    ``bucket_stats``: pass a dict to receive the band-bucket census —
    ``n_buckets`` (size >= 2), ``max_bucket``, ``n_oversized`` /
    ``oversized_members`` (buckets past ``max_bucket_size``, i.e. the
    star-collapse guard's trigger rate), ``pairs_uncapped`` (the full
    s(s-1)/2 pair volume over ALL buckets), and ``pairs_oversized``
    (that volume in oversized buckets only — the guard refused
    ``pairs_oversized - (oversized_members - n_oversized)`` pairs,
    keeping the s-1 star pairs per bucket) — the diagnostic
    counterpart of connected_components' ``round_stats``
    (tools/lexical_soak.py). Costs one extra aggregate job over the
    bucket pre-count; leave None in pipelines.

    Band buckets are keyed on the 60-bit long prefix of the band md5
    (:func:`_band_buckets`) — 8-byte fixed-width keys instead of
    32-char strings, which roughly halves the bucket-exchange bytes
    and removes per-row string hashing/comparison and the GC pressure
    it feeds (the r4 bench showed the string-keyed uncapped run
    degrading 8.5x across trials in one JVM). The pair set equals the
    full-md5 bucketing the DuckDB oracles use unless two distinct band
    signatures collide in their 60-bit prefix (~n^2/2^60); the
    dd_lsh_candidates family of registry oracles pins that equality.

    Cost model at scale: signatures (1 shuffle) -> band explode (x bands,
    narrow) -> groupBy band bucket (1 shuffle) -> blocked pair
    generation (1 small shuffle) -> distinct (1 shuffle).

    Pair generation is BLOCKED so no single task ever owns a hot
    bucket's s²/2 pair emission: each bucket's sorted id array is cut
    into fixed ``_PAIR_BLOCK``-sized chunks, every (chunk_i, chunk_j)
    combination with i <= j becomes its own row, and those block-pair
    rows are hash-repartitioned BEFORE pairs are exploded — a bucket of
    s members fans out over (s/B)²/2 independent tasks emitting ≤ B²
    pairs each, instead of one task emitting all s(s-1)/2. The explicit
    partition count on the repartition matters: the pre-explode rows
    are tiny (two id chunks each) and AQE would otherwise coalesce them
    back into one partition, resurrecting the serialization. The extra
    shuffle moves s²/B ids per bucket ≈ 2/B of the pair volume it
    parallelizes. Memory per task stays one block pair (≤ 2·8·B bytes).

    Cross-band dedup is FIRST-COLLIDING-BAND emission, not a global
    ``distinct()``: each member carries its per-band bucket hashes
    (60-bit md5 prefixes) into the pair generator, and a pair is
    emitted only in the first band where it collides — a flat O(bands)
    scalar comparison per candidate pair. A distinct would have to
    shuffle the ENTIRE pre-dedup pair volume (duplicates of one pair
    live in different bands, hence different map tasks, so map-side
    partial aggregation removes nothing); on a duplicate-heavy corpus
    that shuffle dominates the whole job, and it grows with the worst
    bucket's s². The per-pair check costs bands-1 long compares and
    ships bands extra longs per member through the small shuffles.

    ``max_bucket_size`` is the production guard for degenerate corpora
    (boilerplate-heavy crawls): a bucket of size s emits s(s-1)/2
    pairs, so one million-doc bucket means 5e11 pairs. A bucket above
    the cap is already a dedup verdict — its members share an entire
    band of minhashes — so instead of pairwise verification it
    collapses to s-1 STAR pairs (min member id vs each other member),
    which keep connected-components clustering identical to the full
    clique while refusing the quadratic blow-up. Oversized buckets are
    detected by a cheap pre-count and their members STREAM through a
    broadcast join against the per-bucket min — they never enter the
    ``collect_set``, so aggregate memory is bounded by the cap
    (cap × ~40 B per bucket row), not by the worst bucket's size; a
    100M-member boilerplate bucket flows through without a 4 GB agg
    buffer. (The broadcast side holds one row per OVERSIZED bucket —
    small by construction; a corpus with millions of such buckets
    needs exact dedup first, not LSH.) Pass ``None`` for the exact
    full pair set (the oracle-checkable shape, memory ∝ largest
    bucket).
    """
    band_strs = _band_buckets(num_hashes, bands)
    sig = minhash_signatures(df, text_col, id_col, num_hashes)
    with_buckets = sig.select(
        F.col(id_col), *[band_strs[b].alias(f"_bs{b}") for b in range(bands)]
    )
    # one row per (doc, band): the bucket key is the band md5's 60-bit
    # prefix, which also rides along per band as h0..h{bands-1} for the
    # first-colliding-band check at pair time
    prefix = [
        F.conv(F.substring(F.col(f"_bs{b}"), 1, 15), 16, 10).cast("long")
        for b in range(bands)
    ]
    member = F.struct(
        F.col(id_col).alias("id"), *[p.alias(f"h{b}") for b, p in enumerate(prefix)]
    )
    buckets = with_buckets.select(
        member.alias("_m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), prefix[b].alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_m", "bb.band", "bb.bucket")
    star_pairs = None
    grouped_src = buckets
    if bucket_stats is not None:
        cap = max_bucket_size if max_bucket_size is not None else 2**62
        census = (
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 2)
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.coalesce(F.max("_n"), F.lit(0)).alias("max_bucket"),
                F.coalesce(
                    F.sum(F.when(F.col("_n") > cap, 1).otherwise(0)),
                    F.lit(0),
                ).alias("n_oversized"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("_n") > cap, F.col("_n")).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("oversized_members"),
                F.coalesce(
                    F.sum(F.col("_n") * (F.col("_n") - 1) / 2), F.lit(0.0)
                ).alias("pairs_uncapped"),
                # the clique volume living in OVERSIZED buckets only —
                # what the star-collapse guard actually declines (minus
                # the s-1 star pairs it still emits per bucket)
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("_n") > cap,
                            F.col("_n") * (F.col("_n") - 1) / 2,
                        ).otherwise(0)
                    ),
                    F.lit(0.0),
                ).alias("pairs_oversized"),
            )
            .collect()[0]
        )
        bucket_stats.update(census.asDict())
    if max_bucket_size is not None:
        # cheap pre-count pass (rows shrink to one per bucket via
        # map-side partial agg); oversized buckets' members then STREAM
        # through a broadcast star-join — never collected into an array
        stats = buckets.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_n"), F.min("_m").alias("_min")
        )
        big = stats.filter(F.col("_n") > max_bucket_size).select(
            "band", "bucket", "_min"
        )
        star_pairs = (
            buckets.join(F.broadcast(big), on=["band", "bucket"])
            .filter(F.col("_m.id") != F.col("_min.id"))
            .select(
                "band",
                F.col("_min").alias("_sa"),
                F.col("_m").alias("_sb"),
            )
        )
        grouped_src = buckets.join(
            F.broadcast(big.select("band", "bucket")),
            on=["band", "bucket"],
            how="left_anti",
        )
    # sort_array over structs orders by leading field = id, so chunks
    # stay id-ordered and id_a < id_b holds structurally
    grouped = (
        grouped_src.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set(F.col("_m"))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    b_sz = _PAIR_BLOCK
    full_chunks = (
        f"transform(sequence(0, (size(_ids) + {b_sz - 1}) div {b_sz} - 1),"
        f" i -> slice(_ids, i * {b_sz} + 1, {b_sz}))"
    )
    chunked = grouped.select(
        "band", "bucket", F.expr(full_chunks).alias("_chunks")
    )
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    block_pairs = (
        chunked.select(
            "band", "bucket", "_chunks",
            F.posexplode("_chunks").alias("_i", "_ca"),
        )
        # slice at 1-based position _i+1 starts at chunk _i itself, so
        # _j == 0 is the same-chunk (triangular) case
        .select(
            "band", "bucket", "_i", "_ca",
            F.posexplode(
                F.slice(F.col("_chunks"), F.col("_i") + F.lit(1), F.size("_chunks"))
            ).alias("_j", "_cb"),
        )
        .repartition(n_part, F.col("band"), F.col("bucket"), F.col("_i"), F.col("_j"))
    )
    candidates = (
        block_pairs
        # posexplode is 0-based, slice is 1-based: same-chunk partners of
        # the id at index _p start at 1-based position _p + 2; cross-chunk
        # partners are the whole later chunk (sorted, so id_a < id_b holds)
        .select("band", "_j", "_ca", "_cb", F.posexplode("_ca").alias("_p", "_sa"))
        .select(
            "band",
            "_sa",
            F.explode(
                F.when(
                    F.col("_j") == 0,
                    F.slice(F.col("_ca"), F.col("_p") + F.lit(2), F.size("_ca")),
                ).otherwise(F.col("_cb"))
            ).alias("_sb"),
        )
    )
    if star_pairs is not None:
        # both branches hang off the same signature/bucket subtree, so
        # exchange reuse feeds them from one shuffle write
        candidates = candidates.unionByName(star_pairs)
    # first-colliding-band emission: drop the pair here iff it also
    # collides in an earlier band (that band's task emits it) — a flat
    # boolean over carried 60-bit prefixes, no distinct needed
    earlier_collision = F.lit(False)
    for j in range(bands - 1):
        earlier_collision = earlier_collision | (
            (F.col("band") > j) & (F.col(f"_sa.h{j}") == F.col(f"_sb.h{j}"))
        )
    return (
        candidates.filter(~earlier_collision)
        .select(F.col("_sa.id").alias("id_a"), F.col("_sb.id").alias("id_b"))
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64
) -> DataFrame:
    """SimHash fingerprint over the document's word set.

    Bit j of the fingerprint is the sign of sum over words of
    (+1 if bit j of hash64(word) else -1). Computed as ``bits``
    aggregate expressions in ONE groupBy pass — no row explosion by
    bit, no shuffle beyond the doc-key groupBy.
    """
    words = tokenize_words(df, text_col, id_col).withColumn(
        "h", hash64(F.col("word"))
    )
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = words.groupBy(id_col).agg(*sums)
    fingerprint = None
    for j in range(bits):
        # shiftleft wraps to the sign bit for j=63 (two's-complement),
        # which a 2**63 literal cannot express as a positive long
        term = F.when(
            F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming_near_dup(
    sig: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over an integer fingerprint
    column (simhash, phash): (id_a, id_b, hamming) with id_a < id_b and
    hamming <= max_hamming.

    Banded LSH with a pigeonhole EXACTNESS guarantee: split the ``bits``
    -bit hash into ``bands`` equal slices; two hashes within
    ``max_hamming < bands`` differing bits must agree on >= 1 slice, so
    the slice-equality equi-join has full recall and the bit_count(xor)
    verification makes the result identical to the quadratic scan — at
    the cost of one bucket-join instead of |N|^2 comparisons. The same
    shape runs image phash dedup (the reference's README demo) once
    K2's phash hex is parsed to a long.

    Cross-band dedup is first-colliding-band emission (same design as
    ``minhash_lsh_candidates``): a pair agreeing on several slices is
    kept only by the lowest agreeing band, decided from the carried
    fingerprints' xor — no global ``distinct()``, whose shuffle would
    carry the whole pre-dedup pair volume.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"pigeonhole exactness needs bands ({bands}) > "
            f"max_hamming ({max_hamming})"
        )
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    w = bits // bands
    mask = (1 << w) - 1
    h = F.col(hash_col)
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.shiftrightunsigned(h, j * w).bitwiseAND(F.lit(mask)).alias("val"),
        )
        for j in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col), h.alias("__h"),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(id_col, "__h", "bb.band", "bb.val")
    a, b = buckets.alias("a"), buckets.alias("b")
    xor = F.col("a.__h").bitwiseXOR(F.col("b.__h"))
    earlier_band_equal = F.lit(False)
    for j in range(bands - 1):
        earlier_band_equal = earlier_band_equal | (
            (F.col("a.band") > j)
            & (F.shiftrightunsigned(xor, j * w).bitwiseAND(F.lit(mask)) == 0)
        )
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.val") == F.col("b.val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .filter(~earlier_band_equal)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(xor).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def connected_components(
    pairs: DataFrame,
    all_nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    round_stats: list | None = None,
) -> DataFrame:
    """Group near-dup candidate pairs into clusters: (node, cluster)
    where cluster = min node id reachable through the pair graph.

    This is the step that turns pairwise similarity into dedup
    decisions (keep one representative per cluster) — absent from the
    reference, essential at 100 TB where transitive duplicates are the
    norm. Computed by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 — public algorithm).

    ``round_stats``: pass a list to receive one
    ``(round, n_edges_after, seconds)`` tuple per contraction round —
    diagnostic only (tools/cc_drift_probe.py); edge counts come from
    the convergence digest the round already computes, so the hook
    adds no extra jobs.

    Star contraction converges in O(log n) rounds on ANY graph shape
    by rewriting the edge set itself toward disjoint stars; min-label
    propagation would need O(diameter) rounds and ship every edge's
    CURRENT label each round. On adversarial chains (transitive
    near-dup runs, crawl rings) that is Θ(n) rounds versus
    logarithmic here — the planted-chain test in
    tests/test_clustering.py pins that.

    Scale shape per round: one groupBy(node) min (map-side combine —
    a hot node's edges partial-aggregate before the shuffle) and one
    edge ⋈ min equi-join (AQE skew-splittable), never a
    collect_list of a neighborhood; the edge set never grows
    (large-star provably shrinks/preserves it). Convergence is one
    count+hash-sum aggregate per round — the edge set is a fixed
    point of both stars iff it is a union of disjoint stars, so
    hash-equality doubles as the done-and-correct check.
    """
    # lazy checkpoints throughout: every checkpoint here is followed
    # by exactly one action (the convergence digest) before any other
    # consumer runs, so eager=False folds materialize+digest into ONE
    # job — the digest rides the same pass that stores the checkpoint
    # instead of a second read-back job per round (guide §1.2: remove
    # passes). Sequential actions make the lazy form race-free.
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def edge_digest(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    # NOTE: every two-way emission below is an array-of-struct explode
    # rather than a self-union — Union over a re-aliased copy of the
    # same (checkpointed) relation trips constraint rewriting in
    # Catalyst (UnionBase.rewriteConstraints "key not found") once the
    # input lineage is non-trivial; the explode is also one pass
    # instead of two over the edge relation.
    def bidir(e: DataFrame) -> DataFrame:
        return e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("a"), F.col("v").alias("b")
                    ),
                    F.struct(
                        F.col("v").alias("a"), F.col("u").alias("b")
                    ),
                )
            ).alias("p")
        ).select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))

    # the min-relation is derived FROM the neighbor relation it then
    # joins back onto — rename its key (mu) so Catalyst never has to
    # disambiguate the self-join lineage
    def large_star(e: DataFrame) -> DataFrame:
        nb = bidir(e)
        mins = (
            nb.groupBy(F.col("u").alias("mu"))
            .agg(F.min("v").alias("mn"))
            .select("mu", F.least(F.col("mn"), F.col("mu")).alias("m"))
        )
        return (
            nb.filter(F.col("v") > F.col("u"))
            .join(mins, F.col("u") == F.col("mu"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        nb = bidir(e).filter(F.col("v") < F.col("u"))
        mins = nb.groupBy(F.col("u").alias("mu")).agg(
            F.min("v").alias("m")
        )
        # (v, m) reattaches each smaller neighbor to the center's min;
        # (u, m) keeps the center itself attached. Self rows (v == m,
        # and u == m on the center's own row) drop in the filter.
        return (
            nb.join(mins, F.col("u") == F.col("mu"))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("v").alias("a"), F.col("m").alias("b")
                        ),
                        F.struct(
                            F.col("u").alias("a"), F.col("m").alias("b")
                        ),
                    )
                ).alias("p")
            )
            .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    digest = edge_digest(edges)
    converged = False
    for rnd in range(max_iterations):
        t0 = time.monotonic() if round_stats is not None else 0.0
        edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        new_digest = edge_digest(edges)
        if round_stats is not None:
            round_stats.append(
                (rnd, int(new_digest[0]), time.monotonic() - t0)
            )
        if new_digest == digest:
            converged = True
            break
        digest = new_digest
    if not converged:
        # the label extraction below ASSUMES the edge set is disjoint
        # stars (the contraction fixed point); an unconverged edge set
        # would silently emit inconsistent clusters, so fail loudly
        raise RuntimeError(
            "connected_components: edge digest did not reach a "
            f"fixed point within max_iterations={max_iterations}; "
            "labels would be inconsistent. Raise max_iterations "
            "(rounds needed grow O(log n) in component size)."
        )

    # at the fixed point edges are (leaf > root) stars: label leaves
    # by their root, roots by themselves, isolated nodes by themselves
    # (two-way emission as an explode — see the self-union note above)
    labels = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("a"), F.col("v").alias("b")
                ),
                F.struct(
                    F.col("v").alias("a"), F.col("v").alias("b")
                ),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("node"), F.col("p.b").alias("cluster"))
    if all_nodes is not None:
        nodes = all_nodes.select(
            F.col(all_nodes.columns[0]).alias("node")
        )
        labels = labels.union(
            nodes.join(labels, "node", "left_anti").withColumn(
                "cluster", F.col("node")
            )
        )
    return labels.groupBy("node").agg(F.min("cluster").alias("cluster"))


def incremental_connected_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Merge NEW edges into an existing (node, cluster) assignment
    without re-clustering history — the continuous-ingest step after
    :func:`incremental_near_dup` surfaces batch-vs-corpus pairs.

    The existing assignment IS a star edge set (node -> cluster), and
    stars are the fixed point of large/small-star contraction — so
    seeding :func:`connected_components` with those star edges
    plus the new pairs converges in O(log(affected component size))
    rounds: components the batch never touches pass through the first
    round unchanged, and only merge chains do real work. The output
    equals a full re-clustering over (old transitive closure ∪ new
    edges) — min-label relabeling included when two old clusters
    merge — which is exactly what the equivalence tests pin.

    Scale shape: history is touched only through its |nodes|-sized
    label table, never its original (possibly quadratic-adjacent)
    edge set; per-round costs are the star rounds' usual groupBy-min
    + skew-splittable equi-join.
    """
    star_edges = labels.filter(
        F.col("node") != F.col("cluster")
    ).select(F.col("node").alias(id_a), F.col("cluster").alias(id_b))
    seed = star_edges.unionByName(
        new_pairs.select(
            F.col(id_a).cast("long").alias(id_a),
            F.col(id_b).cast("long").alias(id_b),
        )
    )
    all_nodes = (
        labels.select("node")
        .union(new_pairs.select(F.col(id_a).alias("node")))
        .union(new_pairs.select(F.col(id_b).alias("node")))
        .distinct()
    )
    return connected_components(
        seed, all_nodes=all_nodes, id_a=id_a, id_b=id_b,
        max_iterations=max_iterations,
    )


def _canonical_pairs(candidates: DataFrame) -> DataFrame:
    """Canonicalize a caller-supplied candidate relation: order each
    pair as id_a < id_b (least/greatest), drop self-pairs, dedup.
    Callers may pass reversed, both-orientation, or (x, x) rows —
    without this, reversed duplicates score twice and self-pairs
    emit jaccard/containment 1.0 (ADVICE r5). Both downstream scores
    are symmetric, so reordering never changes a value."""
    return (
        candidates.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _overlap_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    candidates: DataFrame | None,
    ngram: int | None,
) -> DataFrame:
    """(id_a, id_b, i, na, nb) with id_a < id_b: the token-set
    intersection size ``i`` of each pair that shares a token and the
    two set sizes — the relation every overlap score is a function of.
    Tokens are words, or character ``ngram``-shingles when set.

    Without ``candidates`` this is the quadratic verification path
    (inverted-index self-join on tokens) — correct but only for small
    slices or verification. With ``candidates`` (e.g. from
    minhash_lsh_candidates) the intersection is PAIR-DRIVEN: each
    candidate pair joins its a-side word set, then keeps the words the
    b-side also has ((id_b, word) equi-join) — cost is
    |pairs| x avg-doc-words, LINEAR in the candidate count. The
    word-keyed inverted-index join would instead pay sum over tokens
    of (docs containing it)^2 — a hot token shared by N candidate
    docs costs N^2 rows no matter how few pairs LSH emitted, the
    classic stopword blow-up this path exists to avoid. The candidate
    set is unbounded on a duplicate-heavy corpus, so it is never
    broadcast (plain shuffled hash joins, AQE skew-splittable).
    """
    if ngram is not None:
        words = tokenize_char_ngrams(df, text_col, id_col, n=ngram)
    else:
        words = tokenize_words(df, text_col, id_col)
    if candidates is not None:
        # canonicalize ONCE and hang both consumers off it (r16): the
        # candidate relation is typically a deep LSH pipeline, and the
        # previous shape referenced it 3x (two union legs + the
        # canonical driving side) — a ~4300-line logical plan that
        # Catalyst re-analyzed per op. Deriving the id set from the
        # canonical relation via one explode cuts that to 2 references
        # AND makes the pair-keyed dedup exchange the shared subtree
        # under both consumers (exchange reuse: one shuffle write).
        # Same id set for the semi-join: canonicalization only drops
        # self-pairs, and a doc appearing ONLY in self-pairs can never
        # reach `inter` (which drives from the canonical relation).
        cand = _canonical_pairs(candidates)
        cand_ids = (
            cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
            .distinct()
        )
        words = words.join(cand_ids, on=id_col, how="left_semi")
    sizes = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        wa = words.select(F.col(id_col).alias("id_a"), "word")
        wb = words.select(F.col(id_col).alias("id_b"), "word")
        inter = (
            # canonicalized pair relation is the driving side: a
            # duplicated/reversed candidate pair would otherwise
            # multiply its intersection count — one cheap pair-keyed
            # shuffle buys correctness under any caller
            cand
            .join(wa, "id_a")
            .join(wb, ["id_b", "word"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("i"))
        )
    else:
        a = words.alias("a")
        b = words.alias("b")
        inter = (
            a.join(
                b,
                on=[
                    F.col("a.word") == F.col("b.word"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("i"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    ngram: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard similarity for pairs above ``threshold``:
    |A∩B| / |A∪B| over the pairs :func:`_overlap_counts` builds (words,
    or character ``ngram``-shingles when set; restricted to
    ``candidates`` when given, pair-driven and linear in their count).
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    return (
        _overlap_counts(df, text_col, id_col, candidates, ngram)
        .withColumn(
            "jaccard",
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    candidates: DataFrame | None = None,
    ngram: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-containment pairs: |A∩B| / min(|A|, |B|) >=
    ``threshold`` — catches "doc B is doc A plus a header" and
    quote-heavy subsets that symmetric Jaccard misses (a 30-token doc
    fully inside a 300-token doc has Jaccard 0.1 but containment 1.0).
    Same tokens, candidate restriction and scale posture as
    :func:`jaccard_pairs` (both score :func:`_overlap_counts`). (Use
    LSH candidates at scale — one-sided containment also collides in
    MinHash buckets when the smaller side dominates a band.)

    Returns (id_a, id_b, containment) with id_a < id_b; the score is
    the containment of the SMALLER token set in the larger.
    """
    return (
        _overlap_counts(df, text_col, id_col, candidates, ngram)
        .withColumn(
            "containment", F.col("i") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", F.round("containment", 4).alias("containment")
        )
    )


def lsh_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) LSH index rows for a document set — the
    MATERIALIZABLE half of near-dup detection. In continuous ingestion
    this table is written to parquet once per corpus and APPENDED per
    accepted batch, so each new batch probes the corpus in one
    equi-join instead of re-hashing 100 TB of history. Bucket ids are
    the full md5-portable :func:`_band_buckets` strings
    (oracle-identical)."""
    buckets = _band_buckets(num_hashes, bands)
    sig = minhash_signatures(df, text_col, id_col, num_hashes)
    entries = [
        F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        for b, bucket in enumerate(buckets)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def materialize_lsh_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table: str,
    num_hashes: int = 16,
    bands: int = 4,
    num_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Materialize :func:`lsh_index` hash-BUCKETED on (band, bucket)
    and return the re-read table.

    This is the production layout for the continuous-ingest corpus
    index: because the physical bucketing matches the probe join's
    keys, every :func:`incremental_near_dup` probe plans with NO
    Exchange on the index side — the 100 TB corpus index is never
    reshuffled per arriving batch; only the (small) batch-side index
    moves. Within-bucket sortBy(band, bucket) also lets the sort-merge
    join skip the index-side sort. ``mode='append'`` adds an accepted
    batch's rows to the same bucket layout (``write_bucketed`` reads
    the stored bucket spec and location), which is the per-batch index
    maintenance step. Size ``num_buckets`` so one bucket of the full corpus index
    fits an executor (thousands at 100 TB, not 32).
    """
    from dataprocessingframework_spark.sources.bucketed import (
        write_bucketed,
    )

    idx = lsh_index(df, text_col, id_col, num_hashes, bands)
    write_bucketed(
        idx,
        table,
        ["band", "bucket"],
        num_buckets=num_buckets,
        sort_cols=["band", "bucket"],
        path=path,
        mode=mode,
    )
    return df.sparkSession.table(table)


def incremental_near_dup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Drop batch docs that NEAR-duplicate the corpus — the fuzzy twin
    of :func:`incremental_dedup` (which is exact-key only): batch LSH
    buckets probe the (materialized) corpus index, the candidate pairs
    are verified with exact Jaccard, and any batch doc with a verified
    match >= threshold is dropped.

    Scale shape: the corpus is touched only through its index
    (``corpus_index``, normally a parquet table appended per batch —
    recomputed here when not supplied) and through the verification
    texts of CANDIDATE docs only (semi-joined down inside
    jaccard_pairs). Shuffle volume is batch-sized plus the collided
    candidates, never corpus-sized. Within-batch near-dups are NOT
    removed here — run minhash_lsh_candidates on the batch for that.

    PRECONDITION: batch and corpus id spaces must be disjoint (the
    normal case for ingest ids). A shared id would form a degenerate
    (x, x) pair that the verifier's canonicalization silently drops —
    so it is checked, not assumed.
    """
    overlap = batch.select(id_col).join(
        corpus.select(id_col), on=id_col, how="left_semi"
    )
    if overlap.limit(1).count() > 0:
        raise ValueError(
            "incremental_near_dup requires disjoint batch/corpus ids; "
            f"found shared {id_col} values (e.g. "
            f"{[r[0] for r in overlap.limit(3).collect()]})"
        )
    if corpus_index is None:
        corpus_index = lsh_index(corpus, text_col, id_col, num_hashes, bands)
    bidx = lsh_index(batch, text_col, id_col, num_hashes, bands)
    # raw (batch, corpus) pairs: jaccard_pairs orders and dedups them
    cand = (
        bidx.alias("b")
        .join(corpus_index.alias("c"), ["band", "bucket"])
        .select(
            F.col(f"b.{id_col}").alias("id_a"), F.col(f"c.{id_col}").alias("id_b")
        )
    )
    docs = batch.select(F.col(id_col), F.col(text_col)).unionByName(
        corpus.select(F.col(id_col), F.col(text_col))
    )
    pairs = jaccard_pairs(
        docs, text_col, id_col, threshold=threshold, candidates=cand
    )
    matched = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
        .join(batch.select(id_col), on=id_col, how="left_semi")
    )
    return batch.join(matched, on=id_col, how="left_anti")
