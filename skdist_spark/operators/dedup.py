"""Deduplication operators over the documents corpus — exact, MinHash
+LSH, SimHash, blocked n-gram Jaccard, and embedding-cosine near-dup.

Text variants are pure Spark SQL expressions (md5, higher-order array
functions) — no Python in the hot path — so Catalyst keeps pushdown /
codegen; the embedding variant is blocked-GEMM numpy over Arrow
(``mapInPandas``), the right tool for dense vector math. Every
operator has a value-identical DuckDB oracle.

Cross-engine determinism notes:
- hashes are md5 hex strings (identical in Spark and DuckDB); MinHash
  minimums are *string* minimums over hex — total order, no float
  involvement;
- Jaccard = int-size intersect / int-size union in double: one
  division, bit-identical;
- the LSH candidate join is an equi-join on (band_idx, band_hash) —
  at 100 TB this is a shuffle join on a short key, never a cross join.

Scale posture: N_HASHES/BANDS are deliberately small (8/4) — banding
with r=2 rows/band targets ~Jaccard>=0.5 candidates with high recall;
the verify step computes exact Jaccard only on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .similarity import _fold_dot, _fold_norms

N_HASHES = 8
N_BANDS = 4  # rows per band = 2
SHINGLE = 3  # word n-gram size
JACCARD_THRESHOLD = 0.5
BLOCK_JACCARD_THRESHOLD = 0.2
COSINE_THRESHOLD = 0.45  # calibrated: max pair cosine in testdata ~0.6

# shared SQL fragments (Spark and DuckDB spellings of the same thing)
_SPARK_WORDS = "filter(split(trim(text), '\\\\s+'), x -> x != '')"
_DUCK_WORDS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"


def _let(expr: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``expr`` ONCE per row and reference it
    as ``var`` inside ``body`` (the transform-over-singleton-array
    trick).  Catalyst's CollapseProject inlines upstream projection
    columns into higher-order-function lambdas, and whole-stage codegen
    cannot hoist them back out (subexpression elimination does not
    reach inside HOF lambdas) — so an aliased regex split referenced in
    a per-element lambda re-runs once per element unless let-bound
    (measured 169 s -> 18 s on the sf1 minhash verify stage)."""
    return f"transform(array({expr}), {var} -> {body})[0]"


def _spark_shingles(words: str = _SPARK_WORDS, n: int = SHINGLE) -> str:
    """3-gram shingle array with the words array let-bound (see _let)."""
    inner = (
        f"array_distinct(transform(sequence(1, greatest(size(__wd) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(__wd, i, {n}))))"
    )
    return _let(words, "__wd", inner)


def _duck_shingles(words: str = _DUCK_WORDS, n: int = SHINGLE) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(len({words}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string(({words})[i:i+{n - 1}], ' ')))"
    )


N_SEEDS = N_HASHES // 4  # one md5 seed yields 4 independent 32-bit hashes


def _minhash_digest_exprs(shingles_expr: str, engine: str) -> list[str]:
    """Per-seed digest ARRAYS (materialized once per doc): each 128-bit
    md5 is later split into four non-overlapping 8-hex-char (32-bit)
    windows. Materializing the digest array is the key cost move — the
    naive form re-hashes every shingle inside each of the N_HASHES
    signature lambdas (N_HASHES x the digests; digests dominate MinHash
    cost at scale)."""
    if engine == "spark":
        return [
            f"transform({shingles_expr}, s -> md5(concat('{seed}:', s)))"
            for seed in range(N_SEEDS)
        ]
    return [
        f"list_transform({shingles_expr}, s -> md5('{seed}:' || s))"
        for seed in range(N_SEEDS)
    ]


def _minhash_sig_exprs(engine: str, digest_col: str = "h{seed}") -> list[str]:
    """N_HASHES min-hash signatures reading the pre-materialized digest
    arrays: min over 8-hex windows (string min over fixed-width
    lowercase hex == numeric min)."""
    out = []
    for k in range(N_HASHES):
        seed, win = divmod(k, 4)
        col = digest_col.format(seed=seed)
        lo = 1 + win * 8
        if engine == "spark":
            out.append(f"array_min(transform({col}, h -> substring(h, {lo}, 8)))")
        else:
            out.append(f"list_min(list_transform({col}, h -> h[{lo}:{lo + 7}]))")
    return out


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Generic exact dedup: canonical row per md5(text) group.

    Output: (id, text_hash, canonical_id, is_dup). At 100 TB this is
    one shuffle on a 128-bit key with map-side pre-aggregation.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash")
    return (
        df.withColumn("text_hash", F.md5(text_col))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .select(
            id_col,
            "text_hash",
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).alias("is_dup"),
        )
        .orderBy(id_col)
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: exact_dedup over the documents table."""
    return exact_dedup(load_table(spark, "documents", sf_dir))


def minhash_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Generic MinHash+LSH near-dup pairs over any (id, text) frame."""
    return _minhash_impl(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact shingle Jaccard.

    signature (8 md5 min-hashes over 3-gram shingles) -> 4 bands of 2
    -> equi-join on band hash -> exact Jaccard on candidates only.
    """
    return _minhash_impl(load_table(spark, "documents", sf_dir).select("doc_id", "text"))


def minhash_bands(docs: DataFrame) -> DataFrame:
    """LSH band keys (doc_id, band_idx, band_hash) for a (doc_id, text)
    frame — the shared candidate-generation stage of batch AND
    streaming MinHash dedup (pure column expressions, so it runs
    unchanged on a streaming DataFrame).
    """
    # materialize the WORD ARRAY as a column before shingling: inlining
    # the split into the shingle lambda re-executes the regex split per
    # shingle element (~50x per doc); then materialize shingles once so
    # every signature reads the column
    words_df = docs.select("doc_id", F.expr(_SPARK_WORDS).alias("wd"))
    sh_df = words_df.select(
        "doc_id", F.expr(_spark_shingles(words="wd")).alias("shingles")
    )
    digests = _minhash_digest_exprs("shingles", "spark")
    dig_df = sh_df.select(
        "doc_id",
        *[F.expr(d).alias(f"h{seed}") for seed, d in enumerate(digests)],
    )
    sigs = _minhash_sig_exprs("spark")
    with_sig = dig_df.select(
        "doc_id",
        *[F.expr(sigs[k]).alias(f"sig{k}") for k in range(N_HASHES)],
    )
    # slim band table: downstream joins shuffle only (doc_id, band) rows
    return with_sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        # 2 fixed-width sig windows concatenated ARE the
                        # band key — no digest needed on top
                        F.concat(F.col(f"sig{2 * b}"), F.col(f"sig{2 * b + 1}")).alias(
                            "band_hash"
                        ),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")


def _minhash_impl(docs: DataFrame) -> DataFrame:
    bands = minhash_bands(docs)
    # merge hint: broadcast would evaluate the signature subtree twice
    # (build + probe); sort-merge shuffles both sides on the band key
    # with identical child plans, letting the exchange be computed once
    a = bands.alias("a").hint("merge")
    b = bands.alias("b").hint("merge")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        # eager checkpoint: pairs feeds the final join AND (via
        # cand_ids) the shingle pass below; storing the slim id pairs
        # once keeps AQE's per-action re-planning from re-running the
        # band self-join per consumer
        .localCheckpoint(eager=True)
    )
    # exact-Jaccard verify shingles each DISTINCT candidate doc once
    # (the old per-pair-row spelling re-ran the split+shingle fold for
    # every pair a doc appears in — ~3x the corpus shingling cost at
    # sf1); the EAGER checkpoint shares the one candidate-shingle pass
    # between the two join sides, whose exchanges hash different keys
    # and can never be reused against each other.  Eager, not lazy:
    # the final join submits both sides' map stages CONCURRENTLY, and
    # a lazy checkpoint lets them race to compute this subtree (the
    # whole candidate pipeline) before either stores it — the setsim
    # verify measured ~2x the subtree wall from the same race.
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = (
        docs.join(cand_ids, "doc_id")
        .select("doc_id", F.expr(_spark_shingles()).alias("sh"))
        .localCheckpoint(eager=True)
    )
    sa = sh_cand.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh_cand.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def incremental_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup an INCOMING batch against an EXISTING corpus without
    re-processing old-vs-old — the production ingest pattern: at 100 TB
    the corpus is never re-deduped; each batch pays only its own cost.

    Two gates, both equi-joins keyed on bounded derived keys:
      1. exact — md5(text) anti-join against the corpus hash set;
      2. near-dup — the batch's LSH bands equi-join the corpus band
         index (``minhash_bands``; persist it bucketed on band_hash in
         production so ingest never re-shuffles the corpus), candidates
         verified with exact shingle Jaccard.

    Returns the surviving new docs (original columns). Intra-batch
    duplicates are the existing operators' job (exact_dedup /
    minhash_dedup) — run them first.
    """
    new = new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    old = existing_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    old_hashes = old.select(F.md5("text").alias("__h")).distinct()
    survivors = (
        new.withColumn("__h", F.md5("text"))
        .join(old_hashes, "__h", "left_anti")
        .drop("__h")
    )

    nb = (
        minhash_bands(survivors)
        .withColumnRenamed("doc_id", "new_id")
    )
    ob = minhash_bands(old).withColumnRenamed("doc_id", "old_id")
    cand = (
        nb.join(ob, ["band_idx", "band_hash"])
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )
    ta = survivors.select(F.col("doc_id").alias("new_id"), F.col("text").alias("text_a"))
    tb = old.select(F.col("doc_id").alias("old_id"), F.col("text").alias("text_b"))
    wa = "filter(split(trim(text_a), '\\\\s+'), x -> x != '')"
    wb = "filter(split(trim(text_b), '\\\\s+'), x -> x != '')"
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    near_dups = (
        cand.join(ta, "new_id")
        .join(tb, "old_id")
        .withColumn("wd_a", F.expr(wa))
        .withColumn("wd_b", F.expr(wb))
        .withColumn("sh_a", F.expr(_spark_shingles(words="wd_a")))
        .withColumn("sh_b", F.expr(_spark_shingles(words="wd_b")))
        .withColumn(
            "jaccard",
            inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("new_id")
        .distinct()
    )
    kept = survivors.join(
        near_dups, survivors.doc_id == near_dups.new_id, "left_anti"
    )
    return new_docs.join(
        kept.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "source",
) -> DataFrame:
    """Generic blocked n-gram Jaccard near-dup pairs."""
    return _ngram_jaccard_impl(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(block_col).alias("source"),
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard: all pairs within a blocking key
    (source), keep pairs over threshold. The block bounds the pair
    explosion at scale (per-block cartesian, shuffled on the key)."""
    return _ngram_jaccard_impl(load_table(spark, "documents", sf_dir))


def _ngram_jaccard_impl(raw: DataFrame) -> DataFrame:
    docs = (
        raw
        .select("doc_id", "source", F.expr(_SPARK_WORDS).alias("wd"))
        .select("doc_id", "source", F.expr(_spark_shingles(words="wd")).alias("sh"))
    )
    sizes = docs.select("doc_id", F.size("sh").alias("n_sh"))
    # inverted-index (sparse) similarity join: explode to postings,
    # equi-join on (source, shingle), count shared shingles per pair.
    # Only pairs with >=1 shared shingle ever materialize, and the join
    # is a shuffle on a short key — the shape that survives 100 TB,
    # unlike per-pair array intersections.
    # explode_OUTER: plain explode triggers InferFiltersFromGenerate,
    # which re-inlines the whole shingle expression into a pushed-down
    # size()>0 filter (re-splitting per row). Shingle arrays are never
    # empty (greatest(..,1)), so outer semantics are identical.
    postings = docs.select(
        "doc_id", "source", F.explode_outer("sh").alias("shingle")
    )
    # merge hint: exploded corpus sides must never be broadcast — the
    # estimator cannot see the explode fan-out (sf10 OOM class)
    a, b = postings.alias("a").hint("merge"), postings.alias("b")
    inter_counts = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter_counts.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= BLOCK_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _simhash_col_exprs(engine: str, bits: int = 16) -> str:
    """SimHash reading a pre-materialized token-DIGEST column ``hs``
    (one md5 per token, computed once; the naive form re-hashes every
    token inside each of the 16 bit-vote lambdas). Bit j votes +1 when
    the j-th hex nibble of the token digest has its high bit set."""
    terms = []
    for j in range(bits):
        if engine == "spark":
            hits = (
                f"size(filter(hs, h -> substring(h, {j + 1}, 1) IN"
                f" ('8','9','a','b','c','d','e','f')))"
            )
            votes = f"(2 * {hits} - size(hs))"
        else:
            hits = (
                f"len(list_filter(hs, h -> h[{j + 1}:{j + 1}] IN"
                f" ('8','9','a','b','c','d','e','f')))"
            )
            votes = f"(2 * {hits} - len(hs))"
        terms.append(f"(CASE WHEN {votes} > 0 THEN {2**j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Generic SimHash fingerprint dedup over any (id, text) frame."""
    return _simhash_impl(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint dedup: docs sharing a fingerprint
    form a duplicate group (canonical = min doc_id)."""
    return _simhash_impl(load_table(spark, "documents", sf_dir).select("doc_id", "text"))


def _simhash_impl(docs: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    # materialize tokens, then one md5 PER TOKEN; the 16 bit-vote
    # expressions read the digest column (inlining would re-split and
    # re-hash per bit — 32x the regex work, 16x the digests)
    words_df = docs.select("doc_id", F.expr(_SPARK_WORDS).alias("w"))
    dig_df = words_df.select(
        "doc_id", F.expr("transform(w, t -> md5(t))").alias("hs")
    )
    sim = dig_df.select(
        "doc_id", F.expr(_simhash_col_exprs("spark")).cast("long").alias("simhash")
    )
    w = Window.partitionBy("simhash")
    return (
        sim.withColumn("canonical_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "simhash",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


EMB_BLOCK = 512  # rows per GEMM block


def embedding_dedup(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Generic embedding-cosine near-dup pairs over any (id, vector)
    frame (see dedup_embedding for the plan shape)."""
    return _embedding_impl(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold over all pairs.

    Dense linear algebra is the one dedup where SQL expressions are the
    wrong tool (interpreted per-element lambdas: ~100x slower than
    Arrow+numpy), so this operator uses the blocked-GEMM distribution
    pattern: vectors are grouped into EMB_BLOCK-row blocks, the
    upper-triangle of block PAIRS becomes the task list, and each task
    computes its (block_a x block_b) cosine tile inside ``mapInPandas``
    — vectorized numpy, no driver collect, shuffle volume O(N * N/B).
    The all-pairs exactness is inherent (this is the small-N verifier;
    the 100 TB screening path is the LSH/IVF bucketed operators).

    Determinism: the tile is similarity's left-fold kernel
    (``_fold_norms``, ``_fold_dot``): it accumulates one DIMENSION at a
    time (64 vectorized outer-product adds), which reproduces the
    strict left-fold summation of the DuckDB oracle's list_sum
    bit-for-bit — same floats, same hash, while being plain numpy
    inside.
    """
    return _embedding_impl(load_table(spark, "embeddings", sf_dir))


def _embedding_impl(raw: DataFrame) -> DataFrame:
    import pandas as pd

    emb_raw = raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    blocks = (
        emb_raw.withColumn("blk", (F.col("vec_id") / F.lit(EMB_BLOCK)).cast("long"))
        .groupBy("blk")
        .agg(
            F.collect_list(F.struct("vec_id", "v")).alias("rows"),
        )
    )
    pairs = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.rows").alias("rows_a"),
            F.col("b.rows").alias("rows_b"),
            (F.col("a.blk") == F.col("b.blk")).alias("same_blk"),
        )
    )
    thr = COSINE_THRESHOLD

    def _tile(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for rows_a, rows_b, same in zip(
                pdf["rows_a"], pdf["rows_b"], pdf["same_blk"]
            ):
                ids_a = np.array([r["vec_id"] for r in rows_a], dtype=np.int64)
                ids_b = np.array([r["vec_id"] for r in rows_b], dtype=np.int64)
                A = np.array([r["v"] for r in rows_a], dtype=np.float64)
                B = np.array([r["v"] for r in rows_b], dtype=np.float64)
                # normalize, then one left-fold dot tile: the oracle's
                # op sequence (similarity's left-fold kernel)
                tile = _fold_dot(
                    A / _fold_norms(A)[:, None], B / _fold_norms(B)[:, None]
                )
                ia, ib = np.nonzero(
                    (tile >= thr) & (ids_a[:, None] < ids_b[None, :])
                )
                out_a.append(ids_a[ia])
                out_b.append(ids_b[ib])
                out_c.append(tile[ia, ib])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return pairs.mapInPandas(
        _tile, schema="vec_a long, vec_b long, cosine double"
    ).orderBy("vec_a", "vec_b")


SPAN_N = 5  # word n-gram size for duplicated-span statistics
SEMDEDUP_K = 8  # MINIMUM kmeans cells for semantic dedup
SEMDEDUP_ITERS = 3  # partition quality saturates fast; SemDeDup needs cells, not convergence
SEMDEDUP_FIT_N = 512  # minimum centroid-fit sample size (deterministic lowest-id rows)
# cells scale with the corpus so the EXPECTED CELL SIZE stays constant:
# with a fixed k, cells fatten linearly with data and the in-cell pair
# count grows quadratically (measured 10x-data slope 46 at the sf1
# profile before this); k = clamp(n / TARGET, 8, 65536) keeps
# sum_c |c|^2 linear in n.  The cap bounds the driver fit (4k x d
# sample) and the broadcast centroid table at ~16 MB for d = 64.
SEMDEDUP_TARGET_CELL = 256
SEMDEDUP_MAX_K = 65_536
# Driver-fit distance slabs are CHUNKED: at the 65,536-cell cap a dense
# (fit_n x k) float64 matrix would be fit_n*k*8 = n^2/2048 bytes (~137 GB
# at the cap) — the argmin therefore streams row blocks sized so each
# block's slab stays under this many float64 cells (128 MiB).
SEMDEDUP_ARGMIN_BUDGET = 1 << 24


def _lloyd_fit(x, k: int, iters: int, budget: int = SEMDEDUP_ARGMIN_BUDGET):
    """Driver-side Lloyd fit with O(fit_n*d + k*d) memory.

    Same math as ``clustering.dist_kmeans`` (lowest-id seeds, argmin
    assignment, mean update, empty cells keep their centroid) but the
    nearest-centroid assignment streams ROW BLOCKS — each block's
    (block x k) distance slab is bounded by ``budget`` float64 cells —
    and the mean update is a single scatter-add (``np.add.at``) +
    ``bincount``, never a per-cluster mask sweep.  Nothing of shape
    (fit_n x k) is ever materialized, so the fit survives the
    SEMDEDUP_MAX_K cell cap that a dense matrix cannot.
    """
    import numpy as np

    centroids = x[: min(k, len(x))].copy()
    kk = len(centroids)
    block = max(1, int(budget) // max(kk, 1))
    assign = np.zeros(len(x), dtype=np.int64)
    for _ in range(iters):
        c_sq = (centroids * centroids).sum(axis=1)
        for s in range(0, len(x), block):
            xb = x[s : s + block]
            d2 = (
                (xb * xb).sum(axis=1)[:, None]
                - 2.0 * (xb @ centroids.T)
                + c_sq[None, :]
            )
            assign[s : s + len(xb)] = d2.argmin(axis=1)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, x)
        counts = np.bincount(assign, minlength=kk).astype(np.float64)
        new_c = centroids.copy()
        nz = counts > 0
        new_c[nz] = sums[nz] / counts[nz, None]
        done = float(np.abs(new_c - centroids).max()) < 1e-6
        centroids = new_c
        if done:
            break
    return centroids


def dup_span_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = SPAN_N
) -> DataFrame:
    """Duplicated-span statistics (exact-substring dedup at word-n-gram
    granularity, the Lee-et-al "Deduplicating Training Data" signal):
    for every document, how many of its word ``n``-gram occurrences
    also appear in at least one OTHER document.

    Plan: one scan -> positional n-grams exploded -> pre-aggregated per
    (doc, span) so the shuffle carries distinct spans per doc, not raw
    occurrences -> span document-frequency is a second aggregation over
    that same frame -> join back on the span key and fold per doc.  At
    100 TB the shuffled key is not the span text but a 64-bit slice of
    its md5 — ~half the bytes of a raw 5-word span, and both engines
    hash identically so the oracle contract is unchanged (a collision
    would merge span groups in BOTH engines the same way; at 2^64 it
    never matters in practice).
    """
    words = _SPARK_WORDS.replace("text", text_col)
    spans = _let(
        words,
        "__wd",
        f"transform(sequence(1, greatest(size(__wd) - {n - 1}, 1)),"
        f" i -> substring(md5(concat_ws(' ', slice(__wd, i, {n}))), 1, 16))",
    )
    occ = df.select(F.col(id_col), F.explode(F.expr(spans)).alias("span"))
    per_doc_span = occ.groupBy(id_col, "span").agg(F.count(F.lit(1)).alias("cnt"))
    span_df = per_doc_span.groupBy("span").agg(F.count(F.lit(1)).alias("nd"))
    return (
        per_doc_span.hint("merge").join(span_df, "span")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_fraction"),
        )
    )


def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated word-5-gram span fraction."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dup_span_stats(docs).orderBy("doc_id")


def remove_dup_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = SPAN_N
) -> DataFrame:
    """Duplicated-span REMOVAL (the rewrite `dup_span_stats` only
    measures): every token covered by a word ``n``-gram that also
    occurs in at least one OTHER document is dropped, and the cleaned
    token stream is re-assembled in order — the Lee-et-al
    "Deduplicating Training Data" exact-substring removal at word-gram
    granularity.

    Plan: one scan -> positional n-gram hashes -> span doc-frequency
    over distinct (doc, span) (map-side combinable) -> spans with
    nd >= 2 join back to their positions -> covered-position explode
    (bounded by n x matched spans, never by corpus size) -> anti-join
    against the positional token stream -> ordered re-assembly per doc
    (sort_array inside the aggregate, partition-order independent).
    Shuffle keys are the 64-bit span hash and the doc id — both
    bounded; nothing is quadratic.

    Output: (id, n_tokens, n_removed, clean_md5) with clean_md5 the
    md5 of the space-joined surviving tokens (md5('') when everything
    was removed or the doc was empty).
    """
    words = _SPARK_WORDS.replace("text", text_col)
    base = df.select(F.col(id_col).alias("doc_id"), F.expr(words).alias("wd"))
    t = base.select("doc_id", "wd", F.size("wd").alias("nw")).localCheckpoint()
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN nw >= {n} THEN transform(sequence(1, nw - {n - 1}),"
                f" i -> named_struct('start', i,"
                f" 'h', substring(md5(concat_ws(' ', slice(wd, i, {n}))), 1, 16)))"
                " ELSE array() END"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.start").alias("start"), F.col("g.h").alias("h"))
    dup = (
        grams.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    covered = (
        grams.hint("merge").join(dup, "h")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(start, start + {n - 1})")).alias("pos"),
        )
        .distinct()
    )
    toks = t.select(
        "doc_id", F.posexplode("wd").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr(
            "md5(concat_ws(' ', transform("
            "array_sort(collect_list(struct(pos, tok))), s -> s.tok)))"
        ).alias("clean_md5"),
    )
    return (
        t.select("doc_id", "nw")
        .join(agg, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.col("nw").cast("int").alias("n_tokens"),
            (F.col("nw") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
        )
    )


def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: duplicated word-5-gram span removal over the
    documents table."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return remove_dup_spans(docs).orderBy("doc_id")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: partition the embedding
    space with k-means, then compare pairs only WITHIN each cell.

    This is the screening-cost compromise between all-pairs exactness
    (``embedding_dedup``: O(N^2)) and sign-LSH recall: cost is
    O(sum_c |c|^2) and near-dup pairs are overwhelmingly co-located in
    a cell because near-identical vectors share a nearest centroid.
    Recall misses only pairs straddling a cell boundary — the
    documented trade of the SemDeDup paper.

    Plan: centroids fit on a bounded deterministic SAMPLE in driver
    numpy (the SemDeDup posture — cells only need to reflect density
    structure; the sample is O(SEMDEDUP_FIT_N x d) and the distributed
    alternative pays one job round per Lloyd iteration for no accuracy
    gain — ``clustering.dist_kmeans`` remains the corpus-scale fit),
    then ONE map-only assignment of the full corpus and an equi-join
    on the cell id — pair generation never leaves the cell, so the
    shuffle is bounded by cell sizes, not N^2.
    Returns (vec_a, vec_b, cluster, cosine).
    """
    from .clustering import kmeans_assign

    # The fit sample is bounded (SEMDEDUP_FIT_N rows) by design — cells
    # only need to reflect density structure — so run Lloyd DRIVER-side
    # in numpy instead of paying SEMDEDUP_ITERS distributed job rounds
    # on 512 rows (same posture as train_pq_codebooks; measured ~4 s of
    # pure job-launch overhead saved at sf0.1).  Same math as
    # dist_kmeans: lowest-id seeds, argmin assignment, mean update,
    # empty cells keep their centroid.
    import numpy as np

    if k is None:
        # constant expected cell size: k tracks the corpus (see
        # SEMDEDUP_TARGET_CELL) so in-cell pair counts stay linear
        n = df.count()
        k = int(min(max(SEMDEDUP_K, n // SEMDEDUP_TARGET_CELL), SEMDEDUP_MAX_K))
    fit_n = max(SEMDEDUP_FIT_N, 4 * k)
    sample = (
        df.select(id_col, vec_col).orderBy(id_col).limit(fit_n).toPandas()
    )
    x = np.vstack(sample[vec_col].to_numpy()).astype(np.float64)
    # Chunked fit: memory O(fit_n*d + k*d), never the dense (fit_n x k)
    # slab — at SEMDEDUP_MAX_K that slab would be ~137 GB of driver RAM.
    centroids = _lloyd_fit(x, k, SEMDEDUP_ITERS)
    assigned = kmeans_assign(df, centroids, id_col, vec_col).select(
        F.col(id_col), "cluster"
    )
    vecs = (
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
        .join(assigned, id_col)
    )

    def cell_pairs(pdf):
        # One cosine tile per cell instead of the within-cell self-join's
        # per-pair interpreted HOF dot, through similarity's left-fold
        # kernel (``_fold_norms`` then ``_fold_dot``, as in
        # dedup_embedding).  Floats are IDENTICAL, not approximately so:
        # the norm is the same left-fold sum of squares + one IEEE
        # divide, and the tile reproduces the zip_with left fold
        # bit-for-bit.  Row blocks bound the (block x cell) tile, so a
        # pathologically hot cell degrades to streaming, not OOM.
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.array([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
        m = len(V)
        V /= _fold_norms(V)[:, None]
        out_a, out_b, out_c = [], [], []
        step = max(1, (1 << 24) // max(m, 1))
        for s in range(0, m, step):
            Vb = V[s : s + step]
            tile = _fold_dot(Vb, V)
            ia, ib = np.nonzero(
                (tile >= threshold)
                & (ids[s : s + len(Vb), None] < ids[None, :])
            )
            out_a.append(ids[s + ia])
            out_b.append(ids[ib])
            out_c.append(tile[ia, ib])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a) if out_a else [],
                "vec_b": np.concatenate(out_b) if out_b else [],
                "cluster": pdf["cluster"].iloc[0],
                "cosine": np.concatenate(out_c) if out_c else [],
            }
        )

    return (
        vecs.groupBy("cluster")
        .applyInPandas(
            cell_pairs,
            schema="vec_a long, vec_b long, cluster int, cosine double",
        )
        .orderBy("vec_a", "vec_b")
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs over the embeddings table (rows-only:
    k-means isn't SQL; equivalence to the brute-force pair set
    restricted to shared cells is pytest-verified)."""
    return semantic_dedup(load_table(spark, "embeddings", sf_dir))


_DUCK_SH = _duck_shingles()
_DUCK_DIGESTS = _minhash_digest_exprs("sh", "duck")
_DUCK_SIGS = _minhash_sig_exprs("duck")

ORACLE_SQL: dict[str, str] = {
    "dedup_exact": """
        SELECT doc_id, md5(text) AS text_hash,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
               doc_id != MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        FROM documents
        ORDER BY doc_id
    """,
    "dedup_minhash": f"""
        WITH sh AS (
            SELECT doc_id, {_DUCK_SH} AS sh FROM documents
        ), dig AS (
            SELECT doc_id, sh,
                   {', '.join(f'{d} AS h{seed}' for seed, d in enumerate(_DUCK_DIGESTS))}
            FROM sh
        ), sig AS (
            SELECT doc_id, sh,
                   {', '.join(f'{s} AS sig{k}' for k, s in enumerate(_DUCK_SIGS))}
            FROM dig
        ), bands AS (
            SELECT doc_id, sh, band_idx,
                   CASE band_idx
                        {' '.join(f'WHEN {b} THEN sig{2 * b} || sig{2 * b + 1}' for b in range(N_BANDS))}
                   END AS band_hash
            FROM sig, UNNEST([{', '.join(str(b) for b in range(N_BANDS))}]) AS t(band_idx)
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        FROM pairs
        JOIN sh sa ON sa.doc_id = doc_a
        JOIN sh sb ON sb.doc_id = doc_b
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS (
            SELECT doc_id, source, {_DUCK_SH} AS sh FROM documents
        ), sizes AS (
            SELECT doc_id, len(sh) AS n_sh FROM sh
        ), postings AS (
            SELECT doc_id, source, unnest(sh) AS shingle FROM sh
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM postings a JOIN postings b
              ON a.source = b.source AND a.shingle = b.shingle
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= {BLOCK_JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "dedup_simhash": f"""
        WITH wt AS (
            SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
        ), dig AS (
            SELECT doc_id, list_transform(w, t -> md5(t)) AS hs FROM wt
        ), sim AS (
            SELECT doc_id, CAST({_simhash_col_exprs('duck')} AS BIGINT) AS simhash
            FROM dig
        )
        SELECT doc_id, simhash,
               MIN(doc_id) OVER (PARTITION BY simhash) AS canonical_id,
               doc_id != MIN(doc_id) OVER (PARTITION BY simhash) AS is_dup
        FROM sim
        ORDER BY doc_id
    """,
    "dedup_embedding": f"""
        WITH e0 AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), e1 AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM e0
        ), e AS (
            SELECT vec_id, list_transform(v, x -> x / nrm) AS v FROM e1
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) >= {COSINE_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
}

ORACLE_SQL["dup_ngram_spans"] = f"""
    WITH w AS (
        SELECT doc_id, {_DUCK_WORDS} AS wd FROM documents
    ), occ AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(wd) - {SPAN_N - 1}, 1) + 1),
                   i -> md5(array_to_string(wd[i:i+{SPAN_N - 1}], ' '))[1:16])) AS span
        FROM w
    ), pds AS (
        SELECT doc_id, span, COUNT(*) AS cnt FROM occ GROUP BY 1, 2
    ), sdf AS (
        SELECT span, COUNT(*) AS nd FROM pds GROUP BY 1
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_spans,
           ROUND(SUM(CASE WHEN nd >= 2 THEN cnt ELSE 0 END)::DOUBLE
                 / SUM(cnt), 6) AS dup_fraction
    FROM pds JOIN sdf USING (span)
    GROUP BY doc_id
    ORDER BY doc_id
"""

ORACLE_SQL["dedup_remove_spans"] = f"""
    WITH w AS (
        SELECT doc_id, {_DUCK_WORDS} AS wd FROM documents
    ), t AS (
        SELECT doc_id, wd, len(wd) AS nw FROM w
    ), grams AS (
        SELECT doc_id, i AS start,
               md5(array_to_string(wd[i:i+{SPAN_N - 1}], ' '))[1:16] AS h
        FROM t, unnest(range(1, greatest(nw - {SPAN_N - 1}, 0) + 1)) AS u(i)
    ), dup AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM grams)
        GROUP BY h HAVING COUNT(*) >= 2
    ), covered AS (
        SELECT DISTINCT g.doc_id, CAST(p AS BIGINT) AS pos
        FROM grams g JOIN dup USING (h),
             unnest(range(g.start, g.start + {SPAN_N})) AS pp(p)
    ), toks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, wd[CAST(i AS INT)] AS tok
        FROM t, unnest(range(1, nw + 1)) AS tt(i)
    ), kept AS (
        SELECT k.doc_id, k.pos, k.tok
        FROM toks k LEFT JOIN covered c
          ON k.doc_id = c.doc_id AND k.pos = c.pos
        WHERE c.pos IS NULL
    ), agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.nw AS INT) AS n_tokens,
           CAST(t.nw - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
           COALESCE(a.clean_md5, md5('')) AS clean_md5
    FROM t LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
"""

QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dup_ngram_spans": dup_ngram_spans,
    "dedup_remove_spans": dedup_remove_spans,
    "dedup_semantic": dedup_semantic,
}


# ---- Containment (quote / excerpt) detection -------------------------

CONTAIN_T_NUM = 4  # containment threshold 4/5 = 0.8
CONTAIN_T_DEN = 5


def containment_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Asymmetric near-dup detection: pairs where the SMALLER document's
    shingle set is >= 80% contained in the larger one's.

    Jaccard misses quotes and excerpts (a 50-shingle doc fully inside a
    1000-shingle doc has J ~= 0.05); containment |A∩B| / min(|A|,|B|)
    is the right signal for "B quotes A".  Same inverted-postings
    equi-join shape as the Jaccard impl — only pairs sharing a shingle
    materialize — with an integer-exact threshold test.
    Returns (doc_small, doc_large, n_inter, n_small, n_large,
    containment_ppm).
    """
    docs = df.select(
        F.col(id_col).alias("doc_id"), F.expr(_SPARK_WORDS.replace("text", text_col)).alias("wd")
    ).select("doc_id", F.expr(_spark_shingles(words="wd")).alias("sh"))
    sizes = docs.select("doc_id", F.size("sh").alias("n_sh"))
    postings = docs.select("doc_id", F.explode_outer("sh").alias("shingle"))
    # merge hint: exploded corpus sides must never be broadcast — the
    # estimator cannot see the explode fan-out (sf10 OOM class)
    a, b = postings.alias("a").hint("merge"), postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n_sh").alias("n_da"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n_sh").alias("n_db"))
    return (
        inter.join(sa, "da")
        .join(sb, "db")
        .where(
            F.expr(
                f"{CONTAIN_T_DEN} * n_inter >= {CONTAIN_T_NUM} * least(n_da, n_db)"
            )
        )
        .select(
            F.expr("CASE WHEN n_da < n_db OR (n_da = n_db AND da < db) THEN da ELSE db END").alias("doc_small"),
            F.expr("CASE WHEN n_da < n_db OR (n_da = n_db AND da < db) THEN db ELSE da END").alias("doc_large"),
            "n_inter",
            F.expr("least(n_da, n_db)").alias("n_small"),
            F.expr("greatest(n_da, n_db)").alias("n_large"),
            F.expr("CAST(n_inter * 1000000 div least(n_da, n_db) AS BIGINT)").alias("containment_ppm"),
        )
        .orderBy("doc_small", "doc_large")
    )


def doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: quote/excerpt pairs over the documents table."""
    return containment_pairs(load_table(spark, "documents", sf_dir))


ORACLE_SQL_CONTAINMENT = f"""
    WITH toks AS (
        SELECT doc_id, {_duck_shingles()} AS sh FROM documents
    ), pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               len(list_intersect(a.sh, b.sh)) AS n_inter,
               len(a.sh) AS n_da, len(b.sh) AS n_db
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) > 0
    )
    SELECT CASE WHEN n_da < n_db OR (n_da = n_db AND da < db) THEN da ELSE db END AS doc_small,
           CASE WHEN n_da < n_db OR (n_da = n_db AND da < db) THEN db ELSE da END AS doc_large,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(LEAST(n_da, n_db) AS INTEGER) AS n_small,
           CAST(GREATEST(n_da, n_db) AS INTEGER) AS n_large,
           CAST(n_inter * 1000000 // LEAST(n_da, n_db) AS BIGINT) AS containment_ppm
    FROM pairs
    WHERE {CONTAIN_T_DEN} * n_inter >= {CONTAIN_T_NUM} * LEAST(n_da, n_db)
    ORDER BY doc_small, doc_large
"""

QUERIES["doc_containment"] = doc_containment
ORACLE_SQL["doc_containment"] = ORACLE_SQL_CONTAINMENT


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
# MOSS algorithm).  Unlike the bottom-k sketch in text.fingerprint,
# winnowing gives a POSITIONAL guarantee: any shared word run of at
# least WINNOW_K + WINNOW_W - 1 words contributes at least one common
# fingerprint, so equi-joining on fingerprints finds every long-enough
# overlap.  Density is ~2/(w+1) of all k-grams, so the exploded
# fingerprint table is ~4x smaller than the full k-gram index.
#
# 100 TB posture: fingerprints are computed per-row with higher-order
# array functions (map-only, codegen'd, zero Python); candidate pairs
# come from an equi-join on the fingerprint value — the same
# band-join shape as MinHash LSH, never doc x doc.
# ---------------------------------------------------------------------------

WINNOW_K = 4  # words per k-gram (matches text.fingerprint shingling)
WINNOW_W = 8  # winnow window; guarantee length = K + W - 1 = 11 words


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    window: int = WINNOW_W,
) -> DataFrame:
    """(doc_id, fps array<string>): the distinct winnowing fingerprint
    set of each document.

    Fingerprint = the minimum md5(k-gram) in each sliding window of
    ``window`` consecutive k-gram hashes (string minimum over hex —
    total order, engine-independent).  Guarantee: two docs sharing a
    run of >= k + window - 1 words share >= 1 fingerprint.
    """
    # let-bind BOTH stages: CollapseProject merges the chained selects,
    # so without binding the kgram lambda re-splits the words per
    # element and the window lambda re-hashes the kgrams per window —
    # a words x kgrams x windows blowup
    kgrams = (
        f"transform(sequence(1, greatest(size(__wd) - {k - 1}, 1)),"
        f" i -> md5(concat_ws(' ', slice(__wd, i, {k}))))"
    )
    mins = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(__kg) - {window - 1}, 1)),"
        f" j -> array_min(slice(__kg, j, {window}))))"
    )
    fps = _let(_SPARK_WORDS, "__wd", _let(kgrams, "__kg", mins))
    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).select("doc_id", F.expr(fps).alias("fps"))


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    window: int = WINNOW_W,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing >= 1 winnowing
    fingerprint — the candidate set for overlap verification.

    Explode + self-equi-join on the fingerprint value: shuffle on a
    short hash key, identical scale shape to the MinHash band join.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, window).select(
        "doc_id", F.explode("fps").alias("fp")
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: per-doc winnowing fingerprint summary (count, min,
    order-insensitive digest) — value-identical in DuckDB because both
    engines take string-minimums over md5 hex."""
    fps = winnow_fingerprints(load_table(spark, "documents", sf_dir))
    return fps.select(
        "doc_id",
        F.expr("CAST(size(fps) AS INT)").alias("n_fingerprints"),
        F.expr("array_min(fps)").alias("min_fp"),
        F.expr("md5(concat_ws('', array_sort(fps)))").alias("fp_digest"),
    ).orderBy("doc_id")


ORACLE_SQL_WINNOWING = f"""
    WITH w AS (
        SELECT doc_id, {_DUCK_WORDS} AS wd FROM documents
    ), kg AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(wd) - {WINNOW_K - 1}, 1) + 1),
                              i -> md5(array_to_string(wd[i:i+{WINNOW_K - 1}], ' '))) AS kg
        FROM w
    ), fp AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(kg) - {WINNOW_W - 1}, 1) + 1),
                   j -> list_min(kg[j:j+{WINNOW_W - 1}]))) AS fps
        FROM kg
    )
    SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fingerprints,
           list_min(fps) AS min_fp,
           md5(array_to_string(list_sort(fps), '')) AS fp_digest
    FROM fp ORDER BY doc_id
"""

QUERIES["doc_winnowing"] = doc_winnowing
ORACLE_SQL["doc_winnowing"] = ORACLE_SQL_WINNOWING


def minhash_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Measure the MinHash-LSH candidate stage against exact all-pairs
    shingle Jaccard: one row of (n_truth, n_candidates, n_hits,
    precision_ppm, recall_ppm).  The standard banding-theory check —
    with 4 bands of r=2 a true Jaccard-0.5 pair is caught with
    1-(1-0.5^2)^4 ~ 73% per-band-independence probability, and this
    operator reports what the corpus actually delivers, so threshold /
    band-count tuning is measured rather than asserted.

    Ground truth enumerates pairs through the same inverted-index
    posting join the blocked-Jaccard operator uses (only co-shingled
    pairs materialize — never doc x doc), but UNBLOCKED, because LSH
    candidates are corpus-wide.  That makes this an EVAL operator: run
    it on a bounded sample (or one blocking partition) at 100 TB, then
    apply the tuned parameters corpus-wide; the production dedup path
    never pays the unblocked truth cost.

    Both ratios are FLOOR parts-per-million over exact integers, so
    the row is value-identical across engines (no double division).
    """
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # merge hint, as in _minhash_impl: sort-merge shuffles both sides on
    # the band key with identical child plans so the exchange (and the
    # expensive signature codegen) is computed once, instead of a
    # broadcast evaluating the subtree twice
    cand = (
        minhash_bands(d)
        .hint("merge")
        .alias("a")
        .join(
            minhash_bands(d).hint("merge").alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # EAGER checkpoint: the shingle pass feeds sizes (read twice via
    # sa/sb) AND both posting join sides — without it the split +
    # shingle fold re-ran per reference (snapshot: 6 FileScan / 4
    # Generate for dedup_minhash_eval).
    sh = (
        d.select("doc_id", F.expr(_SPARK_WORDS).alias("wd"))
        .select("doc_id", F.expr(_spark_shingles(words="wd")).alias("sh"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    postings = sh.select("doc_id", F.explode_outer("sh").alias("shingle"))
    # merge hint: exploded corpus sides must never be broadcast — the
    # estimator cannot see the explode fan-out (sf10 OOM class)
    a, b = postings.alias("a").hint("merge"), postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    # integer-exact threshold test: inter/union >= t  <=>  inter*SCALE >= union*(t*SCALE)
    scaled = int(round(threshold * 1000))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.col("n_inter") * 1000
            >= (F.col("na") + F.col("nb") - F.col("n_inter")) * scaled
        )
        .select("doc_a", "doc_b")
    )
    tagged = (
        truth.withColumn("in_truth", F.lit(1))
        .join(cand.withColumn("in_cand", F.lit(1)), ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.coalesce(F.sum("in_truth"), F.lit(0)).alias("n_truth"),
            F.coalesce(F.sum("in_cand"), F.lit(0)).alias("n_candidates"),
            F.coalesce(
                F.sum(F.col("in_truth") * F.col("in_cand")), F.lit(0)
            ).alias("n_hits"),
        )
    )
    return tagged.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.floor(F.lit(1000000) * F.col("n_hits") / F.greatest("n_candidates", F.lit(1)))
        .cast("bigint")
        .alias("precision_ppm"),
        F.floor(F.lit(1000000) * F.col("n_hits") / F.greatest("n_truth", F.lit(1)))
        .cast("bigint")
        .alias("recall_ppm"),
    )


def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: LSH candidate precision/recall on the documents
    corpus at the dedup threshold."""
    return minhash_eval(load_table(spark, "documents", sf_dir))


_MINHASH_EVAL_SCALED = int(round(JACCARD_THRESHOLD * 1000))

ORACLE_SQL_MINHASH_EVAL = f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SH} AS sh FROM documents
    ), dig AS (
        SELECT doc_id, sh,
               {', '.join(f'{d} AS h{seed}' for seed, d in enumerate(_DUCK_DIGESTS))}
        FROM sh
    ), sig AS (
        SELECT doc_id,
               {', '.join(f'{s} AS sig{k}' for k, s in enumerate(_DUCK_SIGS))}
        FROM dig
    ), bands AS (
        SELECT doc_id, band_idx,
               CASE band_idx
                    {' '.join(f'WHEN {b} THEN sig{2 * b} || sig{2 * b + 1}' for b in range(N_BANDS))}
               END AS band_hash
        FROM sig, UNNEST([{', '.join(str(b) for b in range(N_BANDS))}]) AS t(band_idx)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ), sizes AS (
        SELECT doc_id, len(sh) AS n_sh FROM sh
    ), postings AS (
        SELECT doc_id, unnest(sh) AS shingle FROM sh
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM postings a JOIN postings b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter * 1000 >= (sa.n_sh + sb.n_sh - n_inter) * {_MINHASH_EVAL_SCALED}
    ), tagged AS (
        SELECT COALESCE(SUM(in_truth), 0) AS n_truth,
               COALESCE(SUM(in_cand), 0) AS n_candidates,
               COALESCE(SUM(in_truth * in_cand), 0) AS n_hits
        FROM (SELECT doc_a, doc_b, 1 AS in_truth FROM truth) t
        FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS in_cand FROM cand) c
        USING (doc_a, doc_b)
    )
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(FLOOR(1000000.0 * n_hits / GREATEST(n_candidates, 1)) AS BIGINT) AS precision_ppm,
           CAST(FLOOR(1000000.0 * n_hits / GREATEST(n_truth, 1)) AS BIGINT) AS recall_ppm
    FROM tagged
"""

QUERIES["dedup_minhash_eval"] = dedup_minhash_eval
ORACLE_SQL["dedup_minhash_eval"] = ORACLE_SQL_MINHASH_EVAL


def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup savings report: how many docs (and chars) each
    source would lose to exact dedup, and how many of its docs sit in
    at least one MinHash near-dup pair — the "which source do we dedup
    first" planning table (a source with 30% duplicate bytes pays for
    a dedup pass; one with 0.1% doesn't).

    Exact side: the md5-window canonical flag weighted by n_chars.
    Near-dup side: distinct membership in the verified LSH pair set.
    Integer counts + FLOOR-ppm; one scan + the band equi-join.
    """
    docs = load_table(spark, "documents", sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text"))
    flagged = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )
    pairs = _minhash_impl(docs.select("doc_id", "text"))
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("near", F.lit(1))
    )
    return (
        flagged.join(members, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_exact_dups"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.when(F.col("is_dup"), F.col("n_chars")).otherwise(0)).alias(
                "dup_chars"
            ),
            F.coalesce(F.sum("near"), F.lit(0)).cast("bigint").alias("n_near_members"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dups",
            "sum_chars",
            "dup_chars",
            F.expr("(dup_chars * 1000000) div sum_chars").alias("dup_chars_ppm"),
            "n_near_members",
        )
        .orderBy("source")
    )


ORACLE_SQL["dedup_savings_by_source"] = f"""
    WITH sh AS (
        SELECT doc_id, {_DUCK_SH} AS sh FROM documents
    ), dig AS (
        SELECT doc_id, sh,
               {', '.join(f'{d} AS h{seed}' for seed, d in enumerate(_DUCK_DIGESTS))}
        FROM sh
    ), sig AS (
        SELECT doc_id, sh,
               {', '.join(f'{s} AS sig{k}' for k, s in enumerate(_DUCK_SIGS))}
        FROM dig
    ), bands AS (
        SELECT doc_id, sh, band_idx,
               CASE band_idx
                    {' '.join(f'WHEN {b} THEN sig{2 * b} || sig{2 * b + 1}' for b in range(N_BANDS))}
               END AS band_hash
        FROM sig, UNNEST([{', '.join(str(b) for b in range(N_BANDS))}]) AS t(band_idx)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sh sa ON sa.doc_id = doc_a
        JOIN sh sb ON sb.doc_id = doc_b
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              >= {JACCARD_THRESHOLD}
    ), members AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        )
    ), flagged AS (
        SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
               d.doc_id != MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) AS is_dup,
               m.doc_id IS NOT NULL AS near
        FROM documents d LEFT JOIN members m USING (doc_id)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN is_dup THEN n_chars ELSE 0 END) AS BIGINT) AS dup_chars,
           CAST((SUM(CASE WHEN is_dup THEN n_chars ELSE 0 END) * 1000000)
                // SUM(n_chars) AS BIGINT) AS dup_chars_ppm,
           CAST(SUM(CASE WHEN near THEN 1 ELSE 0 END) AS BIGINT) AS n_near_members
    FROM flagged GROUP BY source ORDER BY source
"""
QUERIES["dedup_savings_by_source"] = dedup_savings_by_source


# ---- integer-exact SemDeDup: the oracle face of dedup_semantic -----------

# 2^10 quantization (coarser than the 2^14 of ml_kmeans_exact) is what
# keeps EVERY pair statistic inside BIGINT: |q| <= 1024, so over d = 64
# dims dot <= 64 * 1024^2 ~= 6.7e7, dot^2 <= 4.5e15, 400 * dot^2 <=
# 1.8e18 and 81 * na2 * nb2 <= 3.6e17 — all < 2^63 (DuckDB BIGINT
# errors on overflow; Spark wraps silently: both are avoided by bound,
# the portability rule in the oracle-parity notes).
SDX_QUANT = 1_024  # 2^10: q = floor(e * 2^10) is exact (|e| < 1)
# MINIMUM cell count; like semantic_dedup, k tracks the corpus
# (k = max(SDX_K, n // SEMDEDUP_TARGET_CELL)) so in-cell pair counts
# stay LINEAR — a first cut pinned k = 8 and the sf1 scale profile
# measured slope 37 (13 s -> 499 s): 8 fixed cells make sum |c|^2
# quadratic.  The oracle recomputes the same k from COUNT(*) (the
# pack_chunks recipe), so the recurrence stays replayable.
SDX_K = 8
SDX_ROUNDS = 2  # fixed integer Lloyd rounds (cells, not convergence)
# COSINE_THRESHOLD = 0.45 exactly = 9/20: cos >= 9/20 on the quantized
# integers <=> dot >= 0 AND 400 * dot^2 >= 81 * na2 * nb2 (both sides
# nonnegative after the sign check), so the float threshold becomes a
# pure-integer predicate both engines evaluate identically.
SDX_THR_NUM, SDX_THR_DEN = 9, 20


def dedup_semantic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with ALL arithmetic in scaled integers — ORACLE-BACKED
    (r7): the quantized-Lloyd recipe that pinned ``ml_kmeans_exact``
    and ``ann_pq_exact``, applied to the within-cell cosine-pair face
    of ``semantic_dedup`` (the last big rows-only dedup operator).

    Fixed recurrence: q = floor(e * 2^10); cells from SDX_ROUNDS
    integer Lloyd rounds over the full corpus (lowest-id seeds, argmin
    with ties to the lowest cluster, floor(sum * 2^10 / n) refresh —
    ``clustering.exact_lloyd_assign``); pairs only WITHIN a cell, kept
    iff the quantized cosine >= 9/20 via the integer cross-product
    predicate.  Output (vec_a, vec_b, cluster, dot_q) is engine-exact.

    Scale posture: identical to ``semantic_dedup`` — per-round Lloyd
    work is one broadcast of the k-row centroid table + a map-side
    combining (cluster, dim) aggregation; pair generation is an
    equi-join on the cell id, never corpus x corpus, because k scales
    with the corpus (constant expected cell size) and the oracle
    recomputes the same k from COUNT(*).

    No reference counterpart (sk-dist has no dedup; net-new).
    """
    from .clustering import exact_lloyd_assign

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.expr(
            f"transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE)"
            f" * {SDX_QUANT}) AS BIGINT))"
        ).alias("q"),
    )
    # bounded driver action (one count), same posture as semantic_dedup
    k = max(SDX_K, emb.count() // SEMDEDUP_TARGET_CELL)
    vecs = exact_lloyd_assign(emb, k, SDX_ROUNDS).select(
        "vec_id", "q", "cluster"
    )

    thr2_num = SDX_THR_DEN * SDX_THR_DEN  # 400
    thr2_den = SDX_THR_NUM * SDX_THR_NUM  # 81

    def cell_pairs(pdf):
        # One integer Gram matrix per cell replaces the within-cell
        # self-join's per-pair interpreted HOF dot (the Arrow-GEMM
        # recipe from embedding_covariance).  int64 exact: |q| <= 2^10
        # and d = 64 give |dot| <= 2^26, so 400 * dot^2 <= 2^58 and
        # 81 * na2 * nb2 <= 2^59 — no overflow, every value identical
        # to the SQL expression's.  Cells are constant-expected-size by
        # the corpus-scaled k, so the per-group state is bounded.
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        Q = np.array([np.asarray(v) for v in pdf["q"]], dtype=np.int64)
        G = Q @ Q.T
        n2 = np.diag(G)
        ia, ib = np.triu_indices(len(ids), 1)  # vec_a < vec_b (sorted)
        dot = G[ia, ib]
        na2, nb2 = n2[ia], n2[ib]
        keep = (
            (dot >= 0)
            & (na2 > 0)
            & (nb2 > 0)
            & (thr2_num * dot * dot >= thr2_den * na2 * nb2)
        )
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cluster": pdf["cluster"].iloc[0],
                "dot_q": dot[keep],
            }
        )

    return (
        vecs.groupBy("cluster")
        .applyInPandas(
            cell_pairs,
            schema="vec_a long, vec_b long, cluster int, dot_q long",
        )
        .orderBy("vec_a", "vec_b")
    )


def _dedup_semantic_exact_oracle_sql(
    k_min: int = SDX_K, rounds: int = SDX_ROUNDS, quant: int = SDX_QUANT
) -> str:
    from .clustering import exact_lloyd_cte_parts

    # same corpus-scaled k as the Spark face, recomputed from the data
    k_sql = (
        f"(SELECT GREATEST({k_min}, COUNT(*) // {SEMDEDUP_TARGET_CELL})"
        " FROM q)"
    )
    parts = exact_lloyd_cte_parts(k_sql, rounds, quant=quant)
    return (
        "WITH " + ",\n".join(parts) + f""",
        v AS MATERIALIZED (
            SELECT vec_id, q, cluster,
                   CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
                       AS n2
            FROM a{rounds}
        )
        SELECT vec_a, vec_b, cluster, dot_q FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.cluster AS cluster,
                   CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                        i -> a.q[i] * b.q[i])) AS BIGINT) AS dot_q,
                   a.n2 AS na2, b.n2 AS nb2
            FROM v a JOIN v b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        )
        WHERE dot_q >= 0 AND na2 > 0 AND nb2 > 0
          AND {SDX_THR_DEN * SDX_THR_DEN} * dot_q * dot_q
              >= {SDX_THR_NUM * SDX_THR_NUM} * na2 * nb2
        ORDER BY vec_a, vec_b
    """
    )


QUERIES["dedup_semantic_exact"] = dedup_semantic_exact
ORACLE_SQL["dedup_semantic_exact"] = _dedup_semantic_exact_oracle_sql()
