"""All-pairs set-similarity join with prefix filtering (PPJoin-style,
Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08).

The MinHash/LSH dedup family (operators/dedup.py) finds near-dup
CANDIDATES probabilistically; this operator is the EXACT all-pairs
join: every document pair whose shingle-set Jaccard >= t, no false
negatives, no sketch error.  The trick that makes exact all-pairs
feasible at scale is the prefix filter: order every document's shingle
set by ascending global document frequency (rarest first) and keep
only the first L - ceil(t*L) + 1 shingles; any pair with Jaccard >= t
provably shares at least one PREFIX shingle, so candidate generation
is an equi-join on prefix shingles — never doc x doc — and the fan-out
concentrates on RARE shingles (the frequent ones sit past every
prefix, which is exactly what kills the hot-key blowup a naive
shingle-join suffers).

Everything is integer-exact: the threshold test is
T_DEN * |A∩B| >= T_NUM * |A∪B|, prefix lengths use integer
ceil-division, and the reported jaccard_ppm is an integer division —
so the DuckDB brute-force oracle (which computes ALL O(N^2) pairs and
filters) must match bit-for-bit, proving the filter lossless.

Scale posture (100 TB):
- one scan -> shingle arrays (materialized once, house rule);
- document frequencies: one groupBy on shingle (map-side combined);
- prefix candidate join: equi-join on (shingle), quadratic only within
  a shingle's PREFIX occurrence list;
- verification re-reads only candidate docs' arrays (two hash joins)
  and is a pure array_intersect — no re-shingling, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .dedup import _duck_shingles, _spark_shingles, _SPARK_WORDS

# Jaccard threshold t = T_NUM / T_DEN = 0.5
T_NUM = 1
T_DEN = 2


def _setsim_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_num: int = T_NUM,
    t_den: int = T_DEN,
) -> tuple[DataFrame, DataFrame]:
    """The candidate-generation stages of ``setsim_join``, split out so
    the scale ledger (tools/count_setsim_candidates.py) can measure the
    pruned candidate cardinality — 3 slim bigints per row — without
    paying the array-verify join.  Returns ``(cand, ordered)``:
    ``cand`` = (da, db) pruned candidate pairs, ``ordered`` = per-doc
    df-ordered integer shingle-rank arrays for the verify stage.
    """
    from ..functions.global_rank import two_phase_row_number

    words = _SPARK_WORDS.replace("text", text_col)
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.expr(_spark_shingles(words=words)).alias("sh"),
    )
    tok = sh.select("doc", F.explode_outer("sh").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("dfr"))
    # canonical order: ascending (document frequency, shingle) — rarest
    # first, total and engine-independent.  Each shingle gets a DENSE
    # INTEGER id = its rank in that order (two-phase row_number: no
    # single-partition window, vocabulary-sized input).  The rank is a
    # bijection monotone in (dfr, s), so sorting by sid, prefix
    # selection, the candidate equi-join, and array_intersect sizes
    # are all IDENTICAL to the string formulation — but every
    # downstream shuffle ships packed bigint arrays instead of ~20x
    # wider string arrays, and the verify stage intersects ints (the
    # measured verify wall at sf1 was ~6x the candidate stages, all of
    # it array bytes).
    sids = two_phase_row_number(
        dfreq,
        order_by=[F.col("dfr"), F.col("s")],
        shard_key=F.col("dfr"),
        out_col="sid",
    ).select("s", "sid")
    # EAGER checkpoint: ordered is read FOUR times downstream (both
    # prefix sides + both verify sides) — materialize the shingle/
    # rank/collect subtree once instead of compiling it per reference
    # (the ml_kmeans_exact / dedup-verify precedent); also keeps the
    # two-phase rank's bounded offset window out of every downstream
    # compiled plan.  Eager, not lazy: the verify cogroup's two map
    # stages (pairs side, blocks side) are submitted CONCURRENTLY, and
    # with a lazy checkpoint both stages race to compute the subtree
    # before either stores it — measured ~2x the subtree wall at sf1.
    # Eager materialization is the same work, sequenced once.
    ordered = (
        tok.hint("merge").join(sids, "s")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list("sid")).alias("toks"))
        .select("doc", "toks", F.size("toks").alias("len"))
        .localCheckpoint(eager=True)
    )
    # prefix length = L - ceil(t*L) + 1 (integer ceil-division)
    plen = f"len - (len * {t_num} + {t_den} - 1) div {t_den} + 1"
    prefix = ordered.select(
        "doc",
        "len",
        F.posexplode_outer(F.expr(f"slice(toks, 1, {plen})")).alias("pos", "s"),
    )
    # merge hint: the prefix sides are EXPLODED from the corpus — the
    # estimator cannot see the fan-out, and a broadcast of a corpus-
    # sized side is the sf10 OOM class
    a, b = prefix.alias("a").hint("merge"), prefix.alias("b")
    # NOTE (r9): the classic per-occurrence PPJoin positional filter
    # (least(a.len - a.pos, b.len - b.pos) >= o) is deliberately NOT
    # applied inside the join anymore.  It measured ~zero selectivity
    # on this corpus (rare shingles sit EARLY in the df-ordered
    # prefix, so the remaining-suffix allowance is almost the whole
    # array), and dropping occurrence rows makes kpf an UNDERCOUNT of
    # the shared-prefix-token total — which is exactly the statistic
    # the generalized prefix-filter bound below needs to be exact.
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: J >= t forces t*max(la,lb) <= min(la,lb)
            & (F.expr(f"{t_den} * least(a.len, b.len) >= {t_num} * greatest(a.len, b.len)")),
        )
        .groupBy(
            F.col("a.doc").alias("da"),
            F.col("b.doc").alias("db"),
            F.col("a.len").alias("la2"),
            F.col("b.len").alias("lb2"),
        )
        .agg(
            F.count(F.lit(1)).alias("kpf"),
            F.max("a.pos").alias("mpa"),
            F.max("b.pos").alias("mpb"),
        )
        # Two LOSSLESS pair-level bounds gate the verify stage.  kpf is
        # now the EXACT shared-prefix-token count (tokens are distinct
        # within a doc, and no occurrence row is dropped pre-aggregate).
        #
        # (1) Suffix allowance: every shared shingle not counted in kpf
        #     sits strictly after (mpa, mpb) in BOTH df-ordered arrays
        #     (proof: a token in a's suffix ranks >= a's prefix
        #     boundary; if it sat at b-position < mpb it would rank
        #     below the mpb match token, which sits inside a's prefix —
        #     contradiction with the shared global order), so
        #     inter <= kpf + least(la-1-mpa, lb-1-mpb) and pairs that
        #     cannot reach o = ceil(t/(1+t)*(la+lb)) are dropped.
        #
        # (2) Generalized prefix-filtering principle (the k-extension
        #     of Xiao et al. WWW'08 Lemma 1): if |A∩B| >= o then the
        #     (|A|-o+k)-prefixes share >= k tokens.  Our stored prefix
        #     of A is its (la - o_a + 1)-prefix with o_a = ceil(t*la),
        #     i.e. the (la - o + k_a)-prefix for k_a = o - o_a + 1; the
        #     length filter guarantees o >= max(o_a, o_b), so with
        #     k = o - max(o_a, o_b) + 1 >= 1 the k-extended prefixes
        #     are sub-prefixes of the stored ones and a qualifying pair
        #     must share kpf >= k prefix tokens — not merely one.  At
        #     t=0.5 and equal lengths L this demands ~L/6 shared prefix
        #     tokens, which prunes the small-vocabulary candidate storm
        #     (pairs sharing 1-2 incidental shingles: ~3600x the true
        #     pair set at sf1) to output scale before any array moves.
        .where(
            F.expr(
                f"kpf + least(la2 - 1 - mpa, lb2 - 1 - mpb) >= "
                f"((({t_num} * (la2 + lb2)) + {t_num} + {t_den} - 1)"
                f" div ({t_num} + {t_den}))"
            )
            & F.expr(
                f"kpf >= ((({t_num} * (la2 + lb2)) + {t_num} + {t_den} - 1)"
                f" div ({t_num} + {t_den}))"
                f" - greatest((la2 * {t_num} + {t_den} - 1) div {t_den},"
                f" (lb2 * {t_num} + {t_den} - 1) div {t_den}) + 1"
            )
        )
        .select("da", "db")
    )
    return cand, ordered


# verify-stage doc blocking: candidate pairs meet both docs' shingle
# arrays inside a (block_a, block_b) cogroup, so each doc's array is
# shipped ONCE PER BLOCK (O(P * corpus) bytes) instead of once per
# candidate pair (O(candidates * doc bytes): at the sf10 profile that
# intermediate is ~193M pairs x two ~95-element bigint arrays ≈ 300 GB
# and killed the lane on spill disk).  P changes DISTRIBUTION only,
# never results, so it scales with session parallelism and is
# caller-overridable for clusters where the corpus-bytes-per-block
# budget, not core count, should set it.
SETSIM_VERIFY_BLOCKS_FLOOR = 8

# Verify-strategy gate (r9): when the pruned candidate set is small,
# joining both doc arrays onto the pairs directly is strictly cheaper
# than replicating the corpus P ways into the cogroup — the pair-side
# intermediate is O(candidates x doc bytes), which this bound caps at
# ~1.6 GB (1M pairs x two ~800 B arrays) BEFORE the plan is chosen (the
# candidate count is already paid: the slim pairs are checkpointed for
# the verify either way).  Above the bound — adversarial corpora where
# the prefix/positional bounds cannot prune — the blocked cogroup keeps
# array bytes corpus-linear.  A byte budget, not a core-count tunable:
# the same cap is safe on one executor or a thousand.
SETSIM_DIRECT_VERIFY_MAX_PAIRS = 1_000_000


def _setsim_verify_fn(t_num: int, t_den: int):
    """Per-cogroup verifier for the blocked verify path: build each
    block's doc-id -> (token set, len) lookup once, then test every
    candidate pair with a Python set intersection.  Module-level (not a
    closure inside ``setsim_join``) so tests can import and pin it
    directly against a brute-force reference."""

    def _verify(pair_pdf, block_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "da": pd.Series(dtype="int64"),
                "db": pd.Series(dtype="int64"),
                "inter": pd.Series(dtype="int32"),
                "uni": pd.Series(dtype="int32"),
            }
        )
        if not len(pair_pdf) or not len(block_pdf):
            return empty
        lookup: dict = {}
        sides = block_pdf["side"].to_numpy().tolist()
        docs = block_pdf["doc"].to_numpy().tolist()
        lens = block_pdf["len"].to_numpy().tolist()
        toks = block_pdf["toks"]
        a_docs: dict = {}
        b_docs: dict = {}
        for i in range(len(block_pdf)):
            d = docs[i]
            entry = lookup.get(d)
            if entry is None:
                # toks are ranks of array_distinct shingles, so a
                # Python set intersection length (C-level, iterates
                # the smaller operand) equals
                # size(array_intersect(a, b)) exactly
                entry = (set(np.asarray(toks.iloc[i]).tolist()), lens[i])
                lookup[d] = entry
            (a_docs if sides[i] == 0 else b_docs)[d] = entry
        out_da, out_db, out_inter, out_uni = [], [], [], []
        for da, db in zip(
            pair_pdf["da"].to_numpy().tolist(),
            pair_pdf["db"].to_numpy().tolist(),
        ):
            sa, la = a_docs[da]
            sb, lb = b_docs[db]
            inter = len(sa & sb)
            uni = la + lb - inter
            if t_den * inter >= t_num * uni:
                out_da.append(da)
                out_db.append(db)
                out_inter.append(inter)
                out_uni.append(uni)
        if not out_da:
            return empty
        return pd.DataFrame(
            {
                "da": np.asarray(out_da, dtype=np.int64),
                "db": np.asarray(out_db, dtype=np.int64),
                "inter": np.asarray(out_inter, dtype=np.int32),
                "uni": np.asarray(out_uni, dtype=np.int32),
            }
        )

    return _verify


def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_num: int = T_NUM,
    t_den: int = T_DEN,
    verify_blocks: int | None = None,
) -> DataFrame:
    """Exact self-join: all pairs with shingle Jaccard >= t_num/t_den.

    Returns (doc_a, doc_b, inter, uni, jaccard_ppm) with doc_a < doc_b,
    ordered by (doc_a, doc_b).  See module docstring for the plan.

    Verification (r8): the old shape joined BOTH full shingle-rank
    arrays onto every candidate row through two sort-merge joins — an
    O(candidates x doc bytes) shuffle that dies on disk when the
    prefix filter is unselective (small shingle vocabulary).  The
    blocked shape co-groups the slim (da, db) pairs and the doc arrays
    by (pmod(da, P), pmod(db, P)): the arrays relation is replicated P
    ways (corpus-linear bytes), and each group verifies its pairs in
    Python via a set intersection — toks are ranks of array_distinct
    shingles, so the count equals size(array_intersect(...)) exactly,
    and inter/uni/jaccard_ppm keep the identical integer arithmetic
    and output types (int, int, bigint).

    r9: the generalized prefix-filter bound in candidate generation
    prunes the candidate set to output scale on ordinary corpora, so
    the verify strategy is now COUNT-GATED: the slim pairs are
    checkpointed (the verify reads them either way), and when they
    number <= SETSIM_DIRECT_VERIFY_MAX_PAIRS the arrays are joined
    straight onto the pairs (JVM array_intersect, bounded pair-side
    bytes, no corpus replication); above the gate the blocked cogroup
    runs unchanged.  Both paths compute the identical integer
    arithmetic — pinned by tests on the same inputs.

    Eager at construction: calling this function runs Spark jobs. The
    candidate pipeline executes (``localCheckpoint(eager=True)`` plus
    a ``count()``) before the DataFrame is returned, even when the
    caller only wants a plan (EXPLAIN, plan capture). The returned
    plan depends on the data, because the count picks the verify path.
    The checkpointed pairs have no lineage: losing an executor that
    holds them fails the query instead of recomputing it."""
    import math

    cand, ordered = _setsim_candidates(df, id_col, text_col, t_num, t_den)
    # the verify stage consumes the pairs no matter the strategy; the
    # count that picks the strategy is a metadata read of this store
    cand = cand.localCheckpoint(eager=True)
    n_cand = cand.count()
    if n_cand <= SETSIM_DIRECT_VERIFY_MAX_PAIRS:
        inter = "size(array_intersect(ta, tb))"
        va = ordered.select(
            F.col("doc").alias("da"), F.col("toks").alias("ta"),
            F.col("len").alias("la"),
        )
        vb = ordered.select(
            F.col("doc").alias("db"), F.col("toks").alias("tb"),
            F.col("len").alias("lb"),
        )
        # broadcast the gated slim pairs into the corpus scan (no
        # exchange over ordered); the second join's pair side carries
        # one array and is capped by the gate, the corpus side ships
        # each needed array once — merge, never broadcast, for the
        # corpus-sized side
        direct = (
            va.join(F.broadcast(cand), "da")
            .hint("merge")
            .join(vb, "db")
            .where(F.expr(f"{t_den} * {inter} >= {t_num} * (la + lb - {inter})"))
            .select(
                F.col("da").alias("doc_a"),
                F.col("db").alias("doc_b"),
                F.expr(inter).alias("inter"),
                F.expr(f"la + lb - {inter}").alias("uni"),
                # BIGINT before the multiply: in INT, inter >= 2148
                # overflows (an error under ANSI mode)
                F.expr(
                    f"CAST({inter} AS BIGINT) * 1000000 div (la + lb - {inter})"
                ).alias("jaccard_ppm"),
            )
            .orderBy("doc_a", "doc_b")
        )
        return direct
    spark = df.sparkSession
    if verify_blocks is None:
        # ceil(sqrt(2 * cores)): 64+ cogroup keys on a 32-core session
        verify_blocks = max(
            SETSIM_VERIFY_BLOCKS_FLOOR,
            math.isqrt(2 * spark.sparkContext.defaultParallelism - 1) + 1,
        )
    p_blocks = int(verify_blocks)
    pairs = cand.select(
        "da",
        "db",
        F.pmod(F.col("da"), F.lit(p_blocks)).alias("pa"),
        F.pmod(F.col("db"), F.lit(p_blocks)).alias("pb"),
    )

    # replicate each doc's array to every block-pair row/column that
    # may need it: side 0 rows serve da lookups, side 1 rows db — an
    # explode of a P-literal array, never a join
    def _others():
        return F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(p_blocks)])
        )

    side_a = ordered.select(
        F.pmod(F.col("doc"), F.lit(p_blocks)).alias("pa"),
        _others().alias("pb"),
        F.lit(0).alias("side"),
        "doc",
        "toks",
        "len",
    )
    side_b = ordered.select(
        _others().alias("pa"),
        F.pmod(F.col("doc"), F.lit(p_blocks)).alias("pb"),
        F.lit(1).alias("side"),
        "doc",
        "toks",
        "len",
    )
    blocks = side_a.unionByName(side_b)

    _verify = _setsim_verify_fn(t_num, t_den)
    verified = (
        pairs.groupby("pa", "pb")
        .cogroup(blocks.groupby("pa", "pb"))
        .applyInPandas(_verify, schema="da long, db long, inter int, uni int")
    )
    return (
        verified.select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "inter",
            "uni",
            F.expr("CAST(inter AS BIGINT) * 1000000 div uni").alias("jaccard_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 2,
    block_cols: tuple = (),
) -> DataFrame:
    """Exact edit-distance self-join: every pair of rows (within
    identical ``block_cols`` values) whose ``str_col`` values are
    within levenshtein distance ``max_dist`` — candidate generation by
    the PassJoin segment pigeonhole (Li/Deng/Feng, VLDB'11), never
    row x row.

    Pigeonhole: partition each string into d+1 contiguous segments; if
    lev(a, b) <= d, at most d segments of ``a`` are touched by edits,
    so at least one segment survives VERBATIM as a substring of ``b``,
    shifted by at most the d indels that precede it.  Candidate
    generation is therefore an equi-join on
    (block, source-length L, segment index i, segment text): the index
    side emits each string's d+1 exact segments; the probe side emits,
    for every candidate source length L = len + k and every position
    shift delta, the substring the pigeonhole would have to hit.  The
    (k, i, delta) probe space is pruned by indel balance — the shift
    before the preserved segment needs >= |delta| indels and the
    remaining length difference (M-L) - delta needs >= |(M-L) - delta|
    indels after it, so their sum cannot exceed d — leaving 39 probes
    per row at d=2 (constant: the work is LINEAR in rows) with join
    keys carrying full segment-text entropy.  This replaced a
    (p_type, p_size) blocking join whose in-block pair count grew
    quadratically (10x-data slope 8.1 in the r5 BENCH_SCALE).

    Verification is one thresholded ``levenshtein(a, b, d)`` (early
    exit above d) per DISTINCT candidate pair.  Lossless — no false
    negatives, by the pigeonhole argument; the brute-force DuckDB
    oracle for ``fuzzy_part_match`` pins that cross-engine at every
    SF.  Returns (id_a, id_b, edit_dist) with id_a < id_b.
    """
    d = max_dist
    n_seg = d + 1
    blocks = list(block_cols)
    base = df.where(F.col(str_col).isNotNull()).select(
        *blocks,
        F.col(id_col).alias("_id"),
        F.col(str_col).alias("_s"),
        F.length(str_col).alias("_l"),
    )

    # index side: the d+1 exact segments of each string (segment i of a
    # length-L string spans [floor((i-1)L/(d+1)), floor(iL/(d+1))))
    seg_structs = []
    for i in range(1, n_seg + 1):
        start = F.floor(F.lit(i - 1) * F.col("_l") / n_seg).cast("int")
        end = F.floor(F.lit(i) * F.col("_l") / n_seg).cast("int")
        seg_structs.append(
            F.struct(
                F.lit(i).alias("i"),
                F.col("_l").cast("int").alias("L"),
                F.col("_s").substr(start + F.lit(1), end - start).alias("seg"),
            )
        )
    index = base.select(
        *blocks,
        F.col("_id").alias("_ida"),
        F.col("_s").alias("_sa"),
        F.explode(F.array(*seg_structs)).alias("k"),
    ).select(*blocks, "_ida", "_sa", "k.i", "k.L", "k.seg")

    # probe side: explode a LITERAL (k, i, delta) combo array first so
    # the plan compiles ONE shared substring expression instead of 39
    # inline branches (codegen stays small; runtime work is identical)
    combos = [
        (k, i, delta)
        for k in range(-d, d + 1)
        for i in range(1, n_seg + 1)
        for delta in range(-d, d + 1)
        if abs(delta) + abs(-k - delta) <= d
    ]
    combo_arr = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"), F.lit(i).alias("i"), F.lit(dl).alias("dl")
            )
            for k, i, dl in combos
        ]
    )
    _L = (F.col("_l") + F.col("c.k")).cast("int")
    _start0 = F.floor((F.col("c.i") - 1) * _L / n_seg).cast("int")
    _end0 = F.floor(F.col("c.i") * _L / n_seg).cast("int")
    _p = _start0 + F.col("c.dl")
    probes = (
        base.select(
            *blocks,
            F.col("_id").alias("_idb"),
            F.col("_s").alias("_sb"),
            "_l",
            F.explode(combo_arr).alias("c"),
        )
        .where((_L >= 0) & (_p >= 0) & (_p + (_end0 - _start0) <= F.col("_l")))
        .select(
            *blocks,
            "_idb",
            "_sb",
            F.col("c.i").alias("i"),
            _L.alias("L"),
            F.col("_sb").substr(_p + F.lit(1), _end0 - _start0).alias("seg"),
        )
    )
    # per-row duplicate probes (clipped/empty segments) survive here;
    # verification runs BEFORE the pair-level dedup so the distinct()
    # shuffle carries only VERIFIED pairs (output-sized), never the
    # candidate set: a hot (block, i, L, seg) key — strings sharing a
    # long common suffix — makes candidates quadratic while the
    # thresholded levenshtein (early exit above d, O(d*len) per call)
    # kills them map-side; re-verifying a pair once per matching
    # segment combo costs a bounded constant (<= the 39-probe space),
    # the candidate-sized exchange cost O(pairs * |s|) bytes
    cand = (
        index.hint("merge").join(probes, [*blocks, "i", "L", "seg"])
        .where(F.col("_ida") < F.col("_idb"))
        .select("_ida", "_idb", "_sa", "_sb")
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("_sa", "_sb", d))
        .where(F.col("edit_dist") >= 0)
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            "edit_dist",
        )
        .distinct()
    )


def similar_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with word-3-gram-shingle Jaccard >= 0.5 over
    the documents table — the exact-recall face of dedup_minhash."""
    return setsim_join(load_table(spark, "documents", sf_dir))


def _setsim_oracle_sql() -> str:
    """Brute-force DuckDB oracle: ALL pairs, same shingles, same
    integer threshold — any pair the prefix filter dropped would
    surface here as a hash mismatch."""
    return f"""
        WITH toks AS (
            SELECT doc_id, {_duck_shingles()} AS sh
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.sh, b.sh)) AS inter,
                   len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(inter AS INTEGER) AS inter,
               CAST(uni AS INTEGER) AS uni,
               CAST(inter * 1000000 // uni AS BIGINT) AS jaccard_ppm
        FROM pairs
        WHERE {T_DEN} * inter >= {T_NUM} * uni
        ORDER BY doc_a, doc_b
    """


QUERIES = {
    "similar_doc_pairs": similar_doc_pairs,
}

ORACLE_SQL: dict[str, str] = {
    "similar_doc_pairs": _setsim_oracle_sql(),
}
