"""Corpus language-model statistics for training-data curation.

CCNet-style quality filtering scores every document by its perplexity
under a language model trained on the corpus itself; documents far from
the corpus distribution (boilerplate, gibberish, wrong language) land
in the high-perplexity tail and get dropped or bucketed.  The classic
implementation uses a pretrained KenLM; here the LM is a smoothed
unigram model *estimated from the corpus in the same job*, which keeps
the whole operator inside Spark SQL (no model files, no Python in the
hot path) and is the standard first-pass proxy.

Scale posture (100 TB):
- One scan of ``documents``; the explode produces (doc, word) pairs
  which are immediately pre-aggregated per (doc, word) — the shuffled
  ``tf`` frame is bounded by distinct words per doc, not token count.
- Corpus counts are a second aggregation OVER the pre-aggregated frame
  (map-side combine twice).  The tf subtree appears three times in the
  lineage (join probe, corpus counts, totals) but AQE stage reuse
  collapses them to ONE physical shuffle — the final adaptive plan
  shows two ReusedExchange nodes, so the scan+explode runs once.
- The tf-to-corpus-count join shuffles on the word key; the count side
  is one row per word so AQE's skew-join handles hot words ("the").
  The vocabulary is NOT broadcast — at web scale it has billions of
  entries.
- The (N, V) totals are a one-row aggregate broadcast via cross join.

Both queries have value-identical DuckDB oracles; scores are rounded
to 6 decimals on both sides so double-summation order can't flip the
12-significant-digit hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table

_SPARK_WORDS = "filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')"
_DUCK_WORDS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')"

ADD_K = 0.5  # add-k (Lidstone) smoothing constant
VOCAB_TOP = 50  # vocab_coverage rows


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram counts: one row per distinct lowercased
    whitespace token with its total occurrence count.

    Two-stage aggregation (per-doc combine, then global) so the shuffle
    carries distinct (doc, word) pairs, not raw tokens.
    """
    words = _SPARK_WORDS.replace("text", text_col)
    exploded = df.select(F.explode(F.expr(words)).alias("word"))
    return exploded.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def doc_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = ADD_K,
) -> DataFrame:
    """Per-document cross-entropy under the corpus add-k unigram LM.

    p(w) = (c(w) + k) / (N + k*V) with c(w) the corpus count, N total
    tokens, V vocabulary size.  Returns one row per document with
    ``n_tokens``, ``avg_neg_logprob`` (nats/token) and ``perplexity``
    = exp(avg_neg_logprob); both rounded to 6 decimals.

    Every word present in a doc is by construction in the corpus vocab
    (the LM is trained on the same frame), so the tf-cf join is inner.
    """
    words = F.expr(_SPARK_WORDS.replace("text", text_col))
    # EAGER checkpoint: tf feeds cf, the totals (via cf), and the score
    # join — without it the token explode + (doc, word) aggregation ran
    # 3x per scoring pass.  One slim row per distinct (doc, word).
    tf = (
        df.select(F.col(id_col), F.explode(words).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    cf = tf.groupBy("word").agg(F.sum("tf").alias("cf"))
    totals = cf.agg(
        F.sum("cf").alias("n_corpus"), F.count(F.lit(1)).alias("v_vocab")
    )
    neg_lp = (
        f"-ln((cf + {add_k}) / (n_corpus + {add_k} * v_vocab))"
    )
    return (
        tf.join(cf, "word")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            (F.sum(F.expr(neg_lp) * F.col("tf")) / F.sum("tf")).alias("_h"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round("_h", 6).alias("avg_neg_logprob"),
            F.round(F.exp("_h"), 6).alias("perplexity"),
        )
    )


def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity of every document under the corpus unigram LM."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return doc_logprob(docs).orderBy("doc_id")


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``VOCAB_TOP`` corpus words by frequency with cumulative
    token coverage — the tokenizer-budget planning view ("how much of
    the corpus do the top-k words cover?").

    The top-k cut is ``orderBy().limit()`` — Spark plans it as
    TakeOrderedAndProject (per-partition top-k merged on the driver),
    so NO single reducer ever sees the full vocabulary; ties break on
    the word itself so the cut is deterministic.  Rank and cumulative
    coverage are then windows over the surviving ``top`` rows only.
    """
    docs = load_table(spark, "documents", sf_dir).select("text")
    counts = unigram_counts(docs)
    totals = counts.agg(F.sum("n").alias("n_corpus"))
    head = counts.orderBy(F.desc("n"), F.asc("word")).limit(VOCAB_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return (
        head.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_n", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "word",
            "n",
            F.round(F.col("cum_n") / F.col("n_corpus"), 6).alias("cum_coverage"),
        )
        .orderBy("rank")
    )


def doc_logprob_bigram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = ADD_K,
) -> DataFrame:
    """Per-document cross-entropy under the corpus add-k BIGRAM LM —
    the sharper CCNet-style quality signal (fluent text has predictable
    word transitions; shuffled/boilerplate text does not).

    p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k*V) with counts from the
    corpus itself and V the unigram vocabulary size.  Same plan shape
    as the unigram face one level up the n-gram ladder: the exploded
    (doc, w1, w2) pairs pre-aggregate per doc, corpus bigram and
    context counts are re-aggregations OVER that frame (AQE reuses the
    shuffle), and the (V) scalar broadcasts back.  Documents with
    fewer than two words have no bigrams and are dropped.
    """
    words = F.expr(_SPARK_WORDS.replace("text", text_col))
    pairs = (
        df.select(F.col(id_col), words.alias("wd"))
        .where(F.size("wd") >= 2)
        .select(
            id_col,
            F.explode(
                F.arrays_zip(
                    F.expr("slice(wd, 1, size(wd) - 1)").alias("w1"),
                    F.expr("slice(wd, 2, size(wd) - 1)").alias("w2"),
                )
            ).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    # EAGER checkpoint: tf2 feeds cf2 (read twice more via c1) and the
    # score join — without it the bigram zip-explode ran up to 4x
    # (snapshot: 4 FileScans / 4 Generates).
    tf2 = (
        pairs.groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    cf2 = tf2.groupBy("w1", "w2").agg(F.sum("tf").alias("cf"))
    c1 = cf2.groupBy("w1").agg(F.sum("cf").alias("c1"))
    vocab = df.select(F.explode(words).alias("word")).agg(
        F.count_distinct("word").alias("v_vocab")
    )
    neg_lp = f"-ln((cf + {add_k}) / (c1 + {add_k} * v_vocab))"
    return (
        tf2.join(cf2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            (F.sum(F.expr(neg_lp) * F.col("tf")) / F.sum("tf")).alias("_h"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round("_h", 6).alias("avg_neg_logprob"),
            F.round(F.exp("_h"), 6).alias("perplexity"),
        )
    )


def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity of every document."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return doc_logprob_bigram(docs).orderBy("doc_id")


def _bigram_perplexity_sql(add_k: float = ADD_K) -> str:
    return f"""
        WITH wd AS (
            SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
        ), pairs AS (
            SELECT doc_id,
                   unnest(w[1:len(w) - 1]) AS w1,
                   unnest(w[2:len(w)]) AS w2
            FROM wd WHERE len(w) >= 2
        ), tf2 AS (
            SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pairs GROUP BY 1, 2, 3
        ), cf2 AS (
            SELECT w1, w2, SUM(tf) AS cf FROM tf2 GROUP BY 1, 2
        ), c1 AS (
            SELECT w1, SUM(cf) AS c1 FROM cf2 GROUP BY 1
        ), vocab AS (
            SELECT COUNT(DISTINCT word) AS v_vocab
            FROM (SELECT unnest({_DUCK_WORDS}) AS word FROM documents)
        ), scored AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                   SUM(-ln((cf + {add_k}) / (c1 + {add_k} * v_vocab)) * tf)
                     / SUM(tf) AS h
            FROM tf2 JOIN cf2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
            GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams,
               ROUND(h, 6) AS avg_neg_logprob,
               ROUND(exp(h), 6) AS perplexity
        FROM scored
        ORDER BY doc_id
    """


def _perplexity_sql(add_k: float = ADD_K) -> str:
    return f"""
        WITH tf AS (
            SELECT doc_id, unnest({_DUCK_WORDS}) AS word
            FROM documents
        ), tfc AS (
            SELECT doc_id, word, COUNT(*) AS tf FROM tf GROUP BY 1, 2
        ), cf AS (
            SELECT word, SUM(tf) AS cf FROM tfc GROUP BY 1
        ), totals AS (
            SELECT SUM(cf) AS n_corpus, COUNT(*) AS v_vocab FROM cf
        ), scored AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(-ln((cf + {add_k}) / (n_corpus + {add_k} * v_vocab)) * tf)
                     / SUM(tf) AS h
            FROM tfc JOIN cf USING (word) CROSS JOIN totals
            GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               ROUND(h, 6) AS avg_neg_logprob,
               ROUND(exp(h), 6) AS perplexity
        FROM scored
        ORDER BY doc_id
    """


def _vocab_sql(top: int = VOCAB_TOP) -> str:
    return f"""
        WITH counts AS (
            SELECT word, COUNT(*) AS n
            FROM (SELECT unnest({_DUCK_WORDS}) AS word FROM documents)
            GROUP BY 1
        ), totals AS (
            SELECT SUM(n) AS n_corpus FROM counts
        ), ranked AS (
            SELECT word, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, word ASC) AS rank,
                   SUM(n) OVER (ORDER BY n DESC, word ASC
                                ROWS UNBOUNDED PRECEDING) AS cum_n
            FROM counts
        )
        SELECT rank, word, n,
               ROUND(cum_n / (SELECT n_corpus FROM totals), 6) AS cum_coverage
        FROM ranked
        WHERE rank <= {top}
        ORDER BY rank
    """


ORACLE_SQL: dict[str, str] = {
    "doc_perplexity": _perplexity_sql(),
    "doc_perplexity_bigram": _bigram_perplexity_sql(),
    "vocab_coverage": _vocab_sql(),
}

QUERIES = {
    "doc_perplexity": doc_perplexity,
    "doc_perplexity_bigram": doc_perplexity_bigram,
    "vocab_coverage": vocab_coverage,
}


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training
# ---------------------------------------------------------------------------

N_MERGES = 6  # registry-query depth; bpe_train takes any n_merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = N_MERGES,
) -> list[tuple[str, str, str, int]]:
    """Learn byte-pair-encoding merges from a corpus, distributed:
    returns [(left, right, merged, pair_count), ...] in merge order —
    tokenizer training as a first-class pipeline operator.

    The working frame is the aggregated word VOCABULARY (distinct word,
    count) — after one corpus scan every round touches only vocab-sized
    data. Each round is (1) adjacent-pair counts: explode the symbol
    arrays' bigrams weighted by word count, aggregate, take the global
    argmax via orderBy().limit(1) (TakeOrdered, ties broken
    lexicographically so training is deterministic); (2) merge
    application: a LEFT FOLD over each symbol array that greedily joins
    non-overlapping occurrences left-to-right — textbook BPE semantics
    — as a pure SQL ``aggregate`` expression: no Python touches the
    vocab. localCheckpoint per round cuts the growing lineage.

    At 100 TB the corpus is scanned ONCE (the word count); rounds then
    scale with |vocab|, and the only driver state is one (pair, count)
    row per round.
    """
    words = _SPARK_WORDS.replace("text", text_col)
    vocab = (
        df.select(F.explode(F.expr(words)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("sym", F.expr("filter(split(word, ''), x -> x != '')"))
        .select("sym", "n")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str, str, int]] = []
    for _ in range(n_merges):
        pairs = (
            vocab.where(F.expr("size(sym) >= 2"))
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sym) - 1),"
                        " i -> struct(sym[i - 1] AS l, sym[i] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")).limit(1).collect()
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merged = l + r
        merges.append((l, r, merged, cnt))
        lq, rq, mq = l.replace("'", "\\'"), r.replace("'", "\\'"), merged.replace("'", "\\'")
        fold = (
            "aggregate(sym, CAST(array() AS array<string>), (acc, x) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{lq}' AND x = '{rq}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{mq}')) "
            "ELSE concat(acc, array(x)) END)"
        )
        # per-round checkpoint, LAZY: the next round's pair-count
        # TakeOrdered pulls every vocab partition anyway, so it
        # materializes the checkpoint as a side effect — lineage stays
        # flat at ONE job per merge round instead of two (an eager
        # checkpoint here paid a separate materialization job per
        # round; no checkpoint at all re-executes the growing fold
        # chain, measured slower still)
        vocab = vocab.withColumn("sym", F.expr(fold)).localCheckpoint(eager=False)
    return merges


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the learned BPE merge table over the documents
    corpus.

    Oracle-backed (upgraded from rows-only): training is an iterative
    argmax, but at the registry's fixed N_MERGES depth it unrolls into
    chained DuckDB CTEs (_bpe_merge_oracle_sql) — one
    (pair-count -> argmax -> merge-apply) block per round.  The greedy
    left-to-right non-overlapping merge rule is exactly plain
    ``replace()`` over a separator-wrapped symbol string
    (each symbol rendered ``US sym US``), so both engines share
    integer-exact counts and binary-UTF8 tiebreaks.  The pure-Python
    BPE reference equality test remains as the third opinion."""
    docs = load_table(spark, "documents", sf_dir).select("text")
    merges = bpe_train(docs)
    return spark.createDataFrame(
        [(i, l, r, m, c) for i, (l, r, m, c) in enumerate(merges)],
        "merge_idx int, left string, right string, merged string, pair_count long",
    )


def _bpe_merge_oracle_sql(n_merges: int = N_MERGES) -> str:
    """Unrolled BPE training rounds.  Symbol lists are encoded as
    ``US a US US b US ...`` strings (US = chr(31), absent from
    whitespace-split words), where merging (l, r) is
    ``replace(s, US l US US r US, US lr US)`` — plain replace scans
    left-to-right over non-overlapping occurrences, which IS the
    greedy fold bpe_train evaluates in Spark SQL.  Each round's
    argmax breaks count ties on (left, right) binary order, matching
    Spark's TakeOrdered."""
    from .text import _DUCK_WORDS

    blocks = []
    for t in range(n_merges):
        blocks.append(f"""toks{t} AS (
            SELECT string_split(trim(s, chr(31)), chr(31) || chr(31)) AS tk, n
            FROM vocab{t}
        ), pairs{t} AS (
            SELECT p.l AS l, p.r AS r, CAST(SUM(n) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(list_transform(range(1, len(tk)),
                              i -> struct_pack(l := tk[i], r := tk[i + 1]))) AS p,
                       n
                FROM toks{t} WHERE len(tk) >= 2
            ) GROUP BY p.l, p.r
        ), best{t} AS MATERIALIZED (
            SELECT l, r, l || r AS merged, cnt
            FROM pairs{t} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
        ), vocab{t + 1} AS MATERIALIZED (
            SELECT replace(v.s,
                           chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                           chr(31) || b.merged || chr(31)) AS s, v.n
            FROM vocab{t} v, best{t} b
        )""")
    finals = "\nUNION ALL\n".join(
        f'SELECT {t} AS merge_idx, l AS "left", r AS "right", merged,'
        f" cnt AS pair_count FROM best{t}"
        for t in range(n_merges)
    )
    return f"""
        WITH words AS (
            SELECT unnest({_DUCK_WORDS}) AS word FROM documents
        ), vocab0 AS MATERIALIZED (
            SELECT rtrim(chr(31) || wrapped, chr(31)) || chr(31) AS s, n
            FROM (
                SELECT regexp_replace(word, '(.)',
                           '\\1' || chr(31) || chr(31), 'g') AS wrapped, n
                FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
                      FROM words GROUP BY word)
            )
        ),
        {",".join(blocks)}
        SELECT * FROM ({finals}) ORDER BY merge_idx
    """


QUERIES["bpe_merge_table"] = bpe_merge_table
ORACLE_SQL["bpe_merge_table"] = _bpe_merge_oracle_sql()


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merges: (id, tokens array<string>, n_tokens)
    per document — the encode side of ``bpe_train``.

    The merge sequence compiles into ONE nested SQL expression (a
    left-fold per merge, innermost = the character split), evaluated
    inside a ``transform`` over the document's words and flattened —
    so encoding is a map-only scan with zero shuffles and zero Python,
    and fold order reproduces training's greedy left-to-right rule.
    """
    words = _SPARK_WORDS.replace("text", text_col)
    expr = "filter(split(w, ''), x -> x != '')"
    for l, r, merged, _ in merges:
        lq, rq, mq = (s.replace("'", "\\'") for s in (l, r, merged))
        expr = (
            f"aggregate({expr}, CAST(array() AS array<string>), (acc, x) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{lq}' AND x = '{rq}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{mq}')) "
            "ELSE concat(acc, array(x)) END)"
        )
    return df.select(
        F.col(id_col),
        F.expr(f"flatten(transform({words}, w -> {expr}))").alias("tokens"),
    ).select(id_col, "tokens", F.size("tokens").alias("n_tokens"))


# ---------------------------------------------------------------------------
# DSIR-style hashed-feature importance weighting
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space (2 hex chars of md5)
DSIR_ADD_K = 0.5    # add-k smoothing for empty buckets


def importance_weights(
    df: DataFrame,
    is_target_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = DSIR_ADD_K,
) -> DataFrame:
    """DSIR-style importance weight of every document toward a target
    distribution (Xie et al., "Data Selection for Language Models via
    Importance Resampling", NeurIPS 2023).

    Features are hashed unigram buckets — the first 2 hex chars of
    md5(word), giving DSIR_BUCKETS buckets identically in any engine.
    Both bag-of-buckets unigram LMs (target = rows where
    ``is_target_col`` is true, raw = everything) are estimated in the
    same job; each doc scores

        log w(d) = sum_tokens ln( p_target(b) / p_raw(b) )

    with add-k smoothing.  High log-weight docs look like the target
    corpus and survive importance resampling.

    Scale posture: one scan; (doc, bucket) tf pre-aggregation bounds
    the shuffle by 256 x docs; bucket stats are a 256-row broadcast —
    the raw corpus itself is never broadcast or collected.  The only
    DOUBLE arithmetic is the final per-doc fold of tf * ln-ratio
    (rounded to 6, same as doc_logprob).
    """
    words = F.expr(_SPARK_WORDS.replace("text", text_col))
    tf = (
        df.select(
            F.col(id_col),
            F.col(is_target_col).cast("int").alias("__tgt"),
            F.explode(words).alias("word"),
        )
        .select(id_col, "__tgt", F.expr("substring(md5(word), 1, 2)").alias("bucket"))
        .groupBy(id_col, "__tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("bucket").agg(
        F.sum("tf").alias("c_raw"),
        F.sum(F.col("tf") * F.col("__tgt")).alias("c_tgt"),
    )
    totals = stats.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    lr = _dsir_log_ratio(add_k)
    return (
        tf.join(F.broadcast(stats), "bucket")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.expr(lr) * F.col("tf")).alias("_lw"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round("_lw", 6).alias("log_importance"),
            F.round(F.expr("_lw / n_tokens"), 6).alias("per_token"),
        )
    )


def dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weight of every document toward the English subset —
    the data-selection score for an en-targeted training mix."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_en")
    )
    return importance_weights(docs, "is_en").orderBy("doc_id")


def _dsir_log_ratio(add_k: float = DSIR_ADD_K) -> str:
    # every operand explicitly DOUBLE: a bare `c + 0.5` is DECIMAL
    # arithmetic in DuckDB (0.5 parses as DECIMAL(1,1)), which rounds
    # differently from Spark's double promotion
    kb = add_k * DSIR_BUCKETS
    return (
        f"ln(((CAST(c_tgt AS DOUBLE) + {add_k}) / (CAST(n_tgt AS DOUBLE) + {kb})) /"
        f" ((CAST(c_raw AS DOUBLE) + {add_k}) / (CAST(n_raw AS DOUBLE) + {kb})))"
    )


def _dsir_sql(add_k: float = DSIR_ADD_K) -> str:
    lr = _dsir_log_ratio(add_k)
    return f"""
        WITH tf AS (
            SELECT doc_id, CAST(lang = 'en' AS INTEGER) AS tgt,
                   md5(word)[1:2] AS bucket, COUNT(*) AS tf
            FROM (SELECT doc_id, lang, UNNEST({_DUCK_WORDS}) AS word
                  FROM documents)
            GROUP BY 1, 2, 3
        ), stats AS (
            SELECT bucket, SUM(tf) AS c_raw, SUM(tf * tgt) AS c_tgt
            FROM tf GROUP BY bucket
        ), totals AS (
            SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM stats
        )
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
               ROUND(SUM({lr} * tf), 6) AS log_importance,
               ROUND(SUM({lr} * tf) / SUM(tf), 6) AS per_token
        FROM tf JOIN stats USING (bucket), totals
        GROUP BY doc_id
        ORDER BY doc_id
    """


QUERIES["dsir_doc_weights"] = dsir_doc_weights
ORACLE_SQL["dsir_doc_weights"] = _dsir_sql()


# ---------------------------------------------------------------------------
# Zipf-law fit of the vocabulary
# ---------------------------------------------------------------------------

ZIPF_TOP = 1000  # fit over the top-k words (the power-law regime)


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus vocabulary: OLS of ln(freq) on
    ln(rank) over the top-``ZIPF_TOP`` words — natural text sits near
    alpha = 1; a corpus drifting far off is a curation red flag
    (template spam pushes alpha up, shredded text pushes it down).

    The top-k cut is TakeOrderedAndProject (no full vocab sort, same
    as vocab_coverage); ln values are micro-quantized to BIGINT so the
    OLS moments accumulate exactly (the group_trend discipline) and
    the fit is bit-reproducible.  One scan + the word shuffle.
    """
    from .stats import group_trend

    docs = load_table(spark, "documents", sf_dir).select("text")
    counts = unigram_counts(docs)
    head = counts.orderBy(F.desc("n"), F.asc("word")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    pts = head.withColumn("rank", F.row_number().over(w)).select(
        F.lit(1).alias("g"),
        F.expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)").alias("x"),
        F.expr("CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)").alias("y"),
    )
    t = group_trend(pts, ["g"])
    return t.select(
        F.col("n").alias("n_words"),
        F.expr("ROUND(-slope, 6)").alias("alpha"),
        F.expr("ROUND(r2, 6)").alias("r2"),
    )


def _zipf_sql(top: int = ZIPF_TOP) -> str:
    from .stats import _COV, _VARX, _VARY

    return f"""
        WITH counts AS (
            SELECT word, COUNT(*) AS n
            FROM (SELECT UNNEST({_DUCK_WORDS}) AS word FROM documents)
            GROUP BY word
        ), head AS (
            SELECT word, n FROM counts ORDER BY n DESC, word LIMIT {top}
        ), pts AS (
            SELECT CAST(floor(ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                   CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS y
            FROM head
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy
            FROM pts
        )
        SELECT n AS n_words,
               ROUND(-({_COV} / {_VARX}), 6) AS alpha,
               ROUND(({_COV} * {_COV}) / ({_VARX} * {_VARY}), 6) AS r2
        FROM m
        WHERE n >= 2 AND {_VARX} > 0.0 AND {_VARY} > 0.0
    """


QUERIES["zipf_fit"] = zipf_fit
ORACLE_SQL["zipf_fit"] = _zipf_sql()


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): new distinct words per
    document-id bucket and the cumulative vocabulary — "is the corpus
    still teaching the tokenizer new words, or has it saturated?".

    Each word's first appearance is a MIN over its postings (one word
    shuffle); the per-bucket rollup and running total ride the tiny
    aggregate.  Buckets of 100 docs stand in for ingest order.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    words = docs.select(
        F.expr("doc_id div 100").alias("bucket"),
        F.explode(F.expr(_SPARK_WORDS)).alias("word"),
    )
    firsts = words.groupBy("word").agg(F.min("bucket").alias("first_bucket"))
    per_bucket = firsts.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_words")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket",
        "new_words",
        F.sum("new_words").over(w).alias("cum_vocab"),
    ).orderBy("bucket")


ORACLE_SQL["vocab_growth"] = f"""
    WITH words AS (
        SELECT doc_id // 100 AS bucket, UNNEST({_DUCK_WORDS}) AS word
        FROM documents
    ), firsts AS (
        SELECT word, MIN(bucket) AS first_bucket FROM words GROUP BY word
    ), per_bucket AS (
        SELECT first_bucket AS bucket, COUNT(*) AS new_words
        FROM firsts GROUP BY 1
    )
    SELECT bucket, new_words,
           CAST(SUM(new_words) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
    FROM per_bucket ORDER BY bucket
"""

QUERIES["vocab_growth"] = vocab_growth


PPX_KEEP_PCT = 90  # keep the lowest-perplexity 90% within each source


def perplexity_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    keep_pct: int = PPX_KEEP_PCT,
) -> DataFrame:
    """CCNet/FineWeb-style perplexity SELECTION: score every document
    under the corpus unigram LM, rank within its ``group_col`` (a
    per-source cut — sources differ in base perplexity, so a global
    threshold would empty the clean sources before touching the noisy
    ones), and keep the lowest-perplexity ``keep_pct`` percent.

    The cut is integer-exact and fully deterministic: rank * 100 <=
    n_group * keep_pct over (rounded perplexity, id) ordering — no
    float percentile interpolation, no ties left to engine choice.
    Returns every scored doc with its rank and the ``kept`` verdict so
    downstream can filter or bucket (CCNet's head/middle/tail is this
    same ranking at two thresholds).

    Scale: the LM scoring is ``doc_logprob`` (one corpus scan, shuffle
    bounded by distinct (doc, word)); the ranking goes through
    ``two_phase_row_number`` with ``group_cols`` — the per-source
    window is partitioned by (source, perplexity-range shard), NEVER by
    source alone, so one source owning 90% of a 100 TB corpus spreads
    its ranking across every shard (the dominant source drives the
    global boundary percentiles).  Ranks and the per-source count ride
    one offset table; values are exactly the plain partitioned
    window's, so the DuckDB oracle keeps ``ROW_NUMBER() OVER
    (PARTITION BY source ...)``.
    """
    from ..functions.global_rank import two_phase_row_number

    scored = doc_logprob(
        df.select(F.col(id_col), F.col(text_col)), id_col, text_col
    )
    meta = df.select(F.col(id_col), F.col(group_col))
    # EAGER checkpoint: two_phase_row_number references its input
    # from three subtrees (boundary aggregate, main pass, offsets), and
    # the input here is the whole LM scoring pipeline (token explode +
    # tf/cf aggregates) — without the checkpoint the compiled plan
    # carried 16 FileScans / 12 Generates and the scored subtree
    # executed per reference (measured 14.6 -> 3.8 s cold at sf0.1).
    # One slim row per doc, so the stored frame is output-sized.
    joined = scored.join(meta, id_col).localCheckpoint(eager=True)
    ranked = two_phase_row_number(
        joined,
        [F.col("perplexity").asc(), F.col(id_col).asc()],
        shard_key=F.col("perplexity"),
        out_col="ppx_rank",
        group_cols=[group_col],
        total_col="n_grp",
        tie_key=F.col(id_col),
    )
    return ranked.select(
        id_col,
        group_col,
        "n_tokens",
        "perplexity",
        F.col("ppx_rank").cast("int").alias("ppx_rank"),
        (F.col("ppx_rank") * 100 <= F.col("n_grp") * keep_pct).alias("kept"),
    )


def doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: per-source perplexity ranking with the 90% keep
    verdict over the documents corpus."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    return perplexity_filter(docs).orderBy("doc_id")


def _perplexity_filter_sql(add_k: float = ADD_K, keep_pct: int = PPX_KEEP_PCT) -> str:
    return f"""
        WITH tf AS (
            SELECT doc_id, unnest({_DUCK_WORDS}) AS word
            FROM documents
        ), tfc AS (
            SELECT doc_id, word, COUNT(*) AS tf FROM tf GROUP BY 1, 2
        ), cf AS (
            SELECT word, SUM(tf) AS cf FROM tfc GROUP BY 1
        ), totals AS (
            SELECT SUM(cf) AS n_corpus, COUNT(*) AS v_vocab FROM cf
        ), scored AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(-ln((cf + {add_k}) / (n_corpus + {add_k} * v_vocab)) * tf)
                     / SUM(tf) AS h
            FROM tfc JOIN cf USING (word) CROSS JOIN totals
            GROUP BY doc_id
        ), ranked AS (
            SELECT s.doc_id, d.source, s.n_tokens,
                   ROUND(exp(s.h), 6) AS perplexity,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY d.source
                       ORDER BY ROUND(exp(s.h), 6), s.doc_id) AS INTEGER) AS ppx_rank,
                   COUNT(*) OVER (PARTITION BY d.source) AS n_grp
            FROM scored s JOIN documents d USING (doc_id)
        )
        SELECT doc_id, source, n_tokens, perplexity, ppx_rank,
               ppx_rank * 100 <= n_grp * {keep_pct} AS kept
        FROM ranked ORDER BY doc_id
    """


QUERIES["doc_perplexity_filter"] = doc_perplexity_filter
ORACLE_SQL["doc_perplexity_filter"] = _perplexity_filter_sql()


# ---- distribution divergence between sources --------------------------


def source_token_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram token
    distributions of every source pair — the standard "how different
    are my corpus slices" diagnostic behind mixing-weight decisions
    (a JS near ln 2 means disjoint vocabularies; near 0, redundant
    slices).

    JS(P,Q) = 0.5*sum p*ln(2p/(p+q)) + 0.5*sum q*ln(2q/(p+q)), with
    0*ln 0 = 0 — symmetric, bounded by ln 2, needs no smoothing (unlike
    KL) because the mixture M dominates both sides.

    Shape: per-(source, word) counts are two map-side combines; each
    pair's union-vocabulary term table is ONE shuffle on (pair, word)
    built via the source-IN-pair join (same pattern as the KS test);
    probabilities are exact-integer ratios evaluated as doubles, the
    per-pair sum rounds to 6 (the perplexity summation contract).
    Pairs are |sources| choose 2 — a handful of rows out.
    """
    docs = load_table(spark, "documents", sf_dir)
    words = F.expr(_SPARK_WORDS)
    counts = (
        docs.select("source", F.explode(words).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n_tok"))
    srcs = totals.select(F.col("source").alias("s"), F.col("n_tok").alias("n"))
    pairs = F.broadcast(
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.s") < F.col("b.s"))
        .select(
            F.col("a.s").alias("sa"), F.col("b.s").alias("sb"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
    )
    j = pairs.join(
        counts, (F.col("source") == F.col("sa")) | (F.col("source") == F.col("sb"))
    )
    per_word = j.groupBy("sa", "sb", "na", "nb", "word").agg(
        F.sum(F.when(F.col("source") == F.col("sa"), F.col("c")).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == F.col("sb"), F.col("c")).otherwise(0)).alias("cb"),
    )
    pa = "CAST(ca AS DOUBLE) / na"
    pb = "CAST(cb AS DOUBLE) / nb"
    term = (
        f"(CASE WHEN ca > 0 THEN {pa} * ln(2.0 * ({pa}) / (({pa}) + ({pb}))) ELSE 0.0 END)"
        f" + (CASE WHEN cb > 0 THEN {pb} * ln(2.0 * ({pb}) / (({pa}) + ({pb}))) ELSE 0.0 END)"
    )
    return (
        per_word.groupBy("sa", "sb", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("vocab_union"),
            F.round(F.sum(F.expr(term)) * 0.5, 6).alias("js_nats"),
        )
        .select(
            F.col("sa").alias("source_a"), F.col("sb").alias("source_b"),
            F.col("na").alias("n_tokens_a"), F.col("nb").alias("n_tokens_b"),
            "vocab_union", "js_nats",
        )
        .orderBy("source_a", "source_b")
    )


def _source_js_oracle_sql() -> str:
    pa = "CAST(ca AS DOUBLE) / na"
    pb = "CAST(cb AS DOUBLE) / nb"
    term = (
        f"(CASE WHEN ca > 0 THEN {pa} * ln(2.0 * ({pa}) / (({pa}) + ({pb}))) ELSE 0.0 END)"
        f" + (CASE WHEN cb > 0 THEN {pb} * ln(2.0 * ({pb}) / (({pa}) + ({pb}))) ELSE 0.0 END)"
    )
    return f"""
        WITH counts AS (
            SELECT source, w.word, CAST(COUNT(*) AS BIGINT) AS c
            FROM documents d,
                 LATERAL (SELECT UNNEST({_DUCK_WORDS}) AS word) w
            GROUP BY 1, 2
        ), totals AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok
            FROM counts GROUP BY 1
        ), pairs AS (
            SELECT a.source AS sa, b.source AS sb,
                   a.n_tok AS na, b.n_tok AS nb
            FROM totals a JOIN totals b ON a.source < b.source
        ), per_word AS (
            SELECT p.sa, p.sb, p.na, p.nb, c.word,
                   CAST(SUM(CASE WHEN c.source = p.sa THEN c.c ELSE 0 END) AS BIGINT) AS ca,
                   CAST(SUM(CASE WHEN c.source = p.sb THEN c.c ELSE 0 END) AS BIGINT) AS cb
            FROM pairs p JOIN counts c ON c.source IN (p.sa, p.sb)
            GROUP BY 1, 2, 3, 4, 5
        )
        SELECT sa AS source_a, sb AS source_b,
               na AS n_tokens_a, nb AS n_tokens_b,
               CAST(COUNT(*) AS BIGINT) AS vocab_union,
               ROUND(SUM({term}) * 0.5, 6) AS js_nats
        FROM per_word
        GROUP BY sa, sb, na, nb
        ORDER BY source_a, source_b
    """


QUERIES["source_token_js"] = source_token_js
ORACLE_SQL["source_token_js"] = _source_js_oracle_sql()


# ---- corpus n-gram diversity (distinct-n) --------------------------------

DIVERSITY_N = 3


def ngram_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = DIVERSITY_N,
) -> DataFrame:
    """Distinct-n corpus diversity per group: distinct n-grams over
    total n-grams — the standard self-repetition readout for training
    corpora (a templated/boilerplate-heavy source scores low).

    One scan: tokens materialize once per doc, the n-gram window is a
    ``sequence`` transform (NOT deduplicated per doc — totals must
    count repeats), then a single shuffle keyed (group, ngram) feeds
    both the exact distinct count and the total with map-side combine.
    At 100 TB this is the word-count shape on an n-gram key; skew is
    bounded because the heavy n-grams collapse into one row per group
    in the partial aggregate.
    """
    words = _SPARK_WORDS.replace("text", text_col)
    grams = (
        f"transform(sequence(1, greatest(size({words}) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice({words}, i, {n})))"
    )
    exploded = df.select(
        F.col(group_col).alias("grp"), F.explode(F.expr(grams)).alias("gram")
    )
    per_gram = exploded.groupBy("grp", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_gram.groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("total_ngrams"),
            F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
        )
        .select(
            F.col("grp").alias(group_col),
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams").cast("double") / F.col("total_ngrams"), 6
            ).alias("distinct_ratio"),
        )
        .orderBy(group_col)
    )


def source_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: per-source trigram distinct-ratio over documents."""
    return ngram_diversity(load_table(spark, "documents", sf_dir))


def _ngram_diversity_oracle_sql(n: int = DIVERSITY_N) -> str:
    grams = (
        f"list_transform(range(1, greatest(len(w) - {n - 1}, 1) + 1),"
        f" i -> array_to_string(w[i:i+{n - 1}], ' '))"
    )
    return f"""
        WITH toks AS (
            SELECT source, {_DUCK_WORDS} AS w FROM documents
        ), grams AS (
            SELECT source, unnest({grams}) AS gram FROM toks
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS total_ngrams,
               CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
               ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 6)
                   AS distinct_ratio
        FROM grams GROUP BY source ORDER BY source
    """


QUERIES["source_ngram_diversity"] = source_ngram_diversity
ORACLE_SQL["source_ngram_diversity"] = _ngram_diversity_oracle_sql()


# ---------------------------------------------------------------------------
# Distributed unigram-LM tokenizer training (SentencePiece-style hard EM)
# ---------------------------------------------------------------------------

UNI_MAX_PIECE = 4   # max piece length (chars)
UNI_SEED = 400      # seed candidates kept (plus full char coverage)
UNI_VOCAB = 120     # post-prune vocabulary target (chars always kept)
UNI_ITERS = 4       # hard-EM (Viterbi) rounds


def viterbi_segment(
    word: str, logp: dict, max_piece: int = UNI_MAX_PIECE
) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: maximize
    total logp; exact ties prefer the LONGER last piece (smaller start
    index) — a total, engine-free tie order.  The test suite replays
    this same spec in an independent implementation, so the DP here
    must stay boring."""
    n = len(word)
    best: list[tuple[float, int]] = [(0.0, 0)] + [(-float("inf"), -1)] * n
    for end in range(1, n + 1):
        sc, st = -float("inf"), -1
        for start in range(max(0, end - max_piece), end):
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None or best[start][1] < 0 and start != 0:
                continue
            if best[start][0] == -float("inf"):
                continue
            cand = best[start][0] + lp
            # strict > keeps the FIRST (longest-piece) candidate on ties
            if cand > sc:
                sc, st = cand, start
        best[end] = (sc, st)
    if best[n][0] == -float("inf"):  # uncovered char: fall back to chars
        return list(word)
    out: list[str] = []
    end = n
    while end > 0:
        start = best[end][1]
        out.append(word[start:end])
        end = start
    out.reverse()
    return out


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    max_piece: int = UNI_MAX_PIECE,
    seed_size: int = UNI_SEED,
    vocab_size: int = UNI_VOCAB,
    iters: int = UNI_ITERS,
) -> list[tuple[str, int]]:
    """SentencePiece-style unigram tokenizer training, distributed:
    returns the final [(piece, viterbi_count), ...] sorted by
    (count desc, piece asc) — the vocabulary a serving tokenizer loads.

    Spark-first shape (BPE's sibling, one abstraction up):
    - ONE corpus scan builds the word vocabulary (word, count); every
      round after touches vocab-sized data only.
    - Seed pieces = the ``seed_size`` highest weighted-count substrings
      of length <= ``max_piece`` (SQL explode over substring windows,
      deterministic (count, piece) order) UNION all single chars, so
      every word stays segmentable.
    - Each hard-EM round: broadcast the piece log-probs (a few hundred
      floats — driver state is the vocab, never the data), E-step =
      Arrow-batched Viterbi over the word frame emitting per-partition
      partial piece counts (INTEGER, weighted by word count), M-step =
      one tiny aggregate; then prune to the top ``vocab_size`` pieces
      by count (chars exempt).  Hard counts make every round's state
      exactly reproducible — the pure-Python replay asserts equality.
    """
    import math

    import pandas as pd

    words_expr = _SPARK_WORDS.replace("text", text_col)
    words = (
        df.select(F.explode(F.expr(words_expr)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    subs = (
        f"flatten(transform(sequence(1, {max_piece}), l -> "
        f"CASE WHEN length(word) >= l THEN transform("
        f"sequence(1, length(word) - l + 1), i -> substring(word, i, l)) "
        f"ELSE CAST(array() AS array<string>) END))"
    )
    weighted = (
        words.select("n", F.explode(F.expr(subs)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("w"))
        .localCheckpoint(eager=False)
    )
    seed = weighted.orderBy(F.desc("w"), F.asc("piece")).limit(seed_size)
    chars = weighted.where(F.expr("length(piece) = 1"))
    vocab_rows = (
        seed.unionAll(chars).groupBy("piece").agg(F.max("w").alias("w")).collect()
    )
    counts = {r["piece"]: int(r["w"]) for r in vocab_rows}

    for it in range(iters):
        total = sum(counts.values())
        logp = {p: math.log(c / total) for p, c in counts.items() if c > 0}

        def estep(batches, logp=logp):
            for pdf in batches:
                acc: dict[str, int] = {}
                for word, n in zip(pdf["word"].values, pdf["n"].values):
                    for piece in viterbi_segment(word, logp, max_piece):
                        acc[piece] = acc.get(piece, 0) + int(n)
                yield pd.DataFrame(
                    {"piece": list(acc.keys()), "cnt": list(acc.values())}
                )

        agg = (
            words.mapInPandas(estep, schema="piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        counts = {r["piece"]: int(r["cnt"]) for r in agg}
        # prune to vocab_size by (count, piece), chars always survive
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = {p: c for p, c in ranked[:vocab_size]}
        for p, c in counts.items():
            if len(p) == 1:
                kept[p] = c
        counts = kept
        _ = it
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))


def unigram_encode(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece: int = UNI_MAX_PIECE,
) -> DataFrame:
    """Tokenize documents with a trained unigram vocabulary: (id,
    n_words, n_pieces, pieces) — broadcast vocab, Arrow-batched
    map-side Viterbi, no shuffle."""
    import math

    import pandas as pd

    total = sum(c for _, c in vocab)
    logp = {p: math.log(c / total) for p, c in vocab if c > 0}
    words_expr = _SPARK_WORDS.replace("text", text_col)
    toks = df.select(F.col(id_col), F.expr(words_expr).alias("w"))

    def enc(batches):
        for pdf in batches:
            ids, nw, np_, pieces = [], [], [], []
            for i, ws in zip(pdf[id_col].values, pdf["w"].values):
                out: list[str] = []
                for word in ws:
                    out.extend(viterbi_segment(word, logp, max_piece))
                ids.append(i)
                nw.append(len(ws))
                np_.append(len(out))
                pieces.append(out)
            yield pd.DataFrame(
                {id_col: ids, "n_words": nw, "n_pieces": np_, "pieces": pieces}
            )

    return toks.mapInPandas(
        enc, schema=f"{id_col} long, n_words long, n_pieces long, pieces array<string>"
    )


def unigram_vocab_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the trained unigram vocabulary over documents
    (rows-only: iterative EM isn't one SQL statement; pytest asserts
    exact equality with a pure-Python reference trainer)."""
    docs = load_table(spark, "documents", sf_dir).select("text")
    vocab = unigram_train(docs)
    return spark.createDataFrame(
        [(i, p, c) for i, (p, c) in enumerate(vocab)],
        "rank int, piece string, count long",
    )


QUERIES["unigram_vocab_table"] = unigram_vocab_table


# ---- vocabulary richness estimation (Chao1, hapax) ------------------------


def vocab_richness(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Chao1 unseen-vocabulary estimate per group: from the frequency
    of frequencies (f1 = hapax words, f2 = words seen twice), the
    bias-corrected Chao1 lower bound D + f1*(f1-1)/(2*(f2+1)) answers
    'how much vocabulary does this source have that the sample hasn't
    shown yet' — the coverage planner for corpus collection.

    Two cheap shuffles, both on shrinking keys: (group, word) counts,
    then frequency-of-frequency counts; the estimator is exact integer
    arithmetic to one final division (bias-corrected form is total, no
    f2=0 special case)."""
    words = _SPARK_WORDS.replace("text", text_col)
    wc = (
        df.select(F.col(group_col).alias("grp"), F.explode(F.expr(words)).alias("w"))
        .groupBy("grp", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g = wc.groupBy("grp").agg(
        F.count(F.lit(1)).alias("distinct_words"),
        F.sum("c").alias("total_words"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
    )
    return g.select(
        F.col("grp").alias(group_col),
        F.col("total_words").cast("long").alias("total_words"),
        F.col("distinct_words").cast("long").alias("distinct_words"),
        F.col("f1").cast("long").alias("hapax"),
        F.col("f2").cast("long").alias("dis_legomena"),
        F.expr(
            "ROUND(distinct_words + CAST(f1 AS DOUBLE) * (f1 - 1)"
            " / (2.0 * (f2 + 1)), 6)"
        ).alias("chao1"),
        F.expr(
            "CAST(f1 * 1000000 DIV distinct_words AS BIGINT)"
        ).alias("hapax_ppm"),
    ).orderBy(group_col)


def source_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: per-source Chao1 vocabulary estimate + hapax share."""
    return vocab_richness(load_table(spark, "documents", sf_dir))


def _richness_oracle_sql() -> str:
    return f"""
        WITH wc AS (
            SELECT source AS grp, word, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT source, UNNEST({_DUCK_WORDS}) AS word FROM documents)
            GROUP BY grp, word
        ), g AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS distinct_words,
                   CAST(SUM(c) AS BIGINT) AS total_words,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                   CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
            FROM wc GROUP BY grp
        )
        SELECT grp AS source, total_words, distinct_words,
               f1 AS hapax, f2 AS dis_legomena,
               ROUND(distinct_words + CAST(f1 AS DOUBLE) * (f1 - 1)
                     / (2.0 * (f2 + 1)), 6) AS chao1,
               CAST(f1 * 1000000 // distinct_words AS BIGINT) AS hapax_ppm
        FROM g ORDER BY source
    """


QUERIES["source_vocab_richness"] = source_vocab_richness
ORACLE_SQL["source_vocab_richness"] = _richness_oracle_sql()


# ---- Burrows' Delta stylometric distance ----------------------------------

DELTA_TOP_WORDS = 20


def burrows_delta(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_words: int = DELTA_TOP_WORDS,
) -> DataFrame:
    """Burrows' Delta between groups: z-score each group's relative
    frequency of the corpus's ``top_words`` most common words, then
    Delta(a,b) = mean |z_w(a) - z_w(b)| — the classic stylometric
    authorship distance, here reading 'do two sources share a register'.

    Float discipline (the repo's sequential-fold contract): every mean
    / variance / Delta sum is a LEFT FOLD over a list sorted by an
    explicit key (source name, then word), never a shuffle-order SUM
    of doubles — so both engines fold identical values in identical
    order and the hash matches bitwise.  Work: two word-count shuffles
    plus folds over |top_words| x |groups| cells.
    """
    words = _SPARK_WORDS.replace("text", text_col)
    toks = df.select(
        F.col(group_col).alias("grp"), F.explode(F.expr(words)).alias("w")
    )
    # wc feeds three consumers (totals, top-word ranking, the freq
    # grid join) — materialize once instead of re-tokenizing per use
    wc = (
        toks.groupBy("grp", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = wc.groupBy("grp").agg(F.sum("c").alias("tot"))
    top = (
        wc.groupBy("w")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.desc("gc"), F.asc("w"))
        .limit(top_words)
        .select("w")
    )
    grid = top.crossJoin(totals.select("grp", "tot"))
    freq = (
        grid.join(wc, ["grp", "w"], "left")
        .na.fill({"c": 0})
        .select(
            "w",
            "grp",
            F.expr("CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)").alias("f"),
        )
    )
    per_word = freq.groupBy("w").agg(
        F.expr("sort_array(collect_list(struct(grp, f)))").alias("sf")
    )
    stats = per_word.select(
        "w",
        "sf",
        F.expr(
            "aggregate(sf, 0D, (acc, x) -> acc + x.f) / size(sf)"
        ).alias("mu"),
    ).select(
        "w",
        "sf",
        "mu",
        F.expr(
            "sqrt(aggregate(sf, 0D, (acc, x) ->"
            " acc + (x.f - mu) * (x.f - mu)) / (size(sf) - 1))"
        ).alias("sd"),
    )
    z = stats.select(
        "w",
        F.explode(
            F.expr("transform(sf, x -> struct(x.grp AS grp, (x.f - mu) / sd AS z))")
        ).alias("e"),
    ).select("w", F.col("e.grp").alias("grp"), F.col("e.z").alias("z"))
    a = z.select(F.col("w"), F.col("grp").alias("ga"), F.col("z").alias("za"))
    b = z.select(F.col("w"), F.col("grp").alias("gb"), F.col("z").alias("zb"))
    pair_terms = (
        a.join(b, "w")
        .where(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(
            F.expr(
                "sort_array(collect_list(struct(w, abs(za - zb) AS d)))"
            ).alias("terms")
        )
    )
    return pair_terms.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.expr("size(terms)").cast("long").alias("n_words"),
        F.expr(
            "ROUND(aggregate(terms, 0D, (acc, t) -> acc + t.d)"
            " / size(terms), 6)"
        ).alias("delta"),
    ).orderBy("group_a", "group_b")


def source_style_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: pairwise Burrows' Delta between sources."""
    return burrows_delta(load_table(spark, "documents", sf_dir))


# DuckDB struct-in-list field access is awkward; the oracle instead
# recomputes the folds from parallel ORDERED LISTS (values only), which
# is the same sequential fold the Spark side runs over its sorted
# structs — sort keys are identical (grp, then w).
def _burrows_oracle_sql(top_words: int = DELTA_TOP_WORDS) -> str:
    fold = "list_reduce(list_prepend(0.0, {xs}), (acc, t) -> acc + t)"
    mu = fold.format(xs="fs") + " / len(fs)"
    var = (
        fold.format(xs="list_transform(fs, x -> (x - mu) * (x - mu))")
        + " / (len(fs) - 1)"
    )
    dsum = fold.format(xs="ds")
    return f"""
        WITH toks AS (
            SELECT source AS grp, UNNEST({_DUCK_WORDS}) AS w FROM documents
        ), wc AS (
            SELECT grp, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY grp, w
        ), totals AS (
            SELECT grp, CAST(SUM(c) AS BIGINT) AS tot FROM wc GROUP BY grp
        ), top AS (
            SELECT w FROM (
                SELECT w, SUM(c) AS gc FROM wc GROUP BY w
            ) ORDER BY gc DESC, w ASC LIMIT {top_words}
        ), freq AS (
            SELECT top.w, totals.grp,
                   CAST(COALESCE(wc.c, 0) AS DOUBLE) / CAST(totals.tot AS DOUBLE) AS f
            FROM top CROSS JOIN totals
            LEFT JOIN wc ON wc.w = top.w AND wc.grp = totals.grp
        ), per_word AS (
            SELECT w, list(f ORDER BY grp, f) AS fs, list(grp ORDER BY grp, f) AS gs
            FROM freq GROUP BY w
        ), mu_t AS (
            SELECT w, fs, gs, {mu} AS mu FROM per_word
        ), sd_t AS (
            SELECT w, fs, gs, mu, sqrt({var}) AS sd FROM mu_t
        ), z AS (
            SELECT w, UNNEST(gs) AS grp, UNNEST(
                list_transform(fs, x -> (x - mu) / sd)) AS z
            FROM sd_t
        ), terms AS (
            SELECT a.grp AS ga, b.grp AS gb,
                   list(abs(a.z - b.z) ORDER BY a.w) AS ds
            FROM z a JOIN z b ON a.w = b.w AND a.grp < b.grp
            GROUP BY a.grp, b.grp
        )
        SELECT ga AS group_a, gb AS group_b,
               CAST(len(ds) AS BIGINT) AS n_words,
               ROUND({dsum} / len(ds), 6) AS delta
        FROM terms ORDER BY group_a, group_b
    """


QUERIES["source_style_delta"] = source_style_delta
ORACLE_SQL["source_style_delta"] = _burrows_oracle_sql()


# ---- curriculum phases -----------------------------------------------------

CURRICULUM_PHASES = 3


def doc_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum plan from the perplexity ranking: each source's docs
    split into ``CURRICULUM_PHASES`` equal-count phases by in-source
    perplexity rank (phase 1 = cleanest / lowest perplexity — train on
    it first; CCNet's head/middle/tail as an ordering rather than a
    filter).  Emits the phase table a curriculum sampler feeds from:
    per (source, phase) doc and token counts plus the perplexity range.

    Integer phase assignment over the existing exact ranking:
    phase = (rank - 1) * k div n + 1 — balanced to within one doc,
    engine-free."""
    from ..sources.catalog import load_table as _lt

    docs = _lt(spark, "documents", sf_dir).select("doc_id", "text", "source")
    scored = perplexity_filter(docs)
    from pyspark.sql import Window as _W

    n_grp = F.count(F.lit(1)).over(_W.partitionBy("source"))
    phased = scored.select(
        "source",
        "n_tokens",
        "perplexity",
        F.expr(
            f"CAST((ppx_rank - 1) * {CURRICULUM_PHASES} AS BIGINT)"
        ).alias("rk3"),
        n_grp.alias("n_grp"),
    ).select(
        "source",
        "n_tokens",
        "perplexity",
        (F.expr("CAST(rk3 div n_grp AS INT)") + 1).alias("phase"),
    )
    return (
        phased.groupBy("source", "phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.round(F.min("perplexity"), 6).alias("ppx_lo"),
            F.round(F.max("perplexity"), 6).alias("ppx_hi"),
        )
        .orderBy("source", "phase")
    )


def _curriculum_sql(add_k: float = ADD_K, k: int = CURRICULUM_PHASES) -> str:
    return f"""
        WITH tf AS (
            SELECT doc_id, unnest({_DUCK_WORDS}) AS word
            FROM documents
        ), tfc AS (
            SELECT doc_id, word, COUNT(*) AS tf FROM tf GROUP BY 1, 2
        ), cf AS (
            SELECT word, SUM(tf) AS cf FROM tfc GROUP BY 1
        ), totals AS (
            SELECT SUM(cf) AS n_corpus, COUNT(*) AS v_vocab FROM cf
        ), scored AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   SUM(-ln((cf + {add_k}) / (n_corpus + {add_k} * v_vocab)) * tf)
                     / SUM(tf) AS h
            FROM tfc JOIN cf USING (word) CROSS JOIN totals
            GROUP BY doc_id
        ), ranked AS (
            SELECT d.source, s.n_tokens,
                   ROUND(exp(s.h), 6) AS perplexity,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.source
                       ORDER BY ROUND(exp(s.h), 6), s.doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY d.source) AS n_grp
            FROM scored s JOIN documents d USING (doc_id)
        )
        SELECT source,
               CAST((rk - 1) * {k} // n_grp AS INTEGER) + 1 AS phase,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens,
               ROUND(MIN(perplexity), 6) AS ppx_lo,
               ROUND(MAX(perplexity), 6) AS ppx_hi
        FROM ranked
        GROUP BY source, CAST((rk - 1) * {k} // n_grp AS INTEGER) + 1
        ORDER BY source, phase
    """


QUERIES["doc_curriculum_phases"] = doc_curriculum_phases
ORACLE_SQL["doc_curriculum_phases"] = _curriculum_sql()
