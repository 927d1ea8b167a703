"""Deequ-style data-quality constraint audit.

A training-data platform needs declarative DQ gates in the same engine
that builds the data: completeness (null fractions), uniqueness (key
duplicates), referential integrity (FK orphans), and range constraints
— each as a DataFrame program whose result is one row per check, so a
pipeline can fail on ``violations > 0`` without collecting the table.

Scale posture: every check family is a single aggregation pass —
completeness and range checks fold into ONE multi-conditional
aggregate over one scan; uniqueness is a two-stage count-distinct
shuffle on the key; FK orphans are a left-anti join (the dim side
broadcasts when small, AQE decides otherwise).  Nothing is ever
collected; the audit result itself is a ~10-row frame.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table


def completeness_check(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per column: how many rows are NULL. Single scan, one
    aggregate with a conditional sum per column."""
    aggs = [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(c)
        for c in cols
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'null_{c}', {c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as (check_name, violations)"
    )


def uniqueness_check(df: DataFrame, key_cols: list[str], name: str) -> DataFrame:
    """Surplus rows beyond the first per key (0 = key is unique)."""
    dup = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).cast("long").alias("violations"))
    )
    return dup.select(F.lit(name).alias("check_name"), "violations")


def fk_check(
    fact: DataFrame, dim: DataFrame, fk: str, pk: str, name: str
) -> DataFrame:
    """Fact rows whose FK has no matching dim PK (left-anti count)."""
    orphans = fact.join(dim, fact[fk] == dim[pk], "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("violations")
    )
    return orphans.select(F.lit(name).alias("check_name"), "violations")


def range_check(df: DataFrame, predicate: str, name: str) -> DataFrame:
    """Rows violating a boolean SQL constraint (predicate = the
    CONSTRAINT, violations = rows where it does not hold)."""
    return df.agg(
        F.sum(F.when(~F.expr(predicate), 1).otherwise(0)).cast("long").alias("violations")
    ).select(F.lit(name).alias("check_name"), "violations")


def dq_audit(checks: list[DataFrame]) -> DataFrame:
    """Union the one-row check frames into the audit report."""
    out = reduce(DataFrame.unionByName, checks)
    return out.withColumn("passed", F.col("violations") == 0)


def observe_quality(
    df: DataFrame,
    constraints: dict[str, str],
    name: str = "dq",
):
    """Piggyback DQ counters on an existing job via ``Dataset.observe``
    — ZERO extra scans: the named metrics (row count + one violation
    count per boolean constraint) are accumulated by the SAME action
    that produces/writes ``df``, so the production pipeline gets its
    quality gate for free instead of paying a second audit pass over
    100 TB.

    Returns ``(observed_df, observation)``: run any action on
    ``observed_df``, then read ``observation.get`` — a dict with
    ``n_rows`` and ``viol_<name>`` per constraint (rows where the
    constraint does NOT hold).  Complements `dq_audit`, which is the
    standalone-report face of the same checks.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for cname, predicate in sorted(constraints.items()):
        metrics.append(
            F.sum(F.when(~F.expr(predicate), 1).otherwise(0))
            .cast("long")
            .alias(f"viol_{cname}")
        )
    return df.observe(obs, *metrics), obs


def table_fingerprint(
    df: DataFrame, cols: list[str], bucket_chars: int = 2
) -> DataFrame:
    """Tamper-evident Merkle-style table fingerprint: per-bucket
    digests plus a root, ORDER-INSENSITIVE over rows — two snapshots
    of a dataset are byte-equal iff their roots match, and a mismatch
    localizes to the differing bucket(s) without comparing rows.

    row digest   = md5 of the '|'-joined canonical column strings;
    bucket       = the digest's first ``bucket_chars`` hex chars
                   (16^chars buckets, uniform by construction);
    bucket digest= md5 over the bucket's SORTED row digests;
    root         = md5 over bucket digests in bucket order.

    One shuffle on the bucket key; per-bucket state is the digest list
    (size the bucket count to executor memory — 2 hex chars = 256
    buckets, 4 = 65536).  Emits (bucket, n_rows, digest) per bucket
    plus a final ('(root)', total, root) row.
    """
    row = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))
    per_bucket = (
        df.select(row.alias("d"))
        .select(F.substring("d", 1, bucket_chars).alias("bucket"), "d")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.md5(
                F.concat_ws("", F.array_sort(F.collect_list("d")))
            ).alias("digest"),
        )
    )
    root = per_bucket.orderBy("bucket").agg(
        F.lit("(root)").alias("bucket"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.md5(
            F.concat_ws(
                "",
                F.expr(
                    "transform(array_sort(collect_list(struct(bucket, digest))),"
                    " s -> s.digest)"
                ),
            )
        ).alias("digest"),
    )
    return per_bucket.unionByName(root).orderBy("bucket")


def orders_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: Merkle fingerprint of the orders key columns —
    the dataset-versioning integrity check (roots differ iff any row
    changed; the differing bucket pinpoints where)."""
    orders = load_table(spark, "orders", sf_dir)
    return table_fingerprint(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


_FINGERPRINT_SQL = """
    WITH rows_d AS (
        SELECT md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
                   CAST(o_custkey AS VARCHAR), o_orderstatus,
                   o_orderpriority)) AS d
        FROM orders
    ), per_bucket AS (
        SELECT substring(d, 1, 2) AS bucket,
               COUNT(*) AS n_rows,
               md5(string_agg(d, '' ORDER BY d)) AS digest
        FROM rows_d GROUP BY 1
    ), root AS (
        SELECT '(root)' AS bucket,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               md5(string_agg(digest, '' ORDER BY bucket)) AS digest
        FROM per_bucket
    )
    SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows, digest FROM per_bucket
    UNION ALL
    SELECT * FROM root
    ORDER BY bucket
"""


def dq_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ audit of the orders fact against the customer dim:
    completeness, PK uniqueness, FK integrity, value ranges."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    report = dq_audit(
        [
            completeness_check(orders, ["o_custkey", "o_totalprice", "o_orderdate"]),
            uniqueness_check(orders, ["o_orderkey"], "unique_o_orderkey"),
            fk_check(orders, customer, "o_custkey", "c_custkey", "fk_orders_customer"),
            range_check(orders, "o_totalprice > 0", "range_o_totalprice_pos"),
            range_check(
                orders,
                "o_orderdate >= DATE'1992-01-01' AND o_orderdate < DATE'1999-01-01'",
                "range_o_orderdate_window",
            ),
        ]
    )
    return report.orderBy("check_name")


ORACLE_SQL: dict[str, str] = {
    "dq_orders": """
        WITH checks AS (
            SELECT 'null_o_custkey' AS check_name,
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
            FROM orders
            UNION ALL
            SELECT 'null_o_totalprice',
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'null_o_orderdate',
                   CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'unique_o_orderkey',
                   CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
            UNION ALL
            SELECT 'fk_orders_customer',
                   CAST(COUNT(*) AS BIGINT)
            FROM orders o WHERE NOT EXISTS (
                SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'range_o_totalprice_pos',
                   CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'range_o_orderdate_window',
                   CAST(SUM(CASE WHEN NOT (o_orderdate >= DATE '1992-01-01'
                                           AND o_orderdate < DATE '1999-01-01')
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
        )
        SELECT check_name, violations, violations = 0 AS passed
        FROM checks ORDER BY check_name
    """,
}

QUERIES = {
    "dq_orders": dq_orders,
}


# ---- distributed classification report --------------------------------


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Confusion-matrix evaluation of any (label, prediction) frame:
    one row per class with support, predicted count, true positives,
    and integer-ppm precision / recall / F1, plus an ``(all)``
    accuracy row — the model-eval primitive, distributed.

    One shuffle builds the confusion matrix (bounded by classes^2);
    per-class marginals and the metrics are arithmetic over that tiny
    aggregate.  All ratios are BIGINT ppm divisions (2*p*r fits well
    inside BIGINT), so the report is bit-exact across engines; classes
    with zero denominators report NULL rather than dividing by zero.
    """
    # EAGER checkpoint: cm (bounded by classes^2 rows) feeds by_label,
    # by_pred, tp and the (all) row — without it each reference
    # re-derives the caller's whole prediction subtree (for langid_eval
    # the stopword-HOF language_id pass: snapshot 8 FileScans).
    cm = (
        df.select(F.col(label_col).alias("label"), F.col(pred_col).alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    by_label = cm.groupBy(F.col("label").alias("cls")).agg(
        F.sum("n").alias("support")
    )
    by_pred = cm.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").alias("predicted")
    )
    tp = cm.where(F.col("label") == F.col("pred")).select(
        F.col("label").alias("cls"), F.col("n").alias("tp")
    )
    per_class = (
        by_label.join(by_pred, "cls", "full_outer")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("predicted", F.lit(0)).alias("predicted"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
        .select(
            "cls",
            "support",
            "predicted",
            "tp",
            F.expr(
                "CASE WHEN predicted > 0 THEN (tp * 1000000) div predicted END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN support > 0 THEN (tp * 1000000) div support END"
            ).alias("recall_ppm"),
        )
        .select(
            "cls",
            "support",
            "predicted",
            "tp",
            "precision_ppm",
            "recall_ppm",
            F.expr(
                "CASE WHEN precision_ppm IS NOT NULL AND recall_ppm IS NOT NULL"
                " AND precision_ppm + recall_ppm > 0"
                " THEN (2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm) END"
            ).alias("f1_ppm"),
        )
    )
    overall = cm.agg(
        F.sum("n").alias("support"),
        F.sum("n").alias("predicted"),
        F.sum(F.expr("CASE WHEN label = pred THEN n ELSE 0 END")).alias("tp"),
    ).select(
        F.lit("(all)").alias("cls"),
        "support",
        "predicted",
        "tp",
        F.expr("(tp * 1000000) div predicted").alias("precision_ppm"),
        F.expr("(tp * 1000000) div support").alias("recall_ppm"),
        F.expr("(tp * 1000000) div support").alias("f1_ppm"),
    )
    return per_class.unionByName(overall).orderBy("cls")


def langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification report of the stopword language-ID heuristic
    against the labeled ``lang`` column — the eval loop for the
    curation pipeline's language gate."""
    from .text import language_id

    docs = load_table(spark, "documents", sf_dir)
    preds = language_id(docs).select("doc_id", "pred_lang")
    labeled = docs.select("doc_id", "lang").join(preds, "doc_id")
    return classification_report(labeled, "lang", "pred_lang")


def _langid_eval_oracle_sql() -> str:
    from .text import _DUCK_PRED

    return f"""
        WITH cm AS (
            SELECT lang AS label, {_DUCK_PRED} AS pred, COUNT(*) AS n
            FROM documents GROUP BY 1, 2
        ), by_label AS (
            SELECT label AS cls, SUM(n) AS support FROM cm GROUP BY 1
        ), by_pred AS (
            SELECT pred AS cls, SUM(n) AS predicted FROM cm GROUP BY 1
        ), tp AS (
            SELECT label AS cls, n AS tp FROM cm WHERE label = pred
        ), per_class AS (
            SELECT cls,
                   COALESCE(support, 0) AS support,
                   COALESCE(predicted, 0) AS predicted,
                   COALESCE(tp, 0) AS tp
            FROM by_label FULL OUTER JOIN by_pred USING (cls)
                 LEFT JOIN tp USING (cls)
        ), m AS (
            SELECT cls, support, predicted, tp,
                   CASE WHEN predicted > 0
                        THEN CAST(tp * 1000000 AS BIGINT) // predicted END AS precision_ppm,
                   CASE WHEN support > 0
                        THEN CAST(tp * 1000000 AS BIGINT) // support END AS recall_ppm
            FROM per_class
        )
        SELECT cls, CAST(support AS BIGINT) AS support,
               CAST(predicted AS BIGINT) AS predicted, CAST(tp AS BIGINT) AS tp,
               CAST(precision_ppm AS BIGINT) AS precision_ppm,
               CAST(recall_ppm AS BIGINT) AS recall_ppm,
               CAST(CASE WHEN precision_ppm IS NOT NULL AND recall_ppm IS NOT NULL
                    AND precision_ppm + recall_ppm > 0
                    THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm) END
                    AS BIGINT) AS f1_ppm
        FROM m
        UNION ALL
        SELECT '(all)', CAST(SUM(n) AS BIGINT), CAST(SUM(n) AS BIGINT),
               CAST(SUM(CASE WHEN label = pred THEN n ELSE 0 END) AS BIGINT),
               CAST(CAST(SUM(CASE WHEN label = pred THEN n ELSE 0 END) * 1000000 AS BIGINT) // SUM(n) AS BIGINT),
               CAST(CAST(SUM(CASE WHEN label = pred THEN n ELSE 0 END) * 1000000 AS BIGINT) // SUM(n) AS BIGINT),
               CAST(CAST(SUM(CASE WHEN label = pred THEN n ELSE 0 END) * 1000000 AS BIGINT) // SUM(n) AS BIGINT)
        FROM cm
        ORDER BY cls
    """


QUERIES["langid_eval"] = langid_eval
ORACLE_SQL["langid_eval"] = _langid_eval_oracle_sql()

QUERIES["orders_fingerprint"] = orders_fingerprint
ORACLE_SQL["orders_fingerprint"] = _FINGERPRINT_SQL


CAL_BINS = 10


def langid_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve for the language-ID heuristic: bucket docs by
    stopword-hit ratio (the confidence proxy) and compare each
    bucket's observed accuracy against its mean confidence — the
    reliability diagram that decides where the language gate's
    confidence threshold belongs.  All integer arithmetic: bin =
    (hits*10) div words clamped to 9, accuracy and confidence in
    FLOOR-ppm, so the table is value-identical across engines.
    """
    from pyspark.sql import functions as F

    from .text import _SPARK_WORDS, _langid_exprs

    docs = load_table(spark, "documents", sf_dir)
    words_df = docs.select("doc_id", "lang", F.expr(_SPARK_WORDS).alias("wd"))
    pred, n_hits = _langid_exprs("spark", words="wd")
    scored = words_df.select(
        "lang",
        F.expr(pred).alias("pred_lang"),
        F.expr(n_hits).cast("bigint").alias("hits"),
        F.expr("size(wd)").cast("bigint").alias("words"),
    ).where(F.col("words") > 0)
    binned = scored.withColumn(
        "bin",
        F.least(
            F.lit(CAL_BINS - 1),
            F.expr(f"(hits * {CAL_BINS}) div words"),
        ).cast("int"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("pred_lang") == F.col("lang")).cast("bigint")).alias(
                "n_correct"
            ),
            F.sum("hits").alias("sum_hits"),
            F.sum("words").alias("sum_words"),
        )
        .select(
            "bin",
            "n_docs",
            "n_correct",
            F.expr("(n_correct * 1000000) div n_docs").alias("acc_ppm"),
            F.expr("(sum_hits * 1000000) div sum_words").alias("conf_ppm"),
        )
        .orderBy("bin")
    )


def _langid_calibration_sql() -> str:
    from .text import _DUCK_PRED, _DUCK_WORDS, _langid_exprs

    _, duck_hits = _langid_exprs("duck")
    return f"""
        WITH scored AS (
            SELECT lang, {_DUCK_PRED} AS pred_lang,
                   CAST({duck_hits} AS BIGINT) AS hits,
                   CAST(len({_DUCK_WORDS}) AS BIGINT) AS words
            FROM documents
        ), binned AS (
            SELECT *, CAST(LEAST({CAL_BINS - 1}, (hits * {CAL_BINS}) // words) AS INTEGER) AS bin
            FROM scored WHERE words > 0
        )
        SELECT bin, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST((SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS acc_ppm,
               CAST((SUM(hits) * 1000000) // SUM(words) AS BIGINT) AS conf_ppm
        FROM binned GROUP BY bin ORDER BY bin
    """


QUERIES["langid_calibration"] = langid_calibration
ORACLE_SQL["langid_calibration"] = _langid_calibration_sql()


def isotonic_calibrate(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group isotonic regression (pool-adjacent-violators): the
    optimal MONOTONE calibration map from a raw score to an observed
    rate — what you apply to a classifier/confidence signal when the
    binned reliability curve (langid_calibration) shows miscalibration
    but you don't want to impose a parametric shape.

    Returns the fitted step function as (group, x_lo, x_hi, rate,
    n_obs) segments.  Each group's PAV runs inside one applyInPandas
    task over that group's (x, y) points — the fit is sequential by
    nature but bounded per group; ties on x are pre-pooled so the
    result is deterministic under any partitioning.  Exactness is
    pinned by a pure-Python PAV replay in the test suite AND a DuckDB
    oracle built from the minimax closed form
    fit(i) = max_{j<=i} min_{k>=i} mean(y[j..k]) — the same step
    function PAV computes, expressible as two windows over the
    O(n^2) (j,k) block grid (n = distinct x per group, bounded).
    """
    import numpy as np
    import pandas as pd

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group_col].iloc[0]
        # pre-pool duplicate x deterministically
        pooled = (
            pdf.groupby(x_col, sort=True)[y_col]
            .agg(["sum", "count"])
            .reset_index()
        )
        xs = pooled[x_col].to_numpy(dtype=np.float64)
        sums = pooled["sum"].to_numpy(dtype=np.float64)
        cnts = pooled["count"].to_numpy(dtype=np.float64)
        # PAV: merge adjacent blocks while means decrease
        blocks = [[i, i, sums[i], cnts[i]] for i in range(len(xs))]
        out = []
        for b in blocks:
            out.append(b)
            while len(out) >= 2 and out[-2][2] * out[-1][3] >= out[-1][2] * out[-2][3]:
                lo2, hi2, s2, c2 = out.pop()
                out[-1][1] = hi2
                out[-1][2] += s2
                out[-1][3] += c2
        rows = [
            (
                g,
                float(xs[lo]),
                float(xs[hi]),
                # integer-exact half-up 6dp rounding: Python round() is
                # half-to-even while SQL ROUND is half-away, and block
                # means with power-of-two denominators (c = 128) DO land
                # exactly on 6dp ties — one engine-portable formula
                int((2_000_000 * int(s) + int(c)) // (2 * int(c))) / 1e6,
                int(c),
            )
            for lo, hi, s, c in out
        ]
        return pd.DataFrame(
            rows, columns=[group_col, "x_lo", "x_hi", "rate", "n_obs"]
        )

    return df.select(group_col, x_col, y_col).groupBy(group_col).applyInPandas(
        pav, schema=f"{group_col} string, x_lo double, x_hi double, rate double, n_obs long"
    )


def langid_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: isotonic calibration of the stopword-hit-ratio
    confidence against language-ID correctness, fitted per true
    language.

    Oracle-backed (upgraded from rows-only): PAV itself is
    order-sequential, but its RESULT has the minimax closed form
    fit(i) = max_{j<=i} min_{k>=i} mean(y[j..k]), and blocks are the
    runs of equal fitted value (PAV merges on >=, so final block means
    are strictly increasing) — _langid_isotonic_oracle_sql expresses
    that with two windows over the bounded (j,k) block grid.  Float
    safety: block means are single IEEE divisions of small exact
    integers (numerator/denominator <= group size), so distinct
    rationals differ by >> 1 ulp and every max/min comparison agrees
    with exact arithmetic; the 6dp rate rounds half-up via integer
    arithmetic on BOTH engines (Python round() is half-to-even and
    c = 128 blocks land exactly on 6dp ties)."""
    from pyspark.sql import functions as F

    from .text import _SPARK_WORDS, _langid_exprs

    docs = load_table(spark, "documents", sf_dir)
    words_df = docs.select("doc_id", "lang", F.expr(_SPARK_WORDS).alias("wd"))
    pred, n_hits = _langid_exprs("spark", words="wd")
    scored = words_df.select(
        "lang",
        F.round(
            F.expr(n_hits).cast("double") / F.expr("size(wd)"), 6
        ).alias("conf"),
        (F.expr(pred) == F.col("lang")).cast("int").alias("correct"),
    ).where(F.expr("size(wd)") > 0)
    return isotonic_calibrate(scored, "lang", "conf", "correct").orderBy(
        "lang", "x_lo"
    )


def _langid_isotonic_oracle_sql() -> str:
    from .text import _DUCK_WORDS, _langid_exprs

    pred, hits = _langid_exprs("duck", words="wd")
    return f"""
        WITH words AS MATERIALIZED (
            SELECT lang, {_DUCK_WORDS} AS wd FROM documents
        ), scored AS (
            SELECT lang,
                   ROUND(CAST({hits} AS DOUBLE) / len(wd), 6) AS conf,
                   CASE WHEN {pred} = lang THEN 1 ELSE 0 END AS correct
            FROM words WHERE len(wd) > 0
        ), pooled AS (
            SELECT lang, conf AS x,
                   CAST(SUM(correct) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM scored GROUP BY lang, conf
        ), idx AS MATERIALIZED (
            SELECT lang, x, s, c,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x) AS i,
                   SUM(s) OVER (PARTITION BY lang ORDER BY x) AS ss,
                   SUM(c) OVER (PARTITION BY lang ORDER BY x) AS cc
            FROM pooled
        ), grid AS (
            -- mean of block j..k, one exact-integer IEEE division
            SELECT a.lang, a.i AS j, b.i AS k,
                   CAST(b.ss - a.ss + a.s AS DOUBLE)
                       / (b.cc - a.cc + a.c) AS m
            FROM idx a JOIN idx b ON a.lang = b.lang AND a.i <= b.i
        ), sm AS (
            -- suffix min over k: min_{{k' >= k}} mean(j..k')
            SELECT lang, j, k,
                   MIN(m) OVER (PARTITION BY lang, j ORDER BY k DESC) AS sm
            FROM grid
        ), fit AS (
            -- running max over j at k = i, evaluated at j = i:
            -- fit(i) = max_{{j <= i}} min_{{k >= i}} mean(j..k)
            SELECT lang, k AS i,
                   MAX(sm) OVER (PARTITION BY lang, k ORDER BY j) AS fit,
                   j
            FROM sm
        ), fitted AS (
            SELECT lang, i, fit FROM fit WHERE j = i
        )
        SELECT lang, MIN(x) AS x_lo, MAX(x) AS x_hi,
               CAST((2000000 * SUM(s) + SUM(c)) // (2 * SUM(c)) AS DOUBLE)
                   / 1e6 AS rate,
               CAST(SUM(c) AS BIGINT) AS n_obs
        FROM fitted JOIN idx USING (lang, i)
        GROUP BY lang, fit
        ORDER BY lang, x_lo
    """


QUERIES["langid_isotonic"] = langid_isotonic
ORACLE_SQL["langid_isotonic"] = _langid_isotonic_oracle_sql()


# ---- k-anonymity / re-identification audit ----------------------------

KANON_THRESHOLDS = (2, 5, 10)


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], thresholds: tuple = KANON_THRESHOLDS
) -> DataFrame:
    """Privacy DQ: for each k, how many quasi-identifier equivalence
    classes have fewer than k members, and what share of ROWS sits in
    them (the re-identification risk mass a release reviewer signs off
    on).  One groupBy on the quasi columns, then a tiny threshold
    explode over the |combos| frame — risk share in exact FLOOR ppm.
    """
    sizes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n"))
    totals = sizes.agg(
        F.sum("n").alias("n_rows"), F.count(F.lit(1)).alias("n_groups")
    )
    ks = F.explode(F.array(*[F.lit(k) for k in thresholds])).alias("k")
    per_k = (
        sizes.select(ks, "n")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0)).alias(
                "groups_below_k"
            ),
            F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0)).alias(
                "rows_below_k"
            ),
        )
    )
    return (
        per_k.crossJoin(F.broadcast(totals))
        .select(
            "k",
            "n_groups",
            "groups_below_k",
            "rows_below_k",
            F.expr("CAST(rows_below_k * 1000000 DIV n_rows AS BIGINT)").alias(
                "risk_ppm"
            ),
        )
        .orderBy("k")
    )


def _customer_quasi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_nationkey, c_mktsegment, first_year) per customer: the
    released attributes the privacy audits group on, with first_year
    the year of the customer's first order (0 when none)."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    first = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("first_year")
    )
    return cust.join(first, cust["c_custkey"] == first["o_custkey"], "left").select(
        "c_nationkey", "c_mktsegment", F.coalesce("first_year", F.lit(0)).alias("first_year")
    )


def customer_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: k-anonymity of customers under the quasi-identifier
    (nation, market segment, first-order year) — the released-attributes
    combination an attacker could link on."""
    return k_anonymity_audit(
        _customer_quasi(spark, sf_dir), ["c_nationkey", "c_mktsegment", "first_year"]
    )


def _kanonymity_oracle_sql() -> str:
    ks = ", ".join(str(k) for k in KANON_THRESHOLDS)
    return f"""
        WITH quasi AS (
            SELECT c.c_nationkey, c.c_mktsegment,
                   COALESCE(f.first_year, 0) AS first_year
            FROM customer c LEFT JOIN (
                SELECT o_custkey,
                       CAST(MIN(year(CAST(o_orderdate AS DATE))) AS INTEGER) AS first_year
                FROM orders GROUP BY 1
            ) f ON c.c_custkey = f.o_custkey
        ), sizes AS (
            SELECT c_nationkey, c_mktsegment, first_year,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM quasi GROUP BY 1, 2, 3
        ), totals AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_groups
            FROM sizes
        ), per_k AS (
            SELECT k,
                   CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
                   CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT) AS rows_below_k
            FROM sizes CROSS JOIN (SELECT UNNEST([{ks}]) AS k) t
            GROUP BY k
        )
        SELECT CAST(k AS INTEGER) AS k, n_groups, groups_below_k, rows_below_k,
               CAST(rows_below_k * 1000000 // n_rows AS BIGINT) AS risk_ppm
        FROM per_k CROSS JOIN totals
        ORDER BY k
    """


QUERIES["customer_kanonymity"] = customer_kanonymity
ORACLE_SQL["customer_kanonymity"] = _kanonymity_oracle_sql()


# ---- cross-table reconciliation ---------------------------------------


def orders_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: does each order header's total match
    the recomputed sum of its line items
    (sum of extendedprice * (1-discount) * (1+tax))?  The financial
    close-out audit every warehouse runs between a fact and its
    detail table.  Emits one row per discrepancy bucket — matched
    (<=1 cent), small (<=1% of the header), large, and headers with no
    detail rows at all — with order counts and total absolute drift in
    exact cents.  (On this synthetic data most orders DON'T reconcile,
    which is precisely what the report is for.)

    One join shuffle on the order key + one detail aggregation;
    per-line cents use half-up integer quantization of an identically
    shaped double product on both engines.
    """
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    line_cents = (
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"
        " * 100.0 + 0.5) AS BIGINT)"
    )
    detail = li.groupBy("l_orderkey").agg(
        F.sum(F.expr(line_cents)).alias("line_cents")
    )
    j = orders.select(
        "o_orderkey",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "hdr_cents"
        ),
    ).join(detail, orders["o_orderkey"] == detail["l_orderkey"], "left")
    bucket = F.expr(
        """CASE
             WHEN line_cents IS NULL THEN 'no_lineitems'
             WHEN abs(hdr_cents - line_cents) <= 1 THEN 'matched'
             WHEN abs(hdr_cents - line_cents) * 100 <= hdr_cents
                 THEN 'small_mismatch'
             ELSE 'large_mismatch'
           END"""
    )
    return (
        j.select(
            bucket.alias("bucket"),
            F.coalesce(
                F.abs(F.col("hdr_cents") - F.col("line_cents")), F.col("hdr_cents")
            ).alias("drift"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("drift").alias("abs_drift_cents"),
        )
        .orderBy("bucket")
    )


ORACLE_SQL["orders_reconciliation"] = """
    WITH detail AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
                    * (1.0 + l_tax) * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS line_cents
        FROM lineitem GROUP BY 1
    ), j AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS hdr_cents,
               d.line_cents
        FROM orders o LEFT JOIN detail d ON o.o_orderkey = d.l_orderkey
    )
    SELECT CASE
             WHEN line_cents IS NULL THEN 'no_lineitems'
             WHEN abs(hdr_cents - line_cents) <= 1 THEN 'matched'
             WHEN abs(hdr_cents - line_cents) * 100 <= hdr_cents
                 THEN 'small_mismatch'
             ELSE 'large_mismatch'
           END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(COALESCE(abs(hdr_cents - line_cents), hdr_cents)) AS BIGINT)
               AS abs_drift_cents
    FROM j GROUP BY 1 ORDER BY 1
"""

QUERIES["orders_reconciliation"] = orders_reconciliation


# ---- l-diversity ---------------------------------------------------------

LDIV_THRESHOLDS = (2, 3, 5)


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    thresholds: tuple = LDIV_THRESHOLDS,
) -> DataFrame:
    """Privacy DQ beyond k-anonymity: a quasi-identifier class can be
    large yet still leak if everyone in it shares the SAME sensitive
    value — distinct l-diversity counts the sensitive values per class
    and reports, per threshold l, the classes (and row mass) where an
    attacker who links the quasi columns learns the sensitive
    attribute to within fewer than l candidates.

    One groupBy on (quasi, sensitive) then a quasi-level rollup —
    exact integer counts, FLOOR-ppm risk mass, threshold explode over
    the tiny class frame only.
    """
    per_sv = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    classes = per_sv.groupBy(*quasi_cols).agg(
        F.sum("n").alias("n_rows_class"),
        F.count(F.lit(1)).alias("l_distinct"),
    )
    totals = classes.agg(
        F.sum("n_rows_class").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
    )
    ls = F.explode(F.array(*[F.lit(v) for v in thresholds])).alias("l")
    per_l = (
        classes.select(ls, "n_rows_class", "l_distinct")
        .groupBy("l")
        .agg(
            F.sum(
                F.when(F.col("l_distinct") < F.col("l"), 1).otherwise(0)
            ).alias("classes_below_l"),
            F.sum(
                F.when(F.col("l_distinct") < F.col("l"), F.col("n_rows_class"))
                .otherwise(0)
            ).alias("rows_below_l"),
        )
    )
    return (
        per_l.crossJoin(F.broadcast(totals))
        .select(
            "l",
            F.col("n_classes").cast("long").alias("n_classes"),
            F.col("classes_below_l").cast("long").alias("classes_below_l"),
            F.col("rows_below_l").cast("long").alias("rows_below_l"),
            F.expr("CAST(rows_below_l * 1000000 DIV n_rows AS BIGINT)").alias(
                "risk_ppm"
            ),
        )
        .orderBy("l")
    )


def customer_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: l-diversity of the market segment (sensitive)
    within (nation, first-order-year) quasi-identifier classes — the
    follow-up question to `customer_kanonymity`: even where classes
    are big, does everyone in one share a segment?"""
    return l_diversity_audit(
        _customer_quasi(spark, sf_dir), ["c_nationkey", "first_year"], "c_mktsegment"
    )


def _ldiversity_oracle_sql() -> str:
    ls = ", ".join(str(v) for v in LDIV_THRESHOLDS)
    return f"""
        WITH quasi AS (
            SELECT c.c_nationkey,
                   COALESCE(f.first_year, 0) AS first_year,
                   c.c_mktsegment
            FROM customer c LEFT JOIN (
                SELECT o_custkey,
                       CAST(MIN(year(CAST(o_orderdate AS DATE))) AS INTEGER) AS first_year
                FROM orders GROUP BY 1
            ) f ON c.c_custkey = f.o_custkey
        ), per_sv AS (
            SELECT c_nationkey, first_year, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM quasi GROUP BY 1, 2, 3
        ), classes AS (
            SELECT c_nationkey, first_year,
                   CAST(SUM(n) AS BIGINT) AS n_rows_class,
                   CAST(COUNT(*) AS BIGINT) AS l_distinct
            FROM per_sv GROUP BY 1, 2
        ), totals AS (
            SELECT CAST(SUM(n_rows_class) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_classes
            FROM classes
        ), per_l AS (
            SELECT l,
                   CAST(SUM(CASE WHEN l_distinct < l THEN 1 ELSE 0 END) AS BIGINT)
                       AS classes_below_l,
                   CAST(SUM(CASE WHEN l_distinct < l THEN n_rows_class ELSE 0 END) AS BIGINT)
                       AS rows_below_l
            FROM classes CROSS JOIN (SELECT UNNEST([{ls}]) AS l) t
            GROUP BY l
        )
        SELECT CAST(l AS INTEGER) AS l, n_classes, classes_below_l, rows_below_l,
               CAST(rows_below_l * 1000000 // n_rows AS BIGINT) AS risk_ppm
        FROM per_l CROSS JOIN totals
        ORDER BY l
    """


QUERIES["customer_ldiversity"] = customer_ldiversity
ORACLE_SQL["customer_ldiversity"] = _ldiversity_oracle_sql()


# ---- Brier score decomposition (Murphy) -----------------------------------


def langid_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the language-ID confidence proxy's Brier
    score: BRIER (exact integers end-to-end) alongside RELIABILITY /
    RESOLUTION / UNCERTAINTY over the ``CAL_BINS`` forecast bins — the
    one-row scorecard behind the `langid_calibration` reliability curve
    ("is the confidence bad because it's miscalibrated, or because it
    can't discriminate?").

    Float discipline: the Brier numerator sum((q - 1e6*c)^2) is BIGINT;
    the three components are left folds over the bin table sorted by
    bin id (<= CAL_BINS rows), so both engines fold identical doubles
    in identical order.  The residual column is the exact within-bin
    variance remainder of the binned decomposition (near 0 when bins
    are tight) — reported, not hidden.
    """
    from pyspark.sql import functions as F

    from .text import _SPARK_WORDS, _langid_exprs

    docs = load_table(spark, "documents", sf_dir)
    words_df = docs.select("doc_id", "lang", F.expr(_SPARK_WORDS).alias("wd"))
    pred, n_hits = _langid_exprs("spark", words="wd")
    scored = (
        words_df.select(
            "lang",
            F.expr(pred).alias("pred_lang"),
            F.expr(n_hits).cast("bigint").alias("hits"),
            F.expr("size(wd)").cast("bigint").alias("words"),
        )
        .where(F.col("words") > 0)
        .select(
            F.expr("(hits * 1000000) div words").alias("q"),
            (F.col("pred_lang") == F.col("lang")).cast("bigint").alias("c"),
        )
        .select(
            "q",
            "c",
            F.least(
                F.lit(CAL_BINS - 1), F.expr(f"(q * {CAL_BINS}) div 1000000")
            ).cast("int").alias("bin"),
        )
    )
    per_bin = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("c").alias("o"),
        F.sum(F.expr("(q - 1000000 * c) * (q - 1000000 * c)")).alias("bnum"),
    )
    folded = per_bin.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("o").cast("long").alias("n_correct"),
        F.sum("bnum").cast("long").alias("brier_num"),
        F.expr(
            "sort_array(collect_list(struct(bin, n, sq, o)))"
        ).alias("bins"),
    )
    obar = "(CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    rel = (
        "aggregate(bins, 0D, (acc, b) -> acc + CAST(b.n AS DOUBLE)"
        " * (CAST(b.sq AS DOUBLE) / CAST(b.n AS DOUBLE) / 1000000.0"
        "    - CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE))"
        " * (CAST(b.sq AS DOUBLE) / CAST(b.n AS DOUBLE) / 1000000.0"
        "    - CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE)))"
        " / CAST(n_docs AS DOUBLE)"
    )
    res = (
        f"aggregate(bins, 0D, (acc, b) -> acc + CAST(b.n AS DOUBLE)"
        f" * (CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE) - {obar})"
        f" * (CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE) - {obar}))"
        f" / CAST(n_docs AS DOUBLE)"
    )
    brier = "(CAST(brier_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e12))"
    return folded.select(
        "n_docs",
        "n_correct",
        F.expr(f"ROUND({brier}, 6)").alias("brier"),
        F.expr(f"ROUND({rel}, 6)").alias("reliability"),
        F.expr(f"ROUND({res}, 6)").alias("resolution"),
        F.expr(f"ROUND({obar} * (1 - {obar}), 6)").alias("uncertainty"),
        F.expr(
            f"ROUND({brier} - ({rel} - {res} + {obar} * (1 - {obar})), 6)"
        ).alias("residual"),
    )


def _brier_oracle_sql() -> str:
    from .text import _DUCK_WORDS, _langid_exprs

    pred, n_hits = _langid_exprs("duck")
    obar = "(CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    fold = (
        "list_reduce(list_prepend(0.0, list_transform(bins, b -> {term})),"
        " (acc, t) -> acc + t)"
    )
    rel_term = (
        "CAST(b.n AS DOUBLE)"
        " * (CAST(b.sq AS DOUBLE) / CAST(b.n AS DOUBLE) / 1000000.0"
        "    - CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE))"
        " * (CAST(b.sq AS DOUBLE) / CAST(b.n AS DOUBLE) / 1000000.0"
        "    - CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE))"
    )
    res_term = (
        f"CAST(b.n AS DOUBLE)"
        f" * (CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE) - {obar})"
        f" * (CAST(b.o AS DOUBLE) / CAST(b.n AS DOUBLE) - {obar})"
    )
    rel = fold.format(term=rel_term) + " / CAST(n_docs AS DOUBLE)"
    res = fold.format(term=res_term) + " / CAST(n_docs AS DOUBLE)"
    brier = "(CAST(brier_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e12))"
    return f"""
        WITH scored AS (
            SELECT (hits * 1000000) // words AS q,
                   CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS c
            FROM (
                SELECT lang, {pred} AS pred_lang,
                       CAST({n_hits} AS BIGINT) AS hits,
                       CAST(len({_DUCK_WORDS}) AS BIGINT) AS words
                FROM documents
            ) WHERE words > 0
        ), binned AS (
            SELECT q, c,
                   LEAST({CAL_BINS - 1}, (q * {CAL_BINS}) // 1000000) AS bin
            FROM scored
        ), per_bin AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(q) AS BIGINT) AS sq,
                   CAST(SUM(c) AS BIGINT) AS o,
                   CAST(SUM((q - 1000000 * c) * (q - 1000000 * c)) AS BIGINT)
                       AS bnum
            FROM binned GROUP BY bin
        ), folded AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
                   CAST(SUM(o) AS BIGINT) AS n_correct,
                   CAST(SUM(bnum) AS BIGINT) AS brier_num,
                   list(struct_pack(bin := bin, n := n, sq := sq, o := o)
                        ORDER BY bin) AS bins
            FROM per_bin
        )
        SELECT n_docs, n_correct,
               ROUND({brier}, 6) AS brier,
               ROUND({rel}, 6) AS reliability,
               ROUND({res}, 6) AS resolution,
               ROUND({obar} * (1 - {obar}), 6) AS uncertainty,
               ROUND({brier} - ({rel} - {res} + {obar} * (1 - {obar})), 6)
                   AS residual
        FROM folded
    """


QUERIES["langid_brier_decomposition"] = langid_brier_decomposition
ORACLE_SQL["langid_brier_decomposition"] = _brier_oracle_sql()


# ---- language confusion matrix ---------------------------------------------


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic: (actual,
    predicted, count, row-share ppm) — the error-ANATOMY companion to
    `langid_eval`'s per-class P/R/F1 scalars ('which languages get
    mistaken for which').  One scan, one (actual, pred) aggregate."""
    from pyspark.sql import functions as F

    from .text import _SPARK_WORDS, _langid_exprs

    docs = load_table(spark, "documents", sf_dir)
    words_df = docs.select("lang", F.expr(_SPARK_WORDS).alias("wd"))
    pred, _ = _langid_exprs("spark", words="wd")
    cm = (
        words_df.select("lang", F.expr(pred).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cm.select(
        F.col("lang").alias("actual"),
        F.col("pred_lang").alias("predicted"),
        F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST(n * 1000000 DIV SUM(n) OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("row_share_ppm"),
    ).orderBy("actual", "predicted")


def _langid_confusion_sql() -> str:
    from .text import _langid_exprs

    pred, _ = _langid_exprs("duck")
    return f"""
        WITH cm AS (
            SELECT lang AS actual, {pred} AS predicted,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM documents
            GROUP BY 1, 2
        )
        SELECT actual, predicted, n,
               CAST(n * 1000000 // SUM(n) OVER (PARTITION BY actual) AS BIGINT)
                   AS row_share_ppm
        FROM cm ORDER BY actual, predicted
    """


QUERIES["langid_confusion"] = langid_confusion
ORACLE_SQL["langid_confusion"] = _langid_confusion_sql()


# ---- F1-optimal threshold sweep --------------------------------------------


def threshold_sweep_f1(
    scored: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact decision-threshold sweep: for EVERY distinct score value t
    (predict positive when score >= t), precision / recall / F1 from
    exact cumulative counts — the full operating-characteristic table a
    threshold picker reads its argmax off (no sampled ROC grid, no
    interpolation).

    One ordered window over the |distinct scores| aggregate: sort
    scores descending, cumulative TP = positives at-or-above t; all
    integers, ppm ratios, one shared float F1 composition.
    """
    from pyspark.sql import Window

    per_score = scored.groupBy(F.col(score_col).alias("t")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("bigint")).alias("pos"),
    )
    w = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    cum = per_score.select(
        "t",
        F.sum("n").over(w).alias("pred_pos"),
        F.sum("pos").over(w).alias("tp"),
        F.sum("pos").over(tot).alias("all_pos"),
    )
    f1 = (
        "(CAST(2 * tp AS DOUBLE) / CAST(pred_pos + all_pos AS DOUBLE))"
    )
    return cum.select(
        F.col("t").cast("long").alias("threshold"),
        F.col("pred_pos").cast("long").alias("pred_pos"),
        F.col("tp").cast("long").alias("tp"),
        F.expr("CAST(tp * 1000000 DIV pred_pos AS BIGINT)").alias(
            "precision_ppm"
        ),
        F.expr("CAST(tp * 1000000 DIV all_pos AS BIGINT)").alias(
            "recall_ppm"
        ),
        F.expr(f"ROUND({f1}, 6)").alias("f1"),
    ).orderBy(F.desc("threshold"))


def english_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the F1-optimal stopword-ratio threshold for an
    'is-English' gate, swept exactly over every observed ppm ratio
    (label = the corpus lang column)."""
    from pyspark.sql import functions as F  # noqa: F811

    from .text import _SPARK_WORDS, LANG_PROFILES, _hits_expr

    docs = load_table(spark, "documents", sf_dir)
    en_sw = LANG_PROFILES["en"]
    words_df = docs.select("lang", F.expr(_SPARK_WORDS).alias("wd"))
    scored = words_df.select(
        F.expr(
            f"CAST({_hits_expr('wd', en_sw, 'spark')} * 1000000"
            f" DIV size(wd) AS BIGINT)"
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    ).where(F.expr("size(wd) > 0"))
    return threshold_sweep_f1(scored, "score", "is_en")


def _threshold_sweep_sql() -> str:
    from .text import _DUCK_WORDS, LANG_PROFILES, _hits_expr

    en_sw = LANG_PROFILES["en"]
    f1 = "(CAST(2 * tp AS DOUBLE) / CAST(pred_pos + all_pos AS DOUBLE))"
    return f"""
        WITH scored AS (
            SELECT CAST({_hits_expr(_DUCK_WORDS, en_sw, 'duck')} * 1000000
                        // len({_DUCK_WORDS}) AS BIGINT) AS score,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
            FROM documents
            WHERE len({_DUCK_WORDS}) > 0
        ), per_score AS (
            SELECT score AS t, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(is_en) AS BIGINT) AS pos
            FROM scored GROUP BY score
        ), cum AS (
            SELECT t,
                   CAST(SUM(n) OVER (ORDER BY t DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pred_pos,
                   CAST(SUM(pos) OVER (ORDER BY t DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                   CAST(SUM(pos) OVER () AS BIGINT) AS all_pos
            FROM per_score
        )
        SELECT t AS threshold, pred_pos, tp,
               CAST(tp * 1000000 // pred_pos AS BIGINT) AS precision_ppm,
               CAST(tp * 1000000 // all_pos AS BIGINT) AS recall_ppm,
               ROUND({f1}, 6) AS f1
        FROM cum ORDER BY threshold DESC
    """


QUERIES["english_threshold_sweep"] = english_threshold_sweep
ORACLE_SQL["english_threshold_sweep"] = _threshold_sweep_sql()
