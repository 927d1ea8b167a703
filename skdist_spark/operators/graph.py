"""Graph operators: connected components over pair/edge DataFrames.

The missing last step of every near-dup pipeline: LSH/Jaccard emit
duplicate PAIRS, but retention decisions need duplicate CLUSTERS
(keep one doc per component). ``connected_components`` computes them
with iterative min-label propagation expressed as DataFrame joins:

  label(n) <- min(label(n), min over neighbors' labels)

Each iteration is one equi-join + groupBy (fully distributed, AQE
handles skew); lineage is cut with localCheckpoint per round, and
convergence is detected by the (monotonically decreasing) global label
sum — one cheap scalar agg per round, no driver-side graph state.
Iterations needed = component diameter, which for near-dup clusters
(dense, clique-ish) is tiny. For adversarial long-chain graphs at
100 TB the same loop accepts a higher ``max_iterations``; the
large-star/small-star variant halves rounds but each round here is
already a single shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table

__all__ = [
    "connected_components",
    "connected_components_star",
    "dedup_clusters",
    "pagerank",
    "event_pagerank",
    "triangle_count",
]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    local_finish_edges: int = 500_000,
) -> DataFrame:
    """Return (node, cluster_id) where cluster_id = min node id in the
    connected component. Nodes are those appearing in ``edges``.

    Label propagation costs one join round per unit of component
    diameter — pure Spark-job latency on the small pair graphs the
    dedup/ER queries produce.  When the (symmetrized, distinct) edge
    set fits ``local_finish_edges`` (bounded driver state, same
    contract as the ml fit bounds and k_core), the exact answer comes
    from one driver-side union-find instead; larger graphs take the
    distributed rounds unchanged (or `connected_components_star` for
    long chains).  Pass ``local_finish_edges=0`` to force the
    distributed path — the tests run both on the same crafted graphs.
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    und = und.localCheckpoint()
    if 0 < und.count() <= 2 * local_finish_edges:
        from pyspark.sql.types import StructField, StructType

        pdf = und.toPandas()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["a"], pdf["b"]):
            a = a.item() if hasattr(a, "item") else a
            b = b.item() if hasattr(b, "item") else b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = sorted((n, find(n)) for n in parent)
        node_type = und.schema["a"].dataType
        schema = StructType(
            [StructField("node", node_type), StructField("cluster_id", node_type)]
        )
        return und.sparkSession.createDataFrame(rows, schema=schema)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(max_iterations):
        nbr_min = (
            und.join(labels, und.b == labels.node)
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def _edge_fingerprint(e: DataFrame) -> tuple:
    """Order-insensitive (count, hash-sum) fingerprint of an edge set —
    one cheap scalar agg, the convergence probe for the star rounds."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("h"),  # xor: no ANSI overflow
    ).collect()[0]
    return (row["n"], row["h"])


def _star_components(
    edges: DataFrame, src: str, dst: str, max_iterations: int
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star rounds; returns (labels, rounds)."""
    raw = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
        .localCheckpoint()
    )
    # nodes come from the edges BEFORE the self-loop filter: a node whose
    # only edge is (v, v) is its own component, as in connected_components
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = raw.where(F.col("a") != F.col("b"))
    prev = _edge_fingerprint(
        e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")).distinct()
    )
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # LARGE-STAR: per node u over the symmetric neighborhood,
        # m = min(N(u) + {u}); every neighbor v > u re-attaches to m.
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        e1 = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # SMALL-STAR: canonicalize to (big, small); per node u with its
        # smaller neighbors N, m = min(N); every v in N + {u}, v != m,
        # attaches to m.
        canon = (
            e1.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
            .distinct()
        )
        mins2 = canon.groupBy("a").agg(F.min("b").alias("m"))
        e2 = (
            canon.join(mins2, "a")
            .select(F.col("b").alias("v"), "m")
            .union(mins2.select(F.col("a").alias("v"), "m"))
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
            .localCheckpoint()
        )
        cur = _edge_fingerprint(e2)
        e = e2
        if cur == prev:
            break
        prev = cur
    # at the fixed point e is a star forest: every edge points child ->
    # component-min root; roots/isolated nodes label themselves
    labels = nodes.join(e, nodes.node == e.a, "left").select(
        "node", F.coalesce("b", "node").alias("cluster_id")
    )
    return labels, rounds


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SOCC'14 — public algorithm) -> (node, cluster_id) with
    cluster_id = min node id, same contract as ``connected_components``.

    Label propagation needs O(component diameter) rounds; the star
    rounds contract paths doubly-exponentially, converging in
    O(log^2 n) — the right variant when duplicate chains are long
    (transitive near-dup chains at 100 TB). Per round it costs two
    groupBy+join shuffles vs label propagation's one, so for dense
    clique-ish dedup graphs (diameter 2-3) the simple loop still wins;
    this is the adversarial-graph escape hatch.
    """
    labels, _ = _star_components(edges, src, dst, max_iterations)
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the blocked n-gram
    Jaccard pair graph (the retention unit of a dedup pipeline)."""
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    pairs = _ngram_jaccard_impl(docs)
    cc = connected_components(pairs, "doc_a", "doc_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id").orderBy("doc_id")


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as dedup_clusters, computed by star contraction
    instead of label propagation — same recursive-CTE oracle, so the
    two algorithms are held to the identical answer."""
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    pairs = _ngram_jaccard_impl(docs)
    cc = connected_components_star(pairs, "doc_a", "doc_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id").orderBy("doc_id")


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster retention policy: within each near-dup cluster keep the
    LONGEST document (n_chars, doc_id tiebreak) instead of the minimum
    id — the curation rule real pipelines want (near-dups usually
    differ by truncation, so the longest is the most complete copy).

    Same pair graph + components as dedup_clusters, then one ranked
    window per cluster. Oracle: the recursive-CTE clusters joined back
    to documents with the same ranking.
    """
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    pairs = _ngram_jaccard_impl(docs)
    cc = connected_components(pairs, "doc_a", "doc_b")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        cc.select(F.col("node").alias("doc_id"), "cluster_id")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_chars", "is_kept")
        .orderBy("doc_id")
    )


_PR_DEC = "decimal(28,12)"


_PR_DRIVER_MAX_EDGES = 100_000  # bounded driver-finish threshold


def _pagerank_driver_fixed_point(
    spark: SparkSession,
    frac_rows,
    node_type,
    damping: float,
    iterations: int,
) -> DataFrame:
    """Exact integer ("pico") replay of the distributed DECIMAL fixed
    point, run on the driver when the AGGREGATED edge frame is bounded
    (<= _PR_DRIVER_MAX_EDGES rows) — the same bounded-remnant contract
    as connected_components' union-find finish and k-core's numpy peel.

    Every iteration of the distributed loop is a full Spark job over a
    tiny frame, so rounds are pure job latency once the graph has been
    aggregated (event_pagerank: a 5-node transition graph paying 8
    distributed rounds).  The replay is arithmetic-identical, not
    approximately so: ``frac`` values are the SPARK-computed
    decimal(28,12) edge fractions (collected, so the (38,10)-rounded
    division is already baked in), and each round applies the same
    three HALF-UP quantizations the DECIMAL plan does — contributions
    cast to scale 12, dangling redistribution via scale 32, the
    damping product cast back to scale 12 — using HALF_UP(n/d) ==
    (2n + d) // (2d) on integers.  Verified bit-equal three ways: the
    DuckDB HUGEINT oracle, the pure-Python pytest replay, and the
    pre-change distributed plan at sf0.001/sf0.01/sf0.1.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import DoubleType, StructField, StructType

    P = 10**12

    def half_up(num: int, den: int) -> int:
        return (2 * num + den) // (2 * den)

    # ACCUMULATE per (src, dst): the edge frame may carry multi-edges
    # (the distributed plan sums one product per edge ROW, and
    # rank * (f1 + f2) == rank * f1 + rank * f2 exactly in integers);
    # a plain dict comprehension here silently collapsed multi-edges
    # and dropped their contributions
    frac: dict = {}
    for r in frac_rows:
        key = (r[0], r[1])
        frac[key] = frac.get(key, 0) + int(Decimal(r[2]).scaleb(12))
    out_srcs = {s for s, _ in frac}
    nodes = sorted(out_srcs | {t for _, t in frac})
    n = len(nodes)
    d_pico = int(
        Decimal(damping).quantize(Decimal(1).scaleb(-12), ROUND_HALF_UP).scaleb(12)
    )
    base = int(
        Decimal((1.0 - damping) / n).scaleb(12).quantize(Decimal(1), ROUND_HALF_UP)
    )
    rank = {
        v: int(Decimal(1.0 / n).scaleb(12).quantize(Decimal(1), ROUND_HALF_UP))
        for v in nodes
    }
    for _ in range(iterations):
        dangling = sum(rank[v] for v in nodes if v not in out_srcs)
        redist = half_up(half_up(dangling * 10**20, n), 10**20)
        contrib = dict.fromkeys(nodes, 0)
        for (s, t), f in frac.items():
            contrib[t] += rank[s] * f
        rank = {
            v: half_up(base * P + d_pico * (half_up(contrib[v], P) + redist), P)
            for v in nodes
        }
    schema = StructType(
        [StructField("node", node_type), StructField("rank", DoubleType())]
    )
    return spark.createDataFrame(
        [(v, float(Decimal(rank[v]) / P)) for v in nodes], schema
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iterations: int = 15,
) -> DataFrame:
    """Weighted PageRank over an edge DataFrame -> (node, rank).

    Same iterative-op posture as connected_components: each round is
    one equi-join + groupBy (contributions flow src -> dst), lineage
    cut per round with localCheckpoint. The dangling-node mass is a
    one-row aggregate broadcast-joined into the same round's job (no
    per-round driver collect — one Spark job per iteration, not two).
    All arithmetic runs in fixed-point DECIMAL with explicit rounding,
    so partial-sum merge order cannot perturb results — two runs (or a
    retried stage) produce identical ranks.

    Precision: the per-edge product casts both operands to
    decimal(18,12) so the product is decimal(37,24) — within Spark's
    38-digit limit, no precision-loss demotion. (A 28,12 x 28,12
    product resolves to decimal(38,6), which quantizes contributions
    at 1e-6 and zeroes ranks on graphs beyond ~1e4 nodes.)

    A fixed iteration count (not a float tolerance) keeps the plan
    depth bounded and the output deterministic; 15 rounds is <1e-6 from
    the fixed point for damping 0.85 on typical graphs.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1)).cast(_PR_DEC).alias("w"),
    )
    out_w = e.groupBy("src").agg(F.sum("w").cast(_PR_DEC).alias("out_w"))
    # per-edge share of its source's rank, fixed across iterations
    frac = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).cast(_PR_DEC).alias("frac"))
        .localCheckpoint()
    )
    # Bounded driver finish: once the graph is AGGREGATED to an edge
    # frame that fits the bounded-driver-state contract, the remaining
    # ``iterations`` distributed rounds are pure per-job latency —
    # replay the identical integer fixed point on the driver instead
    # (one cheap count of the checkpointed frac decides the branch).
    if frac.count() <= _PR_DRIVER_MAX_EDGES:
        return _pagerank_driver_fixed_point(
            edges.sparkSession,
            frac.collect(),
            frac.schema["src"].dataType,
            damping,
            iterations,
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    base = F.lit((1.0 - damping) / n).cast(_PR_DEC)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n).cast(_PR_DEC)).localCheckpoint()
    has_out = out_w.select(F.col("src").alias("node"))
    mul_dec = "decimal(18,12)"  # 18+18+1 = 37 digits -> product keeps scale 24
    d = F.lit(damping).cast(mul_dec)  # every multiply runs at (18,12)x(18,12)
    for _ in range(iterations):
        # one-row dangling-mass aggregate, broadcast into the same job
        # (ranks is checkpointed, so this subtree re-reads cached rows)
        dangling_df = ranks.join(has_out, "node", "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0).cast(_PR_DEC)).alias("dangling")
        )
        contribs = (
            frac.join(ranks, frac.src == ranks.node)
            .groupBy("dst")
            .agg(
                F.sum(F.col("rank").cast(mul_dec) * F.col("frac").cast(mul_dec))
                .cast(_PR_DEC)
                .alias("c")
            )
        )
        redist = (
            F.col("dangling").cast(mul_dec) / F.lit(n).cast("decimal(20,0)")
        ).cast(_PR_DEC)
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling_df))
            .select(
                "node",
                (
                    base
                    + d
                    * (F.coalesce(F.col("c"), F.lit(0)).cast(_PR_DEC) + redist)
                    .cast(mul_dec)
                )
                .cast(_PR_DEC)
                .alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.col("rank").cast("double").alias("rank"))


def event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (edges = per-user
    consecutive event pairs, weighted by transition count)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # 8 rounds: the 5-node transition graph has a large spectral gap,
    # so ranks are within ~1e-6 of the generic 15-round default (
    # measured); each round is a full Spark job, so rounds are the
    # entire cost here
    return (
        pagerank(edges, weight="n", iterations=8)
        .select(F.col("node").alias("event_type"), F.round("rank", 9).alias("rank"))
        .orderBy("event_type")
    )


def _event_pagerank_oracle_sql(iterations: int = 8, damping: str = "0.85") -> str:
    """Bit-identical DuckDB replay of `pagerank`'s DECIMAL fixed point,
    unrolled ``iterations`` rounds in pure HUGEINT arithmetic.

    The Spark side quantizes at three places per round (Spark decimal
    typing rules, allowPrecisionLoss default):

    - frac = w/out_w: a (28,12)/(28,12) division resolves to
      decimal(38,10), i.e. the edge fraction is rounded HALF-UP at
      1e-10, then cast (exactly) to scale 12;
    - contribs: sum of (18,12)x(18,12) products is exact at scale 24,
      then cast to (28,12) rounds HALF-UP at 1e-12;
    - redist: (18,12)/(20,0) resolves to decimal(38,32) (half-up at
      1e-32), then cast to (28,12) rounds half-up again;
    - rank' = base + 0.85 * (c + redist) is exact at scale 24, cast
      to (28,12) rounds half-up at 1e-12.

    Everything is therefore an integer number of 1e-12 units ("picos"),
    and HALF_UP(n/d) == (2n + d) // (2d) for positives — replayed here
    verbatim.  Init constants go through the same double arithmetic as
    F.lit(1.0/n): cast to DECIMAL at scale 12.  Verified equal to the
    Spark result (and to an independent pure-Python integer replay) at
    sf0.001 and sf0.01.
    """
    P = 10**12
    D = int(float(damping) * P)  # 0.85 at scale 12, exact
    rounds = []
    prev = "r0"
    for i in range(1, iterations + 1):
        cur = f"r{i}"
        rounds.append(f"""{cur} AS (
            SELECT n.node,
                   (2 * (bb.base * {P}::HUGEINT
                         + {D}::HUGEINT * (COALESCE(c.c, 0) + dg.redist))
                    + {P}::HUGEINT) // (2 * {P}::HUGEINT) AS rank
            FROM nodes n
            LEFT JOIN (
                SELECT f.dst AS node,
                       (2 * SUM(r.rank * f.f) + {P}::HUGEINT)
                           // (2 * {P}::HUGEINT) AS c
                FROM frac f JOIN {prev} r ON f.src = r.node
                GROUP BY f.dst
            ) c USING (node)
            CROSS JOIN (
                SELECT (2 * ((2 * COALESCE(SUM(r.rank), 0) * {10**20}::HUGEINT
                              + nn.n) // (2 * nn.n))
                        + {10**20}::HUGEINT) // (2 * {10**20}::HUGEINT) AS redist
                FROM nn LEFT JOIN {prev} r
                     ON r.node NOT IN (SELECT src FROM outw)
                GROUP BY nn.n
            ) dg
            CROSS JOIN bb
        )""")
        prev = cur
    rounds_sql = ",\n        ".join(rounds)
    return f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS next_type
            FROM events
        ), edges AS (
            SELECT event_type AS src, next_type AS dst,
                   CAST(COUNT(*) AS HUGEINT) AS w
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        ), outw AS (
            SELECT src, SUM(w) AS ow FROM edges GROUP BY src
        ), frac AS (
            SELECT e.src, e.dst,
                   ((2 * e.w * {10**10}::HUGEINT + o.ow) // (2 * o.ow))
                       * 100::HUGEINT AS f
            FROM edges e JOIN outw o USING (src)
        ), nodes AS (
            SELECT src AS node FROM edges
            UNION SELECT dst FROM edges
        ), nn AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM nodes
        ), bb AS (
            SELECT CAST(ROUND((1.0::DOUBLE - {damping})
                        / CAST(n AS DOUBLE) * {P}) AS HUGEINT) AS base
            FROM nn
        ), r0 AS (
            SELECT node,
                   (SELECT CAST(ROUND(1.0::DOUBLE / CAST(n AS DOUBLE) * {P})
                           AS HUGEINT) FROM nn) AS rank
            FROM nodes
        ),
        {rounds_sql}
        SELECT node AS event_type,
               ROUND(CAST(rank AS DOUBLE) / {P}, 9) AS rank
        FROM {prev} ORDER BY event_type
    """


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The simple undirected graph of ``edges`` as distinct (a, b) rows
    in both directions, self-loops dropped: the edge set the triangle,
    clustering and assortativity faces count over."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    return und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts -> (node, n_triangles), nodes in at
    least one triangle. In a near-dup pair graph a triangle is three
    mutually-similar documents — dense triangle neighborhoods are
    template/boilerplate families, the usual curation target.

    Degree-ordered orientation (the standard distributed-triangle
    trick, e.g. Suri & Vassilvitskii's MapReduce formulation — public):
    each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so every triangle is enumerated exactly
    once at its lowest-ordered vertex and the wedge join's fan-out is
    bounded by the max ORIENTED out-degree, O(sqrt(m)) — a hub of
    degree d never produces d^2 wedge candidates. Plan: two equi-joins
    + one explode + one groupBy; no iteration.
    """
    und = _undirected(edges, src, dst)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # oriented edge u->v iff (d_u, u) < (d_v, v); carry v's rank key
    # for the wedge ordering below
    keyed = (
        und.join(deg.withColumnRenamed("a", "u").withColumnRenamed("d", "du"),
                 und.a == F.col("u"))
        .join(deg.withColumnRenamed("a", "v").withColumnRenamed("d", "dv"),
              und.b == F.col("v"))
        .where(F.struct("du", "u") < F.struct("dv", "v"))
        .select("u", "v", "dv")
        .localCheckpoint()  # reused by the wedge self-join AND the closing probe
    )
    o1 = keyed.select(F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = keyed.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = o1.join(o2, "u").where(F.struct("dx", "x") < F.struct("dy", "y"))
    closing = keyed.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    return (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: triangle counts over the blocked n-gram Jaccard
    near-dup pair graph (three mutually-near-dup docs = one triangle)."""
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    pairs = _ngram_jaccard_impl(docs)
    return (
        triangle_count(pairs, "doc_a", "doc_b")
        .select(F.col("node").alias("doc_id"), "n_triangles")
        .orderBy("doc_id")
    )


def _doc_triangles_sql() -> str:
    """Orientation-free oracle: triangles enumerated as a < b < c over
    the canonical pair set (pairs already satisfy doc_a < doc_b)."""
    return f"""
        WITH {_pairs_cte()},
        tri AS (
            SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
            FROM pairs p1
            JOIN pairs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
            JOIN pairs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b
        ), nodes AS (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT doc_id, COUNT(*) AS n_triangles
        FROM nodes GROUP BY doc_id ORDER BY doc_id
    """


def _pairs_cte() -> str:
    """The dedup_ngram_jaccard pair derivation as DuckDB CTE bodies."""
    from .dedup import BLOCK_JACCARD_THRESHOLD, _duck_shingles

    return f"""
        sh AS (
            SELECT doc_id, source, {_duck_shingles()} AS sh FROM documents
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
        ), pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= {BLOCK_JACCARD_THRESHOLD}
        )
    """


def _dedup_clusters_sql() -> str:
    return f"""
        WITH RECURSIVE {_pairs_cte()},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.b AS node, r.lbl
            FROM reach r JOIN edges e ON e.a = r.node
        )
        SELECT node AS doc_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY node ORDER BY doc_id
    """


def _dedup_keep_best_sql() -> str:
    return f"""
        WITH RECURSIVE {_pairs_cte()},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.b AS node, r.lbl
            FROM reach r JOIN edges e ON e.a = r.node
        ),
        clusters AS (
            SELECT node AS doc_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT c.doc_id, c.cluster_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id ASC) = 1 AS is_kept
        FROM clusters c JOIN documents d USING (doc_id)
        ORDER BY c.doc_id
    """


BFS_SOURCE_MOD = 10  # doc_graph_distances: sources are doc_id % 10 == 0
BFS_MAX_DEPTH = 20


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = BFS_MAX_DEPTH,
    local_finish_edges: int = 500_000,
) -> DataFrame:
    """Multi-source BFS over an undirected edge list: (node, distance)
    = minimum hop count from any node in ``sources`` (one ``node``
    column), for every REACHABLE node.  Unreachable nodes are absent.

    Same distributed shape as ``connected_components``: one join+agg
    per round over the checkpointed undirected edge list, min-plus
    label propagation, a scalar (reached, sum) convergence probe per
    round, and localCheckpoint lineage cuts — rounds = graph
    eccentricity, capped at ``max_iterations``.

    When the symmetrized edge set fits ``local_finish_edges`` (the
    connected_components bounded-driver-state contract), the distances
    come from one driver-side frontier BFS instead — hop counts are
    exact integers, so the finish is trivially value-identical and the
    per-round Spark-job latency disappears.  Pass
    ``local_finish_edges=0`` to force the distributed path.
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()
    if 0 < und.count() <= 2 * local_finish_edges:
        from pyspark.sql.types import IntegerType, StructField, StructType

        adj: dict = {}
        for r in und.collect():
            adj.setdefault(r["a"], []).append(r["b"])
        seeds = [
            r["node"]
            for r in sources.select(F.col("node")).distinct().collect()
            if r["node"] in adj
        ]
        dist = dict.fromkeys(seeds, 0)
        frontier = seeds
        for depth in range(1, max_iterations + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = depth
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        schema = StructType(
            [
                StructField("node", und.schema["a"].dataType),
                StructField("distance", IntegerType()),
            ]
        )
        return und.sparkSession.createDataFrame(sorted(dist.items()), schema)
    nodes = und.select(F.col("a").alias("node")).distinct()
    labels = (
        nodes.join(sources.select(F.col("node")), "node", "left_semi")
        .withColumn("dist", F.lit(0))
        .union(
            nodes.join(sources.select(F.col("node")), "node", "left_anti")
            .withColumn("dist", F.lit(None).cast("int"))
        )
        .localCheckpoint()
    )

    def _probe(lb: DataFrame) -> tuple:
        row = lb.agg(
            F.count("dist").alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        return (row["n"], row["s"])

    prev = _probe(labels)
    for _ in range(max_iterations):
        nbr = (
            und.join(labels, und.b == labels.node)
            .where(F.col("dist").isNotNull())
            .groupBy("a")
            .agg((F.min("dist") + 1).alias("nbr_dist"))
        )
        labels = (
            labels.join(nbr, labels.node == nbr.a, "left")
            .select(
                "node",
                F.least(
                    F.coalesce(F.col("dist"), F.col("nbr_dist")),
                    F.coalesce(F.col("nbr_dist"), F.col("dist")),
                ).alias("dist"),
            )
            .localCheckpoint()
        )
        cur = _probe(labels)
        if cur == prev:
            break
        prev = cur
    return labels.where(F.col("dist").isNotNull()).select(
        "node", F.col("dist").alias("distance")
    )


def doc_graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the doc_id % 10 == 0 seed set over the
    near-dup pair graph (oracle: recursive CTE min-distance walk)."""
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    pairs = _ngram_jaccard_impl(docs).select("doc_a", "doc_b")
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    seeds = nodes.where(F.col("node") % BFS_SOURCE_MOD == 0)
    out = bfs_distances(pairs, seeds, "doc_a", "doc_b")
    return out.select(F.col("node").alias("doc_id"), "distance").orderBy("doc_id")


def _doc_graph_distances_sql() -> str:
    return f"""
        WITH RECURSIVE {_pairs_cte()},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        walk(node, dist) AS (
            SELECT DISTINCT a, 0 FROM edges WHERE a % {BFS_SOURCE_MOD} = 0
            UNION
            SELECT e.b, w.dist + 1
            FROM walk w JOIN edges e ON e.a = w.node
            WHERE w.dist < {BFS_MAX_DEPTH}
        )
        SELECT node AS doc_id, CAST(MIN(dist) AS INTEGER) AS distance
        FROM walk GROUP BY 1 ORDER BY 1
    """


ORACLE_SQL: dict[str, str] = {
    "doc_graph_distances": _doc_graph_distances_sql(),
    "dedup_clusters": _dedup_clusters_sql(),
    "dedup_clusters_star": _dedup_clusters_sql(),
    "dedup_keep_best": _dedup_keep_best_sql(),
    "doc_triangles": _doc_triangles_sql(),
    "event_pagerank": _event_pagerank_oracle_sql(),
}

QUERIES = {
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_star": dedup_clusters_star,
    "dedup_keep_best": dedup_keep_best,
    "doc_triangles": doc_triangles,
    "doc_graph_distances": doc_graph_distances,
    "event_pagerank": event_pagerank,
}


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    local_finish_edges: int = 500_000,
) -> DataFrame:
    """k-core decomposition: iteratively peel nodes of degree < k
    until the remaining subgraph (the k-core) is stable; returns
    (node, core_degree) for survivors.  The k-core is the standard
    "dense backbone" extract — template/boilerplate families in dedup
    graphs, the stable co-purchase catalog in affinity graphs —
    robust where raw degree is fooled by one-off attachments.

    Same round shape as connected_components: each iteration is one
    degree aggregation + an anti-join dropping low-degree endpoints,
    lineage cut with localCheckpoint, convergence from a scalar edge
    count.  Peeling runs to the TRUE fixed point (edge count stable or
    zero): peel depth has no constant bound — a path graph peels only
    2 nodes/round — so an iteration cap would silently return nodes
    whose degree is still < k.  Termination is guaranteed because the
    edge count strictly decreases every non-final round.

    Round cost is Spark-job latency, and deep peels are long-TAILED:
    the first few distributed rounds remove the bulk, then dozens of
    rounds each peel a handful of chain nodes.  So once the surviving
    edge set fits ``local_finish_edges`` (bounded driver state, same
    contract as the ml fit bounds), the remaining peel finishes in one
    numpy loop — identical semantics, microseconds per round instead
    of a 3-job Spark round.  At 100 TB the early distributed rounds do
    the data-sized work; the local finish only ever sees the bounded
    dense remnant.  (``local_finish_edges=0`` forces pure distributed
    peeling — the tests exercise both paths on the same crafted graphs.)
    """
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    prev = e.count()
    while prev > local_finish_edges:
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        low = deg.where(F.col("d") < k).select("a").localCheckpoint()
        e = (
            e.join(low, e.a == low.a, "left_anti")
            .join(low.select(F.col("a").alias("bb")), e.b == F.col("bb"), "left_anti")
            .localCheckpoint()
        )
        cur = e.count()
        if cur == prev:  # fixed point: every survivor has degree >= k
            break
        prev = cur
    if 0 < prev <= local_finish_edges:
        import numpy as np
        from pyspark.sql.types import LongType, StructField, StructType

        pdf = e.toPandas()
        nodes, inv = np.unique(
            np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()]),
            return_inverse=True,
        )
        ea, eb = inv[: len(pdf)], inv[len(pdf):]
        alive = np.ones(len(ea), dtype=bool)
        while alive.any():
            deg = np.bincount(ea[alive], minlength=len(nodes)) + np.bincount(
                eb[alive], minlength=len(nodes)
            )
            low = deg < k
            drop = alive & (low[ea] | low[eb])
            # nodes with zero degree are gone already; only endpoints of
            # live edges matter, so `low[endpoint]` is the peel test
            if not drop.any():
                break
            alive &= ~drop
        deg = np.bincount(ea[alive], minlength=len(nodes)) + np.bincount(
            eb[alive], minlength=len(nodes)
        )
        keep = np.flatnonzero(deg >= k)
        schema = StructType(
            [
                StructField("node", e.schema["a"].dataType),
                StructField("core_degree", LongType()),
            ]
        )
        rows = sorted(
            (nodes[i].item(), int(deg[i])) for i in keep
        )
        spark = edges.sparkSession
        return spark.createDataFrame(rows, schema=schema).orderBy("node")
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the repeat co-purchase graph: part pairs appearing
    together in >= 2 orders form the edges (one-off co-occurrences are
    noise at catalog scale); the surviving core is the stably
    cross-sold assortment.  Pair generation stays inside the order
    group (basket-size-squared fan-out, the basket_part_affinity
    shape), never catalog-squared.

    Oracle-backed (upgraded from rows-only): the peel fixpoint IS the
    k-core — a round-order-independent set — so the DuckDB oracle
    unrolls the degree-filter round as chained CTEs
    (_part_kcore_oracle_sql; rounds past the fixpoint are no-ops).
    The unroll depth is 20 vs a measured fixpoint depth of 8 at
    sf0.01 / 0 at sf0.001; pure integer arithmetic end to end.
    The crafted-graph pytest (known cores) still pins the generic
    k_core API on both the distributed and driver-finish paths.
    """
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.hint("merge")
        .join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
    )
    return k_core(pairs, "pa", "pb", k=3)


PART_KCORE_ORACLE_ROUNDS = 20


def _part_kcore_oracle_sql(k: int = 3, rounds: int = PART_KCORE_ORACLE_ROUNDS) -> str:
    """Unrolled peel: each round recomputes degrees and keeps edges
    whose endpoints both still have degree >= k.  Once the true
    fixpoint is reached every later round passes the edge set through
    unchanged, so any unroll depth >= the data's peel depth yields
    exactly the k-core Spark's iterate-to-fixpoint loop returns.

    Self-identifying depth (ADVICE r4): if the last two rounds still
    differ, the unroll was too shallow and the result is a SUPERSET of
    the core — the oracle then emits a ``(-1, -1)`` sentinel row so
    the parity failure reads as "oracle depth shortfall", not as a
    Spark bug (without it the mismatch would present engine-side)."""
    parts = [
        """e0 AS MATERIALIZED (
            SELECT a.l_partkey AS a, b.l_partkey AS b
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        )"""
    ]
    for i in range(rounds):
        parts.append(
            f"""d{i} AS MATERIALIZED (
                SELECT node, COUNT(*) AS d FROM (
                    SELECT a AS node FROM e{i}
                    UNION ALL SELECT b FROM e{i}
                ) GROUP BY node
            ), ok{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {k}),
            e{i + 1} AS MATERIALIZED (
                SELECT a, b FROM e{i}
                WHERE a IN (SELECT node FROM ok{i})
                  AND b IN (SELECT node FROM ok{i})
            )"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
        SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
            SELECT a AS node FROM e{rounds}
            UNION ALL SELECT b FROM e{rounds}
        ) GROUP BY node
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS node, CAST(-1 AS BIGINT) AS core_degree
        WHERE (SELECT COUNT(*) FROM e{rounds - 1})
           <> (SELECT COUNT(*) FROM e{rounds})
        ORDER BY node
    """
    )


QUERIES["part_kcore"] = part_kcore
ORACLE_SQL["part_kcore"] = _part_kcore_oracle_sql()


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node LOCAL clustering coefficient: 2*t(v) / (d(v)*(d(v)-1))
    for every node with degree >= 2 — how close a node's neighborhood
    is to a clique.  In a near-dup graph, high-lcc nodes sit inside
    mutually-similar template families (keep one, drop the rest); in
    an affinity graph they mark tightly-bundled catalogs.

    Reuses the degree-ordered triangle enumeration (one pass, no
    iteration) and joins its per-node counts back onto exact integer
    degrees — the coefficient is ONE double division of exact ints,
    bit-reproducible.  Nodes in no triangle get lcc 0, not dropped:
    "present but open" is signal.
    """
    deg = _undirected(edges, src, dst).groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    tri = triangle_count(edges, src, dst).withColumnRenamed("node", "a")
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, "a", "left")
        .select(
            F.col("a").alias("node"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("lcc"),
        )
    )


def doc_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: local clustering coefficients over the blocked
    n-gram Jaccard near-dup pair graph."""
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    # localCheckpoint: the jaccard posting-join subtree would otherwise
    # execute once per consumer (degree pass + triangle orientation +
    # closing probe); the materialized pair list is near-dup-sparse —
    # bounded, like the other graph queries' edge checkpoints
    pairs = _ngram_jaccard_impl(docs).localCheckpoint()
    return (
        local_clustering(pairs, "doc_a", "doc_b")
        .select(F.col("node").alias("doc_id"), "degree", "n_triangles", "lcc")
        .orderBy("doc_id")
    )


def _doc_clustering_sql() -> str:
    return f"""
        WITH {_pairs_cte()},
        und AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ), deg AS (
            SELECT a, COUNT(*) AS degree FROM und GROUP BY a
        ), tri AS (
            SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
            FROM pairs p1
            JOIN pairs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
            JOIN pairs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b
        ), tcount AS (
            SELECT node, COUNT(*) AS n_triangles FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        )
        SELECT d.a AS doc_id, CAST(d.degree AS BIGINT) AS degree,
               CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
               ROUND(2.0 * COALESCE(t.n_triangles, 0)
                     / (d.degree * (d.degree - 1)), 6) AS lcc
        FROM deg d LEFT JOIN tcount t ON t.node = d.a
        WHERE d.degree >= 2
        ORDER BY doc_id
    """


QUERIES["doc_clustering_coeff"] = doc_clustering_coeff
ORACLE_SQL["doc_clustering_coeff"] = _doc_clustering_sql()


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient: the Pearson correlation of
    endpoint degrees over every edge (both directions) — positive
    means hubs link to hubs (social cores), negative means hubs link
    to leaves (star/template topology, the usual near-dup-graph
    signature).  One number that tells you whether dedup clusters are
    cliques or stars before you pick the retention policy.

    Exact BIGINT moments over (deg_u, deg_v) pairs (degrees are exact
    counts; sums fit DECIMAL(38,0)), one double division at the end —
    value-identical across engines.  Cost: the degree aggregation +
    one edge-degree join each side.
    """
    und = _undirected(edges, src, dst)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("a").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("a").alias("v"), F.col("d").alias("dv"))
    pairs = (
        und.join(du, und.a == du.u)
        .join(dv, und.b == dv.v)
        .select("du", "dv")
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("du").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("dv").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("du") * F.col("du")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("dv") * F.col("dv")).cast("decimal(38,0)")).alias("syy"),
        F.sum((F.col("du") * F.col("dv")).cast("decimal(38,0)")).alias("sxy"),
    )
    cov = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / m)"
    vx = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m)"
    vy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / m)"
    return m.select(
        F.col("m").alias("n_directed_edges"),
        F.expr(
            f"CASE WHEN {vx} > 0.0D AND {vy} > 0.0D"
            f" THEN ROUND({cov} / sqrt({vx} * {vy}), 6) END"
        ).alias("assortativity"),
    )


def doc_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: degree assortativity of the near-dup pair graph."""
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    pairs = _ngram_jaccard_impl(docs).localCheckpoint()
    return degree_assortativity(pairs, "doc_a", "doc_b")


def _assortativity_sql() -> str:
    return f"""
        WITH {_pairs_cte()},
        und AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ), deg AS (
            SELECT a, COUNT(*) AS d FROM und GROUP BY a
        ), ep AS (
            SELECT du.d AS du, dv.d AS dv
            FROM und JOIN deg du ON du.a = und.a
                     JOIN deg dv ON dv.a = und.b
        ), m AS (
            SELECT COUNT(*) AS m,
                   CAST(SUM(CAST(du AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(dv AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(du * du AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(dv * dv AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
                   CAST(SUM(CAST(du * dv AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
            FROM ep
        )
        SELECT CAST(m AS BIGINT) AS n_directed_edges,
               CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m) > 0.0
                     AND (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / m) > 0.0
                    THEN ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / m)
                         / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m)
                              * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / m)), 6)
               END AS assortativity
        FROM m
    """


QUERIES["doc_graph_assortativity"] = doc_graph_assortativity
ORACLE_SQL["doc_graph_assortativity"] = _assortativity_sql()


# ---- partition modularity ------------------------------------------------


def partition_modularity(
    edges: DataFrame,
    src: str,
    dst: str,
    labels: DataFrame,
    node_col: str,
    label_col: str,
) -> DataFrame:
    """Newman modularity of a given node partition over an undirected
    simple graph (one row per edge, src < dst): per community c,
    q_contrib_c = e_c/m - (d_c/2m)^2, where e_c = intra-community
    edges and d_c = total degree of c's nodes.  Emitted as the exact
    integer numerator (4*m*e_c - d_c^2) plus the one-division DOUBLE
    contribution, so Q = SUM(q_contrib) and the integers replay on any
    engine.

    Work is edge-linear: two label lookups per edge (join on each
    endpoint), one degree aggregate, one community rollup — nothing is
    ever node x node, so the shape holds on a 100 TB edge list.
    """
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_c")
    )
    # EAGER checkpoint: the labeled edge frame feeds FOUR downstream
    # evaluations (m_row, both unionAll degree branches, intra) — and
    # its upstream is whatever the caller derived `edges` from (for
    # brand_copurchase_modularity, a lineitem self-join): without the
    # checkpoint the compiled plan re-executed that subtree up to 4x
    # (snapshot: 16 FileScans; measured ~2x wall at sf0.1).
    e = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .join(lab.withColumnRenamed("_n", "_a").withColumnRenamed("_c", "_ca"), "_a")
        .join(lab.withColumnRenamed("_n", "_b").withColumnRenamed("_c", "_cb"), "_b")
        .localCheckpoint(eager=True)
    )
    m_row = e.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        e.select(F.col("_a").alias("_n"), F.col("_ca").alias("_c"))
        .unionAll(e.select(F.col("_b").alias("_n"), F.col("_cb").alias("_c")))
        .groupBy("_c")
        .agg(F.count(F.lit(1)).alias("d_c"), F.count_distinct("_n").alias("n_nodes"))
    )
    intra = (
        e.where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("_c"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    return (
        deg.join(intra, "_c", "left")
        .na.fill({"e_c": 0})
        .crossJoin(F.broadcast(m_row))
        .select(
            F.col("_c").alias(label_col),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("e_c").cast("long").alias("intra_edges"),
            F.col("d_c").cast("long").alias("degree_sum"),
            F.expr("CAST(4 * m * e_c - d_c * d_c AS BIGINT)").alias("q_numer"),
            F.expr(
                "ROUND(CAST(4 * m * e_c - d_c * d_c AS DOUBLE)"
                " / (4.0 * m * m), 6)"
            ).alias("q_contrib"),
        )
        .orderBy(label_col)
    )


def _copurchase_pairs(op: DataFrame, min_orders: int) -> DataFrame:
    """Co-purchase edges over ``op``, the distinct (l_orderkey,
    l_partkey) rows: (part_a, part_b, n_ab) for every part pair
    part_a < part_b that shares at least ``min_orders`` orders.  Both
    self-join sides are merge-hinted, so pair generation stays inside
    one order-key exchange and its fan-out is bounded by basket size
    squared."""
    a, b = op.alias("a").hint("merge"), op.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_orders)
    )


def brand_copurchase_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: does co-purchasing concentrate within part
    brands?  Edges are part pairs co-occurring in >= 2 orders (the
    market-basket graph, fan-out bounded by basket size); the
    partition is p_brand; SUM(q_contrib) is the graph's brand
    modularity — near zero means brands don't structure baskets."""
    op = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey").distinct()
    pairs = _copurchase_pairs(op, 2)
    part = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("brand")
    )
    return partition_modularity(pairs, "part_a", "part_b", part, "node", "brand")


def _brand_modularity_sql() -> str:
    return """
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), e AS (
            SELECT pa.p_brand AS ca, pb.p_brand AS cb
            FROM pairs
            JOIN part pa ON pa.p_partkey = part_a
            JOIN part pb ON pb.p_partkey = part_b
        ), m_row AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e
        ), deg AS (
            SELECT c, CAST(COUNT(*) AS BIGINT) AS d_c,
                   CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes
            FROM (
                SELECT ca AS c, part_a AS n FROM (
                    SELECT pa.p_brand AS ca, pairs.part_a
                    FROM pairs JOIN part pa ON pa.p_partkey = part_a)
                UNION ALL
                SELECT cb AS c, part_b AS n FROM (
                    SELECT pb.p_brand AS cb, pairs.part_b
                    FROM pairs JOIN part pb ON pb.p_partkey = part_b)
            ) GROUP BY c
        ), intra AS (
            SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS e_c
            FROM e WHERE ca = cb GROUP BY ca
        )
        SELECT deg.c AS brand,
               n_nodes,
               CAST(COALESCE(intra.e_c, 0) AS BIGINT) AS intra_edges,
               d_c AS degree_sum,
               CAST(4 * m * COALESCE(intra.e_c, 0) - d_c * d_c AS BIGINT) AS q_numer,
               ROUND(CAST(4 * m * COALESCE(intra.e_c, 0) - d_c * d_c AS DOUBLE)
                     / (4.0 * m * m), 6) AS q_contrib
        FROM deg LEFT JOIN intra ON deg.c = intra.c
        CROSS JOIN m_row
        ORDER BY brand
    """


QUERIES["brand_copurchase_modularity"] = brand_copurchase_modularity
ORACLE_SQL["brand_copurchase_modularity"] = _brand_modularity_sql()


# ---- dedup cluster-size distribution ----------------------------------------


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup clusters: how many clusters of
    2, 3-4, 5-8, ... docs exist (log2 buckets) plus the duplicate mass
    (docs - clusters = removable copies) per bucket — the shape that
    tells you whether dedup savings come from many small pairs or a few
    giant template families (they need different retention policies).

    Reuses the connected-components labels; one rollup on cluster_id,
    one tiny bucket aggregate after."""
    from .dedup import _ngram_jaccard_impl

    docs = load_table(spark, "documents", sf_dir)
    pairs = _ngram_jaccard_impl(docs)
    cc = connected_components(pairs, "doc_a", "doc_b")
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.select(
            F.expr("CAST(floor(log2(CAST(sz AS DOUBLE))) AS INT)").alias(
                "log2_size"
            ),
            "sz",
        )
        .groupBy("log2_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.expr("sz - 1")).cast("long").alias("removable_dups"),
        )
        .orderBy("log2_size")
    )


def _cluster_sizes_sql() -> str:
    return f"""
        WITH RECURSIVE {_pairs_cte()},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.b AS node, r.lbl
            FROM reach r JOIN edges e ON e.a = r.node
        ),
        cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
        csizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM cc GROUP BY cluster_id
        )
        SELECT CAST(floor(log2(CAST(sz AS DOUBLE))) AS INTEGER) AS log2_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(sz) AS BIGINT) AS n_docs,
               CAST(SUM(sz - 1) AS BIGINT) AS removable_dups
        FROM csizes GROUP BY 1 ORDER BY log2_size
    """


QUERIES["dedup_cluster_sizes"] = dedup_cluster_sizes
ORACLE_SQL["dedup_cluster_sizes"] = _cluster_sizes_sql()
