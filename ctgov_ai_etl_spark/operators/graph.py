"""Distributed graph analytics: PageRank over an edge DataFrame.

The engine already has the *undirected* graph workhorses (connected
components by label propagation and large-star/small-star,
operators/dedup.py) — this module adds the directed-graph ranking
primitive a curation pipeline uses for link-based quality signals
(rank hosts/documents by in-link mass before sampling).

Scale shape: PageRank is iterative joins, so the only thing that
matters at 100 TB is what each round shuffles.  Here a round is
  ranks ⋈ edges on src  (edges pre-joined with out-degree once,
                          outside the loop)
  → groupBy dst          (partial aggregation: the shuffle carries one
                          row per (task, dst), not one per edge)
  → nodes left-join sums (teleport term for dangling-in nodes)
Edge and rank rows are both keyed by node id throughout, so a
production run would persist ``edges`` bucketed by ``src`` and every
round's first join is shuffle-free; the groupBy on ``dst`` is the one
unavoidable exchange per round.

Determinism: ranks are kept in integer micro-units with floor
division (`r div outdeg`, `(d · m) div 100`) — every operation is
exact 64-bit integer arithmetic, so the result is bit-identical
across engines, partitionings, and summation orders, and the query
hash-checks against an unrolled SQL oracle.  (Float PageRank would
differ in the last ulp by shuffle order.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.cache import track

SCALE = 1_000_000  # rank micro-units: initial rank == 1.0 == 1e6


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> DataFrame:
    """Fixed-iteration integer PageRank; returns (node, rank_micro).

    ``edges`` is a directed edge list (one row per distinct edge —
    dedupe first if multiplicity must not weight the walk).  Nodes
    with no out-edges (dangling) leak their mass, and nodes with no
    in-edges settle at the teleport term — both standard for the
    fixed-iteration formulation and replicated exactly by the SQL
    oracle.

    All arithmetic is int64 with floor division: contribution of a
    node is ``rank div outdeg``, the damped update is
    ``(100-d)% · scale + (d% · Σ contrib) div 100``.

    The edge list is materialized once (eager localCheckpoint, the
    :func:`hits` rule, added r16): it feeds the node-set union (both
    branches), the out-degree count, and every round's join — without
    truncation the caller's edge DERIVATION (for the registered
    queries a lineitem⋈orders join + distinct) re-executes in each of
    those subtrees inside the one final job (measured: graph_pagerank
    7.1 → ~3 s at sf0.1).  On a cluster this materialization is the
    'persist the edge list bucketed by src' step the module docstring
    already prescribes.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint(
        eager=True
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    # Join out-degree once, outside the loop: each round then touches
    # edges exactly once, keyed by src.
    ew = e.join(outdeg, "src")
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    for _ in range(iters):
        sums = (
            ew.join(ranks, ew.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({damping_pct} * coalesce(m, 0L)) div 100")
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> str:
    """Unrolled SQL replay of :func:`pagerank` for a DuckDB oracle.

    ``edges_sql`` is a SELECT producing (src, dst).  The CTE chain
    mirrors the Spark loop term for term; integer floor division on
    non-negative values makes the replay bit-exact.
    """
    base = (100 - damping_pct) * scale // 100
    parts = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg"
        " FROM edges GROUP BY src)",
        "ew AS (SELECT e.src, e.dst, d.outdeg"
        " FROM edges e JOIN deg d ON d.src = e.src)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT ew.dst AS node, sum(r.r // ew.outdeg) AS m"
            f" FROM ew JOIN r{i - 1} r ON r.node = ew.src GROUP BY ew.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" CAST({base} + ({damping_pct} * coalesce(s.m, 0)) // 100 AS BIGINT)"
            f" AS r FROM nodes n LEFT JOIN s{i} s ON s.node = n.node)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, r AS rank_micro FROM r{iters}"
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    scale: int = SCALE,
) -> DataFrame:
    """Fixed-iteration max-normalized HITS (Kleinberg '99): returns
    (node, auth_micro, hub_micro) after ``iters`` mutual-reinforcement
    rounds.

    Integer arithmetic throughout: each half-step sums int64 scores
    along edges, then renormalizes so the MAXIMUM score is ``scale``
    (max-normalization — the rescale-by-any-norm family HITS converges
    under; L2 would need a cross-engine sqrt in the loop).  The raw
    sum is widened to decimal(38,0) before the ``* scale`` product so
    a 100 TB-scale hub count cannot overflow int64 mid-expression.
    Per round: two edge-keyed joins + two partially-aggregated
    shuffles — O(edges) with no fan-out amplification, the same scale
    shape as :func:`pagerank`.  Nodes with no in-edges settle at
    authority 0, no out-edges at hub 0 (standard for the
    fixed-iteration formulation; the SQL oracle replays both).

    Lineage control (the :func:`kcore` rule): the edge set is eagerly
    localCheckpoint-ed once — every iteration joins the materialized
    copy, not the upstream scan — and each FULL iteration's hub frame
    is checkpointed before max-normalization, because ``_norm`` reads
    its input twice (the max-aggregate branch plus the rescale branch)
    and without truncation that doubling compounds per iteration into
    an exponentially growing physical plan.  One checkpoint per
    iteration, not per half-step, halves the job barriers: the
    authority half-step's doubling is bounded by the iteration-end
    truncation, at the price of one extra join+partial-agg recompute
    — cheaper than a dedicated checkpoint job barrier.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hubs = nodes.select("node", F.lit(scale).cast("long").alias("h"))

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(F.max(col).alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(
                f"CAST((CAST({col} AS DECIMAL(38,0)) * {scale}) DIV mx"
                " AS LONG)"
            ).alias(col),
        )

    auth = None
    for _ in range(iters):
        # ONE eager checkpoint per iteration (on hraw), not two, to
        # halve the job barriers.  Dropping araw's
        # checkpoint lets its subtree appear twice in the iteration's
        # plan (_norm reads its input in the max-aggregate branch and
        # the rescale branch), but hraw's checkpoint truncates that
        # doubling every iteration, so lineage stays bounded at ~2x
        # one half-step instead of compounding — the recompute is one
        # extra join+partial-agg over the checkpointed edge list,
        # cheaper than a dedicated checkpoint job + write per
        # half-step.
        araw = (
            e.join(hubs, e.src == hubs.node)
            .select(F.col("dst").alias("node"), F.col("h"))
            .groupBy("node")
            .agg(F.sum("h").cast("long").alias("a"))
        )
        auth = _norm(araw, "a")
        hraw = (
            e.join(auth, e.dst == auth.node)
            .select(F.col("src").alias("node"), F.col("a"))
            .groupBy("node")
            .agg(F.sum("a").cast("long").alias("h"))
        ).localCheckpoint(eager=True)
        hubs = _norm(hraw, "h")
    return (
        nodes.join(auth, "node", "left")
        .join(hubs, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth_micro"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub_micro"),
        )
    )


def hits_oracle_sql(edges_sql: str, iters: int = 3, scale: int = SCALE) -> str:
    """Unrolled SQL replay of :func:`hits` — the CTE chain mirrors the
    Spark loop term for term (HUGEINT widening before the ``* scale``
    product, floor division on non-negative values)."""
    parts = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"h0 AS (SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"ar{i} AS (SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS a"
            f" FROM edges e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"a{i} AS (SELECT node, CAST((CAST(a AS HUGEINT) * {scale})"
            f" // (SELECT max(a) FROM ar{i}) AS BIGINT) AS a FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS (SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS h"
            f" FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"h{i} AS (SELECT node, CAST((CAST(h AS HUGEINT) * {scale})"
            f" // (SELECT max(h) FROM hr{i}) AS BIGINT) AS h FROM hr{i})"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT n.node,
           CAST(coalesce(a.a, 0) AS BIGINT) AS auth_micro,
           CAST(coalesce(h.h, 0) AS BIGINT) AS hub_micro
    FROM nodes n
    LEFT JOIN a{iters} a ON a.node = n.node
    LEFT JOIN h{iters} h ON h.node = n.node"""
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts over an undirected graph — the
    local clustering signal curation pipelines use (spam/link-farm
    detection; a vertex's triangles measure how clique-like its
    neighborhood is).  Returns (node, triangles) for every vertex in
    at least one triangle.

    Input is a raw directed/multi edge list: self-loops drop, each
    undirected edge canonicalizes to (min, max) and dedups, so edge
    multiplicity never multiplies counts.

    The two-shuffle degree-oriented algorithm (the MapReduce-era
    standard, Suri & Vassilvitskii's "Counting Triangles and the
    Curse of the Last Reducer"): orient every edge from its lower
    (degree, id) endpoint to the higher, build wedges by self-joining
    oriented edges on their source, then close each wedge against the
    oriented edge set.  Orientation bounds any vertex's wedge fan-out
    by its *oriented* out-degree ≤ O(√m), so the join never explodes
    on a high-degree hub — the "last reducer" a naive neighbor join
    dies on at 100 TB — and total wedge volume is O(m^1.5) worst
    case, hit only by pathological clique graphs.  Every join is
    keyed (src, then (lo, hi)); no cartesians, no driver data.
    """
    e = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    # The canonical edge set feeds TWO consumers (degree count + the
    # orientation join) and the oriented table THREE (both wedge join
    # sides + the closer); without a materialization barrier each
    # branch re-runs the upstream edge-derivation DAG (the lineitem ⋈
    # orders distinct in the registered query) — measured 4.2 → 2.6 s
    # warm at sf0.1 from these two narrow persists.
    und = track(
        e.filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # Orient low-(deg, id) → high; carry the head's rank tuple so the
    # wedge join can order its two heads without re-joining degrees.
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    lo_first = F.struct("du", "u") < F.struct("dv", "v")
    o = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("d"),
        F.when(lo_first, F.struct(F.col("dv").alias("r0"), F.col("v").alias("r1")))
        .otherwise(F.struct(F.col("du").alias("r0"), F.col("u").alias("r1")))
        .alias("drank"),
    )
    o = track(o.persist())
    o1 = o.select(
        F.col("s").alias("a"), F.col("d").alias("b"), F.col("drank").alias("rb")
    )
    o2 = o.select(
        F.col("s").alias("a2"), F.col("d").alias("c"), F.col("drank").alias("rc")
    )
    wedges = o1.join(o2, (o1.a == o2.a2) & (o1.rb < o2.rc)).select("a", "b", "c")
    # Close the wedge: the (b, c) edge, if present, is oriented b→c
    # because rank(b) < rank(c) by construction.
    closer = o.select(F.col("s").alias("b"), F.col("d").alias("c"))
    tri = wedges.join(closer, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("triangles")
    )


def triangle_count_oracle_sql(edges_sql: str) -> str:
    """DuckDB replay of :func:`triangle_count` via the simple
    id-ordering formulation — a different orientation (plain u < v
    instead of degree rank) that provably yields the same triangle
    set, so a hash match checks the algorithm, not a shared
    implementation.  ``edges_sql`` selects raw (x, y) pairs."""
    return f"""WITH raw AS ({edges_sql}),
    und AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
            FROM raw WHERE x <> y),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY node"""


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected graph — the
    link-graph quality filter (vertices surviving the k-core have ≥ k
    neighbors that themselves survive; spam farms and dangling tails
    peel away).  Returns (node, deg) for vertices alive after
    ``rounds`` peels, with their degree in the surviving subgraph.

    FIXED iteration count, not peel-to-fixpoint: both this loop and
    the SQL oracle unroll exactly ``rounds`` rounds, so the result is
    a pure function of (edges, k, rounds) — same contract as the
    fixed-iteration PageRank.  Real corpora converge in few rounds
    (each peel must remove ≥ 1 vertex to matter); callers needing the
    exact core add rounds or loop on a count.

    Scale shape: each round is two semi-joins (edge endpoints against
    the alive set) + one partially-aggregated degree count — all keyed
    on vertex id, no driver data, state = the narrow alive set."""
    if rounds < 1:
        raise ValueError(f"kcore requires rounds >= 1, got {rounds}")
    e = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    und = (
        e.filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
        .distinct()
        .persist()
    )
    sym = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    alive = sym.select(F.col("a").alias("node")).distinct()
    deg = None
    for _ in range(rounds):
        live = (
            sym.join(alive.select(F.col("node").alias("a")), "a", "left_semi")
            .join(alive.select(F.col("node").alias("b")), "b", "left_semi")
        )
        deg = live.groupBy(F.col("a").alias("node")).agg(
            F.count("*").cast("long").alias("deg")
        )
        # Truncate lineage each peel (the connected_components rule):
        # without it the alive set's plan doubles per round — two
        # semi-joins of a tree containing the previous tree twice —
        # and five rounds of that is exponential re-execution.
        # KEPT eager-per-round after measuring batched checkpoints:
        # two peels per eager checkpoint
        # doubled the query (4.6 → 8.2 s at sf0.1 — the un-truncated
        # round is recomputed by both next-round semi-joins), and lazy
        # per-round checkpoints still lost to eager (6.3 vs 4.6 s
        # median — cache-population races between the two consuming
        # stages recompute part of each round).  The barrier-per-round
        # is the cheapest correct shape here.
        deg = deg.localCheckpoint(eager=True)
        alive = deg.filter(F.col("deg") >= k).select("node")
    # Every round eagerly checkpoints deg, so the returned plan depends
    # only on the final (checkpointed) deg — the canonical edge cache is
    # no longer in its lineage and can be released here instead of
    # leaking into the session (async: don't block the caller).
    und.unpersist(blocking=False)
    return deg.join(alive, "node", "left_semi")


def kcore_oracle_sql(edges_sql: str, k: int, rounds: int = 5) -> str:
    """Unrolled SQL replay of :func:`kcore` — same canonicalization,
    same exactly-``rounds`` peels."""
    parts = [
        f"raw AS ({edges_sql})",
        "und AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v"
        " FROM raw WHERE x <> y)",
        "sym AS (SELECT u AS a, v AS b FROM und"
        " UNION ALL SELECT v, u FROM und)",
        "alive0 AS (SELECT DISTINCT a AS node FROM sym)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"deg{i} AS (SELECT s.a AS node, CAST(count(*) AS BIGINT) AS deg"
            f" FROM sym s"
            f" JOIN alive{i - 1} x ON x.node = s.a"
            f" JOIN alive{i - 1} y ON y.node = s.b"
            f" GROUP BY s.a)"
        )
        parts.append(
            f"alive{i} AS (SELECT node FROM deg{i} WHERE deg >= {k})"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT d.node, d.deg FROM deg{rounds} d"
        + f" JOIN alive{rounds} a ON a.node = d.node"
    )


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Min-hop BFS layers from a seed set over the undirected graph —
    the neighborhood-expansion primitive (taint/contamination spread,
    "within k links of a trusted seed" curation filters).  Returns
    (node, hop) where hop is the minimum distance ≤ ``max_hops``;
    unreached nodes are absent.

    Frontier algorithm: each round joins the (narrow) frontier to the
    symmetrized edge list, anti-joins the visited set, and checkpoints
    the new layer — lineage stays flat and every round shuffles
    O(frontier-adjacent edges), not O(graph).  The anti-join IS the
    min-hop guarantee: a node enters ``visited`` in the first round
    that reaches it, so no min-aggregation pass is needed.  State is
    the visited set — narrow (node, hop) rows, the same bound the
    connected-components operators carry.

    ``seeds`` is a one-column (node) DataFrame; duplicate seed rows
    are tolerated (deduped at hop 0).
    """
    if max_hops < 0:
        raise ValueError(f"bfs_layers requires max_hops >= 0, got {max_hops}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
    )
    frontier = visited
    for i in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier.node == sym.a)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(i))
        )
        # Same lineage rule as kcore: each layer's plan would contain
        # the previous layer's twice (join + anti-join) — checkpoint
        # keeps round cost flat.
        nxt = nxt.localCheckpoint(eager=True)
        visited = visited.unionAll(nxt)
        frontier = nxt
    sym.unpersist(blocking=False)
    return visited.select("node", F.col("hop").cast("int").alias("hop"))


def bfs_oracle_sql(edges_sql: str, seeds_where: str, max_hops: int) -> str:
    """Recursive-CTE replay of :func:`bfs_layers`: walk every path up
    to ``max_hops`` (UNION dedupes (node, hop) pairs, bounding the
    recursion), then min-hop per node — equivalent to the frontier
    anti-join because first discovery IS the minimum hop.

    ``edges_sql`` must yield columns (src, dst); ``seeds_where`` is a
    predicate over the distinct node set selecting hop-0 seeds.
    """
    return f"""
    WITH RECURSIVE raw AS ({edges_sql}),
    sym AS (
      SELECT src AS a, dst AS b FROM raw WHERE src <> dst
      UNION
      SELECT dst, src FROM raw WHERE src <> dst
    ),
    walk AS (
      SELECT node, 0 AS hop FROM (
        SELECT DISTINCT a AS node FROM sym
        UNION SELECT DISTINCT b FROM sym
      ) WHERE {seeds_where}
      UNION
      SELECT s.b, w.hop + 1 FROM walk w JOIN sym s ON s.a = w.node
      WHERE w.hop < {max_hops}
    )
    SELECT node, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY node
    """


def personalized_pagerank(
    edges: DataFrame,
    seed_pred,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> DataFrame:
    """Fixed-iteration integer personalized PageRank: teleport mass
    returns ONLY to the seed set (``seed_pred``: Column function of
    the node id), so scores measure proximity to the seeds — the
    trusted-seed propagation behind TrustRank-style quality signals
    and seed-anchored corpus expansion (find pages "close to" a
    vetted whitelist before sampling).

    Same per-round shuffle shape and integer floor-division
    determinism as :func:`pagerank`; the only differences are the
    seed-indicator base term (``base`` for seeds, 0 elsewhere) and
    the seed-concentrated initial distribution (``scale`` on seeds,
    0 elsewhere) — both map-side expressions on the node frame, so
    personalization adds ZERO shuffles.

    Teleport normalization — intentional deviation: EVERY seed gets
    the full ``(100 - damping) * scale`` teleport base rather than
    the conventional PPR split of one unit of teleport mass across
    the seed set.  Total injected mass therefore grows with
    ``|seeds|``, and ``rank_micro`` values are comparable only
    between runs with the SAME seed set (for cross-seed-set
    comparisons, divide by the seed count — a post-hoc scalar, since
    the recursion is linear in the teleport vector).  The
    unnormalized form keeps every score an exact integer multiple of
    the same base regardless of seed count, which is what the
    bit-exact cross-engine oracle pins; both engines implement this
    same semantic."""
    # Materialize the edge list once (the pagerank/hits rule, r16):
    # the node-set union, the out-degree count, and every round's join
    # otherwise each re-run the caller's edge-derivation DAG.
    e = edges.select(
        F.col("src").alias("src"), F.col("dst").alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", seed_pred(F.col("node")).alias("is_seed"))
    )
    outdeg = e.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    ew = e.join(outdeg, "src")
    base = (100 - damping_pct) * scale // 100
    seed_base = F.when(F.col("is_seed"), F.lit(base)).otherwise(
        F.lit(0)
    ).cast("long")
    ranks = nodes.select(
        "node",
        F.when(F.col("is_seed"), F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    for _ in range(iters):
        sums = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("r div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                seed_base
                + F.expr(f"({damping_pct} * coalesce(m, 0L)) div 100")
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def personalized_pagerank_oracle_sql(
    edges_sql: str,
    seed_sql: str,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> str:
    """Unrolled SQL replay of :func:`personalized_pagerank`.

    ``seed_sql`` is a boolean SQL expression over ``node`` (must be
    pure integer arithmetic so both engines evaluate it identically).
    """
    base = (100 - damping_pct) * scale // 100
    parts = [
        f"edges AS ({edges_sql})",
        "nodes0 AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"nodes AS (SELECT node, ({seed_sql}) AS is_seed FROM nodes0)",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg"
        " FROM edges GROUP BY src)",
        "ew AS (SELECT e.src, e.dst, d.outdeg"
        " FROM edges e JOIN deg d ON d.src = e.src)",
        f"r0 AS (SELECT node, CAST(CASE WHEN is_seed THEN {scale}"
        " ELSE 0 END AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT ew.dst AS node, sum(r.r // ew.outdeg) AS m"
            f" FROM ew JOIN r{i - 1} r ON r.node = ew.src GROUP BY ew.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" CAST((CASE WHEN n.is_seed THEN {base} ELSE 0 END)"
            f" + ({damping_pct} * coalesce(s.m, 0)) // 100 AS BIGINT)"
            f" AS r FROM nodes n LEFT JOIN s{i} s ON s.node = n.node)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, r AS rank_micro FROM r{iters}"
    )
