"""Link-graph ranking for URL/domain-level corpus curation.

Web-scale curation pipelines rank hosts by link centrality before
sampling (Common Crawl publishes harmonic-centrality / PageRank-style
host ranks; RefinedWeb and friends filter on them).  This module
implements fixed-iteration PageRank as pure DataFrame ops — the
canonical iterative-shuffle Spark workload — in EXACT integer
parts-per-billion arithmetic so every engine reproduces bit-identical
ranks (float PageRank sums are order-dependent and can never be
value-hashed across engines).

Scale shape per iteration: one equi-join of the edge table with the
current rank vector on ``src`` (both sides hash-partitioned on src —
a self-reusable exchange), one groupBy(dst) with map-side partial
sums, one left join back to the node set.  Plan growth is bounded by
``localCheckpoint`` every iteration, exactly like the CC operators.
Dangling nodes (no out-links) keep the damping floor — the standard
simplification; redistributing their mass adds one tiny scalar agg
per round if ever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import hash32

PPB = 1_000_000_000          # rank unit: parts-per-billion of 1.0/node
DAMP_NUM, DAMP_DEN = 850, 1000   # 0.85 damping as an exact rational


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, rank_ppb) after ``iters`` synchronous PageRank rounds
    from a uniform start of PPB per node.

    Update rule, all integer (floor division, positive operands —
    identical semantics to DuckDB's ``//``):

        contrib(u)   = rank(u) div outdeg(u)
        rank'(v)     = (1-d)·PPB + (d_num · Σ contrib(u→v)) div d_den

    Multi-edges are meaningful (each contributes); callers wanting
    simple-graph semantics distinct the edge table first."""
    edges = edges.select(F.col("src").cast("long").alias("src"),
                         F.col("dst").cast("long").alias("dst"))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionAll(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # outdeg rides WITH the edge table so each iteration's join touches
    # one prepartitioned input, not two
    ed = edges.join(deg, "src").localCheckpoint(eager=True)

    ranks = nodes.select("node", F.lit(PPB).cast("long").alias("rank_ppb"))
    floor_ppb = (PPB * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    for _ in range(iters):
        contrib = (ed.join(ranks, ed.src == ranks.node)
                   .select(F.col("dst").alias("node"),
                           F.expr("rank_ppb div outdeg").alias("c")))
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(inflow, "node", "left")
                 .select("node",
                         (F.lit(floor_ppb) +
                          F.expr(f"({DAMP_NUM} * coalesce(s, 0)) div {DAMP_DEN}"))
                         .cast("long").alias("rank_ppb"))
                 .localCheckpoint(eager=True))
    return ranks


def pagerank_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle: the same integer update rule, unrolled — one CTE
    per iteration (recursion is unnecessary for a fixed count and
    unrolling keeps it plain ANSI)."""
    floor_ppb = (PPB * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    sql = [f"edges AS ({edges_cte})",
           "nodes AS (SELECT DISTINCT node FROM "
           "(SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))",
           "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
           f"r0 AS (SELECT node, {PPB}::BIGINT AS rank_ppb FROM nodes)"]
    for i in range(iters):
        sql.append(f"""r{i + 1} AS (
  SELECT n.node,
         ({floor_ppb} + ({DAMP_NUM} * COALESCE(s.c, 0)) // {DAMP_DEN})::BIGINT
           AS rank_ppb
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank_ppb // d.outdeg) AS c
    FROM edges e JOIN r{i} r ON r.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node)""")
    return ",\n".join(sql) + f"\nSELECT node, rank_ppb FROM r{iters}"


# ---------------------------------------------------------------------------
# Redirect-chain resolution.  Crawl postprocessing must map every
# fetched URL to its FINAL target (3xx chains, link-rot hops) before
# dedup/canonicalization — or the same page enters the corpus once per
# chain prefix.  A naive per-hop join is O(longest chain) shuffles;
# this is POINTER DOUBLING (classic parallel list-ranking): each round
# composes the current map with itself, so after r rounds every URL
# points min(chain_len, 2^r) hops ahead — O(log h) joins resolve
# chains of length h.  The DuckDB oracle walks the same map with a
# recursive CTE capped at 2^max_doublings hops, so resolved/unresolved
# verdicts agree exactly (cycles and over-long chains stay unresolved
# in both engines).


def resolve_redirects(edges: DataFrame, max_doublings: int = 4,
                      src_col: str = "src_url",
                      dst_col: str = "dst_url") -> DataFrame:
    """(src_url, final_url, n_hops, resolved) for every redirecting URL.

    The input is made functional and deterministic first (min(dst) per
    src; self-redirects dropped).  ``resolved`` = the chain reached a
    terminal (a node that is not itself a redirect source) within
    2^``max_doublings`` hops; unresolved rows (cycles, longer chains)
    carry NULL final/hops.  Scale shape: each round is ONE self-join of
    the (src, dst, hops) map on a single key plus a localCheckpoint
    (plan-growth guard, same as the CC operators); hop counts compose
    additively inside the join — no per-hop iteration ever touches the
    full corpus."""
    m = (edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
         .where(F.col("src") != F.col("dst"))
         .groupBy("src").agg(F.min("dst").alias("dst")))
    cur = (m.select("src", "dst", F.lit(1).cast("long").alias("hops"))
           .localCheckpoint(eager=True))
    for _ in range(max_doublings):
        b = cur.select(F.col("src").alias("_mid"),
                       F.col("dst").alias("_dst2"),
                       F.col("hops").alias("_hops2"))
        cur = (cur.join(b, cur["dst"] == b["_mid"], "left")
               .select("src",
                       F.coalesce("_dst2", "dst").alias("dst"),
                       (F.col("hops") + F.coalesce(F.col("_hops2"), F.lit(0)))
                       .alias("hops"))
               .localCheckpoint(eager=True))
    nonterm = m.select(F.col("src").alias("dst"),
                       F.lit(True).alias("_nonterm"))
    return (cur.join(nonterm, "dst", "left")
            .select(F.col("src").alias("src_url"),
                    F.when(F.col("_nonterm").isNull(), F.col("dst"))
                    .alias("final_url"),
                    F.when(F.col("_nonterm").isNull(), F.col("hops"))
                    .cast("long").alias("n_hops"),
                    F.col("_nonterm").isNull().alias("resolved")))


def resolve_redirects_sql(edges_cte: str, max_doublings: int = 4) -> str:
    """DuckDB oracle: recursive walk over the same functional map,
    capped at 2^max_doublings hops; yields ``redirects``."""
    cap = 2 ** max_doublings
    return f"""redge AS ({edges_cte}),
rmap AS (SELECT src_url AS src, min(dst_url) AS dst FROM redge
         WHERE src_url <> dst_url GROUP BY src_url),
rwalk AS (
  SELECT src, dst AS cur, 1::BIGINT AS hops FROM rmap
  UNION ALL
  SELECT w.src, m.dst, w.hops + 1 FROM rwalk w
  JOIN rmap m ON w.cur = m.src WHERE w.hops < {cap}
),
rlast AS (SELECT src, arg_max(cur, hops) AS cur, max(hops) AS hops
          FROM rwalk GROUP BY src),
redirects AS (
  SELECT l.src AS src_url,
         CASE WHEN m.src IS NULL THEN l.cur END AS final_url,
         CASE WHEN m.src IS NULL THEN l.hops END::BIGINT AS n_hops,
         (m.src IS NULL) AS resolved
  FROM rlast l LEFT JOIN rmap m ON l.cur = m.src
)"""


# ---------------------------------------------------------------------------
# Domain-level link reciprocity.  Organic linking is asymmetric
# (authorities receive far more than they return); link farms and paid
# networks show up as domains whose outlink partners overwhelmingly
# link BACK.  The classic counter-signal is the reciprocity rate over
# the domain-pair graph (e.g. Becchetti et al., "Link Analysis for Web
# Spam Detection", TWEB 2008 — public literature; reimplemented
# relationally).  Scale shape: collapse the edge table to distinct
# directed domain pairs first (the only corpus-sized shuffle), then
# ONE self-join on the reversed fixed-width key and ONE uniform
# groupBy(domain) — reciprocity never touches page rows.


def link_reciprocity(edges: DataFrame,
                     src_col: str = "src_domain",
                     dst_col: str = "dst_domain") -> DataFrame:
    """(domain, n_out_domains, n_reciprocal, n_links, reciprocity_ppm)
    per linking domain.  ``n_out_domains`` counts distinct partner
    domains, ``n_reciprocal`` those that link back, ``n_links`` total
    directed (multi-)edges; ``reciprocity_ppm`` is the exact integer
    n_reciprocal·10⁶ div n_out_domains.  Self-links are dropped."""
    e = (edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
         .where(F.col("a") != F.col("b"))
         .groupBy("a", "b").agg(F.count("*").alias("n_ab")))
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"),
                   F.lit(1).alias("_back"))
    j = e.join(rev, ["a", "b"], "left")
    return (j.groupBy(F.col("a").alias("domain"))
            .agg(F.count("*").alias("n_out_domains"),
                 F.sum(F.coalesce(F.col("_back"), F.lit(0)))
                 .cast("long").alias("n_reciprocal"),
                 F.sum("n_ab").cast("long").alias("n_links"))
            .withColumn("reciprocity_ppm",
                        F.expr("(n_reciprocal * 1000000L) div "
                               "n_out_domains").cast("long")))


def link_reciprocity_sql(edges_cte: str) -> str:
    """DuckDB oracle over ``edges_cte`` (src_domain, dst_domain);
    yields ``reciprocity``."""
    return f"""ledge AS ({edges_cte}),
lpair AS (SELECT src_domain AS a, dst_domain AS b, count(*)::BIGINT AS n_ab
          FROM ledge WHERE src_domain <> dst_domain GROUP BY 1, 2),
reciprocity AS (
  SELECT p.a AS domain,
         count(*)::BIGINT AS n_out_domains,
         sum(CASE WHEN r.a IS NULL THEN 0 ELSE 1 END)::BIGINT
           AS n_reciprocal,
         sum(p.n_ab)::BIGINT AS n_links,
         ((sum(CASE WHEN r.a IS NULL THEN 0 ELSE 1 END) * 1000000) //
          count(*))::BIGINT AS reciprocity_ppm
  FROM lpair p LEFT JOIN lpair r ON p.a = r.b AND p.b = r.a
  GROUP BY p.a
)"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) — the second classic link-
# centrality signal next to PageRank: a page is a good AUTHORITY if
# good hubs link to it, a good HUB if it links to good authorities.
# Curation pipelines use authority scores to pick seed/quality domains
# and hub scores to find link farms (high hub, low authority).  Same
# exact-integer design as ``pagerank``: scores live in parts-per-
# million of the round's MAX (max-normalization instead of the
# textbook L2 norm — scale-equivalent for ranking, and exactly
# representable in integers, where an L2 norm never is), so every
# engine reproduces bit-identical scores.

PPM = 1_000_000


def _scale_to_max(df: DataFrame, col: str) -> DataFrame:
    """score → score·PPM div max(score), exact.  The multiply runs in a
    DECIMAL(38,0) lane: with raw sums bounded by indeg·PPM ≤ ~9·10¹⁸
    the int64 sum is safe, but sum·PPM is not — decimal holds 10³⁸ and
    Spark's ``div`` / DuckDB's ``//`` agree on non-negative integral
    division (micro-pinned in test_hits_scale_div_parity)."""
    mx = df.agg(F.max(col).alias("_mx"))
    return (df.crossJoin(F.broadcast(mx))
            .select("node",
                    F.expr(f"(CAST({col} AS DECIMAL(38,0)) * {PPM}) "
                           f"div greatest(_mx, 1)")
                    .cast("long").alias(col)))


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, hub_ppm, auth_ppm) after ``iters`` synchronous HITS
    rounds from a uniform hub start of PPM per node.

    Per round (all integer):

        auth(v) = Σ_{u→v} hub(u),  then auth ← auth·PPM div max(auth)
        hub(u)  = Σ_{u→v} auth(v), then hub  ← hub·PPM div max(hub)

    Multi-edges contribute once each (distinct the edge table first
    for simple-graph semantics).  Scale shape per round: two edge⨝score
    equi-joins (src- then dst-keyed) each feeding a groupBy with
    map-side partial sums, plus one scalar max broadcast — no global
    sort, no driver state; ``localCheckpoint`` bounds plan growth
    exactly like ``pagerank`` / the CC operators.  Dangling/unlinked
    directions score 0, the standard convention."""
    edges = edges.select(F.col("src").cast("long").alias("src"),
                         F.col("dst").cast("long").alias("dst"))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionAll(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    e = edges.localCheckpoint(eager=True)
    hub = nodes.select("node", F.lit(PPM).cast("long").alias("hub"))
    auth = nodes.select("node", F.lit(0).cast("long").alias("auth"))
    for _ in range(iters):
        a_raw = (e.join(hub, e["src"] == hub["node"])
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("hub").alias("auth")))
        a_all = (nodes.join(a_raw, "node", "left")
                 .select("node", F.coalesce("auth", F.lit(0))
                         .cast("long").alias("auth")))
        auth = _scale_to_max(a_all, "auth").localCheckpoint(eager=True)
        h_raw = (e.join(auth, e["dst"] == auth["node"])
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("auth").alias("hub")))
        h_all = (nodes.join(h_raw, "node", "left")
                 .select("node", F.coalesce("hub", F.lit(0))
                         .cast("long").alias("hub")))
        hub = _scale_to_max(h_all, "hub").localCheckpoint(eager=True)
    return (hub.join(auth, "node")
            .select("node", F.col("hub").alias("hub_ppm"),
                    F.col("auth").alias("auth_ppm")))


def hits_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle: the same integer update rule unrolled, HUGEINT
    lane for the scale multiply.  Every CTE is MATERIALIZED: each
    iteration reads the previous one's CTEs twice (join + max), and
    DuckDB inlines an unmarked CTE at every reference, so the plan
    would grow ~18x per iteration."""
    sql = [f"edges AS MATERIALIZED ({edges_cte})",
           "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
           "(SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))",
           f"h0 AS MATERIALIZED (SELECT node, {PPM}::BIGINT AS hub FROM nodes)"]
    for i in range(iters):
        sql.append(f"""ar{i + 1} AS MATERIALIZED (
  SELECT n.node, COALESCE(s.s, 0)::BIGINT AS s FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(h.hub) AS s
    FROM edges e JOIN h{i} h ON h.node = e.src GROUP BY e.dst) s
  ON s.node = n.node),
a{i + 1} AS MATERIALIZED (
  SELECT node, ((s::HUGEINT * {PPM}) //
                greatest((SELECT max(s) FROM ar{i + 1}), 1))::BIGINT AS auth
  FROM ar{i + 1}),
hr{i + 1} AS MATERIALIZED (
  SELECT n.node, COALESCE(s.s, 0)::BIGINT AS s FROM nodes n LEFT JOIN (
    SELECT e.src AS node, sum(a.auth) AS s
    FROM edges e JOIN a{i + 1} a ON a.node = e.dst GROUP BY e.src) s
  ON s.node = n.node),
h{i + 1} AS MATERIALIZED (
  SELECT node, ((s::HUGEINT * {PPM}) //
                greatest((SELECT max(s) FROM hr{i + 1}), 1))::BIGINT AS hub
  FROM hr{i + 1})""")
    return (",\n".join(sql) +
            f"\nSELECT h.node, h.hub AS hub_ppm, a.auth AS auth_ppm "
            f"FROM h{iters} h JOIN a{iters} a ON a.node = h.node")


# ---------------------------------------------------------------------------
# Multi-source BFS crawl depth.  Frontier schedulers and quality
# filters both key on LINK DISTANCE FROM TRUSTED SEEDS (OPIC-style
# crawl ordering; seed-distance is a standard trust/quality prior —
# TrustRank, Gyöngyi et al., VLDB 2004, propagates exactly along this
# depth).  This is DELTA-FRONTIER BFS: each round joins only the nodes
# discovered LAST round against the edge table, so the shuffle per
# round is frontier-sized, never corpus-sized — the property that makes
# BFS viable on a 10^12-edge link graph where re-joining the full
# settled set every round would be O(depth · corpus).


def bfs_depths(edges: DataFrame, seeds: DataFrame,
               max_depth: int = 6) -> DataFrame:
    """(node, depth) minimum hop count from the seed set, for every
    node reachable within ``max_depth`` hops (seeds themselves at 0).

    Per round: ONE equi-join of the current frontier (only) with the
    edge table on src, one distinct on the discovered dst set, one
    broadcast-sized anti-join against settled nodes, and a
    localCheckpoint plan guard — the same growth bound as
    pagerank/CC.  Rounds stop early when a frontier empties (a cheap
    take(1) probe on the already-materialized checkpoint).  Min-depth
    correctness needs no min() anywhere: BFS discovers each node first
    at its minimum depth by construction."""
    e = (edges.select(F.col("src").cast("long").alias("src"),
                      F.col("dst").cast("long").alias("dst"))
         .localCheckpoint(eager=True))
    settled = (seeds.select(F.col("node").cast("long").alias("node"))
               .distinct()
               .select("node", F.lit(0).cast("long").alias("depth"))
               .localCheckpoint(eager=True))
    frontier = settled.select("node")
    for d in range(1, max_depth + 1):
        nxt = (frontier.join(e, frontier["node"] == e["src"])
               .select(F.col("dst").alias("node")).distinct()
               .join(settled.select("node"), "node", "left_anti")
               .localCheckpoint(eager=True))
        if not nxt.take(1):
            break
        settled = (settled.unionAll(
            nxt.select("node", F.lit(d).cast("long").alias("depth")))
            .localCheckpoint(eager=True))
        frontier = nxt.select("node")
    return settled


def bfs_depths_sql(edges_cte: str, seeds_cte: str,
                   max_depth: int = 6) -> str:
    """DuckDB oracle: recursive CTE walk with UNION dedup on
    (node, depth), min(depth) per node; yields ``bfs_depth``."""
    return f"""bedge AS ({edges_cte}),
bseed AS ({seeds_cte}),
bwalk AS (
  SELECT node, 0::BIGINT AS depth FROM bseed
  UNION
  SELECT e.dst AS node, w.depth + 1
  FROM bwalk w JOIN bedge e ON e.src = w.node
  WHERE w.depth < {max_depth}
),
bfs_depth AS (
  SELECT node, min(depth)::BIGINT AS depth FROM bwalk GROUP BY node
)"""


# ---------------------------------------------------------------------------
# Label-propagation communities (Raghavan et al., Phys. Rev. E 2007 —
# public algorithm, reimplemented relationally).  Connectivity (the CC
# operators) answers "same near-dup cluster?"; community structure
# answers "same densely-linked neighborhood?" — the host/domain
# community signal behind link-farm discovery and topical crawl
# scheduling.  Synchronous LPA with a deterministic mode rule: each
# round every node adopts the most frequent label among its neighbors,
# ties broken by the SMALLEST label, so every engine converges to
# bit-identical assignments (textbook LPA breaks ties randomly, which
# no oracle could reproduce).


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, community) after ``iters`` synchronous LPA rounds over
    the UNDIRECTED simple graph (edges are symmetrized + deduped);
    labels start as the node id; isolated directions keep their label.

    Per round: ONE edge⨝label equi-join on src (the edge table rides
    pre-partitioned via localCheckpoint), one (node, label) groupBy
    with map-side partials, one partial-aggregable max_by — the mode
    rule never sorts neighbor lists — and one left join back to carry
    unchanged labels.  Hub nodes are AQE's skew case; plan growth is
    checkpoint-bounded exactly like pagerank/CC."""
    fwd = edges.select(F.col("src").cast("long").alias("src"),
                       F.col("dst").cast("long").alias("dst"))
    e = (fwd.unionAll(fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
         .where(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    nodes = e.select(F.col("src").alias("node")).distinct()
    lab = (nodes.select("node", F.col("node").alias("label"))
           .localCheckpoint(eager=True))
    for _ in range(iters):
        nb = (e.join(lab, e["src"] == lab["node"])
              .select(F.col("dst").alias("node"), "label"))
        cnt = nb.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        # mode with smallest-label ties: max over (cnt, -label)
        upd = cnt.groupBy("node").agg(
            F.max_by("label", F.struct(F.col("cnt").alias("c"),
                                       (-F.col("label")).alias("nl")))
            .alias("_new"))
        lab = (lab.join(upd, "node", "left")
               .select("node", F.coalesce("_new", "label").alias("label"))
               .localCheckpoint(eager=True))
    return lab.select("node", F.col("label").alias("community"))


def label_propagation_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle: the same symmetrize + deterministic-mode rounds,
    unrolled; mode via row_number (cnt desc, label asc) = Spark's
    max_by(label, (cnt, -label)).  Final SELECT from lp{iters}."""
    sql = [f"lpe0 AS ({edges_cte})",
           "lpe AS (SELECT DISTINCT src, dst FROM ("
           "SELECT src, dst FROM lpe0 UNION ALL "
           "SELECT dst AS src, src AS dst FROM lpe0) WHERE src <> dst)",
           "lpn AS (SELECT DISTINCT src AS node FROM lpe)",
           "lp0 AS (SELECT node, node AS label FROM lpn)"]
    for i in range(iters):
        sql.append(f"""lpc{i} AS (
  SELECT e.dst AS node, l.label, count(*) AS cnt
  FROM lpe e JOIN lp{i} l ON l.node = e.src GROUP BY 1, 2),
lp{i + 1} AS (
  SELECT l.node, coalesce(u.label, l.label) AS label
  FROM lp{i} l LEFT JOIN (
    SELECT node, label FROM (
      SELECT node, label, row_number() OVER (
        PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
      FROM lpc{i}) WHERE rn = 1) u ON u.node = l.node)""")
    return (",\n".join(sql) +
            f"\nSELECT node, label AS community FROM lp{iters}")


# ---------------------------------------------------------------------------
# k-core peeling (Seidman 1983; distributed peel after Montresor et al.,
# "Distributed k-Core Decomposition", PODC 2011 — public literature,
# reimplemented relationally).  The k-core — the maximal subgraph where
# every node keeps degree ≥ k — is the dense-subgraph signal behind
# web-spam farms and seed-quality cores (TrustRank seeds are picked
# from high cores).  Deterministic FIXED-ROUND peel: both engines run
# exactly ``max_rounds`` delete-below-k rounds (a converged round is a
# no-op, so early-stopping Spark at the fixpoint cannot diverge from
# the oracle's unrolled rounds).


def kcore_peel(edges: DataFrame, k: int = 4,
               max_rounds: int = 12) -> DataFrame:
    """(node, degree) over the subgraph surviving ``max_rounds`` peel
    rounds of the symmetrized simple graph (= the exact k-core whenever
    peeling converges within the budget, which one extra no-op round
    detects).  Per round: one degree groupBy (map-side partials) + two
    LEFT SEMI joins of the shrinking edge table against the keep set +
    a localCheckpoint; an edge-count probe on the fresh checkpoint
    early-stops converged graphs.  The edge table only ever SHRINKS —
    round cost is monotonically decreasing, the property that makes
    peeling viable where per-node iteration is not."""
    fwd = edges.select(F.col("src").cast("long").alias("src"),
                       F.col("dst").cast("long").alias("dst"))
    e = (fwd.unionAll(fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
         .where(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    cnt = e.count()
    for _ in range(max_rounds):
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(F.col("src").alias("_k"))
        e = (e.join(keep, e["src"] == keep["_k"], "left_semi")
             .join(keep, e["dst"] == keep["_k"], "left_semi")
             .localCheckpoint(eager=True))
        c2 = e.count()
        if c2 == cnt:
            break
        cnt = c2
    return (e.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").cast("long").alias("degree")))


def kcore_sql(edges_cte: str, k: int = 4, max_rounds: int = 12) -> str:
    """DuckDB oracle: the same symmetrize + fixed peel rounds,
    unrolled; yields ``kcore``."""
    # every kc{i} is referenced 3× per round (degree CTE + both semi
    # sides) — without AS MATERIALIZED DuckDB inlines each reference
    # and the plan explodes 3^rounds (observed: "too many open files"
    # from thousands of re-expanded parquet scans)
    sql = [f"kce0 AS MATERIALIZED ({edges_cte})",
           "kce AS (SELECT DISTINCT src, dst FROM ("
           "SELECT src, dst FROM kce0 UNION ALL "
           "SELECT dst AS src, src AS dst FROM kce0) WHERE src <> dst)",
           "kc0 AS MATERIALIZED (SELECT src, dst FROM kce)"]
    for i in range(max_rounds):
        sql.append(f"""kk{i} AS MATERIALIZED (
  SELECT src AS node FROM kc{i} GROUP BY src HAVING count(*) >= {k}),
kc{i + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM kc{i} e
  JOIN kk{i} a ON a.node = e.src JOIN kk{i} b ON b.node = e.dst)""")
    sql.append(f"kcore AS (SELECT src AS node, count(*)::BIGINT AS degree "
               f"FROM kc{max_rounds} GROUP BY src)")
    return ",\n".join(sql)


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient via degree orientation
# (Cohen, "Graph Twiddling in a MapReduce World", CiSE 2009; Suri &
# Vassilvitskii, WWW 2011 — public algorithms, reimplemented
# relationally).  Local clustering separates organic neighborhoods
# (high) from spam farms and hub spokes (low) and is the classic
# "needs orientation or it explodes" workload: joining raw adjacency
# on shared endpoints fans out quadratically on hubs, while orienting
# every edge from the (degree, id)-SMALLER endpoint to the larger
# bounds each node's out-degree by O(sqrt(edges)) — wedge volume drops
# from Σ deg² to Σ outdeg², the arboricity bound.


def triangle_stats(edges: DataFrame) -> DataFrame:
    """(node, degree, n_triangles, clustering_ppm) over the symmetrized
    simple graph: per-node triangle participation and the local
    clustering coefficient 2·T/(deg·(deg−1)) in exact integer ppm
    (0 for degree < 2).

    Scale shape: ONE distinct on the symmetrized edges, one degree
    groupBy, two node-keyed joins to attach endpoint order keys, one
    wedge self-join of the ORIENTED edge list on the apex (out-degree
    bounded by orientation — the hub-proof step), one closing-edge
    equi-join, one explode+groupBy for per-node counts."""
    fwd = edges.select(F.col("src").cast("long").alias("src"),
                       F.col("dst").cast("long").alias("dst"))
    e = (fwd.unionAll(fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
         .where(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    deg = e.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("degree"))
    da = deg.select(F.col("node").alias("src"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("dst"), F.col("degree").alias("_db"))
    od = (e.join(da, "src").join(db, "dst")
          .filter(F.struct(F.col("_da"), F.col("src")) <
                  F.struct(F.col("_db"), F.col("dst")))
          .select(F.col("src").alias("u"), F.col("dst").alias("v"),
                  F.col("_db").alias("_dv")))
    w1 = od.select("u", F.col("v").alias("v1"), F.col("_dv").alias("_d1"))
    w2 = od.select("u", F.col("v").alias("v2"), F.col("_dv").alias("_d2"))
    wed = (w1.join(w2, "u")
           .filter(F.struct(F.col("_d1"), F.col("v1")) <
                   F.struct(F.col("_d2"), F.col("v2"))))
    closing = od.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wed.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    cnt = (tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("n_triangles")))
    return (deg.join(cnt, "node", "left")
            .select("node", F.col("degree").cast("long").alias("degree"),
                    F.coalesce("n_triangles", F.lit(0)).cast("long")
                    .alias("n_triangles"))
            .withColumn("clustering_ppm", F.when(
                F.col("degree") >= 2,
                F.expr("(n_triangles * 2000000L) div "
                       "(degree * (degree - 1))")).otherwise(F.lit(0))
                .cast("long")))


def triangle_stats_sql(edges_cte: str) -> str:
    """DuckDB oracle: identical symmetrize + degree orientation + wedge
    close; yields ``triangles``.  Oriented list is MATERIALIZED (it is
    referenced three times — inlining re-expands the whole chain)."""
    return f"""tre0 AS MATERIALIZED ({edges_cte}),
tre AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM tre0 UNION ALL
  SELECT dst AS src, src AS dst FROM tre0) WHERE src <> dst),
tdeg AS MATERIALIZED (SELECT src AS node, count(*) AS degree
                      FROM tre GROUP BY 1),
tod AS MATERIALIZED (
  SELECT e.src AS u, e.dst AS v, db.degree AS dv
  FROM tre e JOIN tdeg da ON da.node = e.src
             JOIN tdeg db ON db.node = e.dst
  WHERE row(da.degree, e.src) < row(db.degree, e.dst)),
ttri AS (
  SELECT a.u, a.v AS v1, b.v AS v2
  FROM tod a JOIN tod b ON a.u = b.u AND row(a.dv, a.v) < row(b.dv, b.v)
             JOIN tod c ON c.u = a.v AND c.v = b.v),
tcnt AS (
  SELECT node, count(*)::BIGINT AS n_triangles FROM (
    SELECT u AS node FROM ttri UNION ALL SELECT v1 FROM ttri
    UNION ALL SELECT v2 FROM ttri) GROUP BY 1),
triangles AS (
  SELECT d.node, d.degree::BIGINT AS degree,
         coalesce(c.n_triangles, 0)::BIGINT AS n_triangles,
         (CASE WHEN d.degree >= 2 THEN
            (coalesce(c.n_triangles, 0) * 2000000) //
            (d.degree * (d.degree - 1)) ELSE 0 END)::BIGINT
           AS clustering_ppm
  FROM tdeg d LEFT JOIN tcnt c ON c.node = d.node)"""


# ---------------------------------------------------------------------------
# TrustRank (Gyöngyi, Garcia-Molina & Pedersen, "Combating Web Spam
# with TrustRank", VLDB 2004 — public algorithm): PageRank whose
# teleport mass lands ONLY on a curated seed set, so trust decays with
# link distance from the seeds and spam farms that inflate plain
# PageRank via dense self-linking receive (almost) none.  Same exact-
# integer update contract as ``pagerank`` above; with seeds = all
# nodes it degenerates to pagerank exactly (pinned by test).
# ---------------------------------------------------------------------------


def trustrank(edges: DataFrame, seeds: DataFrame, iters: int = 3) -> DataFrame:
    """(node, trust_ppb) after ``iters`` synchronous rounds from a
    start of PPB per SEED (0 elsewhere), teleport mass (1-d)·PPB per
    round to seeds only:

        trust'(v) = [v∈S]·(1-d)·PPB + (d_num · Σ contrib(u→v)) div d_den

    Scale shape = pagerank's: outdeg rides with the checkpointed edge
    table, each round is one src-keyed equi-join + one dst-keyed
    partial-agg shuffle; the seed flag rides with the checkpointed
    node table so the per-round base term is a projection, never a
    join.  ``seeds`` rows not present in the graph are ignored."""
    edges = edges.select(F.col("src").cast("long").alias("src"),
                         F.col("dst").cast("long").alias("dst"))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionAll(edges.select(F.col("dst").alias("node")))
             .distinct())
    base = (nodes.join(seeds.select(F.col("node").cast("long").alias("node"))
                       .distinct().withColumn("_s", F.lit(1)),
                       "node", "left")
            .select("node", F.coalesce("_s", F.lit(0)).alias("is_seed"))
            .localCheckpoint(eager=True))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)

    ranks = base.select(
        "node", (F.col("is_seed") * F.lit(PPB)).cast("long").alias("trust_ppb"))
    floor_ppb = (PPB * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    for _ in range(iters):
        contrib = (ed.join(ranks, ed.src == ranks.node)
                   .select(F.col("dst").alias("node"),
                           F.expr("trust_ppb div outdeg").alias("c")))
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (base.join(inflow, "node", "left")
                 .select("node",
                         (F.col("is_seed") * F.lit(floor_ppb) +
                          F.expr(f"({DAMP_NUM} * coalesce(s, 0)) div {DAMP_DEN}"))
                         .cast("long").alias("trust_ppb"))
                 .localCheckpoint(eager=True))
    return ranks


def trustrank_sql(edges_cte: str, seeds_cte: str, iters: int = 3) -> str:
    """DuckDB oracle: the same integer update rule, unrolled; yields
    ``t{iters}`` over (node, trust_ppb)."""
    floor_ppb = (PPB * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    sql = [f"tedges AS ({edges_cte})",
           f"tseeds AS (SELECT DISTINCT node FROM ({seeds_cte}))",
           "tnodes AS (SELECT DISTINCT node FROM (SELECT src AS node "
           "FROM tedges UNION ALL SELECT dst FROM tedges))",
           "tbase AS (SELECT n.node, CASE WHEN s.node IS NULL THEN 0 "
           "ELSE 1 END AS is_seed FROM tnodes n LEFT JOIN tseeds s "
           "ON s.node = n.node)",
           "tdeg AS (SELECT src, count(*) AS outdeg FROM tedges GROUP BY src)",
           f"t0 AS (SELECT node, (is_seed * {PPB})::BIGINT AS trust_ppb "
           "FROM tbase)"]
    for i in range(iters):
        sql.append(f"""t{i + 1} AS (
  SELECT b.node,
         (b.is_seed * {floor_ppb} +
          ({DAMP_NUM} * coalesce(sum(r.trust_ppb // d.outdeg), 0)) //
          {DAMP_DEN})::BIGINT AS trust_ppb
  FROM tbase b
  LEFT JOIN tedges e ON e.dst = b.node
  LEFT JOIN tdeg d ON d.src = e.src
  LEFT JOIN t{i} r ON r.node = e.src
  GROUP BY b.node, b.is_seed)""")
    return ",\n".join(sql)


# ---------------------------------------------------------------------------
# HyperBall / HyperANF (Boldi, Rosa & Vigna, "HyperANF: Approximating
# the Neighbourhood Function of Very Large Graphs on a Budget", WWW
# 2011 — the public algorithm behind the Facebook "four degrees of
# separation" measurement): every node keeps an HLL counter of its
# out-ball; one round max-merges each node's counter with its
# out-neighbors', so after t rounds the counter sketches
# |{u : dist(v,u) <= t}| — reachability/diameter structure at sizes
# where per-node BFS is unthinkable.  Registers live as M integer
# COLUMNS (not rows): a round is one dst-keyed join + one node-keyed
# partial-agg max — the pagerank shuffle shape, with no M-fold row
# blow-up and every max folding map-side.
# ---------------------------------------------------------------------------

HB_M = 16                      # registers per node (p = 4)
HB_WBITS = 32 - 4              # rank field width of the 32-bit hash
HB_ALPHA = 0.673               # standard HLL bias constant for m = 16
_HB_RCOLS = [f"r{i}" for i in range(HB_M)]


def _hb_est_raw():
    """(zeros, est) raw expressions over r0..r{M-1}: exact integer
    harmonic sum (register 0 contributes 2^32) before the one
    double-valued estimate, linear counting below 2.5m — the
    hll_estimate contract from functions/sketches.py at m=16.  ``est``
    is UNROUNDED so callers can difference consecutive levels
    (harmonic_centrality) before the single terminal round()."""
    s = None
    zeros = None
    for c in _HB_RCOLS:
        t = F.expr(f"cast(pow(2, 32 - {c}) as bigint)")
        z = F.when(F.col(c) == 0, 1).otherwise(0)
        s = t if s is None else s + t
        zeros = z if zeros is None else zeros + z
    raw = F.lit(HB_ALPHA * HB_M * HB_M * float(1 << 32)) / s
    lc = F.lit(float(HB_M)) * F.log(F.lit(float(HB_M)) / zeros)
    est = F.when((raw < 2.5 * HB_M) & (zeros > 0), lc).otherwise(raw)
    return zeros, est


def _hb_estimate_cols():
    zeros, est = _hb_est_raw()
    return (F.lit(HB_M) - zeros).cast("long").alias("n_reg_set"), \
        F.round(est, 4).alias("ball_estimate")


def _hb_init(edges: DataFrame) -> DataFrame:
    """One HLL register row per distinct node: node's own 32-bit hash
    split into bucket j = h mod m and rank rho over the remaining 28
    bits, stored as m integer columns (all but r_j zero)."""
    nodes = (edges.select(F.col("src").alias("node"))
             .unionAll(edges.select(F.col("dst").alias("node")))
             .distinct())
    h = hash32(F.concat(F.col("node").cast("string"), F.lit("|hb")))
    j = F.pmod(h, F.lit(HB_M))
    w = (h / HB_M).cast("long")
    rho = F.when(w == 0, F.lit(HB_WBITS + 1)) \
        .otherwise(F.lit(HB_WBITS + 1) - F.length(F.bin(w)))
    return nodes.select(
        "node", *[F.when(j == i, rho).otherwise(F.lit(0)).cast("int")
                  .alias(c) for i, c in enumerate(_HB_RCOLS)]) \
        .localCheckpoint(eager=True)


def _hb_round(edges: DataFrame, state: DataFrame,
              incoming: bool) -> DataFrame:
    """One max-merge round.  ``incoming=False`` grows out-balls (node
    absorbs its out-neighbors' counters); ``incoming=True`` grows
    in-balls (node absorbs its in-neighbors': anything reaching u
    reaches v one hop later for u->v)."""
    if incoming:
        neigh = (edges.join(state, edges.src == state.node)
                 .select(F.col("dst").alias("node"), *_HB_RCOLS))
    else:
        neigh = (edges.join(state, edges.dst == state.node)
                 .select(F.col("src").alias("node"), *_HB_RCOLS))
    return (state.unionAll(neigh)
            .groupBy("node")
            .agg(*[F.max(c).alias(c) for c in _HB_RCOLS])
            .localCheckpoint(eager=True))


def hyperball(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, n_reg_set, ball_estimate) after ``iters`` max-merge
    rounds: ball_estimate ≈ |{u : dist(node, u) <= iters}| along edge
    direction (node itself included), m=16 registers (~26% rms error —
    the budget knob is HB_M).

    Scale shape: state is one row per node with M register columns;
    each round shuffles the edge list keyed by dst against the state
    and max-aggregates per node — partial maxes fold map-side, and
    localCheckpoint bounds the plan exactly as pagerank/kcore do."""
    edges = edges.select(F.col("src").cast("long").alias("src"),
                         F.col("dst").cast("long").alias("dst"))
    state = _hb_init(edges)
    for _ in range(iters):
        state = _hb_round(edges, state, incoming=False)
    n_set, est = _hb_estimate_cols()
    return state.select("node", n_set, est)


def harmonic_centrality(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, harmonic_est, reach_estimate): truncated harmonic
    centrality H_T(v) = sum_{t=1..T} (|B_in(v,t)| - |B_in(v,t-1)|) / t
    with in-ball sizes read from HyperBall counters — the HyperANF
    payoff metric, and exactly the host-centrality family Common Crawl
    publishes for domain-level corpus filtering (harmonic centrality
    rewards being reachable from many places in few hops and is robust
    to the dangling-mass issues PageRank must patch).

    Scale shape: ``iters`` max-merge rounds (one edge-keyed join + one
    map-side-folding max agg each, plan bounded by localCheckpoint),
    then the T+1 per-level snapshots — all already hash-partitioned on
    node by their groupBys — join back on node and fold into ONE
    fixed-order arithmetic expression, so the double-valued result is
    deterministic and engine-portable (no order-dependent float sum).
    ``reach_estimate`` is the final in-ball size, rounded like
    hyperball's."""
    edges = edges.select(F.col("src").cast("long").alias("src"),
                         F.col("dst").cast("long").alias("dst"))
    state = _hb_init(edges)
    _, raw = _hb_est_raw()
    snaps = [state.select("node", raw.alias("e0"))]
    for t in range(1, iters + 1):
        state = _hb_round(edges, state, incoming=True)
        snaps.append(state.select("node", raw.alias(f"e{t}")))
    out = snaps[0]
    for s in snaps[1:]:
        out = out.join(s, "node")
    harm = (F.col("e1") - F.col("e0")) / F.lit(1.0)
    for t in range(2, iters + 1):
        harm = harm + (F.col(f"e{t}") - F.col(f"e{t - 1}")) / F.lit(float(t))
    return out.select("node", F.round(harm, 4).alias("harmonic_est"),
                      F.round(F.col(f"e{iters}"), 4).alias("reach_estimate"))


def _hb_init_sql() -> str:
    from .hashing import hash32_sql
    h = hash32_sql("node::VARCHAR || '|hb'")
    return ", ".join(
        f"(CASE WHEN ({h}) % {HB_M} = {i} THEN "
        f"(CASE WHEN ({h}) // {HB_M} = 0 THEN {HB_WBITS + 1} "
        f"ELSE {HB_WBITS + 1} - length(format('{{:b}}', ({h}) // {HB_M})) "
        f"END) ELSE 0 END)::INT AS {c}"
        for i, c in enumerate(_HB_RCOLS))


_HB_EST_RAW_SQL = f"(CASE WHEN ({HB_ALPHA * HB_M * HB_M}::DOUBLE * " \
    f"4294967296.0) / s < {2.5 * HB_M} AND z > 0 " \
    f"THEN {float(HB_M)} * ln({float(HB_M)} / z) " \
    f"ELSE ({HB_ALPHA * HB_M * HB_M}::DOUBLE * 4294967296.0) / s END)"

_HB_SZ_SQL = "(" + " + ".join(f"power(2, 32 - {c})::BIGINT"
                              for c in _HB_RCOLS) + ")::BIGINT AS s, (" + \
    " + ".join(f"(CASE WHEN {c} = 0 THEN 1 ELSE 0 END)"
               for c in _HB_RCOLS) + ") AS z"


def _hb_round_sql(i: int, incoming: bool) -> str:
    maxes = ", ".join(f"max({c})::INT AS {c}" for c in _HB_RCOLS)
    rlist = ", ".join(_HB_RCOLS)
    side = ("e.dst AS node", "s.node = e.src") if incoming \
        else ("e.src AS node", "s.node = e.dst")
    return f"""hb{i + 1} AS (
  SELECT node, {maxes} FROM (
    SELECT node, {rlist} FROM hb{i}
    UNION ALL
    SELECT {side[0]}, {rlist}
    FROM hedges e JOIN hb{i} s ON {side[1]}
  ) GROUP BY node)"""


def hyperball_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle: identical init, unrolled max-merge rounds, and
    exact-integer harmonic estimate; yields ``hyperball``."""
    sql = [f"hedges AS ({edges_cte})",
           "hnodes AS (SELECT DISTINCT node FROM (SELECT src AS node "
           "FROM hedges UNION ALL SELECT dst FROM hedges))",
           f"hb0 AS (SELECT node, {_hb_init_sql()} FROM hnodes)"]
    for i in range(iters):
        sql.append(_hb_round_sql(i, incoming=False))
    sql.append(f"""hbs AS (
  SELECT node, {_HB_SZ_SQL} FROM hb{iters}),
hyperball AS (
  SELECT node, ({HB_M} - z)::BIGINT AS n_reg_set,
         round({_HB_EST_RAW_SQL}, 4) AS ball_estimate
  FROM hbs)""")
    return ",\n".join(sql)


def harmonic_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle for ``harmonic_centrality``: the same unrolled
    in-direction max-merge chain, one raw estimate per level, and the
    IDENTICAL fixed-order difference expression (parenthesised
    left-to-right like the Spark side, so the IEEE doubles agree
    bit-for-bit before the terminal round).  Yields ``harmonic``."""
    sql = [f"hedges AS ({edges_cte})",
           "hnodes AS (SELECT DISTINCT node FROM (SELECT src AS node "
           "FROM hedges UNION ALL SELECT dst FROM hedges))",
           f"hb0 AS (SELECT node, {_hb_init_sql()} FROM hnodes)"]
    for i in range(iters):
        sql.append(_hb_round_sql(i, incoming=True))
    for t in range(iters + 1):
        sql.append(f"""he{t} AS (
  SELECT node, {_HB_EST_RAW_SQL} AS e{t}
  FROM (SELECT node, {_HB_SZ_SQL} FROM hb{t}))""")
    joins = " ".join(f"JOIN he{t} USING (node)"
                     for t in range(1, iters + 1))
    harm = "((e1 - e0) / 1.0)"
    for t in range(2, iters + 1):
        harm = f"({harm} + ((e{t} - e{t - 1}) / {float(t)}))"
    sql.append(f"""harmonic AS (
  SELECT node, round({harm}, 4) AS harmonic_est,
         round(e{iters}, 4) AS reach_estimate
  FROM he0 {joins})""")
    return ",\n".join(sql)


def cocitation_pairs(edges: DataFrame, min_co: int = 2) -> DataFrame:
    """(dst_a, dst_b, n_co, n_in_a, n_in_b, jaccard_ppm) — co-citation
    similarity (Small 1973, JASIS): two link targets are related in
    proportion to how many distinct sources cite BOTH.  On a web link
    graph this is the classic related-pages / authority-cluster signal
    (HITS' AᵀA Gram matrix, materialized sparsely); curation pipelines
    use it to expand a seed whitelist to co-cited neighbors before
    TrustRank-style scoring.

        n_co(a,b)   = |in(a) ∩ in(b)|        (distinct citing srcs)
        jaccard_ppm = n_co · 10⁶ div (n_in_a + n_in_b − n_co)

    Scale shape: the pair expansion is a self-join of the DISTINCT
    edge table ON src with ``dst_a < dst_b`` — fan-out per source is
    C(outdeg, 2), bounded because real crawl extractors cap per-page
    outlinks (this module's synthetic graphs use 3); it is the same
    output-sensitive inverted-index shape as ``ngram_jaccard_pairs``
    with src playing the shingle role.  A pathological mega-outdeg hub
    would need the DF_CAP treatment (drop srcs above an outdeg cap —
    they relate everything to everything and carry no signal); noted,
    not built, because capped extractors make it moot.  The in-degree
    side join is on dst — a bounded-universe dimension vs the pair
    table, broadcast when small.  All counts exact integers."""
    e = edges.select(F.col("src").cast("long").alias("src"),
                     F.col("dst").cast("long").alias("dst")).distinct()
    a = e.select("src", F.col("dst").alias("dst_a"))
    b = e.select(F.col("src").alias("_s2"), F.col("dst").alias("dst_b"))
    co = (a.join(b, (a.src == b._s2) & (F.col("dst_a") < F.col("dst_b")))
          .groupBy("dst_a", "dst_b")
          .agg(F.count("*").cast("long").alias("n_co"))
          .where(F.col("n_co") >= min_co))
    indeg = e.groupBy("dst").agg(F.count("*").cast("long").alias("n_in"))
    return (co
            .join(F.broadcast(indeg.select(F.col("dst").alias("dst_a"),
                                           F.col("n_in").alias("n_in_a"))),
                  "dst_a")
            .join(F.broadcast(indeg.select(F.col("dst").alias("dst_b"),
                                           F.col("n_in").alias("n_in_b"))),
                  "dst_b")
            .select("dst_a", "dst_b", "n_co", "n_in_a", "n_in_b",
                    F.expr("n_co * 1000000 div "
                           "(n_in_a + n_in_b - n_co)").cast("long")
                    .alias("jaccard_ppm")))


def cocitation_sql(edges_cte: str, min_co: int = 2) -> str:
    """DuckDB oracle over ``edges_cte`` (src, dst): identical distinct
    self-join + integer Jaccard; final relation ``cocite``."""
    return f"""cc_e AS (SELECT DISTINCT src, dst FROM ({edges_cte})),
cc_co AS (
  SELECT a.dst AS dst_a, b.dst AS dst_b, count(*)::BIGINT AS n_co
  FROM cc_e a JOIN cc_e b ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2 HAVING count(*) >= {min_co}),
cc_in AS (SELECT dst, count(*)::BIGINT AS n_in FROM cc_e GROUP BY dst),
cocite AS (
  SELECT c.dst_a, c.dst_b, c.n_co, ia.n_in AS n_in_a, ib.n_in AS n_in_b,
         (c.n_co * 1000000 // (ia.n_in + ib.n_in - c.n_co))::BIGINT
           AS jaccard_ppm
  FROM cc_co c JOIN cc_in ia ON ia.dst = c.dst_a
               JOIN cc_in ib ON ib.dst = c.dst_b)"""
