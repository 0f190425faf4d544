package graft
package ledger

import graft.core.Tables
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Graph queries: distance joins and the iterative graph operators. */
private[graft] object GraphQueries {
  import Common._

  // three unrolled rounds of synchronous LPA: each vertex adopts the
  // most frequent neighbor label, ties to the SMALLEST label — shared
  // verbatim by g7's own entry and g12's modularity scoring
  private val g7LabelSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""c$k AS (SELECT nbr.src, l.label, count(*) AS c
         |  FROM nbr JOIN l${k - 1} l ON l.id = nbr.dst GROUP BY 1, 2),
         |l$k AS (SELECT src AS id, label FROM (
         |    SELECT src, label,
         |      row_number() OVER (PARTITION BY src ORDER BY c DESC, label ASC) AS rn
         |    FROM c$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |e0 AS (
       |  SELECT doc_id AS u, (doc_id * 31 + 7) % nn.n AS v FROM documents, nn
       |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn),
       |und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
       |        FROM e0 WHERE u <> v),
       |nbr AS (SELECT a AS src, b AS dst FROM und
       |        UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM nbr),
       |$rounds
       |SELECT CAST(id AS BIGINT) AS doc_id, CAST(label AS BIGINT) AS label
       |FROM l3 ORDER BY doc_id""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    /** Distance join (ST_DWithin-class) via the 2-D cell binning: small
      * parts paired with large parts within distance 2 on a synthetic
      * 97×89 plane — an equi-join on the cell key, never the O(n²)
      * nested loop the raw predicate would plan. Integral coordinates ⇒
      * the squared-distance verify is exact in both engines. */
    QueryDef("g1_distance_join", headline = true) { (s, d) =>
      val pts = Tables.part(s, d).select(col("p_partkey").as("id"),
        (col("p_partkey") % 97).cast("double").as("x"),
        ((col("p_partkey") * 31) % 89).cast("double").as("y"),
        col("p_size"))
      graft.operators.DistanceJoin.join(
          pts.filter(col("p_size") < 10), pts.filter(col("p_size") >= 45), d = 2.0)
        .withColumn("dist", round(col("dist") + lit(5e-7), 4))
        .orderBy("lid", "rid")
    } {
      """WITH pts AS (
        |  SELECT p_partkey AS id, CAST(p_partkey % 97 AS DOUBLE) AS x,
        |    CAST((p_partkey * 31) % 89 AS DOUBLE) AS y, p_size
        |  FROM part)
        |SELECT l.id AS lid, r.id AS rid,
        |  round(sqrt(power(l.x - r.x, 2) + power(l.y - r.y, 2)) + 5e-7, 4) AS dist
        |FROM pts l JOIN pts r
        |  ON power(l.x - r.x, 2) + power(l.y - r.y, 2) <= 4.0
        |WHERE l.p_size < 10 AND r.p_size >= 45
        |ORDER BY lid, rid""".stripMargin
    },

    /** DBSCAN over the synthetic plane — DistanceJoin (cell-binned
      * eps-neighbors) → core count ≥ 6 → components over core-core edges →
      * deterministic border attach (min core cluster id). 142 clusters,
      * all three roles populated at sf0.01. */
    QueryDef("g2_dbscan") { (s, d) =>
      val pts = Tables.part(s, d).select(col("p_partkey").as("id"),
        (col("p_partkey") % 97).cast("double").as("x"),
        ((col("p_partkey") * 31) % 89).cast("double").as("y"))
      graft.operators.Cluster.dbscan(pts, eps = 2.5, minPts = 6).orderBy("id")
    } {
      """WITH RECURSIVE pts AS (
        |  SELECT p_partkey AS id, CAST(p_partkey % 97 AS DOUBLE) AS x,
        |    CAST((p_partkey * 31) % 89 AS DOUBLE) AS y FROM part),
        |nb AS (SELECT a.id AS lid, b.id AS rid FROM pts a JOIN pts b
        |       ON power(a.x - b.x, 2) + power(a.y - b.y, 2) <= 6.25),
        |cnt AS (SELECT lid, count(*) AS n FROM nb GROUP BY 1),
        |core AS (SELECT lid AS id FROM cnt WHERE n >= 6),
        |ce AS (SELECT nb.lid AS src, nb.rid AS dst FROM nb
        |       JOIN core c1 ON c1.id = nb.lid JOIN core c2 ON c2.id = nb.rid
        |       WHERE nb.lid <> nb.rid),
        |reach AS (SELECT src, dst FROM ce
        |          UNION SELECT r.src, e.dst FROM reach r JOIN ce e ON r.dst = e.src),
        |lab AS (SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
        |corelab AS (SELECT c.id, coalesce(l.cluster, c.id) AS cluster
        |            FROM core c LEFT JOIN lab l USING (id)),
        |borderlab AS (SELECT nb.lid AS id, min(cl.cluster) AS cluster
        |  FROM nb JOIN corelab cl ON cl.id = nb.rid
        |  LEFT JOIN core co ON co.id = nb.lid WHERE co.id IS NULL GROUP BY nb.lid)
        |SELECT p.id, coalesce(cl.cluster, bl.cluster) AS cluster,
        |  CASE WHEN cl.id IS NOT NULL THEN 'core'
        |       WHEN bl.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role
        |FROM pts p LEFT JOIN corelab cl ON cl.id = p.id
        |           LEFT JOIN borderlab bl ON bl.id = p.id
        |ORDER BY p.id""".stripMargin
    },

    /** Per-vertex triangle counts over the eps-proximity graph (the local
      * density signal that separates clustered near-dup groups from chains
      * of borderline pairs). Edges from the cell-binned distance join;
      * every triangle enumerates once via the a<b<c total order. */
    QueryDef("g3_triangle_count") { (s, d) =>
      val pts = Tables.part(s, d).select(col("p_partkey").as("id"),
        (col("p_partkey") % 97).cast("double").as("x"),
        ((col("p_partkey") * 31) % 89).cast("double").as("y"))
      val edges = graft.operators.DistanceJoin.join(pts, pts, d = 2.5)
        .filter(col("lid") < col("rid"))
        .select(col("lid").as("doc1"), col("rid").as("doc2"))
      graft.operators.Graph.triangles(edges).orderBy("id")
    } {
      """WITH pts AS (
        |  SELECT p_partkey AS id, CAST(p_partkey % 97 AS DOUBLE) AS x,
        |    CAST((p_partkey * 31) % 89 AS DOUBLE) AS y FROM part),
        |e AS (SELECT a.id AS a, b.id AS b FROM pts a JOIN pts b
        |      ON power(a.x - b.x, 2) + power(a.y - b.y, 2) <= 6.25 AND a.id < b.id),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e2.a = e1.b
        |                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |v AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT id, count(*) AS n_triangles FROM v GROUP BY id ORDER BY id""".stripMargin
    },

    /** PageRank over a deterministic citation graph (each doc links to two
      * hash-derived targets, so both engines build the identical edge set
      * from the corpus alone). Five exact integer-micro iterations — see
      * [[graft.operators.Graph.pagerank]]; the oracle replays them as five
      * unrolled CTEs. */
    QueryDef("g4_pagerank", headline = true, sf1MinOf2 = true) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("dst"))
      graft.operators.Graph.pagerank(edges, iters = 5)
        .select(col("id").as("doc_id"), col("rank").as("rank_micro"))
        .orderBy("doc_id")
    } {
      // five unrolled iterations of the exact integer-micro recurrence —
      // teleport 10^6/8 = 125000, contribution (rank*7) // (8*outdeg)
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT n2.id, CAST(125000 + coalesce(m.mass, 0) AS BIGINT) AS rank
           |  FROM nodes n2 LEFT JOIN (
           |    SELECT adj.dst AS id, sum(r${k - 1}.rank * 7 // (8 * adj.outdeg)) AS mass
           |    FROM adj JOIN r${k - 1} ON adj.src = r${k - 1}.id GROUP BY 1) m
           |  ON n2.id = m.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT doc_id AS src, (doc_id * 31 + 7) % nn.n AS dst FROM documents, nn
         |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn)),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |adj AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |$iters
         |SELECT id AS doc_id, rank AS rank_micro FROM r5 ORDER BY doc_id""".stripMargin
    },

    /** PageRank with dangling-mass redistribution over a graph where a
      * third of the docs never cite (doc_id % 3 == 0 emits no edges —
      * the cited-but-never-citing shape real curation graphs are full
      * of). Each round the damped dangling mass is split evenly with
      * exact integer remainder accounting — see
      * [[graft.operators.Graph.pagerank]] `redistributeDangling`; the
      * oracle replays the five rounds with the dangling share as a
      * 1-row cross-joined scalar. */
    QueryDef("g6_pagerank_dangling") { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.filter(col("doc_id") % 3 =!= 0).crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("dst"))
      graft.operators.Graph.pagerank(edges, iters = 5, redistributeDangling = true)
        .select(col("id").as("doc_id"), col("rank").as("rank_micro"))
        .orderBy("doc_id")
    } {
      // same exact integer-micro recurrence as g4 plus the per-round
      // dangling share: sum((rank*7)//8) over no-out-edge vertices,
      // // N, cross-joined as a 1-row scalar into the rank update
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT n2.id,
           |    CAST(125000 + coalesce(m.mass, 0) + ds.share AS BIGINT) AS rank
           |  FROM nodes n2 LEFT JOIN (
           |    SELECT adj.dst AS id, sum((r${k - 1}.rank * 7) // (8 * adj.outdeg)) AS mass
           |    FROM adj JOIN r${k - 1} ON adj.src = r${k - 1}.id GROUP BY 1) m
           |  ON n2.id = m.id
           |  CROSS JOIN (
           |    SELECT coalesce(sum((r${k - 1}.rank * 7) // 8), 0) // (SELECT n FROM nv) AS share
           |    FROM r${k - 1} JOIN dang ON r${k - 1}.id = dang.id) ds)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT doc_id AS src, (doc_id * 31 + 7) % nn.n AS dst FROM documents, nn
         |    WHERE doc_id % 3 <> 0
         |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn
         |    WHERE doc_id % 3 <> 0)),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |adj AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |nv AS (SELECT count(*) AS n FROM nodes),
         |dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM e)),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |$iters
         |SELECT id AS doc_id, rank AS rank_micro FROM r5 ORDER BY doc_id""".stripMargin
    },

    /** Community detection by 3 rounds of deterministic synchronous label
      * propagation over the same hash-derived citation graph as g4, taken
      * undirected — the clustering pass that separates communities where
      * connected components would merge everything through bridge edges.
      * Ties break to the smallest label, so the fixed point is exact and
      * the oracle replays the rounds as unrolled CTEs. See
      * [[graft.operators.Graph.labelPropagation]]. */
    QueryDef("g7_label_prop", headline = true, sf1MinOf2 = true) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("doc1"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("doc2"))
      graft.operators.Graph.labelPropagation(edges, iters = 3)
        .select(col("id").as("doc_id"), col("label"))
        .orderBy("doc_id")
    }(g7LabelSql),

    /** k-core of the g4 citation graph (k=4, 4 peel rounds): the density
      * filter that isolates mutually-dense subgraphs (spam farms, template
      * clusters) from incidental connectivity. Deterministic fixed-round
      * peeling — the oracle unrolls the rounds. See
      * [[graft.operators.Graph.kcorePeel]]. */
    QueryDef("g8_kcore", headline = true, sf1MinOf2 = true) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("doc1"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("doc2"))
      graft.operators.Graph.kcorePeel(edges, k = 4, rounds = 4)
        .select(col("id").as("doc_id"), col("deg"))
        .orderBy("doc_id")
    } {
      // four unrolled peel rounds: drop vertices with degree < 4, then
      // restrict the edge relation to surviving endpoints
      val rounds = (1 to 4).map { k =>
        s"""d$k AS (SELECT src, count(*) AS deg FROM n${k - 1} GROUP BY 1),
           |v$k AS (SELECT src AS id FROM d$k WHERE deg >= 4),
           |n$k AS (SELECT n.src, n.dst FROM n${k - 1} n
           |        JOIN v$k x ON n.src = x.id JOIN v$k y ON n.dst = y.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e0 AS (
         |  SELECT doc_id AS u, (doc_id * 31 + 7) % nn.n AS v FROM documents, nn
         |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn),
         |und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         |        FROM e0 WHERE u <> v),
         |n0 AS (SELECT a AS src, b AS dst FROM und
         |       UNION ALL SELECT b, a FROM und),
         |$rounds
         |SELECT CAST(src AS BIGINT) AS doc_id, count(*) AS deg
         |FROM n4 GROUP BY 1 ORDER BY doc_id""".stripMargin
    },

    /** Single-source shortest paths over a layered DAG derived from the
      * orders table (every edge advances ≥ 12 of 60 node slots, so no
      * shortest path exceeds 5 hops — 6 relaxation rounds converge by
      * construction). Integer weights make min() exact; the oracle
      * enumerates all paths with a recursive CTE. See
      * [[graft.operators.Graph.sssp]]. */
    QueryDef("g5_sssp") { (s, d) =>
      val edges = Tables.orders(s, d)
        .select((col("o_orderkey") % 60).as("src"),
          (col("o_orderkey") % 60 + lit(12) + col("o_custkey") % 13).as("dst"),
          (lit(1) + col("o_orderkey") % 7).as("w"))
        .filter(col("dst") < 60)
      graft.operators.Graph.sssp(edges, sourceId = 0L, iters = 6)
        .orderBy("id")
    } {
      """WITH RECURSIVE e AS (
        |  SELECT src, dst, CAST(min(w) AS BIGINT) AS w FROM (
        |    SELECT o_orderkey % 60 AS src,
        |           o_orderkey % 60 + 12 + o_custkey % 13 AS dst,
        |           1 + o_orderkey % 7 AS w
        |    FROM orders) WHERE dst < 60 GROUP BY src, dst),
        |paths AS (
        |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
        |  UNION
        |  SELECT e.dst, p.dist + e.w FROM paths p JOIN e ON e.src = p.id)
        |SELECT id, CAST(min(dist) AS BIGINT) AS dist
        |FROM paths GROUP BY id ORDER BY id""".stripMargin
    },

    /** Closeness centrality of 5 seed docs over the synthetic doc graph —
      * multi-source BFS in shared rounds (one shuffle per round covers
      * ALL seeds), then one aggregate: reach, distance mass, and
      * closeness = (reach−1)·10⁶ div Σdist over ≤ 4-hop paths. See
      * [[graft.operators.Graph.multiSourceBfs]]. */
    QueryDef("g14_closeness") { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("dst"))
      val seeds = docs.filter(col("doc_id") < 5).select(col("doc_id").as("seed"))
      graft.operators.Graph.multiSourceBfs(edges, seeds, rounds = 4)
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"), sum("dist").as("dist_sum"))
        .select(col("seed"), col("n_reached"), col("dist_sum"),
          when(col("dist_sum") === 0, 0L)
            .otherwise(expr("(n_reached - 1) * 1000000 div dist_sum"))
            .as("closeness_micro"))
        .orderBy("seed")
    } {
      // bounded-depth multi-source BFS: recursive relaxation capped at 4
      // hops, min-dist fold, closeness per seed
      """WITH RECURSIVE n AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, unnest([(doc_id * 31 + 7) % n.n,
        |    (doc_id * 17 + 3) % n.n]) AS dst FROM documents, n),
        |arcs AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
        |  WHERE src <> dst),
        |walk(seed, id, dist) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 5
        |  UNION
        |  SELECT w.seed, a.dst, w.dist + 1 FROM walk w
        |    JOIN arcs a ON a.src = w.id WHERE w.dist < 4),
        |md AS (SELECT seed, id, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT seed, count(*) AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS dist_sum,
        |  CAST(CASE WHEN sum(dist) = 0 THEN 0
        |    ELSE (count(*) - 1) * 1000000 // sum(dist) END AS BIGINT) AS closeness_micro
        |FROM md GROUP BY seed ORDER BY seed""".stripMargin
    },

    /** HITS hubs & authorities over the same synthetic citation graph as
      * g4 (two fixed iterations, exact integer arithmetic, L∞
      * normalization — the top hub/authority pins at exactly 10⁶). See
      * [[graft.operators.Graph.hits]]. */
    QueryDef("g9_hits", headline = true, sf1MinOf2 = true) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("dst"))
      graft.operators.Graph.hits(edges, iters = 2)
        .select(col("id").as("doc_id"), col("hub"), col("auth"))
        .orderBy("doc_id")
    } {
      // two unrolled HITS iterations: auth ← Σ in-hub, hub ← Σ out-auth,
      // each L∞-normalized by integer floor division to 10⁶
      val iters = (1 to 2).map { k =>
        s"""a${k}r AS (SELECT nodes.id, CAST(coalesce(s.a, 0) AS BIGINT) AS raw
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst AS id, sum(h${k - 1}.hub) AS a
           |    FROM e JOIN h${k - 1} ON e.src = h${k - 1}.id GROUP BY 1) s
           |  ON nodes.id = s.id),
           |a${k}m AS (SELECT max(raw) AS mx FROM a${k}r),
           |a$k AS (SELECT id, CAST(CASE WHEN mx > 0
           |    THEN raw * 1000000 // mx ELSE 0 END AS BIGINT) AS auth
           |  FROM a${k}r, a${k}m),
           |h${k}r AS (SELECT nodes.id, CAST(coalesce(s.hh, 0) AS BIGINT) AS raw
           |  FROM nodes LEFT JOIN (
           |    SELECT e.src AS id, sum(a$k.auth) AS hh
           |    FROM e JOIN a$k ON e.dst = a$k.id GROUP BY 1) s
           |  ON nodes.id = s.id),
           |h${k}m AS (SELECT max(raw) AS mx FROM h${k}r),
           |h$k AS (SELECT id, CAST(CASE WHEN mx > 0
           |    THEN raw * 1000000 // mx ELSE 0 END AS BIGINT) AS hub
           |  FROM h${k}r, h${k}m)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT doc_id AS src, (doc_id * 31 + 7) % nn.n AS dst FROM documents, nn
         |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn)),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
         |$iters
         |SELECT h2.id AS doc_id, h2.hub, a2.auth
         |FROM h2 JOIN a2 USING (id) ORDER BY doc_id""".stripMargin
    },

    /** Personalized PageRank from a trusted seed set (doc_id % 50 == 0)
      * over the g4 citation graph — 4 rounds of the exact integer-micro
      * recurrence with all teleport mass returning to the seeds. The
      * oracle unrolls the same recurrence; the sparse-frontier filter in
      * [[graft.operators.Graph.personalizedPagerank]] is invisible to it
      * (zero ranks contribute zero mass). */
    QueryDef("g10_ppr", headline = true, sf1MinOf2 = true) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("dst"))
      val seeds = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id"))
      graft.operators.Graph.personalizedPagerank(edges, seeds, iters = 4)
        .select(col("id").as("doc_id"), col("rank").as("rank_micro"))
        .orderBy("doc_id")
    } {
      // four unrolled rounds of the seed-teleport integer recurrence:
      // teleport 125000 ONLY on seeds (id % 50 = 0), r0 = 10^6·1[seed]
      val iters = (1 to 4).map { k =>
        s"""r$k AS (SELECT n2.id,
           |  CAST(CASE WHEN n2.id % 50 = 0 THEN 125000 ELSE 0 END
           |    + coalesce(m.mass, 0) AS BIGINT) AS rank
           |  FROM nodes n2 LEFT JOIN (
           |    SELECT adj.dst AS id, sum(r${k - 1}.rank * 7 // (8 * adj.outdeg)) AS mass
           |    FROM adj JOIN r${k - 1} ON adj.src = r${k - 1}.id GROUP BY 1) m
           |  ON n2.id = m.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT doc_id AS src, (doc_id * 31 + 7) % nn.n AS dst FROM documents, nn
         |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn)),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |adj AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |r0 AS (SELECT id,
         |  CAST(CASE WHEN id % 50 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS rank
         |  FROM nodes),
         |$iters
         |SELECT id AS doc_id, rank AS rank_micro FROM r4 ORDER BY doc_id""".stripMargin
    },

    /** Common-neighbor / Jaccard link prediction over the g7 doc graph:
      * non-adjacent pairs sharing ≥2 neighbors, wedges enumerated only
      * through centers of degree ≤ 8 (the hub cap the oracle mirrors —
      * the SQL applies the identical degree gate). */
    QueryDef("g11_link_pred", headline = true) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("doc1"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("doc2"))
      graft.operators.Graph.linkPrediction(edges, maxDeg = 8, minCommon = 2)
        .orderBy("a", "b")
    } {
      // wedges only through centers of degree <= 8 (the same hub cap),
      // true degrees in the Jaccard denominator, existing edges excluded
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS u, (doc_id * 31 + 7) % nn.n AS v FROM documents, nn
        |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn),
        |und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |        FROM e0 WHERE u <> v),
        |nbr AS (SELECT a AS c, b AS u FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT c, count(*) AS deg FROM nbr GROUP BY 1),
        |cap AS (SELECT nbr.c, nbr.u FROM nbr JOIN deg USING (c) WHERE deg <= 8),
        |cand AS (SELECT l.u AS a, r.u AS b, count(*) AS cn
        |  FROM cap l JOIN cap r ON l.c = r.c AND l.u < r.u
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nc AS (SELECT * FROM cand c WHERE NOT EXISTS (
        |  SELECT 1 FROM und WHERE und.a = c.a AND und.b = c.b))
        |SELECT nc.a, nc.b, nc.cn, da.deg AS deg_a, db.deg AS deg_b,
        |  round(nc.cn / (da.deg + db.deg - nc.cn) + 5e-7, 4) AS jaccard
        |FROM nc JOIN deg da ON da.c = nc.a JOIN deg db ON db.c = nc.b
        |ORDER BY a, b""".stripMargin
    },

    /** Newman modularity of g7's labeling over the same doc graph — the
      * did-LPA-find-structure score, exact to the micro-unit. See
      * [[graft.operators.Graph.modularity]]. */
    QueryDef("g12_modularity", headline = true, sf1MinOf2 = true) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      // pinned: the edge relation feeds BOTH the labeling rounds and the
      // modularity census
      val edges = graft.core.Caching.shared(docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("doc1"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("doc2")))
      val labels = graft.operators.Graph.labelPropagation(edges, iters = 3)
      graft.operators.Graph.modularity(edges, labels).orderBy("label")
    } {
      // per-community Newman modularity from g7's labeling: the common
      // denominator 4m² clears both terms; sign-safe magnitude // division
      s"""WITH lab AS (SELECT doc_id AS id, label FROM ($g7LabelSql)),
         |nn AS (SELECT count(*) AS n FROM documents),
         |e0 AS (
         |  SELECT doc_id AS u, (doc_id * 31 + 7) % nn.n AS v FROM documents, nn
         |  UNION ALL SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn),
         |und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         |        FROM e0 WHERE u <> v),
         |deg AS (SELECT id, count(*) AS deg FROM (
         |  SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
         |m1 AS (SELECT count(*) AS m FROM und),
         |ein AS (SELECT la.label, count(*) AS e_in FROM und
         |  JOIN lab la ON la.id = und.a JOIN lab lb ON lb.id = und.b
         |  WHERE la.label = lb.label GROUP BY 1),
         |ds AS (SELECT lab.label, count(*) AS n_members,
         |  CAST(sum(deg.deg) AS BIGINT) AS deg_sum
         |  FROM lab JOIN deg ON deg.id = lab.id GROUP BY 1)
         |SELECT ds.label, ds.n_members, coalesce(ein.e_in, 0) AS e_in, ds.deg_sum,
         |  CAST(CASE WHEN 4 * m1.m * coalesce(ein.e_in, 0) - ds.deg_sum * ds.deg_sum >= 0
         |    THEN (4 * m1.m * coalesce(ein.e_in, 0) - ds.deg_sum * ds.deg_sum)
         |      * 1000000 // (4 * m1.m * m1.m)
         |    ELSE -((ds.deg_sum * ds.deg_sum - 4 * m1.m * coalesce(ein.e_in, 0))
         |      * 1000000 // (4 * m1.m * m1.m))
         |  END AS BIGINT) AS contrib_micro
         |FROM ds LEFT JOIN ein ON ein.label = ds.label, m1
         |ORDER BY ds.label""".stripMargin
    },

    /** Degree histogram of the undirected doc graph — the first
      * diagnostic read on ANY graph (power-law tail ⇒ hub caps and skew
      * salting are mandatory downstream). Symmetrize + distinct, one
      * vertex-keyed degree aggregate, one |degrees|-row fold. */
    QueryDef("g15_degree_hist") { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val und = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_vertices"))
        .orderBy("deg")
    } {
      // symmetrized simple graph, vertex degree fold, |degrees|-row
      // census. UNION ALL of the two arithmetic edges instead of unnest:
      // DuckDB 1.x hits an internal binder error on unnest under
      // least/greatest+DISTINCT here
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, ((doc_id * 31 + 7) % n.n) AS d1,
        |    ((doc_id * 17 + 3) % n.n) AS d2 FROM documents, n),
        |edges AS (SELECT src, d1 AS dst FROM e0
        |  UNION ALL SELECT src, d2 AS dst FROM e0),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |deg AS (SELECT id, count(*) AS deg FROM (
        |    SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1)
        |SELECT deg, count(*) AS n_vertices FROM deg
        |GROUP BY 1 ORDER BY deg""".stripMargin
    },

    /** Degree assortativity numerators — does the graph wire hubs to
      * hubs (assortative) or hubs to leaves (disassortative)? Pearson
      * correlation of endpoint degrees over the undirected edge list,
      * reported as the exact integer sufficient-statistic numerators
      * (the x21 discipline — no float division to drift): r = covar_num
      * / √(varx_num·vary_num) downstream. Each edge contributes BOTH
      * orientations so the correlation is symmetric. */
    QueryDef("g16_assortativity") { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val n = docs.agg(count(lit(1)).as("__n"))
      val und = graft.core.Caching.shared(docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 31 + 7) % col("__n"),
            (col("doc_id") * 17 + 3) % col("__n"))).as("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      val deg = graft.core.Caching.shared(
        und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg")))
      und.select(col("a").as("x"), col("b").as("y"))
        .unionAll(und.select(col("b").as("x"), col("a").as("y")))
        .join(deg.select(col("id").as("x"), col("deg").as("dx")), "x")
        .join(deg.select(col("id").as("y"), col("deg").as("dy")), "y")
        .agg(count(lit(1)).as("n_arcs"), sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("n_arcs"),
          (col("n_arcs") * col("sxy") - col("sx") * col("sy")).as("covar_num"),
          (col("n_arcs") * col("sxx") - col("sx") * col("sx")).as("varx_num"),
          (col("n_arcs") * col("syy") - col("sy") * col("sy")).as("vary_num"))
    } {
      // both arc orientations; exact x21-style sufficient statistics
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS src, ((doc_id * 31 + 7) % n.n) AS d1,
        |    ((doc_id * 17 + 3) % n.n) AS d2 FROM documents, n),
        |edges AS (SELECT src, d1 AS dst FROM e0
        |  UNION ALL SELECT src, d2 AS dst FROM e0),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |deg AS (SELECT id, count(*) AS deg FROM (
        |    SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |arcs AS (SELECT a AS x, b AS y FROM und
        |  UNION ALL SELECT b AS x, a AS y FROM und),
        |j AS (SELECT dx.deg AS dx, dy.deg AS dy FROM arcs
        |  JOIN deg dx ON dx.id = arcs.x JOIN deg dy ON dy.id = arcs.y)
        |SELECT count(*) AS n_arcs,
        |  CAST(count(*) * sum(dx * dy) - sum(dx) * sum(dy) AS BIGINT) AS covar_num,
        |  CAST(count(*) * sum(dx * dx) - sum(dx) * sum(dx) AS BIGINT) AS varx_num,
        |  CAST(count(*) * sum(dy * dy) - sum(dy) * sum(dy) AS BIGINT) AS vary_num
        |FROM j""".stripMargin
    },

    /** GraphSAGE-style 2-hop neighbor feature aggregation over the doc
      * graph: each vertex's 8-dim micro-quantized embedding prefix is
      * replaced, hop by hop, with the truncated mean of its out-neighbors' —
      * the message-passing featurization a GNN training pipeline
      * precomputes at corpus scale. Exact integers end to end (sign-safe
      * magnitude division), so the 2-hop trajectory hash-checks. See
      * [[graft.operators.Graph.neighborMeanAgg]]. */
    QueryDef("g13_neigh_agg", headline = true, sf1MinOf2 = true) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val n = emb.agg(count(lit(1)).as("__n"))
      val edges = emb.select("vec_id").crossJoin(broadcast(n))
        .select(col("vec_id").as("src"),
          explode(array((col("vec_id") * 31 + 7) % col("__n"),
            (col("vec_id") * 17 + 3) % col("__n"))).as("dst"))
      val feats = emb.select(col("vec_id").as("id"),
        slice(Similarity.quantizeMicro(col("embedding")), 1, 8).as("f"))
      graft.operators.Graph.neighborMeanAgg(edges, feats, hops = 2)
        .orderBy("id", "dim")
    } {
      // two unrolled message-passing hops: dst-keyed component join +
      // (src, dim) truncated mean, sign-safe magnitude division both engines
      """WITH q AS (SELECT vec_id AS id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))[1:8] AS f FROM embeddings),
        |n AS (SELECT count(*) AS n FROM q),
        |e AS (SELECT id AS src, unnest([(id * 31 + 7) % n.n, (id * 17 + 3) % n.n]) AS dst
        |  FROM q, n),
        |c0 AS (SELECT id, generate_subscripts(f, 1) - 1 AS dim, unnest(f) AS val FROM q),
        |h1 AS (SELECT e.src AS id, c.dim,
        |    CASE WHEN sum(c.val) < 0 THEN -((-sum(c.val)) // count(*))
        |         ELSE sum(c.val) // count(*) END AS val
        |  FROM e JOIN c0 c ON c.id = e.dst GROUP BY 1, 2),
        |h2 AS (SELECT e.src AS id, c.dim,
        |    CASE WHEN sum(c.val) < 0 THEN -((-sum(c.val)) // count(*))
        |         ELSE sum(c.val) // count(*) END AS val
        |  FROM e JOIN h1 c ON c.id = e.dst GROUP BY 1, 2)
        |SELECT id, dim, CAST(val AS BIGINT) AS val FROM h2
        |ORDER BY id, dim""".stripMargin
    })
}
