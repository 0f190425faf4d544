package graft
package ledger

import graft.core.Tables
import graft.operators.{Similarity, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings`: exact and approximate
  * kNN, quantizers, clustering and recall evaluation. */
private[graft] object EmbeddingQueries {
  import Common._

  /** e12's TRAINED integer centroids collected as [[Similarity.ivfTopK]]'s
    * driver-side centroid seq (k rows — never corpus-sized). Micro-unit
    * longs convert to double via one exact widening (< 2⁵³) + one
    * correctly-rounded IEEE division by 1e6 — bit-identical to DuckDB's
    * `x / 1000000.0`, which is what lets a TRAINED index stay on the
    * hash ledger. Shared by e5's probe search and e26's operating curve
    * (the index a deployment would actually build and then sweep). */
  private def trainedIvfCentroids(s: SparkSession, d: String): Seq[(Int, Seq[Double])] = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), Similarity.quantizeMicro(col("embedding")).as("qv"))
    val init = q.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
      .select((col("vec_id") / 37).cast("int").as("cid"), col("qv").as("c"))
    Similarity.kmeansExactCentroids(q, init, iters = 2)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).map(_.toDouble / 1e6).toSeq))
      .sortBy(_._1).toSeq
  }

  /** e6 bucket-granularity dials, shared with the oracle generator so the
    * two sides replay the identical integer ladder. */
  private val E6TargetBucket = 24
  private val E6MinBits = 4
  private val E6MaxBits = 16
  private val E6BucketCap = 192

  // integer-exact Lloyd rounds: micro-quantized vectors, BIGINT
  // distance folds, floor(sum/n) centroid update — assign(c0) →
  // update → assign(c1), mirroring kmeansExact(iters=2) exactly.
  // Shared by e12 itself and e19's purity scoring.
  private val e12KmeansSql: String =
    """WITH q AS (SELECT vec_id,
      |    list_transform(embedding::DOUBLE[],
      |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v FROM embeddings),
      |c0 AS (SELECT CAST(vec_id // 37 AS INT) AS cid, v AS c FROM q
      |       WHERE vec_id % 37 = 0 AND vec_id < 260),
      |d1 AS (SELECT q.vec_id, c0.cid,
      |    CAST(list_sum(list_transform(list_zip(q.v, c0.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
      |  FROM q, c0),
      |a1 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM d1) WHERE rn = 1),
      |m1 AS (SELECT cid, dim,
      |    CAST(floor(sum(val) * 1.0 / count(*)) AS BIGINT) AS cv FROM (
      |      SELECT a1.cid, generate_subscripts(q.v, 1) AS dim,
      |             unnest(q.v) AS val
      |      FROM a1 JOIN q USING (vec_id)) GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(cv ORDER BY dim) AS c FROM m1 GROUP BY cid),
      |d2 AS (SELECT q.vec_id, c1.cid,
      |    CAST(list_sum(list_transform(list_zip(q.v, c1.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
      |  FROM q, c1)
      |SELECT vec_id, cid, d FROM (
      |  SELECT vec_id, cid, d,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |  FROM d2) WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // e12's trained integer centroids as an IVF coarse quantizer: one
  // assign → floor-mean update round (the kmeansExact(iters=2)
  // trajectory), then micro-unit BIGINTs → doubles via /1000000.0 —
  // the same single correctly-rounded IEEE division the Spark side
  // does driver-side, so probe distances replay exactly. Yields a
  // `cent(cid, c: DOUBLE[])` CTE; shared by e5 and e26.
  private val trainedCentCtes: String =
    """kq AS (SELECT vec_id,
      |    list_transform(embedding::DOUBLE[],
      |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qv FROM embeddings),
      |kc0 AS (SELECT CAST(vec_id // 37 AS INT) AS cid, qv AS c FROM kq
      |       WHERE vec_id % 37 = 0 AND vec_id < 260),
      |kd1 AS (SELECT kq.vec_id, kc0.cid,
      |    CAST(list_sum(list_transform(list_zip(kq.qv, kc0.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
      |  FROM kq, kc0),
      |ka1 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM kd1) WHERE rn = 1),
      |km1 AS (SELECT cid, dim,
      |    CAST(floor(sum(val) * 1.0 / count(*)) AS BIGINT) AS cv FROM (
      |      SELECT ka1.cid, generate_subscripts(kq.qv, 1) AS dim,
      |             unnest(kq.qv) AS val
      |      FROM ka1 JOIN kq USING (vec_id)) GROUP BY 1, 2),
      |cent AS (SELECT cid,
      |    list_transform(list(cv ORDER BY dim), x -> x / 1000000.0) AS c
      |  FROM km1 GROUP BY cid)""".stripMargin

  // power-iteration replay shared by e14 itself and e20's residuals
  private val e14PcaSql: String = {
    val iters = (1 to 3).map { k =>
      s"""r$k AS (SELECT sc.i, sum(sc.m * x${k - 1}.x) AS r
         |  FROM sc JOIN x${k - 1} ON sc.j = x${k - 1}.j GROUP BY 1),
         |u$k AS (SELECT greatest(1, max(abs(r)) // 1000000) AS u FROM r$k),
         |x$k AS (SELECT i AS j,
         |    CAST(CASE WHEN r < 0 THEN -(abs(r) // u) ELSE r // u END AS BIGINT) AS x
         |  FROM r$k, u$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v FROM embeddings),
       |comp AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS i,
       |    unnest(v) AS val FROM q),
       |mean AS (SELECT i, CASE WHEN sum(val) < 0
       |      THEN -(abs(sum(val)) // count(*)) ELSE sum(val) // count(*) END AS mu
       |  FROM comp GROUP BY 1),
       |cc AS (SELECT comp.vec_id, comp.i, val - mu AS cv
       |  FROM comp JOIN mean USING (i)),
       |m0 AS (SELECT a.i, b.i AS j, sum(a.cv * b.cv) AS m
       |  FROM cc a JOIN cc b USING (vec_id) GROUP BY 1, 2),
       |sc AS (SELECT i, j, CASE WHEN m < 0
       |      THEN -(abs(m) // 1000000000) ELSE m // 1000000000 END AS m FROM m0),
       |x0 AS (SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS x FROM sc),
       |$iters
       |SELECT j AS dim, x AS eig_micro FROM x3 ORDER BY dim""".stripMargin
  }

  /** e1/e2 ranker SQL, shared verbatim with the recall evaluations. */
  private val e1KnnSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      |s AS (SELECT query_id, neighbor_id,
      |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS rawcos
      |  FROM q CROSS JOIN c WHERE query_id != neighbor_id),
      |r AS (SELECT query_id, neighbor_id, round(rawcos, 4) AS cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id ASC) AS INT) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  private val e2KnnSql = {
    def planeLit(p: Int): String =
      (0 until 64).map(dd => Similarity.planeComponent(p, dd).toString).mkString("[", ", ", "]")
    val bucketOf = (v: String) => (0 until 8).map { p =>
      s"CASE WHEN list_dot_product($v, ${planeLit(p)}) >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |be AS (SELECT vec_id, v, ${bucketOf("v")} AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM be WHERE vec_id < 5),
       |s AS (SELECT query_id, be.vec_id AS neighbor_id,
       |  list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS rawcos
       |  FROM q JOIN be USING (bucket) WHERE query_id != be.vec_id),
       |r AS (SELECT query_id, neighbor_id, round(rawcos, 4) AS cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Exact cosine top-5 neighbours of vectors 0-4: e1 itself, and the
    * ground truth the recall queries score approximate rankers against. */
  private def e1KnnBrute(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .withColumn("cosine", round(col("cosine"), 4))
      .orderBy("query_id", "rank")
  }

  /** e2: e1's top-5 searched within 8-plane sign-LSH buckets only. */
  private def e2KnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), dim = 64, bits = 8, k = 5)
      .withColumn("cosine", round(col("cosine"), 4))
      .orderBy("query_id", "rank")
  }

  val all: Seq[QueryDef] = Seq(
    /** Hybrid retrieval via reciprocal-rank fusion: dense ranker = brute
      * cosine top-50 around query vector 0, lexical ranker = BM25 top-50
      * for the fixed term query (doc ids and vec ids share the id space).
      * Fusion is exact integer nano-unit arithmetic (see
      * [[Similarity.rrfFuse]]); output = fused top 20 with consensus
      * count. */
    QueryDef("e8_rrf") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 50)
        .select(col("neighbor_id").as("id"), col("rank"))
      val lexical = TextOps.bm25(Tables.documents(s, d), Seq("spark", "vector", "merge"))
        .orderBy(col("score_micro").desc, col("doc_id").asc).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id").asc)))
        .select(col("doc_id").as("id"), col("rank"))
      Similarity.rrfFuse(Seq(dense, lexical))
        .filter(col("rank") <= 20)
        .select(col("id"), col("rrf_nano"), col("n_lists"), col("rank"))
        .orderBy("rank")
    } {
      s"""WITH $bm25Ctes,
         |dq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |dc AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id != 0),
         |dsc AS (SELECT vec_id AS id,
         |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS rawcos
         |  FROM dq CROSS JOIN dc),
         |dr AS (SELECT id, row_number() OVER (ORDER BY rawcos DESC, id) AS rank FROM dsc),
         |lr AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank FROM bm),
         |u AS (SELECT id, 1000000000 // (60 + rank) AS c FROM dr WHERE rank <= 50
         |      UNION ALL SELECT id, 1000000000 // (60 + rank) FROM lr WHERE rank <= 50),
         |f AS (SELECT id, CAST(sum(c) AS BIGINT) AS rrf_nano, CAST(count(*) AS BIGINT) AS n_lists
         |      FROM u GROUP BY 1),
         |fr AS (SELECT id, rrf_nano, n_lists,
         |    CAST(row_number() OVER (ORDER BY rrf_nano DESC, id) AS INT) AS rank FROM f)
         |SELECT id, rrf_nano, n_lists, rank FROM fr WHERE rank <= 20 ORDER BY rank""".stripMargin
    },

    /** Integer-exact k-means (2 Lloyd rounds, e7's fixed seeding) — the
      * oracle-checkable sibling of e5's float clustering: micro-quantized
      * vectors, BIGINT distance folds, floor(Σ/n) centroid updates. The
      * full trajectory replays bit-for-bit in DuckDB, so the clustering
      * itself (not just fixed-centroid probes) is hash-checked. See
      * [[graft.operators.Similarity.kmeansExact]]. */
    QueryDef("e12_kmeans_exact", headline = true, sf1MinOf2 = true) { (s, d) =>
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantizeMicro(col("embedding")).as("qv"))
      val init = q.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
        .select((col("vec_id") / 37).cast("int").as("cid"), col("qv").as("c"))
      Similarity.kmeansExact(q, init, iters = 2).orderBy("vec_id")
    }(e12KmeansSql),

    /** PQ codebook TRAINING (e9/e10 use fixed codebooks; this learns
      * them): integer Lloyd per 16-dim subspace, all four codebooks in
      * the same two jobs per round. Output is each vector's
      * trained-codebook code word per subspace — the full trajectory
      * replays in SQL. See [[graft.operators.Similarity.pqTrain]]. */
    QueryDef("e13_pq_train", headline = true, sf1MinOf2 = true) { (s, d) =>
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantizeMicro(col("embedding")).as("qv"))
      val init = q.filter(col("vec_id") % 37 === 0 && col("vec_id") < 148)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          posexplode(array((0 until 4).map(s1 =>
            slice(col("qv"), s1 * 16 + 1, 16)): _*)).as(Seq("sub", "c")))
        .select(col("sub"), col("cid"), col("c"))
      Similarity.pqTrain(q, m = 4, dsub = 16, init = init, iters = 2)
        .orderBy("vec_id", "sub")
    } {
      // PQ training: e12's unrolled integer Lloyd with the subspace id as
      // an extra key everywhere — assign(c0) → floor-avg update → assign(c1)
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v FROM embeddings),
        |subs AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
        |    list_slice(v, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
        |  FROM q, (SELECT unnest(range(0, 4)) AS sub) s),
        |c0 AS (SELECT sub, CAST(vec_id // 37 AS INT) AS cid, sv AS c
        |       FROM subs WHERE vec_id % 37 = 0 AND vec_id < 148),
        |d1 AS (SELECT subs.vec_id, subs.sub, c0.cid,
        |    CAST(list_sum(list_transform(list_zip(subs.sv, c0.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
        |  FROM subs JOIN c0 ON subs.sub = c0.sub),
        |a1 AS (SELECT vec_id, sub, cid FROM (
        |    SELECT vec_id, sub, cid,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
        |    FROM d1) WHERE rn = 1),
        |m1 AS (SELECT sub, cid, dim,
        |    CAST(floor(sum(val) * 1.0 / count(*)) AS BIGINT) AS cv FROM (
        |      SELECT a1.sub, a1.cid, generate_subscripts(subs.sv, 1) AS dim,
        |             unnest(subs.sv) AS val
        |      FROM a1 JOIN subs ON a1.vec_id = subs.vec_id AND a1.sub = subs.sub)
        |    GROUP BY 1, 2, 3),
        |c1 AS (SELECT sub, cid, list(cv ORDER BY dim) AS c FROM m1 GROUP BY 1, 2),
        |d2 AS (SELECT subs.vec_id, subs.sub, c1.cid,
        |    CAST(list_sum(list_transform(list_zip(subs.sv, c1.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
        |  FROM subs JOIN c1 ON subs.sub = c1.sub)
        |SELECT vec_id, sub, cid, d FROM (
        |  SELECT vec_id, sub, cid, d,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
        |  FROM d2) WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin
    },

    /** Cluster-quality evaluation — per-cluster purity of e12's exact
      * k-means assignment against the embedding `label` column: the
      * metrology a clustering deployment runs before trusting its
      * partitions (and the unsupervised twin of x32's classifier eval).
      * One (cid, label) census feeds sizes AND majority labels; ties on
      * the majority count go to the smallest label via a struct-max
      * (never a window sort); purity is a single integer division. */
    QueryDef("e19_cluster_purity") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.select(col("vec_id"), Similarity.quantizeMicro(col("embedding")).as("qv"))
      val init = q.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
        .select((col("vec_id") / 37).cast("int").as("cid"), col("qv").as("c"))
      val assigned = Similarity.kmeansExact(q, init, iters = 2).select("vec_id", "cid")
      val census = graft.core.Caching.shared(
        assigned.join(emb.select(col("vec_id"), col("label")), "vec_id")
          .groupBy("cid", "label").agg(count(lit(1)).as("c")))
      val top = census
        .groupBy("cid")
        .agg(max(struct(col("c"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("cid"), col("__m.c").as("top_cnt"), (-col("__m.__nl")).as("top_label"))
      census.groupBy("cid").agg(sum("c").as("n"))
        .join(top, "cid")
        .select(col("cid"), col("n"), col("top_label"), col("top_cnt"),
          expr("top_cnt * 1000000 div n").as("purity_micro"))
        .orderBy("cid")
    } {
      // purity over the shared e12 assignment SQL; majority ties to the
      // smallest label, purity one integer division
      s"""WITH a AS (SELECT vec_id, cid FROM ($e12KmeansSql)),
         |lab AS (SELECT a.cid, e.label FROM a JOIN embeddings e USING (vec_id)),
         |census AS (SELECT cid, label, count(*) AS c FROM lab GROUP BY 1, 2),
         |top AS (SELECT cid, label AS top_label, CAST(c AS BIGINT) AS top_cnt FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY c DESC, label ASC) AS rn
         |    FROM census) WHERE rn = 1),
         |sz AS (SELECT cid, CAST(sum(c) AS BIGINT) AS n FROM census GROUP BY 1)
         |SELECT s.cid, s.n, t.top_label, t.top_cnt,
         |  CAST(t.top_cnt * 1000000 // s.n AS BIGINT) AS purity_micro
         |FROM sz s JOIN top t USING (cid) ORDER BY s.cid""".stripMargin
    },

    /** Principal component of the embedding corpus — integer-exact power
      * iteration over the micro-quantized scatter matrix (3 rounds, L∞
      * gauge): the whitening/drift-analysis primitive, with covariance
      * build, matrix-vector products, and normalizations all replaying
      * bit-for-bit in SQL. See
      * [[graft.operators.Similarity.pcaPower]]. */
    QueryDef("e14_pca_power") { (s, d) =>
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantizeMicro(col("embedding")).as("qv"))
      Similarity.pcaPower(q, iters = 3).orderBy("dim")
    }(e14PcaSql),

    /** All-but-the-top post-processing — every embedding's projection
      * onto e14's principal component removed, exact residual norms (the
      * isotropization step before similarity search). See
      * [[graft.operators.Similarity.abttResiduals]]. */
    QueryDef("e20_abtt") { (s, d) =>
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantizeMicro(col("embedding")).as("qv"))
      Similarity.abttResiduals(q, Similarity.pcaPower(q, iters = 3))
        .orderBy("vec_id")
    } {
      // projection coefficient on HUGEINT (dot·10⁶ exceeds 2⁶³), then
      // per-dim sign-safe divide-back; residual norms exact
      s"""WITH pc AS ($e14PcaSql),
         |q2 AS (SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |      x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS v FROM embeddings),
         |c2 AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim,
         |    unnest(v) AS val FROM q2),
         |xx AS (SELECT CAST(sum(eig_micro * eig_micro) AS HUGEINT) AS xx FROM pc),
         |dots AS (SELECT c2.vec_id,
         |    CAST(sum(c2.val * pc.eig_micro) AS HUGEINT) AS dot
         |  FROM c2 JOIN pc ON pc.dim = c2.dim GROUP BY 1),
         |coefs AS (SELECT vec_id,
         |    CAST(CASE WHEN xx = 0 THEN 0
         |      WHEN dot < 0 THEN -(((-dot) * 1000000) // xx)
         |      ELSE (dot * 1000000) // xx END AS BIGINT) AS c_micro
         |  FROM dots, xx),
         |res AS (SELECT c2.vec_id, co.c_micro,
         |    c2.val - (CASE WHEN co.c_micro * pc.eig_micro < 0
         |      THEN -((-(co.c_micro * pc.eig_micro)) // 1000000)
         |      ELSE (co.c_micro * pc.eig_micro) // 1000000 END) AS r
         |  FROM c2 JOIN pc ON pc.dim = c2.dim JOIN coefs co USING (vec_id))
         |SELECT vec_id, max(c_micro) AS c_micro,
         |  CAST(sum(r * r) AS BIGINT) AS resid_norm2
         |FROM res GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    /** Recall@k CURVE of the LSH ranker — e11 resolved at k = 1, 3, 5 in
      * one pass (the operating-curve view an ANN deployment tunes
      * against, not a single point): per (query, k) hits over the same
      * two rankers, rank columns gate membership. All relations are
      * queries×k-sized; one bounded explode per side. */
    QueryDef("e23_recall_curve") { (s, d) =>
      val ks = Seq(1, 3, 5)
      val truth = graft.core.Caching.shared(e1KnnBrute(s, d)
        .select(col("query_id"), col("neighbor_id"), col("rank")))
      val approx = graft.core.Caching.shared(e2KnnLsh(s, d)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("arank")))
      val kdf = explode(array(ks.map(lit): _*)).as("k")
      truth.select(col("query_id"), col("neighbor_id"), col("rank"), kdf)
        .filter(col("rank") <= col("k"))
        .join(approx.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        // found-but-beyond-k counts as a MISS at that k, not a dropped row
        .withColumn("__h2",
          when(col("__hit").isNotNull && col("arank") <= col("k"), 1L)
            .otherwise(0L))
        .groupBy("query_id", "k")
        .agg(count(lit(1)).as("n_true"), sum("__h2").as("n_hits"))
        .withColumn("recall_micro", expr("n_hits * 1000000 div n_true"))
        .orderBy("query_id", "k")
    } {
      // recall at k = 1, 3, 5 from the shared e1/e2 rankers; found
      // beyond k is a miss at that k
      s"""WITH truth AS (SELECT query_id, neighbor_id, rank FROM ($e1KnnSql)),
         |appr AS (SELECT query_id, neighbor_id, rank AS arank FROM ($e2KnnSql)),
         |ks AS (SELECT unnest([1, 3, 5]) AS k),
         |t2 AS (SELECT t.query_id, t.neighbor_id, ks.k FROM truth t
         |  CROSS JOIN ks WHERE t.rank <= ks.k)
         |SELECT t2.query_id, CAST(t2.k AS INT) AS k,
         |  count(*) AS n_true,
         |  CAST(sum(CASE WHEN a.arank IS NOT NULL AND a.arank <= t2.k
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.arank IS NOT NULL AND a.arank <= t2.k
         |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_micro
         |FROM t2 LEFT JOIN appr a
         |  ON a.query_id = t2.query_id AND a.neighbor_id = t2.neighbor_id
         |GROUP BY 1, 2 ORDER BY t2.query_id, k""".stripMargin
    },

    /** ANN evaluation — recall@5 of the LSH index (e2) against exhaustive
      * ground truth (e1), per query. The metrology operator every ANN
      * deployment runs on a sampled query set before trusting the index;
      * both inputs are deterministic, so recall itself is oracle-exact.
      * The ground-truth side is small (queries × k), so the hit probe is
      * a broadcast left join — no shuffle beyond the two rankers'. */
    QueryDef("e11_ann_recall") { (s, d) =>
      val truth = e1KnnBrute(s, d).select(col("query_id"), col("neighbor_id"))
      val approx = e2KnnLsh(s, d)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      truth.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          coalesce(sum("__hit"), lit(0L)).as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 100 / col("k")).cast("long"))
        .orderBy("query_id")
    } {
      // recall@5 of the LSH ranker against exhaustive ground truth — both
      // rankers' SQL shared verbatim with their own oracle entries
      s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($e1KnnSql)),
         |appr AS (SELECT query_id, neighbor_id FROM ($e2KnnSql))
         |SELECT t.query_id, count(*) AS k,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
         |    // count(*) AS BIGINT) AS recall_pct
         |FROM truth t LEFT JOIN appr a
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
    },

    /** Rank-aware ANN evaluation — NDCG@5 of the LSH ranker against e1's
      * exhaustive ground truth, the position-weighted sibling of e11's
      * recall (a hit at rank 1 is worth more than a hit at rank 5).
      * Binary relevance (in the true top-5 or not); per-position discount
      * floor(10⁶·ln2/ln(i+1)+0.5) micro-quantized BEFORE summing (the
      * bm25/surprisal float discipline — both engines fold exact
      * integers); IDCG puts all hits first, computed per query from
      * n_hits alone by an in-row sequence fold (no second ranker pass).
      * Ground truth is queries×k rows, so both probes broadcast. */
    QueryDef("e18_ndcg") { (s, d) =>
      val ln2 = log(lit(2.0))
      def disc(i: Column) =
        floor(lit(1e6) * ln2 / log(i.cast("double") + 1) + 0.5).cast("long")
      // pinned: the truth relation feeds the hit probe AND the query list
      val truth = graft.core.Caching.shared(
        e1KnnBrute(s, d).select(col("query_id"), col("neighbor_id")))
      val scored = e2KnnLsh(s, d)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .join(broadcast(truth.withColumn("__hit", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          sum(when(col("__hit").isNotNull, disc(col("rank"))).otherwise(0L))
            .as("dcg_micro"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      truth.select("query_id").distinct()
        .join(broadcast(scored), Seq("query_id"), "left")
        .na.fill(0L, Seq("dcg_micro", "n_hits"))
        .withColumn("idcg_micro",
          when(col("n_hits") === 0, lit(0L)).otherwise(
            aggregate(sequence(lit(1L), col("n_hits")), lit(0L),
              (acc, i) => acc + disc(i))))
        .withColumn("ndcg_micro",
          when(col("idcg_micro") === 0, lit(0L))
            .otherwise(expr("dcg_micro * 1000000 div idcg_micro")))
        .orderBy("query_id")
    } {
      // rank-aware ANN eval: micro-quantized ln-based discounts folded as
      // exact integers; IDCG from n_hits alone via a correlated series
      s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($e1KnnSql)),
         |appr AS (SELECT query_id, neighbor_id, rank FROM ($e2KnnSql)),
         |scored AS (SELECT a.query_id,
         |    CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL
         |      THEN CAST(floor(1e6 * ln(2) / ln(a.rank + 1) + 0.5) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS dcg_micro,
         |    CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM appr a LEFT JOIN truth t
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY 1),
         |f AS (SELECT q.query_id, coalesce(s.dcg_micro, 0) AS dcg_micro,
         |    coalesce(s.n_hits, 0) AS n_hits
         |  FROM (SELECT DISTINCT query_id FROM truth) q
         |  LEFT JOIN scored s USING (query_id)),
         |cum AS (SELECT a.i AS nh,
         |    CAST(sum(CAST(floor(1e6 * ln(2) / ln(b.i + 1) + 0.5) AS BIGINT)) AS BIGINT) AS idcg
         |  FROM generate_series(1, 5) a(i) JOIN generate_series(1, 5) b(i) ON b.i <= a.i
         |  GROUP BY 1),
         |w AS (SELECT query_id, dcg_micro, n_hits,
         |    CASE WHEN n_hits = 0 THEN 0 ELSE cum.idcg END AS idcg_micro
         |  FROM f LEFT JOIN cum ON cum.nh = f.n_hits)
         |SELECT query_id, dcg_micro, n_hits, idcg_micro,
         |  CAST(CASE WHEN idcg_micro = 0 THEN 0
         |    ELSE dcg_micro * 1000000 // idcg_micro END AS BIGINT) AS ndcg_micro
         |FROM w ORDER BY query_id""".stripMargin
    },

    QueryDef("e1_knn_brute", headline = true)(e1KnnBrute)(e1KnnSql),

    QueryDef("e2_knn_lsh", headline = true)(e2KnnLsh)(e2KnnSql),

    /** Threshold-calibration sweep — the near-dup pair count at every
      * candidate cosine cutoff in ONE pass (conditional sums over the
      * bounded pairwise relation): the tuning curve read before fixing
      * e3/e6's τ. Micro-quantized cosines make the threshold compares
      * integer-exact; thresholds 0.30 … 0.90 by 0.10. */
    QueryDef("e25_threshold_sweep") { (s, d) =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
      val pairs = e.select(col("vec_id").as("id1"), col("embedding").as("v1"))
        .join(broadcast(e.select(col("vec_id").as("id2"), col("embedding").as("v2"))),
          col("id1") < col("id2"))
        .select(floor(graft.functions.VectorExpressions.vec_cosine(
          col("v1").cast("array<double>"), col("v2").cast("array<double>"))
          * 1e6 + 0.5).cast("long").as("c"))
      val ts = (3 to 9).map(_ * 100000L)
      pairs.agg(count(lit(1)).as("n_pairs"),
          ts.map(t => sum(when(col("c") >= t, 1L).otherwise(0L))
            .as(s"n_ge_${t / 100000}0pct")): _*)
        .select(col("n_pairs") +: ts.map(t => col(s"n_ge_${t / 100000}0pct")): _*)
    } {
      // one pass, one conditional sum per threshold over micro cosines
      val cols = (3 to 9).map(t =>
        s"CAST(sum(CASE WHEN c >= ${t * 100000} THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_${t}0pct")
        .mkString(",\n           |  ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE vec_id < 200),
         |p AS (SELECT CAST(floor(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         |    * 1e6 + 0.5) AS BIGINT) AS c
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT count(*) AS n_pairs,
         |  $cols
         |FROM p""".stripMargin
    },

    /** Embedding-cosine near-dup pairs (the embedding flavor of dedup):
      * exact pairwise verify over a bounded candidate set, scored by the
      * native single-pass CosineSim expression. */
    QueryDef("e3_embedding_dup") { (s, d) =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      val b = e.select(col("vec_id").as("id2"), col("embedding").as("v2"))
      a.join(broadcast(b), col("id1") < col("id2"))
        .withColumn("cosine",
          graft.functions.VectorExpressions.vec_cosine(
            col("v1").cast("array<double>"), col("v2").cast("array<double>")))
        .filter(col("cosine") >= 0.3)
        .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id1", "id2")
    } {
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200),
        |s AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS rawcos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, round(rawcos, 4) AS cosine FROM s WHERE rawcos >= 0.3
        |ORDER BY id1, id2""".stripMargin
    },

    /** IVF ANN (the coarse-quantizer scale path next to e2's LSH): k-means
      * inverted lists, nprobe-of-k probe search, exact cosine inside the
      * probed lists. The coarse quantizer is TRAINED — e12's integer-exact
      * Lloyd rounds (micro-quantized vectors, BIGINT folds, floor(Σ/n)
      * updates) — so unlike float Lloyd the full train→probe trajectory
      * replays bit-for-bit in the oracle; `e7_ivf_fixed` keeps the
      * untrained fixed-centroid variant. */
    QueryDef("e5_knn_ivf") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = trainedIvfCentroids(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), cents, nprobe = 2, k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    } {
      // trained-centroid IVF: e12's integer Lloyd round builds the coarse
      // quantizer, then e7's probe replay (euclidean list assignment,
      // nprobe=2 ranking, in-list cosine top-5) runs against it
      s"""WITH $trainedCentCtes,
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |dist AS (SELECT e.vec_id, e.v, cent.cid,
         |    list_sum(list_transform(list_zip(e.v, cent.c),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
         |  FROM emb e CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM dist)
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, v AS qv, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM dist WHERE vec_id < 5)
         |  WHERE rn <= 2),
         |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    list_dot_product(p.qv, a.v) /
         |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS rawcos
         |  FROM probes p JOIN assigned a USING (cid) WHERE a.vec_id != p.query_id),
         |r AS (SELECT query_id, neighbor_id, round(rawcos, 4) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    /** IVF with FIXED data-derived centroids (the 8 vectors at vec_id ∈
      * 37ℤ) — the same inverted-list probe machinery as e5, but fully
      * oracle-checkable: centroid choice, euclidean list assignment (ties
      * to the lower cid), nprobe ranking, and the in-list cosine top-k all
      * replay exactly in DuckDB. e5 keeps the k-means variant — since its
      * centroids come from integer-exact Lloyd rounds it is hash-checked
      * too; this fixed-centroid twin isolates the probe machinery from
      * the training trajectory. */
    QueryDef("e7_ivf_fixed") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => ((r.getLong(0) / 37).toInt, r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), cents, nprobe = 2, k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    } {
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT CAST(vec_id // 37 AS INT) AS cid, v AS c FROM emb
        |         WHERE vec_id % 37 = 0 AND vec_id < 260),
        |dist AS (SELECT e.vec_id, e.v, cent.cid,
        |    list_sum(list_transform(list_zip(e.v, cent.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
        |  FROM emb e CROSS JOIN cent),
        |assigned AS (SELECT vec_id, v, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM dist)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, v AS qv, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dist WHERE vec_id < 5)
        |  WHERE rn <= 2),
        |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_dot_product(p.qv, a.v) /
        |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS rawcos
        |  FROM probes p JOIN assigned a USING (cid) WHERE a.vec_id != p.query_id),
        |r AS (SELECT query_id, neighbor_id, round(rawcos, 4) AS cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
    },

    /** Product-quantization ADC ranking on e7's fixed codebook: 8 sub-space
      * codes per vector, query 0 answered from the codes + a literal
      * micro-unit lookup table (see [[Similarity.pqTopK]]). Encode fuses
      * into the scan; the only wide op is the TakeOrdered top-20. */
    QueryDef("e9_pq_adc") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => ((r.getLong(0) / 37).toInt, r.getSeq[Double](1).toSeq))
        .sortBy(_._1).map(_._2).toSeq
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect()(0).getSeq[Double](0).toSeq
      Similarity.pqTopK(emb, cents, query, m = 8, k = 20).orderBy("rank")
    } {
      val codeCols = (0 until 8).map(ms =>
        s"CAST(max(CASE WHEN m = $ms THEN code END) AS INT) AS code$ms").mkString(", ")
      s"""WITH emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents AS (SELECT CAST(vec_id // 37 AS INT) AS j, embedding::DOUBLE[] AS cv
         |          FROM embeddings WHERE vec_id % 37 = 0 AND vec_id < 260),
         |subs AS (SELECT CAST(range AS INT) AS m FROM range(8)),
         |dists AS (
         |  SELECT vec_id, m, j,
         |    CAST(floor(list_dot_product(
         |      list_transform(range(1, 9), i -> v[m * 8 + i] - cv[m * 8 + i]),
         |      list_transform(range(1, 9), i -> v[m * 8 + i] - cv[m * 8 + i]))
         |      * 1e6 + 0.5) AS BIGINT) AS micro
         |  FROM emb2, subs, cents),
         |codes AS (SELECT vec_id, m, j AS code FROM (
         |  SELECT vec_id, m, j,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY micro, j) AS rn
         |  FROM dists) WHERE rn = 1),
         |lut AS (SELECT m, j, micro FROM dists WHERE vec_id = 0),
         |adc AS (SELECT c.vec_id, CAST(sum(l.micro) AS BIGINT) AS adc_micro
         |        FROM codes c JOIN lut l ON l.m = c.m AND l.j = c.code GROUP BY 1),
         |cw AS (SELECT vec_id, $codeCols FROM codes GROUP BY vec_id),
         |ranked AS (SELECT a.vec_id, cw.code0, cw.code1, cw.code2, cw.code3,
         |    cw.code4, cw.code5, cw.code6, cw.code7, a.adc_micro,
         |    CAST(row_number() OVER (ORDER BY a.adc_micro, a.vec_id) AS INT) AS rank
         |  FROM adc a JOIN cw USING (vec_id))
         |SELECT * FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin
    },

    /** IVF-PQ end to end — the architecture a billion-vector index actually
      * runs: corpus inverted-listed by nearest centroid (the partition key
      * at scale), the query probes its nprobe nearest lists, and ranking
      * inside the probed lists is PQ/ADC over the codes. Pure composition
      * of [[Similarity.nearestCentroid]] + [[Similarity.pqTopK]]: the list
      * filter prunes the scan BEFORE encode, so a probe touches
      * nprobe/nlist of the corpus. */
    QueryDef("e10_ivf_pq") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => ((r.getLong(0) / 37).toInt, r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect()(0).getSeq[Double](0).toSeq
      // the query's nprobe nearest lists, driver-side with the engines'
      // fold order; (d, cid) tuple sort = distance then lowest cid
      val probed = cents.map { case (cid, c) =>
        (query.zip(c).foldLeft(0.0) { case (a, (x, y)) => a + (x - y) * (x - y) }, cid)
      }.sorted.take(2).map(_._2)
      val listed = emb.withColumn("cid",
        Similarity.nearestCentroid(col("embedding").cast("array<double>"), cents))
      Similarity.pqTopK(listed.filter(col("cid").isin(probed: _*)),
          cents.map(_._2), query, m = 8, k = 10)
        .select("vec_id", "adc_micro", "rank")
        .orderBy("rank")
    } {
      """WITH emb2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT CAST(vec_id // 37 AS INT) AS cid, v AS c FROM emb2
        |         WHERE vec_id % 37 = 0 AND vec_id < 260),
        |adist AS (SELECT e.vec_id, cent.cid,
        |    list_sum(list_transform(list_zip(e.v, cent.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
        |  FROM emb2 e CROSS JOIN cent),
        |assigned AS (SELECT vec_id, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM adist) WHERE rn = 1),
        |probes AS (SELECT cid FROM (
        |    SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn
        |    FROM adist WHERE vec_id = 0) WHERE rn <= 2),
        |sub AS (SELECT a.vec_id FROM assigned a JOIN probes p ON a.cid = p.cid),
        |subs AS (SELECT CAST(range AS INT) AS m FROM range(8)),
        |pqd AS (SELECT e2.vec_id, s2.m, cb.cid AS j,
        |    CAST(floor(list_dot_product(
        |      list_transform(range(1, 9), i -> e2.v[s2.m * 8 + i] - cb.c[s2.m * 8 + i]),
        |      list_transform(range(1, 9), i -> e2.v[s2.m * 8 + i] - cb.c[s2.m * 8 + i]))
        |      * 1e6 + 0.5) AS BIGINT) AS micro
        |  FROM emb2 e2, subs s2, cent cb),
        |codes AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT vec_id, m, j,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY micro, j) AS rn
        |    FROM pqd) WHERE rn = 1),
        |lut AS (SELECT m, j, micro FROM pqd WHERE vec_id = 0),
        |adc AS (SELECT c2.vec_id, CAST(sum(l.micro) AS BIGINT) AS adc_micro
        |        FROM codes c2 JOIN lut l ON l.m = c2.m AND l.j = c2.code
        |        JOIN sub ON sub.vec_id = c2.vec_id GROUP BY 1),
        |ranked AS (SELECT vec_id, adc_micro,
        |    CAST(row_number() OVER (ORDER BY adc_micro, vec_id) AS INT) AS rank FROM adc)
        |SELECT vec_id, adc_micro, rank FROM ranked WHERE rank <= 10
        |ORDER BY rank""".stripMargin
    },

    /** SemDeDup over the embedding corpus: deterministic LSH sign-bucket
      * clusters, every vector labeled with the lowest-id cosine-τ duplicate
      * in its bucket (null = kept representative). */
    QueryDef("e6_semantic_dedup", headline = true) { (s, d) =>
      // Adaptive bucket granularity + skew fuse (VERDICT r16 #1): the old
      // fixed bits=6 held the bucket COUNT constant while the corpus grew,
      // so within-bucket pairwise work was quadratic in n (measured 14.7×
      // exec for 10× data at sf1). bits now scales with corpus size so
      // expected occupancy stays ≤ E6TargetBucket (pairs ~ n·target,
      // linear), and maxBucketSize drops degenerate hash-skew buckets
      // exactly like d3/d6 do. The sizing integer comes from the cached
      // driver-side footer sweep (Tables.rowCount) — ZERO extra Spark
      // jobs, where the earlier count() scheduled one per invocation
      // (VERDICT r17 #6); with a real catalog, table statistics play
      // this role.
      val emb = Tables.embeddings(s, d)
      val bits = Similarity.adaptiveBits(Tables.rowCount(s, d, "embeddings"),
        E6TargetBucket, E6MinBits, E6MaxBits)
      Similarity.semanticDup(emb, dim = 64, bits = bits, tau = 0.3,
          maxBucketSize = E6BucketCap)
        .orderBy("vec_id")
    } {
      // Mirrors e6_semantic_dedup exactly (VERDICT r16 #1): the bit
      // count comes from the SAME integer ladder (adaptiveBits), computed
      // here in SQL from count(*), so the oracle stays green at every SF
      // while the measured curve is linear; the over-cap bucket drop
      // (maxBucketSize) is replayed as a HAVING filter on BOTH join
      // sides — dropped vectors surface as kept representatives, same as
      // the Spark side's left-anti.
      def planeLit(p: Int): String =
        (0 until 64).map(dd => Similarity.planeComponent(p, dd).toString).mkString("[", ", ", "]")
      val ladder = (E6MinBits until E6MaxBits)
        .map(b => s"WHEN cnt <= ${E6TargetBucket.toLong << b} THEN $b").mkString(" ")
      val bucketOf = (v: String) => (0 until E6MaxBits).map { p =>
        s"CASE WHEN $p < nb.bits AND list_dot_product($v, ${planeLit(p)}) >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END"
      }.mkString(" + ")
      s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         |nb AS (SELECT CASE $ladder ELSE ${E6MaxBits} END AS bits FROM n),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |be AS (SELECT vec_id, v, ${bucketOf("v")} AS bucket FROM e, nb),
         |ok AS (SELECT bucket FROM be GROUP BY bucket HAVING count(*) <= ${E6BucketCap}),
         |bp AS (SELECT be.* FROM be JOIN ok USING (bucket)),
         |d AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
         |  FROM bp a JOIN bp b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
         |  GROUP BY b.vec_id)
         |SELECT be.vec_id, be.bucket, d.dup_of
         |FROM be LEFT JOIN d USING (vec_id) ORDER BY vec_id""".stripMargin
    },

    /** Symmetric int8 quantization of embeddings (storage path of a 100 TB
      * vector corpus): scale = max|x|, q = ⌊127x/scale + 0.5⌋. Summarized
      * per vector (sum/min/max of the quantized codes) so the oracle diff
      * stays compact while still pinning every element. */
    QueryDef("e4_embedding_quantize") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale", Similarity.absMax(col("v")))
        .withColumn("q", Similarity.quantizeInt8(col("v"), col("scale")))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"))
        .orderBy("vec_id")
    } {
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |q AS (SELECT vec_id, scale,
        |  list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT) END) AS ql FROM m)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(list_sum(ql) AS BIGINT) AS q_sum,
        |  CAST(list_min(ql) AS BIGINT) AS q_min,
        |  CAST(list_max(ql) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin
    },

    /** Recall@5 of GLOBAL-scale symmetric int8 quantization against the
      * float brute-force truth (e1) — the measurement that licenses
      * shipping the 4×-smaller codes at 100 TB. One corpus absmax (1-row
      * broadcast) scales every vector; dot products and norms over the
      * int8 codes are EXACT integers (≤127²·64 per term), so the quantized
      * ranking is bit-replayable and only the final cosine normalization
      * touches floats — identically on both engines. */
    QueryDef("e15_sq_recall") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val scale = emb.agg(max(Similarity.absMax(col("embedding"))).as("__scale"))
      val codes = emb.crossJoin(broadcast(scale))
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding"), col("__scale")).as("q"))
        .select(col("vec_id"), col("q"),
          aggregate(transform(col("q"), x => x * x), lit(0L), _ + _).as("nrm"))
      val qs = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nrm").as("nq"))
      val scored = broadcast(qs).join(codes, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          aggregate(zip_with(col("qq"), col("q"), _ * _), lit(0L), _ + _).as("dot"),
          (col("nq") * col("nrm")).cast("double").as("nn"))
      val w = Window.partitionBy("query_id")
        .orderBy((col("dot") / sqrt(col("nn"))).desc, col("neighbor_id").asc)
      val approx = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      val truth = e1KnnBrute(s, d).select(col("query_id"), col("neighbor_id"))
      truth.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          coalesce(sum("__hit"), lit(0L)).as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 100 / col("k")).cast("long"))
        .orderBy("query_id")
    } {
      // recall@5 of the global-scale int8 ranker vs the e1 float truth —
      // the quantized dots/norms are exact BIGINTs on both engines
      s"""WITH sc AS (SELECT max(list_max(list_transform(embedding::DOUBLE[],
         |    x -> abs(x)))) AS s FROM embeddings),
         |c AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
         |    x -> CASE WHEN sc.s = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(floor(x * 127.0 / sc.s + 0.5) AS BIGINT) END) AS q
         |  FROM embeddings, sc),
         |nq AS (SELECT vec_id, q,
         |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm FROM c),
         |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn
         |  FROM nq WHERE vec_id < 5),
         |s2 AS (SELECT query_id, nq.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(list_zip(qq, q), p -> p[1] * p[2]))
         |      AS BIGINT) AS dot,
         |    CAST(qn * nrm AS DOUBLE) AS nn
         |  FROM qs, nq WHERE query_id != nq.vec_id),
         |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY dot / sqrt(nn) DESC, neighbor_id ASC)
         |    AS INT) AS rank FROM s2),
         |appr AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM ($e1KnnSql))
         |SELECT t.query_id, count(*) AS k,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
         |    // count(*) AS BIGINT) AS recall_pct
         |FROM truth t LEFT JOIN appr a
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
    },

    /** Recall@5 of 1-bit (sign) binary embedding codes under Hamming
      * distance — the 32×-compression extreme of the quantization ladder
      * (e4 int8 → e15 SQ recall → this): 64 dims pack into TWO longs
      * (32 sign bits each, positive — no sign-bit edge cases cross-
      * engine), distance is popcount(xor) — pure integer, bit-replayable,
      * and the candidate scan reads 16 bytes per vector instead of 256.
      * Ranked against the e1 float truth through the audited recall
      * join. */
    QueryDef("e17_hamming_recall") { (s, d) =>
      def half(lo: Int): Column = (0 until 32).map { j =>
        when(element_at(col("embedding"), lo + j + 1) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      val codes = Tables.embeddings(s, d)
        .select(col("vec_id"), half(0).as("c0"), half(32).as("c1"))
      val q = broadcast(codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("c0").as("q0"),
          col("c1").as("q1")))
      val scored = q.join(codes, col("query_id") =!= col("vec_id"))
        .withColumn("ham", expr("bit_count(q0 ^ c0) + bit_count(q1 ^ c1)"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("ham").asc, col("vec_id").asc)
      val approx = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          lit(1L).as("__hit"))
      val truth = e1KnnBrute(s, d).select(col("query_id"), col("neighbor_id"))
      truth.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          coalesce(sum("__hit"), lit(0L)).as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 100 / col("k")).cast("long"))
        .orderBy("query_id")
    } {
      // sign-bit codes packed as two positive 32-bit halves; Hamming =
      // popcount(xor) per half — all integer
      def halfSql(lo: Int): String = (0 until 32).map { j =>
        s"CASE WHEN v[${lo + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id, CAST(${halfSql(0)} AS BIGINT) AS c0,
         |    CAST(${halfSql(32)} AS BIGINT) AS c1 FROM e),
         |q AS (SELECT vec_id AS query_id, c0 AS q0, c1 AS q1 FROM c
         |  WHERE vec_id < 5),
         |s2 AS (SELECT query_id, c.vec_id AS neighbor_id,
         |    bit_count(xor(q0, c.c0)) + bit_count(xor(q1, c.c1)) AS ham
         |  FROM q, c WHERE query_id != c.vec_id),
         |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY ham ASC, neighbor_id ASC)
         |    AS INT) AS rank FROM s2),
         |appr AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM ($e1KnnSql))
         |SELECT t.query_id, count(*) AS k,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
         |    // count(*) AS BIGINT) AS recall_pct
         |FROM truth t LEFT JOIN appr a
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
    },

    /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
      * SIGIR'98) — the diversity stage of a retrieval pipeline: from
      * each query's brute top-10 pool, greedily select 5 results
      * maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) with λ = 0.7.
      * Greedy selection is inherently sequential in k — the 5 rounds
      * unroll at plan time (the BPE-round-2 discipline), each round one
      * anti-join + one max-sim join + one argmax struct-min over the
      * pool-sized relation. Cosines micro-quantize BEFORE the MMR
      * arithmetic, so scores are exact integers (7·cq − 3·ms, no
      * division) and ties pin to the smallest id — the whole greedy
      * trajectory replays in SQL. Pool and pairwise-sim relations are
      * queries×10 and queries×90 rows; everything broadcasts. */
    QueryDef("e24_mmr") { (s, d) =>
      import graft.functions.VectorExpressions.vec_cosine
      val ev = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qs = ev.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val pool = graft.core.Caching.shared(
        broadcast(qs).join(ev, col("vec_id") =!= col("query_id"))
          .withColumn("__cos", vec_cosine(col("qv"), col("v")))
          .withColumn("__pr", row_number().over(Window.partitionBy("query_id")
            .orderBy(col("__cos").desc, col("vec_id").asc)))
          .filter(col("__pr") <= 10)
          .select(col("query_id"), col("vec_id").as("id"),
            floor(col("__cos") * 1e6 + 0.5).cast("long").as("cq")))
      val withVec = pool.join(ev.withColumnRenamed("vec_id", "id"), "id")
      val ps = graft.core.Caching.shared(
        withVec.select(col("query_id"), col("id").as("a"), col("v").as("va"))
          .join(withVec.select(col("query_id"), col("id").as("b"),
            col("v").as("vb")), Seq("query_id"))
          .filter(col("a") =!= col("b"))
          .select(col("query_id"), col("a"), col("b"),
            floor(vec_cosine(col("va"), col("vb")) * 1e6 + 0.5)
              .cast("long").as("s")))
      def pick(cands: DataFrame, score: Column): DataFrame = cands
        .withColumn("__sc", score)
        .groupBy("query_id")
        .agg(min(struct((-col("__sc")).as("ns"), col("id").as("id"))).as("__p"))
        .select(col("query_id"), col("__p.id").as("id"))
      var sel = pick(pool, col("cq")).withColumn("rank", lit(1))
      for (k <- 2 to 5) {
        val cands = pool.join(sel.select("query_id", "id"),
            Seq("query_id", "id"), "left_anti")
          .join(ps.join(broadcast(sel.select(col("query_id"), col("id").as("b"))),
              Seq("query_id", "b"))
            .groupBy(col("query_id"), col("a").as("id"))
            .agg(max("s").as("__ms")), Seq("query_id", "id"))
        sel = sel.unionAll(
          pick(cands, col("cq") * 7 - col("__ms") * 3).withColumn("rank", lit(k)))
      }
      sel.select(col("query_id"), col("rank"), col("id")).orderBy("query_id", "rank")
    } {
      // five unrolled greedy MMR rounds over micro-quantized cosines;
      // argmax 7·cq − 3·ms with ties to the smallest id
      val rounds = (2 to 5).map { k =>
        s"""c$k AS (SELECT p.query_id, p.id, p.cq, max(ps.s) AS ms
           |  FROM pool p
           |  JOIN ps ON ps.query_id = p.query_id AND ps.a = p.id
           |  JOIN sel${k - 1} sl ON sl.query_id = ps.query_id AND sl.id = ps.b
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
           |    WHERE x.query_id = p.query_id AND x.id = p.id)
           |  GROUP BY 1, 2, 3),
           |p$k AS (SELECT query_id, id FROM (
           |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cq * 7 - ms * 3 DESC, id) AS rn FROM c$k) WHERE rn = 1),
           |sel$k AS (SELECT * FROM sel${k - 1}
           |  UNION ALL SELECT query_id, id, $k FROM p$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |sc AS (SELECT query_id, e.vec_id AS id,
         |    list_dot_product(qv, v) /
         |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS rawcos
         |  FROM q, e WHERE e.vec_id != query_id),
         |pool AS (SELECT query_id, id,
         |    CAST(floor(rawcos * 1e6 + 0.5) AS BIGINT) AS cq FROM (
         |    SELECT query_id, id, rawcos, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rawcos DESC, id) AS pr FROM sc) WHERE pr <= 10),
         |ps AS (SELECT p1.query_id, p1.id AS a, p2.id AS b,
         |    CAST(floor(list_dot_product(ea.v, eb.v) /
         |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
         |      * 1e6 + 0.5) AS BIGINT) AS s
         |  FROM pool p1 JOIN pool p2 ON p1.query_id = p2.query_id AND p1.id != p2.id
         |    JOIN e ea ON ea.vec_id = p1.id JOIN e eb ON eb.vec_id = p2.id),
         |sel1 AS (SELECT query_id, id, 1 AS rank FROM (
         |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cq DESC, id) AS rn FROM pool) WHERE rn = 1),
         |$rounds
         |SELECT query_id, CAST(rank AS INT) AS rank, id FROM sel5
         |ORDER BY query_id, rank""".stripMargin
    },

    /** TWO-STAGE retrieval — the production ANN architecture: a cheap
      * 1-bit Hamming shortlist over the whole corpus (e17's 16-byte
      * codes) gates an exact float-cosine rerank that only ever touches
      * the ≤ 20 shortlisted vectors per query. Coarse filter scans
      * everything at 32× compression; exact math runs on a constant-size
      * set — the cost model that holds at a billion vectors. Both stages
      * are deterministic (Hamming ties → smallest id; cosine ties →
      * smallest id), so the composed pipeline hash-checks. */
    QueryDef("e22_rerank", headline = true) { (s, d) =>
      def half(lo: Int): Column = (0 until 32).map { j =>
        when(element_at(col("embedding"), lo + j + 1) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      val emb = Tables.embeddings(s, d)
      val codes = emb.select(col("vec_id"), half(0).as("c0"), half(32).as("c1"))
      val q = broadcast(codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("c0").as("q0"),
          col("c1").as("q1")))
      val shortlist = q.join(codes, col("query_id") =!= col("vec_id"))
        .withColumn("ham", expr("bit_count(q0 ^ c0) + bit_count(q1 ^ c1)"))
        .withColumn("srank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("ham").asc, col("vec_id").asc)))
        .filter(col("srank") <= 20)
        .select("query_id", "vec_id")
      val qv = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      val rer = shortlist
        .join(broadcast(qv), "query_id")
        .join(emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("cv")), "vec_id")
        .withColumn("__cos", graft.functions.VectorExpressions.vec_cosine(
          col("qv"), col("cv")))
      rer
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("__cos").desc, col("vec_id").asc)))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(col("__cos"), 4).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    } {
      // Hamming shortlist (top-20, ties to smallest id) → exact cosine
      // rerank of the shortlist only — the two-stage pipeline replays
      def halfSql(lo: Int): String = (0 until 32).map { j =>
        s"CASE WHEN v[${lo + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id, CAST(${halfSql(0)} AS BIGINT) AS c0,
         |    CAST(${halfSql(32)} AS BIGINT) AS c1 FROM e),
         |q AS (SELECT vec_id AS query_id, c0 AS q0, c1 AS q1 FROM c
         |  WHERE vec_id < 5),
         |s2 AS (SELECT query_id, c.vec_id AS neighbor_id,
         |    bit_count(xor(q0, c.c0)) + bit_count(xor(q1, c.c1)) AS ham
         |  FROM q, c WHERE query_id != c.vec_id),
         |shortlist AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY ham ASC, neighbor_id ASC) AS srank
         |    FROM s2) WHERE srank <= 20),
         |rer AS (SELECT sl.query_id, sl.neighbor_id,
         |    list_dot_product(qe.v, ce.v) /
         |      (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS rawcos
         |  FROM shortlist sl
         |    JOIN e qe ON qe.vec_id = sl.query_id
         |    JOIN e ce ON ce.vec_id = sl.neighbor_id)
         |SELECT query_id, neighbor_id, round(rawcos, 4) AS cosine,
         |  CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rawcos DESC, neighbor_id ASC) AS rank FROM rer)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    /** IVF nprobe OPERATING CURVE — corpus-wide recall@5 vs the e1 truth
      * at nprobe = 1..4 over e5's TRAINED integer-Lloyd coarse centroids,
      * in one pass: the probe ranks compute once, every nprobe tier
      * filters the same relation (the e23 discipline applied to the probe
      * axis — the curve an IVF deployment reads before fixing its
      * latency/recall point, measured on the index it would actually
      * build). Assignment folds once; candidates per tier rank by exact
      * cosine. */
    QueryDef("e26_nprobe_sweep") { (s, d) =>
      import s.implicits._
      import graft.functions.VectorExpressions.vec_cosine
      val emb = Tables.embeddings(s, d)
      val cents = trainedIvfCentroids(s, d)
      val assigned = graft.core.Caching.shared(
        emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("v"),
          Similarity.nearestCentroid(col("embedding").cast("array<double>"), cents)
            .as("cid")))
      val cdf = broadcast(cents.toDF("cid", "c"))
      val qs = graft.core.Caching.shared(
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv")))
      val pranks = qs.crossJoin(cdf)
        .withColumn("__d2", aggregate(
          zip_with(col("qv"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
        .withColumn("__pr", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("__d2"), col("cid"))))
      val tiers = pranks
        .select(col("query_id"), col("cid"), col("__pr"),
          explode(array((1 to 4).map(lit): _*)).as("np"))
        .filter(col("__pr") <= col("np"))
      val approx = tiers
        .join(assigned, "cid")
        .filter(col("neighbor_id") =!= col("query_id"))
        .join(broadcast(qs), "query_id")
        .withColumn("__cos", vec_cosine(col("qv"), col("v")))
        .withColumn("__rk", row_number().over(
          Window.partitionBy("query_id", "np")
            .orderBy(col("__cos").desc, col("neighbor_id"))))
        .filter(col("__rk") <= 5)
        .select(col("query_id"), col("np"), col("neighbor_id"), lit(1L).as("__hit"))
      val truth = e1KnnBrute(s, d).select(col("query_id"), col("neighbor_id"))
      truth.crossJoin(broadcast((1 to 4).toDF("np")))
        .join(broadcast(approx), Seq("query_id", "np", "neighbor_id"), "left")
        .groupBy("np")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum("__hit"), lit(0L)).as("n_hits"))
        .withColumn("recall_micro", expr("n_hits * 1000000 div n_true"))
        .orderBy("np")
    } {
      // probe ranks once, four nprobe tiers filter the same relation;
      // per-tier cosine top-5 vs the shared e1 truth — over e5's TRAINED
      // integer-Lloyd coarse centroids (the index a deployment builds)
      s"""WITH $trainedCentCtes,
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |dist AS (SELECT e.vec_id, cent.cid,
         |    list_sum(list_transform(list_zip(e.v, cent.c),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         |  FROM emb e CROSS JOIN cent),
         |assigned AS (SELECT vec_id AS neighbor_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM dist) WHERE rn = 1),
         |pranks AS (SELECT vec_id AS query_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS pr
         |  FROM dist WHERE vec_id < 5),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS np),
         |tiers AS (SELECT p.query_id, p.cid, ks.np FROM pranks p
         |  CROSS JOIN ks WHERE p.pr <= ks.np),
         |cand AS (SELECT t.query_id, t.np, a.neighbor_id,
         |    list_dot_product(qe.v, ce.v) /
         |      (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS rawcos
         |  FROM tiers t JOIN assigned a ON a.cid = t.cid
         |    AND a.neighbor_id != t.query_id
         |  JOIN emb qe ON qe.vec_id = t.query_id
         |  JOIN emb ce ON ce.vec_id = a.neighbor_id),
         |appr AS (SELECT query_id, np, neighbor_id FROM (
         |    SELECT query_id, np, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id, np ORDER BY rawcos DESC, neighbor_id) AS rk
         |    FROM cand) WHERE rk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM ($e1KnnSql))
         |SELECT ks.np, count(*) AS n_true,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT) AS recall_micro
         |FROM truth t CROSS JOIN ks
         |LEFT JOIN appr a ON a.query_id = t.query_id AND a.np = ks.np
         |  AND a.neighbor_id = t.neighbor_id
         |GROUP BY ks.np ORDER BY ks.np""".stripMargin
    },

    /** IVF index-health report — per-list vector counts over e7's fixed
      * coarse centroids plus the imbalance factor (max·k/n micro): the
      * list-balance metrology that decides whether an IVF index needs
      * re-training before it ships (a hot list breaks the nprobe cost
      * model). One assignment fold (centroids broadcast) + one
      * |k|-row aggregate. */
    QueryDef("e21_ivf_balance") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => ((r.getLong(0) / 37).toInt, r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val assigned = emb.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding").cast("array<double>"), cents)
          .as("cid"))
      val lists = graft.core.Caching.shared(
        assigned.groupBy("cid").agg(count(lit(1)).as("n_vecs")))
      val tot = lists.agg(sum("n_vecs").as("__n"), count(lit(1)).as("__k"),
        max("n_vecs").as("__mx"))
      lists.crossJoin(broadcast(tot))
        .select(col("cid"), col("n_vecs"),
          expr("n_vecs * __k * 1000000 div __n").as("load_micro"),
          expr("__mx * __k * 1000000 div __n").as("imbalance_micro"))
        .orderBy("cid")
    } {
      // e7's fixed-centroid assignment fold; k-row balance report
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT CAST(vec_id // 37 AS INT) AS cid, v AS c FROM emb
        |         WHERE vec_id % 37 = 0 AND vec_id < 260),
        |dist AS (SELECT e.vec_id, cent.cid,
        |    list_sum(list_transform(list_zip(e.v, cent.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM emb e CROSS JOIN cent),
        |assigned AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM dist) WHERE rn = 1),
        |lists AS (SELECT cid, count(*) AS n_vecs FROM assigned GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n, count(*) AS k,
        |    CAST(max(n_vecs) AS BIGINT) AS mx FROM lists)
        |SELECT l.cid, CAST(l.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(l.n_vecs * t.k * 1000000 // t.n AS BIGINT) AS load_micro,
        |  CAST(t.mx * t.k * 1000000 // t.n AS BIGINT) AS imbalance_micro
        |FROM lists l, tot t ORDER BY cid""".stripMargin
    },

    /** Matryoshka-style prefix-dimension recall: rank by cosine over the
      * FIRST 16 of 64 dims (`slice` — the MRL truncation that cuts ANN
      * memory 4× when embeddings are trained nested) and measure
      * recall@5 against the full-dim float truth (e1). Same audited
      * recall-join shape as e11/e15. */
    QueryDef("e16_mrl_recall") { (s, d) =>
      val pre = Tables.embeddings(s, d)
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 16).as("v"))
      val q = broadcast(pre.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv")))
      val scored = q.join(pre, col("query_id") =!= col("vec_id"))
        .withColumn("cos", graft.functions.VectorExpressions.vec_cosine(
          col("qv"), col("v")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val approx = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          lit(1L).as("__hit"))
      val truth = e1KnnBrute(s, d).select(col("query_id"), col("neighbor_id"))
      truth.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          coalesce(sum("__hit"), lit(0L)).as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 100 / col("k")).cast("long"))
        .orderBy("query_id")
    } {
      // recall@5 of the 16-of-64 prefix-dimension (Matryoshka) ranker
      // against the full-dim float truth
      s"""WITH e AS (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |s2 AS (SELECT query_id, e.vec_id AS neighbor_id,
         |    list_dot_product(qv, v)
         |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
         |      AS rawcos
         |  FROM q CROSS JOIN e WHERE query_id != e.vec_id),
         |r AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id ASC)
         |    AS INT) AS rank FROM s2),
         |appr AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM ($e1KnnSql))
         |SELECT t.query_id, count(*) AS k,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
         |    // count(*) AS BIGINT) AS recall_pct
         |FROM truth t LEFT JOIN appr a
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
    })
}
