package graft.core

import graft.SparkSpec
import graft.operators.{Cluster, Dedup, Graph, Resample, TextOps}
import org.apache.spark.sql.functions._

/** Cache-lifetime contract: every operator that pins a multi-consumer
  * intermediate registers it with [[Caching]], and a caller-side
  * [[Caching.release]] after the consuming action leaves the session's SQL
  * cache manager EMPTY — nothing accumulates across queries in a
  * long-lived session (the round-6 hygiene finding).
  */
class CachingSpec extends SparkSpec {

  /** The emptiness assertions below are about the operators under test, not
    * about every suite that shared this JVM's session before this one ran —
    * earlier suites may legitimately leave application-owned caches behind.
    * Start each test from a clean cache manager so the claim stays sharp. */
  private def withCleanCache(body: => Unit): Unit = {
    spark.sharedState.cacheManager.clearCache()
    body
  }

  private def assertReleasesClean(label: String)(body: => Long): Unit = withCleanCache {
    val n = Caching.scoped {
      val rows = body
      assert(rows >= 0)
      rows
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$label left cached relations behind after Caching.release")
    assert(n >= 0)
  }

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text with no shared tokens"),
      (4L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
  }

  test("lshCandidates pipeline releases its pinned buckets") {
    assertReleasesClean("lshCandidates") {
      val sigs = Dedup.minhashSignatures(docs, k = 4)
      Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
        maxBucketSize = 64).count()
    }
  }

  test("nearDedupKeepers releases candidates and verified pairs") {
    assertReleasesClean("nearDedupKeepers") {
      Dedup.nearDedupKeepers(docs, k = 4, rowsPerBand = 2, minJaccard = 0.5,
        maxBucketSize = 64).count()
    }
  }

  test("jaccard releases the shingle relation") {
    import spark.implicits._
    assertReleasesClean("jaccard") {
      val pairs = Seq((1L, 2L), (1L, 4L)).toDF("doc1", "doc2")
      Dedup.jaccard(docs, pairs).count()
    }
  }

  test("dbscan releases neighbor/core/label relations") {
    import spark.implicits._
    assertReleasesClean("dbscan") {
      val pts = Seq((1L, 0.0, 0.0), (2L, 0.5, 0.0), (3L, 0.0, 0.5),
        (4L, 10.0, 10.0)).toDF("id", "x", "y")
      Cluster.dbscan(pts, eps = 1.0, minPts = 2).count()
    }
  }

  test("triangles releases the canonical edge relation") {
    import spark.implicits._
    assertReleasesClean("triangles") {
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("doc1", "doc2")
      Graph.triangles(edges).count()
    }
  }

  test("pyramidSum releases every persisted level") {
    import spark.implicits._
    assertReleasesClean("pyramidSum") {
      val base = (0 until 16).flatMap(x => (0 until 16).map(y => (x, y, 1L)))
        .toDF("px", "py", "value")
      Resample.pyramidSum(base, levels = 3).count()
    }
  }

  test("tfidf / surprisal / bigramSurprisal release frequency tables") {
    assertReleasesClean("tfidf") { TextOps.tfidf(docs).count() }
    assertReleasesClean("unigramSurprisal") { TextOps.unigramSurprisal(docs).count() }
    assertReleasesClean("bigramSurprisal") { TextOps.bigramSurprisal(docs).count() }
  }

  test("bm25 releases the pinned tf relation") {
    assertReleasesClean("bm25") { TextOps.bm25(docs, Seq("quick", "cat")).count() }
  }

  test("pagerank releases adjacency and node relations") {
    import spark.implicits._
    assertReleasesClean("pagerank") {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      Graph.pagerank(edges, iters = 2).count()
    }
  }

  test("sssp releases the pinned edge relation") {
    import spark.implicits._
    assertReleasesClean("sssp") {
      val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L)).toDF("src", "dst", "w")
      Graph.sssp(edges, sourceId = 1L, iters = 2).count()
    }
  }

  test("a11 proximity query releases the pinned cell relation") {
    assertReleasesClean("a11_proximity") {
      graft.SparkEntry.queries("a11_proximity")(spark, "/root/testdata/sf0.001").count()
    }
  }

  test("sieve releases the pinned labeled relation") {
    assertReleasesClean("a12_sieve") {
      graft.SparkEntry.queries("a12_sieve")(spark, "/root/testdata/sf0.001").count()
    }
  }

  test("collocations releases the pinned count relations") {
    assertReleasesClean("collocations") {
      TextOps.collocations(docs, minCount = 1, topK = 10).count()
    }
  }

  test("release is surgical: application-owned caches survive") {
    withCleanCache {
    val mine = docs.persist()
    try {
      mine.count()
      Caching.scoped {
        val sigs = Dedup.minhashSignatures(docs, k = 4)
        Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2)).count()
      }
      assert(!spark.sharedState.cacheManager.isEmpty,
        "release must not drop caches the application pinned itself")
      assert(mine.storageLevel.useMemory,
        "the application-owned cache entry must survive release")
    } finally mine.unpersist()
    }
  }

  test("a scope releases only its own pins, not another thread's") {
    withCleanCache {
      val theirs = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]()
      val pinned = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.CountDownLatch(1)
      val other = new Thread(() => Caching.scoped {
        val d = Caching.shared(spark.range(10).toDF("x"))
        d.count()
        theirs.set(d)
        pinned.countDown()
        done.await()
      })
      other.start()
      try {
        pinned.await()
        Caching.scoped {
          Caching.shared(spark.range(5).toDF("y")).count()
        }
        assert(theirs.get.storageLevel.useMemory,
          "closing one thread's scope must not unpersist another thread's pin")
      } finally { done.countDown(); other.join() }
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("release tolerates repeated and empty invocations") {
    withCleanCache {
      Caching.release(spark)
      Caching.release(spark)
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }
}
