package graft

import graft.core.{Caching, GraftSession}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session on the production profile, pinned to 4 cores (one
  * per JVM, lazily built). Pins a suite leaves in the session registry
  * (`Caching.shared` outside a scope, e.g. `LayerJob.run`'s tile sets) are
  * released after the suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(getClass.getSimpleName, "4")

  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach(Caching.release)
    finally super.afterAll()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
