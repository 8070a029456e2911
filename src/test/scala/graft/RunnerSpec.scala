package graft

import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Runner

/** The run core: its release leaves no persisted RDD and no cached plan
  * behind, its query list rejects unknown names up front, and its
  * failure policy counts NonFatal errors and propagates fatal ones.
  */
class RunnerSpec extends AnyFunSuite with SparkTestBase {

  private def cachedPlans: Boolean =
    !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("release frees the localCheckpoint and persist blocks of q38 and q321") {
    val hadPlans = Runner.select("q38_dedup_apply,q321_ktruss").map { q =>
      val rows = SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.count()
      assert(rows > 0, s"$q produced no rows")
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty, s"$q persisted nothing")
      val had = cachedPlans
      Runner.release(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"$q left persisted RDDs")
      assert(!cachedPlans, s"$q left a cached plan")
      had
    }
    assert(hadPlans.contains(true), "neither query cached a plan")
    assert(Runner.drain(spark, 10000L))
  }

  test("an unknown name in the list fails before any query runs") {
    var ran = 0
    val e = intercept[IllegalArgumentException] {
      Runner.each(spark, Runner.select("q1_inverted_index,no_such_query"))(_ => ran += 1)(
        (_, _) => ())
    }
    assert(ran == 0)
    assert(e.getMessage.contains("no_such_query"))
    assert(Runner.select("ALL") == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a NonFatal throw is counted and the next entry still runs; a fatal one propagates") {
    val seen = ArrayBuffer.empty[String]
    val failed = ArrayBuffer.empty[String]
    val n = Runner.each(spark, Seq("a", "b", "c")) { x =>
      seen += x
      if (x == "b") throw new IllegalStateException("boom")
    } { (x, _) => failed += x }
    assert(n == 1 && failed == Seq("b") && seen == Seq("a", "b", "c"))

    seen.clear()
    intercept[OutOfMemoryError] {
      Runner.each(spark, Seq("a", "b")) { x =>
        seen += x
        throw new OutOfMemoryError("synthetic")
      } { (x, _) => failed += x }
    }
    assert(seen == Seq("a") && failed == Seq("b"))
  }
}
