package graft.tools

import java.util.concurrent.TimeoutException
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import graft.SparkEntry
import graft.sources.SessionDefaults

/** The run core shared by the runner mains (Bench, BenchOne, Verify) and
  * the dev tools: one session shape, one query-list syntax, and one
  * release-and-failure policy.
  */
object Runner {

  /** `local[cpus]`, `partitions` shuffle partitions, AQE on, plus the
    * [[SessionDefaults.harness]] knobs. The defaults are the bench shape;
    * Verify passes its own cpus and partitions.
    */
  def session(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      partitions: String = "32",
      logLevel: String = "ERROR"): SparkSession = {
    val spark = SessionDefaults.harness(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      ).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `ALL` (every registered query, sorted) or a comma-separated list of
    * names. An unknown name fails here, before any query runs.
    */
  def select(spec: String): Seq[String] = {
    val registry = SparkEntry.queries
    val names =
      if (spec == "ALL") registry.keys.toSeq.sorted
      else spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    names
  }

  /** Drops everything the runner's session holds: cached plans and every
    * persisted RDD, `localCheckpoint` blocks included (those live outside
    * the CacheManager, so `clearCache()` alone leaks them). Call only
    * after a query's results are materialized — checkpoint blocks cannot
    * be recomputed once dropped — and only on a runner-owned session
    * (see [[Bridge.freeAllPersistedRdds]]).
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Bridge.freeAllPersistedRdds(spark)
  }

  /** Runs `body` on each item and releases after each. A `NonFatal` error
    * goes to `failed` and the loop moves on; a fatal one (an OOM, say)
    * propagates, because every later result from that JVM would be
    * suspect. Returns the number of failed items.
    */
  def each[T](spark: SparkSession, items: Seq[T])(body: T => Unit)(
      failed: (T, Throwable) => Unit): Int = {
    var failures = 0
    items.foreach { item =>
      try body(item)
      catch { case NonFatal(e) => failures += 1; failed(item, e) }
      finally release(spark)
    }
    failures
  }

  /** Waits up to `timeoutMs` for the listener bus to deliver its queued
    * events. False when it did not empty in time.
    */
  def drain(spark: SparkSession, timeoutMs: Long): Boolean =
    try { Bridge.waitListenerBusEmpty(spark, timeoutMs); true }
    catch { case _: TimeoutException => false }
}
