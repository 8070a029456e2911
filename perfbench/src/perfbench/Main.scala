package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{IndexJob, SparkEntry}
import graft.operators.IndexWriter
import graft.sources.SessionDefaults

/** Command-line options, all given by `perfbench/run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, data: Path, corpusMb: Double, t0Ms: Long, drainMs: Long, listenerDelayMs: Long,
    out: Path)

/** The timed part of one entry: its rows (or -1 on failure) and seconds
  * from the call to the end of the final action, release excluded.
  */
final case class EntryRun(rows: Long, seconds: Double)

/** A workload: named entries run in a seeded order each pass. */
trait Workload {
  def entries: Seq[String]
  /** Untimed run of one entry that checks its output; returns an error or None. */
  def check(entry: String): Option[String]
  /** One timed run of one entry, spans opened through `sp`. */
  def run(entry: String, sp: Spans): EntryRun
  /** Check the output the last `run` left, outside the timed region. */
  def verify(entry: String, run: EntryRun): Option[String]
  def summary: Map[String, Any] = Map.empty
}

/** Opens spans when tracing, or just runs the body. */
final class Spans(val tracer: Option[Tracer]) {
  def apply[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** The paper's job: `IndexJob.run` on a seeded corpus, checked byte for
  * byte against a single-threaded reference index.
  */
final class IndexBuild(spark: SparkSession, o: Opts) extends Workload {
  val corpus: Corpus = CorpusGen.generate(o.seed, (o.corpusMb * 1e6).toLong, o.work.resolve("corpus"))
  private val expected = ReferenceIndex.build(corpus)
  private val out = o.work.resolve("index")
  def entries: Seq[String] = Seq("index_build")

  def check(entry: String): Option[String] = {
    val r = run(entry, new Spans(None))
    verify(entry, r)
  }

  def run(entry: String, sp: Spans): EntryRun = {
    Main.deleteTree(out)
    val t0 = System.nanoTime()
    sp.tracer match {
      // Traced: IndexJob.run's two halves, so the source read and the
      // write are separate spans.
      case Some(_) =>
        val index = sp("builder")(IndexJob.index(spark, corpus.manifest.toString, corpus.baseDir.toString))
        sp("action")(IndexWriter.write(index, out.toString))
      case None =>
        IndexJob.run(spark, corpus.manifest.toString, corpus.baseDir.toString, out.toString)
    }
    EntryRun(corpus.docs, (System.nanoTime() - t0) / 1e9)
  }

  def verify(entry: String, r: EntryRun): Option[String] = {
    val bad = ('a' to 'z').filterNot { c =>
      val f = out.resolve(s"$c.txt")
      Files.isRegularFile(f) && java.util.Arrays.equals(Files.readAllBytes(f), expected(c))
    }
    if (bad.isEmpty) None else Some(s"letter files differ from the reference: ${bad.mkString}")
  }

  override def summary: Map[String, Any] = Map(
    "corpus_docs" -> corpus.docs, "corpus_bytes" -> corpus.bytes, "corpus_sha256" -> corpus.sha256)
}

/** Registered queries from `SparkEntry.queries` on the fixed tables. The
  * check run writes each result for digest comparison; timed runs count rows.
  */
final class Queries(spark: SparkSession, o: Opts, val entries: Seq[String]) extends Workload {
  private val results = o.work.resolve("results")

  private def builder(entry: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(entry, throw new NoSuchElementException(s"no query $entry"))

  def check(entry: String): Option[String] = {
    builder(entry)(spark, o.data.toString).write.mode("overwrite").parquet(results.resolve(entry).toString)
    None
  }

  def run(entry: String, sp: Spans): EntryRun = {
    val t0 = System.nanoTime()
    val df = sp("builder")(builder(entry)(spark, o.data.toString))
    sp("plan")(df.queryExecution.executedPlan)
    val rows = sp("action")(df.queryExecution.toRdd.count())
    val s = (System.nanoTime() - t0) / 1e9
    // toRdd fires no listener event, so the final plan is recorded here.
    sp.tracer.foreach(_.record(df.queryExecution))
    EntryRun(rows, s)
  }

  def verify(entry: String, r: EntryRun): Option[String] = None

  override def summary: Map[String, Any] =
    Map("oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) })
}

object Main {
  val DriverLoops = Seq("q38_dedup_apply", "q358_leakage_safe_split", "q333_perplexity_gate",
    "q263_bpe_learn", "q360_bpe_apply")
  private val WarmPasses = Map("index_build" -> 2, "driver_loops" -> 1)
  /** Timed passes of an untraced run at least, whatever `--seconds` says. */
  private val MinPasses = 3
  /** No new pass starts after this many seconds of the JVM's life. */
  private val PassDeadlineS = 120.0

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = SessionDefaults.harness(SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val result = run(spark, o)
      Files.write(o.out, Json.render(result).getBytes("UTF-8"))
    } finally spark.stop()
  }

  def run(spark: SparkSession, o: Opts): Map[String, Any] = {
    val inputsT0 = System.nanoTime()
    val wl: Workload = o.workload match {
      case "index_build" => new IndexBuild(spark, o)
      case "driver_loops" => new Queries(spark, o, DriverLoops)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputsS = (System.nanoTime() - inputsT0) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def attempt(entry: String)(body: => Option[String]): Unit = {
      attempted += 1
      val err = try body catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      err.foreach(m => errors += s"$entry: ${m.take(300)}")
    }
    def release(): Int = {
      val n = spark.sparkContext.getPersistentRDDs.size
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      n
    }
    def order(pass: Int): Seq[String] = new Random(o.seed * 1000003L + pass).shuffle(wl.entries)

    // Check run (also the cold warm-up), then warm passes; all in set-up.
    val checkOrder = order(-1)
    checkOrder.foreach { e => attempt(e)(wl.check(e)); release() }
    for (w <- 1 to WarmPasses(o.workload); e <- order(-1 - w)) {
      attempt(e) { val r = wl.run(e, new Spans(None)); wl.verify(e, r) }
      release()
    }

    val tracer = if (o.trace) Some(new Tracer(spark, o.listenerDelayMs)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val firstTimedMs = System.currentTimeMillis()
    val setupS = (firstTimedMs - o.t0Ms) / 1e3
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def count(traced: Boolean) = passes.count(_("traced") == traced)
    def moreNeeded = (System.currentTimeMillis() - firstTimedMs) / 1e3 < o.seconds ||
      count(false) < (if (o.trace) 1 else MinPasses) ||
      (tracer.isDefined && !tracer.get.partial && count(true) < 1)
    var i = 0
    while (moreNeeded && (System.currentTimeMillis() - jvmStartMs) / 1e3 < PassDeadlineS) {
      val traced = tracer.exists(t => i % 2 == 1 && !t.partial)
      val sp = new Spans(if (traced) tracer else None)
      if (traced) tracer.get.attach()
      val ord = order(i)
      val entryS = mutable.LinkedHashMap.empty[String, Double]
      val entryRows = mutable.LinkedHashMap.empty[String, Long]
      val persisted = mutable.ArrayBuffer.empty[Int]
      val runs = mutable.ArrayBuffer.empty[(String, EntryRun)]
      sp("pass") {
        ord.foreach { e =>
          sp(s"entry:$e") {
            attempt(e) {
              val r = wl.run(e, sp)
              entryS(e) = r.seconds; entryRows(e) = r.rows; runs += e -> r
              None
            }
            persisted += sp("release")(release())
          }
        }
      }
      runs.foreach { case (e, r) => wl.verify(e, r).foreach(m => errors += s"$e: $m") }
      val wall = entryS.values.sum
      val rec = mutable.LinkedHashMap[String, Any]("traced" -> traced, "wall_s" -> wall,
        "order" -> ord, "entry_s" -> entryS, "rows" -> entryRows)
      if (traced) {
        val t = tracer.get
        t.drain(o.drainMs)
        t.detach()
        layerRows += Layers.forPass(t, t.spans.filter(_.name == "pass").last, wall, cores, persisted.sum)
      }
      passes += rec.toMap
      i += 1
    }

    val untracedWalls = passes.filter(_("traced") == false).map(_("wall_s").asInstanceOf[Double])
    val layers: Map[String, Double] = tracer match {
      case Some(t) =>
        val tracedWalls = passes.filter(_("traced") == true).map(_("wall_s").asInstanceOf[Double])
        val keys = layerRows.flatMap(_.keys).distinct
        keys.map(k => k -> median(layerRows.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++ Map(
          "persist.peak_mb" -> t.locked(t.blockPeak) / 1e6,
          "trace.overhead_s" -> (if (tracedWalls.isEmpty) 0.0 else median(tracedWalls.toSeq) - median(untracedWalls.toSeq)),
          "trace.partial" -> (if (t.partial) 1.0 else 0.0))
      case None => Map.empty
    }
    val traceFile = tracer.map { t =>
      t.root.endNs = System.nanoTime(); t.root.endMs = System.currentTimeMillis()
      val f = o.work.resolve("trace.json")
      Files.write(f, Json.render(Layers.traceJson(t, o)).getBytes("UTF-8"))
      f.toString
    }
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "setup_s" -> setupS, "inputs_s" -> inputsS, "peak_rss_mb" -> peakRssMb(),
      "check_order" -> checkOrder, "attempted" -> attempted, "errors" -> errors,
      "results_dir" -> o.work.resolve("results").toString,
      "passes" -> passes, "layers" -> layers, "trace_file" -> traceFile,
      "partial" -> tracer.exists(_.partial)) ++ wl.summary
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The process's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("data")).toAbsolutePath,
      m("corpus-mb").toDouble, m("t0-ms").toLong, m("drain-ms").toLong,
      m("listener-delay-ms").toLong, Paths.get(m("out")))
  }
}
