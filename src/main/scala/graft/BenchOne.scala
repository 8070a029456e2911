package graft

import graft.tools.Runner

/** Dev tool: time one named query from [[SparkEntry.queries]] repeatedly
  * in a single JVM — `runMain graft.BenchOne <name> <sfDir> [reps]` —
  * or sweep EVERY registered query once with `<name> = ALL` (the
  * 10x-scale smoke pass: catches queries that are correct at oracle
  * scale but pathological one scale up). `<name>` may also be a
  * comma-separated list: each named query runs `reps` times and a
  * per-query `min=` summary line prints at the end (the steady-state
  * numbers SCALE.md commits). Prints one line per run so warmup vs
  * steady-state and run-to-run variance are visible.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sweep = args(0) == "ALL"
    val names = Runner.select(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val runs =
      if (sweep) names.map(_ -> "sweep")
      else names.flatMap(q => (1 to reps).map(i => q -> s"rep $i"))
    val spark = Runner.session(logLevel = "WARN")
    val mins = collection.mutable.LinkedHashMap.empty[String, Double]
    val failures = Runner.each(spark, runs) { case (q, label) =>
      val t0 = System.nanoTime()
      // toRdd.count(): full-plan materialization, never the
      // count-collapsed plan (see Bench.scala — pruned row-preserving
      // shapes would otherwise "benchmark" as bare scans)
      val n = SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      mins(q) = math.min(mins.getOrElse(q, Double.MaxValue), sec)
      println(f"[benchone] $q $label: $sec%.3f s ($n rows)")
    } { case ((q, label), e) =>
      println(s"[benchone] $q $label: FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (!sweep) mins.foreach { case (q, m) => println(f"[benchone] $q min=$m%.3f s") }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[benchone] $failures quer${if (failures == 1) "y" else "ies"} FAILED")
      sys.exit(1)
    }
  }
}
