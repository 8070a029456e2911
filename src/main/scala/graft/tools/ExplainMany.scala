package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.SparkEntry

/** Dev utility (plan audit): write `explain("formatted")` of each named
  * query to its own file, `<outDir>/<query>_<suffix>.txt` —
  * `runMain graft.tools.ExplainMany <names|ALL> <outDir> [sfDir]
  * [suffix]`; one name in gives one file out. One JVM for the whole
  * batch, at the bench session shape ([[Runner.session]]). The files
  * are the `plans/<round>/<query>_before/after.txt` evidence the
  * optimization rounds commit. Builders run their eager steps
  * (checkpoints, collects), so the dump shows the plan of the final
  * action only.
  */
object ExplainMany {
  def main(args: Array[String]): Unit = {
    val names = Runner.select(args(0))
    val outDir = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = Runner.session()
    Files.createDirectories(Paths.get(outDir))
    Runner.each(spark, names) { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(out, plan.getBytes(StandardCharsets.UTF_8))
      println(s"[explainmany] wrote $out")
    } { (name, e) => println(s"[explainmany] $name FAILED: ${e.getMessage}") }
    spark.stop()
  }
}
