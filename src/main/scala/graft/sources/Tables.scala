package graft.sources

import org.apache.spark.sql.DataFrame

/** Table-level statistics over any DataFrame source. */
object Tables {

  /** Column profile — the `ANALYZE TABLE`-style statistics pass every
    * engine exposes: one row per profiled column with row count, null
    * count, exact distinct count, and (for numeric columns) min/max
    * widened to double (non-numeric min/max stay null — emitting them
    * as strings would tie the output to engine-specific rendering of
    * dates/floats). ONE scan computes every statistic: the aggregates
    * land in a single row that a final one-row projection explodes to
    * long format — no per-column re-scan.
    *
    * Scale note: multiple exact `countDistinct`s in one aggregation
    * plan through Catalyst's Expand (one duplicated stream per distinct
    * column). Exact is right at fixture scale (and for the oracle); at
    * 100 TB swap `approx_count_distinct` (HLL, mergeable, no Expand) —
    * spec-asserted within 5% of exact, the q58/q7 trade.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.NumericType
    require(cols.nonEmpty, "profile needs at least one column")
    cols.foreach(c => require(df.columns.contains(c), s"no such column: $c"))
    def numeric(c: String) =
      df.schema(df.schema.fieldIndex(c)).dataType.isInstanceOf[NumericType]
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        (if (numeric(c)) min(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"__mn_$c"),
        (if (numeric(c)) max(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"__mx_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { c =>
        struct(
          lit(c).as("column"),
          col("n_rows"),
          (col("n_rows") - col(s"__nn_$c")).as("n_null"),
          col(s"__nd_$c").as("n_distinct"),
          col(s"__mn_$c").as("min_num"),
          col(s"__mx_$c").as("max_num"))
      }: _*)).as("p"))
      .select("p.*")
  }
}
