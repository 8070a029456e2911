package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-centrality ranking over corpus-derived graphs — TextRank
  * (Mihalcea & Tarau 2004): PageRank on the word co-occurrence graph,
  * the unsupervised corpus-level keyword/salience scorer a curation
  * pipeline runs to pick vocabulary anchors and topic descriptors.
  * Extended surface (no analog in the reference engine's fixed
  * pipeline, /root/reference/src/main.cpp — the reference stops at
  * df-ranked index terms).
  *
  * Determinism contract: ranks are FIXED-POINT LONGS (scale 1e12) and
  * every update is integer arithmetic — `div` floor division and
  * integer sums only, so the result is bit-identical across partition
  * counts, schedulers and engines (the DuckDB oracle replays the same
  * integer recurrence). A double-powered PageRank would drift in the
  * 15th digit under Spark's order-free aggregation and flake the hash
  * compare; floor division loses < 1 part in 1e9 of rank mass per
  * round, which cannot reorder scores at the 1e12 scale.
  *
  * Scale shape (100 TB lens):
  *   - Edge derivation is ONE corpus scan through the native
  *     [[graft.functions.WordNgrams]] bigram generator (per-doc
  *     distinct in the generator's hash set — no positional self-join,
  *     no window) followed by one distinct — after which everything is
  *     VOCABULARY-EDGE-sized, independent of corpus row count.
  *   - Each PageRank round is one equi-join (edges ⋈ ranks on the
  *     source word) + one hash aggregation on the target word — the
  *     same bounded-rounds shape as the connected-components operator
  *     ([[Dedup.dupClusters]]); `iters` is a constant, so the plan is a
  *     fixed chain of shuffles on the SAME join key (co-partitioned
  *     after the first round under AQE).
  *   - The final top-k is TakeOrdered (never a vocabulary-wide global
  *     sort); the row_number window runs over k rows only.
  */
object GraphRank {

  /** Fixed-point scale: 1.0 of PageRank mass = 1e12. */
  private[graft] val Scale = 1000000000000L

  /** TextRank over the word co-occurrence (adjacent-bigram) graph.
    *
    * Graph: undirected edge {a, b} iff `a b` occurs as a cleaned-token
    * bigram anywhere in the corpus (per-doc distinct, then global
    * distinct; self-loops dropped; single-word documents contribute no
    * edge). Nodes are words with >= 1 edge — the symmetric edge list
    * gives every node out-degree >= 1, so no dangling-mass term.
    *
    * Recurrence (damping d = 0.85, all integer):
    * {{{
    *   r0(v)   = Scale div N
    *   base    = (r0 * 15) div 100
    *   r_i+1(v)= base + (85 * Σ_{u→v} (r_i(u) div deg(u))) div 100
    * }}}
    *
    * @return top-`topK` rows `(rank, word, score)` ordered by
    *         (score desc, word asc), `score` the fixed-point long.
    */
  def textRank(
      docs: DataFrame,
      textCol: String,
      iters: Int = 4,
      topK: Int = 50): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // one corpus scan -> distinct undirected bigram edges, symmetrized
    val bi = docs
      .select(graft.functions.WordNgrams(col(textCol), 2).as("sh"))
      .select(split(col("sh"), " ").as("p"))
      .filter(size(col("p")) === 2) // drop the short-doc whole-doc fallback
      .select(col("p")(0).as("a"), col("p")(1).as("b"))
      .filter(col("a") =!= col("b"))
    // symmetrize with ONE pass over the bigram pipeline (explode, not
    // union): the union's two legs each re-ran the corpus tokenization
    // below the distinct. Row set identical; measured q115
    // 1.74→1.61 s at sf0.1 (r16 optimization).
    val ed = bi
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .persist() // vocabulary-edge-sized; read by deg and edd builds
    val deg = ed.groupBy(col("a").as("word")).agg(count(lit(1)).as("d")).persist()
    // out-degree folded into the persisted edge table ONCE (the q289
    // discipline): the loop previously paid an edges ⋈ (ranks ⋈ deg)
    // double join per round for a degree that never changes — one
    // vocab-grain join per round removed, `r div d` values unchanged
    val edd = ed.join(deg, ed("a") === deg("word"))
      .select(col("a"), col("b"), col("d")).persist()

    // N is a vocabulary-sized count — the one driver-side scalar (the
    // q80 ⌈√N⌉ pattern); r0/base are exact Long constants both engines
    // derive with the same floor division.
    val n = deg.count()
    require(n > 0, "textRank: empty co-occurrence graph")
    val r0 = Scale / n
    val base = r0 * 15L / 100L

    var r = deg.select(col("word"), lit(r0).as("r"))
    for (_ <- 1 to iters) {
      // Join strategy left ADAPTIVE (r17): the shuffle_hash pin tried
      // here (the q289 discipline) measured a consistent ~55% local
      // regression in sweep context (q115 1.34 → 2.08 s BenchOne list,
      // 1.8 → 2.8 s canonical sweep) — this loop is vocab-grain on BOTH
      // sides (rank table AND co-occurrence edges are vocabulary-sized,
      // not corpus-sized), so the fixture-scale broadcast of the edge
      // table is not the corpus-grain inversion q254/q289 had, and at
      // catalog scale the planner's stats push the same join to
      // SMJ/SHJ on their own (AQE converts to shuffled-hash when the
      // build side fits — no pin needed).
      val contrib = edd
        .join(r, edd("a") === r("word"))
        .select(col("b").as("word"), expr("r div d").as("c"))
      r = contrib
        .groupBy("word")
        .agg(sum(col("c")).as("sc"))
        .select(col("word"), expr(s"${base}L + (85 * sc) div 100").as("r"))
    }

    // TakeOrdered top-k; the ordered window runs over k rows only
    val top = r.orderBy(col("r").desc, col("word").asc).limit(topK)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("r").desc, col("word").asc)))
      .select(col("rank"), col("word"), col("r").as("score"))
  }
}
