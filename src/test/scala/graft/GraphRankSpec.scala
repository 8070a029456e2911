package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphRank

/** TextRank (q115) semantics and determinism. */
class GraphRankSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docs(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
      .toDF("doc_id", "text")

  test("hub word of a star co-occurrence graph ranks first") {
    // edges: hub-{b,c,d} (star) + one far pair {x,y}; hub has degree 3
    val d = docs(Seq("hub b", "hub c", "hub d", "x y"))
    val out = GraphRank.textRank(d, "text", iters = 4, topK = 10)
      .select("rank", "word", "score").as[(Int, String, Long)].collect()
    assert(out.head._2 == "hub", s"star hub must rank first, got ${out.toSeq}")
    assert(out.map(_._2).toSet == Set("hub", "b", "c", "d", "x", "y"))
    // leaves of the star are symmetric — identical scores, word-asc order
    val leaves = out.filter(r => Set("b", "c", "d")(r._2)).map(_._3)
    assert(leaves.distinct.length == 1, "symmetric leaves must tie exactly")
    assert(out.forall(_._3 > 0L))
  }

  test("single-word and empty documents contribute no edges") {
    val d = docs(Seq("lonely", "", "a b"))
    val words = GraphRank.textRank(d, "text", iters = 2, topK = 10)
      .select("word").as[String].collect().toSet
    assert(words == Set("a", "b"))
  }

  test("ranks are invariant under input partitioning") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val r1 = GraphRank.textRank(d, "text")
      .as[(Int, String, Long)].collect().toSeq
    val r2 = GraphRank.textRank(d.repartition(7), "text")
      .as[(Int, String, Long)].collect().toSeq
    assert(r1 == r2, "fixed-point PageRank must not depend on partitioning")
  }

  test("rank mass stays bounded by the fixed-point scale") {
    // floor division only ever LOSES mass: total after any round <= Scale
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = GraphRank.textRank(d, "text", topK = Int.MaxValue)
      .agg(org.apache.spark.sql.functions.sum("score")).as[Long].head()
    assert(total <= GraphRank.Scale, s"mass $total exceeds scale")
    assert(total > GraphRank.Scale / 2, "mass should not collapse")
  }
}
