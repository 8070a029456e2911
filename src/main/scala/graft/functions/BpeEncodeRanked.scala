package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE APPLY, rank-priority form — the production-scale encoder next
  * to [[BpeEncode]]'s sequential replay: instead of one greedy pass
  * PER MERGE (O(|merges| × len) per first-seen word — at a 32k-merge
  * vocabulary that is ~32k array scans per distinct word), repeatedly
  * merge the adjacent pair with the LOWEST learned rank (leftmost
  * first), looked up in a hash map, until no adjacent pair is in the
  * table: O(len² hash probes) per word, INDEPENDENT of |merges| — the
  * GPT-2-style encoder shape every production BPE runtime uses.
  *
  * Equivalence to the replay: the two agree on every input. Proof
  * sketch (pinned empirically by Round15Spec on the corpus vocabulary
  * and the adversarial overlap/self-merge fixtures): a merge learned
  * at rank j can only reference symbols that existed before rank j,
  * and applying a merge creates new adjacencies ONLY with its own
  * output symbol — which no pair of rank < j can mention (it did not
  * exist when rank < j was learned). So the lowest-rank pair present
  * is never created nor blocked by other applicable merges, and both
  * encoders consume ranks in the same ascending order with the same
  * leftmost-first tie order within a rank. The replay form remains
  * the LEARNER's literal recurrence (the q360 contract); this form is
  * the one to ship when |merges| is production-sized — same memo
  * discipline ([[BpeEncode]]'s 2²⁰ per-task cap), same plan-literal
  * merge table, same codegen-by-reference-object kernel.
  *
  * Null contract: identical to [[BpeEncode]].
  */
case class BpeEncodeRanked(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_encode_ranked"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING>, got ${t.sql}")
    }

  @transient private lazy val encoder = new BpeEncodeRanked.Encoder(merges)

  override def nullSafeEval(a: Any): Any =
    encoder.encodeAll(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val enc = ctx.addReferenceObj(
      "bpeRankedEncoder", encoder, classOf[BpeEncodeRanked.Encoder].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $enc.encodeAll($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeRanked =
    copy(child = newChild)
}

object BpeEncodeRanked {

  /** Rank-greedy engine + per-task memo (the [[BpeEncode.Encoder]]
    * conventions: one instance per deserialized expression copy,
    * capacity-capped ConcurrentHashMap).
    */
  final class Encoder(merges: Seq[(String, String)]) extends Serializable {
    // pair -> learned rank; '|' keys are unambiguous ONLY because merge
    // symbols contain no '|' (true for the alnum tokenizer's output) —
    // fail fast here rather than silently mis-matching pairs for a
    // future caller whose symbols carry the separator
    require(merges.forall { case (a, b) =>
      !a.contains("|") && !b.contains("|")
    }, "bpe_encode_ranked: merge symbols must not contain '|'")
    private val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        m.putIfAbsent(a + "|" + b, Integer.valueOf(i))
      }
      m
    }

    private val MemoCap = 1 << 20
    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Array[UTF8String]]()

    def encodeAll(words: ArrayData): ArrayData = {
      val n = words.numElements()
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) =
          if (words.isNullAt(i)) null
          else new GenericArrayData(
            encodeWord(words.getUTF8String(i).toString)
              .asInstanceOf[Array[Any]])
        i += 1
      }
      new GenericArrayData(out)
    }

    private def encodeWord(word: String): Array[UTF8String] = {
      val hit = memo.get(word)
      if (hit != null) return hit
      val syms = new Array[String](word.length)
      var i = 0
      while (i < word.length) {
        syms(i) = String.valueOf(word.charAt(i))
        i += 1
      }
      var len = syms.length
      var done = len < 2
      while (!done) {
        // lowest learned rank among current adjacent pairs, leftmost
        // occurrence on (impossible-by-construction) ties
        var best = -1
        var bestRank = Int.MaxValue
        var j = 0
        while (j < len - 1) {
          val r = rank.get(syms(j) + "|" + syms(j + 1))
          if (r != null && r.intValue() < bestRank) {
            bestRank = r.intValue()
            best = j
          }
          j += 1
        }
        if (best < 0) done = true
        else {
          syms(best) = syms(best) + syms(best + 1)
          var k = best + 1
          while (k < len - 1) { syms(k) = syms(k + 1); k += 1 }
          len -= 1
          done = len < 2
        }
      }
      val enc = new Array[UTF8String](len)
      var e = 0
      while (e < len) { enc(e) = UTF8String.fromString(syms(e)); e += 1 }
      if (memo.size < MemoCap) memo.put(word, enc)
      enc
    }
  }

  def apply(words: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncodeRanked(Bridge.expression(words), merges))
}
