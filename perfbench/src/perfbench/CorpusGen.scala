package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

/** A generated corpus on disk: a count-prefixed manifest plus documents. */
final case class Corpus(manifest: Path, baseDir: Path, docs: Int, bytes: Long, sha256: String)

/** Seeded plain-text corpus for the index build.
  *
  * Words come from a Zipf-ranked vocabulary whose first letters follow an
  * uneven but complete spread over a–z. Surface forms mix case, punctuation,
  * apostrophes, hyphens, digits and multi-byte UTF-8; lines vary in length,
  * separators and line endings; a few documents are empty, one word long or
  * hold no letters at all. The same seed and size give byte-identical files.
  */
object CorpusGen {

  // Rough English first-letter weights, every letter present.
  private val FirstLetterWeights: Array[Double] = Array(
    11.7, 4.4, 5.2, 3.2, 2.8, 4.0, 1.6, 4.2, 7.3, 0.5, 0.9, 2.4, 3.8,
    2.3, 7.6, 4.3, 0.2, 2.8, 6.7, 16.0, 1.2, 0.8, 5.5, 0.05, 0.8, 0.04)
  private val Punct = Array(",", ".", ";", ":", "!", "?", ")", "\"", "...")
  private val Multibyte = Array("é", "ü", "ß", "ñ", "ø", "–", "’", "数据", "日本", "😀", "Ωμέγα")
  private val Vocab = 30000
  private val ZipfS = 1.07
  private val MinDoc = 2000.0
  private val MaxDoc = 256000.0
  private val MeanDoc = (MaxDoc - MinDoc) / math.log(MaxDoc / MinDoc)

  def generate(seed: Long, targetBytes: Long, dir: Path): Corpus = {
    val rng = new SplittableRandom(seed)
    val words = vocabulary(rng)
    val cdf = zipfCdf(words.length)
    Files.createDirectories(dir)
    val paths = mutable.ArrayBuffer.empty[String]
    val digest = MessageDigest.getInstance("SHA-256")
    var total = 0L
    // Degenerate documents at seeded positions among the first 30.
    val special = Seq(
      "", "", surface(words(0), rng) + "\n", words(rng.nextInt(50)),
      "\n\n   \t\n", "1999 2024, -- ... 42!\n数据 😀\n"
    ).zipWithIndex.map { case (text, k) => (5 * k + rng.nextInt(5)) -> text }.toMap
    // Sizes spread log-uniformly over [MinDoc, MaxDoc]; the same multiset for
    // every seed, so the scan's file packing does not depend on the seed.
    val n = math.max(30, math.ceil(targetBytes / MeanDoc).toInt)
    val sizes = Array.tabulate(n)(k => MinDoc * math.pow(MaxDoc / MinDoc, k / (n - 1.0)))
    for (k <- n - 1 to 1 by -1) {
      val j = rng.nextInt(k + 1); val t = sizes(k); sizes(k) = sizes(j); sizes(j) = t
    }
    var i = 0
    while (i < n) {
      val text = special.getOrElse(i, document(rng, words, cdf, sizes(i).toInt))
      val bytes = text.getBytes(UTF_8)
      val rel = f"docs/${i / 100}%03d/d$i%05d.txt"
      val file = dir.resolve(rel)
      Files.createDirectories(file.getParent)
      Files.write(file, bytes)
      digest.update(rel.getBytes(UTF_8)); digest.update(bytes)
      paths += rel
      total += bytes.length
      i += 1
    }
    val manifest = dir.resolve("manifest.txt")
    Files.write(manifest, (paths.length.toString +: paths).mkString("", "\n", "\n").getBytes(UTF_8))
    Corpus(manifest, dir, paths.length, total, hex(digest.digest()))
  }

  private def vocabulary(rng: SplittableRandom): Array[String] = {
    val letterCdf = FirstLetterWeights.scanLeft(0.0)(_ + _).tail
    // Word lengths by rank come from a fixed stream, so tokens per megabyte
    // (the index build's work) do not depend on the seed; letters do.
    val lengths = new SplittableRandom(0L)
    Array.fill(Vocab) {
      val u = rng.nextDouble() * letterCdf.last
      val first = ('a' + letterCdf.indexWhere(_ >= u)).toChar
      val len = 1 + math.min(13, (-math.log(1 - lengths.nextDouble()) * 4.5).toInt)
      val sb = new StringBuilder().append(first)
      while (sb.length < len) sb.append(('a' + rng.nextInt(26)).toChar)
      sb.toString
    }
  }

  private def zipfCdf(n: Int): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += 1.0 / math.pow(r + 1, ZipfS); cdf(r) = acc; r += 1 }
    cdf
  }

  private def draw(rng: SplittableRandom, words: Array[String], cdf: Array[Double]): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * cdf.last)
    words(if (i >= 0) i else math.min(-i - 1, words.length - 1))
  }

  /** One occurrence of `w` as it might appear in running text. */
  private def surface(w: String, rng: SplittableRandom): String = {
    val p = rng.nextInt(1000)
    if (p < 700) w
    else if (p < 820) w.capitalize
    else if (p < 850) w.toUpperCase
    else if (p < 900) w + Punct(rng.nextInt(Punct.length))
    else if (p < 920) "(" + w + ")"
    else if (p < 945) { val k = rng.nextInt(w.length + 1); w.substring(0, k) + "'" + w.substring(k) }
    else if (p < 960) w + "-" + w.reverse
    else if (p < 975) w + rng.nextInt(100)
    else if (p < 985) (1900 + rng.nextInt(130)).toString
    else { val k = rng.nextInt(w.length + 1); w.substring(0, k) + Multibyte(rng.nextInt(Multibyte.length)) + w.substring(k) }
  }

  private def document(rng: SplittableRandom, words: Array[String], cdf: Array[Double], target: Int): String = {
    val sb = new StringBuilder(target + 256)
    while (sb.length < target) {
      if (rng.nextInt(20) == 0) sb.append('\n')
      else {
        val n = 4 + rng.nextInt(15)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(rng.nextInt(40) match { case 0 => "  "; case 1 => "\t"; case _ => " " })
          sb.append(surface(draw(rng, words, cdf), rng))
          k += 1
        }
        sb.append(if (rng.nextInt(10) == 0) "\r\n" else "\n")
      }
    }
    sb.toString
  }

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString
}

/** Single-threaded reference index with the paper's semantics: split on
  * ASCII whitespace, keep only A–Z/a–z (lowercased), dedup per document,
  * order by document frequency desc then word asc, rows `word:[ids]`.
  * Returns the expected bytes of each `<letter>.txt`.
  */
object ReferenceIndex {

  def build(corpus: Corpus): Map[Char, Array[Byte]] = {
    val tokens = Files.readAllLines(corpus.manifest, UTF_8).toArray(Array.empty[String])
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val n = tokens.head.toInt
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    tokens.tail.take(n).zipWithIndex.foreach { case (rel, i) =>
      val doc = i + 1L
      words(Files.readAllBytes(corpus.baseDir.resolve(rel))).foreach { w =>
        val ids = postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty[Long])
        if (ids.isEmpty || ids.last != doc) ids += doc
      }
    }
    val ordered = postings.toSeq.sortWith { case ((wa, pa), (wb, pb)) =>
      if (pa.length != pb.length) pa.length > pb.length else wa < wb
    }
    val out = ('a' to 'z').map(c => c -> new ByteArrayOutputStream()).toMap
    ordered.foreach { case (w, ids) =>
      out(w.charAt(0)).write(s"$w:[${ids.mkString(" ")}]\n".getBytes(UTF_8))
    }
    out.map { case (c, buf) => c -> buf.toByteArray }
  }

  private def words(bytes: Array[Byte]): Iterator[String] = new Iterator[String] {
    private var i = 0
    private var nextWord: String = advance()
    private def advance(): String = {
      val sb = new java.lang.StringBuilder()
      while (i < bytes.length) {
        val b = bytes(i); i += 1
        if (b == ' ' || (b >= 9 && b <= 13)) { if (sb.length > 0) return sb.toString }
        else if (b >= 'a' && b <= 'z') sb.append(b.toChar)
        else if (b >= 'A' && b <= 'Z') sb.append((b + 32).toChar)
      }
      if (sb.length > 0) sb.toString else null
    }
    def hasNext: Boolean = nextWord != null
    def next(): String = { val w = nextWord; nextWord = advance(); w }
  }
}
