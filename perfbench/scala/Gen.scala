package graftbench

import java.util.SplittableRandom

import graft.analysis.{Analyzers, PorterStemmer}
import graft.model.Turn

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0d
    var i = 0
    while (i < n) { acc += 1d / math.pow(i + 1d, s); c(i) = acc; i += 1 }
    i = 0
    while (i < n) { c(i) /= acc; i += 1 }
    c
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** A marker term planted into known turns: (conv_id, turn_idx) -> tf. */
final case class Planted(term: String, docs: Map[(String, Int), Int])

/** One generated corpus. `words(i)` holds the vocabulary ranks of turn
  * i's body (markers are appended after them, so adjacent ranks are
  * adjacent analyzed positions). Turns are in (conv_id, turn_idx) order. */
final case class Corpus(turns: Vector[Turn], words: Vector[Array[Int]],
                        planted: Seq[Planted], vocab: Array[String]) {
  def textBytes: Long = turns.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
  def tokens: Long = turns.iterator.map(_.text.count(_ == ' ') + 1L).sum
  def distinctWords: Int = {
    val seen = new java.util.BitSet(vocab.length)
    words.foreach(_.foreach(seen.set))
    seen.cardinality()
  }
}

/** Seeded transcript generator owned by the benchmark: pseudo-word
  * vocabulary with Zipf frequencies, heavy-tailed turn lengths, role /
  * tool / ts spreads the filters select on, and planted markers. Every
  * vocabulary word and marker is a fixed point of the Icat analyzer, so
  * query text built from them analyzes to exactly those terms. */
object Gen {
  val VocabSize = 150000
  val ZipfS = 1.0
  val MinLen = 20
  val MaxLen = 400
  val Tools: Array[String] = Array("bash", "search", "python", "editor", "browser", "sql", "fetch", "grep")
  val Roles: Array[String] = Array("system", "user", "assistant", "tool")
  /** 2024-01-01T00:00Z; conversations start within the following two years. */
  val TsBase: Long = 1704067200000L
  val TsSpan: Long = 2L * 365 * 24 * 3600 * 1000

  private val Cons = "bcdfghjklmnprstvz"
  private val Vow = "aeiou"

  private def analyzesToItself(w: String): Boolean =
    !Analyzers.ScientificStopWords.contains(w) && PorterStemmer.stem(w) == w &&
      Analyzers.Icat(w).terms.sameElements(Seq(w))

  def vocabulary(seed: Long, size: Int = VocabSize): Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eed5eedL)
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](size)
    var n = 0
    val sb = new StringBuilder
    while (n < size) {
      sb.setLength(0)
      val syl = 2 + r.nextInt(3)
      var j = 0
      while (j < syl) {
        sb.append(Cons.charAt(r.nextInt(Cons.length))).append(Vow.charAt(r.nextInt(Vow.length)))
        if (r.nextInt(3) == 0) sb.append(Cons.charAt(r.nextInt(Cons.length)))
        j += 1
      }
      val w = sb.toString
      if (!seen.contains(w) && analyzesToItself(w)) { seen.add(w); out(n) = w; n += 1 }
    }
    out
  }

  /** Marker terms: letters the vocabulary never uses ('q', 'x'), so no
    * marker collides with a word. */
  def markerTerm(r: SplittableRandom, taken: java.util.Set[String]): String = {
    var w = ""
    while (w.isEmpty || taken.contains(w) || !analyzesToItself(w)) {
      val sb = new StringBuilder("qx")
      (0 until 6).foreach(_ => sb.append(Cons.charAt(r.nextInt(Cons.length))).append(Vow.charAt(r.nextInt(Vow.length))))
      w = sb.append('k').toString
    }
    taken.add(w)
    w
  }

  /** Heavy-tailed turn length: lognormal (median 45 tokens), clipped to
    * [MinLen, MaxLen]. */
  def turnLength(r: SplittableRandom): Int = {
    val g = {
      // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
      val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    math.max(MinLen, math.min(MaxLen, math.round(math.exp(math.log(45) + 0.75 * g)).toInt))
  }

  /** `nConvs` conversations of 10..50 turns. `markers` terms are planted,
    * each into 3..8 random turns with tf 1..3. */
  def corpus(seed: Long, vocab: Array[String], nConvs: Int, convPrefix: String,
             markers: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(vocab.length, ZipfS)
    val toolZipf = new Zipf(Tools.length, 1.0)
    val turns = Vector.newBuilder[Turn]
    val words = Vector.newBuilder[Array[Int]]
    val keys = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var c = 0
    while (c < nConvs) {
      val conv = f"$convPrefix$c%07d"
      val nTurns = 10 + r.nextInt(41)
      var ts = TsBase + (r.nextDouble() * TsSpan).toLong
      var t = 0
      while (t < nTurns) {
        val role =
          if (t == 0) (if (r.nextInt(10) < 3) "system" else "user")
          else if (t % 2 == 1) "assistant"
          else if (r.nextInt(100) < 35) "tool" else "user"
        val tool =
          if (role == "tool" || (role == "assistant" && r.nextInt(100) < 30)) Some(Tools(toolZipf.sample(r)))
          else None
        val len = turnLength(r)
        val ws = Array.fill(len)(zipf.sample(r))
        words += ws
        turns += Turn(conv, t, role, ws.map(vocab(_)).mkString(" "), tool, new java.sql.Timestamp(ts))
        keys += ((conv, t))
        ts += 5000L + r.nextInt(600000)
        t += 1
      }
      c += 1
    }
    val base = turns.result()
    val taken = new java.util.HashSet[String]()
    val planted = (0 until markers).map { _ =>
      val term = markerTerm(r, taken)
      val n = 3 + r.nextInt(6)
      val docs = Iterator.continually(r.nextInt(base.size)).distinct.take(n)
        .map(i => keys(i) -> (1 + r.nextInt(3))).toMap
      Planted(term, docs)
    }
    val byDoc = planted.flatMap(p => p.docs.map { case (k, tf) => k -> (p.term, tf) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val withMarkers = base.map { tr =>
      byDoc.get((tr.conv_id, tr.turn_idx)) match {
        case None => tr
        case Some(ms) =>
          tr.copy(text = tr.text + ms.map { case (m, tf) => (" " + m) * tf }.mkString)
      }
    }
    Corpus(withMarkers, words.result(), planted, vocab)
  }
}
