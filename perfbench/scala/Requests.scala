package graftbench

import java.util.SplittableRandom

/** One reference-shaped request plus what its output must satisfy.
  * `source` is the corpus index of a turn the request was derived from;
  * every request derived from a turn matches it, so `source >= 0` means
  * the result must be non-empty. */
final case class Req(
    id: Int, kind: String, json: String, terms: Seq[String],
    must: Seq[String] = Nil, mustNot: Seq[String] = Nil, anyOf: Seq[String] = Nil,
    roles: Seq[String] = Nil, tools: Seq[String] = Nil,
    tsLo: Option[Long] = None, tsHi: Option[Long] = None, sortTsDesc: Boolean = false,
    k: Int = 10, source: Int = -1) {
  def facet: Boolean = kind == "facet"
}

object Requests {
  /** search_bool's fixed-share mix, one slot per request. `page2` follows
    * `page1` and pages the same query with its search_after token. */
  val BoolMix: Seq[String] = Seq(
    "and", "not", "mixed", "filtered", "phrase", "and", "fuzzy", "filtered",
    "sorted", "page1", "page2", "sloppy", "wildcard", "not", "regexp", "facet")

  private val Dims = """"dimensions":[{"dimension":"role"},{"dimension":"tool"}]"""

  private val MinuteFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm")
    .withZone(java.time.ZoneOffset.UTC)
  private def minute(ms: Long): String = MinuteFmt.format(java.time.Instant.ofEpochMilli(ms))
  private def minuteStart(ms: Long): Long = ms - Math.floorMod(ms, 60000L)

  private def q(text: String, extra: String = "", k: Int = 10): String = {
    val t = text.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"query":{"text":"$t"$extra},"maxResults":$k}"""
  }

  /** Share of requests with a term already used by an earlier request. */
  def repeatShare(reqs: Seq[Req]): Double = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    var rep = 0
    reqs.foreach { r => if (r.terms.exists(seen.contains)) rep += 1; seen ++= r.terms }
    if (reqs.isEmpty) 0d else rep.toDouble / reqs.size
  }
}

/** Request generator over one corpus. Terms come from the corpus itself,
  * so each request derived from a turn has at least that turn as a hit. */
final class Requests(c: Corpus, seed: Long) {
  import Requests._
  private val r = new SplittableRandom(seed)
  private var nextId = 0
  private def id(): Int = { nextId += 1; nextId - 1 }
  private def w(rank: Int): String = c.vocab(rank)

  private def turn(): Int = r.nextInt(c.turns.size)
  /** A term by occurrence: Zipf-skewed like the text, so hot terms repeat. */
  private def occurrence(i: Int): String = w(c.words(i)(r.nextInt(c.words(i).length)))
  /** A term of turn i drawn uniformly from its distinct words outside the
    * 200 most frequent ranks, so terms are mostly distinct across requests. */
  private def distinctTerm(i: Int, not: Set[String] = Set.empty): Option[String] = {
    val ws = c.words(i).distinct.filter(_ >= 200).map(w).filterNot(not)
    if (ws.isEmpty) None else Some(ws(r.nextInt(ws.length)))
  }
  private def terms(i: Int, n: Int): Option[Seq[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (out.size < n) distinctTerm(i, out.toSet) match {
      case Some(t) => out += t
      case None    => return None
    }
    Some(out.toSeq)
  }

  /** Pure-SHOULD disjunction of 1..4 distinct Zipf-drawn terms of one turn. */
  def or(): Req = {
    val i = turn()
    val n = 1 + r.nextInt(4)
    val ts = Iterator.fill(100)(occurrence(i)).distinct.take(n).toSeq
    Req(id(), "or", q(ts.mkString(" ")), ts, anyOf = ts, source = i)
  }

  /** One request of search_bool's `kind`; None when the drawn turn cannot
    * supply it (too few distinct terms), and the caller redraws. */
  def bool(kind: String): Option[Req] = {
    val i = turn()
    val t = c.turns(i)
    kind match {
      case "and" => terms(i, 2).map { case Seq(a, b) =>
        Req(id(), kind, q(s"+$a +$b"), Seq(a, b), must = Seq(a, b), source = i) }
      case "page1" => distinctTerm(i).map { b =>
        // a Zipf-drawn MUST term has many hits, so page 2 is not empty
        val a = Iterator.continually(occurrence(i)).find(_ != b).get
        Req(id(), kind, q(s"+$a $b"), Seq(a, b), must = Seq(a), source = i) }
      case "not" =>
        val own = c.words(i).map(w).toSet
        terms(i, 1).map { case Seq(a) =>
          var b = occurrence(turn())
          while (own.contains(b)) b = occurrence(turn())
          Req(id(), kind, q(s"+$a -$b"), Seq(a, b), must = Seq(a), mustNot = Seq(b), source = i)
        }
      case "mixed" => terms(i, 3).map { case Seq(a, b, d) =>
        Req(id(), kind, q(s"+$a $b $d"), Seq(a, b, d), must = Seq(a), source = i) }
      case "filtered" => terms(i, 2).map { case Seq(a, b) =>
        val lo = t.ts.getTime - r.nextInt(30) * 86400000L
        val hi = t.ts.getTime + r.nextInt(30) * 86400000L
        val tools = t.tool.toSeq.flatMap(x => Seq(x, Gen.Tools(r.nextInt(Gen.Tools.length)))).distinct
        val toolF = if (tools.isEmpty) "" else tools.map(x => s""""$x"""").mkString(""","tool":[""", ",", "]")
        val extra = s""","lower":"${minute(lo)}","upper":"${minute(hi)}","filter":{"role":"${t.role}"$toolF}"""
        Req(id(), kind, q(s"$a $b", extra), Seq(a, b), anyOf = Seq(a, b), roles = Seq(t.role),
          tools = tools, tsLo = Some(minuteStart(lo)), tsHi = Some(minuteStart(hi) + 59999L),
          source = i)
      }
      case "phrase" | "sloppy" =>
        val ws = c.words(i)
        val gap = if (kind == "phrase") 1 else 2
        val p = r.nextInt(ws.length - gap)
        val (a, b) = (w(ws(p)), w(ws(p + gap)))
        if (a == b) None
        else {
          val text = if (kind == "phrase") s""""$a $b"""" else s""""$a $b"~2"""
          Some(Req(id(), kind, q(text), Seq(a, b), must = Seq(a, b), source = i))
        }
      case "fuzzy" => distinctTerm(i).filter(_.length >= 5).map { a =>
        // one substituted letter: the original is within edit distance 1
        val p = 1 + r.nextInt(a.length - 1)
        val sub = a.updated(p, if (a.charAt(p) == 'z') 'y' else 'z')
        Req(id(), kind, q(s"$sub~2"), Seq(a), source = i)
      }
      case "wildcard" => distinctTerm(i).filter(_.length >= 6).map { a =>
        Req(id(), kind, q(a.take(5) + "*"), Seq(a), source = i)
      }
      case "regexp" => distinctTerm(i).filter(_.length >= 6).map { a =>
        Req(id(), kind, q(s"/${a.take(4)}.${a.drop(5)}/"), Seq(a), source = i)
      }
      case "sorted" => terms(i, 2).map { case Seq(a, b) =>
        Req(id(), kind, q(s"$a $b").dropRight(1) + ""","sort":"{\"ts\":\"desc\"}"}""", Seq(a, b),
          anyOf = Seq(a, b), sortTsDesc = true, source = i)
      }
      case "facet" => terms(i, 2).map { case Seq(a, b) =>
        Req(id(), kind, q(s"$a $b").dropRight(1) + "," + Dims + "}", Seq(a, b), anyOf = Seq(a, b),
          source = i)
      }
    }
  }

  /** `n` requests following search_bool's mix. A `page2` slot carries no
    * JSON of its own: it pages the preceding `page1` request. */
  def boolMix(n: Int): Vector[Req] = {
    val out = Vector.newBuilder[Req]
    var prev: Req = null
    (0 until n).foreach { j =>
      val kind = BoolMix(j % BoolMix.size)
      val req =
        if (kind == "page2") prev.copy(id = id(), kind = "page2", source = -1)
        else Iterator.continually(bool(kind)).collectFirst { case Some(x) => x }.get
      out += req
      prev = req
    }
    out.result()
  }

  def orMix(n: Int): Vector[Req] = Vector.fill(n)(or())

  /** A planted marker as the query: single-term disjunction, or MUST. */
  def marker(term: String, must: Boolean, k: Int): Req =
    Req(id(), "marker", q(if (must) s"+$term" else term, k = k), Seq(term), k = k)
}
