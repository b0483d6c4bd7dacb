package graftbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import graft.analysis.Analyzers
import graft.api.{Json, SearchEngine}
import graft.build.{IndexBuilder, Segments}
import graft.corpus.DocIds
import graft.model._
import graft.score.{NaiveOracle, QueryExec}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Result of one request as the client sees it. */
final case class Outcome(hits: Seq[ScoredHit], after: Option[AfterToken],
                         facets: Map[String, Seq[(String, Long)]])

/** One completed request of the closed loop: what was sent, how long it
  * took, what came back. */
final case class Done(req: Req, json: String, seconds: Double, out: Outcome)

/** One benchmark run: one workload, one seed, one JVM, Spark local[4],
  * one closed-loop client. Writes a raw record (samples, checks, and in
  * the traced run spans and Spark counts) that perfbench/run.py reduces
  * to metrics. */
object Main {
  /** Conversations per corpus: the search index, and the side index for
    * oracle checks the main index is too large for; sized so every run
    * fits the benchmark's per-run time budget on 4 cores. */
  val SearchConvs = 120
  val SideConvs = 8
  /** Times the set-up is repeated per run; setup_s is their median. */
  val SetupReps = 2
  /** Planted markers checked per run. */
  val CheckMarkers = 2
  /** search_or requests also checked against the flat path. */
  val WandSamples = 2
  /** Completed requests per kind checked against the oracle. */
  val OracleSamples = 3
  /** Requests per pass of the traced run's overhead measurement. */
  val OverheadSample = 16

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, out, work) = args
    val seed = seedS.toLong
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, traceS == "1")
    tracer.attach()
    val run = new Run(spark, tracer, seed, secondsS.toDouble, work)
    val rec = workload match {
      case "search_or"   => run.search(or = true)
      case "search_bool" => run.search(or = false)
      case other         => sys.error(s"unknown workload $other")
    }
    val full = rec ++ Map("workload" -> workload, "seed" -> seed,
      "trace" -> (if (tracer.enabled) tracer.toJson else null))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Serialization.write(full)(DefaultFormats))
    spark.stop()
  }
}

final class Run(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double, work: String) {
  import Main._
  import spark.implicits._

  private val analyzer = Analyzers.Icat
  private val vocab = Gen.vocabulary(seed)
  private val rec = mutable.LinkedHashMap.empty[String, Any]

  // ---- operation accounting: every timed request and every check ----
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def fail(op: String, request: String, why: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += Map("op" -> op, "request" -> request, "why" -> why)
    System.err.println(s"FAIL $op $request: $why")
  }
  /** Run one untimed check; an exception is a failure like a false check. */
  private def check(op: String, request: String)(errors: => Seq[String]): Unit = {
    attempted += 1
    Try(errors) match {
      case Success(Nil)  => ()
      case Success(errs) => fail(op, request, errs.take(3).mkString("; "))
      case Failure(e)    => fail(op, request, s"exception: $e")
    }
  }

  private val started = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"[${secs(started)}%7.2f s] $msg")
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val v = body; (v, secs(t0)) }
  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
  private def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
  private def rmrf(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
  private def dataset(turns: Seq[Turn]): Dataset[Turn] =
    spark.createDataset(spark.sparkContext.parallelize(turns, 8))

  private def genStats(c: Corpus, reqs: Seq[Req]): Map[String, Any] = Map(
    "turns" -> c.turns.size, "tokens" -> c.tokens, "distinct_terms" -> c.distinctWords,
    "mean_len" -> c.tokens.toDouble / c.turns.size, "text_bytes" -> c.textBytes,
    "requests" -> reqs.size, "repeat_share" -> Requests.repeatShare(reqs))

  // ---- requests ----

  private def jsonFor(req: Req, prev: Option[Outcome]): String =
    if (req.kind != "page2") req.json
    else prev.flatMap(_.after) match {
      case Some(a) =>
        "{" + s""""search_after":{"doc":${a.docId},"score":${a.score.getOrElse(0f)}},""" + req.json.drop(1)
      case None => req.json
    }

  /** The client's call: JSON in, engine call, JSON out. */
  private def execute(engine: SearchEngine, req: Req, json: String): Outcome = {
    val sr = Json.parseRequest(json)
    if (req.facet) {
      val (dims, _) = Json.parseDimensions(json)
      Outcome(Nil, None, engine.facetStrings(sr, dims))
    } else {
      val resp = engine.search(sr)
      Json.renderResponse(resp)
      Outcome(resp.hits, resp.searchAfter, Map.empty)
    }
  }

  /** The traced form of one request: plan, then top-k, then the client's
    * call, each its own span. Its latency is not an end-to-end sample. */
  private def executeTraced(engine: SearchEngine, req: Req, json: String): Outcome =
    tracer.span("request", req.id) {
      tracer.attr("kind", req.kind)
      val sr = Json.parseRequest(json)
      val (q, filters) = tracer.span("model.plan", req.id)(engine.plan(sr))
      if (!req.facet) tracer.span("score.topk", req.id) {
        val exec = new QueryExec(engine.index)
        val df =
          if (sr.sort.isScore) exec.topK(q, filters, sr.maxResults, sr.searchAfter)
          else exec.topKSorted(q, filters, sr.sort, sr.maxResults, sr.searchAfter)
        // Wand.topK's groupByKey(segId).flatMapGroups is the only MapGroups node
        tracer.attr("wand", df.queryExecution.logical.exists(_.nodeName == "MapGroups"))
        tracer.attr("hits", df.collect().length)
      }
      tracer.span(if (req.facet) "api.facet" else "api.search", req.id)(execute(engine, req, json))
    }

  private def words(text: String): Set[String] = text.split(' ').toSet

  /** Output invariants of one main-index request (no oracle needed). */
  private def invariants(req: Req, out: Outcome, prev: Option[Outcome]): Seq[String] = {
    val e = mutable.ArrayBuffer.empty[String]
    val hs = out.hits
    if (req.facet) {
      val roles = out.facets.getOrElse("role", Nil)
      if (!roles.forall { case (l, n) => Gen.Roles.contains(l) && n > 0 }) e += s"bad role facet $roles"
      if (!out.facets.getOrElse("tool", Nil).forall { case (l, n) => Gen.Tools.contains(l) && n > 0 })
        e += s"bad tool facet ${out.facets.get("tool")}"
      if (req.source >= 0 && roles.isEmpty) e += "no facet counts for a matching request"
      return e.toSeq
    }
    if (hs.size > req.k) e += s"${hs.size} hits > k=${req.k}"
    if (req.source >= 0 && hs.isEmpty) e += "no hits, but the source turn matches"
    if (req.sortTsDesc) {
      if (hs.sliding(2).exists(p => p.size == 2 && p(1).ts.after(p(0).ts))) e += "ts not descending"
    } else if (hs.sliding(2).exists(p => p.size == 2 && p(1).score > p(0).score)) e += "scores increase"
    if (req.roles.nonEmpty && !hs.forall(h => req.roles.contains(h.role))) e += "role filter violated"
    if (req.tools.nonEmpty && !hs.forall(h => h.tool.exists(req.tools.contains))) e += "tool filter violated"
    req.tsLo.foreach(lo => if (hs.exists(_.ts.getTime < lo)) e += "lower ts bound violated")
    req.tsHi.foreach(hi => if (hs.exists(_.ts.getTime > hi)) e += "upper ts bound violated")
    hs.foreach { h =>
      val ws = words(h.text)
      if (!req.must.forall(ws.contains)) e += s"doc ${h.docId} lacks a MUST term"
      if (req.mustNot.exists(ws.contains)) e += s"doc ${h.docId} has a MUST_NOT term"
      if (req.anyOf.nonEmpty && !req.anyOf.exists(ws.contains)) e += s"doc ${h.docId} has no query term"
    }
    if (req.kind == "page2") prev.foreach { p =>
      val first = p.hits.map(_.docId).toSet
      if (hs.exists(h => first.contains(h.docId))) e += "page 2 overlaps page 1"
      p.hits.lastOption.foreach { l =>
        if (!hs.forall(h => h.score < l.score || (h.score == l.score && h.docId > l.docId)))
          e += "page 2 does not sort after page 1"
      }
    }
    e.toSeq
  }

  /** The closed loop: one client, next request when the last returns,
    * until `budget` seconds pass or every request was sent once. `call`
    * issues one request. */
  private def closedLoop(engine: SearchEngine, reqs: Vector[Req], budget: Double,
                         call: (SearchEngine, Req, String) => Outcome = execute): Seq[Done] = {
    val done = mutable.ArrayBuffer.empty[Done]
    val deadline = System.nanoTime() + (budget * 1e9).toLong
    var prev: Option[Outcome] = None
    var i = 0
    while (System.nanoTime() < deadline && i < reqs.size) {
      val req = reqs(i)
      val json = jsonFor(req, prev)
      attempted += 1
      val t0 = System.nanoTime()
      Try(call(engine, req, json)) match {
        case Success(out) =>
          done += Done(req, json, secs(t0), out)
          if (done.last.seconds > 2.0) log(f"slow ${req.kind} ${done.last.seconds}%.2f s: $json")
          val errs = Try(invariants(req, out, prev)).fold(e => Seq(s"check exception: $e"), identity)
          if (errs.nonEmpty) fail(req.kind, json, errs.take(3).mkString("; "))
          prev = Some(out)
        case Failure(e) =>
          fail(req.kind, json, s"exception: $e")
          prev = None
      }
      i += 1
    }
    done.toSeq
  }

  private def latencies(done: Seq[Done]): Seq[Map[String, Any]] =
    done.map(d => Map("kind" -> d.req.kind, "s" -> d.seconds))

  // ---- index recipes ----

  /** The search workloads' index: docIds, buildAndSave with positions,
    * pack + save segments, reopen from disk with segments attached.
    * Returns the engine and the phase times. */
  private def buildSearchIndex(turns: Seq[Turn], dir: String): (SearchEngine, Map[String, Double]) = {
    val ds = dataset(turns)
    val (corpus, tIds) = timed(tracer.span("corpus.docids")(DocIds.forTurns(ds)))
    val (idx, tBuild) = timed(tracer.span("build.build") {
      IndexBuilder.buildAndSave(corpus, analyzer, dir, withPositions = true)
    })
    val (_, tSeg) = timed(tracer.span("build.segments") {
      Segments.save(Segments.pack(idx.postings, idx.stats), s"$dir/segments")
    })
    val (engine, tOpen) = timed(tracer.span("build.open") {
      val loaded = IndexBuilder.load(spark, dir)
      new SearchEngine(loaded.copy(segments = Some(Segments.load(spark, s"$dir/segments"))))
    })
    corpus.unpersist()
    (engine, Map("docids_s" -> tIds, "build_s" -> tBuild, "segments_s" -> tSeg, "open_s" -> tOpen))
  }

  private def markerCheck(engine: SearchEngine, reqs: Requests, p: Planted, must: Boolean,
                          op: String): Unit = {
    val req = reqs.marker(p.term, must, k = 20)
    check(op, req.json) {
      val got = execute(engine, req, req.json).hits.map(h => (h.conv_id, h.turn_idx)).toSet
      if (got == p.docs.keySet) Nil else Seq(s"hits $got != planted ${p.docs.keySet}")
    }
  }

  /** Completed requests vs NaiveOracle over the same turns (docIds are
    * corpus order): ids in order and scores to 1e-6; facets against
    * counts over the oracle's matches. */
  private def oracleCheck(turns: Seq[Turn], engine: SearchEngine, done: Seq[Done]): Unit = {
    val oracle = NaiveOracle.fromTurns(turns.zipWithIndex.map { case (t, i) => (i.toLong, t) }, analyzer)
    done.foreach { d =>
      check(s"reference.${d.req.kind}", d.json) {
        val sr = Json.parseRequest(d.json)
        val (q, filters) = engine.plan(sr)
        if (d.req.facet) {
          val matched = oracle.topK(q, filters, Int.MaxValue).map(_._1.toInt)
          def top(vals: Seq[String]): Seq[(String, Long)] =
            vals.groupBy(identity).map { case (l, v) => (l, v.size.toLong) }.toSeq
              .sortBy { case (l, n) => (-n, l) }.take(10)
          val want = Map(
            "role" -> top(matched.map(turns(_).role)),
            "tool" -> top(matched.flatMap(turns(_).tool)))
          if (d.out.facets == want) Nil else Seq(s"facets ${d.out.facets} != oracle $want")
        } else {
          val sloppy = q match {
            case p: PhraseQuery => Some(p)
            case BoolQuery(Nil, Seq(p: PhraseQuery), Nil, Nil) => Some(p) // one SHOULD clause scores as itself
            case _ => None
          }
          val want = sloppy match {
            case Some(p) if p.slop > 0 && filters.isEmpty && sr.searchAfter.isEmpty =>
              sloppyTopK(turns, p, sr.maxResults)
            case _ if sr.sort.isScore => oracle.topK(q, filters, sr.maxResults, sr.searchAfter)
            case _ => oracle.topKSorted(q, filters, sr.sort.fields, sr.maxResults, sr.searchAfter)
          }
          val got = d.out.hits.map(h => (h.docId, h.score))
          if (got.map(_._1) != want.map(_._1)) Seq(s"ids ${got.map(_._1)} != oracle ${want.map(_._1)}")
          else got.zip(want).collect {
            case ((id, a), (_, b)) if math.abs(a - b) > 1e-6 => s"doc $id score $a != oracle $b"
          }
        }
      }
    }
  }

  /** One request per template of `kinds` against a small side index built
    * by the same recipe, checked against the oracle, plus its markers. */
  private def sideCheck(kinds: Set[String]): Unit = {
    val side = Gen.corpus(seed * 7919 + 17, vocab, SideConvs, "s", markers = 2)
    val dir = s"$work/side"
    val engine = buildSearchIndex(side.turns, dir)._1
    val reqs = new Requests(side, seed + 1)
    // one request per template (the mix repeats some)
    val templates = reqs.boolMix(Requests.BoolMix.size).filter(r => kinds(r.kind))
      .groupBy(_.kind).values.map(_.head).toVector.sortBy(_.id)
    oracleCheck(side.turns, engine, closedLoop(engine, templates, 1e9))
    side.planted.foreach(p => markerCheck(engine, reqs, p, must = false, "reference.marker"))
    engine.index.unpersistAll()
    rmrf(dir)
  }

  /** Reference top-k for a sloppy phrase of single-term slots. NaiveOracle
    * has no slop model (it scores every phrase as exact), so this scans
    * the turns by brute force under PhraseQuery's documented semantics:
    * each occurrence of the first slot anchors a match; every other slot
    * takes its occurrence nearest the expected position (ties to the
    * earlier one); the anchor counts 1/(1 + spread) when the spread of
    * displacements is at most the slop; BM25 over that fractional freq
    * with weight Σ idf. Docids are corpus order. */
  private def sloppyTopK(turns: Seq[Turn], p: PhraseQuery, k: Int): Seq[(Long, Float)] = {
    val docs = turns.map(t => analyzer.positional(t.text))
    val docCount = docs.count(_.terms.nonEmpty)
    val avgdl = (docs.map(_.positions.toLong).sum / docCount.toDouble).toFloat
    def idf(t: String): Option[Double] = {
      val df = docs.count(_.terms.exists(_.term == t))
      if (df == 0) None else Some(math.log(1d + (docCount - df + 0.5d) / (df + 0.5d)))
    }
    val weight = p.slots.flatMap(_._2).flatMap(idf).sum.toFloat
    docs.zipWithIndex.flatMap { case (a, id) =>
      val bases = p.slots.map { case (rel, ts) =>
        a.terms.filter(pt => ts.contains(pt.term)).map(_.pos - rel).sorted.toSeq
      }
      var tf = 0.0
      if (bases.forall(_.nonEmpty)) bases.head.foreach { anchor =>
        val ds = 0 +: bases.tail.map(b => b.minBy(x => (math.abs(x - anchor), x)) - anchor)
        val spread = ds.max - ds.min
        if (spread <= p.slop) tf += 1.0 / (1.0 + spread)
      }
      if (tf <= 0) None
      else {
        val dl = graft.build.SmallFloat.byte4ToInt(graft.build.SmallFloat.intToByte4(a.positions)).toFloat
        val norm = (1.2f * ((1 - 0.75f) + 0.75f * dl / avgdl)).toDouble
        Some((id.toLong, (weight - weight / (1d + tf.toFloat / norm)).toFloat))
      }
    }.sortBy { case (id, sc) => (-sc, id) }.take(k)
  }

  // ---- workloads ----

  /** search_or / search_bool: disk-resident index with packed segments. */
  def search(or: Boolean): Map[String, Any] = {
    val corpus = Gen.corpus(seed, vocab, SearchConvs, "c", markers = CheckMarkers)
    val reqs = new Requests(corpus, seed + 1)
    val measured = if (or) reqs.orMix(4000) else reqs.boolMix(4000)
    val warm = if (or) reqs.orMix(4) else reqs.boolMix(4)
    rec("gen") = genStats(corpus, measured)
    log(s"generated ${rec("gen")}")

    // set-up, repeated: build, pack, reopen, confirm the reopened index
    // answers a marker search, warm up
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var engine: SearchEngine = null
    (0 until SetupReps).foreach { rep =>
      val dir = s"$work/index$rep"
      val t0 = System.nanoTime()
      val (e, phases) = tracer.span("setup")(buildSearchIndex(corpus.turns, dir))
      log(s"setup $rep built: $phases")
      tracer.span("commit.confirm")(markerCheck(e, reqs, corpus.planted.head, must = !or, "commit.marker"))
      tracer.span("warmup")(closedLoop(e, warm, budget = 1e9))
      log(s"setup $rep warm")
      setups += phases + ("setup_s" -> secs(t0))
      if (engine != null) rmrf(s"$work/index${rep - 1}")
      engine = e
    }
    val dir = s"$work/index${SetupReps - 1}"
    rec("setups") = setups.toSeq
    rec("index_bytes") = Map("postings" -> dirBytes(s"$dir/postings"),
      "termstats" -> dirBytes(s"$dir/termstats"), "segments" -> dirBytes(s"$dir/segments"))
    rec("text_bytes") = corpus.textBytes

    if (tracer.enabled) {
      // tracing overhead on like-for-like calls: the same requests through
      // the client's call, detached and with each call in a span, in the
      // order detached, spanned, spanned, detached, after one unmeasured
      // pass so the first measured one does not run them cold
      val sample = measured.take(OverheadSample)
      val spanned = (e: SearchEngine, r: Req, j: String) => tracer.span("overhead.call", r.id)(execute(e, r, j))
      tracer.detach()
      closedLoop(engine, sample, 1e9)
      val passes = Seq(false, true, true, false).map { on =>
        if (on) tracer.attach() else tracer.detach()
        on -> closedLoop(engine, sample, 1e9, if (on) spanned else execute).map(_.seconds)
      }
      rec("overhead") = Map("traced" -> passes.filter(_._1).flatMap(_._2),
        "untraced" -> passes.filterNot(_._1).flatMap(_._2))
      tracer.attach()
    }
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    val done = closedLoop(engine, measured, seconds, if (tracer.enabled) executeTraced else execute)
    rec("measure_s") = secs(t0)
    log(s"measured ${done.size} requests")
    rec("gc_s") = gcSeconds - gc0
    // the program's peak, before the untimed checks add the harness's own
    rec("peak_rss_mb") = peakRssMb
    rec("latencies") = latencies(done)

    // untimed checks: planted markers, WAND vs flat, oracle
    tracer.detach()
    corpus.planted.foreach(p => markerCheck(engine, reqs, p, must = !or, "marker"))
    if (or) {
      val flat = new QueryExec(engine.index.copy(segments = None))
      measured.take(WandSamples).foreach { req =>
        check("wand_vs_flat", req.json) {
          val sr = Json.parseRequest(req.json)
          val (q, f) = engine.plan(sr)
          val wand = engine.search(sr).hits.map(h => (h.docId, h.score))
          val ref = flat.topK(q, f, sr.maxResults).collect()
            .map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].floatValue())).toSeq
          if (wand == ref) Nil else Seq(s"wand $wand != flat $ref")
        }
      }
    }
    check("doc_count", "") {
      val n = engine.index.stats.docCount
      if (n == corpus.turns.size) Nil else Seq(s"docCount $n != generated ${corpus.turns.size}")
    }
    // the oracle's fuzzy expansion scans its whole dictionary once per
    // doc, too slow at this index's size: fuzzy is checked on a side index
    oracleCheck(corpus.turns, engine,
      done.filter(_.req.kind != "fuzzy").groupBy(_.req.kind).values.flatMap(_.take(OracleSamples)).toSeq)
    log("main-index checks done")
    if (!or) sideCheck(Set("fuzzy"))
    log("side-index checks done")
    finish()
  }

  private def finish(): Map[String, Any] = {
    if (tracer.enabled) rec("analysis") = analysisRate()
    rec("attempted") = attempted
    rec("failed") = failed
    rec("failures") = failures.toSeq
    rec.toMap
  }

  /** Single-thread analyzer throughput over a fixed text sample. */
  private def analysisRate(): Map[String, Any] = {
    val sample = Gen.corpus(4242L, Gen.vocabulary(4242L), 40, "a", markers = 0).turns.map(_.text)
    (0 until 3).foreach(_ => sample.foreach(analyzer.positional))
    val (_, t) = timed((0 until 5).foreach(_ => sample.foreach(analyzer.positional)))
    Map("docs" -> sample.size * 5, "s" -> t)
  }
}
