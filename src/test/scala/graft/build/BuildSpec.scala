package graft.build

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.corpus.{DocIds, TranscriptGen}
import graft.streaming.StreamingIndex
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Salted-build equivalence and checkpoint/resume (FIXTURES.md §4-5). */
class BuildSpec extends SparkSuite {

  private lazy val corpus = DocIds.forTurns(TranscriptGen.tiny(spark)).cache()
  private lazy val index = IndexBuilder.build(corpus, Analyzers.Icat)

  test("buildAndSave produces the same postings, termStats and stats as build+save") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bas").toString
    val idx2 = IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir,
      hotDfThreshold = 50L, writeCorpus = true)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "docId", "tf", "norm").orderBy("term", "docId")
        .collect().map(_.toSeq).toSeq
    assert(norm(idx2.postings) === norm(index.postings))
    assert(idx2.stats === index.stats)
    val ts2 = idx2.termStats.orderBy("term").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val ts1 = index.termStats.orderBy("term").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ts2 === ts1)
    // and the directory is loadable like any saved index
    val loaded = IndexBuilder.load(spark, dir)
    assert(loaded.stats === index.stats)
    assert(loaded.analyzerName === "icat")
  }

  test("buildAndSave docCount excludes zero-token docs (Terms.getDocCount semantics)") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(
      graft.model.Turn("c1", 0, "user", "hello world graft", None, ts),
      graft.model.Turn("c1", 1, "user", "the and that", None, ts), // all stopwords
      graft.model.Turn("c2", 0, "user", "!!! ???", None, ts),    // no tokens at all
      graft.model.Turn("c2", 1, "user", "hello again graft", None, ts)).toDS()
    val c = DocIds.forTurns(turns)
    val built = IndexBuilder.build(c, Analyzers.Icat)
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val saved = IndexBuilder.buildAndSave(c, Analyzers.Icat, dir, hotDfThreshold = 50L)
    assert(built.stats.docCount === 2L)
    assert(saved.stats === built.stats)
    // sentinel rows exist in the artifact but never in a live view
    assert(spark.read.parquet(s"$dir/postings").filter(col("term").isNull).count() === 2L)
    assert(saved.postings.filter(col("term").isNull).count() === 0L)
    val loaded = IndexBuilder.load(spark, dir)
    assert(loaded.postings.filter(col("term").isNull).count() === 0L)
    assert(loaded.stats.docCount === 2L)
    assert(loaded.termStats.filter(col("term").isNull).count() === 0L)
  }

  test("salted term-major build ≡ unsalted build (any salt bucket count)") {
    val unsalted = SaltedPostings.build(index.postings, index.termStats,
      hotDfThreshold = Long.MaxValue, saltBuckets = 1)
    val salted = SaltedPostings.build(index.postings, index.termStats,
      hotDfThreshold = 2, saltBuckets = 8) // nearly every term treated hot
    val a = unsalted.orderBy("term").collect()
    val b = salted.orderBy("term").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getString(0) === y.getString(0))
      assert(x.getLong(1) === y.getLong(1))
      assert(x.getSeq[Long](2) === y.getSeq[Long](2), s"deltas differ for ${x.getString(0)}")
      assert(x.getSeq[Int](3) === y.getSeq[Int](3))
    }
  }

  test("term-major lists decode back to the flat postings") {
    val lists = SaltedPostings.build(index.postings, index.termStats,
      hotDfThreshold = 3, saltBuckets = 4)
    val decoded = SaltedPostings.decode(lists)
      .orderBy("term", "docId").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val flat = index.postings.select("term", "docId", "tf")
      .orderBy("term", "docId").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(decoded === flat)
  }

  test("df in term-major lists matches termStats") {
    val lists = SaltedPostings.build(index.postings, index.termStats, 5, 4)
    val got = lists.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = index.termStats.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("checkpointed build resumes without recomputing finished groups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val nGroups = 4

    // full build
    val r1 = Checkpoint.buildPostings(corpus, Analyzers.Icat, dir, nGroups)
    assert(r1.groupsBuilt === (0 until nGroups))
    val full = Checkpoint.loadPostings(spark, dir)
      .orderBy("term", "docId").collect()

    // simulate a kill: wipe two groups' outputs + manifests
    import java.nio.file.{Files, Paths}
    Seq(1, 3).foreach { g =>
      Files.delete(Paths.get(s"$dir/manifests/$g.json"))
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings/group=$g"), true)
    }
    // stamp surviving manifests to detect recompute
    val stamp0 = Files.getLastModifiedTime(Paths.get(s"$dir/manifests/0.json"))

    val r2 = Checkpoint.buildPostings(corpus, Analyzers.Icat, dir, nGroups)
    assert(r2.groupsBuilt.toSet === Set(1, 3))
    assert(r2.groupsSkipped.toSet === Set(0, 2))
    assert(Files.getLastModifiedTime(Paths.get(s"$dir/manifests/0.json")) === stamp0)

    val resumed = Checkpoint.loadPostings(spark, dir)
      .orderBy("term", "docId").collect()
    assert(resumed.length === full.length)
    assert(resumed.map(_.toString).toSeq === full.map(_.toString).toSeq)

    // lineage counters: Σ group tokens == global sumTotalTermFreq
    val meta = Files.readString(Paths.get(s"$dir/meta.json"))
    val sttf = "\"sumTotalTermFreq\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toLong
    assert(r2.manifests.map(_.tokens).sum === sttf)
    assert(r2.manifests.map(_.rows).sum === corpus.count())
  }

  test("checkpointed postings equal the one-shot builder's postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    Checkpoint.buildPostings(corpus, Analyzers.Icat, dir, 3)
    val a = Checkpoint.loadPostings(spark, dir)
      .select("term", "docId", "tf", "norm")
      .orderBy("term", "docId").collect().map(_.toString).toSeq
    val b = index.postings
      .select("term", "docId", "tf", "norm")
      .orderBy("term", "docId").collect().map(_.toString).toSeq
    assert(a === b)
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The Exchange nodes of a frame's physical plan, adaptive stages
    * included. */
  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(df: DataFrame): Seq[Exchange] =
      collect(df.queryExecution.executedPlan) { case e: Exchange => e }
  }

  test("the postings projections plan no Exchange") {
    val dir = tmpDir("graft-plan")
    corpus.write.parquet(s"$dir/corpus")
    TranscriptGen.tiny(spark).toDF().write.parquet(s"$dir/turns")
    val onDisk = spark.read.parquet(s"$dir/corpus")
    val turns = spark.read.parquet(s"$dir/turns")
    for (withPositions <- Seq(false, true)) {
      val batch = IndexBuilder.analyzedPostings(onDisk, Analyzers.Icat,
        IndexBuilder.attrCols(onDisk), withPositions = withPositions)
      val streamed = StreamingIndex.postingsFor(turns, Analyzers.Icat, withPositions)
      assert(Plans.exchanges(batch).isEmpty, batch.queryExecution.executedPlan)
      assert(Plans.exchanges(streamed).isEmpty, streamed.queryExecution.executedPlan)
      assert(batch.count() > 0 && streamed.count() === batch.count())
    }
    // the guard sees a shuffle when there is one
    val regrouped = IndexBuilder.analyzedPostings(onDisk, Analyzers.Icat)
      .groupBy("term", "docId").count()
    assert(Plans.exchanges(regrouped).nonEmpty)
  }

  test("every build entry point gives the same rows and docCount on hostile text") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    val texts = Seq(
      "merge conflict in the build",
      null,                              // null text
      "",                                // empty
      "the and that this",               // all stopwords
      "!!! ??? ... --- ;;",              // punctuation only
      "café naïve résumé Straße",        // accented Latin
      "日本語のテキスト 検索エンジン",         // CJK
      "merge again: café, 検索 build build")
    val turns = texts.zipWithIndex.map { case (t, i) =>
      graft.model.Turn(s"conv-${i % 3}", i, if (i % 2 == 0) "user" else "assistant", t,
        if (i % 3 == 0) Some("bash") else None, new java.sql.Timestamp(ts.getTime + i * 60000L))
    }.toDS()
    val hostile = DocIds.forTurns(turns).cache()
    val withTokens = texts.count(t => Analyzers.Icat(if (t == null) "" else t).terms.nonEmpty)
    // null, empty, all-stopword and punctuation-only turns analyze to no
    // token; the accented and CJK turns do
    assert(withTokens === texts.length - 4)

    def rows(df: DataFrame, withPositions: Boolean): Seq[Seq[Any]] = {
      val cols = Seq("term", "docId", "tf", "norm") ++
        (if (withPositions) Seq("positions") else Nil)
      df.select(cols.map(col): _*).orderBy("term", "docId").collect().map(_.toSeq).toSeq
    }

    for (withPositions <- Seq(false, true)) {
      val built = IndexBuilder.build(hostile, Analyzers.Icat, withPositions)
      val want = rows(built.postings, withPositions)
      assert(want.nonEmpty)
      assert(built.stats.docCount === withTokens.toLong)

      val dir = tmpDir("graft-hostile")
      val saved = IndexBuilder.buildAndSave(hostile, Analyzers.Icat, dir,
        hotDfThreshold = 1L, sampleRate = 1, withPositions = withPositions)
      assert(rows(saved.postings, withPositions) === want)
      assert(saved.stats === built.stats)
      val loaded = IndexBuilder.load(spark, dir)
      assert(rows(loaded.postings, withPositions) === want)
      assert(loaded.stats === built.stats)

      val streamed = StreamingIndex.postingsFor(turns.toDF(), Analyzers.Icat, withPositions)
      val compacted = StreamingIndex.compact(streamed, turns, Analyzers.Icat)
      assert(rows(compacted.postings, withPositions) === want)
      assert(compacted.stats === built.stats)

      if (!withPositions) { // the checkpointed build writes no positions
        val ckDir = tmpDir("graft-hostile-ckpt")
        Checkpoint.buildPostings(hostile, Analyzers.Icat, ckDir, 3)
        assert(rows(Checkpoint.loadPostings(spark, ckDir), withPositions) === want)
        assert(IndexMeta.read(ckDir).stats === built.stats)
        // group manifests keep the key layout resumed builds read back
        assert(Files.readString(Paths.get(ckDir, "manifests", "0.json")).matches(
          """\{"group":0,"rows":\d+,"tokens":\d+,"postings":\d+,"checksum":-?\d+\}"""))
      }
      built.unpersistAll(includeCorpus = false)
      compacted.unpersistAll()
    }
    hostile.unpersist()
  }

  test("meta.json keeps its keys; a truncated or incomplete one is an IllegalArgumentException") {
    val dir = tmpDir("graft-meta")
    val saved = IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir, hotDfThreshold = 50L)
    val meta = Paths.get(dir, "meta.json")
    val good = Files.readString(meta)
    assert(good === s"""{"analyzer":"icat","docCount":${saved.stats.docCount},""" +
      s""""sumTotalTermFreq":${saved.stats.sumTotalTermFreq},"segSize":${Segments.DefaultSegSize},""" +
      """"hasSegments":false,"version":1}""")
    // a directory whose meta predates segSize still loads
    Files.writeString(meta, good.replace(s""""segSize":${Segments.DefaultSegSize},""", ""))
    assert(IndexBuilder.load(spark, dir).segSize === Segments.DefaultSegSize)

    Files.writeString(meta, good.take(good.length / 2))
    val truncated = intercept[IllegalArgumentException](IndexBuilder.load(spark, dir))
    assert(truncated.getMessage.contains(dir) && truncated.getMessage.contains("meta.json"))

    Files.writeString(meta, good.replaceFirst("\"docCount\":\\d+,", ""))
    val noKey = intercept[IllegalArgumentException](IndexBuilder.load(spark, dir))
    assert(noKey.getMessage.contains(dir) && noKey.getMessage.contains("docCount"))

    Files.delete(meta)
    val missing = intercept[IllegalArgumentException](IndexBuilder.load(spark, dir))
    assert(missing.getMessage.contains(dir))
  }
}
