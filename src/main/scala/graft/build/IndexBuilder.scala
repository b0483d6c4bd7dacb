package graft.build

import graft.analysis.{Analyzed, Analyzers, PosAnalyzed, TextAnalyzer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Global collection statistics needed by BM25 (reference semantics:
  * Lucene's per-index CollectionStatistics; we use one logical index —
  * SURVEY.md §2.8: N, df, avgdl with avgdl = sumTotalTermFreq/docCount
  * over UNquantized totals). */
final case class CorpusStats(docCount: Long, sumTotalTermFreq: Long) {
  def avgdl: Double = sumTotalTermFreq.toDouble / docCount
}

/** The index table bundle — the Spark-native equivalent of a committed
  * Lucene index (reference: IndexBucket/ShardBucket, Lucene.java:115-264):
  *
  *  - corpus:    docId + the original turn row (stored fields)
  *  - postings:  (term, docId, tf, norm, role, tool, ts) — one row per
  *               distinct (term, doc); `norm` is the Lucene-quantized
  *               length byte; role/tool/ts are denormalized so attribute
  *               FILTER legs are plain pushed-down scan predicates instead
  *               of a corpus join (the analogue of Lucene keeping doc
  *               values colocated with each segment)
  *  - termStats: (term, df, cf)
  *  - stats:     global docCount / sumTotalTermFreq
  */
final case class Index(
    corpus: DataFrame,
    postings: DataFrame,
    termStats: DataFrame,
    stats: CorpusStats,
    analyzerName: String,
    segments: Option[DataFrame] = None,
    segSize: Int = Segments.DefaultSegSize) {
  def analyzer: TextAnalyzer = Analyzers.byName(analyzerName)

  /** Whether the postings carry per-term position lists (built
    * `withPositions` — the proximity data phrase queries require). */
  def hasPositions: Boolean = postings.columns.contains("positions")

  /** Cache-ownership hook: drop every cached table of this bundle (the
    * close() of a long-lived service — see IndexRegistry.drop/clear).
    * No-op for tables that were never persisted; the bundle itself stays
    * queryable afterwards, recomputing from lineage/storage. Corpus
    * inclusion is optional because the corpus cache is minted by
    * DocIds.assign and may be shared by other bundles built over it. */
  def unpersistAll(includeCorpus: Boolean = true): Unit = {
    postings.unpersist()
    termStats.unpersist()
    segments.foreach(_.unpersist())
    if (includeCorpus) corpus.unpersist()
    ()
  }
}

object IndexBuilder {

  /** Read one long metric off a completed Observation, defaulting when
    * the metric is absent or null. Absence is REAL: when an observed
    * subtree is provably empty at plan time (e.g. a sample filter over a
    * tiny corpus), PropagateEmptyRelation folds the CollectMetrics node
    * away and the observation completes with a ZERO-FIELD row — so the
    * empty case must read as its aggregate's identity, not a crash. */
  private def obsLong(obs: org.apache.spark.sql.Observation,
                      key: String, default: Long): Long = {
    // `future` completes when the observed action finishes (the public
    // blocking `get` throws on the zero-field row instead of defaulting)
    val row = scala.concurrent.Await.result(
      obs.future, scala.concurrent.duration.Duration.Inf)
    // the zero-field row carries no schema at all
    val i = Option(row.schema).map(_.fieldNames.indexOf(key)).getOrElse(-1)
    if (i < 0 || row.isNullAt(i)) default else row.getLong(i)
  }

  /** Target posting rows per shuffle partition for the salted postings
    * write — sized so a partition's sortWithinPartitions run (~80 B/row
    * unsafe row + sorter pointers ≈ 320 MB) stays inside one task's
    * execution memory share at the default heap. */
  val TargetShuffleRows: Long = 4000000L

  /** Build the inverted index tables from a corpus with docIds.
    *
    * Shuffle plan (scale notes):
    *  - postings are built with NO shuffle at all: every occurrence of a
    *    term within a document sits in the same input row, so per-doc
    *    (term → tf) counting happens inside the analyze projection and
    *    the exploded groups are finished posting rows — a narrow pipeline
    *    that scales embarrassingly (Lucene counts per-doc tf in memory
    *    the same way while inverting a document)
    *  - termStats groupBy(term): the ONE shuffle, over distinct
    *    (term,doc) pairs, partial-aggregated map-side; a hot term arrives
    *    at its reducer as at most numPartitions pre-summed rows — no skew
    * Salted repartitioning for hot terms applies to the term-major packed
    * layout (graft.build.SaltedPostings) where whole posting lists must be
    * assembled on one task, and to the sorted save layout below.
    */
  def build(corpusWithIds: DataFrame, analyzer: TextAnalyzer,
            withPositions: Boolean = false): Index =
    // postings are persisted by fromPostings: stats, termStats, save and
    // every query reuse them — without it the analyze DAG re-runs per
    // downstream action. (For at-scale builds use buildAndSave, which
    // streams postings to storage instead of caching them.)
    fromPostings(corpusWithIds,
      analyzedPostings(corpusWithIds, analyzer, attrCols(corpusWithIds),
        withPositions = withPositions),
      analyzer.name)

  /** The Index over finished posting rows — the one place termStats and
    * CorpusStats are derived for an in-memory bundle (build, the
    * Maintenance mutations, StreamingIndex.compact). Persists `postings`
    * and `termStats`; the stats action runs before this returns, so it
    * has materialized the postings cache (Maintenance relies on that to
    * drop the predecessor's cache right after). */
  private[graft] def fromPostings(corpus: DataFrame, postings: DataFrame,
                                  analyzerName: String): Index = {
    val cached = postings.persist(StorageLevel.MEMORY_AND_DISK)
    val termStats = cached
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Index(corpus, cached, termStats, corpusStats(cached), analyzerName)
  }

  /** Global stats of a posting table: docCount = docs with ≥ 1 posting
    * (Lucene's Terms.getDocCount), sumTotalTermFreq = Σ tf. */
  private[build] def corpusStats(postings: DataFrame): CorpusStats = {
    val row = postings
      .agg(countDistinct(col("docId")).as("docCount"), sum(col("tf")).as("sttf"))
      .collect()(0)
    if (row.isNullAt(0) || row.isNullAt(1)) CorpusStats(0L, 0L)
    else CorpusStats(row.getLong(0), row.getLong(1))
  }

  /** Stored-field columns a batch posting row carries — denormalized so
    * attribute FILTER legs are plain scan predicates — when the corpus
    * has all of them. */
  val AttrCols: Seq[String] = Seq("role", "tool", "ts")

  private[graft] def attrCols(corpus: DataFrame): Seq[String] =
    if (AttrCols.forall(corpus.columns.contains)) AttrCols else Nil

  /** Analyzed narrow projection: one finished posting row
    * (docId, norm, term, tf[, positions], carry…) per (doc, term) — per-doc
    * tf counted inside the projection, no shuffle. This is the ONLY code
    * that turns text into posting rows; its callers are [[build]] and
    * [[buildAndSave]] (carrying [[attrCols]]), the hot-term sample of
    * buildAndSave (carrying nothing), `Checkpoint.buildPostings` per
    * docId group, and `StreamingIndex.postingsFor` per micro-batch
    * (carrying conv_id/turn_idx for compaction plus the attributes).
    *
    * `carry` names the input columns passed through unchanged onto every
    * posting row of their doc.
    *
    * `keepEmptyDocs = true` emits ONE sentinel row (term = null, tf =
    * null) for a doc whose text analyzes to zero tokens, so the at-scale
    * build can recover the exact Lucene docCount (docs with ≥1 term —
    * Terms.getDocCount semantics) from corpusCount − sentinelCount
    * without a distinct-docId shuffle over the whole postings table.
    *
    * `withPositions = true` additionally carries each term's Lucene
    * position list as a `positions: array<int>` column (tf ≡ its length)
    * — the proximity data phrase queries need (Lucene's .pos file; same
    * narrow no-shuffle pipeline, bigger rows). Stopword gaps and
    * synonym-shared positions come from the analyzer's positional mode. */
  private[graft] def analyzedPostings(corpusWithIds: DataFrame,
                                      analyzer: TextAnalyzer,
                                      carry: Seq[String] = Nil,
                                      keepEmptyDocs: Boolean = false,
                                      withPositions: Boolean = false): DataFrame = {
    val carried = carry.map(col)
    val normUdf = udf((positions: Int) => SmallFloat.intToByte4(positions))
    val analyzeUdf = udf((s: String) => {
      val text = if (s == null) "" else s
      if (withPositions) positionGroups(analyzer.positional(text)) else tfGroups(analyzer(text))
    })
    // the norm gets its own projection BEFORE the explode: expressions
    // beside a generator are evaluated once per output row, not per doc.
    // `inline`/`inline_outer` explodes the array<struct> groups into one
    // row per entry (one null row per empty doc when keepEmptyDocs).
    val exploded =
      if (keepEmptyDocs) inline_outer(col("groups")) else inline(col("groups"))
    val positions = if (withPositions) Seq(col("_3").as("positions")) else Nil
    corpusWithIds
      .select(Seq(col("docId"), analyzeUdf(col("text")).as("a")) ++ carried: _*)
      .select(Seq(col("docId"), col("a._1").as("groups"), normUdf(col("a._2")).as("norm")) ++ carried: _*)
      .select((Seq(col("docId"), col("norm")) ++ carried :+ exploded): _*)
      .select((Seq(col("docId"), col("norm"), col("_1").as("term"), col("_2").as("tf")) ++
        positions ++ carried): _*)
  }

  // The per-doc loops of analyzedPostings. Each returns the doc's posting
  // groups (term, tf, positions) in first-occurrence order, plus its norm
  // length, as an ARRAY of tuples (encoded array<struct>) rather than a
  // Scala Map: the array is built in one pass over the LinkedHashMap
  // entries, where `asScala.toMap` would rebuild an immutable HashMap per
  // document — pure allocation in the hottest loop of the build (GC
  // pressure is the measured 32-thread work-inflation tax).
  private type Groups = (Array[(String, Int, Array[Int])], Int)

  /** Term counts; positions are left null. */
  private def tfGroups(a: Analyzed): Groups = {
    val counts = new java.util.LinkedHashMap[String, Integer]()
    var i = 0
    while (i < a.terms.length) {
      // single-probe upsert (merge) instead of getOrDefault + put
      counts.merge(a.terms(i), Integer.valueOf(1),
        (x: Integer, y: Integer) => Integer.valueOf(x.intValue() + y.intValue()))
      i += 1
    }
    groups(counts, a.positions)((term, tf) => (term, tf.intValue(), null))
  }

  /** Lucene position lists per term; tf is the list's length. */
  private def positionGroups(a: PosAnalyzed): Groups = {
    val posLists = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < a.terms.length) {
      val t = a.terms(i)
      var buf = posLists.get(t.term)
      if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty[Int]; posLists.put(t.term, buf) }
      buf += t.pos
      i += 1
    }
    groups(posLists, a.positions)((term, ps) => (term, ps.length, ps.toArray))
  }

  private def groups[V](byTerm: java.util.LinkedHashMap[String, V], norm: Int)(
      group: (String, V) => (String, Int, Array[Int])): Groups = {
    val arr = new Array[(String, Int, Array[Int])](byTerm.size())
    var j = 0
    byTerm.forEach { (term, v) => arr(j) = group(term, v); j += 1 }
    (arr, norm)
  }

  /** At-scale build: analyze → ONE salted shuffle → sorted parquet write,
    * then stats from the written table. Unlike build()+save(), this never
    * materializes the exploded posting rows into a deserialized cache —
    * at 100 TB you cannot hold the postings of a build in executor
    * memory, and even locally the cache write is the non-scaling step.
    * Passes over the data:
    *   1. a 1/`sampleRate` deterministic doc sample is analyzed to
    *      estimate hot terms (heavy-hitter sketch — a term whose sampled
    *      df clears threshold/sampleRate is salted);
    *   2. the full narrow analyze feeds repartition(n, term, salt) +
    *      sortWithinPartitions(term, docId) + parquet write — the one
    *      shuffle, carrying finished posting rows;
    *   3. termStats + global stats aggregate over the WRITTEN columnar
    *      table, reading only (term, docId, tf).
    */
  def buildAndSave(corpusWithIds: DataFrame, analyzer: TextAnalyzer, dir: String,
                   numPartitions: Int = 0, hotDfThreshold: Long = 1000000L,
                   saltBuckets: Int = 16, writeCorpus: Boolean = true,
                   sampleRate: Int = 100, withPositions: Boolean = false): Index = {
    val spark = corpusWithIds.sparkSession

    // heavy-hitter + volume estimate from one deterministic doc sample —
    // ONE job: the posting-row count (volume estimate) rides the same
    // action as the hot-term collect via an Observation on the pre-agg
    // frame, instead of a persist + second aggregate job (each small
    // serial job in this path idles every core at high parallelism)
    val sampled = corpusWithIds.filter(pmod(xxhash64(col("docId")), lit(sampleRate)) === 0)
    val sampleObs = org.apache.spark.sql.Observation()
    val hotTerms = analyzedPostings(sampled, analyzer)
      .observe(sampleObs, count(lit(1)).as("rows"))
      .groupBy("term").agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") * sampleRate >= hotDfThreshold)
      .select("term").collect().map(_.getString(0)).toSet
    val estPostings = obsLong(sampleObs, "rows", 0L) * sampleRate

    // Partition the ONE salted shuffle by DATA VOLUME, not core count:
    // with partitions tied to parallelism, per-partition sort volume
    // grows linearly with the corpus until sortWithinPartitions spills
    // and the build turns superlinear (measured: 2.5× turns → 5.3× the
    // 8-core wall). ~TargetShuffleRows posting rows (~≤300 MB unsafe
    // rows) per partition keeps every sort in execution memory at any
    // corpus size — at 10^12 postings this yields ~250k tasks, the
    // shape a 1000-executor cluster wants — while the numShufflePartitions
    // floor keeps every core busy on small corpora.
    val n = if (numPartitions > 0) numPartitions
            else math.max(spark.sessionState.conf.numShufflePartitions.toLong,
                          estPostings / TargetShuffleRows + 1).toInt

    // zero-token docs ride along as ONE null-term sentinel row each, so
    // the exact Lucene docCount (docs with ≥1 term) falls out of
    // corpusCount − sentinelCount below — no distinct-docId shuffle over
    // the full postings table (which defeats partial aggregation: every
    // term-partitioned partition sees most docIds, so the "distinct"
    // shuffles nearly the whole docId column and scales with I/O, not
    // cores)
    // GLOBAL stats ride the write action itself (map-side Observation on
    // the analyzed rows, before the shuffle): sumTotalTermFreq = sum(tf)
    // (sentinel rows carry tf null, which sum skips), empty-doc count =
    // the sentinel rows. The previous shape re-derived both from a
    // persisted post-write aggregate with two collect jobs — serial
    // floor on every build.
    val buildObs = org.apache.spark.sql.Observation()
    writePostings(
      analyzedPostings(corpusWithIds, analyzer, attrCols(corpusWithIds),
          keepEmptyDocs = true, withPositions = withPositions)
        .observe(buildObs,
          sum(col("tf").cast("long")).as("sttf"),
          count(when(col("term").isNull, lit(1))).as("emptyDocs")),
      hotTerms, n, saltBuckets, s"$dir/postings")
    val sttf = obsLong(buildObs, "sttf", 0L)
    val emptyDocs = obsLong(buildObs, "emptyDocs", 0L)

    // ONE post-write job: the per-term stats table, aggregated from the
    // written columnar postings (reads only term + tf)
    val written = spark.read.parquet(s"$dir/postings")
    val postings = written.filter(col("term").isNotNull)
    postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      // sorted within each written file so query-time per-term lookups
      // (weightsFrame / phraseMatches / WAND idf collects — each a
      // pushed-down isin scan) prune to ~one row group per file via
      // parquet min/max stats instead of decoding the whole dictionary;
      // no extra exchange — the groupBy's own partitioning is kept
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/termstats")
    // docCount needs only the corpus row count (cached by DocIds.assign)
    val docCount = corpusWithIds.count() - emptyDocs
    val stats =
      if (docCount == 0L) CorpusStats(0L, 0L) else CorpusStats(docCount, sttf)
    if (writeCorpus) corpusWithIds.write.mode("overwrite").parquet(s"$dir/corpus")

    IndexMeta.write(dir, IndexMeta(analyzer.name, stats,
      segSize = Some(Segments.DefaultSegSize), hasSegments = Some(false)))
    Index(corpusWithIds, postings, spark.read.parquet(s"$dir/termstats"),
      stats, analyzer.name)
  }

  /** Persist the index as a directory of parquet tables + metadata.
    * Postings go through the same salted, sorted writer as buildAndSave,
    * with hot terms (df above `hotDfThreshold`) read off termStats. */
  def save(index: Index, dir: String, numPartitions: Int = 0,
           hotDfThreshold: Long = 1000000L, saltBuckets: Int = 16,
           writeSegments: Boolean = false, segSize: Int = Segments.DefaultSegSize,
           writeCorpus: Boolean = true): Unit = {
    val spark = index.corpus.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions

    // stored fields: when the corpus already lives in a source table the
    // rewrite is optional (Lucene must store fields; we have the table)
    if (writeCorpus) index.corpus.write.mode("overwrite").parquet(s"$dir/corpus")
    index.termStats.sortWithinPartitions("term") // row-group-pruned lookups
      .write.mode("overwrite").parquet(s"$dir/termstats")

    writePostings(index.postings, hotTerms(index.termStats, hotDfThreshold),
      n, saltBuckets, s"$dir/postings")

    if (writeSegments)
      Segments.save(Segments.pack(index.postings, index.stats, segSize), s"$dir/segments", n)

    IndexMeta.write(dir, IndexMeta(index.analyzerName, index.stats,
      segSize = Some(segSize), hasSegments = Some(writeSegments)))
  }

  /** The salted, sorted postings write: rows hash-distributed on
    * (term, salt) — each of `hotTerms` is salted across `saltBuckets`
    * buckets so no single write task owns a Zipf head term — and sorted
    * by (term, docId) within partitions so parquet row-group min/max
    * stats on `term` give file/row-group pruning for query-term lookups. */
  private def writePostings(postings: DataFrame, hotTerms: Set[String], n: Int,
                            saltBuckets: Int, path: String): Unit =
    postings
      .withColumn("_salt", salt(postings.sparkSession, hotTerms, saltBuckets))
      .repartition(n, col("term"), col("_salt"))
      .drop("_salt")
      .sortWithinPartitions("term", "docId")
      .write.mode("overwrite").parquet(path)

  /** Terms whose df reaches `hotDfThreshold`. */
  private[build] def hotTerms(termStats: DataFrame, hotDfThreshold: Long): Set[String] =
    termStats.filter(col("df") >= hotDfThreshold)
      .select("term").collect().map(_.getString(0)).toSet

  /** The salt of a posting row: hash(docId) mod `saltBuckets` for a term
    * in `hotTerms`, 0 otherwise — so a hot term's rows spread over
    * `saltBuckets` tasks while a cold term's stay on one. */
  private[build] def salt(spark: SparkSession, hotTerms: Set[String], saltBuckets: Int): Column = {
    val bHot = spark.sparkContext.broadcast(hotTerms)
    val isHot = udf((t: String) => bHot.value.contains(t))
    when(isHot(col("term")), pmod(hash(col("docId")), lit(saltBuckets))).otherwise(lit(0))
  }

  /** Load a persisted index. The directory must contain a corpus table
    * (write with `writeCorpus = true`); corpus-less saves are
    * postings-only artifacts for throughput benchmarking. */
  def load(spark: SparkSession, dir: String): Index = {
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/corpus")),
      s"$dir has no corpus table — saved with writeCorpus=false?")
    val meta = IndexMeta.read(dir)
    Index(
      corpus = spark.read.parquet(s"$dir/corpus"),
      // buildAndSave artifacts carry one null-term sentinel row per
      // zero-token doc (docCount bookkeeping); the live view filters them
      // (pushed to the scan, free on sentinel-less save() artifacts)
      postings = spark.read.parquet(s"$dir/postings").filter(col("term").isNotNull),
      termStats = spark.read.parquet(s"$dir/termstats"),
      stats = meta.stats,
      analyzerName = meta.analyzer,
      segments = if (meta.hasSegments.contains(true)) Some(spark.read.parquet(s"$dir/segments")) else None,
      segSize = meta.segSize.getOrElse(Segments.DefaultSegSize))
  }
}
