package graft.streaming

import graft.analysis.{Analyzers, TextAnalyzer}
import graft.build.IndexBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental micro-batched indexing via Structured Streaming — the
  * Spark-native analogue of the reference's `modify` feed + commit timer
  * (reference: Lucene.java:481-513 modify batches; 1094-1110 the
  * commitSeconds timer that makes buffered docs searchable). Each
  * micro-batch analyzes new turns and appends finished posting rows; a
  * batch commit IS the visibility boundary, exactly like the reference's
  * IndexWriter.commit cadence.
  *
  * The per-batch transform is IndexBuilder.analyzedPostings — the one
  * narrow (shuffle-free) projection behind build, buildAndSave and
  * Checkpoint.buildPostings too — so streamed rows equal batch rows and
  * the streaming path inherits its scale behavior. Streaming docIds are
  * xxhash64(conv_id, turn_idx) surrogates over the FULL key pair — no bit-packing, so a conversation of any
  * length cannot bleed into another's id space. NOTE the birthday bound:
  * at ~10^10 turns a 64-bit surrogate expects ~n²/2^65 collisions in
  * aggregate (a handful, not "never") — two colliding turns silently
  * merge their postings until compaction. That is why the natural key
  * columns ride along: [[compact]] re-densifies ids from the carried
  * (conv_id, turn_idx) keys and FAILS LOUDLY on any surrogate collision,
  * exactly as the reference re-keys from the upstream entity store.
  */
object StreamingIndex {

  /** The default streaming surrogate docId: xxhash64 over the full
    * natural key pair. */
  def defaultSurrogate: org.apache.spark.sql.Column =
    xxhash64(col("conv_id"), col("turn_idx"))

  /** Postings transform for one micro-batch of turns. `withPositions`
    * carries per-term Lucene position lists so a streamed (and compacted)
    * index can serve phrase queries, matching the batch builder's
    * positional layout. `surrogate` is the docId-minting expression —
    * injectable so tests can force collisions; production uses the
    * xxhash64 default. */
  def postingsFor(turns: DataFrame, analyzer: TextAnalyzer,
                  withPositions: Boolean = false,
                  surrogate: org.apache.spark.sql.Column = defaultSurrogate): DataFrame =
    IndexBuilder.analyzedPostings(turns.withColumn("docId", surrogate), analyzer,
      Seq("conv_id", "turn_idx") ++ IndexBuilder.AttrCols, withPositions = withPositions)

  /** Batch compaction of a streamed postings table: re-mints DENSE docIds
    * (the batch builder's stable (conv_id, turn_idx) ordering) from the
    * natural keys carried on every streamed posting row, rewrites postings
    * onto the dense ids, and verifies no two distinct natural keys
    * collided on one xxhash64 surrogate (throws if any did — colliding
    * turns had silently merged postings and must be re-analyzed).
    *
    * `turns` is the corpus the stream ingested (the watched directory's
    * rows); postings are NOT re-analyzed — compaction is a key rewrite:
    * one distinct pass for the collision check, one DocIds.assign over
    * the turns, one (conv_id, turn_idx)-keyed join. The result is an
    * Index equal to an all-batch build over the same turns.
    */
  def compact(streamed: DataFrame, turns: org.apache.spark.sql.Dataset[graft.model.Turn],
              analyzer: TextAnalyzer = Analyzers.Icat): graft.build.Index = {
    // surrogate-collision check: a surrogate docId must map to exactly ONE
    // natural key pair
    val collided = streamed.select("docId", "conv_id", "turn_idx").distinct()
      .groupBy("docId").agg(count(lit(1)).as("nkeys"))
      .filter(col("nkeys") > 1)
      .limit(20).collect()
    require(collided.isEmpty,
      s"xxhash64 surrogate collision on docIds ${collided.map(_.getLong(0)).mkString(",")} — " +
        "re-analyze the colliding conversations")
    val corpus = graft.corpus.DocIds.forTurns(turns)
    val mapping = corpus.select(
      col("docId").as("__denseId"), col("conv_id"), col("turn_idx"))
    // positional streams keep their position lists through the re-key, so
    // a compacted streamed index serves phrases like a batch build
    val posCols = if (streamed.columns.contains("positions"))
      Seq(col("positions")) else Nil
    val postings = streamed
      .join(mapping, Seq("conv_id", "turn_idx"))
      .select(Seq(col("__denseId").as("docId"), col("norm"), col("term"),
        col("tf")) ++ posCols ++ IndexBuilder.AttrCols.map(col): _*)
    IndexBuilder.fromPostings(corpus, postings, analyzer.name)
  }

  private val turnSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("conv_id", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("turn_idx", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("role", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tool", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))

  /** Start a streaming append: watch `inDir` for new turn parquet files,
    * append postings to `outDir` every `triggerSecs` (the commitSeconds
    * knob, run.properties:5-6 in the reference). */
  def start(spark: SparkSession, inDir: String, outDir: String,
            checkpointDir: String, triggerSecs: Int = 5,
            analyzer: TextAnalyzer = Analyzers.Icat,
            withPositions: Boolean = false): StreamingQuery = {
    val stream = spark.readStream.schema(turnSchema).parquet(inDir)
    postingsFor(stream, analyzer, withPositions)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$triggerSecs seconds"))
      .start()
  }

  /** Streaming append with INGEST-TIME surrogate-collision detection
    * (round 4 — previously a collision was caught only when someone ran
    * [[compact]], so merged postings could serve wrong scores in the
    * meantime). foreachBatch checks each micro-batch's distinct
    * (docId, conv_id, turn_idx) triples
    *   (a) within the batch (two distinct keys minting one docId), and
    *   (b) against a keys sidecar table accumulated from every prior
    *       batch (the batch's few keys broadcast into a join against it),
    * and FAILS THE BATCH — stopping the stream with the error — before
    * any colliding posting is appended. The sidecar is one small row per
    * ingested turn (docId + natural key), written transactionally with
    * the postings inside the same foreachBatch; at 10^12 turns it is the
    * id↔key directory a re-keying compaction needs anyway. Re-ingesting
    * the SAME natural key is not a collision (it is an update/replay and
    * resolves at compaction, like the reference's modify-update path).
    *
    * `surrogate` is injectable so tests can force collisions; production
    * uses the xxhash64 default. */
  def startChecked(spark: SparkSession, inDir: String, outDir: String,
                   keysDir: String, checkpointDir: String, triggerSecs: Int = 5,
                   analyzer: TextAnalyzer = Analyzers.Icat,
                   withPositions: Boolean = false,
                   surrogate: org.apache.spark.sql.Column = defaultSurrogate): StreamingQuery = {
    val stream = spark.readStream.schema(turnSchema).parquet(inDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val posts = postingsFor(batch, analyzer, withPositions, surrogate)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val keys = posts.select("docId", "conv_id", "turn_idx").distinct()
            .persist()
          // (a) within-batch: one surrogate, two distinct natural keys
          val dupIn = keys.groupBy("docId").agg(count(lit(1)).as("nkeys"))
            .filter(col("nkeys") > 1).limit(20).collect()
          if (dupIn.nonEmpty)
            throw new IllegalStateException(
              s"surrogate docId collision WITHIN micro-batch on ids " +
                s"${dupIn.map(_.getLong(0)).mkString(",")} — batch rejected")
          // (b) cross-batch: same surrogate, different natural key in the
          // accumulated keys table
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(keysDir))) {
            val prior = spark.read.parquet(keysDir)
              .toDF("docId", "p_conv", "p_turn")
            val clash = prior.join(broadcast(keys), Seq("docId"))
              .filter(col("p_conv") =!= col("conv_id") ||
                col("p_turn") =!= col("turn_idx"))
              .select("docId").limit(20).collect()
            if (clash.nonEmpty)
              throw new IllegalStateException(
                s"surrogate docId collision ACROSS micro-batches on ids " +
                  s"${clash.map(_.getLong(0)).mkString(",")} — batch rejected")
          }
          posts.write.mode("append").parquet(outDir)
          keys.write.mode("append").parquet(keysDir)
          keys.unpersist()
          ()
        } finally { posts.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$triggerSecs seconds"))
      .start()
  }

  /** Streaming append with ONLINE NEAR-DUPLICATE SUPPRESSION — the
    * ingest-time MinHash-LSH dedup a training-data pipeline wants so a
    * re-crawled or re-posted document never enters the index at all
    * (batch [[graft.pipeline.Dedup.minhashLshPairs]] finds the pair
    * after the fact; this drops the later copy before its postings are
    * appended).
    *
    * Per micro-batch:
    *   (1) WITHIN-BATCH: per-doc MinHash signatures (narrow, no
    *       shuffle) → LSH band keys → band self-join on the batch →
    *       signature-agreement estimate ≥ `estThreshold` → connected
    *       components; each component keeps its minimum docId.
    *   (2) CROSS-BATCH: the batch's band keys probe a bands sidecar
    *       accumulated from every prior batch, partitioned by
    *       `pmod(bh, buckets)` so the probe join on (bucket, band, bh)
    *       prunes to the batch's buckets instead of scanning the whole
    *       sidecar; estimate against the candidates' stored signatures
    *       (the prior TEXT is gone — postings are a bag of terms — so
    *       the cross-batch check is the standard signature-agreement
    *       estimate, not an exact-Jaccard rerank; at 64 hashes its
    *       std-error on j≈0.8 is ~0.05). The prior copy always wins.
    *   (3) Appends, all inside the same foreachBatch: postings of the
    *       kept turns, band + signature sidecar rows of the kept docs,
    *       and a dups sidecar row (docId, natural key, dup_of, est,
    *       scope ∈ batch|corpus) for every suppressed turn — the audit
    *       trail a curation pipeline reports from.
    *
    * Docs too short to shingle (< `shingleN` tokens) never match and
    * are always kept. Sidecar growth is ~`bands`+1 rows per KEPT doc;
    * per-batch probe cost is bounded by the batch's bucket set, not the
    * corpus (a key-value store would make it O(batch) — out of scope
    * for a parquet-native engine, and the bucketed layout is the same
    * directory-pruned probe shape the materialized ANN index uses). */
  def startDeduped(spark: SparkSession, inDir: String, outDir: String,
                   dedupDir: String, checkpointDir: String,
                   estThreshold: Double = 0.8, numHashes: Int = 64,
                   bands: Int = 16, shingleN: Int = 5, seed: Long = 42L,
                   buckets: Int = 256, triggerSecs: Int = 5,
                   analyzer: TextAnalyzer = Analyzers.Icat,
                   withPositions: Boolean = false): StreamingQuery = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(buckets > 0, s"need buckets > 0, got $buckets")
    val rowsPerBand = numHashes / bands
    val bandsDir = s"$dedupDir/bands"
    val sigsDir = s"$dedupDir/sigs"
    val dupsDir = s"$dedupDir/dups"
    import graft.pipeline.Dedup
    import org.apache.spark.storage.StorageLevel
    def agree(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      size(filter(zip_with(a, b, (x, y) => x === y), v => v)) * lit(1.0) / numHashes
    val stream = spark.readStream.schema(turnSchema).parquet(inDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val turns = batch.withColumn("docId", defaultSurrogate)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pinned = scala.collection.mutable.ArrayBuffer[DataFrame](turns)
        def pin(df: DataFrame): DataFrame = {
          val p = df.persist(StorageLevel.MEMORY_AND_DISK)
          p.count(); pinned += p; p
        }
        try {
          val sigs = pin(Dedup.minhashSignatures(
            turns.select(col("docId"), col("text")), numHashes, seed,
            shingleN, "docId", "text"))
          val banded = pin(Dedup.bandKeys(sigs, bands, rowsPerBand))
          // (1) within-batch
          val cand = banded.select(col("id").as("ida"), col("band"), col("bh"))
            .join(banded.select(col("id").as("idb"), col("band"), col("bh")),
              Seq("band", "bh"))
            .where(col("ida") < col("idb"))
            .select("ida", "idb").distinct()
          val inPairs = pin(cand
            .join(sigs.toDF("ida", "siga"), "ida")
            .join(sigs.toDF("idb", "sigb"), "idb")
            .withColumn("est", agree(col("siga"), col("sigb")))
            .where(col("est") >= estThreshold)
            .select("ida", "idb", "est"))
          // strongest direct evidence per doc (a transitive component
          // member may have no pair with its keeper)
          val evid = inPairs.select(col("ida").as("docId"), col("est"))
            .union(inPairs.select(col("idb").as("docId"), col("est")))
            .groupBy("docId").agg(max("est").as("est"))
          val batchDrops = pin(
            Dedup.connectedComponents(inPairs)
              .where(col("v") =!= col("comp"))
              .select(col("v").as("docId"), col("comp").as("dup_of"))
              .join(evid, Seq("docId"), "left")
              .select(col("docId"), col("dup_of"), col("est"),
                lit("batch").as("scope")))
          val keepSigs = pin(sigs.join(
            batchDrops.select(col("docId").as("id")), Seq("id"), "left_anti"))
          // (2) cross-batch probe of the bucketed sidecars
          val corpusDrops = pin(
            if (java.nio.file.Files.exists(java.nio.file.Paths.get(bandsDir))) {
              val keepBands = banded
                .join(keepSigs.select("id"), Seq("id"), "left_semi")
                .withColumn("bucket", pmod(col("bh"), lit(buckets)).cast("int"))
              val clash = spark.read.parquet(bandsDir)
                .withColumnRenamed("id", "old_id")
                .join(broadcast(keepBands.select("bucket", "band", "bh", "id")),
                  Seq("bucket", "band", "bh"))
                // a re-ingest of the SAME natural key maps to the same
                // surrogate — that is an update/replay (resolved at
                // compaction, like startChecked), not a near-dup of itself
                .where(col("old_id") =!= col("id"))
                .select("old_id", "id").distinct()
                .withColumn("bucket", pmod(col("old_id"), lit(buckets)).cast("int"))
              clash
                .join(spark.read.parquet(sigsDir)
                  .withColumnRenamed("id", "old_id")
                  .withColumnRenamed("sig", "old_sig"), Seq("bucket", "old_id"))
                .join(keepSigs, "id")
                .withColumn("est", agree(col("old_sig"), col("sig")))
                .where(col("est") >= estThreshold)
                .groupBy("id")
                .agg(max(struct(col("est"), col("old_id"))).as("m"))
                .select(col("id").as("docId"), col("m.old_id").as("dup_of"),
                  col("m.est").as("est"), lit("corpus").as("scope"))
            } else spark.range(0).select(col("id").as("docId"),
              col("id").as("dup_of"), col("id").cast("double").as("est"),
              lit("corpus").as("scope")))
          val allDrops = pin(batchDrops.unionByName(corpusDrops))
          // (3) transactional appends: postings of kept turns, sidecars
          // of kept docs, audit rows of dropped turns
          val keptTurns = turns.join(allDrops.select("docId"), Seq("docId"), "left_anti")
          postingsFor(keptTurns.drop("docId"), analyzer, withPositions)
            .write.mode("append").parquet(outDir)
          if (allDrops.count() > 0)
            allDrops.join(turns.select("docId", "conv_id", "turn_idx"), "docId")
              .write.mode("append").parquet(dupsDir)
          val keptSigs = pin(keepSigs.join(
            corpusDrops.select(col("docId").as("id")), Seq("id"), "left_anti"))
          banded.join(keptSigs.select("id"), Seq("id"), "left_semi")
            .withColumn("bucket", pmod(col("bh"), lit(buckets)).cast("int"))
            .write.partitionBy("bucket").mode("append").parquet(bandsDir)
          keptSigs
            .withColumn("bucket", pmod(col("id"), lit(buckets)).cast("int"))
            .write.partitionBy("bucket").mode("append").parquet(sigsDir)
          ()
        } finally { pinned.foreach(_.unpersist()); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"$triggerSecs seconds"))
      .start()
  }
}
