package graft.build

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Term-major packed posting lists with salted hot-term repartitioning —
  * the skew-defusing build the north rule requires. Unlike the
  * doc-partitioned segment layout (Segments), a term-major list must
  * assemble ALL of a term's postings on one task; on Zipfian text the
  * head term would otherwise own a single monster task/row.
  *
  * Two-phase build:
  *   1. salt: hot terms (df ≥ hotDfThreshold, from termStats) get
  *      salt = hash(docId) % saltBuckets; cold terms salt 0. groupBy
  *      (term, salt) builds sorted partial runs — a hot term's work is
  *      spread over `saltBuckets` tasks.
  *   2. merge: groupBy(term) over the (few, pre-sorted, pre-compacted)
  *      runs; k-way merge into the final delta-encoded list. The merge
  *      input per hot term is saltBuckets rows, not millions of postings
  *      rows — partial aggregation has already done the heavy lifting.
  *
  * Invariant (property-tested): salted output ≡ unsalted output, byte for
  * byte, for any saltBuckets.
  */
object SaltedPostings {

  /** Build term-major lists: (term, df, docDeltas: array<long>,
    * tfs: array<int>). */
  def build(postings: DataFrame, termStats: DataFrame,
            hotDfThreshold: Long = 100000L, saltBuckets: Int = 16): DataFrame = {
    val hot = IndexBuilder.hotTerms(termStats, hotDfThreshold)

    // phase 1: per-(term, salt) sorted runs, as parallel primitive arrays
    val runs = postings
      .withColumn("salt", IndexBuilder.salt(postings.sparkSession, hot, saltBuckets))
      .groupBy(col("term"), col("salt"))
      .agg(sort_array(collect_list(struct(col("docId"), col("tf")))).as("run"))
      .select(col("term"),
        transform(col("run"), r => r.getField("docId")).as("runDocs"),
        transform(col("run"), r => r.getField("tf")).as("runTfs"))

    // phase 2: k-way merge of a term's runs into one delta-encoded list
    val mergeUdf = udf((runDocs: Seq[Seq[Long]], runTfs: Seq[Seq[Int]]) => {
      val merged: Array[(Long, Int)] =
        if (runDocs.length == 1) runDocs.head.zip(runTfs.head).toArray
        else {
          // runs are disjoint by docId (salting partitions docs), so a
          // k-way merge by head docId suffices
          val its = runDocs.zip(runTfs)
            .map { case (d, t) => d.iterator.zip(t.iterator).buffered }
          val out = Array.newBuilder[(Long, Int)]
          val live = scala.collection.mutable.ArrayBuffer(its.filter(_.hasNext): _*)
          while (live.nonEmpty) {
            var best = 0
            var i = 1
            while (i < live.length) {
              if (live(i).head._1 < live(best).head._1) best = i
              i += 1
            }
            out += live(best).next()
            if (!live(best).hasNext) live.remove(best)
          }
          out.result()
        }
      val n = merged.length
      val deltas = new Array[Long](n)
      val tfs = new Array[Int](n)
      var prev = 0L
      var i = 0
      while (i < n) {
        deltas(i) = merged(i)._1 - prev
        prev = merged(i)._1
        tfs(i) = merged(i)._2
        i += 1
      }
      (deltas, tfs)
    })

    runs
      .groupBy(col("term"))
      .agg(collect_list(col("runDocs")).as("runDocsAll"),
        collect_list(col("runTfs")).as("runTfsAll"))
      .withColumn("m", mergeUdf(col("runDocsAll"), col("runTfsAll")))
      .select(col("term"),
        size(col("m._1")).cast("long").as("df"),
        col("m._1").as("docDeltas"), col("m._2").as("tfs"))
  }

  /** Decode back to flat (term, docId, tf) — used by the equivalence
    * property test. */
  def decode(lists: DataFrame): DataFrame = {
    val explodeUdf = udf((deltas: Seq[Long], tfs: Seq[Int]) => {
      var acc = 0L
      deltas.zip(tfs).map { case (d, tf) => acc += d; (acc, tf) }
    })
    lists
      .select(col("term"), explode(explodeUdf(col("docDeltas"), col("tfs"))).as("e"))
      .select(col("term"), col("e._1").as("docId"), col("e._2").as("tf"))
  }
}
