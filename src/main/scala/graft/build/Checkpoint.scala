package graft.build

import graft.analysis.TextAnalyzer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Checkpointed, resumable index build with per-partition lineage and
  * counters (north rule: a killed spark-submit run resumes without
  * recomputation). The reference's analogue is the lock/commit machinery
  * (Lucene.java:1155-1212, 571-587); here the unit of recovery is a
  * docId-hash GROUP: groups are independent because postings rows are
  * per-document, so a group's postings can be built and committed in
  * isolation.
  *
  * Layout under `outDir`:
  *   postings/group=G/   parquet for group G (written to _tmp, atomically renamed)
  *   manifests/G.json    lineage: rows in, tokens, postings out, checksum
  *   meta.json           global stats, written last (the "commit")
  *
  * Resume: groups with a manifest are skipped wholesale; the manifest
  * checksum lets an auditor re-verify a group without recomputing it.
  */
object Checkpoint {

  final case class GroupManifest(
      group: Int, rows: Long, tokens: Long, postings: Long, checksum: Long)

  final case class BuildReport(
      groupsBuilt: Seq[Int], groupsSkipped: Seq[Int], manifests: Seq[GroupManifest])

  private def manifestPath(outDir: String, g: Int) = Paths.get(s"$outDir/manifests/$g.json")

  private implicit val formats: Formats = DefaultFormats

  private def writeManifest(outDir: String, m: GroupManifest): Unit = {
    Files.createDirectories(Paths.get(s"$outDir/manifests"))
    Files.writeString(manifestPath(outDir, m.group), Serialization.write(m))
  }

  def readManifest(outDir: String, g: Int): Option[GroupManifest] = {
    val p = manifestPath(outDir, g)
    if (Files.exists(p)) Some(Serialization.read[GroupManifest](Files.readString(p))) else None
  }

  /** Build (or resume building) the flat postings table for
    * `corpusWithIds`, one group at a time. Returns which groups ran. */
  def buildPostings(corpusWithIds: DataFrame, analyzer: TextAnalyzer,
                    outDir: String, nGroups: Int): BuildReport = {
    val spark = corpusWithIds.sparkSession

    val built = scala.collection.mutable.ArrayBuffer.empty[Int]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[Int]
    val manifests = scala.collection.mutable.ArrayBuffer.empty[GroupManifest]

    (0 until nGroups).foreach { g =>
      readManifest(outDir, g) match {
        case Some(m) =>
          skipped += g; manifests += m
        case None =>
          val part = corpusWithIds.filter(pmod(col("docId"), lit(nGroups)) === g)
          // per-doc tf is counted inside the projection, so the group's
          // posting rows need no shuffle
          val postings = IndexBuilder.analyzedPostings(part, analyzer,
            IndexBuilder.attrCols(part))

          // stage to a temp dir, collect lineage counters in the same
          // pass, then atomically publish
          val tmp = s"$outDir/postings/_tmp_group=$g"
          val dst = s"$outDir/postings/group=$g"
          postings.write.mode("overwrite").parquet(tmp)
          val written = spark.read.parquet(tmp)
          val statsRow = written.agg(
            count(lit(1)).as("postings"),
            coalesce(sum(col("tf")), lit(0L)).as("tokens"),
            coalesce(
              pmod(sum(xxhash64(col("term"), col("docId"), col("tf")).cast("decimal(38,0)")),
                lit(BigDecimal("4611686018427387904"))).cast("long"),
              lit(0L)).as("checksum")).collect()(0)
          val rows = part.count()
          val m = GroupManifest(g, rows, statsRow.getLong(1),
            statsRow.getLong(0), statsRow.getLong(2))
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val dstPath = new org.apache.hadoop.fs.Path(dst)
          if (fs.exists(dstPath)) fs.delete(dstPath, true)
          fs.rename(new org.apache.hadoop.fs.Path(tmp), dstPath)
          writeManifest(outDir, m)
          built += g
          manifests += m
      }
    }

    // global stats + meta "commit"
    val stats = IndexBuilder.corpusStats(spark.read.parquet(s"$outDir/postings"))
    IndexMeta.write(outDir, IndexMeta(analyzer.name, stats, nGroups = Some(nGroups)))
    BuildReport(built.toSeq, skipped.toSeq, manifests.toSeq)
  }

  /** Load the postings built by buildPostings. */
  def loadPostings(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/postings").drop("group")
}
