package graft.corpus

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Dense docId assignment by stable (conv_id, turn_idx) ordering — the
  * per-row invariant the driver checks ("per-turn text equality under
  * stable turn ordering"). Equivalent role to Lucene's internal doc ids
  * (reference: Lucene.java:1631-1639 one Document per row; ids are the
  * engine-side ordering handle and final sort tiebreak,
  * SearchBucket.java:962,988).
  *
  * Scalable two-pass scheme (no single-partition window):
  *   1. range-repartition by the ordering key and sort within partitions —
  *      partitions now hold contiguous key ranges;
  *   2. count rows per partition, prefix-sum the counts on the driver
  *      (one long per partition), and assign ids per partition from the
  *      broadcast offsets.
  *
  * Ids are MINTED EXACTLY ONCE: the ranged input is materialized (cached)
  * before the count pass so both passes see one fixed partition layout,
  * and the id-assigned result is itself materialized before being
  * returned. Partition ids are a runtime artifact — AQE may lay out the
  * same logical plan differently across executions — so an id assignment
  * recomputed per downstream query would not be stable. Minting once and
  * serving every query from the materialized result (or the saved corpus
  * parquet) is also what the reference does: Lucene assigns doc ids at
  * index time, never as a recomputable view.
  */
object DocIds {

  /** Key types the presorted fast path can verify. Strings compare as
    * unsigned bytes (UTF8String semantics — what repartitionByRange
    * orders by); floating point is excluded (NaN ordering pitfalls). */
  private val FastPathTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, IntegerType, LongType, ShortType, ByteType,
        TimestampType, DateType, BooleanType)
  }

  /** Per-partition ordering evidence from one narrow scan: row count,
    * whether the partition is internally sorted on the keys, and the
    * first/last key tuples (driver-comparable encodings). */
  private final case class PartOrder(pid: Int, count: Long, sorted: Boolean,
                                     first: Array[Any], last: Array[Any])

  /** Compare two key tuples in range-partition order: null first, then
    * natural order per type; strings as unsigned byte sequences. */
  private def cmpKeys(a: Array[Any], b: Array[Any]): Int = {
    var i = 0
    while (i < a.length) {
      val (x, y) = (a(i), b(i))
      val c =
        if (x == null && y == null) 0
        else if (x == null) -1
        else if (y == null) 1
        else (x, y) match {
          case (xb: Array[Byte], yb: Array[Byte]) =>
            // unsigned lexicographic — UTF8String.compareTo semantics
            var j = 0; var r = 0
            while (r == 0 && j < xb.length && j < yb.length) {
              r = (xb(j) & 0xff) - (yb(j) & 0xff); j += 1
            }
            if (r != 0) r else xb.length - yb.length
          case (xc: Comparable[_], yc) =>
            xc.asInstanceOf[Comparable[Any]].compareTo(yc)
          case _ => throw new IllegalStateException(s"uncomparable key $x")
        }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** One pass over a FIXED layout: per-partition counts plus sortedness
    * evidence. Keys are extracted to driver-safe values (UTF8String →
    * byte arrays) and rows are compared in range-partition order.
    *
    * The scan runs over a FRESH key-only projection of `df`, for two
    * load-bearing reasons: (a) column pruning — the columnar cache then
    * decodes two small key columns instead of the whole payload row;
    * (b) a fresh Dataset builds a fresh QueryExecution, so cache
    * substitution reflects the CURRENT cache state. `df.queryExecution`
    * itself is SHARED by `toDF()` with the parent Dataset and
    * materializes its physical plan once — executing it after a cache
    * drop/re-persist silently recomputes every partition from lineage
    * (measured: a 2 s cached key scan ballooning to a 40 s full
    * regeneration in a per-phase build profile). A narrow projection preserves
    * partition indices, so pids stay aligned with [[mint]]'s scan. */
  private def scanOrder(df: DataFrame, orderCols: Seq[String]): Array[PartOrder] = {
    val keyed = df.select(orderCols.map(col): _*)
    val schema = keyed.schema
    val keyIdx = orderCols.indices.toArray
    val keyTypes = keyIdx.map(schema(_).dataType)
    keyed.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      // extract a driver-safe copy of the key tuple from a (reused)
      // InternalRow
      def keyOf(r: org.apache.spark.sql.catalyst.InternalRow): Array[Any] = {
        val out = new Array[Any](keyIdx.length)
        var i = 0
        while (i < keyIdx.length) {
          out(i) =
            if (r.isNullAt(keyIdx(i))) null
            else keyTypes(i) match {
              case org.apache.spark.sql.types.StringType =>
                r.getUTF8String(keyIdx(i)).getBytes.clone()
              case org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.DateType => Int.box(r.getInt(keyIdx(i)))
              case org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.TimestampType => Long.box(r.getLong(keyIdx(i)))
              case org.apache.spark.sql.types.ShortType => Short.box(r.getShort(keyIdx(i)))
              case org.apache.spark.sql.types.ByteType => Byte.box(r.getByte(keyIdx(i)))
              case org.apache.spark.sql.types.BooleanType => Boolean.box(r.getBoolean(keyIdx(i)))
              case t => throw new IllegalStateException(s"fast path on $t")
            }
          i += 1
        }
        out
      }
      var c = 0L
      var sorted = true
      var first: Array[Any] = null
      var prev: Array[Any] = null
      while (it.hasNext) {
        val k = keyOf(it.next())
        if (first == null) first = k
        if (prev != null && cmpKeys(prev, k) > 0) sorted = false
        prev = k
        c += 1
      }
      Iterator.single(PartOrder(pid, c, sorted, first, prev))
    }.collect()
  }

  /** [[assign]] with the final materializing `count()` DEFERRED to the
    * caller's first action — for callers that immediately run a
    * full-scan job over the result anyway (the index build's hot-term
    * sample), so cache fill and that job fuse into ONE Spark job
    * instead of two serial ones (each small serial job idles every core
    * at high parallelism — measured ~1s of the build's Amdahl floor at
    * 32 cores).
    *
    * SAFETY: deferral is only taken on the presorted fast path when the
    * caller already persisted the input (`ownCache = false`), so the
    * source cache outlives the deferred materialization and even a
    * racing first action mints identical ids from the FIXED cached
    * layout. On the shuffle path (whose intermediate cache is dropped
    * before returning) this behaves exactly like [[assign]]. */
  private[graft] def assignLazy(df: DataFrame, orderCols: Seq[String],
                                numPartitions: Int = 0): DataFrame =
    assignImpl(df, orderCols, numPartitions, eager = false)

  def assign(df: DataFrame, orderCols: Seq[String], numPartitions: Int = 0): DataFrame =
    assignImpl(df, orderCols, numPartitions, eager = true)

  private def assignImpl(df: DataFrame, orderCols: Seq[String], numPartitions: Int,
                         eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val cols = orderCols.map(col)

    // PRESORTED FAST PATH: when the input already arrives globally sorted
    // on the ordering key (generated corpora, time-ordered ingest, a
    // previously sorted table), the range shuffle below only re-creates
    // the layout the data already has — and a full-corpus shuffle + sort
    // is the worst-scaling step of the build (memory-bandwidth-bound; at
    // 32 threads it runs far below the ALU ceiling). So: fix the input
    // layout with a cache, take ONE narrow verification scan (count +
    // per-partition sortedness + boundary keys — the same scan the slow
    // path needs anyway for its prefix sums), and mint ids directly if
    // every partition is sorted and partition boundaries are
    // non-decreasing. Verified, never assumed: any violation falls back
    // to the shuffle path, so unsorted inputs pay one extra narrow scan,
    // never a wrong id. Equal keys on a boundary are fine — order among
    // equal keys is unspecified in the shuffle path too (non-stable
    // range partitioning), only deterministic per layout.
    val fastEligible = orderCols.forall(c => FastPathTypes.contains(
      df.schema(df.schema.fieldIndex(c)).dataType))
    if (fastEligible) {
      // fix the input layout with a cache — unless the caller already
      // cached this exact plan (persist() would no-op on the existing
      // entry and our unpersist() would silently drop the CALLER's cache)
      val ownCache = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      val src = if (ownCache) df.persist() else df
      def releaseSrc(): Unit = if (ownCache) { src.unpersist(); () }
      sortedOffsets(src, orderCols) match {
        case Some(offsets) =>
          // deferred materialization is only safe while the source cache
          // is owned by the caller (see assignLazy scaladoc)
          val out = mint(src, offsets, materialize = eager || ownCache)
          releaseSrc()
          return out
        case None =>
          // not sorted — fall through to the shuffle path (src stays
          // cached so the shuffle reads the cache, then is dropped)
          val shuffled = assignByShuffle(src, cols, n)
          releaseSrc()
          return shuffled
      }
    }
    assignByShuffle(df, cols, n)
  }

  /** One verification scan over a FIXED layout: Some(per-partition id
    * offsets) when every partition is internally sorted on the keys and
    * partition boundaries are non-decreasing — i.e. the input is already
    * globally sorted and ids can be minted without a shuffle. */
  private[graft] def sortedOffsets(src: DataFrame,
                                   orderCols: Seq[String]): Option[Array[Long]] = {
    val order = scanOrder(src, orderCols).sortBy(_.pid)
    val sorted = order.forall(_.sorted) &&
      order.filter(_.count > 0).sliding(2).forall {
        case Array(a, b) => cmpKeys(a.last, b.first) <= 0
        case _ => true
      }
    if (!sorted) None
    else {
      val offsets = new Array[Long](order.length + 1)
      order.foreach(p => offsets(p.pid + 1) = p.count)
      var i = 1
      while (i < offsets.length) { offsets(i) += offsets(i - 1); i += 1 }
      Some(offsets)
    }
  }

  private def assignByShuffle(df: DataFrame, cols: Seq[org.apache.spark.sql.Column],
                              n: Int): DataFrame = {
    val parted = df
      .repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .persist()
    // the count pass below is the materializing action for the parted
    // cache (persist() already fixed the cached plan's layout); the
    // assignment pass then reads the same cached partitions
    val counts: Array[(Int, Long)] = parted.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        var c = 0L; while (it.hasNext) { it.next(); c += 1 }
        Iterator.single((pid, c))
      }
      .collect()
    val offsets = new Array[Long](counts.length + 1)
    counts.sortBy(_._1).foreach { case (pid, c) => offsets(pid + 1) = c }
    var i = 1
    while (i < offsets.length) { offsets(i) += offsets(i - 1); i += 1 }
    val out = mint(parted, offsets)
    parted.unpersist()
    out
  }

  /** docId = offsets(pid) + index-within-partition, in COLUMN math:
    * monotonically_increasing_id() is documented as pid·2^33 + row index
    * within the partition, and the scan reads the FIXED cached layout of
    * `parted`, so splitting it back apart and adding the partition's
    * prefix-sum offset reproduces exactly the dense ids a per-row
    * mapPartitions pass would mint — without its per-row Row.fromSeq
    * allocation and GenericRow cache (measured as part of the build's
    * serial floor: the minting count() materialized an object cache
    * instead of codegen'd unsafe rows). */
  private def mint(parted: DataFrame, offsets: Array[Long],
                   materialize: Boolean = true): DataFrame = {
    val offArr = typedlit(offsets.toSeq)
    val out = parted
      .withColumn("_mono", monotonically_increasing_id())
      .select((element_at(offArr, shiftright(col("_mono"), 33).cast("int") + 1) +
          col("_mono").bitwiseAND(lit((1L << 33) - 1))).as("docId")
        +: parted.columns.map(col): _*)
      .persist()
    // mint: every downstream plan reads these cached rows, never re-runs
    // the pid-dependent assignment. With materialize=false the caller's
    // first full-scan action fills the cache instead (assignLazy — safe
    // only while `parted`'s own cache is still alive, since a recompute
    // then reads the same FIXED layout).
    if (materialize) out.count()
    out
  }

  /** Corpus helper: assign docIds to a turns dataset. */
  def forTurns(turns: Dataset[graft.model.Turn]): DataFrame =
    assign(turns.toDF(), Seq("conv_id", "turn_idx"))
}
