package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Stable row-position (`__pos`) maintenance.
  *
  * The reference addresses every cell positionally (`DataFrame.iloc[row, col]`,
  * `/root/reference/main.py:29,35`; v2 pyc@63,71-74) over an intrinsically
  * ordered pandas table. Spark DataFrames are unordered, so the engine carries
  * an explicit dense `__pos: Long` column (0..n-1) and defines every
  * positional operator against it.
  *
  * Scale note: `row_number()` over a global window collapses to a single
  * partition — fine interactively, fatal at 100 TB. The scalable path
  * ([[attachPos]]) is sort → `zipWithIndex`: the sort is a distributed
  * range-partitioned exchange and the index assignment is per-partition with
  * one extra count job for the offsets. Positions stay dense and deterministic
  * given a deterministic ordering key.
  */
object Positional {
  val POS = "__pos"

  /** Dense 0..n-1 `__pos` from a deterministic ordering, distributed — no
    * single-partition window and no RDD roundtrip (stays columnar and
    * codegen'd): explicit range-partition sort, pinned by `localCheckpoint`,
    * then `monotonically_increasing_id` decomposed into (partition id,
    * local index) with per-partition offsets added back.
    *
    * Why the pin matters: any two-job scheme (count partitions, then
    * assign) is WRONG under AQE if both jobs re-execute the sort — adaptive
    * coalescing can partition the two executions differently and silently
    * corrupt positions. Checkpointing means the counts pass and every
    * consumer read the *same materialized blocks*, so the decomposition of
    * the id is stable by construction. (`rdd.zipWithIndex` is the classic
    * alternative but costs a second full execution of the upstream plan
    * plus a Row encode/decode of every row.)
    *
    * Two deliberate performance choices, both measured on the r1 bench:
    *  - the sort is an explicit `repartitionByRange(n, keys)` + local sort,
    *    not `orderBy` — AQE coalesces an orderBy's exchange toward its
    *    advisory size, which on an interactive table collapses the
    *    checkpoint materialization onto a fraction of the cores (16 of 32
    *    at sf0.1, ~1.9× slower cold). An explicit partition count is
    *    exempt from coalescing, so materialization uses the full session
    *    parallelism;
    *  - the checkpoint is *lazy* and the per-partition counts job is the
    *    materializing action (a narrow `runJob` with no shuffle): one scan
    *    assigns blocks AND returns counts, where the old eager-pin scheme
    *    paid a full second pass over the freshly pinned table.
    *
    * The offsets ride along as a small map literal (one entry per
    * partition); at true scale positions are assigned once at load and
    * persisted (sorted/bucketed layout), not recomputed per query.
    */
  def attachPos(df: DataFrame, order: Column*): DataFrame =
    attachPosCounted(df, order: _*)._1

  /** [[attachPos]] plus the TOTAL row count, which the materializing
    * counts job computes anyway — callers that need the size (e.g. an
    * ingest append) read it here instead of paying a second scan of the
    * freshly pinned blocks.
    */
  def attachPosCounted(df: DataFrame, order: Column*): (DataFrame, Long) = {
    val (pinned, map) = attachPosCounted(df, order)
    (pinned, map.total)
  }

  /** The attach with its per-partition counts as a [[PosMap]]: partition
    * `i` of the returned frame's RDD holds exactly the positions
    * `[offset(i), offset(i) + count(i))`. [[EditorSession]] keeps the map
    * to read a page from only the partitions that hold it.
    *
    * `fastRange = false` forces the classic `repartitionByRange` exchange
    * for this call only — the reference path specs compare the
    * sampling-free exchange against.
    */
  private[graft] def attachPosCounted(df: DataFrame, order: Seq[Column],
                                      fastRange: Boolean = true)
      : (DataFrame, PosMap) = {
    val spark = df.sparkSession
    val sorted = if (order.nonEmpty) {
      val nParts = math.max(spark.sessionState.conf.numShufflePartitions,
        spark.sparkContext.defaultParallelism)
      (if (fastRange) fastRangeSorted(df, order, nParts) else None)
        .getOrElse(df.repartitionByRange(nParts, order: _*)
          .sortWithinPartitions(order: _*))
    } else df
    val pinned = sorted.localCheckpoint(eager = false)
    // one job: materializes the checkpoint blocks and returns the count of
    // every partition (indices align with monotonically_increasing_id's
    // embedded partition id)
    val counts = spark.sparkContext.runJob(pinned.queryExecution.toRdd,
      (it: Iterator[_]) => { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n })
    if (counts.isEmpty) // zero partitions
      return (pinned.withColumn(POS, lit(0L)), PosMap.fromCounts(counts))
    // monotonically_increasing_id = (partitionId << 33) + local row index,
    // deterministic over pinned blocks
    val pidOf = shiftright(col("__mid"), 33)
    val localOf = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    var acc = 0L
    val offsets = counts.zipWithIndex.map { case (c, pid) =>
      val o = (pid.toLong, acc); acc += c; o }
    // typedLit, not map(lit, lit, ...): a MapType literal rides in the
    // codegen references array, so the generated source is identical no
    // matter what the offsets are — per-pid `lit`s would inline the values
    // as Java constants and force a fresh Janino compile for every distinct
    // partition layout (measured ~0.7 s on the first sf0.1 session open
    // after an sf0.001 warmup).
    val offsetMap = typedLit(offsets.toMap)
    (pinned.withColumn("__mid", monotonically_increasing_id())
      .withColumn(POS, localOf + element_at(offsetMap, pidOf))
      .drop("__mid"), PosMap.fromCounts(counts))
  }

  // ---- sampling-free range exchange (r15) ---------------------------------
  // `repartitionByRange` executes its child TWICE: once so the
  // RangePartitioner can sample (a FULL-WIDTH decode of every row — at the
  // bench this sampling job is ~1.0 s of the ~1.4 s attach, hidden inside
  // the "lazy" localCheckpoint, because ShuffleExchangeExec materializes
  // the partitioner in execute()), and once for the real shuffle. The
  // positions only need a partitioning MONOTONE under the sort order —
  // bound equality with Spark's sampler is irrelevant (ties are already
  // arbitrary, and with unique keys the assigned positions are identical
  // by construction). So: sample range bounds from a NARROW pruned scan of
  // the sort keys only (guide §2.3/§6 — project before the exchange;
  // parquet decodes 3 key columns instead of all of them), assign each row
  // a bucket by binary search over those bounds
  // ([[graft.functions.RangeToken]]), and route bucket b to output
  // partition b through the PUBLIC hash-repartition API by emitting a
  // precomputed token whose murmur3 hash pmods to exactly b. One child
  // execution, no sampling job, no internal exchange surgery.

  /** Dev observability: how many attaches took the sampling-free fast
    * path — specs assert on this so the old-vs-new equality tests can
    * never pass vacuously through the fallback (which is exactly what
    * happened when the first Column-shape matcher missed Spark 4's lazy
    * ColumnNodeExpression wrapper).
    */
  private[graft] val fastRangeUses =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private val tokenTables =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Int]]

  /** For each slot p of `HashPartitioning(_, n)`, an int token with
    * `pmod(murmur3(token), n) == p` — found once per n by evaluating
    * Spark's OWN Murmur3Hash/Pmod expressions (the exact pair
    * `HashPartitioning.partitionIdExpression` ships to executors), so the
    * mapping can never drift from the production shuffle.
    */
  private[graft] def tokensFor(n: Int): Array[Int] =
    tokenTables.getOrElseUpdate(n, {
      import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
      val out = new Array[Int](n)
      val found = new Array[Boolean](n)
      var remaining = n
      var t = 0
      while (remaining > 0) {
        val slot = Pmod(new Murmur3Hash(Seq(Literal(t))), Literal(n))
          .eval(null).asInstanceOf[Int]
        if (!found(slot)) { found(slot) = true; out(slot) = t; remaining -= 1 }
        t += 1
      }
      out
    })

  /** Sort-key names when every order column is a bare ascending attribute
    * reference — the only shape the fast path handles (desc / expressions
    * / nested paths keep the classic exchange).
    */
  private def simpleKeyNames(order: Seq[Column]): Option[Seq[String]] = {
    val names = order.map(c => scala.util.Try(
      org.apache.spark.sql.GraftShims.simpleAttributeName(c)).toOption.flatten)
    if (names.forall(_.isDefined)) Some(names.map(_.get)) else None
  }

  /** Range split keys from a NARROW scan of the sort keys: per-partition
    * reservoir sample + weighted bound selection — the
    * `RangePartitioner.sketch`/`determineBounds` algorithm, run over
    * `df.select(keys)` so column pruning reaches the source instead of
    * decoding full rows. Returns ≤ nParts−1 strictly increasing keys
    * (deduped: a hot key collapses its buckets, same as Spark's sampler).
    */
  private def sampleBounds(df: DataFrame, names: Seq[String],
                           nParts: Int): Array[Array[Any]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.RangeKeyOrder
    val narrow = df.select(names.map(col): _*)
    val types: Array[DataType] = narrow.schema.fields.map(_.dataType)
    val rdd = narrow.queryExecution.toRdd
    val nIn = rdd.getNumPartitions
    if (nIn == 0) return Array.empty
    val perPartHint = scala.util.Try(
      df.sparkSession.sessionState.conf.rangeExchangeSampleSizePerPartition)
      .getOrElse(100)
    val sampleSize = math.min(perPartHint.toDouble * nParts, 1e6)
    val perPart = math.max(1, math.ceil(3.0 * sampleSize / nIn).toInt)
    val width = types.length
    // reservoir per input partition; values copied OUT of the reused row
    val sketched = rdd.mapPartitionsWithIndex { (idx, iter) =>
      def extract(row: InternalRow): Array[Any] = {
        val k = new Array[Any](width)
        var i = 0
        while (i < width) {
          k(i) =
            if (row.isNullAt(i)) null
            else row.get(i, types(i)) match {
              case s: UTF8String => s.clone()
              case v => v
            }
          i += 1
        }
        k
      }
      val rng = new java.util.Random(0x9e3779b97f4a7c15L ^ idx)
      val sample = new Array[Array[Any]](perPart)
      var n = 0L
      while (iter.hasNext) {
        val row = iter.next()
        if (n < perPart) sample(n.toInt) = extract(row)
        else {
          val r = (rng.nextDouble() * (n + 1)).toLong
          if (r < perPart) sample(r.toInt) = extract(row)
        }
        n += 1
      }
      Iterator.single((n, sample.take(math.min(n, perPart.toLong).toInt)))
    }.collect()
    val total = sketched.map(_._1).sum
    if (total == 0) return Array.empty
    val cmp = RangeKeyOrder.keyCmp(types.toIndexedSeq)
    val candidates =
      scala.collection.mutable.ArrayBuffer.empty[(Array[Any], Double)]
    sketched.foreach { case (n, sample) =>
      if (sample.nonEmpty) {
        val weight = n.toDouble / sample.length
        sample.foreach(k => candidates += ((k, weight)))
      }
    }
    val ordered = candidates.sortWith((a, b) => cmp(a._1, b._1) < 0)
    val sumW = ordered.iterator.map(_._2).sum
    val step = sumW / nParts
    var cum = 0.0
    var target = step
    val bs = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    var prev: Array[Any] = null
    var i = 0
    while (i < ordered.length && bs.length < nParts - 1) {
      cum += ordered(i)._2
      if (cum >= target) {
        val key = ordered(i)._1
        if (prev == null || cmp(key, prev) > 0) {
          bs += key; prev = key; target += step
        }
      }
      i += 1
    }
    bs.toArray
  }

  /** The sampling-free equivalent of `repartitionByRange(nParts, order) +
    * sortWithinPartitions(order)`: None (caller falls back) when a key is
    * not a bare ascending attribute of a supported atomic type; on any
    * unexpected failure the classic path runs instead — never a
    * correctness risk, just the old cost.
    */
  private[graft] def fastRangeSorted(df: DataFrame, order: Seq[Column],
                                     nParts: Int): Option[DataFrame] =
    simpleKeyNames(order).flatMap { names =>
      import graft.functions.{RangeKeyOrder, RangeToken}
      val fields = names.map(n => df.schema.fields.filter(_.name == n))
      if (fields.exists(_.length != 1) ||
          !fields.forall(f => RangeKeyOrder.supported(f.head.dataType)))
        None
      else scala.util.Try {
        val spark = df.sparkSession
        val sc = spark.sparkContext
        val prevDesc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription("attachPos: narrow range-bounds sample")
        val bounds =
          try sampleBounds(df, names, nParts)
          finally sc.setJobDescription(prevDesc)
        val tokenTable = tokensFor(nParts)
        val tokens = Array.tabulate(bounds.length + 1)(tokenTable)
        val keyExprs = names.map(n =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(n))
        val tokenCol = org.apache.spark.sql.GraftShims.column(RangeToken(
          keyExprs, fields.map(_.head.dataType), bounds, tokens))
        df.repartition(nParts, tokenCol).sortWithinPartitions(order: _*)
      } match {
        case scala.util.Success(sorted) =>
          fastRangeUses.incrementAndGet()
          Some(sorted)
        case scala.util.Failure(e) =>
          System.err.println(
            s"[graft] attachPos fast range path failed, using " +
              s"repartitionByRange: $e")
          None
      }
    }

  /** Re-number to dense 0..n-1 preserving current `__pos` order (after a
    * delete/splice the positions have holes or shifted duplicates).
    */
  def renumber(df: DataFrame): DataFrame = {
    require(df.columns.contains(POS), s"renumber requires $POS")
    attachPos(df.withColumnRenamed(POS, "__stale_pos"), col("__stale_pos"))
      .drop("__stale_pos")
  }

  /** Widest page [[page]] serves as a top-k: Spark's
    * `TakeOrderedAndProjectExec` buffers up to 2 × limit rows per task and
    * merges every task's top-k on the driver, so the one-job form is for
    * view-sized pages only.
    */
  val pageTopKMax = 100000L

  /** Serve one page [lo, hi) of rows by position — the engine-side
    * equivalent of the reference's virtualized QTableView rendering
    * (v2 pyc@58-66). A range predicate on `__pos` prunes row groups when the
    * table is written sorted-by-`__pos` (min/max parquet stats).
    *
    * A page of at most [[pageTopKMax]] rows runs as ONE Spark job: the
    * range filter, `orderBy(__pos)` and `limit(hi - lo)` plan as a
    * `TakeOrderedAndProjectExec` (a per-task top-k merged on the driver),
    * with no range-bounds sampling job and no shuffle. The limit drops no
    * row because positions are dense and unique (the engine's invariant),
    * so at most `hi - lo` rows fall in the range. Wider and empty ranges
    * keep the plain filter + global sort.
    */
  def page(df: DataFrame, lo: Long, hi: Long): DataFrame =
    sortedPage(df.filter(inPage(lo, hi)), lo, hi)

  /** The `__pos` range predicate of page `[lo, hi)`. */
  private[graft] def inPage(lo: Long, hi: Long): Column =
    col(POS) >= lo && col(POS) < hi

  /** [[page]]'s sort (and top-k limit) over rows already filtered to the
    * range — shared with [[EditorSession.page]], which filters first and
    * then drops the partitions that cannot hold the range.
    */
  private[graft] def sortedPage(inRange: DataFrame, lo: Long,
                                hi: Long): DataFrame = {
    val sorted = inRange.orderBy(col(POS))
    if (hi - lo > 0 && hi - lo <= pageTopKMax) sorted.limit((hi - lo).toInt)
    else sorted
  }

  /** Drop the bookkeeping column before a sink write (positions are an
    * engine convention, not user data).
    */
  def strip(df: DataFrame): DataFrame =
    if (df.columns.contains(POS)) df.drop(POS) else df
}
