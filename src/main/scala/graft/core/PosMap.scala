package graft.core

/** Which `__pos` values each partition of a session plan's RDD can hold:
  * partition `i` holds positions inside `[lo(i), hi(i))` (empty when
  * `lo(i) >= hi(i)`). An interval may be wider than the positions the
  * partition really holds — a read that keeps every partition whose
  * interval meets its range never misses a row — but never narrower.
  *
  * Every transform is driver arithmetic over one entry per partition; no
  * Spark job ever derives a map. [[EditorSession]] keeps one beside its
  * plan and moves it through each gesture (see [[EditorSession.page]]).
  */
private[graft] final class PosMap private (private val lo: Array[Long],
                                           private val hi: Array[Long]) {
  def size: Int = lo.length

  /** Rows in the map: exact for a map built from counts. */
  def total: Long = rows(lo.indices)

  /** Upper bound on the rows the partitions `parts` hold. */
  def rows(parts: Iterable[Int]): Long =
    parts.iterator.map(i => math.max(0L, hi(i) - lo(i))).sum

  /** Partitions whose interval meets `[from, until)` (none when empty). */
  def covering(from: Long, until: Long): Array[Int] =
    lo.indices.filter(i => math.max(lo(i), from) < math.min(hi(i), until))
      .toArray

  /** Partitions whose interval holds at least one of `positions`. */
  def coveringAny(positions: Seq[Long]): Array[Int] = {
    val sorted = positions.toArray.sorted
    lo.indices.filter(i => PosMap.below(sorted, hi(i)) >
      PosMap.below(sorted, lo(i))).toArray
  }

  /** The map after the rows at `sorted` (ascending, distinct) are removed
    * and the survivors re-packed: a survivor at `p` moves to
    * `p - |{d < p}|`, which maps `[lo, hi)` into
    * `[lo - |{d < lo}|, hi - |{d < hi}|)`.
    */
  def afterDelete(sorted: Array[Long]): PosMap =
    new PosMap(lo.map(p => p - PosMap.below(sorted, p)),
      hi.map(p => p - PosMap.below(sorted, p)))

  /** The clipboard of a cut of `sorted` (ascending, distinct): the
    * clipboard plan keeps this plan's partitions and renumbers each cut
    * row to its rank in `sorted`, so partition `i` holds the ranks of the
    * cut positions inside `[lo(i), hi(i))`.
    */
  def ranksOf(sorted: Array[Long]): PosMap =
    new PosMap(lo.map(PosMap.below(sorted, _)), hi.map(PosMap.below(sorted, _)))

  /** Every interval intersected with `[from, until)`. */
  def clamp(from: Long, until: Long): PosMap =
    new PosMap(lo.map(math.max(_, from)), hi.map(math.min(_, until)))

  def shift(k: Long): PosMap = new PosMap(lo.map(_ + k), hi.map(_ + k))

  /** The map of a union: `that`'s partitions follow this map's. */
  def ++(that: PosMap): PosMap = new PosMap(lo ++ that.lo, hi ++ that.hi)

  /** `(lo, hi)` of every partition, in partition order. */
  def intervals: IndexedSeq[(Long, Long)] = lo.indices.map(i => (lo(i), hi(i)))

  override def toString: String =
    intervals.map { case (a, b) => s"[$a,$b)" }.mkString("PosMap(", " ", ")")
}

private[graft] object PosMap {
  /** Partition `i` holds `counts(i)` consecutive positions, the first
    * at `base` plus the counts before it — what the attach assigns.
    */
  def fromCounts(counts: Array[Long], base: Long = 0L): PosMap = {
    val lo = counts.scanLeft(base)(_ + _)
    new PosMap(lo.init, lo.tail)
  }

  /** How many of `sorted` are below `p` (binary search). */
  private def below(sorted: Array[Long], p: Long): Long = {
    var a = 0
    var b = sorted.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (sorted(m) < p) a = m + 1 else b = m
    }
    a.toLong
  }
}
