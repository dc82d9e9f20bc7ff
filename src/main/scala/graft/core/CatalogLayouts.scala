package graft.core

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Catalog._

/** At-rest layout builds and their serving routes: PQ / IVF-PQ / LSH / postings / bucketed / clustered (ranged, z-ordered) builds, rangeScan / rangeScanBox, topK, BM25 serving, and the bucket-co-located join.
  *
  * An internal implementation seam of [[Catalog]] (split out of the
  * single-file class, r11 verdict task #7): every member here is
  * Catalog implementation detail with zero behavior change — the trait
  * exists so the file stays navigable, not as user API.
  */
trait CatalogLayouts { self: Catalog =>
  /** Encode `vecCol` ONCE into an at-rest PQ codes parquet (8 small ints
    * where 64 floats were) and register it; [[topK]] on this session then
    * searches stored codes — m table lookups per row, no re-encode, no
    * raw vector touched — until the session mutates.
    */
  def buildPqLayout(name: String, idCol: String, vecCol: String,
                    m: Int = 8): String = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val seeds = graft.operators.Similarity.pqCodebook(base, idCol, vecCol)
    val (dir, rel) = layoutRoot("catalog_pq_")
    val path = dir + "/codes"
    graft.operators.Similarity.pqCodes(base, idCol, vecCol, seeds, m)
      .write.parquet(path)
    layouts((name, s"ann:$vecCol")) =
      PqCodesLayout(idCol, vecCol, path, seeds, m, s.epoch)
    rel.foreach { r =>
      writeRowSig(base, dir, col(idCol), Seq(idCol, vecCol))
      persistEntry(LayoutManifestEntry(
        session = name, slot = s"ann:$vecCol", kind = "pq",
        digest = contentDigest(base, Seq(idCol, vecCol)), path = Some(r),
        idCol = Some(idCol), valueCol = Some(vecCol), m = Some(m),
        seeds = Some(seeds.map(_.toSeq).toSeq)))
    }
    path
  }

  /** IVF-PQ at-rest layout: codes written once PARTITIONED BY coarse cell,
    * so a routed [[topK]] probe prunes cell partitions at plan time and
    * ranks survivors from stored codes (the FAISS inverted-file shape).
    * Registers over the same `ann:vecCol` slot — last build wins.
    */
  def buildIvfPqLayout(name: String, idCol: String, vecCol: String,
                       nCentroids: Int = 8, m: Int = 8,
                       nProbe: Int = 4): String = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val (codes, cents, seeds) = graft.operators.Similarity.ivfPqCodes(
      base, idCol, vecCol, nCentroids, m)
    val (dir, rel) = layoutRoot("catalog_ivfpq_")
    val path = dir + "/codes"
    graft.io.Formats.writePartitioned(codes, path, Seq("__ivf_cid"))
    layouts((name, s"ann:$vecCol")) =
      IvfPqCellLayout(idCol, vecCol, path, cents, seeds, m, nProbe, s.epoch)
    rel.foreach { r =>
      writeRowSig(base, dir, col(idCol), Seq(idCol, vecCol))
      persistEntry(LayoutManifestEntry(
        session = name, slot = s"ann:$vecCol", kind = "ivfpq",
        digest = contentDigest(base, Seq(idCol, vecCol)), path = Some(r),
        idCol = Some(idCol), valueCol = Some(vecCol), m = Some(m),
        nProbe = Some(nProbe),
        seeds = Some(seeds.map(_.toSeq).toSeq),
        cents = Some(cents.map { case (cid, v) => CentEntry(cid, v) })))
    }
    path
  }

  /** Write the session bucketed+sorted on `key` as a managed table and
    * register it; [[join]] on this key then plans exchange-free while the
    * session stays unedited.
    */
  def buildBucketedLayout(name: String, key: String, buckets: Int): String = {
    val s = sessionOf(name)
    // the managed-table name carries this Catalog's instance id: two
    // catalogs in one JVM (e.g. per-sfDir memoized ones) reusing the same
    // session names must not clobber each other's bucketed tables — the
    // first catalog's layout would stay epoch-valid and silently route
    // the second catalog's data
    val tbl = s"graft_c${catalogId}_${name}_by_$key".toLowerCase
    val base = Positional.strip(s.current)
    graft.io.Bucketing.writeBucketed(base, tbl, key, buckets)
    layouts((name, s"bucket:$key")) = BucketedLayout(key, tbl, buckets, s.epoch)
    persistEntry(LayoutManifestEntry(
      session = name, slot = s"bucket:$key", kind = "bucket",
      digest = contentDigest(base, Seq.empty), table = Some(tbl),
      valueCol = Some(key), buckets = Some(buckets)))
    tbl
  }

  /** MinHash-LSH index the session's text column once
    * ([[graft.operators.Dedup.lshIndex]]: per-doc signatures + banded
    * buckets, localCheckpoint-pinned so probes never re-shingle the
    * corpus) and register it; [[nearDups]] then probes arriving batches
    * against the stored index — the nightly-ingest dedup hop.
    */
  def buildLshLayout(name: String, idCol: String, textCol: String,
                     n: Int = 3, numHashes: Int = 128,
                     bands: Int = 64): Unit = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val idx0 = graft.operators.Dedup.lshIndex(base, idCol, textCol, n,
      numHashes, bands)
    // durable: the index parquet IS the at-rest pin (probes read files,
    // never re-shingle); process-local: localCheckpoint pins the blocks
    val idx =
      if (warehouse.isDefined) {
        val (dir, rel) = layoutRoot("catalog_lsh_")
        idx0.write.parquet(dir + "/index")
        rel.foreach { r =>
          writeRowSig(base, dir, col(idCol), Seq(idCol, textCol))
          persistEntry(LayoutManifestEntry(
            session = name, slot = s"lsh:$textCol", kind = "lsh",
            digest = contentDigest(base, Seq(idCol, textCol)), path = Some(r),
            idCol = Some(idCol), valueCol = Some(textCol), n = Some(n),
            numHashes = Some(numHashes), bands = Some(bands)))
        }
        spark.read.parquet(dir + "/index")
      } else idx0.localCheckpoint(true)
    layouts((name, s"lsh:$textCol")) =
      LshIndexLayout(idCol, textCol, n, numHashes, bands, idx, s.epoch)
  }

  /** Near-duplicate probe of `batch` against an open session,
    * layout-routed: a valid LSH layout serves the probe from the stored
    * index (batch-sized signature work + band equi-join — the corpus is
    * never re-shingled); without one, the index is built from the live
    * session plan for this call (same answer, corpus-sized work). The
    * batch must carry the same id/text column names the layout indexed.
    * The layout is used only when the caller's (idCol, n, numHashes,
    * bands) MATCH what it was built with — routing changes the plan,
    * never the answer, so a parameter mismatch falls back to a live
    * index built with the caller's parameters rather than silently
    * serving a differently-banded pair set.
    */
  def nearDups(name: String, batch: DataFrame, idCol: String,
               textCol: String, threshold: Double = 0.4,
               n: Int = 3, numHashes: Int = 128,
               bands: Int = 64): DataFrame = {
    val (lay, rep) = decide(name, s"lsh:$textCol", {
      case l: LshIndexLayout => l.idCol == idCol && l.n == n &&
        l.numHashes == numHashes && l.bands == bands
      case _ => false
    })
    recordRoute(rep)
    lay match {
      case Some(l: LshIndexLayout) =>
        graft.operators.Dedup.incrementalLshMatches(
          patchedCodes(l.index, l.patch), batch,
          l.idCol, l.textCol, l.n, threshold, l.numHashes, l.bands)
      case _ =>
        val idx = graft.operators.Dedup.lshIndex(
          Positional.strip(sessionOf(name).current), idCol, textCol, n,
          numHashes, bands)
        graft.operators.Dedup.incrementalLshMatches(idx, batch, idCol,
          textCol, n, threshold, numHashes, bands)
    }
  }

  /** Write the session's inverted index bucketed by term hash
    * ([[graft.operators.Retrieval.writePostingsBucketed]]: one (term,
    * doc) row per distinct per-doc term, directory-partitioned on the
    * term's hash bucket) and register it; [[termPostings]] then serves a
    * term lookup from a partition-pruned read of ~|terms|/buckets of the
    * index — the at-scale retrieval side of BM25, replacing the
    * O(corpus) posting-list string a stop-word-grade term costs in the
    * report-shaped [[graft.operators.Retrieval.postings]].
    */
  def buildPostingsLayout(name: String, idCol: String, textCol: String,
                          buckets: Int = 64): String = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val (dir, rel) = layoutRoot("catalog_postings_")
    val path = dir + "/postings"
    graft.operators.Retrieval.writePostingsBucketed(base, idCol, textCol,
      path, buckets)
    val (nDocs, avgdl) =
      graft.operators.Retrieval.postingsStats(base, textCol)
    layouts((name, s"postings:$textCol")) =
      PostingsLayout(idCol, textCol, buckets, path, s.epoch,
        nDocs = nDocs, avgdl = avgdl)
    rel.foreach { r =>
      writeRowSig(base, dir, col(idCol), Seq(idCol, textCol))
      persistEntry(LayoutManifestEntry(
        session = name, slot = s"postings:$textCol", kind = "postings",
        digest = contentDigest(base, Seq(idCol, textCol)), path = Some(r),
        idCol = Some(idCol), valueCol = Some(textCol), n = Some(buckets),
        nDocs = Some(nDocs), avgdl = Some(avgdl)))
    }
    path
  }

  /** Lexical BM25 retrieval, layout-routed: a valid postings layout on
    * (session, textCol) built with the caller's idCol scores the query
    * terms from stored (tf, dl) rows in the terms' pruned hash buckets
    * plus the layout's two corpus scalars — the corpus is never
    * re-tokenized, and the digits equal the live
    * [[graft.operators.Retrieval.bm25]] (shared scoring tail, exact
    * global df from the term-complete buckets). Without a valid layout
    * the live corpus-pass BM25 runs. Output: (idCol, score).
    */
  def searchBm25(name: String, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    val (lay, rep) = decide(name, s"postings:$textCol", {
      case l: PostingsLayout => l.idCol == idCol
      case _ => false
    })
    recordRoute(rep)
    lay match {
      case Some(l: PostingsLayout) =>
        graft.operators.Retrieval.bm25FromPostings(spark,
          patchedPostings(l), l.buckets, l.nDocs, l.avgdl, idCol, terms,
          k1, b)
      case _ =>
        graft.operators.Retrieval.bm25(
          Positional.strip(sessionOf(name).current), idCol, textCol,
          terms, k1, b)
    }
  }

  /** Posting lists for a probe term set, layout-routed: a valid postings
    * layout on (session, textCol) built with the caller's idCol serves
    * the lookup from the bucketed index (plan-time directory pruning —
    * non-probed buckets never open); otherwise the corpus re-tokenizes
    * under the live session plan. Output (term, df, plist) either way.
    */
  def termPostings(name: String, idCol: String, textCol: String,
                   terms: Seq[String]): DataFrame = {
    val (lay, rep) = decide(name, s"postings:$textCol", {
      case l: PostingsLayout => l.idCol == idCol
      case _ => false
    })
    recordRoute(rep)
    lay match {
      case Some(l: PostingsLayout) =>
        graft.operators.Retrieval.termLookupFrom(spark, patchedPostings(l),
          terms, l.buckets)
      case _ =>
        graft.operators.Retrieval.postingsFor(
          Positional.strip(sessionOf(name).current), idCol, textCol, terms)
    }
  }

  /** Cluster `df` on `dims` into `files` part files. One dimension
    * range-partitions on the raw column, sorted within each file. Two or
    * three range-partition on the Morton interleave
    * ([[graft.operators.ZOrder.zValue]]) of one 16-bit bucket per
    * dimension, each bucketized in ITS OWN type: numeric, timestamp and
    * date columns through their monotone double image, min/max-scaled
    * (the image only orders rows for the interleave — stats and
    * predicates stay in the column's type; a dimension with no non-null
    * value buckets everything to 0); a STRING dimension through an
    * ORDER-PRESERVING dictionary — distinct values ranked
    * lexicographically (dictionary-sized: one distinct + one window over
    * the dictionary, broadcast back), so per-file min/max string stats
    * stay tight and a string range/equality predicate prunes files like
    * any other type. Hashing would be cheaper but destroys ordering —
    * every file would span the whole string domain and nothing would
    * ever prune.
    */
  private[core] def writeClustered(df: DataFrame, dims: Seq[String],
                                   files: Int, path: String): Unit =
    if (dims.length == 1)
      df.repartitionByRange(files, col(dims.head))
        .sortWithinPartitions(dims.head)
        .write.parquet(path)
    else
      withMortonKey(df, dims)
        .repartitionByRange(files, col("__z"))
        .sortWithinPartitions("__z")
        // restore the ORIGINAL column order (the dictionary join moves
        // its key to the front) — the stored schema must equal the
        // session's
        .select(df.columns.map(col).toSeq: _*)
        .write.parquet(path)

  /** `df` plus the `__z` Morton key of [[writeClustered]]. */
  private def withMortonKey(df: DataFrame, dims: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    def kind(c: String): Char = df.schema(c).dataType match {
      case _: NumericType => 'n'
      case TimestampType | TimestampNTZType | DateType => 't'
      case StringType => 's'
      case other => throw new IllegalArgumentException(
        s"z-order needs numeric/timestamp/date/string columns; '$c' is $other")
    }
    def dimd(c: String): org.apache.spark.sql.Column =
      if (kind(c) == 'n') col(c).cast("double")
      else col(c).cast("timestamp").cast("double") // epoch seconds
    val scaled = dims.filter(kind(_) != 's')
    val mm: Map[String, (Double, Double)] =
      if (scaled.isEmpty) Map.empty
      else {
        val r = df.agg(min(dimd(scaled.head)), (max(dimd(scaled.head)) +:
          scaled.tail.flatMap(c => Seq(min(dimd(c)), max(dimd(c))))): _*)
          .head()
        scaled.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(2 * i)) (0.0, 0.0)
                else (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
        }.toMap
      }
    var prep = df
    val strRank = dims.filter(kind(_) == 's').map { c =>
      val dict = df.select(col(c)).na.drop().distinct()
      val n = dict.count()
      require(n <= (1L << 16),
        s"string z-dimension '$c' has $n distinct values (max 65536); " +
          "pre-bucket it or use a numeric surrogate")
      // dictionary-sized global window — this IS a dictionary build.
      // The rank SCALES across the full 16-bit domain (monotone, so
      // order-preserving): a low-cardinality dictionary left at ranks
      // 0..n would occupy only the interleave's LOW bits and never
      // separate files, exactly like an unscaled narrow numeric range.
      val scale = 65535L / math.max(n - 1L, 1L)
      val ranked = dict.withColumn(s"__zr_$c",
        ((org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col(c)))
          .cast("long")) - 1L) * scale)
      prep = prep.join(broadcast(ranked), Seq(c), "left")
      c -> s"__zr_$c"
    }.toMap
    def bucket(c: String): org.apache.spark.sql.Column =
      if (strRank.contains(c)) coalesce(col(strRank(c)), lit(0L))
      else {
        val (lo, hi) = mm(c)
        val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
        ((dimd(c) - lo) / span * ((1 << 16) - 1)).cast("long")
      }
    prep.withColumn("__z",
      graft.operators.ZOrder.zValue(dims.map(bucket), bitsPer = 16))
  }

  /** Build and register a [[Catalog.ClusteredLayout]] on `dims` (the
    * session's rows clustered by [[writeClustered]], plus a per-file
    * min/max index over every dimension built in one scan). Durable like
    * every file-backed layout: stats sidecar, manifest entry,
    * digest-gated reopen, and with an `idCol` a row-signature sidecar
    * for diverged-reopen patching.
    */
  private[core] def buildClustered(name: String, dims: Seq[String],
                                   files: Int,
                                   idCol: Option[String]): String = {
    val s = sessionOf(name)
    val base = Positional.strip(s.current)
    val n = dims.length
    val (dir, rel) = layoutRoot(ClusteredLayout.dirPrefix(n))
    val path = s"$dir/${ClusteredLayout.subdir(n)}"
    writeClustered(base, dims, files, path)
    val stats = graft.io.SkippingIndex.build(spark, path, dims)
      .localCheckpoint(true) // manifest-sized; pin so probes don't rescan
    val slot = ClusteredLayout.slot(dims)
    layouts((name, slot)) =
      ClusteredLayout(dims, path, stats, files, base.columns.toSeq, s.epoch,
        idCol = idCol)
    rel.foreach { r =>
      stats.write.parquet(dir + "/stats") // file-count-sized sidecar
      idCol.foreach(id => writeRowSig(base, dir, col(id), Seq.empty))
      persistEntry(ClusteredLayout.encode(LayoutManifestEntry(
        session = name, slot = slot, kind = ClusteredLayout.kind(n),
        digest = contentDigest(base, Seq.empty), path = Some(r),
        files = Some(files)), dims, idCol))
    }
    path
  }

  /** Range-cluster the session on one column with a min/max
    * file-skipping index ([[graft.io.SkippingIndex]] — the Delta/Iceberg
    * data-skipping shape) and register it; [[rangeScan]] on this column
    * then opens only the part files whose value range intersects the
    * predicate. Passing an `idCol` makes the layout DML-PATCHABLE (see
    * [[Catalog.ClusteredLayout]]): bounded edits/inserts/deletes refresh
    * without re-clustering.
    */
  def buildRangedLayout(name: String, column: String, files: Int = 8,
                        idCol: Option[String] = None): String =
    buildClustered(name, Seq(column), files, idCol)

  /** Z-order the session on two or three columns (time × entity × type
    * is the canonical events box) and register the layout; a
    * [[rangeScanBox]] on the same columns, or SQL text bounding all of
    * them, then prunes part files on EVERY dimension. The 2-D slot keeps
    * the build order (a box in either order finds it); the 3-D slot
    * sorts the names. See [[writeClustered]] for the per-type buckets.
    */
  def buildZOrderedLayout(name: String, dims: Seq[String], files: Int = 16,
                          idCol: Option[String] = None): String = {
    require((dims.length == 2 || dims.length == 3) &&
      dims.distinct.length == dims.length,
      s"need two or three distinct dimensions, got $dims")
    buildClustered(name, dims, files, idCol)
  }

  /** Serving view of a full-row layout's (possibly patched) pruned
    * read: base files minus the shadowed ids (broadcast anti-join on
    * the layout's OWN id column) plus the unclustered add-leg — the
    * caller's exact predicate on top keeps answers byte-identical, and
    * the skipping stats stay truthful because base files never change.
    */
  private[core] def patchedFullRows(base: DataFrame, idCol: Option[String],
                              patch: Option[LayoutPatch]): DataFrame =
    (idCol, patch) match {
      case (Some(id), Some(pt)) =>
        base.join(broadcast(pt.removed), base(id) === pt.removed("id"),
            "left_anti")
          .unionByName(pt.add)
      case _ => base
    }

  /** A clustered layout's pruned base plus patch: the part files the
    * skipping stats keep for `bounds` (one optional (lo, hi) per
    * dimension, in `l.dims` order; no candidate file reads as the empty
    * relation, zero file I/O), with the DML patch composed on top — the
    * add-leg is never pruned, shadowed base rows never serve. The caller
    * applies the exact predicate.
    */
  private[core] def prunedClustered(l: ClusteredLayout,
                                    bounds: Seq[(Option[Any], Option[Any])])
      : DataFrame = {
    val files = graft.io.SkippingIndex.candidateFiles(l.stats, bounds)
    val base =
      if (files.isEmpty) spark.read.parquet(l.path).limit(0)
      else spark.read.parquet(files: _*)
    patchedFullRows(base, l.idCol, l.patch)
  }

  /** `df` filtered to the closed box — `col ∈ [lo, hi]` per entry. */
  private[core] def boxFilter(df: DataFrame,
                              boxes: Seq[(String, Any, Any)]): DataFrame =
    boxes.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }

  /** The routed box scan over a clustered layout whose dimensions are
    * exactly the box's columns (any order): the pruned base plus patch,
    * the exact box predicate on top. Shared by [[rangeScan]],
    * [[rangeScanBox]] and the pinned [[rangeScanAsOf]].
    */
  private[core] def serveBox(l: ClusteredLayout,
                             boxes: Seq[(String, Any, Any)]): DataFrame = {
    val byCol = boxes.map { case (c, lo, hi) => c -> (Some(lo), Some(hi)) }.toMap
    boxFilter(prunedClustered(l, l.dims.map(byCol)), boxes)
  }

  /** Box predicate scan, layout-routed: a valid clustered layout on
    * exactly the box's columns serves the conjunctive box from the
    * clustered files via the skipping index — every dimension prunes;
    * the exact predicate re-applies after pruning, so answers are
    * byte-identical. No valid layout → plain filter over the live plan.
    */
  private def scanBox(name: String, boxes: Seq[(String, Any, Any)]): DataFrame = {
    val cols = boxes.map(_._1)
    val tried = ClusteredLayout.slotsFor(cols).map(decide(name, _, {
      case l: ClusteredLayout => l.dims.toSet == cols.toSet
      case _ => false
    }))
    // the slot that routes; else the last one that exists (its stale or
    // mismatched layout explains the fallback); else the first
    val (lay, rep) = tried.find(_._1.isDefined)
      .orElse(tried.reverse.find(_._2.reason != "no-layout"))
      .getOrElse(tried.head)
    recordRoute(rep)
    lay match {
      case Some(l: ClusteredLayout) => serveBox(l, boxes)
      case _ => boxFilter(Positional.strip(sessionOf(name).current), boxes)
    }
  }

  /** Box predicate scan on two or three columns, layout-routed through
    * the z-ordered layout on those columns (any order; an equality
    * predicate is the degenerate box `lo == hi`); otherwise a plain
    * conjunctive filter over the live session plan.
    */
  def rangeScanBox(name: String, boxes: Seq[(String, Any, Any)]): DataFrame = {
    require((boxes.length == 2 || boxes.length == 3) &&
      boxes.map(_._1).distinct.length == boxes.length,
      s"need bounds on two or three distinct columns, got ${boxes.map(_._1)}")
    scanBox(name, boxes)
  }

  /** Range predicate scan, layout-routed: a valid ranged layout on
    * (session, column) serves `column ∈ [lo, hi]` from the clustered
    * files via the skipping index (most part files never open — the
    * exact predicate re-applies after pruning, so the answer is
    * byte-identical); otherwise a plain filter over the live session
    * plan. The catalog picks — callers state the predicate, never the
    * layout.
    */
  def rangeScan(name: String, column: String, lo: Any,
                hi: Any): DataFrame =
    scanBox(name, Seq((column, lo, hi)))

  /** ANN top-k, layout-routed: a valid stored ANN layout on (session,
    * vecCol) serves the search from codes at rest (PQ: compressed-domain
    * scan; IVF-PQ: plan-time cell pruning first); otherwise the exact
    * brute-force cosine over the live session plan. Same output shape
    * (id, sim) either way — the caller never names a layout. The layout
    * routes only when its idCol equals the caller's (the [[nearDups]]
    * guard, ADVICE r8): stored codes are keyed by the ids the layout was
    * built with, and serving those under a different caller-named id
    * column would change the answer, not just the plan.
    */
  def topK(name: String, idCol: String, vecCol: String, query: Seq[Float],
           k: Int): DataFrame = {
    val (lay, rep) = decide(name, s"ann:$vecCol", {
      case l: PqCodesLayout => l.idCol == idCol
      case l: IvfPqCellLayout => l.idCol == idCol
      case _ => false
    })
    recordRoute(rep)
    lay.flatMap(serveAnnTopK(_, idCol, query, k)).getOrElse(
      graft.operators.Similarity.topK(
        Positional.strip(sessionOf(name).current), idCol, vecCol, query, k))
  }

  /** The routed ANN serving plan of a stored-codes layout built with the
    * caller's idCol (None otherwise) — shared by [[topK]] and
    * [[topKAsOf]] so the two can never drift.
    */
  private[core] def serveAnnTopK(l: TableLayout, idCol: String,
                           query: Seq[Float], k: Int): Option[DataFrame] =
    l match {
      case pq: PqCodesLayout if pq.idCol == idCol =>
        Some(graft.operators.Similarity.pqTopKFromCodes(
          patchedCodes(spark.read.parquet(pq.path), pq.patch), pq.seeds,
          query, k, pq.m))
      case iv: IvfPqCellLayout if iv.idCol == idCol =>
        Some(graft.operators.Similarity.ivfPqTopKFromCodes(
          patchedCodes(spark.read.parquet(iv.path), iv.patch), iv.cents,
          iv.seeds, query, k, iv.nProbe, iv.m))
      case _ => None
    }

  /** Equi-join of two open sessions, layout-routed: when BOTH sides hold
    * valid bucketed layouts on their join keys with matching bucket
    * counts, the join reads the bucketed tables and plans with NO
    * exchange (co-located by storage); otherwise the live session plans
    * join and Catalyst shuffles as usual. The catalog picks — callers
    * never mention buckets.
    */
  def join(left: String, leftKey: String, right: String,
           rightKey: String): DataFrame = {
    val (ld, lrep) = decide(left, s"bucket:$leftKey",
      _.isInstanceOf[BucketedLayout])
    val (rd, rrep) = decide(right, s"bucket:$rightKey",
      _.isInstanceOf[BucketedLayout])
    val routed = for {
      ll <- ld.collect { case b: BucketedLayout => b }
      rl <- rd.collect { case b: BucketedLayout => b }
      if ll.buckets == rl.buckets
    } yield (spark.table(ll.table), spark.table(rl.table))
    // both sides valid but bucket counts differ = a parameter mismatch
    // of the PAIR: each side alone would route, the join cannot
    if (ld.isDefined && rd.isDefined && routed.isEmpty) {
      recordRoute(lrep.copy(decision = "live", reason = "param-mismatch"))
      recordRoute(rrep.copy(decision = "live", reason = "param-mismatch"))
    } else { recordRoute(lrep); recordRoute(rrep) }
    val (lf, rf) = routed.getOrElse(
      (Positional.strip(sessionOf(left).current),
        Positional.strip(sessionOf(right).current)))
    lf.join(rf, lf(leftKey) === rf(rightKey))
  }

  /** Catalog-routed as-of join (r11 verdict task #2): the left side (a
    * query batch — the feature-store probe set) as-of joins a SESSION
    * whose time column carries a ranged layout, and the right-side scan
    * is PRUNED to the left side's time envelope through the layout's
    * skipping stats before the merge-and-carry shuffle. At 100 TB the
    * un-pruned right-side scan dominates the PIT/as-of family; the
    * envelope turns it into "read the files the probe window can reach".
    *
    * The envelope is EXACT, not heuristic — answers are byte-identical
    * to [[graft.operators.AsOfJoin]] over the full right side:
    *  - backward: right rows with `ts > max(left.ts)` can never be the
    *    at-or-before match of any left row → the upper side always
    *    prunes. The lower side prunes only under a TOLERANCE bound:
    *    a match staler than the bound is voided to null by the operator
    *    itself, so right rows below `min(left.ts) − tolerance` either
    *    are not carried or are carried-then-voided — exactly what the
    *    pruned plan produces for them too (files straddling the bound
    *    keep their rows; voiding re-applies per row).
    *  - forward: mirror image (`lo = min(left.ts)`,
    *    `hi = max(left.ts) + tolerance`).
    * Without a tolerance the stale-side file set stays un-pruned — the
    * nearest predecessor per key can be arbitrarily old, and guessing
    * would change answers.
    *
    * Cost of the envelope: one min/max aggregate over the (batch-sized)
    * left side, driver-resolved before planning. The DML patch composes
    * on the pruned base (add rows are never pruned; shadowed base rows
    * never serve) exactly as in [[prunedClustered]]. No valid layout →
    * the live session plan, same operator, same answer.
    */
  def asofJoin(left: DataFrame, rightName: String, keyCol: String,
               tsCol: String, carry: Seq[String],
               carryPrefix: String = "asof_",
               tiebreak: Option[String] = None,
               toleranceUs: Option[Long] = None,
               forward: Boolean = false): DataFrame = {
    val (lay, rep) = decide(rightName, ClusteredLayout.slot(Seq(tsCol)),
      _.isInstanceOf[ClusteredLayout])
    val needed = (Seq(keyCol, tsCol) ++ carry).distinct
    def run(right: DataFrame): DataFrame = {
      val r = right.select(needed.map(col): _*)
      if (forward)
        graft.operators.AsOfJoin.asofForward(left, r, keyCol, tsCol,
          carry, carryPrefix, tiebreak, toleranceUs)
      else
        graft.operators.AsOfJoin.asofBackward(left, r, keyCol, tsCol,
          carry, carryPrefix, tiebreak, toleranceUs)
    }
    lay match {
      case Some(l: ClusteredLayout) =>
        val mm = left.agg(min(col(tsCol)), max(col(tsCol))).head()
        if (mm.isNullAt(0)) { // empty probe side: nothing can match
          recordRoute(rep.copy(reason = "asof-empty-left"))
          return run(Positional.strip(sessionOf(rightName).current).limit(0))
        }
        val (minL, maxL) = (mm.get(0), mm.get(1))
        def widen(v: Any, us: Long): Option[Any] = v match {
          case t: java.sql.Timestamp =>
            Some(java.sql.Timestamp.from(t.toInstant.plusNanos(us * 1000L)))
          case i: java.time.Instant => Some(i.plusNanos(us * 1000L))
          case _ => None // non-timestamp axis: skip the stale-side prune
        }
        val (lo, hi) =
          if (forward)
            (Some(minL), toleranceUs.flatMap(t => widen(maxL, t)))
          else
            (toleranceUs.flatMap(t => widen(minL, -t)), Some(maxL))
        recordRoute(rep.copy(reason = "asof-pruned"))
        run(prunedClustered(l, Seq((lo, hi))))
      case _ =>
        recordRoute(rep)
        run(Positional.strip(sessionOf(rightName).current))
    }
  }

}
