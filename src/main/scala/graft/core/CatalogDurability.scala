package graft.core

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Catalog._

/** Durable-warehouse plumbing: layout root dirs, content digests and row signatures, manifest persistence, reopen re-attachment (digest-gated), and divergence reconciliation.
  *
  * An internal implementation seam of [[Catalog]] (split out of the
  * single-file class, r11 verdict task #7): every member here is
  * Catalog implementation detail with zero behavior change — the trait
  * exists so the file stays navigable, not as user API.
  */
trait CatalogDurability { self: Catalog =>
  /** Root dir for a new file-backed layout build: under the warehouse
    * (durable, manifest-recorded — second element is the path relative to
    * the warehouse) or a JVM-temp dir cleaned at exit (second element
    * None).
    */
  private[core] def layoutRoot(prefix: String): (String, Option[String]) =
    warehouse match {
      case Some(wh) =>
        val rel = s"$prefix${catalogId}_${layoutSeq.incrementAndGet()}"
        (s"$wh/$rel", Some(rel))
      case None => (layoutTempDir(prefix), None)
    }

  /** The columns of `df` as hashable expressions: map-typed columns hash
    * via their JSON rendering (hash functions reject maps; `to_json` is
    * deterministic per row).
    */
  private[core] def hashableCols(df: DataFrame,
      cols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val use = if (cols.isEmpty) df.columns.toSeq else cols
    use.map { c =>
      if (hasMap(df.schema(c).dataType)) to_json(col(c)) else col(c)
    }
  }

  /** Order-free content digest `rowHashSum:rowCount` of a projection of
    * `df` (empty `cols` = every column). Sum of per-row xxhash64 values
    * in decimal(38,0), so any partitioning and any merge order produce
    * the same digits; map-typed columns hash via their JSON rendering
    * (hash functions reject maps — key order in that rendering is
    * whatever `to_json` emits, which is deterministic for a given row).
    *
    * Because the digest is a SUM, a delta refresh maintains it without a
    * scan ([[incrementalDigest]]). The full, column-pruned pass runs only
    * where no pre-image exists: at build time (noise next to the
    * encode), at re-attach time (the price of never serving another
    * table's stored codes — still far cheaper than a rebuild), and for a
    * refresh whose delta is unbounded or older than the retained history.
    */
  private[core] def contentDigest(df: DataFrame, cols: Seq[String]): String = {
    val r = df.agg(
      sum(xxhash64(hashableCols(df, cols): _*).cast("decimal(38,0)")).as("h"),
      count(lit(1)).as("n")).head()
    s"${Option(r.get(0)).getOrElse(0)}:${r.getLong(1)}"
  }

  /** Σ xxhash64 over `rows`' projection `cols` (empty = every column but
    * `__pos`), exactly as [[contentDigest]] sums it. `rows` is a local
    * relation, so the projection evaluates on the driver: no job.
    */
  private[core] def hashSum(rows: DataFrame, cols: Seq[String]): BigInt = {
    val df = Positional.strip(rows)
    df.select(xxhash64(hashableCols(df, cols): _*)).collect()
      .foldLeft(BigInt(0))((acc, r) => acc + r.getLong(0))
  }

  /** The digest of a table after a delta, from the digest before it:
    * `old − Σ hash(pre rows) + Σ hash(post rows)`, and the count moved
    * by the inserted minus the deleted rows. None when `old` is not a
    * digest string.
    */
  private[core] def incrementalDigest(old: String, cols: Seq[String],
                                      pre: DataFrame, post: DataFrame,
                                      dCount: Long): Option[String] = {
    val i = old.lastIndexOf(':')
    Try((BigInt(old.substring(0, i)), old.substring(i + 1).toLong)).toOption
      .map { case (h, n) =>
        s"${h - hashSum(pre, cols) + hashSum(post, cols)}:${n + dCount}"
      }
  }

  /** One order-free signature per layout key: the decimal sum of the
    * relevant columns' per-row hashes, grouped by `key` — a multi-row
    * key (repeated id, a cube group) signs as the sum of its rows. The
    * build-time persisted form of this is what a DIVERGED reopen diffs
    * against ([[divergedAttach]], r9 task #4): key-level change
    * detection costs one narrow pass, never a re-encode.
    */
  private[core] def rowSignature(df: DataFrame,
                           key: org.apache.spark.sql.Column,
                           cols: Seq[String]): DataFrame =
    df.groupBy(key.as("id"))
      .agg(sum(xxhash64(hashableCols(df, cols): _*)
        .cast("decimal(38,0)")).as("sig"))

  /** The (signature key, hashed columns) recipe of a manifest entry's
    * layout kind; throws for the bucketed kind and for clustered entries
    * built without a shadow key — no key a patch could shadow by.
    */
  private[core] def sigSpec(e: LayoutManifestEntry)
      : (org.apache.spark.sql.Column, Seq[String]) = e.kind match {
    case "pq" | "ivfpq" | "lsh" | "postings" =>
      (col(e.idCol.get), Seq(e.idCol.get, e.valueCol.get))
    case "cube" =>
      (to_json(struct(e.groupCols.get.map(col): _*)),
        e.groupCols.get ++ e.measures.get)
    case "sketch" =>
      (to_json(struct(e.groupCols.get.map(col): _*)),
        e.groupCols.get :+ e.valueCol.get)
    case "pairs" =>
      val cols = e.groupCols.get :+ e.valueCol.get
      (to_json(struct(cols.map(col): _*)), cols)
    case other => e match {
      case ClusteredEntry(_, Some(key)) =>
        (col(key), Seq.empty) // full rows: hash every column
      case _ =>
        throw new IllegalStateException(s"no row signature for '$other'")
    }
  }

  /** The source projection a manifest entry's digest covers. */
  private[core] def digestColsOf(e: LayoutManifestEntry): Seq[String] =
    e.kind match {
      case "pq" | "ivfpq" | "lsh" | "postings" =>
        Seq(e.idCol.get, e.valueCol.get)
      case "cube" => e.groupCols.get ++ e.measures.get
      case "sketch" | "pairs" => e.groupCols.get :+ e.valueCol.get
      case _ => Seq.empty
    }

  /** Persist the build-time row-signature sidecar next to a durable
    * layout's files (key-count-sized, one narrow pass).
    */
  private[core] def writeRowSig(base: DataFrame, dir: String,
                          key: org.apache.spark.sql.Column,
                          cols: Seq[String]): Unit =
    rowSignature(base, key, cols).write.parquet(dir + "/rowsig")

  private[core] var persistsSinceVacuum = 0

  // ---- writer fencing (r11 verdict task #4) -------------------------------
  // The warehouse is documented single-writer, but nothing used to make
  // the assumption FAIL-FAST: the manifest is rewritten whole from the
  // writer's in-memory map on every persist, so a second concurrent
  // writer process would silently clobber the first's entries on each
  // alternation. A fencing token (`<warehouse>/_writer`: "epoch:uuid")
  // makes the takeover explicit — a catalog acquires the token with
  // epoch+1 before its FIRST manifest persist, re-reads it before every
  // later one, and throws the moment another catalog has taken over.
  // Read-only catalogs (serve, vacuum — both marks and pin leases merge
  // by design) never touch the token. Attach is read-only UNLESS it must
  // reconcile — a diverged reopen or a legacy-entry scalar backfill
  // persists the reconciled entry, and that IS a write: the reconciling
  // catalog takes the token like any other writer, and a still-running
  // previous writer fails fast on its next persist rather than
  // clobbering the reconciliation. The acquire is
  // read-then-overwrite, not atomic: under a true race both writers may
  // stamp the same epoch, and the loser's NEXT persist still fails fast
  // because its uuid is gone — convergence is what the guard needs, not
  // mutual exclusion.
  //
  // Fenced-READER law (r12 verdict task #7, pinned by WriterFencingSpec):
  // fencing stops a superseded catalog's WRITES only; its reads keep
  // serving the state it last validated — its own in-memory sessions and
  // the layouts it built or digest-attached from them. That is snapshot
  // isolation for the stale process: never a fencing error on a read,
  // never a silent mix with the new writer's state. Continuity of the
  // underlying FILES against the new writer's vacuum is the pin lease's
  // job (vacuum honors leases and the grace window cross-process); an
  // unpinned stale reader is guaranteed only grace-window continuity,
  // the same contract every long-running reader already has.

  private[core] val writerId = java.util.UUID.randomUUID().toString
  private[core] var writerToken: Option[(Long, String)] = None

  private def writerPath(wh: String) =
    new org.apache.hadoop.fs.Path(s"$wh/_writer")

  private def readWriterToken(wh: String): Option[(Long, String)] = {
    val p = writerPath(wh)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      val i = s.indexOf(':')
      (s.substring(0, i).toLong, s.substring(i + 1))
    }.toOption
  }

  /** Acquire (or verify) this catalog's writer token before a manifest
    * persist. Throws IllegalStateException once ANOTHER catalog has
    * taken the warehouse over — this instance must re-open to write
    * again, with a fresh view of the manifest it no longer owns.
    */
  private[core] def fenceWriter(wh: String): Unit = writerToken match {
    case None =>
      val next = readWriterToken(wh).map(_._1).getOrElse(0L) + 1L
      val p = writerPath(wh)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(s"$next:$writerId".getBytes("UTF-8"))
      finally out.close()
      writerToken = Some((next, writerId))
    case Some(held) =>
      val cur = readWriterToken(wh)
      if (!cur.contains(held))
        throw new IllegalStateException(
          s"fenced: warehouse '$wh' writer token is now " +
            s"${cur.map(t => s"epoch ${t._1}").getOrElse("absent")} but this " +
            s"catalog holds epoch ${held._1} — another Catalog took over " +
            "the single-writer role; open a fresh Catalog to write again")
  }

  /** The entries a [[persistBatched]] block has persisted so far, keyed
    * like [[manifest]]; empty outside such a block. Per thread and not
    * inherited: a thread started inside the block (Spark starts pool
    * threads on demand) must neither write into the batch nor keep it
    * alive after the block ends.
    */
  private val manifestBatch = ThreadLocal.withInitial[
    Option[mutable.LinkedHashMap[(String, String), LayoutManifestEntry]]](
    () => None)

  /** The manifest entry of (session, slot), as persisted so far —
    * including an entry an enclosing [[persistBatched]] block holds.
    */
  private[core] def manifestEntry(name: String,
                                  slot: String): Option[LayoutManifestEntry] =
    manifestBatch.get.flatMap(_.get((name, slot)))
      .orElse(manifest.get((name, slot)))

  private[core] def persistEntry(e: LayoutManifestEntry): Unit =
    warehouse.foreach { wh =>
      manifestBatch.get match {
        case Some(batch) => batch((e.session, e.slot)) = e
        case None => saveEntries(wh, Seq(e))
      }
    }

  /** Run `body` persisting its manifest entries in ONE write at the end —
    * one fence and one [[LayoutStore.save]] however many slots it patches
    * (a `REFRESH TABLE` over a cube and a pairs layout used to write the
    * manifest twice). The entries still count one by one toward the
    * auto-vacuum cadence. A body that throws still persists what it
    * already applied in memory.
    */
  private[core] def persistBatched[T](body: => T): T = {
    val batch =
      mutable.LinkedHashMap.empty[(String, String), LayoutManifestEntry]
    var done = false
    manifestBatch.set(Some(batch))
    try {
      val out = body
      done = true
      out
    } finally {
      manifestBatch.set(None)
      warehouse.foreach { wh =>
        if (batch.nonEmpty) {
          // a failed body's own exception wins over a failed write
          if (done) saveEntries(wh, batch.values.toSeq)
          else Try(saveEntries(wh, batch.values.toSeq))
        }
      }
    }
  }

  private def saveEntries(wh: String, es: Seq[LayoutManifestEntry]): Unit = {
    fenceWriter(wh) // BEFORE the manifest mutates: a fenced writer
                    // must not half-apply anything
    es.foreach(e => manifest((e.session, e.slot)) = e)
    LayoutStore.save(spark, wh, manifest.values.toSeq)
    // self-cleaning maintenance loop: every few manifest writes, GC
    // what those writes superseded (grace-guarded — see [[vacuum]])
    val total = persistsSinceVacuum + es.size
    persistsSinceVacuum = total % Catalog.autoVacuumEvery
    if (total >= Catalog.autoVacuumEvery) { vacuum(); () }
  }

  /** Re-attach persisted layouts to a freshly (re)opened session: each
    * manifest entry under this name routes again only if the new
    * session's relevant columns reproduce the digest its build recorded.
    * A mismatch (different data under a reused name, or a column gone)
    * leaves the entry dormant and logs a `digest-mismatch` decision in
    * [[recentRoutes]] — queries fall back to live plans, never to
    * another table's stored bytes.
    */
  private[core] def attachFromManifest(name: String, s: EditorSession): Unit =
    warehouse.foreach { wh =>
      val entries = manifest.collect {
        case ((n, slot), e) if n == name => (slot, e)
      }.toSeq
      if (entries.nonEmpty) {
        val base = Positional.strip(s.current)
        entries.foreach { case (slot, e) =>
          val matches =
            Try(contentDigest(base, digestColsOf(e)) == e.digest)
              .getOrElse(false)
          val attached =
            if (matches) reconstruct(wh, e, s.epoch, base)
            else divergedAttach(wh, e, s, base)
          attached match {
            case Some(l) => layouts((name, slot)) = l
            case None => recordRoute(RouteReport(slot, "live",
              "digest-mismatch")); ()
          }
        }
      }
    }

  /** Attach a manifest entry whose digest no longer matches the
    * (re)opened session's table — the durable-delta path (r9 task #4):
    * the session mutation log died with the old process, but the
    * build-time row-signature sidecar survives, so key-level divergence
    * is recoverable by DIFFING signatures instead of replaying gestures.
    * When the diff is bounded (≤ [[deltaMaxRows]] keys changed, added,
    * or removed), exactly the changed keys re-encode into a complete
    * REPLACEMENT patch (superseding any persisted one — the diff is
    * against build state, so it subsumes it), the manifest re-records
    * the new digest, and the layout attaches patched: the corpus-sized
    * base is never re-encoded, let alone rewritten. None (dormant →
    * live fallback, exactly the old digest-mismatch behavior) when the
    * sidecar is absent (pre-r10 build), the kind stores full rows, the
    * divergence exceeds the bound, or any column vanished.
    */
  private[core] def divergedAttach(wh: String, e: LayoutManifestEntry,
                             s: EditorSession,
                             base: DataFrame): Option[TableLayout] = Try {
    val (key, hcols) = sigSpec(e)
    val old = spark.read.parquet(s"$wh/${e.path.get}/rowsig")
    val now = rowSignature(base, key, hcols)
    val changed = old.join(now, old("id") === now("id"), "full_outer")
      .filter(!(old("sig") <=> now("sig")))
      .select(coalesce(old("id"), now("id")).as("id"),
        now("id").isNotNull.as("present"))
      .limit(deltaMaxRows + 1).collect()
    require(changed.length <= deltaMaxRows,
      s"divergence ${changed.length} keys exceeds the delta bound")
    // a NULL key can't be shadowed (the serve-side anti-join and the
    // re-encode filter both skip nulls), so a divergence touching one
    // must decline — dormant beats silently serving the stale row
    require(!changed.exists(_.isNullAt(0)), "null layout key in divergence")
    val presentIds = changed.filter(_.getBoolean(1)).map(_.get(0)).toSeq
    val rows =
      if (presentIds.isEmpty) base.limit(0)
      else base.filter(key.isInCollection(presentIds))
    def seedArr = e.seeds.get.map(v => v: scala.collection.Seq[Float]).toArray
    val add0 = e.kind match {
      case "pq" =>
        graft.operators.Similarity.pqCodes(rows, e.idCol.get,
          e.valueCol.get, seedArr, e.m.get)
      case "ivfpq" =>
        graft.operators.Similarity.ivfPqEncodeWith(rows, e.idCol.get,
          e.valueCol.get, e.cents.get.map(c => (c.cid, c.vec)), seedArr,
          e.m.get)
      case "lsh" =>
        graft.operators.Dedup.lshIndex(rows, e.idCol.get, e.valueCol.get,
          e.n.get, e.numHashes.get, e.bands.get)
      case "postings" =>
        graft.operators.Retrieval.postingsRowsFor(rows, e.idCol.get,
          e.valueCol.get, e.n.get)
      case "cube" => cubeRows(rows, e.groupCols.get, e.measures.get)
      case "sketch" =>
        sketchRows(rows, e.groupCols.get, e.valueCol.get, e.n.get)
      case "pairs" => pairsRows(rows, e.groupCols.get, e.valueCol.get)
      case _ => // clustered: sigSpec above admits no other kind
        val ClusteredEntry(dims, _) = e
        // full rows ARE the add-leg; the serve-side union needs the
        // reopened schema to equal the stored one (a drifted schema
        // would fail lazily at serve time — decline eagerly instead)
        val sub = ClusteredLayout.subdir(dims.length)
        require(spark.read.parquet(s"$wh/${e.path.get}/$sub")
          .columns.toSet == base.columns.toSet, "schema drift")
        rows
    }
    val keyName = e match {
      case ClusteredEntry(_, key) => key.get
      case _ => "id"
    }
    val patch = mergedPatch(changed.map(_.get(0)), None, add0, keyName).get
    val scalars = e.kind match {
      // the corpus moved, so the stored BM25 scalars did too
      case "postings" =>
        val (nDocs, avgdl) = graft.operators.Retrieval.postingsStats(
          base, e.valueCol.get)
        (Some(nDocs), Some(avgdl))
      case _ => (e.nDocs, e.avgdl)
    }
    val e2 = e.copy(patch = patch.path,
      digest = contentDigest(base, digestColsOf(e)),
      nDocs = scalars._1, avgdl = scalars._2)
    // reconstruct FIRST: the manifest must never get ahead of reality
    // (ADVICE r10 — a persisted-then-failed attach would send the next
    // reopen down the fast digest path onto storage this run never
    // validated; it still degrades safely to live, but the recorded
    // state would be a lie)
    val attached = reconstruct(wh, e2, s.epoch, base)
    attached.foreach(_ => persistEntry(e2))
    attached
  }.toOption.flatten

  /** Rebuild the in-memory layout object a manifest entry describes.
    * None if its storage is unusable (e.g. a bucketed table missing from
    * this metastore, files deleted) — the caller treats that like a
    * digest mismatch.
    */
  private[core] def reconstruct(wh: String, e: LayoutManifestEntry,
                          epoch: Long,
                          base: DataFrame): Option[TableLayout] = Try {
    def seedArr: Array[scala.collection.Seq[Float]] =
      e.seeds.get.map(s => s: scala.collection.Seq[Float]).toArray
    def patch: Option[LayoutPatch] = e.patch.map { pr =>
      LayoutPatch(spark.read.parquet(s"$wh/$pr/add"),
        spark.read.parquet(s"$wh/$pr/removed"), Some(pr))
    }
    e.kind match {
      case "pq" =>
        PqCodesLayout(e.idCol.get, e.valueCol.get,
          s"$wh/${e.path.get}/codes", seedArr, e.m.get, epoch, patch)
      case "ivfpq" =>
        IvfPqCellLayout(e.idCol.get, e.valueCol.get,
          s"$wh/${e.path.get}/codes", e.cents.get.map(c => (c.cid, c.vec)),
          seedArr, e.m.get, e.nProbe.get, epoch, patch)
      case "bucket" =>
        require(spark.catalog.tableExists(e.table.get),
          s"bucketed table ${e.table.get} not in this metastore")
        BucketedLayout(e.valueCol.get, e.table.get, e.buckets.get, epoch)
      case "lsh" =>
        // parquet-backed: the stored index is already at rest, no
        // checkpoint pin needed (that pin exists to avoid re-shingling a
        // LIVE plan)
        LshIndexLayout(e.idCol.get, e.valueCol.get, e.n.get,
          e.numHashes.get, e.bands.get,
          spark.read.parquet(s"$wh/${e.path.get}/index"), epoch, patch)
      case "postings" =>
        // a pre-r9 entry can lack the BM25 columns/scalars yet still
        // pass the digest gate (the digest covers the SOURCE columns,
        // not the stored index shape — ADVICE r9). Routing such a
        // layout would score BM25 from nDocs=0 / missing tf+dl:
        // schema drift declines the attach (live BM25 answers),
        // missing scalars backfill with one projection-agg pass.
        val storedCols =
          spark.read.parquet(s"$wh/${e.path.get}/postings").columns.toSet
        require(Set("term", "doc", "tf", "dl").subsetOf(storedCols),
          s"stored postings lack BM25 columns (${storedCols.mkString(",")})")
        val (nDocs, avgdl) = (e.nDocs, e.avgdl) match {
          case (Some(n), Some(a)) => (n, a)
          case _ =>
            val stats = graft.operators.Retrieval.postingsStats(
              base, e.valueCol.get)
            persistEntry(e.copy(nDocs = Some(stats._1),
              avgdl = Some(stats._2)))
            stats
        }
        PostingsLayout(e.idCol.get, e.valueCol.get, e.n.get,
          s"$wh/${e.path.get}/postings", epoch, patch,
          nDocs = nDocs, avgdl = avgdl)
      case "cube" =>
        CubeLayout(e.groupCols.get, e.measures.get,
          s"$wh/${e.path.get}/cube", epoch, patch)
      case "sketch" =>
        SketchLayout(e.groupCols.get, e.valueCol.get, e.n.get,
          s"$wh/${e.path.get}/sketches", epoch, patch)
      case "pairs" =>
        PairsLayout(e.groupCols.get, e.valueCol.get,
          s"$wh/${e.path.get}/pairs", epoch, patch)
      case _ => // clustered; any other kind fails the match: unusable
        val ClusteredEntry(dims, key) = e
        val stats = spark.read.parquet(s"$wh/${e.path.get}/stats")
          .localCheckpoint(true)
        val data = s"$wh/${e.path.get}/${ClusteredLayout.subdir(dims.length)}"
        ClusteredLayout(dims, data, stats, e.files.get,
          graft.io.SkippingIndex.storedColumns(spark, data), epoch,
          idCol = key, patch = patch)
    }
  }.toOption

  private[core] def sessionOf(name: String): EditorSession =
    sessions.getOrElse(name,
      throw new NoSuchElementException(s"no open session named '$name'"))

  /** Temp root for a file-backed layout, removed recursively at JVM exit
    * via the SHARED shutdown hook ([[Catalog.registerTempDir]] — one hook
    * draining a queue, not one hook per build, which would accumulate
    * unboundedly on a frequently edited session; ADVICE r8).
    * File.deleteOnExit cannot remove non-empty directories. Rebuilds
    * orphan the previous tree until exit; a lazily-planned reader may
    * still reference it.
    */
  private[core] def layoutTempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Catalog.registerTempDir(d)
    d.toString
  }
}
