package graft.core

import scala.util.Try
import org.apache.spark.sql.SparkSession

/** A coarse IVF centroid as stored in the layout manifest. */
final case class CentEntry(cid: Int, vec: Seq[Float])

/** One persisted layout, as recorded in a warehouse manifest: what kind of
  * layout, which (session, slot) it serves, the build parameters needed to
  * reconstruct the in-memory layout object, where its files live (relative
  * to the warehouse root), and a content digest of the source projection
  * it was built from.
  *
  * The digest is the re-attachment contract: epochs restart at 0 every
  * time a session (re)opens, so "built at epoch N" means nothing across
  * processes — instead, a reloaded layout routes only after the freshly
  * opened session's relevant columns hash to the SAME order-free digest
  * the build recorded. Opening a different table under a reused session
  * name can therefore never be served another table's stored codes.
  *
  * The generic fields carry each kind's parameters:
  *  - `pq` / `ivfpq`: `idCol`, `valueCol` = the vector column, `m`,
  *    `seeds` (ivfpq also `nProbe`, `cents`).
  *  - `lsh`: `idCol`, `valueCol` = the text column, `n`, `numHashes`,
  *    `bands`. `postings`: `idCol`, `valueCol` = the text column,
  *    `n` = the bucket count, `nDocs`, `avgdl`.
  *  - `bucket`: `table`, `valueCol` = the join key, `buckets`.
  *  - `cube`: `groupCols`, `measures`. `sketch`: `groupCols`,
  *    `valueCol`, `n` = lgK. `pairs`: `groupCols`, `valueCol`.
  *  - the clustered kinds ([[Catalog.ClusteredLayout]]), all with
  *    `files`: `range` (one dimension) keeps it in `valueCol` and the
  *    DML shadow key in `idCol`; `zorder` (two) keeps them in `valueCol`
  *    and `idCol`, in build order, and the shadow key in `keyCol`;
  *    `zorder3` (three) keeps them in `groupCols`, in build order, and
  *    the shadow key in `keyCol`.
  */
final case class LayoutManifestEntry(
    session: String, slot: String, kind: String,
    digest: String,
    path: Option[String] = None, table: Option[String] = None,
    idCol: Option[String] = None, valueCol: Option[String] = None,
    m: Option[Int] = None, nProbe: Option[Int] = None,
    buckets: Option[Int] = None, files: Option[Int] = None,
    n: Option[Int] = None, numHashes: Option[Int] = None,
    bands: Option[Int] = None,
    seeds: Option[Seq[Seq[Float]]] = None,
    cents: Option[Seq[CentEntry]] = None,
    patch: Option[String] = None,
    groupCols: Option[Seq[String]] = None,
    measures: Option[Seq[String]] = None,
    nDocs: Option[Long] = None,
    avgdl: Option[Double] = None,
    keyCol: Option[String] = None)

/** One registered materialized view, persisted with the warehouse
  * control plane (r13 verdict task #1 — the registry used to be
  * in-memory only, so a catalog reopen orphaned the MV's durable
  * layouts and broke every `SELECT ... FROM mv`): the name and the body
  * TEXT are the whole view — its serving layouts persist separately in
  * the layout manifest and re-attach through the ordinary digest gate.
  */
final case class MvEntry(name: String, body: String)

/** One vacuum tombstone: when `path` (warehouse-relative dir or absolute
  * data file) was first OBSERVED unreferenced. Persisted so the grace
  * window survives process restarts — a short-lived maintenance job's
  * strands still collect after the window, and a fresh process never
  * deletes something another process observed only seconds ago.
  */
final case class VacuumMark(path: String, since: Long)

/** Manifest IO for a durable [[Catalog]] warehouse: a tiny Spark-written
  * JSON dataset at `<warehouse>/_manifest` (control-plane data — one row
  * per layout, like a lakehouse table manifest). Spark is its own codec
  * here: no JSON library dependency, any Hadoop-compatible filesystem
  * works, and the explicit schema comes from the entry's encoder.
  * Single-writer per warehouse: the manifest is rewritten whole on every
  * build (layout-count-sized, not data-sized) — staged through a temp
  * dir + rename so a concurrent reader's "manifest absent" window is
  * two metadata operations, not a write job.
  */
object LayoutStore {

  private def manifestPath(warehouse: String) = s"$warehouse/_manifest"
  private def vacuumPath(warehouse: String) = s"$warehouse/_vacuum"

  def load(spark: SparkSession, warehouse: String): Seq[LayoutManifestEntry] =
    loadOpt(spark, warehouse).getOrElse(Nil)

  /** Like [[load]] but None when the manifest EXISTS yet cannot be read
    * (e.g. observed mid-rename, or corrupt): attach-time callers degrade
    * to a fresh warehouse, but a VACUUM must abort its pass rather than
    * treat a transient failure as "nothing is referenced". The read is
    * FAILFAST — a truncated part file must surface as None, never decode
    * PERMISSIVEly into null-field rows that unreference real dirs.
    */
  def loadOpt(spark: SparkSession,
              warehouse: String): Option[Seq[LayoutManifestEntry]] = {
    import spark.implicits._
    loadStaged(spark, manifestPath(warehouse), path => Try {
      spark.read
        .schema(org.apache.spark.sql.Encoders.product[LayoutManifestEntry].schema)
        .option("mode", "FAILFAST")
        .json(path)
        .as[LayoutManifestEntry]
        .collect()
        .toSeq
    }.toOption)
  }

  /** Read a [[stagedWrite]]-maintained JSON sidecar with CRASH
    * ROLL-FORWARD (r11 verdict task #3, shared by the manifest and the
    * MV registry): a writer killed inside stagedWrite's two-metadata-op
    * window leaves the target ABSENT and a COMPLETE `<target>_tmp`
    * behind — the new state, fully written, one rename short of
    * committed. Complete it here (read-repair): the tmp must parse
    * FAILFAST first, so a half-written tmp (killed mid-write-job, or a
    * live writer mid-save) never rolls forward — those degrade to empty.
    * If the rename loses a race with the (still-alive) writer's own
    * rename, fall through to the target it just committed.
    *
    * Returns Some(entries) (absent target with no recoverable tmp =
    * Some(Nil), a fresh store) — or None when the target EXISTS yet
    * cannot be read (observed mid-overwrite, or corrupt): callers decide
    * whether that degrades (attach, registry) or aborts (vacuum).
    */
  private def loadStaged[T](spark: SparkSession, target: String,
                            parse: String => Option[Seq[T]])
      : Option[Seq[T]] = {
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(target + "_tmp")
      if (fs.exists(tmp)) {
        parse(tmp.toString) match {
          case Some(es) =>
            val renamed = Try(fs.rename(tmp, p)).getOrElse(false)
            // the parsed entries are good regardless of the rename: keep
            // serving them when the target is still absent (rename
            // failed for an environment reason); fall through to the
            // target only when a racing writer just committed it
            if (renamed || !fs.exists(p)) return Some(es)
          case None => return Some(Nil) // unreadable tmp: degrade
        }
      }
    }
    if (!fs.exists(p)) Some(Nil) // absent = fresh store
    else parse(target)
  }

  /** The persisted vacuum tombstones (empty when absent/unreadable —
    * observation then simply restarts, which only DELAYS deletion).
    */
  def loadMarks(spark: SparkSession, warehouse: String): Map[String, Long] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(vacuumPath(warehouse))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else Try {
      spark.read
        .schema(org.apache.spark.sql.Encoders.product[VacuumMark].schema)
        .option("mode", "FAILFAST")
        .json(vacuumPath(warehouse))
        .as[VacuumMark]
        .collect()
        .map(m => m.path -> m.since).toMap
    }.getOrElse(Map.empty)
  }

  def saveMarks(spark: SparkSession, warehouse: String,
                marks: Map[String, Long]): Unit = {
    import spark.implicits._
    stagedWrite(spark, vacuumPath(warehouse)) { tmp =>
      marks.toSeq.map { case (p, t) => VacuumMark(p, t) }
        .toDS().coalesce(1).write.mode("overwrite").json(tmp)
    }
  }

  private def mvsPath(warehouse: String) = s"$warehouse/_mvs"

  /** The persisted materialized-view registry, with the same crash
    * roll-forward as the manifest ([[loadStaged]] — without it, a
    * persist crash inside the delete→rename window would erase every
    * registered view and orphan their layouts, the exact failure the
    * registry exists to prevent; r14 review finding #3). An EXISTING but
    * unreadable registry degrades to unregistered — the layout storage
    * stays manifest-referenced, so nothing is orphaned against vacuum.
    */
  def loadMvs(spark: SparkSession, warehouse: String): Seq[MvEntry] = {
    import spark.implicits._
    loadStaged(spark, mvsPath(warehouse), path => Try {
      spark.read
        .schema(org.apache.spark.sql.Encoders.product[MvEntry].schema)
        .option("mode", "FAILFAST")
        .json(path)
        .as[MvEntry]
        .collect()
        .toSeq
    }.toOption).getOrElse(Nil)
  }

  /** Rewrite the materialized-view registry whole (view-count-sized,
    * staged like the manifest — two metadata ops, never a read window).
    */
  def saveMvs(spark: SparkSession, warehouse: String,
              mvs: Seq[MvEntry]): Unit = {
    import spark.implicits._
    stagedWrite(spark, mvsPath(warehouse)) { tmp =>
      mvs.toDS().coalesce(1).write.mode("overwrite").json(tmp)
    }
  }

  def save(spark: SparkSession, warehouse: String,
           entries: Seq[LayoutManifestEntry]): Unit = {
    import spark.implicits._
    stagedWrite(spark, manifestPath(warehouse)) { tmp =>
      entries.toDS().coalesce(1).write.mode("overwrite").json(tmp)
    }
  }

  /** Run `write` against a temp sibling, then delete+rename into place:
    * a plain `mode("overwrite")` DELETES the target before spending a
    * whole write job recreating it, leaving a seconds-wide window where
    * a concurrent vacuum reads "absent manifest" and unreferences
    * everything; staging shrinks that window to two metadata ops (and
    * [[graft.core.Catalog.vacuum]] aborts if it still lands inside it).
    */
  private def stagedWrite(spark: SparkSession, target: String)(
      write: String => Unit): Unit = {
    val tmp = target + "_tmp"
    write(tmp)
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // Hadoop rename reports many failure modes (cross-mount, missing
    // parent, object-store quirks) as `false`, not an exception — and a
    // swallowed false here means the manifest was deleted and never
    // replaced: every durable layout silently goes dormant on the next
    // reopen. Fail loudly instead — UNLESS a concurrent reader's crash
    // roll-forward ([[loadOpt]]) completed OUR commit first: it renames
    // the very tmp this call just wrote, so a failed rename with the
    // target present and the tmp gone is a committed write, not a loss.
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    if (!fs.rename(tmpPath, p))
      require(fs.exists(p) && !fs.exists(tmpPath),
        s"staged rename $tmp -> $target failed; manifest state is at $tmp")
    ()
  }
}
