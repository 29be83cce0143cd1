package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one maintenance path of graft's eight persisted ingest-time
  * artifacts: the two LSM stores ([[EdgeStore]], [[SketchStore]]), the
  * three event-day rollups ([[SketchRollup]], [[QuantileRollup]],
  * [[ReportMaintenance]], via [[DayRollup]]) and the three ANN indexes
  * ([[IvfIndex]], [[PqIndex]], [[IvfPq]]).
  *
  * Every artifact goes through [[ensureArtifact]], which owns the three
  * decisions a store used to hand-roll:
  *   - ROOT: [[root]] — `${java.io.tmpdir}/graft_<name>/v<version>_`
  *     [[storeKey]]`(dir)<suffix>`, the suffix carrying build
  *     parameters (`_k512`, `_p<npivots>`, `_m<M>k<K>`);
  *   - COMPLETION: the `_SUCCESS` of the plane the build writes LAST
  *     (the table root for rollups, `assign/` for IVF and IVF×PQ,
  *     `codes/` for PQ, the live base epoch's plane for the LSM stores);
  *   - FRESHNESS: the [[sourceStamp]] of the declared source table,
  *     recorded in `<root>/_SOURCE` (`_`-prefixed, so Spark's file
  *     index ignores it inside a parquet table root).
  * A changed stamp or a missing marker wipes the root and rebuilds.
  *
  * The LSM stores add an epoch'd layout — epoch'd base directories +
  * per-batch delta partitions + commit markers — coordinated by ONE
  * atomically-swapped pointer file:
  *
  * {{{
  *   <root>/CURRENT                     "epoch foldedStream foldedAdHoc"
  *   <root>/base/epoch=<N>/<plane...>   the compacted state
  *   <root>/<deltaSub>/ingest_batch=<id>/   per-batch increments
  *   <root>/deltas_commits/<id>         batch visibility marker
  * }}}
  *
  * Guarantees (crash-injection pinned in EdgeStoreSpec/SketchStoreSpec):
  *   - A batch becomes VISIBLE only when its commit marker exists, so
  *     a crash between a store's multiple delta-plane writes leaves
  *     the pre-batch state served until the batch is replayed with
  *     the same id (dynamic partition overwrite makes the replay
  *     idempotent).
  *   - Compaction never loses the base and never double-counts: the
  *     new epoch is written FIRST, the pointer swap is atomic (tmp
  *     write → delete → rename, with recovery-on-open for the torn
  *     window), and folded deltas are ignored by WATERMARK rather
  *     than deleted in the commit path — garbage collection is
  *     best-effort and retryable.
  *   - Streaming ids (micro-batch id + 1) and ad-hoc auto-derived ids
  *     ([[AdHocIdBase]]` + seq`) are disjoint namespaces with separate
  *     folded watermarks, so a compaction that folds ad-hoc history
  *     can never mask a replayed stream batch or vice versa.
  */
private[graft] object StoreProtocol {

  /** Ad-hoc auto-derived batch ids start above this floor; streaming
    * ids stay far below it.
    */
  val AdHocIdBase = 1000000000L

  /** The pointer state: which base epoch is live and, per id
    * namespace, the highest batch id folded into it.
    */
  case class Pointer(epoch: Long, foldedStream: Long, foldedAdHoc: Long) {
    /** Is `id` already folded into the base (⇒ its delta must be
      * ignored and its replay skipped)?
      */
    def folded(id: Long): Boolean =
      if (id >= AdHocIdBase) id <= foldedAdHoc else id <= foldedStream

    /** The pointer after folding `ids` into a new epoch. */
    def fold(ids: Seq[Long]): Pointer = {
      val stream = ids.filter(_ < AdHocIdBase)
      val adhoc = ids.filter(_ >= AdHocIdBase)
      Pointer(epoch + 1,
        if (stream.isEmpty) foldedStream else stream.max,
        if (adhoc.isEmpty) foldedAdHoc else adhoc.max)
    }
  }

  /** The initial pointer of a freshly built store. */
  val Initial: Pointer = Pointer(1L, 0L, AdHocIdBase)

  /** One sanitizer for BOTH filesystem keys and catalog keys, plus an
    * md5 prefix of the RAW dir string: two corpus dirs that differ
    * only in punctuation sanitize to the same slug but can never
    * alias the same store or table (the r8 ADVICE aliasing bug).
    */
  def storeKey(dir: String): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${slug}_$md5"
  }

  /** The one place an artifact location is derived (see the object
    * doc); a production deployment would use a managed table location.
    */
  def root(name: String, version: Int, dir: String, suffix: String = ""): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$name/v${version}_${storeKey(dir)}$suffix"

  /** Finish a torn pointer swap: a crash between `delete(CURRENT)`
    * and `rename(tmp, CURRENT)` leaves only the (fully written) tmp —
    * promote it. A tmp WITH a live CURRENT is a swap that died before
    * the delete (tmp may be the new value or garbage) — the live
    * pointer wins and the tmp is discarded; the interrupted operation
    * re-runs from scratch.
    */
  def recoverPointer(f: FileSystem, root: String): Unit = {
    val cur = new Path(s"$root/CURRENT")
    val tmp = new Path(s"$root/CURRENT.tmp")
    if (f.exists(cur)) { if (f.exists(tmp)) f.delete(tmp, false) }
    else if (f.exists(tmp)) require(f.rename(tmp, cur),
      s"pointer recovery failed: cannot rename $tmp")
  }

  /** A corrupt/unparseable CURRENT (possible on an OS/power crash —
    * pointer writes are not hsync'd, so the process-crash guarantees
    * above do not extend to machine crashes) reads as `None`, which
    * routes every `ensure()` into its rebuild branch instead of
    * permanently bricking the store on a parse exception (r9 ADVICE).
    */
  def readPointer(f: FileSystem, root: String): Option[Pointer] = {
    recoverPointer(f, root)
    val cur = new Path(s"$root/CURRENT")
    if (!f.exists(cur)) None
    else {
      scala.util.Try {
        val Array(e, s, a) = readText(f, cur).split("\\s+").map(_.toLong)
        Pointer(e, s, a)
      }.toOption
    }
  }

  /** tmp-write → delete → rename. Each crash window recovers: tmp
    * torn ⇒ CURRENT intact (recovery discards tmp); CURRENT deleted ⇒
    * tmp complete (recovery promotes it). Rename results are checked —
    * a false return is corruption, not something to ignore.
    */
  def writePointer(f: FileSystem, root: String, p: Pointer): Unit = {
    val cur = new Path(s"$root/CURRENT")
    val tmp = new Path(s"$root/CURRENT.tmp")
    writeText(f, tmp, s"${p.epoch} ${p.foldedStream} ${p.foldedAdHoc}")
    if (f.exists(cur)) f.delete(cur, false)
    require(f.rename(tmp, cur), s"pointer swap failed: cannot rename $tmp")
  }

  /** Batch ids that have a commit marker (the append became visible).
    * Driver-side metadata listing; compaction trims the set. Checksum
    * sidecars and other non-numeric names are ignored.
    */
  def committedIds(f: FileSystem, root: String): Seq[Long] = {
    val d = new Path(s"$root/deltas_commits")
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.toLong).toOption)
  }

  /** Committed delta ids the pointer has not folded yet — the live
    * delta set every merge unions over (torn, uncommitted batches and
    * already-folded replays are both invisible).
    */
  def liveIds(f: FileSystem, root: String, p: Pointer): Seq[Long] =
    committedIds(f, root).filterNot(p.folded)

  /** Mark `id` visible — call AFTER all of the batch's delta planes
    * are written.
    */
  def commit(f: FileSystem, root: String, id: Long): Unit =
    f.create(new Path(s"$root/deltas_commits/$id"), true).close()

  /** The next ad-hoc batch id: past every committed ad-hoc id AND the
    * folded ad-hoc watermark (ids keep advancing across compactions).
    * Callers must hold the store's monitor while deriving + writing.
    */
  def nextAdHocId(f: FileSystem, root: String, p: Pointer): Long =
    (committedIds(f, root).filter(_ >= AdHocIdBase) :+ p.foldedAdHoc).max + 1L

  /** Fingerprint of a source dataset's FILE LISTING (sorted path,
    * length, mtime — no data read): the cheap stand-in for a table
    * snapshot id. An artifact records the stamp of the source it was
    * built from; [[ensureArtifact]] detects a source that was
    * REGENERATED IN PLACE (same dir path, different data) so the
    * artifact rebuilds instead of silently serving derived state of
    * the old corpus — the in-place twin of the dir-aliasing bug
    * [[storeKey]] closes. Append APIs (store deltas, index appends,
    * rollup day refreshes from a sink) add data through the artifact,
    * not by mutating the source dir, so maintenance leaves the stamp
    * valid.
    *
    * Residual windows, by design of the cheap listing-only stamp
    * (r9 verdict #5): (a) a regeneration that preserves every file's
    * name, length AND mtime is undetectable — after such a rewrite
    * (or to force consistency after any doubt) wipe the artifact root
    * manually; (b) a byte-identical rewrite that only touches mtimes
    * is a FALSE POSITIVE — the artifact wipes and rebuilds correctly
    * but unnecessarily, discarding appended deltas, day refreshes and
    * index appends (logged for store deltas); (c) an artifact with no
    * `_SOURCE` record — one created before the stamp existed, or a
    * build that died between its last plane and the record — is
    * blessed as-is on open and only guarded from then on; (d) the
    * stamp covers the declared source table only, so a day refreshed
    * from a sink that diverges from the corpus is the caller's state.
    */
  def sourceStamp(f: FileSystem, src: String): String = {
    val p = new Path(src)
    val parts =
      if (!f.exists(p)) Seq("absent")
      else {
        val it = f.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          if (!st.getPath.getName.startsWith("."))
            buf += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
        }
        buf.sorted.toSeq
      }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The one build-or-serve decision of every persisted artifact,
    * called inside the store's own monitor. The artifact is SERVED when
    * its recorded source stamp matches the source's current one and
    * `plane`'s `_SUCCESS` exists (under the live base epoch when
    * `epoched`); a complete artifact with no record (a pre-stamp
    * layout) adopts the current stamp. Otherwise the root is WIPED — a
    * corrupt pointer, stale deltas or a torn plane never survive into
    * the rebuild — and `build` writes it afresh; the stamp is recorded
    * after the build, whose `overwrite` would delete it.
    *
    * Wiping a regenerated store that holds COMMITTED DELTA BATCHES
    * discards data that exists only in the store (appends never touch
    * the source dir) — correct when the source really was regenerated
    * (the deltas described the old corpus) but a silent loss on a
    * false-positive mtime-only rewrite, so it is logged (r9 ADVICE).
    *
    * @param source the corpus table the artifact derives from
    *               (`<dir>/<source>.parquet`)
    * @param plane  the directory the build writes last, relative to the
    *               root ("" = the root itself)
    * @param build  writes the artifact under `root`; false when there
    *               is nothing to build (an empty corpus)
    * @return whether the artifact is complete and fresh
    */
  def ensureArtifact(spark: SparkSession, root: String, dir: String, source: String,
      plane: String = "", epoched: Boolean = false)(build: => Boolean): Boolean = {
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = sourceStamp(f, s"${dir.stripSuffix("/")}/$source.parquet")
    val rec = new Path(s"$root/_SOURCE")
    val recorded = if (f.exists(rec)) Some(readText(f, rec)) else None
    val base = if (!epoched) Some(root)
      else readPointer(f, root).map(p => s"$root/base/epoch=${p.epoch}")
    val marker = base.map(b => new Path(if (plane.isEmpty) s"$b/_SUCCESS" else s"$b/$plane/_SUCCESS"))
    if (recorded.forall(_ == stamp) && marker.exists(f.exists)) {
      if (recorded.isEmpty) writeText(f, rec, stamp)
      true
    } else {
      val nDeltas = committedIds(f, root).size
      if (recorded.exists(_ != stamp) && nDeltas > 0)
        System.err.println(
          s"graft store $root: source regenerated in place — wiping a store " +
            s"with $nDeltas committed delta batch(es); their appended data " +
            "is discarded with the stale derived state")
      f.delete(new Path(root), true)
      build && { writeText(f, rec, stamp); true }
    }
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  private def writeText(f: FileSystem, p: Path, txt: String): Unit = {
    val out = f.create(p, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  /** Garbage-collect unreferenced state: stale base epochs, folded
    * delta partitions under each of `deltaSubs`, trimmed commit
    * markers. Best-effort by design (a crash here leaves garbage the
    * watermarks already ignore; the next compaction retries).
    */
  def gc(f: FileSystem, root: String, p: Pointer, deltaSubs: Seq[String]): Unit = {
    val baseDir = new Path(s"$root/base")
    if (f.exists(baseDir))
      f.listStatus(baseDir).map(_.getPath)
        .filter(_.getName != s"epoch=${p.epoch}")
        .foreach(f.delete(_, true))
    for (sub <- deltaSubs) {
      val d = new Path(s"$root/$sub")
      if (f.exists(d))
        f.listStatus(d).map(_.getPath)
          .filter { q =>
            val n = q.getName
            n.startsWith("ingest_batch=") &&
              scala.util.Try(n.stripPrefix("ingest_batch=").toLong)
                .toOption.exists(p.folded)
          }
          .foreach(f.delete(_, true))
    }
    committedIds(f, root).filter(p.folded)
      .foreach(id => f.delete(new Path(s"$root/deltas_commits/$id"), false))
  }
}
