package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The store WRITER LIFECYCLE — the one definition of the crash and
  * replay protocol every marker-holding store ([[CurationStore]],
  * [[AnnIndexStore]], [[TextIndexStore]], [[StatsStore]]) runs, so it
  * cannot drift between stores. Every commit is a [[StoreVersions]]
  * manifest flip; each writer is exactly
  *
  *  1. [[enter]] — sweep crashed writers' orphan version dirs, then
  *     settle a crashed predecessor's in-flight marker ([[settle]]),
  *     run the replay check and write this writer's fresh marker;
  *  2. the body — appends land INSIDE current version dirs (the
  *     store's append stages), replaced stages are staged as next
  *     versions, and ONE flip commits them together with the
  *     one-row `stats` counter version;
  *  3. [[exit]] — record `batchId` in `_applied`, then delete the
  *     marker.
  *
  * [[rollback]] and [[enterBuild]] are the two other entries (undo
  * to a snapshot; a full rebuild of the directory).
  *
  * Commitment of a crashed UPDATE is decided by the `stats` stage:
  * every update/delete flips it, and a flipped stage resolves to a
  * DIFFERENT version directory, so its listing differs from the one
  * snapshotted in the marker — listing-equality ⇔ not committed.
  * Uncommitted: the partial appends (files beyond the snapshot) are
  * deleted and the re-run is exactly-once by redo. Committed with
  * the SAME batchId as this call: the batch is already applied —
  * the writer returns without touching the store.
  *
  * `batchId` is the caller's idempotence key (a date, an offset
  * range, a manifest hash — non-empty when defined; the empty string
  * is the marker's encoding of "no key", so accepting it would alias
  * a keyless run). Callers that pass none still get partial appends
  * healed and rollback re-runs deduped; only the
  * committed-but-unacknowledged re-run remains indistinguishable
  * from a genuinely new batch for them — documented at each
  * update's scaladoc.
  *
  * The in-flight marker alone leaves one replay window open even
  * WITH a batchId: a crash after the update deleted its marker but
  * before the CALLER durably acknowledged (a streaming checkpoint's
  * advance, an orchestrator's state write) — the re-run finds no
  * marker and re-folds. [[writeApplied]] closes it: before the
  * in-flight marker is deleted, the committed batchId is recorded in
  * a durable `_applied` file, and an update whose batchId matches
  * `_applied` is a detected no-op however late the crash landed. One
  * id suffices because an at-least-once producer replays only the
  * batch it has not yet acknowledged — a NEW batch carries a new id
  * and overwrites the record at its own commit.
  *
  * SINGLE WRITER: the whole protocol assumes at most one in-flight
  * writer per store directory — two concurrent writers would race
  * on the marker and the appends and corrupt the snapshot
  * discipline. [[write]] guards it cheaply: the marker is created
  * with the fail-if-exists flag, so the second concurrent updater
  * errors loudly at entry instead of silently interleaving.
  * Serialize updates per store; readers are unaffected.
  *
  * Format: one `id\t<batchId>` line, then one `<stage>\t<path>` line
  * per snapshotted file. Plain text via the Hadoop FS API so it
  * works on any filesystem the stages live on.
  */
object UpdateMarker {

  final case class State(batchId: String,
      listings: Map[String, Set[String]])

  /** The marker stage whose listing witnesses an update's commit: the
    * one-row counter every store flips at each batch commit. */
  private val CommitStage = "stats"

  /** Listing-key suffix of a MAINTENANCE writer's marker. */
  private val MaintenanceSuffix = ".swap"

  def markerPath(storeDir: String): Path =
    new Path(s"$storeDir/_inflight")

  /** Rename that FAILS LOUDLY: Hadoop `FileSystem.rename` reports most
    * failures (dest exists, permissions, cross-fs moves) by returning
    * FALSE, not throwing — a caller that ignored it would carry on as
    * if the move had happened. */
  private[ops] def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"rename $from -> $to failed")

  /** Recursive delete that fails loudly unless `p` is gone after it. */
  private[ops] def remove(fs: FileSystem, p: Path): Unit =
    require(fs.delete(p, true) || !fs.exists(p), s"delete $p failed")

  /** All committed data files of a stage directory (top level). */
  def listFiles(fs: FileSystem, dir: String): Set[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.filter(_.isFile)
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSet
  }

  /** All data files of a PARTITIONED stage directory — recursive,
    * because a `partitionBy` write nests its files under partition
    * subdirectories where the flat [[listFiles]] cannot see them
    * (an [[AnnIndexStore]] codes stage). Snapshot and heal must use
    * the same listing shape or settlement would judge every
    * partitioned append invisible. */
  def listFilesRecursive(fs: FileSystem, dir: String): Set[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) return Set.empty
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out += f.getPath.toString
    }
    out.toSet
  }

  /** Writer ENTRY — every store writer's first step, before it reads
    * anything it will fold: drop the version dirs of writers that
    * died before their flip (`versioned`: the store's manifest
    * stages — flip-last means nothing else of theirs can exist), then
    * [[settle]]. `stages` maps marker stage names to their RESOLVED
    * current version dirs: `stats` plus the append stages a crash
    * can leave partial files in; `recursiveStages` names the
    * partitioned ones.
    *
    * `maintenance` selects this writer's marker kind. An UPDATE
    * (append inside current versions, flip `stats`) writes the plain
    * kind, whose crash heals partial appends. A MAINTENANCE writer
    * (compact, rollback: output only in fresh version dirs or
    * deletions, never appends) writes the `.swap` kind, which
    * settlement never heals by file deletion — after such a writer's
    * committed flip every resolved stage may hold files its snapshot
    * never saw, and deleting them would destroy live data.
    *
    * Returns TRUE when `batchId` is already applied — the caller
    * must return its store untouched — and FALSE when a fresh marker
    * has been written and the body should proceed.
    */
  def enter(spark: SparkSession, fs: FileSystem, storeDir: String,
      versioned: Seq[String], stages: Map[String, String],
      batchId: Option[String], maintenance: Boolean = false,
      recursiveStages: Set[String] = Set.empty): Boolean = {
    require(!maintenance || batchId.isEmpty,
      "a maintenance writer takes no batchId")
    StoreVersions.sweepOrphans(fs, storeDir, versioned)
    settle(spark, fs, storeDir, stages, batchId, maintenance,
      recursiveStages)
  }

  /** Writer EXIT — after the flip that commits the body: record the
    * committed batch BEFORE dropping the in-flight marker, so at
    * every instant one of the two files names it. */
  def exit(fs: FileSystem, storeDir: String,
      batchId: Option[String] = None): Unit = {
    batchId.foreach(writeApplied(fs, storeDir, _))
    remove(fs, markerPath(storeDir))
  }

  /** ROLLBACK entry-to-exit ([[StoreVersions.rollbackTo]]): enter as a
    * maintenance writer (the flip back may resolve every stage to a
    * version its snapshot never listed), roll back, then drop both
    * protocol files — `_applied` too, so an undone batch id folds
    * again. The clear runs LAST: a crash before it leaves `_applied`
    * naming an already-undone batch, and the recovery is to RE-RUN
    * the rollback to completion (see [[StoreVersions.rollbackTo]]).
    * No GC: the target snapshot must survive so that re-run
    * converges; the next normal writer prunes.
    */
  def rollback(spark: SparkSession, fs: FileSystem, storeDir: String,
      versioned: Seq[String], stages: Map[String, String], seq: Int,
      appendStages: Map[String, Boolean],
      recursiveStages: Set[String] = Set.empty): Unit = {
    enter(spark, fs, storeDir, versioned, stages, batchId = None,
      maintenance = true, recursiveStages = recursiveStages)
    StoreVersions.rollbackTo(fs, storeDir, seq, appendStages)
    clear(fs, storeDir)
  }

  /** BUILD entry — settle the directory's previous life before a
    * full build writes a fresh snapshot. A VERSIONED previous life
    * keeps its committed snapshot (readers serve THROUGH the
    * rebuild) and only sheds orphan version dirs; a PRE-VERSIONING or
    * foreign layout (stage data directly at the stage roots, with
    * its `.next`/`.old` staging siblings) is reset wholesale — its
    * files would alias version resolution. The protocol files clear
    * either way: a rebuild resets batch-id lineage (streaming epochs
    * restart at 0), and a crashed writer's marker would "heal" fresh
    * files against a stale snapshot.
    */
  def enterBuild(fs: FileSystem, storeDir: String,
      versioned: Seq[String]): Unit = {
    if (StoreVersions.read(fs, storeDir).isEmpty)
      for (st <- versioned; sfx <- Seq("", ".next", ".old"))
        remove(fs, new Path(s"$storeDir/$st$sfx"))
    else StoreVersions.sweepOrphans(fs, storeDir, versioned)
    clear(fs, storeDir)
  }

  /** Settle a crashed predecessor's marker, run the replay check and
    * write this writer's fresh marker — the body of [[enter]].
    * Returns TRUE when `batchId` is already applied.
    */
  private[ops] def settle(spark: SparkSession, fs: FileSystem,
      storeDir: String, stages: Map[String, String],
      batchId: Option[String], maintenance: Boolean = false,
      recursiveStages: Set[String] = Set.empty): Boolean = {
    require(batchId.forall(_.nonEmpty),
      "batchId, when defined, must be non-empty (the empty string is " +
        "the marker's encoding of 'no idempotence key')")
    val marker = markerPath(storeDir)
    // stages named in `recursiveStages` are PARTITIONED append
    // targets: their snapshot and heal must list recursively or the
    // nested data files are invisible to both
    def files(stage: String, dir: String): Set[String] =
      if (recursiveStages(stage)) listFilesRecursive(fs, dir)
      else listFiles(fs, dir)
    val sameBatchApplied = read(fs, marker).map { prior =>
      // a flipped commit stage resolves to a new version dir, so
      // listing equality decides commitment. The durable `_applied`
      // record is an INDEPENDENT commit witness (written only after
      // the flip): it covers a commit stage whose listing did not
      // change, where healing the append stages of a batch that DID
      // commit would throw its rows away while reporting the batch
      // applied.
      val committed = files(CommitStage, stages(CommitStage)) !=
          prior.listings.getOrElse(CommitStage, Set.empty[String]) ||
        (prior.batchId.nonEmpty &&
          readApplied(fs, storeDir).contains(prior.batchId))
      // a MAINTENANCE writer's marker is never healed by deleting
      // stage files: after its committed flip with a crashed marker
      // delete, the listing diff IS the new live data
      val wasMaintenance =
        prior.listings.keys.exists(_.endsWith(MaintenanceSuffix))
      if (!committed && !wasMaintenance) {
        // crashed before the commit: drop the partial appends so the
        // re-run's before/after diffs start clean
        (stages - CommitStage).foreach { case (name, dir) =>
          (files(name, dir) -- prior.listings.getOrElse(name,
              Set.empty[String]))
            .foreach(f => remove(fs, new Path(f)))
          spark.catalog.refreshByPath(dir)
        }
      }
      if (committed && prior.batchId.nonEmpty)
        writeApplied(fs, storeDir, prior.batchId)
      remove(fs, marker)
      committed && batchId.isDefined && prior.batchId == batchId.get
    }.getOrElse(false)
    // the durable applied record catches the replay a deleted marker
    // cannot: committed, marker gone, caller never acknowledged
    if (sameBatchApplied ||
        (batchId.isDefined && readApplied(fs, storeDir) == batchId))
      return true
    write(fs, marker, State(batchId.getOrElse(""),
      stages.map { case (n, d) =>
        (if (maintenance) n + MaintenanceSuffix else n) -> files(n, d)
      }))
    false
  }

  /** Write the in-flight marker, FAILING if one already exists — the
    * single-writer guard: callers settle a crashed predecessor's
    * marker before writing their own, so an existing marker here
    * means another updater is in flight right now. (Best-effort by
    * construction: it catches simultaneous ENTRY, not an entry that
    * lands while an earlier writer's long append job is mid-flight —
    * the earlier settle consumed that writer's marker, because a
    * marker cannot distinguish crashed from live. Serializing
    * writers per store directory remains the caller's contract, as
    * documented at each store's update/compact.)
    *
    * The marker itself commits ATOMICALLY: bytes land at a `.tmp`
    * name and RENAME into place (the atomic commit primitive on
    * HDFS and local filesystems). A create-then-write at the final
    * name would open the one crash window the whole protocol can't
    * survive: a zero-length `_inflight` parses as a marker with no
    * listings, and settlement would "heal" every stage file against
    * an EMPTY snapshot — deleting the store's live data from inside
    * its own crash-safety protocol. [[read]]'s corrupt-marker check
    * is the second line of the same defense.
    */
  def write(fs: FileSystem, marker: Path, state: State): Unit = {
    // the single-writer guard must be an ATOMIC claim, not a
    // check-then-act: two concurrent writers both passing an
    // fs.exists() check would write the same tmp and both rename
    // successfully on a local filesystem (POSIX rename overwrites),
    // silently interleaving their appends and flips. createNewFile
    // is the atomic create-if-absent primitive on HDFS and local.
    if (!fs.createNewFile(marker))
      throw new IllegalStateException(
        s"concurrent update detected: in-flight marker $marker " +
          "already exists. Stores support ONE writer at a time, and " +
          "every writer entry settles a CRASHED predecessor before " +
          "claiming — so this marker belongs to a writer that is " +
          "LIVE right now, not to a crash. Remedy: route every " +
          "writer of this store (maintain(), ingest, gated ingest, " +
          "delete, compact) through one scheduler lane or an " +
          "external lease/queue, and RETRY this operation after the " +
          "holder finishes; never delete a live marker by hand")
    val sb = new StringBuilder(s"id\t${state.batchId}\n")
    for ((stage, files) <- state.listings.toSeq.sortBy(_._1);
         f <- files.toSeq.sorted)
      sb.append(s"$stage\t$f\n")
    // content commits by renaming a UNIQUE tmp over our own claim
    // (unique so a crashed predecessor's tmp can never be renamed by
    // someone else's commit). Local rename replaces the zero-length
    // claim atomically; HDFS refuses to overwrite — delete our claim
    // and retry, and if an interloper stole the name inside that
    // gap, fail loudly rather than corrupt (they own the store now).
    val tmp = new Path(marker.getParent, marker.getName + ".tmp-" +
      java.util.UUID.randomUUID().toString)
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, marker)) {
      fs.delete(marker, false)
      if (!fs.rename(tmp, marker)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"could not commit in-flight marker $marker (rename failed " +
            "twice — a concurrent writer claimed the store)")
      }
    }
  }

  /** Age past which a zero-length marker is judged a CRASHED writer's
    * claim rather than a live writer inside [[write]]'s
    * createNewFile → content-rename window. That window is
    * microseconds of local work; a minute of grace is orders of
    * magnitude above it, while a genuinely crashed claim only delays
    * the next writer's settlement by the same minute. Without the
    * grace, a second writer entering between a LIVE writer's claim
    * and its content rename would clear the claim and both writers
    * would proceed — the atomic-claim guard silently weakened to
    * simultaneous-entry detection.
    */
  private[ops] val ClaimGraceMs = 60000L

  def read(fs: FileSystem, marker: Path): Option[State] = {
    if (!fs.exists(marker)) return None
    // a ZERO-LENGTH marker is [[write]]'s claim whose writer died
    // before the content rename — provably pre-mutation (stores
    // mutate only after write() returns), so the claim is safely
    // spent: clear it and report no marker. But only once it has
    // AGED past [[ClaimGraceMs]] — a younger claim could belong to a
    // writer alive inside write()'s claim-to-rename window, and
    // clearing it would let this caller proceed concurrently. Fail
    // loudly instead, same as write()'s own guard. Distinct from the
    // non-empty-but-corrupt case below, which could be a truncated
    // real marker and must also fail loudly.
    val st = fs.getFileStatus(marker)
    if (st.getLen == 0) {
      if (System.currentTimeMillis() - st.getModificationTime <
          ClaimGraceMs)
        throw new IllegalStateException(
          s"concurrent update detected: zero-length marker $marker " +
            "is younger than the claim grace period — a live writer " +
            "may be mid-claim (retry after it ages out, or serialize " +
            "updates per store directory)")
      remove(fs, marker)
      return None
    }
    val in = fs.open(marker)
    val text =
      try {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.mkString finally src.close()
      } finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    // a marker without its id line is not a marker — refuse to act
    // on it (a settlement run against garbage listings would "heal"
    // live data files away). [[write]]'s tmp+rename makes this state
    // unreachable for our own writers; the check guards truncated
    // files from a pre-rename store or a foreign writer.
    val id = lines.collectFirst {
      case l if l.startsWith("id\t") => l.stripPrefix("id\t")
    }.getOrElse(throw new IllegalStateException(
      s"corrupt in-flight marker $marker (no id line; " +
        s"${text.length} bytes) — refusing to settle against it; " +
        "inspect and remove the file manually"))
    val listings = lines.filterNot(_.startsWith("id\t"))
      .map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i), l.substring(i + 1))
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Some(State(id, listings))
  }

  def appliedPath(storeDir: String): Path =
    new Path(s"$storeDir/_applied")

  /** Durably record `batchId` as committed — called after the
    * commit flip, BEFORE the in-flight marker is deleted, so at
    * every instant at least one of the two files names the committed
    * batch (see the replay-window note in the object scaladoc).
    * Overwrite is correct here: the record is a single most-recent
    * id, replaced at each subsequent batch's own commit.
    *
    * Committed via tmp + delete + rename so a crash mid-write can
    * never leave a TRUNCATED id (which would wrongly fail the
    * replay check and re-fold a committed batch). The instant
    * between the delete and the rename is safe: the in-flight
    * marker still exists at this point, and a crash there settles as
    * "uncommitted" — partial appends healed, batch re-run
    * exactly-once by redo.
    */
  private[ops] def writeApplied(fs: FileSystem, storeDir: String,
      batchId: String): Unit = {
    val dst = appliedPath(storeDir)
    val tmp = new Path(dst.getParent, dst.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(
        s"could not commit applied-batch record $dst")
  }

  /** Drop both protocol files ([[enterBuild]], [[rollback]]). */
  private def clear(fs: FileSystem, storeDir: String): Unit = {
    remove(fs, markerPath(storeDir))
    remove(fs, appliedPath(storeDir))
  }

  /** The last durably-committed batchId, if any batch recorded one. */
  def readApplied(fs: FileSystem, storeDir: String): Option[String] = {
    val p = appliedPath(storeDir)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try Some(src.mkString) finally src.close()
    } finally in.close()
  }
}
