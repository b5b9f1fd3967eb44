package graft.ops

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Reader-isolation snapshots for the persisted stores — the
  * Iceberg-lite commit layer. A reader's plan pins a parquet scan's
  * file listing at DataFrame creation, so a commit that rewrote or
  * renamed live files would make a reader planned before it collect
  * FileNotFound — or, across two rewritten stages, a mix of old and
  * new. A deployed service serves WHILE maintaining; this module
  * makes that safe:
  *
  *  - every maintained stage's data lives in an immutable VERSION
  *    directory (`<store>/<stage>/v-00001/...`); data files, once a
  *    version is committed, are never renamed or rewritten — only
  *    eventually deleted by [[gc]] after their retention lapses;
  *  - ONE manifest file per store (`<store>/_manifest`, a line per
  *    stage naming its current version) is the single mutable commit
  *    point: a writer stages its new version dirs completely, then
  *    FLIPS the manifest atomically ([[flip]] — unique tmp +
  *    overwrite-rename through the `FileContext` API, the rename
  *    primitive that is atomic-with-overwrite on both HDFS and local
  *    filesystems). Readers resolve the manifest once at plan time
  *    ([[resolve]]/the stores' `pin`) and keep file-level stability
  *    for as long as retention holds;
  *  - a MULTI-stage maintenance commit (compact's postings + doclens
  *    + delta-fold + tombstone-clear) is ONE flip — atomic across
  *    stages, so no crash point or reader can observe some of its
  *    stages rewritten and others not;
  *  - crash recovery collapses to "flip last": the manifest only ever
  *    names fully-written versions, so an interrupted writer leaves
  *    nothing but orphan version dirs NUMBERED ABOVE the manifest's
  *    current, swept by the next writer's entry ([[sweepOrphans]] —
  *    safe under the stores' standing single-writer contract).
  *
  * Retention: [[gc]] keeps the current version plus the
  * [[RetainVersions]] most recent prior versions per stage (default
  * 1). A reader is isolated for as long as its pinned versions
  * survive — i.e. across at least one subsequent maintenance cycle;
  * a reader older than the retention window can fail at collect
  * exactly as an expired Iceberg snapshot does. Raise the dial where
  * long-running readers overlap frequent maintenance.
  *
  * The [[UpdateMarker]] writer lifecycle runs on top of this: markers
  * serialize writers and heal APPEND stages (appends land inside the
  * current version dir and are invisible to already-planned readers,
  * so they need no versioning), `_applied` witnesses batch commits,
  * and the marker's listing-diff commitment test works because a
  * flipped commit stage resolves to a DIFFERENT directory whose
  * listing cannot equal the pre-flip snapshot.
  */
object StoreVersions {

  /** Prior versions kept per stage for in-flight readers. */
  val RetainVersions = "spark.graft.store.retainVersions"
  private val retainDefault = 1

  private val VerName = "^v-(\\d{5})$".r

  def manifestPath(storeDir: String): Path =
    new Path(s"$storeDir/_manifest")

  /** The manifest's stage → version-name map; empty when the store
    * has never committed one (legacy layout or never built). */
  def read(fs: FileSystem, storeDir: String): Map[String, String] = {
    val p = manifestPath(storeDir)
    if (!fs.exists(p)) Map.empty else parse(slurp(fs, p))
  }

  /** Full path of `stage`'s current version — loud when the store has
    * no committed manifest (the store must be built first). */
  def resolve(fs: FileSystem, storeDir: String, stage: String): String =
    read(fs, storeDir).get(stage)
      .map(v => s"$storeDir/$stage/$v")
      .getOrElse(throw new IllegalStateException(
        s"no committed version for stage '$stage' under $storeDir — " +
          "the store has no manifest (build it first; pre-versioning " +
          "layouts are reset by build)"))

  private def verNum(name: String): Option[Int] = name match {
    case VerName(n) => Some(n.toInt)
    case _ => None
  }

  /** All version dirs of a stage, (number, path), ascending. */
  private def versions(fs: FileSystem, storeDir: String,
      stage: String): Seq[(Int, Path)] = {
    val root = new Path(s"$storeDir/$stage")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(st => verNum(st.getPath.getName).map(_ -> st.getPath))
      .sortBy(_._1)
  }

  /** Path for the NEXT (uncommitted) version of `stage` — max
    * existing + 1, also past the manifest's current in case older
    * dirs were GC'd. The caller writes it completely, then commits
    * through [[flip]]; a crash before the flip leaves it as an
    * orphan for [[sweepOrphans]].
    */
  def next(fs: FileSystem, storeDir: String, stage: String): String = {
    val onDisk = versions(fs, storeDir, stage).lastOption
      .map(_._1).getOrElse(0)
    val current = read(fs, storeDir).get(stage)
      .flatMap(verNum).getOrElse(0)
    f"$storeDir/$stage/v-${math.max(onDisk, current) + 1}%05d"
  }

  /** Create an EMPTY committed-shape version (a cleared tombstone or
    * delta stage): a directory with no data files. */
  def nextEmpty(fs: FileSystem, storeDir: String,
      stage: String): String = {
    val p = next(fs, storeDir, stage)
    require(fs.mkdirs(new Path(p)), s"mkdirs $p failed")
    p
  }

  /** One entry of the time-travel log: the stage → version map a
    * flip committed, plus — for APPEND stages — the exact data-file
    * listing (path, bytes) inside those versions at flip time.
    * Version names alone cannot time-travel an append stage (later
    * batches land INSIDE the same version directory, invisible to
    * held readers but not to a re-listing); the file manifest can —
    * the Iceberg idea, at file granularity. Bytes ride along so a
    * historical read makes the same broadcast-or-shuffle mask
    * decisions the live store made at that epoch.
    */
  final case class SnapshotState(versions: Map[String, String],
      files: Map[String, Seq[(String, Long)]])

  /** THE commit: merge `updates` (stage → full version path) over the
    * current manifest and replace it atomically. Everything named
    * must be fully written — after the rename returns, every new
    * reader resolves the new versions, and no crash state can show a
    * partial flip (rename is all-or-nothing).
    *
    * Every flip also records a numbered SNAPSHOT file
    * (`_snapshots/s-NNNNN`, unique-name rename — no overwrite, so
    * crash-safe by construction), BEFORE the manifest replace: the
    * merged manifest plus, for each stage in `appendStages` (name →
    * recursive listing?), the stage's current data-file manifest —
    * the time-travel log [[readAt]]/[[snapshots]] serve from. A
    * crash between the snapshot write and the manifest rename leaves
    * a snapshot numbered ahead of the live manifest — harmless (it
    * names fully-written versions; the next flip skips past it), and
    * [[gc]] bounds the log's length either way.
    *
    * Metadata cost: one listing per append stage per flip — the same
    * O(stage-files) class the append-diff protocol already pays per
    * batch (the writers' before/after counter diffs and the marker
    * snapshot), NOT a new asymptotic; and the stage's file count is
    * itself bounded by advised maintenance (the [[Advisor]]
    * files-per-cell / delta-bytes ceilings — compaction folds the
    * per-batch files back down, so listings stay O(cells) between
    * compactions, never O(batches since build)). If file counts ever
    * outgrow listing budgets, the designed escape is per-batch
    * CHAINED version dirs (manifest naming a dir list per stage),
    * which trades the listings for one more dir per batch — not
    * needed at current shapes.
    */
  def flip(fs: FileSystem, storeDir: String,
      updates: Map[String, String],
      appendStages: Map[String, Boolean] = Map.empty): Unit = {
    val merged = read(fs, storeDir) ++
      updates.map { case (st, path) => st -> new Path(path).getName }
    merged.keys.foreach { st =>
      require(verNum(merged(st)).isDefined,
        s"flip of '$st' to non-version name '${merged(st)}'")
    }
    val manifestBody = merged.toSeq.sortBy(_._1)
      .map { case (st, v) => s"$st\t$v" }.mkString("", "\n", "\n")
    // the append stages' file manifests, listed off the post-merge
    // version dirs (every writer appends BEFORE its flip). A `#s`
    // line declares the stage's manifest PRESENT even when it holds
    // zero files — an empty-at-this-epoch tombstone stage must pin
    // as "no tombstones", never fall back to the live directory a
    // later delete appended into.
    val fileLines = appendStages.toSeq.sortBy(_._1)
      .flatMap { case (st, rec) =>
        merged.get(st).toSeq.flatMap { v =>
          s"#s\t$st" +:
            listWithSizes(fs, new Path(s"$storeDir/$st/$v"), rec)
              .map { case (p, len) => s"#f\t$st\t$len\t$p" }
        }
      }.mkString("", "\n", if (appendStages.isEmpty) "" else "\n")
    def writeTmp(body: String): Path = {
      val tmp = new Path(s"$storeDir/_manifest.tmp-" +
        java.util.UUID.randomUUID().toString)
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      tmp
    }
    // the snapshot record first (unique next number — the
    // single-writer contract makes a race on it impossible)
    val snapDir = new Path(s"$storeDir/_snapshots")
    fs.mkdirs(snapDir)
    val nextSeq = snapshotFiles(fs, storeDir).lastOption
      .map(_._1).getOrElse(0) + 1
    val snapDst = new Path(snapDir, f"s-$nextSeq%05d")
    // checked: a silent miss would leave this flip unreachable to
    // time travel
    UpdateMarker.rename(fs, writeTmp(manifestBody + fileLines), snapDst)
    // FileContext.rename(OVERWRITE) is the atomic-replace primitive
    // on HDFS and local — a plain FileSystem.rename refuses an
    // existing destination on HDFS, and delete-then-rename would open
    // a no-manifest window that breaks every concurrent reader
    val dst = manifestPath(storeDir)
    FileContext.getFileContext(dst.toUri, fs.getConf)
      .rename(writeTmp(manifestBody), dst, Options.Rename.OVERWRITE)
  }

  private def listWithSizes(fs: FileSystem, dir: Path,
      recursive: Boolean): Seq[(String, Long)] = {
    if (!fs.exists(dir)) return Seq.empty
    if (recursive) {
      val it = fs.listFiles(dir, true)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += ((f.getPath.toString, f.getLen))
      }
      out.toSeq
    } else fs.listStatus(dir).toSeq.filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.toString, st.getLen))
  }

  private def parse(text: String): Map[String, String] =
    text.split("\n").toSeq
      .filter(l => l.contains("\t") && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf('\t')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap

  private def parseState(text: String): SnapshotState = {
    val lines = text.split("\n").toSeq
    val declared = lines.filter(_.startsWith("#s\t"))
      .map(_.substring(3)).toSet
    val files = lines.filter(_.startsWith("#f\t"))
      .map(_.split("\t", 4))
      .collect { case Array(_, st, len, p) => (st, (p, len.toLong)) }
      .groupBy(_._1).map { case (st, xs) => st -> xs.map(_._2) }
    SnapshotState(parse(text),
      declared.map(st => st ->
        files.getOrElse(st, Seq.empty[(String, Long)])).toMap)
  }

  private def slurp(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.mkString finally src.close()
    } finally in.close()
  }

  private val SnapName = "^s-(\\d{5})$".r

  private def snapshotFiles(fs: FileSystem,
      storeDir: String): Seq[(Int, Path)] = {
    val dir = new Path(s"$storeDir/_snapshots")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.filter(_.isFile)
      .flatMap { st =>
        st.getPath.getName match {
          case SnapName(n) => Some(n.toInt -> st.getPath)
          case _ => None
        }
      }
      .sortBy(_._1)
  }

  /** The store's committed snapshot log, (seq, stage → version),
    * ascending — one entry per [[flip]], bounded by [[gc]]. The
    * LAST entry is the live manifest's state (or one ahead of it,
    * for the crashed-between-writes case the [[flip]] scaladoc
    * describes). */
  def snapshots(fs: FileSystem, storeDir: String)
      : Seq[(Int, Map[String, String])] =
    snapshotFiles(fs, storeDir)
      .map { case (n, p) => n -> parse(slurp(fs, p)) }

  /** TIME-TRAVEL resolve: the full [[SnapshotState]] as of snapshot
    * `seq` — loud when the log has no such entry (never written, or
    * already [[gc]]'d past). The caller's reads fail at collect if
    * the named versions' retention has ALSO lapsed, exactly as an
    * expired Iceberg snapshot does; within retention they serve the
    * historical store verbatim.
    */
  def readAt(fs: FileSystem, storeDir: String,
      seq: Int): SnapshotState = {
    val p = new Path(f"$storeDir/_snapshots/s-$seq%05d")
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"no snapshot $seq under $storeDir — never committed, or " +
          "GC'd past (raise " + RetainVersions + " to keep longer " +
          "time-travel windows)")
    parseState(slurp(fs, p))
  }

  /** ROLLBACK: make snapshot `seq` the live state again — the undo
    * for a bad batch, actionable because the log records append
    * stages at FILE granularity: replace stages flip back to the
    * snapshot's version dirs (loud if retention already GC'd them),
    * and append stages DELETE the files folded since (exactly those
    * beyond the snapshot's manifest — the bad batches' rows, surgically,
    * with the epoch's own files untouched). The flip records a NEW
    * log entry, so a rollback is itself a committed, revisitable
    * epoch (roll-forward by rolling "back" to a later seq's entry is
    * the same call while its files survive).
    *
    * DESTRUCTIVE to the rolled-back epochs by design: readers
    * holding pins newer than `seq` lose their appended files (unlike
    * maintenance, which retention protects). A crash mid-delete
    * re-runs to completion (deletions are idempotent; the flip is
    * last). Single-writer contract applies — [[UpdateMarker.rollback]]
    * settles markers and clears `_applied` (a rolled-back batch id
    * must become foldable again) around this call; the clear runs
    * LAST, so a crash between the flip and it leaves `_applied`
    * naming an already-undone batch — the caller's recovery is to
    * RE-RUN the rollback to completion (the natural move: it never
    * saw success), never to trust that window's replay detection.
    */
  def rollbackTo(fs: FileSystem, storeDir: String,
      seq: Int, appendStages: Map[String, Boolean]): Unit = {
    val st = readAt(fs, storeDir, seq)
    st.versions.foreach { case (stage, v) =>
      require(fs.exists(new Path(s"$storeDir/$stage/$v")),
        s"cannot roll back to snapshot $seq: $stage/$v was GC'd " +
          s"(raise $RetainVersions to keep longer rollback windows)")
    }
    for ((stage, rec) <- appendStages; v <- st.versions.get(stage)) {
      val dir = new Path(s"$storeDir/$stage/$v")
      val keep = st.files.getOrElse(stage, Seq.empty).map(_._1).toSet
      listWithSizes(fs, dir, rec).map(_._1).filterNot(keep)
        .foreach(f => UpdateMarker.remove(fs, new Path(f)))
    }
    flip(fs, storeDir,
      st.versions.map { case (stage, v) =>
        stage -> s"$storeDir/$stage/$v"
      }, appendStages)
  }

  /** CLONE/EXPORT: materialize snapshot `seq` of `srcDir` as a
    * brand-new INDEPENDENT store at `dstDir` — the fork/DR/dev-
    * fixture op the snapshot log makes cheap and exact. Replace
    * stages copy their version dirs wholesale; append stages copy
    * EXACTLY the files the snapshot's manifest names (batches folded
    * after `seq` never reach the clone — the same file-granularity
    * idea that powers [[readAt]], applied to a copy instead of a
    * pin). Every copied stage lands as the clone's `v-00001` and ONE
    * flip commits them, so the clone's own snapshot log starts at
    * `s-00001` with fresh file manifests and every store operation
    * (serve, update, delete, compact, time travel, rollback) works
    * on it verbatim.
    *
    * The clone is a NEW LINEAGE by design: no `_applied` batch
    * witnesses, markers or advisory logs come along, so re-issuing a
    * batch id the source already folded WILL fold into the clone
    * again — the fork's epoch discipline starts fresh (the
    * documented rollback convention, applied at birth). Loud when
    * `seq` is GC'd past, when a named version's retention has lapsed
    * or when `dstDir` already holds a manifest. Data movement: one
    * file-copy pass over the snapshot's bytes — a distcp-class job
    * with zero shuffles, driver-looped here because stage file
    * counts are compaction-bounded (the [[flip]] listing argument);
    * at genuinely huge stage file counts, lift the same (src, dst)
    * pair list into a parallelized copy.
    */
  def cloneAt(fs: FileSystem, srcDir: String, dstDir: String,
      seq: Int, appendStages: Map[String, Boolean]): Unit = {
    val st = readAt(fs, srcDir, seq)
    require(!fs.exists(manifestPath(dstDir)),
      s"$dstDir already holds a committed store — clone into a " +
        "fresh directory")
    st.versions.foreach { case (stage, v) =>
      require(fs.exists(new Path(s"$srcDir/$stage/$v")),
        s"cannot clone snapshot $seq: $stage/$v was GC'd " +
          s"(raise $RetainVersions to keep longer clone windows)")
    }
    val conf = fs.getConf
    for ((stage, v) <- st.versions) {
      val srcV = fs.makeQualified(new Path(s"$srcDir/$stage/$v"))
      val dstV = new Path(s"$dstDir/$stage/v-00001")
      st.files.get(stage) match {
        case Some(files) => // append stage: the manifested files only
          require(fs.mkdirs(dstV), s"mkdirs $dstV failed")
          for ((f, _) <- files) {
            val fp = fs.makeQualified(new Path(f))
            val rel = srcV.toUri.relativize(fp.toUri).getPath
            require(!rel.startsWith("/") && rel.nonEmpty,
              s"snapshot file $fp is not under its stage version " +
                s"$srcV — refusing a cross-stage copy")
            org.apache.hadoop.fs.FileUtil.copy(fs, fp, fs,
              new Path(dstV, rel), false, conf)
          }
        case None => // replace stage: the whole version dir
          org.apache.hadoop.fs.FileUtil.copy(fs, srcV, fs, dstV,
            false, conf)
      }
    }
    flip(fs, dstDir, st.versions.keys
      .map(stage => stage -> s"$dstDir/$stage/v-00001").toMap,
      appendStages)
  }

  /** Drop version dirs numbered ABOVE the manifest's current — the
    * debris of writers that died before their flip. Runs at every
    * writer's entry; safe because writers are serialized per store
    * (the standing single-writer contract — a live writer's staged
    * version can never be observed by another writer's sweep).
    */
  def sweepOrphans(fs: FileSystem, storeDir: String,
      stages: Seq[String]): Unit = {
    val m = read(fs, storeDir)
    for (stage <- stages; cur <- m.get(stage).flatMap(verNum);
         (n, p) <- versions(fs, storeDir, stage) if n > cur)
      UpdateMarker.remove(fs, p)
  }

  /** Retention GC: per stage, drop versions below the current beyond
    * the [[RetainVersions]] most recent. Folded into compact (and
    * the stores' high-frequency single-stage flips) so retained
    * versions never accumulate unboundedly. The snapshot log is
    * bounded by the same dial — the latest `retain + 1` entries
    * survive (the live state plus the retained maintenance cycles;
    * older entries would mostly name GC'd versions anyway, the
    * expired-snapshot rule).
    *
    * `keepSeqs` PROTECTS snapshots a caller holds long-lived pins on
    * (the [[BenchmarkStore]] gate records): those snapshot files are
    * never dropped, and neither is any version directory their
    * manifests name — so a pinned historical read stays resolvable
    * past any number of later flips, at the cost of exactly the
    * pinned bytes. The caller owns the bound: an unreleased pin
    * keeps its versions forever.
    */
  def gc(s: SparkSession, fs: FileSystem, storeDir: String,
      stages: Seq[String], keepSeqs: Set[Int] = Set.empty): Unit = {
    val retain = s.conf.get(RetainVersions, retainDefault.toString).toInt
    val m = read(fs, storeDir)
    // stage → version names pinned by the protected snapshots
    val pinnedVers: Map[String, Set[String]] =
      if (keepSeqs.isEmpty) Map.empty
      else snapshotFiles(fs, storeDir)
        .filter { case (n, _) => keepSeqs.contains(n) }
        .flatMap { case (_, p) => parse(slurp(fs, p)).toSeq }
        .groupBy(_._1).map { case (st, xs) => st -> xs.map(_._2).toSet }
    for (stage <- stages; cur <- m.get(stage).flatMap(verNum)) {
      val keep = pinnedVers.getOrElse(stage, Set.empty)
      val below = versions(fs, storeDir, stage).filter(_._1 < cur)
      below.dropRight(retain)
        .filterNot { case (_, p) => keep.contains(p.getName) }
        .foreach { case (_, p) => UpdateMarker.remove(fs, p) }
    }
    val snapDir = new Path(s"$storeDir/_snapshots")
    if (fs.exists(snapDir))
      fs.listStatus(snapDir).toSeq.filter(_.isFile)
        .flatMap(st => st.getPath.getName match {
          case SnapName(n) => Some(n.toInt -> st.getPath)
          case _ => None
        })
        .sortBy(_._1).dropRight(retain + 1)
        .filterNot { case (n, _) => keepSeqs.contains(n) }
        .foreach { case (_, p) => UpdateMarker.remove(fs, p) }
  }
}
