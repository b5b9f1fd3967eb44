package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The decontamination gate's eval set as a VERSIONED STORE — the
  * one admission-gate input that was still an unmanaged per-call
  * frame. [[CorpusStore.ingestScreened]]'s `benchmark` argument
  * re-shingles and re-broadcasts raw eval text every batch, and
  * nothing records WHICH eval revision gated batch N: if the frame
  * changes between a crashed gated transaction and its replay, the
  * replayed decisions silently diverge — the only input the
  * convergence-under-replay contract did not pin. This store fixes
  * determinism and provenance at once, with the [[StoreVersions]]
  * discipline the four corpus tiers already live by:
  *
  *  - the persisted artifact is the distinct word-k-gram SHINGLE SET
  *    (not the eval text — the gate's union-of-shingles rule never
  *    needs doc identity, and the store must not become a second
  *    copy of benchmark material to leak), one pure-replace stage;
  *  - benchmark REVISIONS are manifest flips ([[revise]]): readers
  *    pin a version, in-flight gates keep serving their pinned files
  *    through a concurrent revision (retention), and the snapshot
  *    log makes every historical eval set resolvable;
  *  - a GATED TRANSACTION pins by BATCH ID ([[pinForBatch]]): the
  *    first screen of batch `b` records the store's current snapshot
  *    seq under `_gate/b` BEFORE any tier folds, and every replay of
  *    `b` re-resolves that seq — so a revision landing between a
  *    crash and its replay cannot move the decisions
  *    (CorpusStoreSpec fabricates exactly that). The record also
  *    answers the audit question "which eval set gated batch N".
  *
  * Scale shape: unchanged from the raw-frame gate — eval sets are
  * tiny beside the corpus, so the stored shingle set broadcasts and
  * the batch side stays one linear shingle pass + one groupBy
  * ([[Dedup.contaminationFlags]]' analysis) — minus the per-batch
  * re-shingling of the eval text, which now happens once per
  * revision at [[build]]/[[revise]] time.
  *
  * Single-writer contract per store directory (build/revise); gate
  * reads and pin records need no marker — `_gate` files are
  * immutable once written (the claim is an atomic
  * create-no-overwrite on the final name — rename would silently
  * overwrite on local filesystems — so two racing replays of the
  * same batch converge on one record). Retention honors the records:
  * [[revise]]'s GC protects every seq a `_gate` record names (its
  * snapshot AND its shingle version survive any number of later
  * revisions), so "every historical eval set resolvable" holds for
  * exactly the history someone still holds a pin on;
  * [[releaseBatch]] is the bound — drop a settled batch's record and
  * its revision ages out normally.
  */
object BenchmarkStore {

  private val Stage = "shingles"

  final case class Store(dir: String) {
    /** (snapshot seq, shingle k, pinned shingle frame) of the LIVE
      * revision — one manifest read + one k-file read, no jobs. */
    def pin(s: SparkSession): Pinned = {
      val fs = fsOf(s, dir)
      val seq = StoreVersions.snapshots(fs, dir).lastOption.map(_._1)
        .getOrElse(throw new IllegalStateException(
          s"benchmark store at $dir has no committed revision — " +
            "build() it first"))
      pinAt(s, seq)
    }

    /** The store as of snapshot `seq` — the time-travel read a
      * recorded gate pin resolves through. */
    def pinAt(s: SparkSession, seq: Int): Pinned = {
      val fs = fsOf(s, dir)
      val v = StoreVersions.readAt(fs, dir, seq).versions
        .getOrElse(Stage, throw new IllegalStateException(
          s"benchmark snapshot $seq at $dir names no shingle stage"))
      Pinned(dir, seq, s"$dir/$Stage/$v", readK(fs, s"$dir/$Stage/$v"))
    }
  }

  /** One resolved revision: the version path is immutable, so every
    * read through a Pinned serves the same shingle set. */
  final case class Pinned(dir: String, seq: Int, path: String, k: Int) {
    def shingles(s: SparkSession): DataFrame = s.read.parquet(path)
  }

  private def fsOf(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sessionState.newHadoopConf())

  private def readK(fs: FileSystem, versionDir: String): Int = {
    val p = new Path(s"$versionDir/_k")
    val in = fs.open(p)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.mkString.trim.toInt finally src.close()
    } finally in.close()
  }

  private def writeRevision(bench: DataFrame, idCol: String,
      textCol: String, dir: String, k: Int): Store = {
    val s = bench.sparkSession
    val fs = fsOf(s, dir)
    val v = StoreVersions.next(fs, dir, Stage)
    Dedup.shingleRows(
        bench.select(col(idCol), col(textCol)), idCol, textCol, k)
      .select(col("s")).distinct()
      .write.mode("overwrite").parquet(v)
    // the shingle width is part of the revision's identity — a gate
    // matching k=3 grams against a k=5 store would under-flag — so
    // it rides the version dir itself (no extra stage, travels with
    // time travel for free)
    val out = fs.create(new Path(s"$v/_k"), true)
    try out.write(s"$k\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    StoreVersions.flip(fs, dir, Map(Stage -> v))
    // retention must never break a recorded gate: every seq a
    // `_gate` record still names is protected — its snapshot file
    // AND its shingle version survive any number of later revisions,
    // so a crashed gated batch's replay re-resolves its pinned eval
    // set even after retention would have dropped it. The bound is
    // the caller's: [[releaseBatch]] a settled batch to let its
    // revision age out.
    StoreVersions.gc(s, fs, dir, Seq(Stage),
      keepSeqs = gatePinnedSeqs(fs, dir))
    Store(dir)
  }

  /** Seqs still named by `_gate` records — the revisions retention
    * must keep resolvable. Crashed half-written claims (empty or
    * garbage records) protect nothing: the batch they belong to
    * fails loudly at [[pinForBatch]] with the remedy in the message.
    */
  private def gatePinnedSeqs(fs: FileSystem, dir: String): Set[Int] = {
    val d = new Path(s"$dir/_gate")
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).toSeq.filter(_.isFile)
      .filterNot(_.getPath.getName.contains(".tmp-"))
      .flatMap { st =>
        val in = fs.open(st.getPath)
        try {
          val src = scala.io.Source.fromInputStream(in, "UTF-8")
          try src.mkString.trim.toIntOption finally src.close()
        } finally in.close()
      }.toSet
  }

  /** Drop a SETTLED batch's gate record — the retention release for
    * [[pinForBatch]]'s pin: once every tier folded the batch (and no
    * replay can arrive — the caller's epoch discipline knows, this
    * store cannot), its record no longer needs to hold the pinned
    * revision against GC. Unreleased records keep their revisions
    * resolvable forever by design; this call is the bound.
    */
  def releaseBatch(s: SparkSession, store: Store,
      batchId: String): Unit = {
    require(batchId.nonEmpty, "releaseBatch needs a batchId")
    val fs = fsOf(s, store.dir)
    fs.delete(new Path(s"${store.dir}/_gate/$batchId"), false)
  }

  /** First revision. A pre-versioning/foreign directory is reset; a
    * versioned previous life keeps its snapshot log (readers serve
    * through the rebuild) and this lands as the next revision. */
  def build(bench: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int = 3): Store = {
    val s = bench.sparkSession
    UpdateMarker.enterBuild(fsOf(s, dir), dir, Seq(Stage))
    writeRevision(bench, idCol, textCol, dir, k)
  }

  /** A benchmark REVISION — new eval set (or new k), one flip.
    * In-flight pinned gates keep their files (retention); new
    * transactions pin this revision. */
  def revise(store: Store, bench: DataFrame, idCol: String,
      textCol: String, k: Int = 3): Store = {
    val fs = fsOf(bench.sparkSession, store.dir)
    require(StoreVersions.read(fs, store.dir).nonEmpty,
      s"benchmark store at ${store.dir} was never built")
    UpdateMarker.enterBuild(fs, store.dir, Seq(Stage))
    writeRevision(bench, idCol, textCol, store.dir, k)
  }

  /** The GATE'S pin: resolve the revision batch `batchId` is gated
    * by — the recorded seq if this batch screened before (the replay
    * path), the live revision otherwise, RECORDED before returning
    * so every later replay of the batch resolves the same eval set.
    * Must be called before any tier folds (CorpusStore's gate does);
    * a crash between the record and the folds replays harmlessly —
    * the record names the same revision the crashed attempt used.
    */
  def pinForBatch(s: SparkSession, store: Store,
      batchId: String): Pinned = {
    require(batchId.nonEmpty, "a gate pin needs a batchId")
    val fs = fsOf(s, store.dir)
    val rec = new Path(s"${store.dir}/_gate/$batchId")
    // a claimed-but-empty record is a writer that died between its
    // create and its one content write — poll briefly for a LIVE
    // writer's close, then fail loudly with the remedy (the crash
    // happened at pin time, strictly before any tier folded, so
    // deleting the record and re-running the batch is safe)
    def recordedRetry(): Int = {
      var tries = 0
      while (tries < 50) {
        val in = fs.open(rec)
        val text =
          try {
            val src = scala.io.Source.fromInputStream(in, "UTF-8")
            try src.mkString finally src.close()
          } finally in.close()
        text.trim.toIntOption match {
          case Some(seq) => return seq
          case None => Thread.sleep(20); tries += 1
        }
      }
      throw new IllegalStateException(
        s"gate record $rec exists but holds no revision seq — a " +
          "claimant died before writing it. The crash preceded " +
          "every tier fold (pins happen first), so the remedy is: " +
          "delete the record and re-run the batch; it will re-pin " +
          "the live revision")
    }
    if (fs.exists(rec)) return store.pinAt(s, recordedRetry())
    val live = store.pin(s)
    fs.mkdirs(rec.getParent)
    // the ATOMIC claim is create(rec, overwrite = false) on the
    // FINAL name: rename-based protocols silently overwrite on
    // RawLocalFileSystem (POSIX renameTo), so two racing replays
    // straddling a revise() could each believe they recorded —
    // the exact divergence this record exists to prevent. A lost
    // race reads the winner's seq; both replays converge on ONE
    // revision.
    val claimed =
      try {
        val out = fs.create(rec, false)
        try out.write(s"${live.seq}\n".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          false
        case _: java.io.IOException if fs.exists(rec) => false
      }
    if (claimed) live else store.pinAt(s, recordedRetry())
  }
}
