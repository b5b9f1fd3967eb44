package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operational loop's missing half — every maintenance dial in
  * the store layer already exists as an on-disk signal (tombstone
  * bytes vs the broadcast ceiling, outstanding delta bytes vs the
  * guard, per-add file growth, the `recall_log` trend vs its floor,
  * the stats tier's stale flags), but until now nothing READ them
  * and said "compact now / rebuild now"; the scaladocs delegated
  * that judgment to the reader. This object closes the loop: one
  * function per store (and [[advise]] for a [[CorpusStore]]
  * transaction's whole set) emitting one row per (store, metric)
  * with the measured value, the threshold it is judged against and
  * the advised action — `ok`, `compact` or `rebuild` — the q88
  * skew-advisory pattern applied to store maintenance.
  *
  * Every metric is a FILE-LISTING or ONE-ROW read (the same cheap
  * probes the stores themselves run at write time): no corpus-sized
  * job anywhere, so the advisor can run after every batch at any
  * scale. Thresholds come from the dials the stores already honor
  * (the tombstone/delta broadcast ceilings whose breach degrades
  * reads to shuffle joins — "over the ceiling" IS the definition of
  * "compact overdue") plus three advisor-owned dials below for the
  * signals that had no conf yet.
  *
  * A deployment runs this after each transaction and feeds `action
  * != ok` rows to its scheduler; `ark/Demo`'s curation twin
  * ([[graft.CurationDemo]]) wires it exactly that way. AdvisorSpec
  * fabricates each overdue condition and asserts the advised action.
  */
object Advisor {

  /** Files-per-cell ceiling for the ANN codes stage: every [[
    * AnnIndexStore.add]] appends ~one file per touched cell, and the
    * probed-cell serve opens every file of a probed cell — past this
    * average, compaction (one file per cell again) is advised. */
  val CodesFilesPerCellMax = "spark.graft.advisor.codesFilesPerCellMax"
  private val codesFilesPerCellDefault = 4.0

  /** Outstanding postings-delta ceiling for the text store (bytes).
    * The delta is folded into every serve until [[TextIndexStore
    * .compact]] re-buckets it — same overdue rule as the label
    * delta's broadcast guard, advisor-owned because the text delta
    * rides the postings union (no broadcast ceiling of its own). */
  val TextDeltaMaxBytes = "spark.graft.advisor.textDeltaMaxBytes"
  private val textDeltaDefault = 32L * 1024 * 1024

  /** Recall floor for the ANN staleness probe: any `recall_log`
    * entry of the index's CURRENT life (build resets the log) with
    * `mean_recall` below this advises a re-train. */
  val RecallFloor = "spark.graft.advisor.recallFloor"
  private val recallFloorDefault = 0.8

  /** Admission-rate floor for the gate log's LATEST batch: an
    * admit rate collapsing below it means the crawler is resending
    * already-held content (recrawl loop) or the gate itself broke —
    * either way a human look, not a maintenance action, hence
    * `alert`. */
  val AdmitRateFloor = "spark.graft.advisor.admitRateFloor"
  private val admitRateFloorDefault = 0.05

  /** Semantic-dup-rate ceiling for the gate log's LATEST batch: a
    * spike says τ drifted (see [[AnnIndexStore.tauCalibration]]) or
    * a near-copy storm is at the door. */
  val SemanticRateMax = "spark.graft.advisor.semanticRateMax"
  private val semanticRateMaxDefault = 0.5

  /** How many trailing gate-log batches the WINDOWED admission
    * readings aggregate over ([[adviseGate]]'s `admit_rate_window` /
    * `semantic_rate_window` rows). The window is what keeps one
    * healthy batch from silently clearing a standing collapse
    * alarm. */
  val GateWindowBatches = "spark.graft.advisor.gateWindowBatches"
  private val gateWindowDefault = 5

  private def conf(s: SparkSession, key: String, dflt: Double): Double =
    s.conf.get(key, dflt.toString).toDouble

  /** Flat on-disk data bytes of a stage dir — the [[Tombstones
    * .broadcastable]] listing, value exposed. */
  private def dirBytes(s: SparkSession, dir: String): Double = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0.0
    else fs.listStatus(p).toSeq.filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum.toDouble
  }

  private def frame(s: SparkSession,
      rows: Seq[(String, String, Double, Double, String)]): DataFrame = {
    import s.implicits._
    rows.toDF("store", "metric", "value", "threshold", "action")
  }

  private def over(value: Double, threshold: Double,
      action: String): String = if (value > threshold) action else "ok"

  /** Curation store: tombstone bytes vs the mask's broadcast
    * ceiling, outstanding label-delta bytes vs its guard. */
  def adviseCuration(s: SparkSession,
      store: CurationStore.Store): DataFrame = {
    val tombMax = Tombstones.broadcastMaxBytes(s).toDouble
    val deltaMax = conf(s, CurationStore.DeltaBroadcastMaxBytes,
      32.0 * 1024 * 1024)
    val tomb = dirBytes(s, store.tombDir(s))
    val delta = store.deltaBytes(s).toDouble
    frame(s, Seq(
      ("curation", "tombstone_bytes", tomb, tombMax,
        over(tomb, tombMax, "compact")),
      ("curation", "label_delta_bytes", delta, deltaMax,
        over(delta, deltaMax, "compact"))))
  }

  /** ANN index: tombstone bytes vs ceiling, per-add codes file
    * growth vs the files-per-cell ceiling, and — when the index has
    * a probe history — the recall trend vs its floor (`rebuild`:
    * compaction cannot help a stale model, only a re-train can). */
  def adviseAnn(s: SparkSession, idx: AnnIndexStore.Index): DataFrame = {
    val snap = idx.pin(s)
    val tombMax = Tombstones.broadcastMaxBytes(s).toDouble
    val tomb = dirBytes(s, snap.tombsPath)
    val fpcMax = conf(s, CodesFilesPerCellMax, codesFilesPerCellDefault)
    val fs = new Path(idx.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val cells = fs.listStatus(new Path(snap.codesPath)).toSeq
      .filter(_.isDirectory)
    val fpc =
      if (cells.isEmpty) 0.0
      else UpdateMarker.listFilesRecursive(fs, snap.codesPath).size
        .toDouble / cells.size
    val base = Seq(
      ("ann", "tombstone_bytes", tomb, tombMax,
        over(tomb, tombMax, "compact")),
      ("ann", "codes_files_per_cell", fpc, fpcMax,
        over(fpc, fpcMax, "compact")))
    val floor = conf(s, RecallFloor, recallFloorDefault)
    val logP = new Path(s"${idx.dir}/recall_log")
    val recall =
      if (!fs.exists(logP)) Seq.empty
      else {
        // the log covers only the index's current life (build resets
        // it), so the WORST probe is the honest staleness reading —
        // drift only accumulates until the advised re-train
        val worst = s.read.parquet(logP.toString)
          .agg(org.apache.spark.sql.functions
            .min("mean_recall")).head()
        if (worst.isNullAt(0)) Seq.empty
        else {
          val v = worst.getDouble(0)
          Seq(("ann", "mean_recall", v, floor,
            if (v < floor) "rebuild" else "ok"))
        }
      }
    frame(s, base ++ recall)
  }

  /** Text index: tombstone bytes vs ceiling, outstanding postings
    * delta vs the advisor's guard. */
  def adviseText(s: SparkSession, idx: TextIndexStore.Index): DataFrame = {
    val snap = idx.pin(s)
    val tombMax = Tombstones.broadcastMaxBytes(s).toDouble
    val tomb = dirBytes(s, snap.tombsPath)
    val deltaMax = conf(s, TextDeltaMaxBytes, textDeltaDefault.toDouble)
    val delta = dirBytes(s, snap.deltaPath)
    frame(s, Seq(
      ("text", "tombstone_bytes", tomb, tombMax,
        over(tomb, tombMax, "compact")),
      ("text", "postings_delta_bytes", delta, deltaMax,
        over(delta, deltaMax, "compact"))))
  }

  /** Monitoring tier: outstanding sketch debt — sources whose
    * sketches still describe deleted documents ([[StatsStore
    * .delete]]'s stale flag); any at all advises the re-derive. */
  def adviseStats(s: SparkSession, store: StatsStore.Store): DataFrame = {
    val stale = store.stats(s)
      .filter(org.apache.spark.sql.functions.col("stale"))
      .count().toDouble
    frame(s, Seq(("stats", "stale_sources", stale, 0.0,
      over(stale, 0.0, "compact"))))
  }

  /** ADMISSION-GATE health: the latest gated batch's admit rate vs
    * its floor and semantic-dup rate vs its ceiling, PLUS the same
    * two rates over the last [[GateWindowBatches]] batches — read
    * off the curation tier's `gate_log` ([[CorpusStore
    * .ingestScreened]] appends one row per gated batch). The
    * windowed rows are the trend alarm the log exists for: a single
    * healthy batch after an admission-rate collapse must NOT clear
    * a standing alert (the latest-row rate recovers, the windowed
    * rate — total kept over total screened across the window, each
    * batch weighted by its size — stays collapsed until the window
    * genuinely drains). A `gate_window_batches` row reports how many
    * batches the window actually held, so a reader can tell a
    * one-batch "window" from a full one. Both breach kinds advise
    * `alert` — operator alarms (crawler loop, τ drift), not
    * maintenance the store can run on itself. No rows while the
    * store has never gated a batch. Null-safe against legacy 0/0
    * rows (pre-skip-empty-batch logs): rows with `n_total` 0 carry
    * NULL rates and are excluded from both readings. Cost: one
    * listing plus one read of at most the window's rows — the seq
    * IS the file name ([[CorpusStore]]'s gate-log layout), so the
    * window resolves from the listing without scanning the log. */
  def adviseGate(s: SparkSession,
      store: CurationStore.Store): DataFrame = {
    val dir = s"${store.dir}/gate_log"
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) return frame(s, Seq.empty)
    val window = conf(s, GateWindowBatches,
      gateWindowDefault.toDouble).toInt
    require(window >= 1, s"$GateWindowBatches must be >= 1")
    // resolve the window OFF THE LISTING: seq-named single-file rows
    // let the last-N read touch exactly N files. Legacy multi-file
    // logs (pre-named layout) fall back to a whole-dir read — still
    // one row per batch, never corpus-sized.
    val SeqFile = "^seq-(\\d{5,})\\.parquet$".r
    val names = fs.listStatus(p).toSeq.filter(_.isFile)
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    val seqNamed = names.collect { case SeqFile(n) => n.toLong }
    val log =
      if (seqNamed.size == names.size && names.nonEmpty)
        s.read.parquet(seqNamed.sorted.takeRight(window)
          .map(n => f"$dir/seq-$n%05d.parquet"): _*)
      else s.read.parquet(dir)
    val rows = log
      .filter(org.apache.spark.sql.functions.col("n_total") > 0L)
      .select("seq", "n_total", "n_kept", "n_semantic_dup")
      .collect().sortBy(_.getLong(0)).takeRight(window)
    if (rows.isEmpty) return frame(s, Seq.empty)
    def rate(kept: Long, total: Long): Double =
      BigDecimal(kept.toDouble / total)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val last = rows.last
    val admit = rate(last.getLong(2), last.getLong(1))
    val sem = rate(last.getLong(3), last.getLong(1))
    val wTotal = rows.map(_.getLong(1)).sum
    val admitW = rate(rows.map(_.getLong(2)).sum, wTotal)
    val semW = rate(rows.map(_.getLong(3)).sum, wTotal)
    val floor = conf(s, AdmitRateFloor, admitRateFloorDefault)
    val semMax = conf(s, SemanticRateMax, semanticRateMaxDefault)
    frame(s, Seq(
      ("gate", "admit_rate", admit, floor,
        if (admit < floor) "alert" else "ok"),
      ("gate", "admit_rate_window", admitW, floor,
        if (admitW < floor) "alert" else "ok"),
      ("gate", "gate_window_batches", rows.size.toDouble,
        window.toDouble, "ok"),
      ("gate", "semantic_rate", sem, semMax,
        over(sem, semMax, "alert")),
      ("gate", "semantic_rate_window", semW, semMax,
        over(semW, semMax, "alert"))))
  }

  /** RETRO-AUDIT advisory — is the corpus's last contamination audit
    * CURRENT against the benchmark store's live revision? The
    * admission gate screens arrivals, but a benchmark REVISION
    * landing later leaves already-admitted docs contaminated in
    * place ([[CorpusStore.retroContamination]]'s reason to exist);
    * this row says whether anyone has looked since. `value` = the
    * highest revision a [[CorpusStore.quarantine]] receipt records
    * (0: never audited), `threshold` = the live revision, action
    * `audit` whenever the receipt trails the store — including the
    * never-audited fresh mount, deliberately: an unaudited corpus
    * with an eval set beside it is exactly the state the audit
    * exists for. A CLEAN quarantine (nothing flagged) still pins its
    * receipt, so `ok` is reachable without ever deleting a doc.
    *
    * Pure file reads: the benchmark store's manifest + the
    * quarantine log's markers (one tiny text record per audited
    * batch) — zero Spark jobs, the advisor discipline.
    */
  def adviseRetro(s: SparkSession, st: CorpusStore.Stores,
      bench: BenchmarkStore.Store): DataFrame = {
    val live = bench.pin(s).seq
    val dir = new Path(
      s"${st.curation.dir}/${CorpusStore.QuarantineSub}")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    val last: Int =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).toSeq.filter(_.isFile)
        .map(_.getPath).filter(_.getName.startsWith("batch-"))
        .flatMap(p => CorpusStore.readSmallFile(fs, p)
          .drop(1).headOption.flatMap(_.toIntOption))
        .maxOption.getOrElse(0)
    frame(s, Seq(("corpus", "retro_audit_rev", last.toDouble,
      live.toDouble, if (last < live) "audit" else "ok")))
  }

  /** The whole transaction's advice — one frame over every mounted
    * store, the readout a deployment runs after each batch.
    * ([[adviseRetro]] rides beside it when a benchmark store is
    * mounted — it needs the store handle this signature lacks.) */
  def advise(s: SparkSession, st: CorpusStore.Stores): DataFrame = {
    val three = adviseCuration(s, st.curation)
      .unionByName(adviseAnn(s, st.ann))
      .unionByName(adviseText(s, st.text))
      .unionByName(adviseGate(s, st.curation))
    st.stats.map(x => three.unionByName(adviseStats(s, x)))
      .getOrElse(three)
  }
}
