package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation pipeline as STAGED PARQUET ARTIFACTS — the shape a
  * real 100 TB dedup run takes: the expensive products of the
  * near-dup machinery (minhash signatures → thresholded candidate
  * pairs → connected-component cluster labels) are each written ONCE
  * as a table, and every downstream consumer — corpus rewrite (q50),
  * savings report (q113), leak-free split (q119), best-of-cluster
  * selection (q121) — reads the label TABLE instead of re-running
  * the LSH kernel and the components fixpoint per query. This is the
  * same high-water discipline the incremental operators already
  * apply to signatures (q53) and ANN assignments (q67), lifted to
  * the whole pipeline (reference pattern: `src/util.rs:62-66` —
  * fetch what's new, reuse what's stored).
  *
  * Stage lineage is CUT at every boundary by the parquet round-trip:
  * stage n+1's plan starts at a columnar scan of stage n's output,
  * so nothing is persisted, no fixpoint lineage escapes, and a
  * failed stage re-runs alone. At cluster scale the labels table is
  * written bucketed by `idCol` — [[build]]'s `bucketLabels` dial
  * wires it: every consumer's label join against a same-bucketed
  * corpus plans with ZERO exchanges (CurationStoreSpec pins the
  * shape; q76/BucketedJoinSpec demonstrate the raw mechanics).
  * Maintenance and the read-optimized layout COMPOSE: [[update]]
  * folds batches into a plain delta stage beside the bucketed base,
  * [[labelJoin]] serves zero-exchange reads over base-plus-delta,
  * [[compact]] folds the delta back in. The battery's local stores
  * keep plain parquet throughout.
  *
  * READER ISOLATION ([[StoreVersions]], the [[TextIndexStore]]/
  * [[AnnIndexStore]] discipline): every maintained stage lives in an
  * immutable version directory and ONE `_manifest` file names the
  * current version per stage. Readers resolve the manifest once at
  * plan time ([[Store.pin]] — every serving entry point pins
  * internally), so a query planned before a concurrent update,
  * delete, compact or full rebuild collects from its pinned
  * snapshot's files; retention keeps prior versions for in-flight
  * readers. Commit is FLIP-LAST and multi-stage atomic: an update's
  * label commit and its exact-counter fold land in one manifest
  * rename, a re-resolve compact's five rewritten stages land in one
  * — which is what retires this store's old roll-forward machinery
  * (fold/tombfold listings, the stats staleness sentinel): no crash
  * point can any longer separate a committed label stage from its
  * counter or from its cleared delta/tombstones.
  *
  * Equivalence to the fused (per-query standalone) forms is proven
  * twice: CurationStoreSpec asserts store-fed q50/q121 results are
  * frame-identical to the standalone operators, and the four
  * store-fed queries stay hash-green against DuckDB oracles that
  * recompute everything from the raw corpus.
  */
object CurationStore {

  /** Every versioned stage — the manifest's key set. `signatures`,
    * `pairs` and `tombstones` are APPEND stages (batch rows land
    * inside the current version, invisible to already-planned
    * readers, healed by settlement on a pre-commit crash); `labels`
    * (plain store) / `labels_delta` (bucketed store) and `stats` are
    * REPLACE stages whose new versions commit through the flip.
    */
  private[ops] val Stages = Seq("signatures", "pairs", "labels",
    "labels_delta", "tombstones", "stats", "dials")

  /** The APPEND stages whose file manifests every flip records into
    * its snapshot entry — [[Store.pinAt]]'s time-travel source
    * (labels/delta/stats are pure-replace). */
  private val AppendSnap = Map("signatures" -> false,
    "pairs" -> false, "tombstones" -> false)

  /** One resolved snapshot of the store — all six stages from a
    * SINGLE manifest read. Holding a Snapshot (or any DataFrame
    * planned from one) pins its files for the retention window.
    */
  final case class Snapshot(dir: String, idCol: String,
      labelsTable: Option[String], sigPath: String, pairsPath: String,
      labelsPath: String, deltaPath: String, tombsPath: String,
      statsPath: String,
      at: Map[String, Seq[(String, Long)]] = Map.empty) {

    /** An APPEND stage's frame: the live directory normally; the
      * pinned file manifest on a TIME-TRAVEL pin ([[Store.pinAt]] —
      * later batches append INSIDE a version dir, so only the
      * listing captured at flip time serves that epoch exactly). */
    private def stageRead(s: SparkSession, stage: String,
        path: String): DataFrame =
      at.get(stage) match {
        case Some(files) => s.read.parquet(files.map(_._1): _*)
        case None => s.read.parquet(path)
      }

    private def tombSrc: Tombstones.Src = at.get("tombstones")
      .map(Tombstones.Pinned).getOrElse(Tombstones.Live(tombsPath))

    private[ops] def tombstonesIfAny(s: SparkSession): Option[DataFrame] =
      Tombstones.ifAny(s, tombSrc)

    /** Drop tombstoned docs' rows from a stage view by the named id
      * column(s) — [[CurationStore.delete]]'s immediate serving
      * contract: membership of deleted docs disappears from every
      * read at once (labels, signatures, both endpoints of pairs),
      * while cluster TOPOLOGY (a bridge doc's transitive merges)
      * refreshes at the next [[CurationStore.compact]], which
      * re-resolves components over the physically filtered pairs.
      * Broadcast while the set is small, shuffle past the
      * [[Tombstones.BroadcastMaxBytes]] ceiling.
      */
    private[ops] def tombMask(s: SparkSession, df: DataFrame,
        onCols: Seq[String]): DataFrame =
      Tombstones.mask(s, df, idCol, tombSrc, onCols)

    def signatures(s: SparkSession): DataFrame =
      tombMask(s, stageRead(s, "signatures", sigPath), Seq(idCol))
    def pairs(s: SparkSession): DataFrame =
      tombMask(s, stageRead(s, "pairs", pairsPath), Seq("a", "b"))
    def stats(s: SparkSession): DataFrame =
      s.read.parquet(statsPath)

    private[ops] def deltaIfAny(s: SparkSession): Option[DataFrame] = {
      val p = new Path(deltaPath)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p) && UpdateMarker.listFiles(fs, deltaPath).nonEmpty)
        Some(s.read.parquet(deltaPath))
      else None
    }

    /** Outstanding delta's total file bytes — read off the listing,
      * never a job. The broadcast-vs-shuffle decision input. */
    private[ops] def deltaBytes(s: SparkSession): Long = {
      val p = new Path(deltaPath)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).toSeq.filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }

    /** The labels BASE — the bucketed catalog table when registered
      * AND still pointing at this snapshot's version (a compact
      * re-registers the name at its new version; a reader pinned to
      * the prior one must not follow it into a mixed-version plan),
      * the pinned files otherwise. The fallback loses only the
      * bucket DISTRIBUTION (a plan property), never rows.
      */
    private[ops] def labelsBase(s: SparkSession): DataFrame =
      labelsTable.filter(n => s.catalog.tableExists(n) &&
          TextIndexStore.tableLocationMatches(s, n, labelsPath))
        .map(s.table)
        .getOrElse(s.read.parquet(labelsPath))

    /** The store's effective label map. Plain store: the labels
      * stage. Bucketed store: the base table overridden by the delta
      * (delta rows win; base rows not in the delta pass through) —
      * consumers that want the zero-exchange bucketed join shape
      * should go through [[CurationStore.labelJoin]] instead of
      * joining this union frame directly.
      */
    def labels(s: SparkSession): DataFrame =
      tombMask(s, deltaIfAny(s) match {
        case None => labelsBase(s)
        case Some(delta) =>
          labelsBase(s).join(
              CurationStore.maybeBroadcast(s, this,
                delta.select(col(idCol))),
              Seq(idCol), "left_anti")
            .unionByName(delta)
      }, Seq(idCol))
  }

  /** Handle to a built store. Stage data resolves through the
    * manifest per call; hold a [[pin]]ned [[Snapshot]] (or the
    * DataFrames planned from one) for file-level stability across
    * concurrent maintenance.
    *
    * `labelsTable` is set when the labels stage was written BUCKETED
    * by `idCol` ([[build]]'s `bucketLabels` dial): bucket layout only
    * survives through the catalog (a plain parquet scan of the same
    * files forgets the hash distribution), so bucketed labels read as
    * a table and every consumer joining a corpus bucketed the same
    * way gets a ZERO-exchange label join — the shuffle is paid once
    * at store-write time, never again per consumer.
    */
  final case class Store(dir: String, idCol: String,
      labelsTable: Option[String] = None) {

    /** Resolve all six stages from ONE manifest read — the reader's
      * snapshot pin. */
    def pin(s: SparkSession): Snapshot =
      pinFrom(StoreVersions.read(
        new Path(dir).getFileSystem(s.sessionState.newHadoopConf()),
        dir))

    /** TIME-TRAVEL pin: the store as of flip `seq` of its snapshot
      * log ([[StoreVersions.readAt]]) — the historical label map,
      * signatures and masks together, serving verbatim while
      * retention holds and failing at collect once it has lapsed.
      * Loud when the log has no such entry. */
    def pinAt(s: SparkSession, seq: Int): Snapshot = {
      val st = StoreVersions.readAt(
        new Path(dir).getFileSystem(s.sessionState.newHadoopConf()),
        dir, seq)
      pinFrom(st.versions).copy(at = st.files)
    }

    private def pinFrom(m: Map[String, String]): Snapshot = {
      def p(stage: String): String = m.get(stage)
        .map(v => s"$dir/$stage/$v")
        .getOrElse(throw new IllegalStateException(
          s"curation store at $dir has no committed '$stage' stage — " +
            "build() it first (pre-versioning layouts are reset by " +
            "build)"))
      Snapshot(dir, idCol, labelsTable, p("signatures"), p("pairs"),
        p("labels"), p("labels_delta"), p("tombstones"), p("stats"))
    }

    /** The current tombstones stage directory (resolved). */
    def tombDir(s: SparkSession): String = pin(s).tombsPath
    /** The current delta stage directory (resolved). */
    def deltaDir(s: SparkSession): String = pin(s).deltaPath

    private[ops] def tombstonesIfAny(s: SparkSession): Option[DataFrame] =
      pin(s).tombstonesIfAny(s)
    private[ops] def deltaIfAny(s: SparkSession): Option[DataFrame] =
      pin(s).deltaIfAny(s)
    private[ops] def deltaBytes(s: SparkSession): Long =
      pin(s).deltaBytes(s)
    private[ops] def tombMask(s: SparkSession, df: DataFrame,
        onCols: Seq[String]): DataFrame = pin(s).tombMask(s, df, onCols)

    def signatures(s: SparkSession): DataFrame = pin(s).signatures(s)
    def pairs(s: SparkSession): DataFrame = pin(s).pairs(s)
    def labels(s: SparkSession): DataFrame = pin(s).labels(s)
  }

  /** Ceiling (bytes of delta parquet) up to which the outstanding
    * delta rides label reads as a BROADCAST. The delta grows with
    * drift since the last [[compact]] — unbounded if a caller keeps
    * folding batches without compacting — and broadcasting an
    * arbitrarily large frame is a driver/executor OOM, so past this
    * size the readers degrade to the one-exchange shuffle shape
    * (correct rows, zero-exchange claim void) instead of failing.
    * The right response to hitting it is to run [[compact]].
    */
  val DeltaBroadcastMaxBytes = "spark.graft.curation.deltaBroadcastMaxBytes"
  private val deltaBroadcastDefault = 32L * 1024 * 1024

  private[ops] def deltaBroadcastable(s: SparkSession,
      snap: Snapshot): Boolean =
    snap.deltaBytes(s) <= s.conf
      .get(DeltaBroadcastMaxBytes, deltaBroadcastDefault.toString).toLong

  private def maybeBroadcast(s: SparkSession, snap: Snapshot,
      df: DataFrame): DataFrame =
    if (deltaBroadcastable(s, snap)) broadcast(df) else df

  /** The LIVE signable-doc count — the number of rows a masked
    * signatures scan returns — as ONE metadata read of the one-row
    * `stats` stage, never a stage scan. The counter is COMMIT-ATOMIC
    * with the store: every writer folds its exact batch delta into a
    * fresh stats version and commits it in the SAME manifest flip as
    * its label commit ([[update]] adds the appended signature-row
    * count, [[delete]] subtracts the appended tombstone-row count),
    * so no crash point can separate the committed membership from
    * its counter — the staleness-sentinel recovery the old
    * swap-in-place layout needed is structurally gone. Spec-pinned
    * equal to `signatures(s).count()` through
    * build/update/delete/compact, crash healing and batchId replay.
    */
  def liveCount(s: SparkSession, store: Store): Long =
    store.pin(s).stats(s).head().getLong(0)

  /** Value meaning "use the store's own persisted dials" for the
    * screen/update banding parameters — the default everywhere, so a
    * store built with non-default banding is screened and folded
    * under ITS criteria, never a hard-coded 4/0.5. Pass an explicit
    * value to override deliberately (experiments, migrations). */
  val UseStoredDials: Int = -1

  private def writeDials(fs: FileSystem, dialsV: String,
      numHashes: Int, numBands: Int, minEst: Double): Unit = {
    require(fs.mkdirs(new Path(dialsV)), s"mkdirs $dialsV failed")
    val out = fs.create(new Path(s"$dialsV/dials.tsv"), true)
    try out.write(s"$numHashes\t$numBands\t$minEst\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The (numHashes, numBands, minEst) this store was [[build]]t
    * with — one metadata read of the committed `dials` stage, no
    * jobs. Loud on a pre-dials layout (the caller must then pass
    * the banding explicitly, or rebuild). */
  def storedDials(s: SparkSession, store: Store): (Int, Int, Double) = {
    val fs = new Path(store.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val v = StoreVersions.read(fs, store.dir).getOrElse("dials",
      throw new IllegalStateException(
        s"store at ${store.dir} has no committed dials stage " +
          "(pre-dials layout) — pass numHashes/numBands/minEst " +
          "explicitly, or rebuild"))
    val p = new Path(s"${store.dir}/dials/$v/dials.tsv")
    val in = fs.open(p)
    val text =
      try {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.mkString finally src.close()
      } finally in.close()
    val Array(h, b, e) = text.trim.split("\t")
    (h.toInt, b.toInt, e.toDouble)
  }

  /** Resolve a caller's banding arguments against the store's
    * persisted dials: sentinel ([[UseStoredDials]] / negative)
    * values take the stored dial, explicit values win — and the
    * stored read only happens when something is actually deferred,
    * so explicit-everything callers never require a dials stage
    * (pre-dials layouts keep working under explicit arguments). */
  private def resolveBanding(s: SparkSession, store: Store,
      numBands: Int, minEst: Double): (Int, Double) =
    if (numBands >= 1 && minEst >= 0) (numBands, minEst)
    else {
      val (_, b, e) = storedDials(s, store)
      (if (numBands >= 1) numBands else b,
        if (minEst >= 0) minEst else e)
    }

  /** The [[UpdateMarker]] stage map all writers share, RESOLVED to
    * the current versions — one definition so the writers'
    * settle/snapshot protocol cannot drift apart. `stats` is the
    * flip-commit stage (its one-row version flips at every
    * update/delete, giving settlement a commit witness that never
    * depends on whether the batch changed any label file); `labels`
    * maps to the replace target (the delta beside a bucketed base,
    * the whole labels stage for a plain store); sig/pairs/tomb are
    * the append-only sides whose partial files settlement heals.
    */
  private def stageMap(s: SparkSession, store: Store)
      : Map[String, String] = {
    val snap = store.pin(s)
    Map(
      "sig" -> snap.sigPath,
      "pairs" -> snap.pairsPath,
      "tomb" -> snap.tombsPath,
      "labels" -> (if (store.labelsTable.isDefined) snap.deltaPath
                   else snap.labelsPath),
      "stats" -> snap.statsPath)
  }

  /** Deterministic catalog name for `storeDir`'s bucketed labels
    * table (bucketing survives only through the catalog). */
  private def tableNameFor(storeDir: String): String =
    "graft_labels_" + java.security.MessageDigest.getInstance("MD5")
      .digest(storeDir.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** The bucketed labels write — one definition for [[build]] and
    * [[compact]], both writing a FRESH labels version: bucketBy +
    * sortBy through a THROWAWAY staging catalog name (dropped
    * immediately — metadata only; the data files stay at `path`).
    * The REAL table name is registered at `path` only after the
    * manifest flip commits it ([[registerBucketedLabels]]) so no
    * reader can resolve the name into an uncommitted version. */
  private def writeBucketedLabelsStaged(rows: DataFrame, idCol: String,
      buckets: Int, table: String, path: String): Unit = {
    val s = rows.sparkSession
    val staging = s"${table}_staging"
    s.sql(s"DROP TABLE IF EXISTS $staging")
    rows.write.format("parquet")
      .bucketBy(buckets, idCol).sortBy(idCol)
      .option("path", StoreDirs.catalogSafe(path))
      .mode("overwrite").saveAsTable(staging)
    s.sql(s"DROP TABLE IF EXISTS $staging") // metadata only; files stay
  }

  /** (Re-)register the real bucketed table name at a COMMITTED
    * labels version. `schemaDDL` comes from the written frame, not a
    * re-read — deletion can legitimately empty the stage to zero
    * files, which a raw parquet read cannot infer a schema from.
    * Readers between the drop and the create (and after a crash
    * inside the window) ride the manifest-resolved file scan —
    * correct rows, layout property lost — until the next [[compact]]
    * re-registers; the [[Snapshot.labelsBase]] location guard keeps
    * a pinned reader off a table already moved to a newer version.
    */
  private def registerBucketedLabels(s: SparkSession, name: String,
      path: String, buckets: Int, idCol: String,
      schemaDDL: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    s.sql(s"CREATE TABLE $name ($schemaDDL) USING parquet " +
      s"CLUSTERED BY ($idCol) SORTED BY ($idCol) " +
      s"INTO $buckets BUCKETS " +
      s"LOCATION '${StoreDirs.catalogSafe(path)}'")
  }

  /** Run the three stages over `docs` and write the store under
    * `storeDir` as a fresh SNAPSHOT, committed by one manifest flip
    * — a store already serving from `storeDir` keeps serving the old
    * snapshot until the flip, and pinned readers keep their files
    * through retention (label serving rides THROUGH the rebuild).
    * Dials mirror the battery's near-dup defaults (q43/q49): 16
    * hashes in 4 bands, estimate cut 0.5.
    *
    * `bucketLabels` > 0 writes the labels stage `bucketBy` `idCol`
    * into that many buckets (registered as an external catalog table
    * over the committed version — bucketing is catalog metadata).
    * This is the serving layout for the cluster-scale claim above:
    * with the corpus bucketed by the same key and count, a
    * consumer's label join plans with NO exchange on either side
    * (CurationStoreSpec pins the zero-exchange shape). A bucketed
    * store stays MAINTAINABLE: [[update]] folds batches into the
    * plain-parquet delta stage beside the base, [[labelJoin]] keeps
    * consumers exchange-free while the delta is outstanding, and
    * [[compact]] periodically folds the delta back into a fresh
    * bucketed base.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      storeDir: String, numHashes: Int = 16, numBands: Int = 4,
      minEst: Double = 0.5,
      maxBucketSize: Long = Long.MaxValue,
      bucketLabels: Int = 0): Store = {
    val spark = docs.sparkSession
    val fs = new Path(storeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    UpdateMarker.enterBuild(fs, storeDir, Stages)
    // stage 1 — signatures: one partition-local pass over the text
    // (the only stage that touches the corpus)
    val sigV = StoreVersions.next(fs, storeDir, "signatures")
    Dedup.minhashSignatures(docs, idCol, textCol, numHashes)
      .write.mode("overwrite").parquet(sigV)
    // stages 2+3 (pairs → fixpoint → labels) and the live counter
    // are independent readers of the just-written signature version —
    // overlapped ([[TierPar]], guide §2.6): the counter's one tiny
    // job rides the fixpoint chain's driver gaps
    val pairsV = StoreVersions.next(fs, storeDir, "pairs")
    val labelsV = StoreVersions.next(fs, storeDir, "labels")
    val statsV = StoreVersions.next(fs, storeDir, "stats")
    val ((table, labelSchema), _) = TierPar.par2(
      {
        // stage 2 — candidate pairs from the STORED signatures: band
        // bucket self-join + estimate threshold, raw text not re-read
        Dedup.estimatePairsFromSignatures(
            spark.read.parquet(sigV),
            idCol, numHashes, numBands, maxBucketSize)
          .filter(col("est_jaccard") >= minEst)
          .write.mode("overwrite").parquet(pairsV)
        // stage 3 — cluster labels: the components fixpoint runs
        // ONCE, its write is its materialization, cache released here
        val fixpoint = Dedup.clusters(
          spark.read.parquet(pairsV), "a", "b")
        val labelRows = fixpoint.select(col("id").as(idCol),
          col("cluster"))
        val t =
          if (bucketLabels > 0) {
            writeBucketedLabelsStaged(labelRows, idCol, bucketLabels,
              tableNameFor(storeDir), labelsV)
            Some(tableNameFor(storeDir))
          } else {
            labelRows.write.mode("overwrite").parquet(labelsV)
            None
          }
        val ddl = labelRows.schema.toDDL
        fixpoint.unpersist()
        (t, ddl)
      },
      // exact live counter seeded from the fresh signatures (no
      // tombstones exist — unmasked count is the live membership)
      spark.read.parquet(sigV).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(statsV))
    val deltaV = StoreVersions.nextEmpty(fs, storeDir, "labels_delta")
    val tombV = StoreVersions.nextEmpty(fs, storeDir, "tombstones")
    // the dials stage: the banding this store's pairs/labels were
    // derived under, committed WITH them so admission reads
    // ([[screen]]) and incremental folds ([[update]]) default to the
    // store's own criteria instead of a hard-coded 4/0.5 that may
    // not be what the store was built with
    val dialsV = StoreVersions.next(fs, storeDir, "dials")
    writeDials(fs, dialsV, numHashes, numBands, minEst)
    StoreVersions.flip(fs, storeDir, Map("signatures" -> sigV,
      "pairs" -> pairsV, "labels" -> labelsV, "labels_delta" -> deltaV,
      "tombstones" -> tombV, "stats" -> statsV, "dials" -> dialsV),
      AppendSnap)
    table.foreach(n => registerBucketedLabels(spark, n, labelsV,
      bucketLabels, idCol, labelSchema))
    StoreVersions.gc(spark, fs, storeDir, Stages)
    Store(storeDir, idCol, table)
  }

  /** Incrementally fold a NEW batch of docs into an existing store —
    * the daily operation at 100 TB, where a full [[build]] would
    * re-shingle the whole corpus to absorb a sliver of new documents.
    * The high-water discipline of the incremental operators (q53's
    * signature store, q67's ANN assignments) applied to the staged
    * pipeline itself:
    *
    *  - signatures: ONLY `newDocs` is shingled and minhashed; the new
    *    rows are APPENDED to the signature stage. History text is
    *    never read.
    *  - pairs: [[Dedup.estimatePairsForNewBatch]] joins the new
    *    signatures against the STORED ones (batch-vs-store +
    *    within-batch, `a < b` normalized) and appends the result —
    *    exactly the pairs a full rebuild would add.
    *  - labels: the components fixpoint re-runs over the SMALL edge
    *    set (stored labels as id→cluster edges ∪ the appended pairs)
    *    — linear in labeled docs + new pairs, independent of corpus
    *    text volume. A new doc bridging two old clusters merges them
    *    correctly because each old cluster id is itself a member
    *    node. On a plain store the result lands as a fresh labels
    *    VERSION; on a BUCKETED store the base table is immutable and
    *    the result lands as a fresh version of the labels-that-differ
    *    DELTA beside it, keeping the serving layout intact between
    *    [[compact]]s. Either way the label commit and the exact
    *    counter's additive fold ride ONE manifest flip.
    *
    * Equivalence `update(build(old), new) == build(old ∪ new)` is
    * exact at the default unguarded dials and spec-proven
    * stage-by-stage (CurationStoreSpec); q126 additionally pins it
    * against the DuckDB oracle, which recomputes the summary from
    * the FULL raw corpus.
    *
    * `newDocs` ids must be disjoint from the stored corpus (the
    * caller's high-water contract, as in [[Dedup.dedupIncremental]]).
    *
    * Crash/re-run discipline: the manifest flip is the update's
    * commit. An [[UpdateMarker]] written before stage 1 snapshots
    * every stage's file listing, so a re-run after a crash first
    * deletes the crashed attempt's partial signature/pair appends
    * (files not in the snapshot) — making the re-run exactly-once
    * instead of double-appending the batch's rows; a crashed
    * attempt's staged label/stats versions are orphans above the
    * manifest, swept at entry. Passing a `batchId` (non-empty — the
    * empty string is the marker's "no key" encoding) additionally
    * makes a re-run of an already-COMMITTED batch a detected no-op
    * across EVERY crash window: the in-flight marker catches a crash
    * before its own delete, the durable `_applied` record catches a
    * crash after it.
    *
    * SINGLE WRITER per store directory ([[UpdateMarker]] contract):
    * a second concurrent update fails loudly at its marker write.
    */
  def update(store: Store, newDocs: DataFrame, textCol: String,
      numHashes: Int = UseStoredDials, numBands: Int = UseStoredDials,
      minEst: Double = UseStoredDials,
      maxBucketSize: Long = Long.MaxValue,
      batchId: Option[String] = None,
      screenedNoNewPairs: Boolean = false): Store = {
    val spark = newDocs.sparkSession
    val idCol = store.idCol
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(store.dir).getFileSystem(hconf)
    def files(dir: String): Set[String] =
      UpdateMarker.listFiles(fs, dir)
    // banding defaults come from the store's OWN persisted dials —
    // a store built with non-default banding must fold batches under
    // its criteria, not a hard-coded 4/0.5 (explicit args still win).
    // The `screenedNoNewPairs` fast fold never scores a pair, so it
    // skips the dials-stage read outright: its signature width is
    // resolved (and validated) against the stage schema below.
    val (numHashesR, numBandsR, minEstR) =
      if (screenedNoNewPairs ||
          (numHashes >= 1 && numBands >= 1 && minEst >= 0))
        (numHashes, numBands, minEst)
      else {
        val (h, b, e) = storedDials(spark, store)
        (if (numHashes >= 1) numHashes else h,
          if (numBands >= 1) numBands else b,
          if (minEst >= 0) minEst else e)
      }
    if (UpdateMarker.enter(spark, fs, store.dir, Stages,
        stageMap(spark, store), batchId))
      return store // this very batch already applied — no-op
    val snap = store.pin(spark)
    // numHashes is NOT free to override: the batch's signature rows
    // append into the stored stage, whose h* schema is fixed —
    // validate against the actual columns so a mismatch fails here,
    // not as a silent schema drift inside the stage. (Metadata-only
    // read; on the fast fold this IS the width resolution.)
    val sigHashes = spark.read.parquet(snap.sigPath)
      .columns.count(_.matches("h\\d+"))
    require(sigHashes > 0,
      s"store at ${store.dir} has no h* signature columns")
    require(numHashesR < 1 || numHashesR == sigHashes,
      s"update numHashes ($numHashesR) != the store's signature " +
        s"schema — the signature stage's h* width is fixed at build")
    // re-adding a DELETED id would collide with its tombstone (masks
    // hide by id) — fail loudly; compact() frees the ids (the
    // TextIndexStore/AnnIndexStore rule)
    snap.tombstonesIfAny(spark).foreach { t =>
      require(newDocs.join(t.select(col(idCol)).distinct(),
          Seq(idCol), "left_semi").isEmpty,
        "batch re-adds tombstoned ids — run compact() first (removals " +
          "become physical and the tombstone set clears)")
    }

    // stage 1 — shingle ONLY the batch, append INSIDE the current
    // signatures version; the before/after file diff recovers the
    // appended rows as a COLUMNAR READ so no stage is ever computed
    // twice (the signature stage is the source of truth from here
    // on, mirroring build()'s lineage cuts)
    val sigBefore = files(snap.sigPath)
    Dedup.minhashSignatures(newDocs, idCol, textCol, sigHashes)
      .write.mode("append").parquet(snap.sigPath)
    spark.catalog.refreshByPath(snap.sigPath)
    val sigNewFiles = (files(snap.sigPath) -- sigBefore).toSeq
    val sigNew = spark.read.parquet(sigNewFiles: _*)

    if (screenedNoNewPairs) {
      // GATED-FOLD FAST PATH — the caller certifies every `newDocs`
      // row passed [[screen]] against THIS store at the store's own
      // dials with uncapped buckets. Then stage 2 is provably empty
      // (a kept↔store or kept↔kept candidate scoring ≥ minEst would
      // have made its doc hist_dup / batch_dup — the screen and this
      // fold band identically, and the screen's history ⊇ this
      // fold's tomb-masked store side), and stage 3's fixpoint over
      // (stored labels ∪ ∅) re-derives the stored labels verbatim —
      // so the fold is: signature append (above) + the exact-counter
      // fold, committed by one stats-only manifest flip. Stage-for-
      // stage equal to the generic fold (GatedFoldSpec pins it); the
      // crash/replay discipline (marker heal, `_applied`, flip-last)
      // is the generic path's verbatim.
      val sV = StoreVersions.next(fs, store.dir, "stats")
      snap.stats(spark)
        .crossJoin(sigNew.agg(count(lit(1)).as("_dn")))
        .select((col("n") + col("_dn")).as("n"))
        .write.mode("overwrite").parquet(sV)
      StoreVersions.flip(fs, store.dir, Map("stats" -> sV), AppendSnap)
      StoreVersions.gc(spark, fs, store.dir, Seq("stats"))
      UpdateMarker.exit(fs, store.dir, batchId)
      return store
    }

    // the stored side is tombstone-masked: a new doc must not pair
    // with a DELETED doc's signature
    val sigOld = snap.tombMask(spark,
      spark.read.parquet(sigBefore.toSeq: _*), Seq(idCol))

    // stage 2 — the pairs the batch adds, from stored signatures only
    val pairsBefore = files(snap.pairsPath)
    Dedup.estimatePairsForNewBatch(sigNew, sigOld, idCol, sigHashes,
        numBandsR, maxBucketSize)
      .filter(col("est_jaccard") >= minEstR)
      .write.mode("append").parquet(snap.pairsPath)
    spark.catalog.refreshByPath(snap.pairsPath)
    val pairsNew =
      spark.read.parquet((files(snap.pairsPath) -- pairsBefore).toSeq: _*)

    // stage 3 — fixpoint over stored-labels-as-edges + new pairs:
    // the graph is labeled docs + new pairs, NOT the corpus. The
    // stored side is the store's EFFECTIVE label map (plain stage,
    // or bucketed base overridden by the delta)
    val edges = snap.labels(spark)
      .select(col(idCol).as("a"), col("cluster").as("b"))
      .unionByName(pairsNew.select(col("a"), col("b")))
    val fixpoint = Dedup.clusters(edges, "a", "b")
    val newLab = fixpoint.select(col("id").as(idCol), col("cluster"))
    val staged = store.labelsTable match {
      case Some(_) =>
        // bucketed store: the base table is immutable — stage only
        // the labels that DIFFER from it (new docs + relabels); the
        // delta REPLACES wholesale (it is itself a fixpoint product,
        // not an append), so its size is bounded by drift since the
        // last compact(), not by update count
        val base = snap.labelsBase(spark)
          .select(col(idCol), col("cluster").as("_bc"))
        newLab.join(base, Seq(idCol), "left_outer")
          .filter(col("_bc").isNull || col("_bc") =!= col("cluster"))
          .select(col(idCol), col("cluster"))
      case None => newLab
    }
    // COMMIT — the staged label version plus the exact-counter fold
    // (prior counter crossJoined with the batch's one-row
    // signable-doc count off the appended signature files, fused
    // into the single stats write job), landed by ONE manifest flip:
    // no crash point separates the committed labels from their
    // counter
    val commitStage =
      if (store.labelsTable.isDefined) "labels_delta" else "labels"
    val cV = StoreVersions.next(fs, store.dir, commitStage)
    staged.write.mode("overwrite").parquet(cV)
    fixpoint.unpersist()
    val sV = StoreVersions.next(fs, store.dir, "stats")
    snap.stats(spark)
      .crossJoin(sigNew.agg(count(lit(1)).as("_dn")))
      .select((col("n") + col("_dn")).as("n"))
      .write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, store.dir,
      Map(commitStage -> cV, "stats" -> sV), AppendSnap)
    StoreVersions.gc(spark, fs, store.dir, Seq(commitStage, "stats"))
    UpdateMarker.exit(fs, store.dir, batchId)
    store
  }

  /** Remove documents from the store — the takedown/recrawl
    * operation for the curation tier, the inverse of [[update]]'s
    * disjoint-id append. Semantics, stated precisely:
    *
    *  - MEMBERSHIP is exact immediately: the doomed ids land in the
    *    append-only `tombstones` stage, every read masks against it
    *    (labels/labelJoin/signatures/both pair endpoints), and the
    *    committed label version drops their rows physically (the
    *    whole labels stage on a plain store; the delta beside a
    *    bucketed base, whose base rows the mask covers). No deleted
    *    doc appears in any consumer join, pair report or cluster
    *    from the next query on.
    *  - TOPOLOGY refreshes at [[compact]]: a deleted BRIDGE doc's
    *    transitive merges survive in the remaining docs' cluster
    *    ids until compaction re-resolves components over the
    *    physically filtered pairs — at which point the store equals
    *    a rebuild without the deleted docs stage-for-stage
    *    (spec-pinned at the default unguarded dials, where the LSH
    *    banding of the remaining signatures yields exactly the
    *    stored pairs minus those touching deleted docs).
    *
    * Crash/replay discipline is [[update]]'s verbatim: tombstone
    * appends are a healed side stage, the manifest flip (label
    * version + decremented counter, atomic) is the commit, `batchId`
    * makes every replay window a detected no-op. Ids already deleted
    * or never stored are ignored.
    */
  def delete(store: Store, ids: DataFrame,
      batchId: Option[String] = None): Store = {
    val spark = ids.sparkSession
    val idCol = store.idCol
    val fs = new Path(store.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (UpdateMarker.enter(spark, fs, store.dir, Stages,
        stageMap(spark, store), batchId))
      return store // this very batch already applied — no-op
    val snap = store.pin(spark)
    // append only CURRENTLY-STORED ids: signatures(spark) is the
    // masked membership stage, so an id already tombstoned — or
    // NEVER STORED (a takedown arriving before ingest, a typo'd id)
    // — contributes no tombstone row. Tombstoning a never-stored id
    // would permanently block a later update() of that id behind the
    // re-add guard although no stale rows exist to resurrect (the
    // [[TextIndexStore.delete]] rule; a signable-width doc always
    // has a signatures row, and a sub-shingle-width doc has no rows
    // in ANY stage, so skipping its tombstone masks nothing away).
    // Evaluated at the write below, before the append lands —
    // re-runs cannot grow the set.
    val doomed = ids.select(col(idCol)).distinct()
      .join(snap.signatures(spark).select(col(idCol)), Seq(idCol),
        "left_semi")
    val tombBefore = UpdateMarker.listFiles(fs, snap.tombsPath)
    doomed.write.mode("append").parquet(snap.tombsPath)
    spark.catalog.refreshByPath(snap.tombsPath)
    // the counter decrement is EXACTLY the appended tombstone rows,
    // read back off the listing diff — re-evaluating `doomed` now
    // would see the just-masked signatures and count zero
    val tombNew =
      (UpdateMarker.listFiles(fs, snap.tombsPath) -- tombBefore).toSeq
    val dnNeg = if (tombNew.isEmpty)
        spark.range(1).select(lit(0L).as("_dn"))
      else spark.read.parquet(tombNew: _*)
        .agg((count(lit(1)) * -1).as("_dn"))
    // stage the label version the flip commits: the effective labels
    // minus the deleted docs (labels(spark) is already masked
    // against the just-appended tombstones) on a plain store, the
    // delta minus the deleted docs beside a bucketed base
    val staged = store.labelsTable match {
      case Some(_) =>
        snap.deltaIfAny(spark)
          .map(d => snap.tombMask(spark, d, Seq(idCol)))
          .getOrElse {
            // an empty staged delta needs only the labels SCHEMA —
            // taken from the base (catalog table or pinned files;
            // the catalog carries it even when a re-resolve compact
            // emptied the base to ZERO files — deletion can
            // legitimately empty a stage, and a raw parquet read of
            // a zero-file dir cannot infer a schema)
            snap.labelsBase(spark).filter(lit(false))
          }
      case None => snap.labels(spark)
    }
    val commitStage =
      if (store.labelsTable.isDefined) "labels_delta" else "labels"
    val cV = StoreVersions.next(fs, store.dir, commitStage)
    staged.write.mode("overwrite").parquet(cV)
    // COMMIT: label version + decremented exact counter in ONE flip
    // (the negated tombstone-row count is the delta, fused into the
    // single stats write job)
    val sV = StoreVersions.next(fs, store.dir, "stats")
    snap.stats(spark).crossJoin(dnNeg)
      .select((col("n") + col("_dn")).as("n"))
      .write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, store.dir,
      Map(commitStage -> cV, "stats" -> sV), AppendSnap)
    StoreVersions.gc(spark, fs, store.dir, Seq(commitStage, "stats"))
    UpdateMarker.exit(fs, store.dir, batchId)
    store
  }

  /** Fold the label delta into a fresh BUCKETED base — the periodic
    * maintenance that completes the serving story: [[update]] keeps
    * a bucketed store current through the plain delta stage,
    * `compact` pays the one bucketing shuffle to restore the pure
    * read-optimized layout (delta empty, every consumer join
    * zero-exchange again). Also the upgrade path: compacting a PLAIN
    * store buckets it in place.
    *
    * Crash discipline: the staged bucketed files land in a fresh
    * labels version and commit — together with the emptied delta —
    * by ONE manifest flip; a crash mid-compact leaves the old
    * snapshot serving and only orphan version dirs behind (swept at
    * the next writer's entry), and pinned readers serve THROUGH the
    * compaction from their snapshot's files. The catalog name
    * re-registers at the committed version only after the flip
    * ([[registerBucketedLabels]]); a crash inside that window leaves
    * readers on the manifest-resolved file scan — correct rows, one
    * extra exchange — until a re-run completes the registration. At
    * cluster scale that registration is the metastore update a
    * maintenance window performs, not part of the data path.
    *
    * SINGLE WRITER: compact enters the [[UpdateMarker]] lifecycle as
    * a maintenance writer — it settles a crashed predecessor at
    * entry (healing that update's partial appends BEFORE reading the
    * labels it folds) and holds the in-flight marker for its run, so
    * simultaneous writer entries collide loudly at the fail-if-exists
    * marker write.
    */
  def compact(s: SparkSession, store: Store, buckets: Int): Store = {
    require(buckets > 0, "buckets must be positive")
    val fs = new Path(store.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    UpdateMarker.enter(s, fs, store.dir, Stages, stageMap(s, store),
      batchId = None, maintenance = true)
    val snap = store.pin(s)
    val name = tableNameFor(store.dir)
    if (snap.tombstonesIfAny(s).isDefined)
      return compactReResolve(s, fs, store, snap, buckets, name)
    // stage the EFFECTIVE labels (base ∪ delta, or the plain stage)
    // bucketed into a fresh labels version — the read side is
    // untouched while the write runs, the flip below is the commit
    val effective = snap.labels(s)
    val labelSchema = effective.schema.toDDL
    val lV = StoreVersions.next(fs, store.dir, "labels")
    writeBucketedLabelsStaged(effective, store.idCol, buckets, name, lV)
    val deltaV = StoreVersions.nextEmpty(fs, store.dir, "labels_delta")
    StoreVersions.flip(fs, store.dir,
      Map("labels" -> lV, "labels_delta" -> deltaV),
      AppendSnap) // commit point
    registerBucketedLabels(s, name, lV, buckets, store.idCol,
      labelSchema)
    StoreVersions.gc(s, fs, store.dir, Stages)
    UpdateMarker.exit(fs, store.dir)
    Store(store.dir, store.idCol, Some(name))
  }

  /** [[compact]]'s deletion-aware path, taken when tombstones are
    * outstanding: removals become PHYSICAL in every stage and the
    * cluster topology refreshes — after it the store equals a
    * rebuild without the deleted docs, stage for stage.
    *
    *  1. signatures and pairs rewrite into fresh versions from the
    *     MASKED views (rows of deleted docs dropped);
    *  2. the components fixpoint re-runs over the REMAINING pairs —
    *     the step that splits clusters a deleted bridge doc held
    *     together (reader-side masks alone cannot, which is why the
    *     delete scaladoc defers topology to here);
    *  3. the re-resolved labels land as the fresh bucketed base;
    *  4. the delta and tombstone stages flip to fresh EMPTY versions.
    *
    * All five stages commit in ONE manifest flip — atomic, which is
    * what retires the old layout's maintenance-marker ordering and
    * its fold/tombfold roll-forward: no crash point can pair a
    * re-resolved base with a stale delta override or a re-deleted
    * id's mask. The counter does not flip — deletion already
    * decremented it exactly, and re-resolution changes topology,
    * never membership.
    */
  private def compactReResolve(s: SparkSession, fs: FileSystem,
      store: Store, snap: Snapshot, buckets: Int,
      name: String): Store = {
    // deletion can legitimately EMPTY a stage (every pair touched a
    // deleted doc) — zero-file parquet dirs can't infer a schema, so
    // the rewrites below capture their schemas from the pre-rewrite
    // views and the registration uses the label frame's own schema
    val pairsSchema = snap.pairs(s).schema
    // 1. physical removal (masked reads) into fresh versions
    val sigV = StoreVersions.next(fs, store.dir, "signatures")
    snap.signatures(s).write.mode("overwrite").parquet(sigV)
    val pairsV = StoreVersions.next(fs, store.dir, "pairs")
    snap.pairs(s).write.mode("overwrite").parquet(pairsV)
    // 2. + 3. re-resolve over the remaining pairs (read off the
    // staged version — lineage cut without waiting for the commit),
    // stage bucketed as the fresh base
    val fixpoint = Dedup.clusters(
      s.read.schema(pairsSchema).parquet(pairsV), "a", "b")
    val labelRows = fixpoint
      .select(col("id").as(store.idCol), col("cluster"))
    val labelSchema = labelRows.schema.toDDL
    val lV = StoreVersions.next(fs, store.dir, "labels")
    writeBucketedLabelsStaged(labelRows, store.idCol, buckets, name, lV)
    fixpoint.unpersist()
    // 4. fresh empty delta + tombstones, committed with everything
    val deltaV = StoreVersions.nextEmpty(fs, store.dir, "labels_delta")
    val tombV = StoreVersions.nextEmpty(fs, store.dir, "tombstones")
    StoreVersions.flip(fs, store.dir, Map("signatures" -> sigV,
      "pairs" -> pairsV, "labels" -> lV, "labels_delta" -> deltaV,
      "tombstones" -> tombV), AppendSnap) // commit point
    registerBucketedLabels(s, name, lV, buckets, store.idCol,
      labelSchema)
    StoreVersions.gc(s, fs, store.dir, Stages)
    UpdateMarker.exit(fs, store.dir)
    Store(store.dir, store.idCol, Some(name))
  }

  /** ROLL BACK to snapshot `seq` of the flip log — the undo for a
    * bad document batch ([[StoreVersions.rollbackTo]]): the label
    * map and exact counter flip back to that epoch's versions, and
    * the signature/pair/tombstone files folded since are DELETED
    * surgically off the snapshot's file manifest. Enters as a writer
    * ([[UpdateMarker.rollback]]: single-writer collision applies,
    * `_applied` clears so an undone batch id folds again). On a bucketed
    * store the catalog may point past the restored labels version —
    * reads degrade to the guarded file scan (correct rows, one
    * exchange) until the next [[compact]] re-registers. Destructive
    * to the undone epochs by design; retention bounds the reachable
    * `seq`.
    */
  def rollback(s: SparkSession, store: Store, seq: Int): Store = {
    val fs = new Path(store.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    UpdateMarker.rollback(s, fs, store.dir, Stages, stageMap(s, store),
      seq, AppendSnap)
    store
  }

  /** Handle for an EXISTING store directory, the bucketed-labels
    * catalog table detected from the session catalog (the
    * [[TextIndexStore.forDir]] convention — re-opening a store
    * another handle built, e.g. a completed clone tier on a resumed
    * [[CorpusStore.cloneAt]]). Absent (or pointing elsewhere — the
    * standing location guard applies at read time), label serving
    * degrades to the plain path scan: correct rows either way.
    */
  def forDir(s: SparkSession, dir: String, idCol: String): Store = {
    val name = tableNameFor(dir)
    val hasTable =
      try {
        s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(name))
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    Store(dir, idCol, if (hasTable) Some(name) else None)
  }

  /** Clone the store as of snapshot `seq` into `dstDir` — a fully
    * independent store ([[StoreVersions.cloneAt]]: labels/delta/
    * stats versions copied wholesale, signatures/pairs/tombstones at
    * their flip-time file manifests, one commit). On a bucketed
    * store the copied label files keep their bucket layout (bucket
    * ids ride the file names) and the catalog table is re-registered
    * under the clone's own name with the SOURCE table's bucket spec.
    * New lineage: no `_applied` witnesses come along — batch ids the
    * source folded after `seq` fold into the clone normally.
    */
  def cloneAt(s: SparkSession, store: Store, seq: Int,
      dstDir: String): Store = {
    val fs = new Path(store.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    StoreVersions.cloneAt(fs, store.dir, dstDir, seq, AppendSnap)
    store.labelsTable match {
      case None => Store(dstDir, store.idCol)
      case Some(srcName) =>
        val buckets = s.sessionState.catalog
          .getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(srcName))
          .bucketSpec.map(_.numBuckets)
          .getOrElse(throw new IllegalStateException(
            s"source table $srcName carries no bucket spec"))
        val name = tableNameFor(dstDir)
        val out = Store(dstDir, store.idCol, Some(name))
        val labelsV = out.pin(s).labelsPath
        registerBucketedLabels(s, name, labelsV, buckets,
          store.idCol, s.read.parquet(labelsV).schema.toDDL)
        out
    }
  }

  /** Consumer-side label join that keeps the bucketed store's
    * ZERO-exchange shape even while a delta is outstanding: the big
    * corpus-vs-base join stays exchange-free (both sides bucketed by
    * `idCol`), the delta rides in as two broadcasts — an anti-join
    * masking base rows the delta supersedes, plus the delta rows
    * themselves. Semantically identical to
    * `corpus.join(store.labels(s), idCol)` (CurationStoreSpec pins
    * both the equality and the exchange count); joining the union
    * frame directly would forget the base's bucketing and re-shuffle
    * the corpus. Pins ONE snapshot for all its reads.
    */
  def labelJoin(corpus: DataFrame, store: Store): DataFrame = {
    val s = corpus.sparkSession
    val idCol = store.idCol
    val snap = store.pin(s)
    // deleted docs leave every serving join immediately (the labels()
    // mask, applied here to the bucketed fast paths too — a broadcast
    // anti-join preserves the base's bucketed partitioning)
    def masked(df: DataFrame): DataFrame =
      snap.tombMask(s, df, Seq(idCol))
    store.labelsTable match {
      case Some(t) if s.catalog.tableExists(t) &&
          TextIndexStore.tableLocationMatches(s, t, snap.labelsPath) =>
        val base = s.table(t)
        snap.deltaIfAny(s) match {
          case None => masked(corpus.join(base, idCol))
          case Some(_) if !deltaBroadcastable(s, snap) =>
            // delta outgrew the broadcast ceiling (compact() is
            // overdue): the zero-exchange claim is void either way,
            // so degrade to the one-exchange union shape instead of
            // OOMing a broadcast (see [[DeltaBroadcastMaxBytes]])
            corpus.join(snap.labels(s), idCol)
          case Some(delta) =>
            masked(corpus.join(base, idCol)
              .join(broadcast(delta.select(col(idCol))),
                Seq(idCol), "left_anti")
              .unionByName(corpus.join(broadcast(delta), idCol)))
        }
      // the location-guard mirrors labelsBase(): a plain store, or
      // inside compact()'s re-registration window (or pinned behind
      // a newer version) — the join degrades to the plain-scan shape
      // (one exchange) instead of failing or mixing versions
      case _ => corpus.join(snap.labels(s), idCol)
    }
  }

  /** Screen a NEW batch against the store BEFORE it is ingested —
    * the ADMISSION-CONTROL read of the dedup tier, the decision a
    * daily 100 TB crawl makes at the door: per batch doc, is it a
    * near-dup of something the corpus already holds (`hist_dup`), a
    * non-canonical member of a near-dup cluster within the batch
    * itself (`batch_dup`), or new material (`kept`)? One row per
    * batch doc, `(idCol, status)` — [[Dedup.incrementalDecisions]]
    * evaluated against the STORE's signatures instead of an ad-hoc
    * signature frame (q53's operator, served from the persisted
    * tier).
    *
    * Pure READ: nothing is written, no marker is taken — the batch
    * is signed (one partition-local pass over the batch text alone;
    * history text is never touched) and LSH-joined against the
    * stored signatures. The decision frame PINS one snapshot at plan
    * time ([[Store.signatures]] resolves the manifest once), so it
    * stays collectible — and keeps answering from the pre-batch
    * corpus — even after the caller folds the survivors in
    * (reader-isolation, the store's standing contract).
    *
    * Two deliberate exclusions on the history side:
    *  - TOMBSTONED docs never block re-admission: the signature read
    *    is tomb-masked, so a taken-down document's content can
    *    return in a later crawl ([[delete]]'s serving contract,
    *    extended to admission).
    *  - The BATCH'S OWN ids are anti-joined out of the history.
    *    Under the store's id-disjointness contract this is a no-op;
    *    after a mid-transaction crash it is load-bearing — a replay
    *    of [[CorpusStore.ingestScreened]] re-screens after some
    *    tiers already folded the survivors, and without the
    *    exclusion the batch would match ITSELF in history, admit
    *    nothing, and leave the remaining tiers empty. With it the
    *    replayed screen reproduces the original decisions exactly
    *    (spec-fabricated in CorpusStoreSpec).
    *
    * Scale shape is [[Dedup.incrementalDecisions]]' (its scaladoc
    * carries the analysis): the batch side is one narrow
    * signature-kernel pass, the store side one narrow scan of the
    * signature stage — ~100 bytes/doc, orders of magnitude under the
    * corpus text it stands for — shuffled on (band_idx, band_hash).
    * The anti-join keys on the batch's id column and follows AQE's
    * build-side choice (a daily batch is broadcast-sized next to the
    * corpus signature table).
    */
  def screen(s: SparkSession, store: Store, batch: DataFrame,
      textCol: String, numBands: Int = UseStoredDials,
      minEst: Double = UseStoredDials,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val (history, numHashes, bandsR, minEstR) =
      screenSetup(s, store, batch, numBands, minEst)
    Dedup.incrementalDecisions(batch, history, store.idCol, textCol,
      numHashes, bandsR, minEstR, maxBucketSize)
  }

  /** [[screen]] with ATTRIBUTION
    * ([[Dedup.incrementalDecisionsAttributed]]): each decision also
    * names the document it duplicates — the stored best match for a
    * `hist_dup` (max estimate, min id on ties), the within-batch
    * canonical for a `batch_dup`, null for `kept`. Same history
    * contract as [[screen]] (tomb-masked, batch ids excluded);
    * dropping `dup_of` recovers [[screen]]'s frame exactly.
    */
  def screenAttributed(s: SparkSession, store: Store, batch: DataFrame,
      textCol: String, numBands: Int = UseStoredDials,
      minEst: Double = UseStoredDials,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val (history, numHashes, bandsR, minEstR) =
      screenSetup(s, store, batch, numBands, minEst)
    Dedup.incrementalDecisionsAttributed(batch, history, store.idCol,
      textCol, numHashes, bandsR, minEstR, maxBucketSize)
  }

  /** The screens' shared set-up: the history side (tomb-masked stored
    * signatures minus the batch's own ids — see [[screen]]), its
    * signature width, and the banding resolved against the store's
    * dials. The two [[Dedup]] decision calls stay separate (the
    * plan-shape reason at [[Dedup.incrementalDecisions]]). */
  private def screenSetup(s: SparkSession, store: Store,
      batch: DataFrame, numBands: Int,
      minEst: Double): (DataFrame, Int, Int, Double) = {
    val (bandsR, minEstR) = resolveBanding(s, store, numBands, minEst)
    val sigs = store.signatures(s)
    val numHashes = sigs.columns.count(_.matches("h\\d+"))
    require(numHashes > 0,
      s"store at ${store.dir} has no h* signature columns to screen against")
    val history = sigs.join(batch.select(col(store.idCol)),
      Seq(store.idCol), "left_anti")
    (history, numHashes, bandsR, minEstR)
  }

  /** [[screen]] with a BENCHMARK-DECONTAMINATION criterion layered
    * on top — the two rejections a training-data admission gate
    * actually runs: near-dups of what the corpus already holds, and
    * documents that would leak the evaluation set into training
    * (q55's contamination rule — ≥ `minOverlap` shared word-k-gram
    * shingles with ANY benchmark doc — applied at the door instead
    * of as a post-hoc audit). `bench` is the benchmark's own
    * (idCol, textCol) rows. Status precedence: `contaminated`
    * OVERRIDES every dedup status — an eval document (or a near-copy
    * of one) must never enter, regardless of whether it also
    * duplicates something. Duplicates OF a contaminated canonical
    * stay `batch_dup` (still rejected): the gate never admits a
    * near-copy of something it just refused. Contamination is
    * history-independent and deterministic, so the replay contract
    * is [[screen]]'s unchanged.
    */
  def screenDecontaminated(s: SparkSession, store: Store,
      batch: DataFrame, textCol: String, bench: DataFrame,
      k: Int = 3, minOverlap: Int = 2,
      numBands: Int = UseStoredDials, minEst: Double = UseStoredDials,
      maxBucketSize: Long = Long.MaxValue): DataFrame =
    // one copy of the override logic: the attributed form's, minus
    // the receipt (the [[Dedup.incrementalDecisions]] delegation)
    screenDecontaminatedAttributed(s, store, batch, textCol, bench,
      k, minOverlap, numBands, minEst, maxBucketSize).drop("dup_of")

  /** [[screenDecontaminated]] with ATTRIBUTION — the
    * [[screenAttributed]] receipt column layered under the
    * contamination override. A `contaminated` doc's `dup_of` is NULL
    * (its rejection names the benchmark, not a document — the
    * decision is against the eval set as a whole, by the same
    * union-of-shingles rule that drops eval-doc identity); every
    * dedup status keeps the attributed winner. Dropping `dup_of`
    * recovers [[screenDecontaminated]]'s frame exactly.
    */
  def screenDecontaminatedAttributed(s: SparkSession, store: Store,
      batch: DataFrame, textCol: String, bench: DataFrame,
      k: Int = 3, minOverlap: Int = 2,
      numBands: Int = UseStoredDials, minEst: Double = UseStoredDials,
      maxBucketSize: Long = Long.MaxValue): DataFrame =
    screenDecontaminatedAttributedShingled(s, store, batch, textCol,
      Dedup.shingleRows(bench.select(col(store.idCol), col(textCol)),
        store.idCol, textCol, k).select(col("s")),
      k, minOverlap, numBands, minEst, maxBucketSize)

  /** [[screenDecontaminatedAttributed]] with the benchmark supplied
    * as a PRE-SHINGLED frame (one `s` column —
    * [[BenchmarkStore.Pinned.shingles]], the versioned gate's read
    * path): the eval text is never re-shingled per batch, and a
    * replayed gate resolving the same pinned revision reproduces its
    * decisions under benchmark drift. `k` must be the width the
    * shingle frame was built at (the store carries it).
    */
  def screenDecontaminatedAttributedShingled(s: SparkSession,
      store: Store, batch: DataFrame, textCol: String,
      benchShingles: DataFrame, k: Int = 3, minOverlap: Int = 2,
      numBands: Int = UseStoredDials, minEst: Double = UseStoredDials,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val idCol = store.idCol
    val flagged = Dedup.contaminationFlagsShingled(batch,
        benchShingles, idCol, textCol, k, minOverlap)
      .filter(col("flagged")).select(col(idCol))
      .withColumn("_cont", lit(1))
    screenAttributed(s, store, batch, textCol, numBands, minEst,
        maxBucketSize)
      .join(flagged, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_cont").isNotNull, "contaminated")
          .otherwise(col("status")).as("status"),
        when(col("_cont").isNotNull, lit(null))
          .otherwise(col("dup_of")).as("dup_of"))
  }

  // ---- session-lifetime store per corpus directory ----------------

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Store]()

  /** Deterministic local store directory for `dataDir` (+ optional
    * suffix for side-by-side stores, e.g. q126's incremental twin).
    */
  def storeDirFor(dataDir: String, suffix: String = ""): String =
    StoreDirs.dirFor("target/curation-store/", dataDir, suffix)

  /** The memoized store for the `documents` corpus at `dataDir`:
    * built (fresh, mode-overwrite) on first access per JVM, then
    * shared by every consumer query in the session — cluster labels
    * are computed once per corpus, not once per query. Dials are the
    * battery's (16/4/0.5), matching q49's `nearDupPairs`.
    */
  def forCorpus(s: SparkSession, dataDir: String): Store =
    built.computeIfAbsent(dataDir, d =>
      build(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        storeDirFor(d)))

  /** Rebuild `dataDir`'s store unconditionally (the q125 surface:
    * the build cost stays honestly measured in the bench battery
    * even when consumers ride the memoized store).
    */
  def rebuildForCorpus(s: SparkSession, dataDir: String): Store = {
    val st = build(s.read.parquet(s"$dataDir/documents.parquet"),
      "doc_id", "text", storeDirFor(dataDir))
    built.put(dataDir, st)
    st
  }
}
