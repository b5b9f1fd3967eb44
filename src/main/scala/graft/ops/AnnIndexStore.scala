package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVFPQ index as a PERSISTED, SERVABLE, MAINTAINABLE artifact —
  * the piece the in-plan ANN queries (q84/q90/q136/q146) deliberately
  * leave on the table: they re-train the quantizers inside every
  * query plan because that keeps the whole stack inside one oracle
  * hash, but a deployed retrieval service trains ONCE and amortizes
  * the index over every query batch. This store is that split,
  * [[CurationStore]]'s staged-artifact discipline applied to the
  * vector tier:
  *
  *  - [[build]] runs the trainers once and writes three tables under
  *    one directory: `centroids` (the coarse quantizer, k rows),
  *    `codebooks` ([[Similarity.pqTrain]]'s m·k codewords), and
  *    `codes` — the corpus encoded to (id, _c0.._c{m-1}),
  *    PARTITIONED BY the coarse cell. The cell directories are the
  *    serving layout: a query batch probing c cells reads c
  *    partitions of a few-bytes-per-vector table, never the corpus.
  *  - [[search]] answers a query batch with ZERO training in-plan:
  *    broadcast the stored centroids (query→cell assignment),
  *    broadcast per-query distance tables computed from the stored
  *    codebooks (|Q|·k rows per subspace), and scan ONLY the probed
  *    cell partitions of `codes` (static partition pruning over the
  *    bounded probe list). Results are bit-identical to the in-plan
  *    [[Similarity.ivfPqTopK]] at the same dials: every kernel is
  *    shared, and parquet round-trips the model doubles exactly
  *    (AnnIndexStoreSpec pins both the equality and the plan shape).
  *  - [[add]] folds a NEW vector batch in by encoding it with the
  *    STORED models — per-row arithmetic, so the appended rows are
  *    exactly what a full re-encode would produce ([[Similarity
  *    .pqEncode]]'s contract); the corpus is never re-read and the
  *    trainers never re-run. The standing ANN-drift caveat applies
  *    as in q67: codebooks grow stale as the distribution drifts;
  *    the periodic [[build]] is the re-train, and [[search]] serves
  *    throughout.
  *  - [[delete]] removes vectors: tombstones mask every read
  *    immediately (search excludes them from the next query on) and
  *    the models stay frozen — the inverse of [[add]] under the
  *    same append-commit protocol.
  *  - [[compact]] periodically folds the per-add small files back to
  *    one file per cell and makes deletions physical — the
  *    [[CurationStore.compact]] discipline for the vector tier.
  *
  * READER ISOLATION ([[StoreVersions]] — the Iceberg-lite layer):
  * every maintained stage lives in an immutable VERSION directory and
  * the store's `_manifest` names the current one per stage. A reader
  * resolves the manifest ONCE at plan time ([[Index.pin]] — every
  * serving entry point pins internally), so a query planned before a
  * concurrent [[compact]]/[[build]] collects its results from the
  * pinned snapshot's files, which retention keeps alive for
  * [[StoreVersions.RetainVersions]] further maintenance cycles. The
  * commit of a destructive rewrite is ONE atomic manifest flip —
  * compact's fresh codes AND its cleared tombstones commit together,
  * so no reader can observe rewritten codes with stale tombstones (or
  * the reverse), and [[build]]'s re-train flips models + codes +
  * tombstones as one snapshot: search serves THROUGH the rebuild.
  * [[add]]/[[delete]] append INSIDE the current version (append-only
  * — invisible to already-planned readers, no isolation needed) and
  * commit through the durable `_applied` record as before.
  *
  * Crash/re-run discipline for [[add]]/[[delete]] is the
  * [[TextIndexStore]] flip-commit protocol, adopted wholesale when
  * the exact live-row counter landed: appends go INSIDE the current
  * codes/tombstone versions, and the one-row `stats` stage (the live
  * vector count, folded additively) flips to its next version as THE
  * commit — giving [[UpdateMarker.enter]]'s listing-diff rule a
  * commit witness the bare append never had (the codes table is
  * partitioned, so its listings are recursive — the entry's
  * `recursiveStages`). A crash before the flip heals the partial
  * appends at the next entry; after it, the batch is committed with
  * its counter already exact, and a `batchId` makes the
  * committed-but-unacknowledged replay a detected no-op exactly as
  * in [[CurationStore.update]]. A crashed [[compact]]/[[build]]
  * needs no adjudication at all: its uncommitted version dirs are
  * numbered above the manifest and swept at the next writer's entry
  * ([[StoreVersions.sweepOrphans]]) — flip-last means an interrupted
  * maintenance either fully committed or left no trace a reader or
  * writer can observe. SINGLE WRITER per index directory — the
  * caller's contract, as for every store here: the fail-if-exists
  * marker write rejects SIMULTANEOUS entries loudly, but a writer
  * entering while an earlier writer's long append job is mid-flight
  * consumes that writer's marker (a marker cannot distinguish
  * crashed from live) and the interleaved appends corrupt; serialize
  * writers per store.
  */
object AnnIndexStore {

  /** The APPEND stages whose file manifests every flip records into
    * its snapshot entry — [[Index.pinAt]]'s time-travel source
    * ([[add]] appends codes INSIDE the current version's cell
    * partitions — recursive listing — and [[delete]] appends
    * tombstones; models and stats are pure-replace). */
  private val AppendSnap = Map("codes" -> true, "tombstones" -> false)

  /** The versioned stages (the `recall_log` is deliberately outside:
    * advisory monitoring appends, reset wholesale by [[build]]). */
  private val Stages =
    Seq("centroids", "codebooks", "codes", "tombstones", "stats")

  /** One resolved snapshot of the store — all five stages from a
    * SINGLE manifest read, so a composite plan can never mix
    * versions (new codes with stale tombstones, rewritten codes
    * under old models). Holding a Snapshot pins its files for the
    * retention window.
    */
  final case class Snapshot(idCol: String, m: Int, subDim: Int,
      centroidsPath: String, codebooksPath: String, codesPath: String,
      tombsPath: String, statsPath: String,
      at: Map[String, Seq[(String, Long)]] = Map.empty) {

    private def tombSrc: Tombstones.Src = at.get("tombstones")
      .map(Tombstones.Pinned).getOrElse(Tombstones.Live(tombsPath))

    def centroids(s: SparkSession): DataFrame =
      s.read.parquet(centroidsPath)
    def codebooks(s: SparkSession): DataFrame =
      s.read.parquet(codebooksPath)

    /** ONE row of exact counters — `n`, the LIVE vector count,
      * maintained additively through every [[AnnIndexStore.add]] /
      * [[AnnIndexStore.delete]] flip (the [[TextIndexStore]] stats
      * discipline applied to the vector tier), so a membership probe
      * ([[AnnIndexStore.liveCount]], [[CorpusStore.liveCounts]]) is
      * a one-row metadata read, never a masked stage scan. */
    def stats(s: SparkSession): DataFrame = s.read.parquet(statsPath)

    private[ops] def tombstonesIfAny(s: SparkSession): Option[DataFrame] =
      Tombstones.ifAny(s, tombSrc)

    /** The LIVE encoded corpus: the partitioned codes table minus
      * tombstoned ids ([[AnnIndexStore.delete]] — broadcast
      * anti-join while the tombstone set is small, shuffle past the
      * [[Tombstones.BroadcastMaxBytes]] ceiling; the
      * partition-pruning predicates still bind, because the mask is
      * a join above the pruned scan). Every consumer — [[search]],
      * the hybrid fusions, the scaling probes — reads through here,
      * so deletion is one definition, not a per-consumer filter.
      */
    def codes(s: SparkSession): DataFrame = {
      // a TIME-TRAVEL pin reads the flip-time file manifest (later
      // adds land inside the same cell partitions); basePath keeps
      // the cell partition column inferable from explicit leaf files
      val raw = at.get("codes") match {
        case Some(files) => s.read.option("basePath", codesPath)
          .parquet(files.map(_._1): _*)
        case None => s.read.parquet(codesPath)
      }
      Tombstones.mask(s, raw, idCol, tombSrc, Seq(idCol))
    }
  }

  /** Handle to a built index. Stage data is resolved through the
    * store manifest per call; `cell` comes back from
    * partition-directory inference (int for small centroid ids) —
    * consumers compare it against assignment output, where Catalyst's
    * implicit cast keeps the join correct and partition-pruning
    * predicates still bind to the partition column.
    */
  final case class Index(dir: String, idCol: String, m: Int,
      subDim: Int) {

    /** Resolve all stages from ONE manifest read — the reader's
      * snapshot pin (see the object scaladoc). */
    def pin(s: SparkSession): Snapshot =
      pinFrom(StoreVersions.read(AnnIndexStore.fsOf(s, dir), dir))

    /** TIME-TRAVEL pin: the index as of flip `seq` of its snapshot
      * log ([[StoreVersions.readAt]]) — models AND codes of that
      * epoch together (they flipped as one), serving verbatim while
      * retention holds and failing at collect once it has lapsed.
      * Loud when the log has no such entry. */
    def pinAt(s: SparkSession, seq: Int): Snapshot = {
      val st = StoreVersions.readAt(AnnIndexStore.fsOf(s, dir), dir,
        seq)
      pinFrom(st.versions).copy(at = st.files)
    }

    private def pinFrom(m0: Map[String, String]): Snapshot = {
      def p(stage: String): String = m0.get(stage)
        .map(v => s"$dir/$stage/$v")
        .getOrElse(throw new IllegalStateException(
          s"index at $dir has no committed '$stage' stage — build() " +
            "it first (pre-versioning layouts are reset by build)"))
      Snapshot(idCol, m, subDim, p("centroids"), p("codebooks"),
        p("codes"), p("tombstones"), p("stats"))
    }

    def centroids(s: SparkSession): DataFrame = pin(s).centroids(s)
    def codebooks(s: SparkSession): DataFrame = pin(s).codebooks(s)

    /** The current tombstones stage directory (resolved). */
    def tombDir(s: SparkSession): String = pin(s).tombsPath

    private[ops] def tombstonesIfAny(s: SparkSession): Option[DataFrame] =
      pin(s).tombstonesIfAny(s)

    /** The LIVE encoded corpus ([[Snapshot.codes]], freshly pinned). */
    def codes(s: SparkSession): DataFrame = pin(s).codes(s)
  }

  /** Ceiling on the DISTINCT probed cells [[search]] will collect to
    * the driver for static partition pruning. The probe list is
    * bounded by the query batch (≤ one cell per query), so the
    * collect is small by construction — but a caller serving an
    * unexpectedly huge batch should not turn it into a driver sweep:
    * past the ceiling the scan falls back to the unpruned codes table
    * (correct rows, pruning claim void).
    */
  val PruneMaxCells = "spark.graft.ann.pruneMaxCells"
  private val pruneMaxDefault = 1024

  /** Train the quantizers over `emb` and write the full index under
    * `dir` as a fresh SNAPSHOT, committed by one manifest flip — an
    * index already serving from `dir` keeps serving the old snapshot
    * until the flip, and pinned readers keep their files through
    * retention (the re-train story: [[search]] serves THROUGH the
    * rebuild). Dials mirror [[Similarity.ivfPqTopK]]:
    * `centroidPred` selects the coarse centroid vectors, `seedPred`
    * the PQ seed vectors, `m`×`subDim` the product decomposition.
    */
  def build(emb: DataFrame, idCol: String, vecCol: String, dir: String,
      centroidPred: Column, seedPred: Column, m: Int, subDim: Int,
      iters: Int): Index = {
    val s = emb.sparkSession
    val fs = fsOf(s, dir)
    UpdateMarker.enterBuild(fs, dir, Stages)
    // the recall log too: its rows are probes of the PREVIOUS life's
    // corpus/models — surviving a rebuild they would pollute the
    // staleness history the operational loop reads (a post-rebuild
    // trend would start from the stale corpus's decayed recall)
    UpdateMarker.remove(fs, new Path(s"$dir/recall_log"))
    // The two trainers are INDEPENDENT — the coarse quantizer is a
    // filtered projection of the corpus, the PQ Lloyd loop reads the
    // corpus through its own seed — so they run CONCURRENTLY
    // ([[TierPar]], guide §2.6): the centroid write's scan backfills
    // the Lloyd loop's driver gaps (each iteration is a collect
    // separated by planning). Both land in their own staged version
    // dirs; the encode below depends on both and runs after.
    val cV = StoreVersions.next(fs, dir, "centroids")
    val bV = StoreVersions.next(fs, dir, "codebooks")
    TierPar.par2(
      {
        // coarse quantizer: the selected centroid rows with their
        // norms — k rows, the broadcast side of every assignment
        Similarity.withNorm(emb.filter(centroidPred), vecCol)
          .select(col(idCol).cast("long").as("cid"),
            col("_e").as("_ce"), col("_nrm").as("_cn"))
          .write.mode("overwrite").parquet(cV)
        // same silently-empty-result trap as ivfCells: a predicate
        // matching nothing would build an index that answers every
        // query with zero rows — fail loudly instead (conf opt-out).
        // The check reads the JUST-WRITTEN k-row centroids version,
        // not the corpus: the write above already paid the filtered
        // scan, so a second corpus pass would verify the same rows
        // at corpus price. Failing here leaves an uncommitted orphan
        // version — swept by the next writer's entry (flip-last).
        if (s.conf.get("spark.graft.ivf.validateCentroids", "true")
            .toBoolean)
          require(!s.read.parquet(cV).isEmpty,
            "centroidPred matched no rows — the index needs >= 1 cell")
      },
      // PQ codebooks: one keyed Lloyd loop over the corpus
      Similarity.pqTrain(emb, idCol, vecCol, seedPred, m, subDim,
          iters)
        .write.mode("overwrite").parquet(bV))
    // the ONE remaining corpus-sized pass: coarse cell + m codes per
    // vector, written partitioned by cell — the models are re-read
    // from the just-written version dirs (lineage cut at each
    // boundary, the CurationStore discipline), so the encode plan
    // starts at tiny scans, not the trainer chains
    val kV = StoreVersions.next(fs, dir, "codes")
    encodeTo(s, emb, idCol, vecCol, cV, bV, m, subDim, kV,
      mode = "overwrite")
    // exact live-row counter off the just-written codes version (a
    // zero-column count — row-group metadata cost), maintained
    // additively by add/delete from here on
    val sV = StoreVersions.next(fs, dir, "stats")
    s.read.parquet(kV).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(sV)
    val tV = StoreVersions.nextEmpty(fs, dir, "tombstones")
    StoreVersions.flip(fs, dir, Map("centroids" -> cV,
      "codebooks" -> bV, "codes" -> kV, "tombstones" -> tV,
      "stats" -> sV), AppendSnap)
    StoreVersions.gc(s, fs, dir, Stages)
    Index(dir, idCol, m, subDim)
  }

  /** Assign + encode `emb` against the models at the given version
    * paths and write into `target`. Shared by [[build]] (a fresh
    * codes version) and [[add]] (append into the CURRENT version):
    * the per-row arithmetic is identical, which is the whole
    * incremental-equivalence argument.
    */
  private def encodeTo(s: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String, centroidsPath: String, codebooksPath: String,
      m: Int, subDim: Int, target: String, mode: String): Unit = {
    // one pass, ZERO exchanges: cell argmax and the m sub-code
    // argmins are per-row folds over the (broadcast-sized by
    // contract) model literals — bit-identical to the join+aggregate
    // formulation (NearestCodeSpec pins it, ties and zero-norm
    // included), which paid two extra corpus scans and three
    // corpus-sized Exchanges (cells groupBy, keyed-subspace groupBy,
    // pivot groupBy + the id re-join) to compute the same per-row
    // function. Guide §2.4 (remove shuffles outright) / §1.2 step 1.
    // SIZE-GUARDED (r17 verdict): past [[Similarity
    // .ModelLiteralMaxRows]] rows per model table the literals would
    // bloat every task binary (10⁴–10⁵-cell IVF at 100 TB) — fall
    // back to the join+aggregate formulation, which computes the
    // identical rows.
    val centsDf = s.read.parquet(centroidsPath)
    val cbDf = s.read.parquet(codebooksPath)
    val maxLit = Similarity.literalMaxRows(s)
    (Similarity.centroidsLiteralOpt(centsDf, maxLit),
        Similarity.codebooksLiteralOpt(cbDf, maxLit)) match {
      case (Some((centsLit, nCents)), Some((cbLit, nCb))) =>
        val e = col(vecCol).cast("array<double>")
        // an EMPTY model encodes nothing — the inner-join semantics
        // of the formulation this replaces (only reachable with
        // centroid validation opted out)
        val src = if (nCents == 0L || nCb == 0L) emb.filter(lit(false))
          else emb
        val codeCols = (0 until m).map(j =>
          graft.functions.NearestPqCode(
            slice(e, j * subDim + 1, subDim), lit(j), cbLit).as(s"_c$j"))
        src.select(col(idCol) +: codeCols :+
            graft.functions.NearestCosineCell(e, centsLit).as("cell"): _*)
          .write.mode(mode).partitionBy("cell").parquet(target)
      case _ =>
        // the pre-fusion broadcast-join formulation — same rows, the
        // right plan when the models are too big to embed per task
        val cells = Similarity.assignCosineCells(emb, idCol, vecCol,
            centsDf)
          .select(col(idCol), col("cell"))
        Similarity.pqEncode(emb, idCol, vecCol, cbDf, m, subDim)
          .join(cells, idCol)
          .write.mode(mode).partitionBy("cell").parquet(target)
    }
    s.catalog.refreshByPath(target)
  }

  private[ops] def fsOf(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sessionState.newHadoopConf())

  /** The [[UpdateMarker.enter]] stage map for this store's writers,
    * resolved to the CURRENT versions. `stats` is the flip-commit
    * stage (its one-row counter version flips at every add/delete —
    * the [[TextIndexStore]] protocol, which this store adopted when
    * the counter landed: the flip gives settlement a commit witness
    * the bare append never had); `codes`/`tombs` are the append-only
    * sides healed on a pre-commit crash. `codes` is PARTITIONED, so
    * its listings are recursive ([[UpdateMarker.listFilesRecursive]]
    * via [[Recursive]]).
    */
  private def stageMap(s: SparkSession, idx: Index): Map[String, String] = {
    val snap = idx.pin(s)
    Map("codes" -> snap.codesPath, "tombs" -> snap.tombsPath,
      "stats" -> snap.statsPath)
  }

  /** The partitioned stages of [[stageMap]]. */
  private val Recursive = Set("codes")

  /** Flip the one-row stats counter to `n + delta` — the COMMIT of
    * an [[add]]/[[delete]]: appends before it heal on a crash (the
    * stats listing still matches the marker's snapshot), appends
    * after it are committed (the flipped stage resolves to a
    * different directory). The high-frequency single-stage GC keeps
    * tiny counter versions from accumulating per batch. */
  private def flipStats(s: SparkSession, fs: FileSystem, idx: Index,
      snap: Snapshot, delta: DataFrame): Unit = {
    val sV = StoreVersions.next(fs, idx.dir, "stats")
    snap.stats(s).crossJoin(delta)
      .select((col("n") + col("_dn")).as("n"))
      .write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, idx.dir, Map("stats" -> sV),
      AppendSnap) // THE commit
    StoreVersions.gc(s, fs, idx.dir, Seq("stats"))
  }

  /** Fold a NEW batch of vectors into the index: encode with the
    * stored models, append to the probed-cell partitions. Ids must be
    * disjoint from the stored corpus (the high-water contract shared
    * with [[Dedup.dedupIncremental]] / [[CurationStore.update]]).
    *
    * Exactly-once: see the object scaladoc — the append is the
    * commit; a crashed attempt's partial files are healed on the next
    * entry, and a `batchId` makes every replay window a detected
    * no-op. Without one, the committed-but-unacknowledged window is
    * the caller's re-send risk (double-appended rows).
    */
  def add(idx: Index, newEmb: DataFrame, vecCol: String,
      batchId: Option[String] = None): Index = {
    val s = newEmb.sparkSession
    val fs = fsOf(s, idx.dir)
    if (UpdateMarker.enter(s, fs, idx.dir, Stages, stageMap(s, idx),
        batchId, recursiveStages = Recursive))
      return idx // this very batch already applied — no-op
    val snap = idx.pin(s)
    // re-adding a DELETED id would collide with its tombstone (the
    // codes mask hides by id — the re-encoded rows would vanish;
    // un-tombstoning would resurrect the old rows still on disk):
    // fail loudly, compact() frees the ids (the TextIndexStore rule)
    snap.tombstonesIfAny(s).foreach { t =>
      require(newEmb.join(t.select(col(idx.idCol)).distinct(),
          Seq(idx.idCol), "left_semi").isEmpty,
        "batch re-adds tombstoned ids — run compact() first (removals " +
          "become physical and the tombstone set clears)")
    }
    val before = UpdateMarker.listFilesRecursive(fs, snap.codesPath)
    encodeTo(s, newEmb, idx.idCol, vecCol, snap.centroidsPath,
      snap.codebooksPath, idx.m, idx.subDim, snap.codesPath,
      mode = "append")
    // the counter folds in EXACTLY the appended files' rows (read
    // back off the listing diff — the TextIndexStore lineage cut)
    val newFiles =
      (UpdateMarker.listFilesRecursive(fs, snap.codesPath) -- before)
        .toSeq
    val added =
      if (newFiles.isEmpty) s.range(1).select(lit(0L).as("_dn"))
      else s.read.parquet(newFiles: _*).agg(count(lit(1)).as("_dn"))
    flipStats(s, fs, idx, snap, added)
    UpdateMarker.exit(fs, idx.dir, batchId)
    idx
  }

  /** Remove vectors from the index — the takedown/recrawl operation
    * for the vector tier, the inverse of [[add]]'s disjoint-id
    * append. The doomed ids land in the append-only `tombstones`
    * stage; [[Snapshot.codes]] masks every read against it
    * immediately, so [[search]] (and every consumer) excludes the
    * deleted vectors from the next query on, and [[compact]] later
    * makes the removal physical and clears the set. The MODELS are
    * untouched — centroids/codebooks are frozen training artifacts,
    * exactly as under [[add]] (the q67 drift caveat covers both
    * directions; [[recallProbe]] is the staleness dial) — so the
    * contract is: after delete-then-compact the codes table equals a
    * re-encode of the remaining corpus under the stored models, which
    * is bit-identical to the original codes minus the deleted rows
    * (per-row arithmetic; spec-pinned, including equality with a
    * full rebuild when the deleted ids fund no centroid/seed).
    * Same append-commit crash protocol as [[add]]: the tombstone
    * append is the commit, witnessed by `_applied`; partial appends
    * heal; `batchId` makes replays detected no-ops. Ids already
    * deleted are ignored (re-runs cannot grow the set).
    */
  def delete(idx: Index, ids: DataFrame,
      batchId: Option[String] = None): Index = {
    val s = ids.sparkSession
    val fs = fsOf(s, idx.dir)
    if (UpdateMarker.enter(s, fs, idx.dir, Stages, stageMap(s, idx),
        batchId, recursiveStages = Recursive))
      return idx // this very batch already applied — no-op
    val snap = idx.pin(s)
    // idempotent by construction, and only CURRENTLY-LIVE ids count:
    // codes(s) is the masked view, so an id already tombstoned — or
    // NEVER INDEXED (a takedown arriving before ingest, a typo'd id)
    // — contributes no tombstone row. Tombstoning a never-stored id
    // would permanently block a later add() of that id behind the
    // re-add guard although no stale rows exist to resurrect (the
    // [[TextIndexStore.delete]] rule). Computed lazily here,
    // evaluated at the write below — before the append, so the join
    // sees the prior set.
    val doomed = ids.select(col(idx.idCol)).distinct()
      .join(snap.codes(s).select(col(idx.idCol)), Seq(idx.idCol),
        "left_semi")
    val before = UpdateMarker.listFiles(fs, snap.tombsPath)
    doomed.write.mode("append").parquet(snap.tombsPath)
    s.catalog.refreshByPath(snap.tombsPath)
    // decrement by EXACTLY the appended tombstone rows (distinct
    // live ids by construction — one counter unit each)
    val newFiles =
      (UpdateMarker.listFiles(fs, snap.tombsPath) -- before).toSeq
    val removed =
      if (newFiles.isEmpty) s.range(1).select(lit(0L).as("_dn"))
      else s.read.parquet(newFiles: _*)
        .agg((lit(0L) - count(lit(1))).as("_dn"))
    flipStats(s, fs, idx, snap, removed)
    UpdateMarker.exit(fs, idx.dir, batchId)
    idx
  }

  /** Fold the per-[[add]] small files into a fresh compact codes
    * version — one file per cell — the maintenance that keeps the
    * serving scan's file count proportional to CELLS, not to the
    * number of batches folded since the build (every add writes at
    * least one new file into each cell it touches; a year of hourly
    * batches would otherwise put ~10k tiny files in every hot cell's
    * directory, and open-file overhead would dwarf the scan).
    * Pure rewrite for live rows; tombstoned rows become physically
    * absent and the tombstone set clears — BOTH in ONE atomic
    * manifest flip, so no reader can observe the rewritten codes
    * with the stale tombstones (double-masking is harmless, but the
    * reverse — old codes with cleared tombstones — would resurrect
    * deleted rows; the flip makes both orderings impossible).
    *
    * Crash discipline: flip-last. A crash before the flip leaves the
    * old snapshot serving and orphan version dirs for the next
    * entry's sweep; a crash after the flip but before the marker
    * delete is settled by dropping the maintenance marker, never by
    * file deletion ([[UpdateMarker.enter]]'s marker kinds — the
    * rewritten codes version holds only files the marker's snapshot
    * never saw). Holds the single-writer marker
    * for its run, so a SIMULTANEOUS [[add]] entry fails loudly at
    * its marker write; the object scaladoc's live-writer caveat
    * applies as everywhere.
    */
  def compact(s: SparkSession, idx: Index): Index = {
    val fs = fsOf(s, idx.dir)
    UpdateMarker.enter(s, fs, idx.dir, Stages, stageMap(s, idx),
      batchId = None, maintenance = true, recursiveStages = Recursive)
    val snap = idx.pin(s)
    // one shuffle by cell → each cell's rows land in exactly one
    // task → the partitioned write emits one file per cell; the
    // MASKED view drops tombstoned rows physically
    val kV = StoreVersions.next(fs, idx.dir, "codes")
    snap.codes(s).repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(kV)
    val tV = StoreVersions.nextEmpty(fs, idx.dir, "tombstones")
    StoreVersions.flip(fs, idx.dir,
      Map("codes" -> kV, "tombstones" -> tV), AppendSnap) // THE commit
    StoreVersions.gc(s, fs, idx.dir, Stages)
    UpdateMarker.exit(fs, idx.dir)
    idx
  }

  /** ROLL BACK to snapshot `seq` of the flip log — the undo for a
    * bad vector batch ([[StoreVersions.rollbackTo]]): models and
    * stats flip back to that epoch's versions, and the codes files
    * [[add]] appended since are DELETED surgically off the
    * snapshot's file manifest. Enters as a writer
    * ([[UpdateMarker.rollback]]: single-writer collision applies,
    * `_applied` clears so an undone batch id folds again).
    * Destructive to the undone epochs by design; retention bounds the
    * reachable `seq`.
    */
  def rollback(s: SparkSession, idx: Index, seq: Int): Index = {
    val fs = fsOf(s, idx.dir)
    UpdateMarker.rollback(s, fs, idx.dir, Stages, stageMap(s, idx), seq,
      AppendSnap, recursiveStages = Recursive)
    idx
  }

  /** Answer a query batch (`qidCol`, `vecCol`) from the stored index
    * — the serving path: zero training in-plan, the corpus touched
    * only through the probed cell partitions. Emits (qid, idCol, adc,
    * rank ≤ k) with [[Similarity.pqRank]]'s deterministic tiebreak,
    * self-pairs excluded — at `nprobe = 1` bit-identical to
    * [[Similarity.ivfPqTopK]] at the build's dials.
    *
    * `nprobe` is the serving recall dial ([[Similarity.ivfSearch]]'s
    * q51 semantics): each query probes its `nprobe` nearest cells —
    * same rounded-cosine + centroid-id ranking as the assignment, so
    * nprobe=1 reduces to the argmax cell. Raising it multiplies only
    * the (broadcast) probe list and the probed partitions read,
    * never the per-cell scan cost — the standard answer to the
    * cell-boundary recall cliff.
    *
    * The probe list (≤ `nprobe` cells per query) is collected to the
    * driver and pushed as a static `cell IN (...)` partition filter —
    * the collect is bounded by the query batch size and guarded by
    * [[PruneMaxCells]]; a service would keep the same list in memory
    * as routing state. Static pruning beats relying on runtime DPP
    * here because the probe side is already driver-local and tiny.
    */
  def search(s: SparkSession, idx: Index, queries: DataFrame,
      qidCol: String, vecCol: String, k: Int,
      nprobe: Int = 1): DataFrame =
    searchImpl(s, idx.pin(s), queries, qidCol, vecCol, k, nprobe, None,
      None)

  /** FILTERED serving — top-k among the vectors whose ids are in
    * `allowed` (one column named `idCol`): the "search within
    * lang = 'en' / license = permissive / source = wiki" shape every
    * deployed retrieval service grows, answered as a PRE-filter, not
    * a post-filter. A post-filter (rank corpus-wide, then drop
    * disallowed rows) under-fills k whenever a query's neighborhood
    * is dominated by disallowed vectors — the classic filtered-ANN
    * failure; here the allowed-id mask lands on the CANDIDATE rows
    * inside the probed cells (a semi-join between the pruned codes
    * scan and `allowed`), so the ADC ranking itself runs over
    * allowed vectors only and k fills whenever the probed cells hold
    * k allowed members. Results are exactly [[search]]'s semantics
    * with the index corpus restricted to `allowed` while every MODEL
    * stays frozen corpus-wide (centroids, codebooks, the query's
    * probe routing) — the same frozen-models contract as [[delete]],
    * and the q166 oracle is literally the deletion oracle's
    * `encWhere` with the predicate flipped to the allowed set.
    *
    * Scale shape: the mask joins AFTER partition pruning, so the
    * scan still reads only probed cells; the filter side ships as a
    * plain equi-join for Catalyst/AQE to broadcast when small (an
    * id-list predicate would bloat the plan; a forced broadcast
    * would OOM on a 10^9-id allow-list — the
    * [[Tombstones.BroadcastMaxBytes]] lesson, left to AQE here
    * because `allowed` is a caller frame with no on-disk size to
    * inspect). Tombstones still mask through
    * [[Snapshot.codes]] underneath.
    */
  def searchFiltered(s: SparkSession, idx: Index, allowed: DataFrame,
      queries: DataFrame, qidCol: String, vecCol: String, k: Int,
      nprobe: Int = 1): DataFrame =
    searchImpl(s, idx.pin(s), queries, qidCol, vecCol, k, nprobe,
      Some(allowed), None)

  /** [[search]] with a DENY-list — top-k among the stored vectors
    * whose ids are NOT in `deny` (one column named `idCol`). The
    * complement of [[searchFiltered]]'s allow-list, kept as its own
    * argument because the two mask shapes scale oppositely: an
    * allow-list is the caller's slice of the corpus (arbitrarily
    * large, so its semi-join is left to AQE), while a deny-list is
    * the "except these few" exclusion — a batch of in-flight ids
    * ([[semanticDups]]' replay discipline), a per-user suppression
    * set — that stays BOUNDED at any corpus size. Expressing the
    * small exclusion as `allowed = corpus \ deny` would pay a full
    * scan of the codes stage plus a corpus-sized exchange per call
    * to materialize a complement whose only content is "not these";
    * here the deny frame lands directly on the pruned candidate
    * rows as a broadcast anti-join, so the scan still reads only
    * probed cells and the mask's shuffle footprint is the deny
    * frame itself. Same frozen-models/pre-filter contract as
    * [[searchFiltered]] (the mask binds before ranking, so k fills
    * from admissible candidates); tombstones still mask underneath.
    */
  def searchExcluding(s: SparkSession, idx: Index, deny: DataFrame,
      queries: DataFrame, qidCol: String, vecCol: String, k: Int,
      nprobe: Int = 1): DataFrame =
    searchImpl(s, idx.pin(s), queries, qidCol, vecCol, k, nprobe,
      None, Some(deny))

  private def searchImpl(s: SparkSession, snap: Snapshot,
      queries: DataFrame, qidCol: String, vecCol: String, k: Int,
      nprobe: Int, allowed: Option[DataFrame],
      deny: Option[DataFrame]): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    val cents = snap.centroids(s)
    val qcells =
      if (nprobe == 1)
        Similarity.assignCosineCells(queries, qidCol, vecCol, cents)
          .select(col(qidCol).as("qid"), col("cell").as("_qcell"))
      else {
        // top-nprobe cells per query: the ivfSearch probe ranking
        // (rounded cos desc, cid asc) over the broadcast centroids
        val qbase = Similarity.withNorm(queries, vecCol)
          .select(col(qidCol).as("qid"), col("_e"), col("_nrm"))
        val qcos = round(Similarity.dot(col("_e"), col("_ce")) /
          (col("_nrm") * col("_cn")), 6)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("_qcos").desc, col("cid").asc)
        qbase.crossJoin(broadcast(cents))
          .withColumn("_qcos", qcos)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= nprobe)
          .select(col("qid"), col("cid").as("_qcell"))
      }
    val dts = Similarity.pqDistTables(queries, qidCol, vecCol,
      snap.codebooks(s), snap.m, snap.subDim)
    val maxCells = s.conf.get(PruneMaxCells, pruneMaxDefault.toString)
      .toInt
    // bounded driver materialization: distinct probed cells, capped —
    // the same k·d-scale collect class as the centroid tables
    val probed = qcells.select(col("_qcell")).distinct()
      .limit(maxCells + 1).collect().map(_.getLong(0)).toSeq
    val scan = snap.codes(s)
    val prunedAll =
      if (probed.size <= maxCells)
        scan.filter(col("cell").isInCollection(probed))
      else scan // probe list outgrew the ceiling: correct, unpruned
    // the allowed-id mask sits ABOVE the pruned scan (pruning
    // predicates still bind) and BELOW the ranking (pre-filter
    // semantics: k fills from allowed candidates)
    val pruned = allowed match {
      case None => prunedAll
      case Some(a) => prunedAll.join(
        a.select(col(snap.idCol)).distinct(), Seq(snap.idCol),
        "left_semi")
    }
    // the deny mask is bounded by contract (see [[searchExcluding]]),
    // so it broadcasts unconditionally — an anti-join on the pruned
    // candidates, never a materialized complement of the corpus
    val masked = deny match {
      case None => pruned
      case Some(d) => pruned.join(
        broadcast(d.select(col(snap.idCol)).distinct()),
        Seq(snap.idCol), "left_anti")
    }
    val cand = masked.join(broadcast(qcells),
      col("cell") === col("_qcell") && col("qid") =!= col(snap.idCol))
    val joined = dts.zipWithIndex.foldLeft(cand) {
      case (acc, (dt, j)) =>
        acc.join(broadcast(dt), acc(s"_c$j") === dt(s"_cid$j") &&
          acc("qid") === dt(s"_qid$j"))
    }
    Similarity.pqRank(joined, snap.idCol, snap.m, k)
  }

  /** Exact re-rank REFINE over stored-index serving — the standard
    * two-stage retrieval (the q116 JL-funnel pattern applied to the
    * store): [[search]] prices candidates from 2·m bytes of PQ code,
    * so its top-k can miss true neighbors that its SHORTLIST still
    * contains; refine fetches the shortlist survivors' ORIGINAL
    * vectors and re-ranks by exact squared euclidean. Emits
    * (qid, idCol, dist, rank ≤ k), deterministic (dist, id)
    * tiebreak. Recall dominance is structural: the refined top-k is
    * the exact ranking of the shortlist, and the ADC top-k is a
    * subset of that same shortlist — so against the exact truth,
    * refine's hits ⊇ ADC's at every (nprobe, shortlist)
    * (spec-asserted per query). This makes `shortlist` a second
    * recall dial beside nprobe, one that costs NO extra probed
    * cells.
    *
    * `corpus` must hold (idCol, vecCol) for the indexed vectors —
    * the store keeps codes, not raw vectors (PQ's compression
    * contract), so refine joins back to the source table exactly as
    * a deployed two-stage retrieval does. Scale shape: the corpus is
    * scanned ONCE and never shuffled — the bounded |Q|·shortlist id
    * set broadcasts into a semi-join against it, queries broadcast
    * for the distance eval, and the final per-query window ranks
    * ≤ shortlist rows per query. Deleted ids never reach the
    * shortlist ([[search]] masks them), so a stale corpus row for a
    * deleted id is never fetched.
    */
  def searchRefined(s: SparkSession, idx: Index, corpus: DataFrame,
      queries: DataFrame, qidCol: String, vecCol: String, k: Int,
      nprobe: Int = 1, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k)")
    val sl = search(s, idx, queries, qidCol, vecCol, shortlist, nprobe)
      .select(col("qid"), col(idx.idCol))
    refineOf(idx, corpus, queries, sl, qidCol, vecCol, k)
  }

  /** FILTERED two-stage retrieval — [[searchFiltered]]'s pre-filter
    * composed with [[searchRefined]]'s exact re-rank: the shortlist
    * is the allowed-masked ADC ranking (k fills from allowed
    * candidates inside the probed cells, [[searchFiltered]]'s
    * contract), and the refine fetches those survivors' original
    * vectors for the exact ordering. The mask needs no second
    * application: every shortlist member is allowed by construction,
    * and the refine only ever re-ranks the shortlist. Same recall
    * dominance as the unfiltered refine (the filtered ADC top-k is a
    * subset of the filtered shortlist), same scale shape (corpus
    * scanned once, broadcast semi-join, never shuffled).
    */
  def searchFilteredRefined(s: SparkSession, idx: Index,
      corpus: DataFrame, allowed: DataFrame, queries: DataFrame,
      qidCol: String, vecCol: String, k: Int, nprobe: Int = 1,
      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k)")
    val sl = searchFiltered(s, idx, allowed, queries, qidCol, vecCol,
      shortlist, nprobe).select(col("qid"), col(idx.idCol))
    refineOf(idx, corpus, queries, sl, qidCol, vecCol, k)
  }

  /** The shared exact re-rank stage: shortlist survivors' original
    * vectors fetched via a broadcast semi-join against the corpus,
    * exact squared-euclidean, deterministic (dist, id) tiebreak. */
  private def refineOf(idx: Index, corpus: DataFrame,
      queries: DataFrame, sl: DataFrame, qidCol: String,
      vecCol: String, k: Int): DataFrame = {
    val base = corpus.select(col(idx.idCol),
      col(vecCol).cast("array<double>").as("_e"))
    val q = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast("array<double>").as("_q"))
    val d = round(Similarity.dot(col("_q"), col("_q")) -
      lit(2.0) * Similarity.dot(col("_q"), col("_e")) +
      Similarity.dot(col("_e"), col("_e")), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dist").asc, col(idx.idCol).asc)
    base.join(broadcast(sl), idx.idCol)
      .join(broadcast(q), "qid")
      .withColumn("dist", d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idx.idCol), col("dist"), col("rank"))
  }

  /** Index-STALENESS probe — the missing dial in the build → add →
    * add → … loop: [[add]] encodes new vectors with FROZEN models,
    * so as the ingested distribution drifts away from the training
    * snapshot, coarse routing degrades (drifted vectors pile into
    * whichever stale cell is least far) and the PQ codebooks stop
    * discriminating (distant vectors saturate to the same
    * codewords). This probe MEASURES that decay instead of hoping:
    * it runs the stored-index [[search]] on a query sample and
    * compares against the exact squared-euclidean top-k over the
    * CURRENT corpus, emitting ONE row —
    * (snapshot, n_queries, mean_recall, min_recall) — appended to
    * the index's `recall_log` stage when `snapshot` is non-empty
    * (q129's one-row-per-snapshot monitoring discipline, vector
    * tier). The operational loop reads the log and triggers
    * [[build]] (the re-train) when mean recall crosses its floor;
    * the spec's planted-drift fixture shows adds from a shifted
    * distribution dragging the probe down and a rebuild restoring
    * it.
    *
    * Cost: ONE brute-force pass |sample|·|corpus| (broadcast
    * queries, partial-aggregate top-k per query — the q27 shape),
    * which is why it runs on a SAMPLE at probe cadence, never per
    * query. Once corpus scale makes even sample-cadence brute force
    * expensive, pass `refineShortlist > 0`: the exact arm then rides
    * the [[searchRefined]] shape instead — the reference list is the
    * exact re-ranking of a GENEROUS ADC shortlist (`refineShortlist`
    * candidates probed at `refineNprobe`, default the measured
    * `nprobe`), the corpus scanned once through a broadcast
    * semi-join, NO cross join. Direction of the
    * approximation: a true top-k member survives exact re-ranking
    * inside any candidate set that contains it, so the refined-arm
    * recall UPPER-bounds the true recall (spec-pinned dominance) and
    * equals it exactly when the shortlist covers the probed corpus
    * (spec-pinned equality). Operationally that makes a refined-arm
    * FLOOR BREACH conclusive — true recall is at or below it — while
    * a refined-arm pass is only suggestive (routing drift that
    * expels true neighbors from every probed cell inflates the
    * optimistic arm; schedule an occasional brute probe as the
    * yardstick, the same cadence trade as sampling itself). The
    * brute-force arm stays the default because the battery's corpora
    * price it at well under a probe's budget.
    * The probe only reads the store and appends to its own
    * log stage — it is not a store writer in the
    * [[UpdateMarker]] sense (the log is advisory monitoring data;
    * a duplicated append from a crashed probe re-run skews no
    * serving result).
    */
  def recallProbe(s: SparkSession, idx: Index, corpus: DataFrame,
      queries: DataFrame, qidCol: String, vecCol: String, k: Int = 10,
      nprobe: Int = 1, snapshot: String = "",
      refineShortlist: Int = 0, refineNprobe: Int = 0): DataFrame = {
    val approx = search(s, idx, queries, qidCol, vecCol, k, nprobe)
      .select(col("qid"), col(idx.idCol))
    val base = corpus.select(col(idx.idCol),
      col(vecCol).cast("array<double>").as("_e"))
    val q = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast("array<double>").as("_q"))
    val d = round(Similarity.dot(col("_q"), col("_q")) -
      lit(2.0) * Similarity.dot(col("_q"), col("_e")) +
      Similarity.dot(col("_e"), col("_e")), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("_d").asc, col(idx.idCol).asc)
    val exact =
      if (refineShortlist > 0) {
        // the refined arm: exact distances over the ADC shortlist's
        // candidates only (minus self — the brute arm's probe
        // convention), corpus touched through one broadcast
        // semi-join, never cross-joined
        require(refineShortlist >= k,
          s"refineShortlist ($refineShortlist) must be >= k ($k)")
        // the reference arm may probe WIDER than the measured arm
        // (refineNprobe, default = nprobe): generosity here narrows
        // the optimism gap without touching what is being measured
        val sl = search(s, idx, queries, qidCol, vecCol,
            refineShortlist,
            if (refineNprobe > 0) refineNprobe else nprobe)
          .select(col("qid"), col(idx.idCol))
        base.join(broadcast(sl), idx.idCol)
          .join(broadcast(q), "qid")
          .filter(col("qid") =!= col(idx.idCol))
          .withColumn("_d", d)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k)
          .select(col("qid"), col(idx.idCol))
      } else base.crossJoin(broadcast(q))
        .filter(col("qid") =!= col(idx.idCol))
        .withColumn("_d", d)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .select(col("qid"), col(idx.idCol))
    val hits = exact.join(approx, Seq("qid", idx.idCol), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("_h"))
    val row = q.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"),
        (coalesce(col("_h"), lit(0L)) / k.toDouble).as("_r"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg("_r"), 6).as("mean_recall"),
        round(min("_r"), 6).as("min_recall"))
      .select(lit(snapshot).as("snapshot"), col("n_queries"),
        col("mean_recall"), col("min_recall"))
    if (snapshot.nonEmpty) {
      row.write.mode("append").parquet(s"${idx.dir}/recall_log")
      s.catalog.refreshByPath(s"${idx.dir}/recall_log")
      s.read.parquet(s"${idx.dir}/recall_log")
        .filter(col("snapshot") === snapshot)
    } else row
  }

  /** The probe history — one row per [[recallProbe]] snapshot. */
  def recallLog(s: SparkSession, idx: Index): DataFrame =
    s.read.parquet(s"${idx.dir}/recall_log")

  /** Clone the index as of snapshot `seq` into `dstDir` — a fully
    * independent store ([[StoreVersions.cloneAt]]: replace stages
    * copied wholesale, codes/tombstones at the flip-time file
    * manifests, one commit). New lineage: no `_applied` witnesses
    * and no recall_log come along — the clone's staleness history
    * starts with its own first probe (the same reset [[build]]
    * performs, for the same reason: inherited probes describe
    * another store's serving).
    */
  def cloneAt(s: SparkSession, idx: Index, seq: Int,
      dstDir: String): Index = {
    StoreVersions.cloneAt(fsOf(s, idx.dir), idx.dir, dstDir, seq,
      AppendSnap)
    Index(dstDir, idx.idCol, idx.m, idx.subDim)
  }

  /** The LIVE vector count as a one-row metadata read — the exact
    * counter every add/delete maintains through its commit flip, so
    * the operational membership probe ([[CorpusStore.liveCounts]])
    * never scans the masked codes stage. Spec-pinned equal to
    * `codes(s).count()` through build/add/delete/compact/replay.
    */
  def liveCount(s: SparkSession, idx: Index): Long =
    idx.pin(s).stats(s).head().getLong(0)

  /** SEMANTIC-duplicate flags for a new batch against the stored
    * index — the SemDeDup-style admission criterion served at query
    * time (q57 resolves a whole corpus offline; this answers "is
    * this INCOMING vector semantically already here" per batch, the
    * third gate of [[CorpusStore.ingestScreened]] beside the lexical
    * screen and the benchmark filter). One row per query with its
    * nearest STORED neighbor under the frozen models:
    * (qidCol, idCol, adc, flagged) where `flagged` = top-1 ADC ≤
    * `tau` — PQ-approximate squared euclidean, so `tau` is a dial in
    * ADC units (calibrate against [[recallProbe]]'s exact arm, or
    * serve through [[searchRefined]] when the boundary must be
    * exact).
    *
    * The batch's OWN ids are excluded from the candidate set (not
    * just self-pairs): the same replay discipline as
    * [[CurationStore.screen]] — after a partial fold, a replayed
    * gate must not match the batch against the copies of itself the
    * crashed attempt already folded. The exclusion rides the
    * [[searchExcluding]] DENY mask — the batch's ids broadcast into
    * an anti-join on the pruned candidate rows — so the scan reads
    * only probed cells and the per-batch mask cost is the batch
    * frame itself, never a corpus-sized complement (the
    * `semantic_batch100` SCALING rows pin the shape: batch-sized
    * shuffle, probed-cells-only input growth across corpus sizes).
    */
  def semanticDups(s: SparkSession, idx: Index, batch: DataFrame,
      qidCol: String, vecCol: String, tau: Double,
      nprobe: Int = 1): DataFrame =
    searchExcluding(s, idx,
        batch.select(col(qidCol).as(idx.idCol)), batch, qidCol,
        vecCol, k = 1, nprobe)
      .select(col("qid").as(qidCol), col(idx.idCol).as("nn_id"),
        col("adc"), (col("adc") <= tau).as("flagged"))

  /** TAU CALIBRATION for the semantic gate — the operational answer
    * to "what τ for at most x% false semantic rejections".
    * [[semanticDups]] flags on PQ-approximate distance, so its `tau`
    * is a dial in ADC units whose meaning drifts with the codebooks;
    * this readout measures the dial against exact truth on a query
    * sample ([[recallProbe]]'s cadence discipline — the exact arm is
    * one |sample|×corpus brute pass, never per query). One row per
    * query, both arms' top-1 and the gate's verdict under each:
    *
    *  - `nn_id`/`adc` — the ADC arm: what [[semanticDups]] would see,
    *  - `exact_id`/`exact_dist` — the exact squared-euclidean nearest
    *    stored neighbor ([[recallProbe]]'s brute arm at k = 1; pass
    *    the index's own live corpus),
    *  - `margin` = adc − exact_dist: the quantization overshoot at
    *    this query — the quantity whose sample distribution says how
    *    far τ sits from the exact boundary,
    *  - `adc_flag` / `exact_flag` — ≤ τ under each arm,
    *  - `flip` — `agree`, `false_reject` (ADC would refuse a doc the
    *    exact gate admits — the admission-loss direction) or
    *    `false_admit` (ADC admits what the exact gate would refuse —
    *    the dup-leak direction).
    *
    * The frame is keyed by the EXACT arm (left join): a query whose
    * probed cells yielded no ANN candidate surfaces with a NULL
    * `nn_id`/`adc`/`margin` and `adc_flag` false — the gate's actual
    * behavior on it ([[semanticDups]] only flags found candidates) —
    * instead of silently vanishing from the calibration.
    *
    * Filter `flip != 'agree'` and read the margins at the boundary:
    * lowering τ by the false-reject rows' margin quantile trades
    * leaks for admissions, and a sample's flip RATE is the gate's
    * measured error at the current dial. Where the boundary must be
    * exact rather than calibrated, serve the gate through
    * [[searchRefined]] instead (the scaladoc trade on
    * [[semanticDups]]).
    */
  def tauCalibration(s: SparkSession, idx: Index, corpus: DataFrame,
      queries: DataFrame, qidCol: String, vecCol: String, tau: Double,
      nprobe: Int = 1): DataFrame = {
    val approx = search(s, idx, queries, qidCol, vecCol, k = 1, nprobe)
      .select(col("qid"), col(idx.idCol).as("nn_id"), col("adc"))
    val base = corpus.select(col(idx.idCol),
      col(vecCol).cast("array<double>").as("_e"))
    val q = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast("array<double>").as("_q"))
    val d = round(Similarity.dot(col("_q"), col("_q")) -
      lit(2.0) * Similarity.dot(col("_q"), col("_e")) +
      Similarity.dot(col("_e"), col("_e")), 6)
    // top-1 via min_by keyed on (dist, id) — the exact row_number
    // rn=1 winner (asc _d, asc id; struct comparison is
    // lexicographic), but as a PARTIAL AGGREGATE (guide §2.3:
    // aggregate before you shuffle): each scan task folds its
    // |corpus-slice|×|sample| scored rows down to ≤|sample| partial
    // winners map-side, so the exchange carries |tasks|×|sample| tiny
    // rows instead of the full |corpus|×|sample| scored frame the
    // window formulation shuffled (the r17 verdict's q197 item).
    val exact = base.crossJoin(broadcast(q))
      .filter(col("qid") =!= col(idx.idCol))
      .withColumn("_d", d)
      .groupBy(col("qid"))
      .agg(min_by(struct(col(idx.idCol), col("_d")),
        struct(col("_d"), col(idx.idCol))).as("_best"))
      .select(col("qid"), col(s"_best.${idx.idCol}").as("exact_id"),
        col("_best._d").as("exact_dist"))
    // LEFT join from the exact arm: a query whose probed cells yield
    // no ANN candidate must SURFACE (NULL adc arm), not vanish — it
    // is precisely the query where the gate's behavior is most
    // suspect. The gate's actual behavior on it is "not flagged"
    // ([[semanticDups]] only flags found candidates), so its
    // adc_flag reads false and an exact-arm hit under τ reads
    // `false_admit` — the dup-leak the probe budget caused.
    val adcFlag = coalesce(col("adc") <= tau, lit(false))
    val exactFlag = col("exact_dist") <= tau
    exact.join(approx, Seq("qid"), "left")
      .select(col("qid"), col("nn_id"), col("adc"), col("exact_id"),
        col("exact_dist"),
        round(col("adc") - col("exact_dist"), 6).as("margin"),
        adcFlag.as("adc_flag"), exactFlag.as("exact_flag"),
        when(adcFlag && !exactFlag, "false_reject")
          .when(!adcFlag && exactFlag, "false_admit")
          .otherwise("agree").as("flip"))
  }

  /** Handle for an EXISTING index directory when the caller has no
    * `Index` in hand (the SQL front door's entry point, mirroring
    * [[TextIndexStore.forDir]] / [[CurationStore.forDir]]): the
    * product-quantization shape is recovered from the committed
    * codebooks stage itself — `m` = number of distinct subspaces,
    * `subDim` = codeword width — so a `spark.sql` consumer needs
    * only the directory. One driver-sized read of the k·m-row
    * codebooks table (the same class of cost as the serving path's
    * probe routing); loud when the directory holds no committed
    * store.
    */
  def forDir(s: SparkSession, dir: String, idCol: String): Index = {
    val head = Index(dir, idCol, m = 1, subDim = 1).pin(s)
      .codebooks(s)
      .agg(max(col("_sj")).as("_mj"), first(size(col("_ce"))).as("_w"))
      .head()
    require(!head.isNullAt(0),
      s"index at $dir has an empty codebooks stage")
    Index(dir, idCol, m = head.getInt(0) + 1, subDim = head.getInt(1))
  }

  // ---- session-lifetime index per corpus directory ----------------

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Index]()

  /** An index's training dials as one value, so consumers cannot
    * mix half of one configuration with half of another. */
  final case class Dials(centroidPred: Column, seedPred: Column,
      m: Int, subDim: Int, iters: Int)

  /** The q90 dials — ONE definition shared by the memoized store,
    * the q148/q149 oracles' expectations, and the scaling driver
    * ([[graft.AnnIndexScaling]]). */
  val CorpusDials: Dials = Dials(col("vec_id") % 50 === 7,
    col("vec_id") % 10 === 3, m = 2, subDim = 32, iters = 2)

  /** Deterministic local index directory for `dataDir` (the shared
    * [[StoreDirs]] scheme, separate root). */
  def indexDirFor(dataDir: String, suffix: String = ""): String =
    StoreDirs.dirFor("target/ann-index/", dataDir, suffix)

  /** The memoized index for the `embeddings` corpus at `dataDir`:
    * built on first access per JVM at the q90 dials, then served by
    * every consumer query in the session — the trainers run once per
    * corpus, not once per query batch.
    */
  def forCorpus(s: SparkSession, dataDir: String): Index =
    built.computeIfAbsent(dataDir, d =>
      buildAt(s, d, indexDirFor(d)))

  /** Rebuild `dataDir`'s index unconditionally (the q149 surface —
    * build cost stays honestly measured in the bench battery even
    * when consumers ride the memoized index).
    */
  def rebuildForCorpus(s: SparkSession, dataDir: String): Index = {
    val idx = buildAt(s, dataDir, indexDirFor(dataDir))
    built.put(dataDir, idx)
    idx
  }

  private def buildAt(s: SparkSession, dataDir: String,
      storeDir: String): Index = {
    val d = CorpusDials
    build(s.read.parquet(s"$dataDir/embeddings.parquet"), "vec_id",
      "embedding", storeDir, d.centroidPred, d.seedPred, d.m,
      d.subDim, d.iters)
  }
}
