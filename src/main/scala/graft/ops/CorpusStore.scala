package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** ONE corpus, THREE indexes, ONE epoch — the orchestration layer a
  * deployed pipeline actually runs. A training-data corpus is served
  * through three derived artifacts at once: the curation store
  * (near-dup labels — [[CurationStore]]), the ANN index (dense
  * retrieval — [[AnnIndexStore]]) and the text index (sparse
  * retrieval — [[TextIndexStore]]). Maintaining them separately
  * invites the classic split-brain: a recrawl batch folded into the
  * text index but not the ANN index serves documents one modality
  * can see and the other cannot. This object makes the corpus
  * transaction a single call: [[ingest]] / [[delete]] apply one
  * batch to all three stores under ONE caller-chosen batch id.
  * An optional FOURTH member — the [[StatsStore]] monitoring tier
  * (per-source counters + sketches), mounted by [[build]]'s
  * `sourceCol` — rides the same batch ids, so a takedown can never
  * leave the counters describing documents the serving tiers no
  * longer admit: exact counters decrement at [[delete]], the
  * touched sources' sketches flip stale-until-[[compact]]
  * ([[StatsStore.delete]]'s two guarantee classes).
  *
  * Cross-store exactly-once rides each store's OWN epoch discipline
  * (the [[UpdateMarker]] writer lifecycle's markers + `_applied`
  * records): there is deliberately no
  * global two-phase commit — on a shared-nothing cluster the
  * coordinator can die between any two store calls, so the contract
  * is CONVERGENCE UNDER REPLAY, not atomicity. A crash mid-ingest
  * leaves a prefix of the stores at the new epoch; re-issuing the
  * SAME call with the SAME batchId no-ops on the stores that
  * already folded it and applies it to the rest — after any number
  * of crashes and replays, all three stores converge on exactly-once
  * semantics per store (spec-fabricated: CorpusStoreSpec applies a
  * batch to one store directly, then replays the transaction).
  * The fixed application order (curation → ann → text) makes the
  * crash states enumerable, nothing more; any order converges.
  *
  * Scale: this layer adds NO data movement of its own — each call is
  * exactly the three per-store calls, whose shuffle shapes are
  * measured separately (SCALING tiers `incremental` / `ann_index`);
  * the batch frame is analyzed once per store (three jobs over the
  * same input — at 100 TB batch sizes, persist the batch before
  * calling if recomputing its lineage is expensive).
  *
  * ==Multi-writer operations (the lease/queue story)==
  *
  * Writer coordination is DETECT-AND-FAIL, not built-in queuing:
  * each store's [[UpdateMarker]] is an atomic single-writer claim,
  * so two live writers collide loudly at the second claim — the
  * deliberate contract for a layer that cannot see the caller's
  * scheduler. Operationally, a deployment runs TWO recurring writer
  * roles against one corpus quad — the ingest cadence
  * ([[ingestScreened]] / [[delete]], batch or `foreachBatch`) and
  * the maintenance cadence ([[maintain]], typically a cron) — and
  * the rule is: '''give both roles to one scheduler lane''' (one
  * cron that runs ingest, then maintain-if-advised), or front the
  * store with an external lease/queue (a workflow scheduler's mutex,
  * a ZK/DB lease) so at most one writer role holds the store at a
  * time. READS need nothing: every serve pins a committed snapshot
  * and is isolated from any in-flight writer ([[StoreVersions]]).
  *
  * What a marker collision means operationally: a writer is LIVE in
  * that store right now — NOT a crash leftover (every writer entry
  * settles a crashed predecessor's marker before claiming, so stale
  * markers self-heal at the next entry). The remedy is to retry
  * after the holder finishes (the error message says so —
  * spec-pinned), never to delete the marker by hand: deleting a
  * live writer's claim re-opens the interleaved-append window the
  * marker exists to close. A crashed writer needs NO operator
  * action — the next scheduled run of ANY writer heals and
  * proceeds; `batchId`s make the healed replay a detected no-op on
  * stores that already folded.
  */
object CorpusStore {

  /** Handles to the per-modality stores over one corpus.
    * `idCol` is shared — the whole point: one id space, so deletes
    * and ingests address all stores with the same keys.
    *
    * `stats` is the OPTIONAL fourth member: the monitoring tier
    * ([[StatsStore]] — per-source counters + sketches), maintained
    * under the SAME batchId as the serving stores so a takedown
    * never leaves the counters describing documents the serving
    * tiers no longer admit. `sourceCol` names the batch/corpus
    * column the stats tier groups by; it only matters when `stats`
    * is set.
    */
  final case class Stores(curation: CurationStore.Store,
      ann: AnnIndexStore.Index, text: TextIndexStore.Index,
      stats: Option[StatsStore.Store] = None,
      sourceCol: String = "source") {
    def idCol: String = curation.idCol
  }

  /** Build all three stores from one corpus frame carrying the id,
    * the raw text and the embedding. Per-store dials keep their own
    * defaults; layout knobs (label buckets, postings buckets) are
    * surfaced because they are the cluster-scale serving story.
    * The default ANN dials are [[AnnIndexStore.CorpusDials]]' moduli
    * RE-KEYED to `idCol` (the standing dials predicate on `vec_id`
    * and would not resolve against a differently-keyed corpus frame).
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      vecCol: String, dir: String,
      annDials: Option[AnnIndexStore.Dials] = None,
      bucketLabels: Int = 0, bucketPostings: Int = 0,
      sourceCol: Option[String] = None): Stores = {
    val d = annDials.getOrElse {
      val c = AnnIndexStore.CorpusDials
      AnnIndexStore.Dials(col(idCol) % 50 === 7, col(idCol) % 10 === 3,
        c.m, c.subDim, c.iters)
    }
    // the four tier builds are independent (disjoint directories, no
    // cross-reads) — run them CONCURRENTLY ([[TierPar]]): each build
    // is a chain of small staged jobs separated by driver-side
    // planning and manifest work, so overlapping the tiers keeps the
    // executors busy through every tier's driver gaps
    val (cur, ann, text, stats) = TierPar.par4(
      {
        val cur = CurationStore.build(
          corpus.select(col(idCol), col(textCol)),
          idCol, textCol, s"$dir/curation", bucketLabels = bucketLabels)
        // a rebuild starts a fresh gate history: inherited admission
        // rates describe another corpus life (the recall_log rule,
        // admission tier) — and a fresh QUARANTINE history, for the
        // same reason: a prior life's audit receipts must not replay
        // into a corpus that never ran those batches
        val curFs = new org.apache.hadoop.fs.Path(s"${cur.dir}/gate_log")
          .getFileSystem(
            corpus.sparkSession.sessionState.newHadoopConf())
        UpdateMarker.remove(curFs,
          new org.apache.hadoop.fs.Path(s"${cur.dir}/gate_log"))
        UpdateMarker.remove(curFs,
          new org.apache.hadoop.fs.Path(s"${cur.dir}/$QuarantineSub"))
        cur
      },
      AnnIndexStore.build(corpus.select(col(idCol), col(vecCol)),
        idCol, vecCol, s"$dir/ann", d.centroidPred,
        d.seedPred, d.m, d.subDim, d.iters),
      TextIndexStore.build(corpus.select(col(idCol), col(textCol)),
        idCol, textCol, s"$dir/text", bucketPostings = bucketPostings),
      // the optional monitoring tier: per-source counters + sketches
      // over the same corpus, maintained under the same batch ids
      // from here on (see [[ingest]]/[[delete]])
      sourceCol.map(sc =>
        StatsStore.build(corpus.select(col(textCol), col(sc)),
          textCol, sc, s"$dir/stats")))
    Stores(cur, ann, text, stats, sourceCol.getOrElse("source"))
  }

  /** Fold `batch` (new, disjoint ids — each store's append contract)
    * into all three stores under ONE batch id. `batchId` is REQUIRED
    * here even though each store's API makes it optional: without
    * it a replay after a mid-transaction crash would double-apply
    * the batch to the stores that already folded it — the exact
    * failure this layer exists to rule out.
    */
  def ingest(st: Stores, batch: DataFrame, textCol: String,
      vecCol: String, batchId: String,
      screenedNoNewPairs: Boolean = false): Stores = {
    require(batchId.nonEmpty, "cross-store ingest requires a batchId")
    val idCol = st.idCol
    // independent per-tier folds, overlapped ([[TierPar]]): each
    // tier's `_applied` witness makes replay convergence per-tier, so
    // a crash leaving an arbitrary subset folded recovers exactly as
    // the sequential prefix did.
    // `screenedNoNewPairs` is the GATED coordinator's certificate
    // (see [[ingestScreenedAttributed]]): the batch already passed
    // the screen at the store's own dials with uncapped buckets, so
    // the curation fold may skip its pair discovery — the screen
    // proved there is nothing to discover.
    TierPar.par4(
      CurationStore.update(st.curation,
        batch.select(col(idCol), col(textCol)), textCol,
        batchId = Some(batchId),
        screenedNoNewPairs = screenedNoNewPairs),
      AnnIndexStore.add(st.ann, batch.select(col(idCol), col(vecCol)),
        vecCol, batchId = Some(batchId)),
      TextIndexStore.update(st.text,
        batch.select(col(idCol), col(textCol)), textCol,
        batchId = Some(batchId)),
      // fourth store, same epoch: the monitoring counters fold the
      // batch under the same id, so a replayed transaction no-ops here
      // exactly as in the serving tiers (the batch must carry
      // `sourceCol` when the stats tier is mounted)
      st.stats.foreach(x => StatsStore.update(x,
        batch.select(col(textCol), col(st.sourceCol)), textCol,
        st.sourceCol, batchId = Some(batchId))))
    st
  }

  /** Dedup-GATED ingest — the admission-controlled daily batch: the
    * raw batch is screened against the dedup tier's stored
    * signatures ([[CurationStore.screen]] — `hist_dup` for near-dups
    * of stored content, `batch_dup` for non-canonical members of
    * within-batch clusters), and ONLY the `kept` survivors fold into
    * the tiers under the one batch id. Returns the maintained
    * handles and the full per-doc decision frame — the quantity an
    * ingest pipeline logs (and bills crawlers by).
    *
    * This closes the loop the reference's fetch-what's-new refresh
    * gestures at and a 100 TB pipeline cannot run without: raw crawl
    * batches are dominated by recrawls and boilerplate, and folding
    * them uncensored would grow every index by the RAW feed while
    * [[Dedup.dedupIncremental]]'s store tracks the unique corpus.
    * Here the dedup tier's own signature stage IS that store — one
    * artifact plays both roles (cluster labels for curation,
    * admission history for ingest), kept coherent by the same
    * transaction epochs as everything else.
    *
    * Replay convergence (the layer's standing contract) holds
    * because the screen is defined against the store EXCLUDING the
    * batch's own ids: a coordinator crash after some tiers folded
    * the survivors re-runs the screen with those survivors already
    * in the signature stage, and without the exclusion the batch
    * would match ITSELF, admit nothing, and leave the remaining
    * tiers empty — with it the replayed decisions are the original
    * decisions exactly, each tier no-ops or folds by its own
    * `_applied` record, and all tiers converge on the same kept set
    * (spec-fabricated: a tier folds, the coordinator "dies", the
    * transaction replays).
    *
    * The decision frame is MATERIALIZED ONCE (batch-sized temp
    * parquet, r17): the gate-log counts, every tier fold's `kept`
    * and the RETURNED frame all read that single evaluation, and the
    * returned frame is definitively frozen against the PRE-ingest
    * snapshot the batch was screened against — collecting it after
    * the fold (or much later) re-executes nothing. The batch frame
    * itself is still evaluated once per consumer of `kept`'s
    * semi-join during the transaction (internally persisted), the
    * same caveat as [[ingest]].
    */
  def ingestScreened(st: Stores, batch: DataFrame, textCol: String,
      vecCol: String, batchId: String,
      numBands: Int = CurationStore.UseStoredDials,
      minEst: Double = CurationStore.UseStoredDials,
      maxBucketSize: Long = Long.MaxValue,
      benchmark: Option[DataFrame] = None, benchK: Int = 3,
      benchMinOverlap: Int = 2, semanticTau: Option[Double] = None,
      semanticNprobe: Int = 1,
      benchmarkStore: Option[BenchmarkStore.Store] = None)
      : (Stores, DataFrame) = {
    // one copy of the gate logic: the attributed form's, minus its
    // receipt columns (the same delegation as
    // [[Dedup.incrementalDecisions]], for the same drift reason);
    // `bench_rev` — the versioned gate's provenance column — is NOT
    // receipt detail and survives the drop
    val (out, dec) = ingestScreenedAttributed(st, batch, textCol,
      vecCol, batchId, numBands, minEst, maxBucketSize, benchmark,
      benchK, benchMinOverlap, semanticTau, semanticNprobe,
      benchmarkStore)
    (out, dec.drop("dup_of", "adc"))
  }

  /** [[ingestScreened]] with ATTRIBUTION — every rejection names its
    * evidence, the receipt a takedown-provenance or crawler-billing
    * pipeline joins on. The decision frame carries two extra
    * columns beside (idCol, status):
    *
    *  - `dup_of` — the attributed winner: the stored best lexical
    *    match for a `hist_dup` (max estimate, min id on ties), the
    *    within-batch canonical for a `batch_dup`
    *    ([[CurationStore.screenAttributed]]'s contract), and — the
    *    semantic axis finally reaching parity with the lexical one —
    *    the nearest STORED neighbor for a `semantic_dup`
    *    ([[AnnIndexStore.semanticDups]]' `nn_id`). NULL for `kept`
    *    and for `contaminated` (that rejection names the benchmark,
    *    not a document).
    *  - `adc` — the `semantic_dup` rows' top-1 PQ distance (the
    *    quantity `tau` gated on, kept so the threshold stays
    *    auditable per decision); NULL on every other status.
    *
    * Dropping both columns recovers [[ingestScreened]]'s frame
    * exactly — spec-pinned, and structurally guaranteed: the plain
    * form IS this one with the columns dropped.
    */
  def ingestScreenedAttributed(st: Stores, batch: DataFrame,
      textCol: String, vecCol: String, batchId: String,
      numBands: Int = CurationStore.UseStoredDials,
      minEst: Double = CurationStore.UseStoredDials,
      maxBucketSize: Long = Long.MaxValue,
      benchmark: Option[DataFrame] = None, benchK: Int = 3,
      benchMinOverlap: Int = 2, semanticTau: Option[Double] = None,
      semanticNprobe: Int = 1,
      benchmarkStore: Option[BenchmarkStore.Store] = None)
      : (Stores, DataFrame) = {
    require(batchId.nonEmpty,
      "cross-store screened ingest requires a batchId")
    require(benchmark.isEmpty || benchmarkStore.isEmpty,
      "pass the benchmark as a raw frame OR a versioned store, " +
        "not both")
    val s = batch.sparkSession
    // the VERSIONED benchmark form pins one eval revision per
    // batchId BEFORE any tier folds — so even the benchmark itself
    // drifting between a crash and its replay cannot move the
    // decisions; the pin is the ONLY write before the folds, and the
    // decision pipeline itself is the shared read-only
    // [[gateDecisions]] (also behind [[gatePreview]])
    // NOTE (r18, measured): the batch text is minhashed twice per
    // transaction — once in the decision pipeline below, once more in
    // the curation fold's signature append (kept rows). Threading ONE
    // evaluation through both consumers (the r17 verdict's item 4)
    // was implemented TWICE this round and measured SLOWER both ways
    // at sf0.1 — as a second temp parquet (repartition + write +
    // read-back > the saved kernel pass: q187 12.09→14.61) and as a
    // transaction-scoped persist (extra AQE stages on every cache
    // consumer: the q193/q195/q196/q199 battery +15–36%, job profile
    // +10–12 stages/query) — so the double pass STAYS: it is one
    // batch-sized columnar kernel pass, linear at every scale, and
    // both "fixes" cost more than it does. OPTIMIZATION_r18.md
    // carries the numbers.
    val decisions0 = gateDecisions(st, batch, textCol, vecCol,
      numBands, minEst, maxBucketSize, benchmark, benchK,
      benchMinOverlap, semanticTau, semanticNprobe,
      benchmarkStore.map(bs => BenchmarkStore.pinForBatch(s, bs,
        batchId)))
    // MATERIALIZE the decision frame ONCE (write + read back, the
    // plan-truncation move of guide §3.3/§1.4): the screen + semantic
    // pipeline is the gate's expensive part, and before this it ran
    // at least twice per batch — once into a transaction-private
    // persist (the r16 advice fix) and once more when the CALLER
    // consumed the returned frame, whose lazy lineage re-evaluated
    // the whole screen after the internal cache had been dropped (the
    // cached-block hygiene contract forbids leaking the persist).
    // A batch-sized parquet write gives every consumer — the gate-log
    // counts, the four tier folds' `kept`, AND the returned frame —
    // the same single evaluation, with zero cached blocks after
    // return, and definitively freezes the PRE-ingest snapshot the
    // decisions were screened against (the lazy frame only pinned it
    // at plan time). Temp files are session-scoped (deleted on JVM
    // exit); every invocation recomputes from the stores, so replay
    // determinism is untouched.
    val decisions =
      materializeTmp(decisions0, st.curation.dir, "gate-decisions")
    val kept = batch.join(
      decisions.filter(col("status") === "kept")
        .select(col(st.idCol)),
      Seq(st.idCol), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gateCounts = decisions.agg(count(lit(1)).as("n_total"),
      gateN("kept").as("n_kept"), gateN("hist_dup").as("n_hist_dup"),
      gateN("batch_dup").as("n_batch_dup"),
      gateN("contaminated").as("n_contaminated"),
      gateN("semantic_dup").as("n_semantic_dup")).head()
    // the survivors passed the screen AT THE STORE'S OWN DIALS with
    // uncapped buckets — then the curation fold's pair discovery is
    // provably empty (any kept↔store or kept↔kept pair scoring
    // ≥ minEst would have made its doc hist_dup/batch_dup, and the
    // semantic/contamination axes only SHRINK the kept set), so the
    // fold may skip it (guide §1.2 step 1: don't compute what you
    // throw away). Explicit screen dials or a finite bucket cap void
    // the proof (the fold would resolve DIFFERENT criteria, or the
    // cap could hide a pair from the screen that the smaller fold-
    // side join rediscovers) — those fall back to the full fold.
    val screenedNoNewPairs = numBands == CurationStore.UseStoredDials &&
      minEst == CurationStore.UseStoredDials &&
      maxBucketSize == Long.MaxValue
    val out = ingest(st, kept, textCol, vecCol, batchId,
      screenedNoNewPairs = screenedNoNewPairs)
    kept.unpersist()
    appendGateLog(s, st.curation.dir, batchId, gateCounts)
    (out, decisions)
  }

  /** Session-scoped temp dirs for [[materializeTmp]], deleted on JVM
    * exit — within-run intermediates only, never a cross-run cache.
    * Deletion goes through the Hadoop FS API: the dirs live under the
    * STORE's directory scheme (same filesystem as `st.curation.dir`),
    * not the driver-local /tmp — on a real cluster executors must
    * write/read these paths, which `java.nio`'s local temp dir could
    * never serve (the r17 verdict's local-mode-assumption flag). */
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val tmpHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.forEach { p =>
        try {
          val path = new org.apache.hadoop.fs.Path(p)
          val conf = new org.apache.hadoop.conf.Configuration()
          path.getFileSystem(conf).delete(path, true); ()
        } catch { case _: Throwable => () } // exit-path best effort
      }))
    true
  }

  /** One id per JVM session, embedded in every [[materializeTmp]] dir
    * name: the orphan sweep deletes only OTHER sessions' leftovers
    * (a crashed driver's), never a dir a frame returned earlier in
    * THIS session might still be read from. */
  private val sessionId = java.util.UUID.randomUUID().toString
  private val tmpSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Write `df` to a per-invocation temp parquet dir UNDER THE STORE
    * (`<curation-store>/_tmp/<session>-<tag>-<n>`) and return the
    * read-back (explicit schema, so an all-rejected empty frame
    * round-trips) — ONE evaluation serves every consumer, and the
    * returned frame's plan is a file scan instead of the full
    * pipeline lineage. Never keyed on inputs: a fresh dir per call,
    * swept on JVM exit (this session's) or at the next writer's entry
    * here (a crashed session's — the store's single-writer contract
    * makes the cross-session sweep race-free, and no reader ever
    * holds another session's `_tmp` frames). `_tmp` is a sibling of
    * the versioned stages, invisible to them: every stage read
    * resolves through the manifest's explicit stage names. */
  private def materializeTmp(df: DataFrame, storeDir: String,
      tag: String): DataFrame = {
    require(tmpHookInstalled)
    val s = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(s"$storeDir/_tmp")
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    // sweep ORPHANS: _tmp dirs from other (crashed) sessions only
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        if (!st.getPath.getName.startsWith(sessionId))
          fs.delete(st.getPath, true)
      }
    val dir = s"$storeDir/_tmp/$sessionId-$tag-${tmpSeq.incrementAndGet()}"
    tmpDirs.add(dir)
    df.write.mode("overwrite").parquet(dir)
    s.read.schema(df.schema).parquet(dir)
  }

  private def gateN(status: String): Column =
    sum(when(col("status") === status, 1L).otherwise(0L))

  /** THE gate's decision pipeline — one copy, shared by the folding
    * forms ([[ingestScreenedAttributed]], which resolves `pinned`
    * through the batch-pinning record) and the READ-ONLY preview
    * ([[gatePreview]], which resolves the live revision). Pure read:
    * screens against pinned snapshots, records nothing, folds
    * nothing.
    *
    * With a benchmark mounted (raw frame or resolved `pinned`
    * revision), eval-set leakage is a FOURTH status (`contaminated`,
    * overriding the dedup statuses) — [[CurationStore
    * .screenDecontaminated]]'s contract; contamination is
    * history-independent so replay is unchanged. A `pinned` revision
    * additionally stamps `bench_rev`, the
    * which-eval-set-gated-batch-N provenance.
    */
  private def gateDecisions(st: Stores, batch: DataFrame,
      textCol: String, vecCol: String, numBands: Int, minEst: Double,
      maxBucketSize: Long, benchmark: Option[DataFrame], benchK: Int,
      benchMinOverlap: Int, semanticTau: Option[Double],
      semanticNprobe: Int,
      pinned: Option[BenchmarkStore.Pinned]): DataFrame = {
    val s = batch.sparkSession
    val lexical = (benchmark, pinned) match {
      case (Some(bench), _) =>
        CurationStore.screenDecontaminatedAttributed(
          s, st.curation, batch, textCol, bench, benchK,
          benchMinOverlap, numBands, minEst, maxBucketSize)
      case (None, Some(p)) =>
        CurationStore.screenDecontaminatedAttributedShingled(
            s, st.curation, batch, textCol, p.shingles(s),
            p.k, benchMinOverlap, numBands, minEst,
            maxBucketSize)
          .withColumn("bench_rev", lit(p.seq))
      case (None, None) => CurationStore.screenAttributed(s,
        st.curation, batch, textCol, numBands, minEst, maxBucketSize)
    }
    val revCols =
      if (lexical.columns.contains("bench_rev")) Seq(col("bench_rev"))
      else Seq.empty
    // the SEMANTIC gate runs LAST, demoting only would-be-kept docs
    // to `semantic_dup` ([[AnnIndexStore.semanticDups]] against the
    // ann tier): every already-rejected doc keeps its more specific
    // reason (and its lexical attribution), and the flags exclude
    // the batch's own ids so the replay discipline matches the
    // lexical screen's
    semanticTau match {
      case None =>
        lexical.select(Seq(col(st.idCol), col("status"),
          col("dup_of"), lit(null).cast("double").as("adc")) ++
          revCols: _*)
      case Some(tau) =>
        val demoted = col("status") === "kept" &&
          col("_sem_of").isNotNull
        val flagged = AnnIndexStore.semanticDups(s, st.ann,
            batch.select(col(st.idCol), col(vecCol)), st.idCol,
            vecCol, tau, semanticNprobe)
          .filter(col("flagged"))
          .select(col(st.idCol), col("nn_id").as("_sem_of"),
            col("adc").as("_sem_adc"))
        lexical.join(flagged, Seq(st.idCol), "left")
          .select(Seq(col(st.idCol),
            when(demoted, "semantic_dup")
              .otherwise(col("status")).as("status"),
            when(demoted, col("_sem_of"))
              .otherwise(col("dup_of")).as("dup_of"),
            when(demoted, col("_sem_adc")).as("adc")) ++ revCols: _*)
    }
  }

  /** READ-ONLY preview of the FULL three-axis admission gate: the
    * attributed decision frame [[ingestScreenedAttributed]] would
    * act on — lexical near-dup (vs history + within batch, with
    * `dup_of` receipts), benchmark decontamination (against the
    * store's LIVE revision, stamped `bench_rev`), and the semantic
    * axis (`semantic_dup` + `adc`) — WITHOUT folding anything,
    * recording any batch pin, or appending to the gate log. The
    * what-would-the-gate-do query a crawler operator runs before
    * committing a batch id; also the engine behind the `gate_preview`
    * SQL TVF ([[graft.plans.GatePreviewSql]]). Because no pin is
    * recorded, two previews straddling a [[BenchmarkStore.revise]]
    * may legitimately see different revisions — the committed gate's
    * determinism contract starts at [[ingestScreened]]'s batchId.
    */
  def gatePreview(st: Stores, batch: DataFrame, textCol: String,
      vecCol: String,
      numBands: Int = CurationStore.UseStoredDials,
      minEst: Double = CurationStore.UseStoredDials,
      maxBucketSize: Long = Long.MaxValue,
      benchmark: Option[DataFrame] = None, benchK: Int = 3,
      benchMinOverlap: Int = 2, semanticTau: Option[Double] = None,
      semanticNprobe: Int = 1,
      benchmarkStore: Option[BenchmarkStore.Store] = None)
      : DataFrame = {
    require(benchmark.isEmpty || benchmarkStore.isEmpty,
      "pass the benchmark as a raw frame OR a versioned store, " +
        "not both")
    val s = batch.sparkSession
    gateDecisions(st, batch, textCol, vecCol, numBands, minEst,
      maxBucketSize, benchmark, benchK, benchMinOverlap, semanticTau,
      semanticNprobe, benchmarkStore.map(_.pin(s)))
  }

  /** RETRO-DECONTAMINATION: re-screen the ALREADY-ADMITTED corpus
    * against the benchmark store's LIVE revision — the audit a
    * pipeline owes its eval sets every time one grows. The admission
    * gate ([[ingestScreened]]) protects the door, but a benchmark
    * REVISION landing after a doc was admitted leaves that doc
    * contaminated in place; this readout finds every live doc
    * sharing at least `minOverlap` distinct word-k-grams with the
    * live eval revision, WITHOUT re-reading any raw text: the
    * k-grams are reconstructed from the text tier's POSITIONAL
    * postings (token + positions — the same `split(" ", -1)`
    * tokenization as [[Dedup]]'s shingles, so the reconstruction is
    * exact, spec-pinned against a raw-text recompute). Returns
    * (idCol, n_overlap, bench_rev) for the flagged docs; compose
    * with [[delete]] under a batchId to quarantine them
    * transactionally across all four tiers.
    *
    * Scale shape: the eval side is tiny and BROADCASTS twice (its
    * token set, then its shingle set); the corpus side is ONE linear
    * postings scan for the candidate pre-filter (a doc can only
    * share a k-gram if every token of it is a benchmark token — the
    * semi-join keeps non-candidates out of the window entirely),
    * then the CANDIDATES' postings alone pay the per-doc
    * position-ordered window and the count-distinct, both keyed by
    * the doc id. Reads are pinned and masked (tombstoned docs never
    * resurface); nothing is written.
    */
  def retroContamination(s: SparkSession, st: Stores,
      benchmarkStore: BenchmarkStore.Store,
      minOverlap: Int = 2): DataFrame =
    retroContaminationAt(s, st, benchmarkStore.pin(s), minOverlap)

  /** [[retroContamination]] against an EXPLICIT benchmark revision —
    * the form [[quarantine]] pins its audit through (the pin must be
    * resolved once, before any decision depends on it) and the
    * audit-at-a-historical-revision readout ([[BenchmarkStore.Store
    * .pinAt]] supplies historical `Pinned`s while their retention
    * holds). */
  def retroContaminationAt(s: SparkSession, st: Stores,
      pinned: BenchmarkStore.Pinned, minOverlap: Int): DataFrame =
    auditPostings(s, st.idCol,
      st.text.postings(s), pinned, minOverlap)

  /** INCREMENTAL audit: [[retroContaminationAt]] restricted to docs
    * whose membership POSTDATES text-tier snapshot `sinceTextSeq` —
    * the docs admitted since a previous audit receipt. Sound ONLY
    * when the benchmark revision is unchanged since that receipt
    * (the older members were already judged against the same eval
    * set; [[quarantine]]'s `incremental` dial enforces this by
    * matching the receipt's recorded revision). This is the audit's
    * 100 TB answer: the FULL audit's postings pass is linear in the
    * corpus (measured — the `corpus_audit` SCALING tier), the right
    * price once per revision; the same-revision re-audit a cadence
    * runs after every ingest window is DELTA-SIZED here. The
    * membership lookback rides time-travel retention
    * ([[StoreVersions.RetainVersions]]): size the dial to cover the
    * flips between audits.
    */
  def retroContaminationSince(s: SparkSession, st: Stores,
      pinned: BenchmarkStore.Pinned, sinceTextSeq: Int,
      minOverlap: Int): DataFrame = {
    val idCol = st.idCol
    val newIds = st.text.doclens(s).select(col(idCol))
      .join(st.text.pinAt(s, sinceTextSeq).doclens(s)
        .select(col(idCol)), Seq(idCol), "left_anti")
    auditPostings(s, idCol,
      st.text.postings(s).join(newIds, Seq(idCol), "left_semi"),
      pinned, minOverlap)
  }

  /** The audit kernel over an arbitrary positional-postings frame —
    * one copy shared by the full and incremental forms. */
  private def auditPostings(s: SparkSession, idCol: String,
      postings: DataFrame, pinned: BenchmarkStore.Pinned,
      minOverlap: Int): DataFrame = {
    require(minOverlap >= 1, "minOverlap must be >= 1")
    val k = pinned.k
    val evalShingles = pinned.shingles(s)
    val benchTokens = evalShingles
      .select(explode(split(col("s"), " ")).as("token")).distinct()
    val posts = postings
      .select(col(idCol), col("token"), col("positions"))
    val candidates = posts
      .join(broadcast(benchTokens), Seq("token"), "left_semi")
      .select(col(idCol)).distinct()
    val toks = posts.join(candidates, Seq(idCol), "left_semi")
      .select(col(idCol), col("token"),
        explode(col("positions")).as("pos"))
    val docShingles =
      if (k == 1) toks.select(col(idCol), col("token").as("s"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(idCol).orderBy(col("pos"))
        val withLeads = (1 until k).foldLeft(toks)((df, i) =>
          df.withColumn(s"_t$i", lead(col("token"), i).over(w)))
        withLeads.filter(col(s"_t${k - 1}").isNotNull)
          .select(col(idCol), concat_ws(" ",
            col("token") +: (1 until k).map(i => col(s"_t$i")): _*)
            .as("s"))
      }
    docShingles.join(broadcast(evalShingles), Seq("s"), "left_semi")
      .groupBy(col(idCol))
      .agg(countDistinct(col("s")).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .withColumn("bench_rev", lit(pinned.seq))
  }

  /** The quarantine log's directory under the curation tier — one
    * marker per quarantine batch (`batch-<batchId>`, a text record
    * naming the pinned audit file and the audited revision) beside
    * uniquely-named single-file parquet audit frames. The audit
    * RECEIPT layer: [[Advisor.adviseRetro]] reads the markers,
    * replays read the pinned frames. */
  private[ops] val QuarantineSub = "quarantine_log"

  /** TRANSACTIONAL QUARANTINE — [[retroContamination]]'s findings
    * acted on: audit the live corpus against the benchmark store's
    * live revision, PIN the flagged frame per `batchId`, then
    * tombstone the flagged docs across all mounted tiers under that
    * batchId ([[delete]]'s masked-serving contract — [[compact]]
    * makes the removals physical). Returns the handles and the
    * PINNED flagged frame (idCol, n_overlap, bench_rev, batch_id).
    *
    * The pin is load-bearing, not bookkeeping: the audit READS the
    * text tier's postings, so after a crash that folded the delete
    * into a prefix of the tiers a re-run's re-audit would see the
    * flagged docs already masked and flag NOTHING — leaving the
    * remaining tiers permanently unfolded, the split-brain this
    * layer exists to rule out. So the flagged frame is recorded
    * FIRST (atomic `create(overwrite = false)` claim on the marker,
    * the [[BenchmarkStore.pinForBatch]] discipline — racing replays
    * converge on one winner's audit; a claimant that dies between
    * staging and claiming leaves only an unreferenced data file),
    * and every replay of the batchId serves the recorded frame
    * verbatim while each tier's own `_applied` record makes the
    * delete fold exactly once.
    *
    * A CLEAN audit (nothing flagged) folds no delete but still pins
    * the receipt — that receipt is what flips [[Advisor.adviseRetro]]
    * back to `ok`, so "we audited at revision N and found nothing"
    * is durable operational state, not a silent no-op.
    *
    * `docs` (the live docs' own rows — text + source) is required
    * exactly when the stats tier is mounted, [[delete]]'s contract:
    * counters are multiset aggregates, so only the doomed docs'
    * content says what to subtract.
    */
  def quarantine(s: SparkSession, st: Stores,
      benchmarkStore: BenchmarkStore.Store, batchId: String,
      minOverlap: Int = 2, docs: Option[DataFrame] = None,
      textCol: String = "text",
      incremental: Boolean = false): (Stores, DataFrame) = {
    require(batchId.nonEmpty, "a quarantine needs a batchId")
    require(st.stats.isEmpty || docs.isDefined,
      "a stats-bearing quad quarantines with the live docs' own " +
        "rows (text + source) — counters are multiset aggregates, " +
        "so only the docs' content says what to subtract")
    val flagged = quarantinePin(s, st, benchmarkStore, batchId,
      minOverlap, incremental)
    if (!flagged.isEmpty) {
      val ids = flagged.select(col(st.idCol))
      delete(st, ids, batchId,
        deletedDocs = docs.map(_.join(ids, Seq(st.idCol), "left_semi")),
        textCol = textCol)
    }
    (st, flagged)
  }

  /** Claim-or-reuse the quarantine batch's pinned audit frame (see
    * [[quarantine]]). Package-private so the crash-replay spec can
    * fabricate the pinned-then-prefix-folded state.
    *
    * With `incremental` set, the audit restricts to docs admitted
    * since the NEWEST receipt recorded at the SAME live revision
    * ([[retroContaminationSince]]); it falls back to the FULL audit
    * — silently, because both forms return the same flagged frame —
    * when no same-revision receipt exists (a revision landed: every
    * older member must be re-judged) or when the receipt's
    * membership snapshot has aged out of time-travel retention
    * ([[StoreVersions.RetainVersions]] — size it to the audit
    * cadence to keep the delta path).
    */
  private[ops] def quarantinePin(s: SparkSession, st: Stores,
      benchmarkStore: BenchmarkStore.Store, batchId: String,
      minOverlap: Int, incremental: Boolean = false): DataFrame = {
    val dir = s"${st.curation.dir}/$QuarantineSub"
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(s.sessionState.newHadoopConf())
    val rec = new org.apache.hadoop.fs.Path(dirPath, s"batch-$batchId")
    // a claimed-but-empty marker is a writer that died between its
    // create and its one content write — poll briefly for a LIVE
    // writer's close, then fail loudly with the remedy (the pin
    // precedes every tier fold, so re-running the batch is safe)
    def recorded(): DataFrame = {
      var tries = 0
      while (tries < 50) {
        val lines = readSmallFile(fs, rec)
        if (lines.nonEmpty) return s.read.parquet(s"$dir/${lines.head}")
        Thread.sleep(20); tries += 1
      }
      throw new IllegalStateException(
        s"quarantine record $rec exists but names no audit file — a " +
          "claimant died before writing it. The pin precedes every " +
          "tier fold, so the remedy is: delete the record and " +
          "re-run the batch; it will re-audit the live corpus")
    }
    if (fs.exists(rec)) return recorded()
    val pinned = benchmarkStore.pin(s)
    // the text tier's CURRENT snapshot seq — recorded in the receipt
    // as the membership watermark a later same-revision incremental
    // audit diffs against (pre-fold by construction: the pin
    // precedes the quarantine's own delete flip)
    val textFs = new org.apache.hadoop.fs.Path(st.text.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val textSnaps = StoreVersions.snapshots(textFs, st.text.dir)
    val textSeqNow = textSnaps.last._1
    val sinceSeq: Option[Int] =
      if (!incremental) None
      else {
        val retained = textSnaps.map(_._1).toSet
        val receipts =
          (if (fs.exists(dirPath)) fs.listStatus(dirPath).toSeq
           else Seq.empty).filter(_.isFile)
          .map(_.getPath).filter(_.getName.startsWith("batch-"))
          .map(p => readSmallFile(fs, p))
          .collect {
            case lines if lines.length >= 3 &&
                lines(1).toIntOption.contains(pinned.seq) &&
                lines(2).toIntOption.isDefined =>
              lines(2).toInt
          }
        receipts.filter(retained.contains).maxOption
      }
    val audit = (sinceSeq match {
      case Some(seq) =>
        retroContaminationSince(s, st, pinned, seq, minOverlap)
      case None => retroContaminationAt(s, st, pinned, minOverlap)
    }).withColumn("batch_id", lit(batchId))
    val dataName = s"data-${java.util.UUID.randomUUID()}.parquet"
    stageSingleFile(audit, fs, dirPath, dataName)
    val claimed =
      try {
        val out = fs.create(rec, false)
        try out.write(
          s"$dataName\n${pinned.seq}\n$textSeqNow\n".getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          false
        case _: java.io.IOException if fs.exists(rec) => false
      }
    if (claimed) s.read.parquet(s"$dir/$dataName")
    else {
      // lost the race: drop our staged audit, serve the winner's —
      // both replays converge on ONE recorded frame
      fs.delete(new org.apache.hadoop.fs.Path(dirPath, dataName), false)
      recorded()
    }
  }

  /** Non-empty trimmed lines of a small text record. */
  private[ops] def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    val text =
      try {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.mkString finally src.close()
      } finally in.close()
    text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** MEMBERSHIP DIFF between two [[snapshotSeqs]] captures — which
    * ids ENTERED and which LEFT the corpus between two epochs, the
    * what-changed-since readout a reproducibility pipeline records
    * beside every training run ("this run's corpus is last run's
    * plus these adds minus these takedowns"). Authority is the TEXT
    * tier's doclens stage — exactly one row per live ingested doc,
    * the same membership [[liveCounts]] equates with the ANN tier
    * after every completed transaction (the curation tier sits this
    * out: sub-shingle-width docs never sign there). Two pinned
    * masked membership scans + two anti-joins on the id — no raw
    * text, no postings. Historical pins hold while retention does
    * ([[StoreVersions.RetainVersions]] — the diff inherits the
    * time-travel lapse rule and fails loudly past it).
    */
  def membershipDiff(s: SparkSession, st: Stores, from: Epochs,
      to: Epochs): DataFrame =
    membershipDiffAt(s, st, from.text, to.text)

  /** [[membershipDiff]] at explicit TEXT-tier snapshot seqs — the
    * membership authority's own log positions, which is what the
    * `corpus_diff` SQL door takes (a pure-SQL consumer reads them
    * from `corpus_epochs(...)`). */
  def membershipDiffAt(s: SparkSession, st: Stores, fromTextSeq: Int,
      toTextSeq: Int): DataFrame = {
    val a = st.text.pinAt(s, fromTextSeq).doclens(s).select(col(st.idCol))
    val b = st.text.pinAt(s, toTextSeq).doclens(s).select(col(st.idCol))
    b.join(a, Seq(st.idCol), "left_anti")
      .withColumn("change", lit("added"))
      .unionByName(
        a.join(b, Seq(st.idCol), "left_anti")
          .withColumn("change", lit("removed")))
  }

  /** Handles for an EXISTING corpus-store quad when the caller has
    * no `Stores` in hand (the SQL front doors' entry point, the
    * per-tier `forDir` convention lifted to the transaction layer):
    * curation/ann/text reopen from their committed layouts under
    * `dir`, the optional stats tier mounts when its directory holds
    * a committed manifest. `sourceCol` only matters when it does.
    */
  def forDir(s: SparkSession, dir: String, idCol: String,
      sourceCol: String = "source"): Stores = {
    val statsDir = s"$dir/stats"
    val fs = new org.apache.hadoop.fs.Path(statsDir)
      .getFileSystem(s.sessionState.newHadoopConf())
    Stores(
      CurationStore.forDir(s, s"$dir/curation", idCol),
      AnnIndexStore.forDir(s, s"$dir/ann", idCol),
      TextIndexStore.forDir(s, s"$dir/text", idCol),
      if (StoreVersions.read(fs, statsDir).nonEmpty)
        Some(StatsStore.Store(statsDir))
      else None,
      sourceCol)
  }

  /** GATE HEALTH log — one row per gated batch appended to the
    * curation tier's `gate_log` ([[AnnIndexStore.recallProbe]]'s
    * recall_log convention: advisory monitoring data beside the
    * store, not a store stage — no marker, and a replayed
    * transaction's duplicate append carries the same reproduced
    * decisions, so it skews no reading). The row is the decision
    * mix plus the two rates the [[Advisor]] alarms on: `admit_rate`
    * collapsing says the crawler is resending the corpus (or the
    * gate broke); `semantic_rate` spiking says τ drifted or a
    * near-copy storm is at the door. `seq` orders the log and IS the
    * file name (`seq-NNNNN.parquet`, single-file rows) — the next
    * seq derives from the directory LISTING, never a Spark job over
    * the log (the store layer's one-row-read discipline, applied to
    * the writer; the single-writer contract makes the
    * list-increment safe). An EMPTY batch (possible via streaming
    * `foreachBatch`) appends nothing: a 0/0 rate row would carry
    * NULL rates and poison the advisor readout while saying nothing
    * about admission — no documents arrived, so no gate decision
    * happened.
    */
  private val GateSeqFile = "^seq-(\\d{5,})\\.parquet$".r

  /** Next gate-log seq from the directory LISTING — zero Spark jobs
    * on the named layout (spec-pinned); only a legacy pre-named
    * layout ever pays one read, once, after which every append lands
    * named and lists. */
  private[ops] def nextGateSeq(s: SparkSession, dir: String): Long = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(dirPath)) 1L
    else {
      val names = fs.listStatus(dirPath).toSeq.filter(_.isFile)
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      val seqs = names.collect { case GateSeqFile(n) => n.toLong }
      if (seqs.size < names.size)
        s.read.parquet(dir).agg(coalesce(max(col("seq")), lit(0L)))
          .head().getLong(0) + 1
      else seqs.maxOption.getOrElse(0L) + 1
    }
  }

  private def appendGateLog(s: SparkSession, curationDir: String,
      batchId: String, counts: Row): Unit = {
    val nTotal = if (counts.isNullAt(0)) 0L else counts.getLong(0)
    if (nTotal == 0L) return
    val dir = s"$curationDir/gate_log"
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(s.sessionState.newHadoopConf())
    val nextSeq = nextGateSeq(s, dir)
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def n(i: Int): Long = if (counts.isNullAt(i)) 0L else counts.getLong(i)
    import s.implicits._
    val row = Seq((nextSeq, batchId, nTotal, n(1), n(2), n(3), n(4),
        n(5), r4(n(1).toDouble / nTotal), r4(n(5).toDouble / nTotal)))
      .toDF("seq", "batch_id", "n_total", "n_kept", "n_hist_dup",
        "n_batch_dup", "n_contaminated", "n_semantic_dup",
        "admit_rate", "semantic_rate")
    stageSingleFile(row, fs, dirPath, f"seq-$nextSeq%05d.parquet")
    s.catalog.refreshByPath(dir)
  }

  /** Write `df` as ONE parquet file named `name` under `dstDir`:
    * stage to a sibling tmp dir, move the one part file in, drop the
    * debris — a crash before the rename leaves only an orphan tmp
    * dir readers never see. The gate-log and quarantine-log append
    * primitive. */
  private def stageSingleFile(df: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      dstDir: org.apache.hadoop.fs.Path, name: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dstDir.tmp-" + java.util.UUID.randomUUID().toString)
    df.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath) match {
        case Seq(one) => one
        case other => throw new IllegalStateException(
          s"expected exactly one staged part file, got " +
            s"${other.size} under $tmp")
      }
    fs.mkdirs(dstDir)
    val dst = new org.apache.hadoop.fs.Path(dstDir, name)
    UpdateMarker.rename(fs, part, dst)
    UpdateMarker.remove(fs, tmp)
  }

  /** Tombstone `ids` in all three stores under ONE batch id —
    * the takedown / right-to-be-forgotten path. Serving is exact
    * from the next read on in every store (masked reads, exact
    * counter decrements); [[compact]] makes the removals physical.
    */
  def delete(st: Stores, ids: DataFrame, batchId: String,
      deletedDocs: Option[DataFrame] = None,
      textCol: String = "text"): Stores = {
    require(batchId.nonEmpty, "cross-store delete requires a batchId")
    require(st.stats.isEmpty || deletedDocs.isDefined,
      "a stats-bearing transaction needs the doomed docs' own rows " +
        "(text + source) — counters are multiset aggregates, so only " +
        "the docs' content says what to subtract")
    // independent per-tier masks, overlapped ([[TierPar]] — the
    // [[ingest]] argument verbatim)
    TierPar.par4(
      CurationStore.delete(st.curation, ids, batchId = Some(batchId)),
      AnnIndexStore.delete(st.ann, ids, batchId = Some(batchId)),
      TextIndexStore.delete(st.text, ids, batchId = Some(batchId)),
      // fourth store, same epoch: exact counters decrement, the
      // touched sources' sketches flip stale-until-compact
      // ([[StatsStore.delete]]'s contract)
      st.stats.foreach(x => StatsStore.delete(x,
        deletedDocs.get.select(col(textCol), col(st.sourceCol)),
        textCol, st.sourceCol, batchId = Some(batchId))))
    st
  }

  /** Compact all three stores: removals become physical, deltas fold
    * into their bases, the curation components fixpoint re-resolves
    * (the bridge-split step), tombstones clear, ids free for re-add.
    * Returns fresh handles (curation compaction rewrites the label
    * topology and may re-register its bucketed table).
    */
  def compact(s: SparkSession, st: Stores, labelBuckets: Int = 8,
      liveCorpus: Option[DataFrame] = None,
      textCol: String = "text"): Stores = {
    require(st.stats.isEmpty || liveCorpus.isDefined,
      "a stats-bearing transaction compacts its sketch debt by " +
        "re-deriving from the LIVE corpus — pass it")
    // independent per-tier compactions, overlapped ([[TierPar]]);
    // the fourth task is the stats tier's one full aggregation pass
    // that settles the sketch debt deletes accrued (stale flags
    // clear, every field back at its build-fresh guarantee)
    val (cur, ann, text, _) = TierPar.par4(
      CurationStore.compact(s, st.curation, labelBuckets),
      AnnIndexStore.compact(s, st.ann),
      TextIndexStore.compact(s, st.text),
      st.stats.foreach(x => StatsStore.compact(x,
        liveCorpus.get.select(col(textCol), col(st.sourceCol)),
        textCol, st.sourceCol)))
    Stores(cur, ann, text, st.stats, st.sourceCol)
  }

  /** The quad's CURRENT snapshot-log seqs. An orchestrator captures
    * this BEFORE a transaction; [[rollback]] takes it to undo
    * everything the transaction (and anything after it) folded. One
    * tiny listing per store, no jobs. */
  final case class Epochs(curation: Int, ann: Int, text: Int,
      stats: Option[Int])

  def snapshotSeqs(s: SparkSession, st: Stores): Epochs = {
    def last(dir: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sessionState.newHadoopConf())
      StoreVersions.snapshots(fs, dir).last._1
    }
    Epochs(last(st.curation.dir), last(st.ann.dir), last(st.text.dir),
      st.stats.map(x => last(x.dir)))
  }

  /** TRANSACTION-LEVEL rollback: undo every batch folded since the
    * [[snapshotSeqs]] capture, across all four tiers — the
    * bad-crawl-hit-every-store recovery. Every tier rolls back
    * through its own snapshot log ([[StoreVersions.rollbackTo]]
    * semantics: the serving stores surgically delete the files
    * folded since off the flip-time manifests; the monitoring tier's
    * single pure-replace stage flips back — each version holds the
    * complete per-source row set, so no corpus pass is needed), and
    * `_applied` clears everywhere so the undone ids fold again.
    *
    * Same convergence-under-replay contract as [[ingest]]/[[delete]]:
    * there is no global two-phase commit — a coordinator crash
    * between per-store rollbacks leaves a prefix undone, and
    * RE-RUNNING the same rollback completes it (each store's
    * rollback is idempotent at its target seq: already-rolled-back
    * stores delete nothing and re-flip to the same state; the
    * per-store rollbacks skip gc precisely so the replay still finds
    * its target snapshot).
    */
  def rollback(s: SparkSession, st: Stores, at: Epochs): Stores = {
    require(st.stats.isEmpty || at.stats.isDefined,
      "the capture predates the stats tier's mount — roll the " +
        "monitoring tier forward by StatsStore.compact instead")
    CurationStore.rollback(s, st.curation, at.curation)
    AnnIndexStore.rollback(s, st.ann, at.ann)
    TextIndexStore.rollback(s, st.text, at.text)
    st.stats.foreach(x => StatsStore.rollback(s, x, at.stats.get))
    st
  }

  /** TRANSACTION-LEVEL clone: materialize the quad as of one
    * [[snapshotSeqs]] capture into `dstRoot` — four independent
    * stores under the standard layout (curation/ann/text/stats), the
    * fork/DR twin of [[rollback]] that touches NOTHING in the
    * source. Each tier clones through its own
    * [[StoreVersions.cloneAt]] (append stages at their flip-time
    * file manifests, one birth-flip per store), so the clone serves
    * the captured epochs coherently across modalities — the same
    * cross-store consistency contract the live quad maintains,
    * frozen at the capture. The clone's lineages are fresh (no
    * `_applied` witnesses): replaying the source's post-capture
    * batches into it is the natural way to roll it forward.
    *
    * Convergence under replay — the transaction layer's standing
    * contract — applies to the clone too: a coordinator crash
    * mid-clone leaves a PREFIX of the tiers committed (a tier's
    * birth-flip is its last step, so a committed dst manifest proves
    * that tier's copy complete), and RE-RUNNING the same call
    * against the same `dstRoot` skips the committed tiers verbatim
    * and redoes the uncommitted ones from scratch (half-copied
    * debris without a manifest is swept before the redo).
    * Spec-fabricated both ways: a committed prefix, and a torn
    * manifest-less tier.
    */
  def cloneAt(s: SparkSession, st: Stores, at: Epochs,
      dstRoot: String): Stores = {
    require(st.stats.isEmpty || at.stats.isDefined,
      "the capture predates the stats tier's mount — capture again " +
        "with the tier mounted")
    val fs = new org.apache.hadoop.fs.Path(dstRoot)
      .getFileSystem(s.sessionState.newHadoopConf())
    // resume rule: a committed manifest proves the tier's clone
    // complete (the flip is last); anything else is debris to sweep
    def tier[A](sub: String, reopen: => A)(doIt: => A): A = {
      val dir = s"$dstRoot/$sub"
      if (fs.exists(StoreVersions.manifestPath(dir))) reopen
      else {
        UpdateMarker.remove(fs, new org.apache.hadoop.fs.Path(dir))
        doIt
      }
    }
    Stores(
      tier("curation", CurationStore.forDir(s, s"$dstRoot/curation",
          st.curation.idCol))(
        CurationStore.cloneAt(s, st.curation, at.curation,
          s"$dstRoot/curation")),
      tier("ann", AnnIndexStore.Index(s"$dstRoot/ann", st.ann.idCol,
          st.ann.m, st.ann.subDim))(
        AnnIndexStore.cloneAt(s, st.ann, at.ann, s"$dstRoot/ann")),
      tier("text", TextIndexStore.forDir(s, s"$dstRoot/text",
          st.text.idCol))(
        TextIndexStore.cloneAt(s, st.text, at.text,
          s"$dstRoot/text")),
      st.stats.map(x => tier("stats",
          StatsStore.Store(s"$dstRoot/stats"))(
        StatsStore.cloneAt(s, x, at.stats.get, s"$dstRoot/stats"))),
      st.sourceCol)
  }

  /** Execute the [[Advisor]]'s advice — the operational loop CLOSED:
    * read the signals, compact exactly the stores whose signals are
    * overdue, touch nothing else. [[compact]] above is the blanket
    * maintenance window (everything rewrites, advised or not);
    * `maintain` is what a scheduler runs after every transaction —
    * at 100 TB the difference is whether a 2-byte tombstone file
    * triggers a corpus-wide re-resolve or nothing at all.
    *
    *  - `compact` advice executes per store (curation / ann / text /
    *    stats) through the store's own compact — each under its own
    *    [[UpdateMarker]] discipline, so a crash mid-maintain replays
    *    like any other maintenance crash and non-advised stores are
    *    provably untouched (spec-pinned by manifest equality).
    *  - `rebuild` advice (the ANN recall floor) executes ONLY when
    *    the caller supplies the re-train inputs — `annCorpus` (the
    *    live id + vector frame) and `annDials` — because a re-train
    *    needs the raw corpus and the training dials, which the
    *    stores deliberately do not persist. With both present, the
    *    advised re-train runs [[AnnIndexStore.build]] in place (the
    *    build resets the previous life: codes, tombstones AND the
    *    recall_log, so the post-maintenance readout starts a fresh
    *    staleness history — the loop is closed end to end, drift →
    *    advice → re-train → recovered serving, spec-pinned with a
    *    planted-drift fixture). Without them the row stays in the
    *    returned readout for the caller's scheduler, exactly as
    *    before — the advisor tells the operator, and the operator
    *    either owns the re-train or hands maintain the inputs. A
    *    rebuild supersedes any `compact` advice on the same store
    *    (the fresh build has nothing to fold).
    *  - the stats tier's compact re-derives from the LIVE corpus
    *    ([[StatsStore.compact]]'s contract), so `liveCorpus` is
    *    required exactly when that store's debt is due.
    *
    * Returns the maintained handles and the POST-maintenance advice
    * readout (every executed action's row back at `ok`; an executed
    * rebuild's recall row GONE — the fresh log; unexecuted `rebuild`
    * rows passed through). Cost: the advisor's file listings + the
    * advised compacts + (opted-in) the advised re-train — an all-ok
    * readout costs zero jobs.
    */
  def maintain(s: SparkSession, st: Stores, labelBuckets: Int = 8,
      liveCorpus: Option[DataFrame] = None,
      textCol: String = "text",
      annCorpus: Option[DataFrame] = None,
      vecCol: String = "embedding",
      annDials: Option[AnnIndexStore.Dials] = None)
      : (Stores, DataFrame) = {
    // the advice frame is ≤ 8 one-row probes — driver-sized by design
    val advice = Advisor.advise(s, st)
      .select("store", "action").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val due = advice.collect { case (store, "compact") => store }.toSet
    val rebuildAnn = advice.contains(("ann", "rebuild")) &&
      annDials.isDefined
    require(!rebuildAnn || annCorpus.isDefined,
      "the ANN re-train is opted in (dials passed) and due: it " +
        "trains from the LIVE corpus vectors — pass annCorpus")
    require(!due("stats") || liveCorpus.isDefined,
      "the stats tier's sketch debt is due: its compact re-derives " +
        "from the LIVE corpus — pass it")
    val idc = st.idCol
    // the advised per-tier actions are independent (the [[compact]] /
    // [[build]] tier ops over disjoint directories) — overlapped
    // ([[TierPar]]); un-advised tiers pass through untouched
    val (cur2, ann2, text2, _) = TierPar.par4(
      if (due("curation")) CurationStore.compact(s, st.curation,
        labelBuckets) else st.curation,
      if (rebuildAnn) {
        val d = annDials.get
        AnnIndexStore.build(
          annCorpus.get.select(col(idc), col(vecCol)), idc, vecCol,
          st.ann.dir, d.centroidPred, d.seedPred, d.m, d.subDim,
          d.iters)
      } else if (due("ann")) AnnIndexStore.compact(s, st.ann)
      else st.ann,
      if (due("text")) TextIndexStore.compact(s, st.text) else st.text,
      if (due("stats"))
        st.stats.foreach(x => StatsStore.compact(x,
          liveCorpus.get.select(col(textCol), col(st.sourceCol)),
          textCol, st.sourceCol))
      else ())
    val out = Stores(cur2, ann2, text2, st.stats, st.sourceCol)
    (out, Advisor.advise(s, out))
  }

  /** Per-store LIVE membership counts — (curation, ann, text). The
    * operational split-brain probe: after every completed
    * transaction `ann == text` EXACTLY (both stores hold one row per
    * ingested id — codes and doclens), and the curation count equals
    * the number of SIGNABLE live docs: its membership stage is the
    * minhash signatures, and a doc shorter than the shingle width
    * (< 3 tokens) never signs ([[Dedup.minhashSignatures]] emits no
    * row — such a doc can never LSH-match anything, so the dedup
    * tier correctly has no record of it). On a corpus where every
    * doc clears the shingle width all three agree; a curation count
    * BELOW the others by exactly the short-doc population is
    * healthy, while `ann != text`, or a curation drift that moves
    * batch-over-batch without short docs arriving, is the alarm
    * that a transaction was left mid-replay (CorpusStoreSpec pins
    * both the three-way equality on a signable corpus and the
    * short-doc offset). THREE METADATA READS, not scans: each store
    * maintains an exact one-row live counter through its own commit
    * (the ann/text stats flip IS their commit; curation folds its
    * counter under the live marker and recomputes at crash
    * settlement), so the probe costs nothing at any corpus scale —
    * run it after every batch.
    */
  def liveCounts(s: SparkSession, st: Stores): (Long, Long, Long) =
    (CurationStore.liveCount(s, st.curation),
      AnnIndexStore.liveCount(s, st.ann),
      TextIndexStore.liveCount(s, st.text))

  /** [[liveCounts]] plus the monitoring tier as a FOURTH probe: the
    * stats store's summed exact per-source `docs` counters (a
    * broadcast-sized one-row-per-source read). On a stats-bearing
    * transaction this equals the text/ann count after every
    * completed batch — the stats tier counts every doc, signable or
    * not, and [[StatsStore.delete]] decrements it exactly — so a
    * fourth number drifting from the second/third is the
    * counters-vs-serving split-brain this tier's membership in the
    * transaction exists to rule out. None when no stats tier is
    * mounted.
    */
  def liveCountsAll(s: SparkSession, st: Stores)
      : (Long, Long, Long, Option[Long]) = {
    val (c, a, t) = liveCounts(s, st)
    (c, a, t, st.stats.map(_.stats(s)
      .agg(coalesce(sum("docs"), lit(0L))).head().getLong(0)))
  }

  /** Deterministic local root for a corpus-store triple over
    * `dataDir` (the shared [[StoreDirs]] scheme, separate root). */
  def storeDirFor(dataDir: String, suffix: String = ""): String =
    StoreDirs.dirFor("target/corpus-store/", dataDir, suffix)
}
