package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-source corpus statistics as a MERGEABLE-SKETCH store — the
  * [[CurationStore]] maintenance discipline applied to monitoring:
  * the statistics a 100 TB ingest tracks per source (doc counts,
  * token volume, vocabulary cardinality, length distribution) are
  * kept as one tiny parquet row per source whose non-additive
  * members are datasketches (HLL for distinct tokens, KLL for the
  * length distribution), so a daily batch updates corpus-wide stats
  * by aggregating the BATCH alone and merging sketches — never by
  * re-scanning history (the same fetch-what's-new discipline as the
  * reference's incremental refresh, `/root/reference/src/util.rs:62-66`).
  *
  * Why sketches and not exact state: exact distinct-token counts are
  * not additive (union ≠ sum), so maintaining them incrementally
  * would mean keeping the full per-source vocabulary — corpus-scale
  * state for a monitoring row. The sketch versions ARE additive
  * under their union operators, with known error:
  *
  *  - HLL (lgK = [[StatsStore.LgK]]): union is a register-wise max,
  *    associative and order-independent, so
  *    `union(sketch(A), sketch(B))` has IDENTICAL registers — and
  *    therefore an identical estimate — to `sketch(A ∪ B)` at the
  *    same lgK. The update law is exact on estimates, not merely
  *    approximate (StatsStoreSpec pins equality); relative error vs
  *    the TRUE cardinality is ~1.04/√2^lgK ≈ 1.6%.
  *  - KLL (k = [[StatsStore.KllK]]): merge obeys the same error
  *    bound as direct aggregation (~1.65% normalized rank error at
  *    k=200) but compaction is randomized, so merged and
  *    direct-built sketches are equivalent in GUARANTEE, not in
  *    value — the spec bounds both against exact ranks rather than
  *    against each other.
  *
  * All sketch work is Spark-native (`hll_sketch_agg`/`hll_union`,
  * `kll_sketch_agg_bigint`/`kll_sketch_merge_bigint` — codegen'd
  * datasketches aggregates), the stats table is one row per source
  * (broadcast-sized by construction), and the only corpus-sized pass
  * is the token explode over the frame being aggregated — the whole
  * corpus once at [[build]], the batch alone at [[update]].
  */
object StatsStore {

  /** HLL precision, pinned across build and update: `hll_union`
    * requires both sides at one lgK for the register-max identity
    * the update law stands on.
    */
  val LgK = 12

  /** KLL accuracy parameter (~1.65% normalized rank error). */
  val KllK = 200

  /** Theta sketch log₂ nominal entries (k = 4096). Theta is the
    * sketch that supports INTERSECTION — the cross-source overlap
    * monitor q128 reads off the store — where HLL only unions.
    * While a source's distinct fingerprints stay below ~k the sketch
    * runs in EXACT mode (θ = 1, every hash retained): estimates,
    * unions and intersections are exact integers, which is what lets
    * q128 carry a DuckDB oracle at the test SFs (≤ ~250 distinct
    * docs per source at sf0.1). Past k the guarantees degrade
    * gracefully to unbiased estimates (~1/√(k−1) ≈ 1.6% RSE) — at
    * that scale the oracle becomes a tolerance harness, the store
    * mechanics are unchanged.
    */
  val ThetaLgNom = 12

  /** The one versioned stage — pure-replace, and the commit stage. */
  private val Stages = Seq("stats")

  /** The [[UpdateMarker]] stage map: `stats` resolved to its current
    * version — the store has no append stages to heal. */
  private def stageMap(fs: org.apache.hadoop.fs.FileSystem,
      store: Store): Map[String, String] =
    Map("stats" -> StoreVersions.resolve(fs, store.dir, "stats"))

  final case class Store(dir: String) {

    private def fsOf(s: SparkSession) =
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sessionState.newHadoopConf())

    /** Raw stats stage: (source, docs, token_occurrences, tok_hll,
      * len_kll) — exact longs + sketch binaries, one row per source.
      * Resolved through the store manifest ([[StoreVersions]] — the
      * serving stores' reader-isolation layer, adopted here too):
      * a reader planned before a concurrent update/compact collects
      * from its pinned version's files.
      */
    def stats(s: SparkSession): DataFrame = s.read.parquet(
      StoreVersions.resolve(fsOf(s), dir, "stats"))

    /** TIME-TRAVEL read: the monitoring row set as of flip `seq` of
      * the snapshot log — drift HISTORY, not just drift (pair with
      * [[StatsStore.driftReport]] to diff any two epochs). Loud when
      * the log has no such entry; fails at collect past retention. */
    def statsAt(s: SparkSession, seq: Int): DataFrame = {
      val st = StoreVersions.readAt(fsOf(s), dir, seq)
      s.read.parquet(s"$dir/stats/${st.versions("stats")}")
    }

    /** Human-facing readout: sketches collapsed to estimates. */
    def report(s: SparkSession): DataFrame =
      stats(s).select(col("source"), col("docs"),
        col("token_occurrences"),
        hll_sketch_estimate(col("tok_hll")).as("distinct_tokens_est"),
        theta_sketch_estimate(col("fp_theta")).cast("long")
          .as("distinct_fp_est"),
        kll_sketch_get_quantile_bigint(col("len_kll"), lit(0.5))
          .as("p50_len"),
        kll_sketch_get_quantile_bigint(col("len_kll"), lit(0.95))
          .as("p95_len"))

    /** Cross-source contamination monitor, computed from STORED
      * sketches alone: every source pair (src_a < src_b) with the
      * theta-intersection estimate of shared document fingerprints —
      * the incremental answer to the question q114/q124 re-scan the
      * corpus for. The stats table is one row per source, so this is
      * a sources² cross join over a broadcast-sized frame; no
      * corpus-sized work at any scale.
      */
    def overlapMatrix(s: SparkSession): DataFrame = {
      val a = stats(s).select(col("source").as("src_a"),
        col("fp_theta").as("_ta"))
      val b = stats(s).select(col("source").as("src_b"),
        col("fp_theta").as("_tb"))
      a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          theta_sketch_estimate(
            theta_intersection(col("_ta"), col("_tb")))
            .cast("long").as("overlap_est"))
    }
  }

  /** Snapshot-to-snapshot drift report, computed from two stored
    * stats stages alone — the question a daily 100 TB ingest asks
    * after every [[update]]: what did the batch change, per source?
    * Exact counters diff exactly; fingerprint NOVELTY comes from the
    * theta set difference `a-not-b(new, old)` — distinct fingerprints
    * present after the update that the old snapshot had never seen —
    * which is an exact integer while both sketches are in exact mode
    * (the [[ThetaLgNom]] dial; q129 carries a DuckDB oracle on
    * exactly that footing, the q128 precedent) and an ~1.6%-RSE
    * unbiased estimate past it. Sources absent from the old snapshot
    * are brand-new: counters 0, every fingerprint novel. Sources
    * absent from the NEW snapshot — gone dark — surface as
    * docs_new=0 rows (full-outer join), not silent omissions. Both inputs
    * are one-row-per-source by construction, so this is a
    * broadcast-joined frame with no corpus-sized work at any scale;
    * length-distribution drift rides the same stores via
    * [[Store.report]]'s KLL quantiles (randomized, so spec-bounded
    * rather than oracled — StatsStoreSpec plants a shift and sees
    * p95 move).
    */
  def driftReport(s: SparkSession, oldStore: Store,
      newStore: Store): DataFrame = {
    val o = oldStore.stats(s).select(col("source").as("_osrc"),
      col("docs").as("docs_old"),
      col("token_occurrences").as("tokens_old"),
      col("fp_theta").as("_to"))
    val n = newStore.stats(s).select(col("source"),
      col("docs").as("docs_new"),
      col("token_occurrences").as("tokens_new"),
      col("fp_theta").as("_tn"))
    // null-safe join key, same reason as update()'s merge: a null
    // source is a legal (if unwelcome) group, and plain equality
    // would report it as brand-new every day. FULL-outer SEMANTICS,
    // zero-shuffle SHAPE: a source present only in the OLD snapshot
    // — one that went dark, the signal a drift monitor most needs —
    // surfaces as a docs_new=0 row (novelty 0) instead of silently
    // dropping out. Spark cannot broadcast a full-outer hash join,
    // so the report is written as broadcast-left-join ∪
    // broadcast-anti-join over the two one-row-per-source frames —
    // same rows, still no exchange anywhere (PlanSpec pins it).
    // Under append-only update() new ⊇ old so the vanished branch is
    // latent, but the report is also the tool for comparing two
    // UNRELATED stores
    val matched = n.join(broadcast(o), col("source") <=> col("_osrc"),
        "left")
      .select(col("source"),
        coalesce(col("docs_old"), lit(0L)).as("docs_old"),
        col("docs_new"),
        coalesce(col("tokens_old"), lit(0L)).as("tokens_old"),
        col("tokens_new"),
        when(col("_to").isNull, theta_sketch_estimate(col("_tn")))
          .otherwise(theta_sketch_estimate(
            theta_difference(col("_tn"), col("_to"))))
          .cast("long").as("novel_fp"),
        theta_sketch_estimate(col("_tn")).cast("long")
          .as("distinct_fp"))
    val vanished = o.join(
        broadcast(n.select(col("source").as("_nsrc"))),
        col("_osrc") <=> col("_nsrc"), "left_anti")
      .select(col("_osrc").as("source"), col("docs_old"),
        lit(0L).as("docs_new"), col("tokens_old"),
        lit(0L).as("tokens_new"), lit(0L).as("novel_fp"),
        lit(0L).as("distinct_fp"))
    matched.unionByName(vanished)
      .withColumn("novelty",
        round(when(col("distinct_fp") === 0L, lit(0.0))
          .otherwise(col("novel_fp").cast("double") /
            col("distinct_fp")), 4))
  }

  /** One stats row per source over `docs`: exact counters plus the
    * three sketches, computed in ONE corpus scan and ONE exchange.
    * Doc-level members (counters, fingerprint theta, length KLL) and
    * the token-level HLL need different granularities, but splitting
    * them into two aggregations would scan the corpus twice — the
    * dominant cost of a build at the scale the store targets. Instead
    * `posexplode_outer` flattens each doc to its token rows while the
    * pos column marks exactly one DOC row per document (pos 0, or
    * null for token-less docs — `_outer` keeps them), so one grouped
    * aggregate reads doc-level members off the doc rows (null
    * elsewhere; the sketch and sum aggregates skip nulls) and the HLL
    * off every token row. Token-less sources get counter 0 (never
    * null) and empty sketches — the same values [[update]]'s additive
    * merge produces, which is what keeps the update law exact.
    */
  private def aggregate(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val base = docs.select(col(sourceCol).as("source"),
      length(col(textCol)).cast("long").as("_len"),
      TextOps.fingerprint(col(textCol)).as("_fp"),
      filter(split(col(textCol), "\\s+"),
        t => length(t) > 0).as("_toks"))
    val flat = base.select(col("source"), col("_len"), col("_fp"),
      size(col("_toks")).cast("long").as("_ntok"),
      posexplode_outer(col("_toks")))
    val docRow = col("pos").isNull || col("pos") === 0
    flat.groupBy("source").agg(
      count(when(docRow, lit(1))).as("docs"),
      coalesce(sum(when(docRow, col("_ntok"))), lit(0L))
        .as("token_occurrences"),
      hll_sketch_agg(col("col"), LgK).as("tok_hll"),
      theta_sketch_agg(when(docRow, col("_fp")), ThetaLgNom)
        .as("fp_theta"),
      kll_sketch_agg_bigint(when(docRow, col("_len")), KllK)
        .as("len_kll"))
  }

  /** Aggregate the whole corpus once, overwriting `storeDir`.
    * `stale` starts false everywhere: every sketch describes exactly
    * the corpus it was built from (see [[delete]] for when it
    * flips). */
  def build(docs: DataFrame, textCol: String, sourceCol: String,
      storeDir: String): Store = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    UpdateMarker.enterBuild(fs, storeDir, Stages)
    val sV = StoreVersions.next(fs, storeDir, "stats")
    aggregate(docs, textCol, sourceCol)
      .withColumn("stale", lit(false))
      .write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, storeDir, Map("stats" -> sV))
    StoreVersions.gc(spark, fs, storeDir, Seq("stats"))
    Store(storeDir)
  }

  /** Fold a new batch into the store: aggregate the BATCH alone,
    * full-outer-merge per source (exact fields add, sketches union,
    * either side may be absent — a quiet day or a brand-new source),
    * written as the stage's next version and committed by the
    * manifest flip (the [[UpdateMarker]] writer lifecycle every store
    * shares). Unlike CurationStore there is no id-disjointness
    * contract: stats rows are additive over MULTISETS, so re-sending
    * a doc double-counts it — the caller's dedup gate (q110's Bloom
    * filter is the scale tool) decides what counts as new.
    *
    * Crash/re-run discipline: an update that dies before its flip
    * leaves only an orphan version dir, swept at the next writer's
    * entry, and the re-run is exactly-once. Passing a `batchId`
    * (non-empty — the empty string
    * is the marker's "no key" encoding) additionally closes the
    * committed-but-unacknowledged window via the [[UpdateMarker]]
    * protocol: a re-run of an already-committed batch is detected —
    * off the in-flight marker if the crash landed before its delete,
    * off the durable `_applied` record for any later crash (e.g.
    * between a `foreachBatch` return and the streaming checkpoint's
    * advance — q131's replay window, fabricated and proven closed in
    * StreamStatsSpec) — and returns without touching the store.
    * Without a batchId that window remains the caller's re-send risk
    * (same as any at-least-once producer without an idempotence key).
    *
    * SINGLE WRITER per store directory ([[UpdateMarker]] contract):
    * a second concurrent update fails loudly at its marker write.
    */
  def update(store: Store, batch: DataFrame, textCol: String,
      sourceCol: String, batchId: Option[String] = None): Store = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(store.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (UpdateMarker.enter(spark, fs, store.dir, Stages,
        stageMap(fs, store), batchId))
      return store // this very batch already applied — no-op
    // null-safe join key: a null source is a legal (if unwelcome)
    // group, and plain equality would never match it to its stored
    // row — every update would append another forked null row
    val merged = store.stats(spark).alias("o")
      .join(aggregate(batch, textCol, sourceCol).alias("n"),
        col("o.source") <=> col("n.source"), "full_outer")
      .select(coalesce(col("o.source"), col("n.source")).as("source"),
        (coalesce(col("o.docs"), lit(0L)) +
          coalesce(col("n.docs"), lit(0L))).as("docs"),
        (coalesce(col("o.token_occurrences"), lit(0L)) +
          coalesce(col("n.token_occurrences"), lit(0L)))
          .as("token_occurrences"),
        when(col("o.tok_hll").isNull, col("n.tok_hll"))
          .when(col("n.tok_hll").isNull, col("o.tok_hll"))
          .otherwise(hll_union(col("o.tok_hll"), col("n.tok_hll")))
          .as("tok_hll"),
        when(col("o.fp_theta").isNull, col("n.fp_theta"))
          .when(col("n.fp_theta").isNull, col("o.fp_theta"))
          .otherwise(theta_union(col("o.fp_theta"), col("n.fp_theta"),
            ThetaLgNom))
          .as("fp_theta"),
        when(col("o.len_kll").isNull, col("n.len_kll"))
          .when(col("n.len_kll").isNull, col("o.len_kll"))
          .otherwise(
            kll_sketch_merge_bigint(col("o.len_kll"), col("n.len_kll")))
          .as("len_kll"),
        // staleness carries: unioning fresh rows into a sketch that
        // still contains deleted docs does not un-stale it — only
        // [[compact]]'s re-derive does. Brand-new sources start clean
        coalesce(col("o.stale"), lit(false)).as("stale"))
    val sV = StoreVersions.next(fs, store.dir, "stats")
    merged.write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, store.dir, Map("stats" -> sV)) // THE commit
    StoreVersions.gc(spark, fs, store.dir, Seq("stats"))
    UpdateMarker.exit(fs, store.dir, batchId)
    store
  }

  /** Remove a batch of documents from the monitoring store — the
    * takedown path for the stats tier, what keeps this store honest
    * as the FOURTH member of the [[CorpusStore]] transaction. The
    * two guarantee classes diverge here, deliberately:
    *
    *  - EXACT counters (docs, token_occurrences) decrement exactly:
    *    the deleted docs' own rows are aggregated (the same
    *    [[aggregate]] kernel as build/update — one pass over the
    *    batch alone) and subtracted per source, so the counts agree
    *    with the serving stores' live membership from the next read.
    *  - SKETCHES (HLL/theta/KLL) cannot subtract — a register-max /
    *    retained-hash / compacted-quantile union has no inverse —
    *    so the touched sources' rows are MARKED `stale = true`
    *    instead: estimates still describe a superset of the live
    *    corpus (they overcount by at most the deleted docs'
    *    contribution) until [[compact]] re-derives them. Consumers
    *    that need the flag read it off [[Store.stats]];
    *    [[driftReport]]/[[Store.report]] keep working on the
    *    documented drift-until-compact footing.
    *
    * `deletedDocs` must be the REMOVED DOCS' OWN ROWS (text +
    * source), not ids — stats rows are multiset aggregates, so only
    * the docs' content says what to subtract. Same multiset caveat
    * as [[update]]: re-sending a doc double-subtracts; the
    * transaction layer's batchId is the dedup gate. A source absent
    * from the store is a contract violation (deleting what was never
    * counted) and is dropped by the stored-side join rather than
    * fabricating a negative row.
    *
    * Crash/replay discipline is [[update]]'s verbatim: the stats
    * flip is the commit, `batchId` makes every replay window a
    * detected no-op.
    */
  def delete(store: Store, deletedDocs: DataFrame, textCol: String,
      sourceCol: String, batchId: Option[String] = None): Store = {
    val spark = deletedDocs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(store.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (UpdateMarker.enter(spark, fs, store.dir, Stages,
        stageMap(fs, store), batchId))
      return store // this very batch already applied — no-op
    val gone = aggregate(deletedDocs, textCol, sourceCol)
      .select(col("source").as("_gsrc"), col("docs").as("_gdocs"),
        col("token_occurrences").as("_gtok"))
    val merged = store.stats(spark)
      .join(gone, col("source") <=> col("_gsrc"), "left_outer")
      .select(col("source"),
        (col("docs") - coalesce(col("_gdocs"), lit(0L))).as("docs"),
        (col("token_occurrences") - coalesce(col("_gtok"), lit(0L)))
          .as("token_occurrences"),
        col("tok_hll"), col("fp_theta"), col("len_kll"),
        (col("stale") || col("_gsrc").isNotNull).as("stale"))
    val sV = StoreVersions.next(fs, store.dir, "stats")
    merged.write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, store.dir, Map("stats" -> sV)) // THE commit
    StoreVersions.gc(spark, fs, store.dir, Seq("stats"))
    UpdateMarker.exit(fs, store.dir, batchId)
    store
  }

  /** Re-derive the store from the LIVE corpus — the maintenance that
    * pays the one full aggregation pass to restore every field to
    * its build-fresh guarantee: exact counters recomputed, sketches
    * rebuilt over exactly the live docs, every `stale` flag cleared.
    * The stats twin of the serving stores' compact (removals become
    * physical there, sketch debt is settled here); the
    * [[CorpusStore]] transaction calls it with the corpus it
    * maintains. Commits through the same flip as [[update]], as a
    * maintenance writer (no batchId, like every compact).
    */
  def compact(store: Store, liveDocs: DataFrame, textCol: String,
      sourceCol: String): Store = {
    val spark = liveDocs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(store.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    UpdateMarker.enter(spark, fs, store.dir, Stages, stageMap(fs, store),
      batchId = None, maintenance = true)
    val sV = StoreVersions.next(fs, store.dir, "stats")
    aggregate(liveDocs, textCol, sourceCol)
      .withColumn("stale", lit(false))
      .write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, store.dir, Map("stats" -> sV))
    StoreVersions.gc(spark, fs, store.dir, Seq("stats"))
    UpdateMarker.exit(fs, store.dir)
    store
  }

  /** ROLL BACK to snapshot `seq` of the flip log — for this tier the
    * flip-back alone IS the full undo: the one stage is pure-replace
    * (each version holds the complete per-source row set), so
    * restoring its version restores every counter and sketch to that
    * epoch exactly — no re-derive pass over the corpus. Enters as a
    * writer ([[UpdateMarker.rollback]]: single-writer collision
    * applies, `_applied` clears so an undone batch id folds again).
    */
  def rollback(s: SparkSession, store: Store, seq: Int): Store = {
    val fs = new org.apache.hadoop.fs.Path(store.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    UpdateMarker.rollback(s, fs, store.dir, Stages, stageMap(fs, store),
      seq, Map.empty)
    store
  }

  /** Clone the monitoring tier as of snapshot `seq` into `dstDir` —
    * one pure-replace stage, so the clone is a wholesale copy of
    * that epoch's version committed by one flip
    * ([[StoreVersions.cloneAt]]). New lineage: no `_applied`
    * witnesses come along.
    */
  def cloneAt(s: SparkSession, store: Store, seq: Int,
      dstDir: String): Store = {
    val fs = new org.apache.hadoop.fs.Path(store.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    StoreVersions.cloneAt(fs, store.dir, dstDir, seq, Map.empty)
    Store(dstDir)
  }

  // ---- session-lifetime store per corpus directory (the
  // CurationStore consumer pattern: q127 is the build surface and
  // refreshes the memo, q128 reads the memoized store) -------------

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Store]()

  def storeDirFor(dataDir: String): String =
    CurationStore.storeDirFor(dataDir, "-stats")

  /** The memoized stats store for the `documents` corpus at
    * `dataDir`: built on first access per JVM, shared by consumers.
    */
  def forCorpus(s: SparkSession, dataDir: String): Store =
    built.computeIfAbsent(dataDir, d =>
      build(s.read.parquet(s"$d/documents.parquet"), "text", "source",
        storeDirFor(d)))

  private val slices =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Store]()

  /** A memoized store over a SLICE of the corpus — q129's "old
    * snapshot" side (the store as it stood before a batch landed),
    * without keeping a second mutable store directory in play.
    * `tag` is a human-readable label; the memo key and the store
    * directory both incorporate the PREDICATE's canonical SQL, so
    * two different slices can never alias one cached store (or one
    * on-disk directory) just because they reused a tag.
    */
  def forCorpusSlice(s: SparkSession, dataDir: String, tag: String,
      where: org.apache.spark.sql.Column): Store = {
    val pred = where.toString
    val predHash = java.security.MessageDigest.getInstance("MD5")
      .digest(pred.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    slices.computeIfAbsent((dataDir, s"$tag-$predHash"), { case (d, t) =>
      build(s.read.parquet(s"$d/documents.parquet").filter(where),
        "text", "source", CurationStore.storeDirFor(d, s"-stats-$t"))
    })
  }

  /** Fresh build (mode-overwrite) that also refreshes the memo —
    * q127's entry point, so the build surface stays an honest bench.
    */
  def rebuildForCorpus(s: SparkSession, dataDir: String): Store = {
    val st = build(s.read.parquet(s"$dataDir/documents.parquet"),
      "text", "source", storeDirFor(dataDir))
    built.put(dataDir, st)
    st
  }
}
