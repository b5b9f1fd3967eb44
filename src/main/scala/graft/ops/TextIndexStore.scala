package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The BM25 side of retrieval as a PERSISTED index — the sparse twin
  * of [[AnnIndexStore]], closing the other half of the hybrid
  * serving story: q75/q134/q146 recompute term frequencies, document
  * lengths and corpus stats from the raw text inside every plan,
  * which keeps the whole stack inside one oracle hash but re-pays
  * the corpus tokenization per query batch. A deployed service
  * tokenizes ONCE into three stages under one directory:
  *
  *  - `postings` (token, idCol, tf, positions) — the
  *    full-vocabulary POSITIONAL inverted rows, written sorted by
  *    token so a term query's `token IN (...)` pushes into the
  *    parquet scan and row-group stats prune the untouched
  *    vocabulary; the sorted 0-based occurrence positions power
  *    [[phraseMatch]] and cost one int per token occurrence that
  *    bm25/matchAll scans never read (columnar pruning). At cluster
  *    scale this stage is bucketed BY TOKEN through the catalog —
  *    [[build]]'s `bucketPostings` dial, the [[CurationStore]]
  *    labels discipline made real for the text tier: a term probe
  *    prunes to its BUCKETS (SelectedBucketsCount in the scan) and
  *    the scoring kernel's token-keyed aggregation plans with NO
  *    exchange on the postings side, because the bucketed scan
  *    itself reports the token hash distribution. Maintenance and
  *    the read-optimized layout compose: [[update]] appends batches
  *    to the plain `postings_delta` stage beside the immutable
  *    base, readers serve base ∪ delta (exact — batch ids are
  *    disjoint, so the union never double-counts), [[compact]]
  *    folds the delta back into a fresh bucketed base. The
  *    battery's local stores keep plain sorted parquet and the
  *    pushed filter; the spec pins both layouts.
  *  - `doclens` (idCol, dl) — append-only.
  *  - `stats` (n, sumdl) — ONE row of exact integer counters: an
  *    update folds the batch in additively (disjoint-id contract),
  *    and because both counters are exact BIGINTs the updated stats
  *    equal a full rebuild's EXACTLY — idf and avgdl follow, so
  *    incremental maintenance is bit-identical to rebuilding (q159
  *    pins it through the full oracle).
  *
  * READER ISOLATION ([[StoreVersions]] — the Iceberg-lite layer):
  * all five stages (the three above plus `postings_delta` and
  * `tombstones`) live in immutable VERSION directories named by the
  * store's `_manifest`. Every serving entry point pins ONE manifest
  * read ([[Index.pin]]) so a composite plan (postings + doclens +
  * stats) can never mix versions, and a reader planned before a
  * concurrent [[compact]]/[[update]]/[[build]] collects from its
  * pinned snapshot's files (retention keeps them for
  * [[StoreVersions.RetainVersions]] further maintenance cycles).
  * Commits are flip-last: [[update]]/[[delete]] append postings/
  * doclens/tombstone rows INSIDE current versions (append-only —
  * invisible to already-planned readers) and commit by flipping the
  * one-row stats stage to its next version; [[compact]] commits its
  * folded postings + refolded doclens + CLEARED delta + CLEARED
  * tombstones in ONE atomic flip — which structurally removes the
  * base∪delta double-count window the in-place protocol had to
  * close with a per-file fold listing, and the
  * stale-tombstones-over-new-base window with it.
  *
  * [[bm25]] scores any term set from the stored stages through the
  * SAME kernel as the from-corpus path ([[TextOps.bm25ScoreFrames]]
  * — one definition, so the two cannot drift). Crash/replay
  * discipline is the [[UpdateMarker]] writer lifecycle with the flip as
  * the commit (stats is the commit stage — a flipped stats stage
  * resolves to a different directory, so the listing-diff commitment
  * test works verbatim; postings/doclens are the append-only sides
  * healed on a pre-commit crash; `batchId` makes
  * committed-but-unacknowledged replays detected no-ops; compact's
  * `.swap` maintenance marker is settled without data-file healing,
  * and its uncommitted version dirs are swept at the next entry).
  * SINGLE WRITER per store directory — the standing caveat applies.
  */
object TextIndexStore {

  private val Stages = Seq("postings", "postings_delta", "doclens",
    "stats", "tombstones", "postings_meta")

  /** The APPEND stages whose file manifests every flip records into
    * its snapshot entry — [[Index.pinAt]]'s time-travel source
    * (`stats` is the store's only pure-replace stage; everything
    * else takes in-place appends between maintenance runs). */
  private val AppendSnap = Map("postings" -> false,
    "postings_delta" -> false, "doclens" -> false,
    "tombstones" -> false, "postings_meta" -> false)

  /** One resolved snapshot of the store — all six stages from a
    * SINGLE manifest read (see the reader-isolation story in the
    * object scaladoc). Holding a Snapshot pins its files for the
    * retention window.
    */
  final case class Snapshot(dir: String, idCol: String,
      postingsBuckets: Int, postingsPath: String, deltaPath: String,
      doclensPath: String, statsPath: String, tombsPath: String,
      metaPath: String,
      at: Map[String, Seq[(String, Long)]] = Map.empty) {

    /** An APPEND stage's frame: the live directory normally; the
      * pinned file manifest on a TIME-TRAVEL pin ([[Index.pinAt]] —
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

    def postingsTable: Option[String] =
      if (postingsBuckets > 0) Some(TextIndexStore.tableNameFor(dir))
      else None

    private[ops] def deltaIfAny(s: SparkSession): Option[DataFrame] =
      at.get("postings_delta") match {
        case Some(files) =>
          if (files.isEmpty) None
          else Some(s.read.parquet(files.map(_._1): _*))
        case None =>
          val p = new Path(deltaPath)
          val fs = p.getFileSystem(s.sessionState.newHadoopConf())
          if (fs.exists(p) &&
              UpdateMarker.listFiles(fs, deltaPath).nonEmpty)
            Some(s.read.parquet(deltaPath))
          else None
      }

    /** The postings BASE — the bucketed table when registered AND
      * still pointing at this snapshot's version (a compact/rebuild
      * re-registers the name at its new version; a reader pinned to
      * the prior one must not follow it into a mixed-version plan),
      * the pinned files otherwise. Kept separate from [[postings]]
      * so a no-delta read stays a single table scan (a union node
      * would forget the bucketing and re-shuffle every token
      * aggregation).
      */
    private[ops] def postingsBase(s: SparkSession): DataFrame =
      postingsTable.filter(n => at.isEmpty &&
          s.catalog.tableExists(n) &&
          TextIndexStore.tableLocationMatches(s, n, postingsPath))
        .map(s.table)
        .getOrElse(stageRead(s, "postings", postingsPath))

    /** Drop tombstoned documents' rows from a per-document stage —
      * how [[TextIndexStore.delete]] serves EXACTLY between
      * compactions: the deleted docs' postings/doclens rows are
      * masked at read time (the shared [[Tombstones.mask]] —
      * broadcast anti-join while the set is small, the
      * degrade-don't-OOM rule past [[Tombstones.BroadcastMaxBytes]]) and
      * the stats counters were decremented exactly at delete time,
      * so every score equals a rebuild without those docs;
      * [[TextIndexStore.compact]] makes the removal physical and
      * clears the tombstones.
      */
    private def masked(s: SparkSession, df: DataFrame): DataFrame =
      Tombstones.mask(s, df, idCol, tombSrc, Seq(idCol))

    /** Every LIVE postings row: (base ∪ outstanding delta) minus
      * tombstoned docs. Postings are per-document derivations with
      * DISJOINT ids across batches, so the union is exact (no
      * override semantics needed — unlike [[CurationStore]] labels,
      * nothing in the delta supersedes a base row). */
    def postings(s: SparkSession): DataFrame =
      masked(s, deltaIfAny(s) match {
        case None => postingsBase(s)
        case Some(d) => postingsBase(s).unionByName(d)
      })
    def doclens(s: SparkSession): DataFrame =
      masked(s, stageRead(s, "doclens", doclensPath))
    def stats(s: SparkSession): DataFrame =
      s.read.parquet(statsPath)

    private[ops] def tombstonesIfAny(s: SparkSession): Option[DataFrame] =
      Tombstones.ifAny(s, tombSrc)
  }

  /** Handle to a built store; stage data resolves through the
    * manifest per call. `postingsBuckets` > 0 marks the postings
    * base as BUCKETED BY TOKEN through the catalog ([[build]]'s
    * dial).
    */
  final case class Index(dir: String, idCol: String,
      postingsBuckets: Int = 0) {

    /** Resolve all stages from ONE manifest read — the reader's
      * snapshot pin. */
    def pin(s: SparkSession): Snapshot =
      pinFrom(StoreVersions.read(
        new Path(dir).getFileSystem(s.sessionState.newHadoopConf()),
        dir))

    /** TIME-TRAVEL pin: the index as of flip `seq` of its snapshot
      * log ([[StoreVersions.readAt]]) — every read off the returned
      * Snapshot serves the historical store verbatim (append stages
      * through the file manifest the flip recorded, so batches
      * folded since are invisible) while the named files' retention
      * holds, and fails at collect once it has lapsed (the
      * expired-Iceberg-snapshot rule). Loud when the log has no such
      * entry. */
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
          s"text index at $dir has no committed '$stage' stage — " +
            "build() it first (pre-versioning layouts are reset by " +
            "build)"))
      Snapshot(dir, idCol, postingsBuckets, p("postings"),
        p("postings_delta"), p("doclens"), p("stats"), p("tombstones"),
        p("postings_meta"))
    }

    def postingsTable: Option[String] =
      if (postingsBuckets > 0) Some(TextIndexStore.tableNameFor(dir))
      else None

    /** The current delta stage directory (resolved). */
    def deltaDir(s: SparkSession): String = pin(s).deltaPath

    /** The current tombstones stage directory (resolved). */
    def tombDir(s: SparkSession): String = pin(s).tombsPath

    private[ops] def deltaIfAny(s: SparkSession): Option[DataFrame] =
      pin(s).deltaIfAny(s)
    private[ops] def tombstonesIfAny(s: SparkSession): Option[DataFrame] =
      pin(s).tombstonesIfAny(s)

    def postings(s: SparkSession): DataFrame = pin(s).postings(s)
    def doclens(s: SparkSession): DataFrame = pin(s).doclens(s)
    def stats(s: SparkSession): DataFrame = pin(s).stats(s)
  }

  /** Deterministic catalog name for `storeDir`'s bucketed postings
    * table (bucketing survives only through the catalog) — the
    * [[CurationStore]] naming scheme, separate prefix. */
  private[ops] def tableNameFor(storeDir: String): String =
    "graft_postings_" + java.security.MessageDigest.getInstance("MD5")
      .digest(storeDir.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** Does the registered table still point at `path`? The guard that
    * keeps a pinned reader off a table whose location a concurrent
    * compact/rebuild has already moved to a newer version. */
  private[ops] def tableLocationMatches(s: SparkSession, name: String,
      path: String): Boolean =
    try {
      val meta = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      new Path(meta.location).toUri.getPath ==
        new Path(StoreDirs.catalogSafe(path)).toUri.getPath
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The [[UpdateMarker]] stage map all writers share, RESOLVED to
    * the current versions — the append target for postings is the
    * DELTA stage on a bucketed store (the base is immutable between
    * compactions). */
  private def stageMap(s: SparkSession, idx: Index): Map[String, String] = {
    val snap = idx.pin(s)
    Map(
      "postings" -> (if (idx.postingsBuckets > 0) snap.deltaPath
                     else snap.postingsPath),
      "doclens" -> snap.doclensPath,
      "tombs" -> snap.tombsPath,
      "meta" -> snap.metaPath,
      "stats" -> snap.statsPath)
  }

  /** Hot-token write salt — the text tier's document-frequency
    * policy (the [[Dedup]] `maxDocFreq` concern, answered at the
    * LAYOUT level so scores never change): `repartition(token)`
    * alone puts each token's ENTIRE postings list in one task and
    * one file, and a stopword's postings are corpus-scale — the hot
    * token is both the write straggler and a monster row-group any
    * query containing a common term must scan in one split. Salting
    * the shuffle key by `hash(id) % salt` bounds the hot token's
    * task/file fan-in to `salt` ways while keeping files
    * token-sorted (row-group probe pruning intact — a probed term
    * now matches row groups in at most `salt` files instead of 1).
    * Pure layout: rows and every score are byte-identical at any
    * salt (spec-pinned on a planted-stopword corpus).
    */
  val PostingsSalt = "spark.graft.text.postingsSalt"
  private val postingsSaltDefault = 4

  private def saltOf(s: SparkSession): Int =
    s.conf.get(PostingsSalt, postingsSaltDefault.toString).toInt

  /** One definition of the postings write layout (build, update and
    * compact must shuffle identically or the incremental-equivalence
    * and pure-rewrite arguments break). */
  private def writePostings(rows: DataFrame, idCol: String,
      dir: String, mode: String): Unit = {
    val s = rows.sparkSession
    rows
      .repartition(col("token"), pmod(hash(col(idCol)), lit(saltOf(s))))
      .sortWithinPartitions("token")
      .write.mode(mode).parquet(dir)
    s.catalog.refreshByPath(dir)
  }

  /** Per-document term frequencies AND positions for one batch — the
    * ONLY pass that touches text: the doc-length is Σ tf over the
    * doc's postings (the tokenizer keeps empties, so every doc has
    * ≥ 1 token row), and the corpus counters aggregate off the
    * narrow doclens stage. Shared by [[build]] and [[update]] so the
    * two tokenize identically. A NULL text indexes as the empty
    * string (one empty-token row), so such docs still get a doclens
    * row and the stats counters keep counting them — matching the
    * from-corpus kernel, which counts every document.
    *
    * The postings are POSITIONAL: each row carries the token's
    * 0-based occurrence positions, SORTED so the row is a
    * deterministic function of the document (collect_list order is
    * shuffle-scheduled — without the sort, update == rebuild would
    * hold semantically but not bit-for-bit). This is the standard
    * inverted-index trade: one int per token OCCURRENCE (≈ doubles
    * postings bytes) buys phrase/proximity queries ([[phraseMatch]]);
    * bm25/matchAll readers never deserialize the column (columnar
    * projection prunes it), so scoring scans stay narrow.
    */
  private def tfRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(TextOps.tokens(
        coalesce(col(textCol), lit("")))).as(Seq("pos", "token")))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .select(col("token"), col(idCol), col("tf"), col("positions"))

  /** (idCol, dl) derived from a postings frame — a columnar read,
    * never a re-tokenize. */
  private def dlOf(postings: DataFrame, idCol: String): DataFrame =
    postings.groupBy(idCol).agg(sum("tf").as("dl"))

  /** Per-(token, FILE) postings metadata — the block-max statistics
    * [[bm25TopK]]'s pruning reads instead of the postings themselves:
    * `df_part` (exact doc count in the file — Σ over files = the
    * term's df), `max_tf` and `min_dl` (together they bound the
    * file's best possible BM25 contribution for the term at ANY
    * query-time (k1, b), since the saturation fraction is increasing
    * in tf and decreasing in dl). Derived by reading the just-written
    * files back with their file identity ([[input_file_name]]) and
    * joining the batch's doclens — one narrow doc-keyed join per
    * maintenance batch (batch-sized at [[update]]; the one
    * postings-cardinality pass at [[build]]/[[compact]] rides the
    * build's amortization argument). A metadata row is a pure
    * function of its file's rows, so update == rebuild composes
    * file-by-file.
    */
  private def metaOf(s: SparkSession, files: Seq[String],
      dl: DataFrame, idCol: String): DataFrame =
    if (files.isEmpty)
      s.range(0).select(lit("").as("token"), lit("").as("file"),
        lit(0L).as("df_part"), lit(0L).as("max_tf"), lit(0L).as("min_dl"))
    else
      s.read.parquet(files: _*)
        .withColumn("file", input_file_name())
        .join(dl.select(col(idCol), col("dl")), idCol)
        .groupBy("token", "file")
        .agg(count(lit(1)).as("df_part"), max("tf").as("max_tf"),
          min("dl").as("min_dl"))

  /** Run the one text pass over `docs` and write the store under
    * `dir` as a fresh SNAPSHOT, committed by one manifest flip — a
    * store already serving from `dir` keeps serving the old snapshot
    * until the flip, and pinned readers keep their files through
    * retention (bm25 serves THROUGH the rebuild). `bucketPostings`
    * > 0 writes the postings base BUCKETED BY TOKEN into that many
    * buckets, registered as an external catalog table — the
    * cluster-scale serving layout: a term probe prunes to its
    * buckets (catalog bucket pruning over the `token IN (...)`
    * predicate) and every token-keyed aggregation in the scoring
    * kernel plans with NO exchange on the postings side, because the
    * scan itself reports the token hash distribution (spec-pinned).
    * The battery's local stores keep plain sorted parquet and the
    * pushed filter.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String, bucketPostings: Int = 0): Index = {
    val s = docs.sparkSession
    val fs = new Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    UpdateMarker.enterBuild(fs, dir, Stages)
    // the ONE text pass; doclens and the counters are columnar
    // derivations of the just-written postings version (lineage cut
    // at the store boundary, the AnnIndexStore discipline)
    val rows = tfRows(docs, idCol, textCol)
    val pV = StoreVersions.next(fs, dir, "postings")
    if (bucketPostings > 0)
      writePostingsBucketedStaged(rows, idCol, bucketPostings,
        tableNameFor(dir), path = pV)
    else
      writePostings(rows, idCol, pV, mode = "overwrite")
    val dV = StoreVersions.next(fs, dir, "doclens")
    dlOf(s.read.parquet(pV), idCol)
      .write.mode("overwrite").parquet(dV)
    // the counters and the block-max metadata are independent
    // derivations of the just-written doclens/postings versions —
    // overlapped ([[TierPar]], guide §2.6); the flip is the commit
    val sV = StoreVersions.next(fs, dir, "stats")
    val mV = StoreVersions.next(fs, dir, "postings_meta")
    TierPar.par2(
      s.read.parquet(dV).agg(count(lit(1)).as("n"),
          sum("dl").as("sumdl"))
        .write.mode("overwrite").parquet(sV),
      metaOf(s, UpdateMarker.listFiles(fs, pV).toSeq,
          s.read.parquet(dV), idCol)
        .write.mode("overwrite").parquet(mV))
    val deltaV = StoreVersions.nextEmpty(fs, dir, "postings_delta")
    val tV = StoreVersions.nextEmpty(fs, dir, "tombstones")
    StoreVersions.flip(fs, dir, Map("postings" -> pV,
      "postings_delta" -> deltaV, "doclens" -> dV, "stats" -> sV,
      "tombstones" -> tV, "postings_meta" -> mV), AppendSnap)
    if (bucketPostings > 0)
      registerBucketedTable(s, tableNameFor(dir), pV, bucketPostings)
    StoreVersions.gc(s, fs, dir, Stages)
    Index(dir, idCol, bucketPostings)
  }

  /** The bucketed postings write — one definition for [[build]] and
    * [[compact]], both writing a FRESH postings version:
    * bucketBy(token) + sortBy(token) through a THROWAWAY staging
    * catalog name (dropped immediately — metadata only; the data
    * files stay at `path`), with the same hot-token salt pre-shuffle
    * as the plain layout (the hot bucket's files then come from
    * `salt` tasks instead of one straggler). The REAL table name is
    * registered at `path` only after the manifest flip commits it
    * ([[registerBucketedTable]]) so no reader can resolve the name
    * into an uncommitted version. */
  private def writePostingsBucketedStaged(rows: DataFrame,
      idCol: String, buckets: Int, table: String, path: String): Unit = {
    val s = rows.sparkSession
    val staging = s"${table}_staging"
    s.sql(s"DROP TABLE IF EXISTS $staging")
    rows
      .repartition(col("token"), pmod(hash(col(idCol)), lit(saltOf(s))))
      .write.format("parquet")
      .bucketBy(buckets, "token").sortBy("token")
      .option("path", StoreDirs.catalogSafe(path))
      .mode("overwrite").saveAsTable(staging)
    s.sql(s"DROP TABLE IF EXISTS $staging") // metadata only
  }

  /** (Re-)register the real bucketed table name at a COMMITTED
    * postings version. Readers between the drop and the create ride
    * the manifest-resolved file scan (correct rows, layout property
    * lost — the [[CurationStore.Store.labels]] discipline). */
  private def registerBucketedTable(s: SparkSession, name: String,
      path: String, buckets: Int): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val schema = s.read.parquet(path).schema.toDDL
    s.sql(s"CREATE TABLE $name ($schema) USING parquet " +
      s"CLUSTERED BY (token) SORTED BY (token) " +
      s"INTO $buckets BUCKETS " +
      s"LOCATION '${StoreDirs.catalogSafe(path)}'")
  }

  /** Fold a new doc batch in: postings/doclens append THEIR rows
    * only (per-document derivations — a full rebuild would produce
    * exactly these rows for these ids) INSIDE their current
    * versions, stats fold additively into a NEXT version and COMMIT
    * through the manifest flip. One text pass: the batch's
    * doclens/counters derive from its just-appended postings files
    * (before/after listing diff, the [[CurationStore.update]]
    * trick). Ids must be disjoint from the stored corpus. On a
    * BUCKETED store the batch lands in the plain delta stage beside
    * the immutable base — same rows, deferred layout; [[compact]]
    * folds it in.
    */
  def update(idx: Index, newDocs: DataFrame, textCol: String,
      batchId: Option[String] = None): Index = {
    val s = newDocs.sparkSession
    val fs = new Path(idx.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (UpdateMarker.enter(s, fs, idx.dir, Stages, stageMap(s, idx),
        batchId))
      return idx // this very batch already applied — no-op
    val snap = idx.pin(s)
    // re-adding a DELETED id would collide with its tombstone: the
    // mask hides rows by id, so the re-added doc's rows would vanish
    // from every read (and un-tombstoning instead would resurrect
    // the old rows still physically present). Fail loudly — compact
    // makes removals physical and clears the set, after which the
    // id is genuinely free again. The probe is one tiny job against
    // the tombstone set and only runs while deletions are
    // outstanding.
    snap.tombstonesIfAny(s).foreach { t =>
      require(newDocs.join(t.select(col(idx.idCol)).distinct(),
          Seq(idx.idCol), "left_semi").isEmpty,
        "batch re-adds tombstoned ids — run compact() first (removals " +
          "become physical and the tombstone set clears)")
    }
    val pDir = if (idx.postingsBuckets > 0) snap.deltaPath
               else snap.postingsPath
    val before = UpdateMarker.listFiles(fs, pDir)
    writePostings(tfRows(newDocs, idx.idCol, textCol), idx.idCol,
      pDir, mode = "append")
    val newFiles = (UpdateMarker.listFiles(fs, pDir) -- before).toSeq
    val batchDl =
      if (newFiles.isEmpty) // an empty batch appends no files
        s.emptyDataFrame.select(lit(0L).as(idx.idCol), lit(0L).as("dl"))
          .limit(0)
      else dlOf(s.read.parquet(newFiles: _*), idx.idCol)
    // the three derivations of `batchDl` — the doclens append, the
    // block-max metadata append and the staged counter fold — write
    // to three disjoint locations with no cross-reads, so they run
    // CONCURRENTLY ([[TierPar]], guide §2.6); the flip below is
    // still the one commit, and the marker heal covers each append
    // independently exactly as it did sequentially
    val sV = StoreVersions.next(fs, idx.dir, "stats")
    TierPar.par3(
      {
        batchDl.write.mode("append").parquet(snap.doclensPath)
        s.catalog.refreshByPath(snap.doclensPath)
      },
      // block-max metadata for exactly the appended files (a metadata
      // row is a per-file derivation, so the append composes)
      if (newFiles.nonEmpty) {
        metaOf(s, newFiles, batchDl, idx.idCol)
          .write.mode("append").parquet(snap.metaPath)
        s.catalog.refreshByPath(snap.metaPath)
      },
      {
        val batchStats = batchDl.agg(count(lit(1)).as("_bn"),
          coalesce(sum("dl"), lit(0L)).as("_bsum"))
        snap.stats(s).crossJoin(batchStats)
          .select((col("n") + col("_bn")).as("n"),
            (col("sumdl") + col("_bsum")).as("sumdl"))
          .write.mode("overwrite").parquet(sV)
      })
    StoreVersions.flip(fs, idx.dir, Map("stats" -> sV),
      AppendSnap) // THE commit
    // the stats stage flips at every update/delete — GC it here, not
    // only at compact, or tiny one-file versions accumulate per batch
    StoreVersions.gc(s, fs, idx.dir, Seq("stats"))
    UpdateMarker.exit(fs, idx.dir, batchId)
    idx
  }

  /** Remove documents from the index — the operation a real corpus
    * needs (recrawl replacement, takedowns, right-to-be-forgotten)
    * and the inverse of [[update]]'s disjoint-id append. Serving is
    * EXACT immediately: the doomed ids land in the append-only
    * `tombstones` stage (reads mask per-document rows against it —
    * [[Snapshot.postings]]/[[Snapshot.doclens]]) and the corpus
    * counters are decremented by the deleted docs' exact doclens
    * contributions through the same stats flip-commit as [[update]]
    * — so n, avgdl, every idf and every BM25 score equal a rebuild
    * WITHOUT those docs, bit-for-bit, before any rewrite happens
    * (spec-pinned; the physical removal is [[compact]]'s job, which
    * then clears the tombstones). Ids not currently indexed, or
    * already deleted, are ignored (the guard also makes a keyless
    * re-run decrement exactly once). Same crash protocol as update:
    * tombstone appends are the healed side stages, the stats flip is
    * the commit, `batchId` makes every replay window a detected
    * no-op.
    */
  def delete(idx: Index, ids: DataFrame,
      batchId: Option[String] = None): Index = {
    val s = ids.sparkSession
    val fs = new Path(idx.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (UpdateMarker.enter(s, fs, idx.dir, Stages, stageMap(s, idx),
        batchId))
      return idx // this very batch already applied — no-op
    val snap = idx.pin(s)
    // only CURRENTLY-LIVE ids count: doclens(s) is the masked view,
    // so an id already tombstoned (or never indexed) contributes
    // neither a tombstone row nor a counter decrement
    val doomed = ids.select(col(idx.idCol)).distinct()
      .join(snap.doclens(s), Seq(idx.idCol), "left_semi")
    val before = UpdateMarker.listFiles(fs, snap.tombsPath)
    doomed.write.mode("append").parquet(snap.tombsPath)
    s.catalog.refreshByPath(snap.tombsPath)
    val newFiles =
      (UpdateMarker.listFiles(fs, snap.tombsPath) -- before).toSeq
    // decrement by EXACTLY the appended set's doclens rows (read
    // back from the just-written files — the update() lineage cut),
    // against the PRE-APPEND doclens view: the fresh tombstones
    // already mask those rows, so the raw stage is joined here
    val removed =
      if (newFiles.isEmpty)
        s.range(1).select(lit(0L).as("_rn"), lit(0L).as("_rsum"))
      else
        s.read.parquet(snap.doclensPath)
          .join(s.read.parquet(newFiles: _*), Seq(idx.idCol),
            "left_semi")
          .agg(count(lit(1)).as("_rn"),
            coalesce(sum("dl"), lit(0L)).as("_rsum"))
    val sV = StoreVersions.next(fs, idx.dir, "stats")
    snap.stats(s).crossJoin(removed)
      .select((col("n") - col("_rn")).as("n"),
        (col("sumdl") - col("_rsum")).as("sumdl"))
      .write.mode("overwrite").parquet(sV)
    StoreVersions.flip(fs, idx.dir, Map("stats" -> sV),
      AppendSnap) // THE commit
    StoreVersions.gc(s, fs, idx.dir, Seq("stats"))
    UpdateMarker.exit(fs, idx.dir, batchId)
    idx
  }

  /** Fold the per-[[update]] small files back into token-sorted
    * postings (and refolded doclens) — the [[AnnIndexStore.compact]]
    * maintenance for the sparse tier: each update appends its own
    * token-sorted files, so probe row-group pruning decays and file
    * counts grow with batch count until this rewrite. Pure rewrite:
    * rows and every score are unchanged (spec-pinned). ALL FOUR
    * rewritten/cleared stages — folded postings, refolded doclens,
    * the emptied delta and the emptied tombstones — commit in ONE
    * manifest flip: no crash state or reader can observe the folded
    * base together with the old delta (the double-count the
    * in-place protocol closed with a per-file `fold` listing) or
    * rewritten stages with stale tombstones. A crash before the
    * flip leaves the old snapshot serving and orphans for the next
    * entry's sweep; after it, only the maintenance marker remains,
    * settled without data-file healing ([[UpdateMarker.enter]]'s
    * marker kinds).
    */
  def compact(s: SparkSession, idx: Index): Index = {
    val fs = new Path(idx.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    UpdateMarker.enter(s, fs, idx.dir, Stages, stageMap(s, idx),
      batchId = None, maintenance = true)
    val snap = idx.pin(s)
    // the rewrites below read the MASKED views, so tombstoned docs'
    // removal becomes physical here; the delta folds into the base
    val pV = StoreVersions.next(fs, idx.dir, "postings")
    if (idx.postingsBuckets > 0) {
      writePostingsBucketedStaged(snap.postings(s), idx.idCol,
        idx.postingsBuckets, tableNameFor(idx.dir), path = pV)
      // drop the REAL name before the flip: the old table points at
      // the outgoing version, and a post-flip reader following it
      // would mix versions; between drop and re-register, readers
      // ride the manifest-resolved file scan
      s.sql(s"DROP TABLE IF EXISTS ${tableNameFor(idx.dir)}")
    } else {
      snap.postings(s)
        .repartition(col("token"),
          pmod(hash(col(idx.idCol)), lit(saltOf(s))))
        .sortWithinPartitions("token")
        .write.mode("overwrite").parquet(pV)
    }
    // doclens is CORPUS-cardinality (one row per document) — a
    // single-file fold would serialize billions of narrow rows
    // through one task at scale; repartition by id keeps the fold
    // parallel and the file count bounded by the shuffle setting.
    // (The one-row `stats` stage is the only stage where a
    // single-file shape matters, and it is written that way by the
    // one-row aggregate itself — and compact does not touch it:
    // the counters are already exact.)
    val dV = StoreVersions.next(fs, idx.dir, "doclens")
    snap.doclens(s).repartition(col(idx.idCol))
      .write.mode("overwrite").parquet(dV)
    // fresh block-max metadata over the folded base (delete makes
    // the old rows stale-but-valid upper bounds — a superset's max
    // only loosens pruning; here they tighten back to exact)
    val mV = StoreVersions.next(fs, idx.dir, "postings_meta")
    metaOf(s, UpdateMarker.listFiles(fs, pV).toSeq,
        s.read.parquet(dV), idx.idCol)
      .write.mode("overwrite").parquet(mV)
    val deltaV = StoreVersions.nextEmpty(fs, idx.dir, "postings_delta")
    val tV = StoreVersions.nextEmpty(fs, idx.dir, "tombstones")
    StoreVersions.flip(fs, idx.dir, Map("postings" -> pV,
      "postings_delta" -> deltaV, "doclens" -> dV,
      "tombstones" -> tV, "postings_meta" -> mV),
      AppendSnap) // THE commit
    if (idx.postingsBuckets > 0)
      registerBucketedTable(s, tableNameFor(idx.dir), pV,
        idx.postingsBuckets)
    StoreVersions.gc(s, fs, idx.dir, Stages)
    UpdateMarker.exit(fs, idx.dir)
    idx
  }

  /** ROLL BACK to snapshot `seq` of the flip log — the undo for a
    * bad batch ([[StoreVersions.rollbackTo]]): replace stages flip
    * back to that epoch's versions, and the files batches appended
    * since are DELETED surgically off the snapshot's file manifest
    * (the epoch's own rows untouched) — after it the store equals
    * the epoch stage-for-stage, and serves so (spec-pinned against
    * the pre-batch scores). Enters as a WRITER
    * ([[UpdateMarker.rollback]]: single-writer collision applies,
    * `_applied` clears so an undone batch id folds again).
    * Destructive to the undone epochs by design; retention bounds
    * how far back `seq` can reach.
    */
  def rollback(s: SparkSession, idx: Index, seq: Int): Index = {
    val fs = new Path(idx.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    UpdateMarker.rollback(s, fs, idx.dir, Stages, stageMap(s, idx), seq,
      AppendSnap)
    idx
  }

  /** Score every stored document against `terms` — (idCol, score),
    * the q75 contract, from the stored stages only: the corpus text
    * is never touched, the postings scan reads the probed terms'
    * row groups, and the scoring math is the shared kernel. All
    * three stages come from ONE pinned snapshot.
    */
  def bm25(s: SparkSession, idx: Index, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Of(s, idx.pin(s), terms, k1, b)

  /** [[bm25]] from an explicitly HELD [[Snapshot]] — the same
    * serving kernel over a pinned snapshot the caller resolved
    * (e.g. [[Index.pinAt]]'s time-travel pin: scores as of that
    * epoch's postings, doclens AND collection stats together, since
    * they flipped as one). */
  def bm25Of(s: SparkSession, snap: Snapshot, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val tf = snap.postings(s).filter(col("token").isin(terms: _*))
      .select(col(snap.idCol), col("token"), col("tf"))
    val stats = snap.stats(s)
      .select(col("n").as("_n"),
        (col("sumdl") / col("n")).as("_avgdl"))
    TextOps.bm25ScoreFrames(tf, snap.doclens(s), stats, snap.idCol,
      terms, k1, b)
  }

  /** FILTERED serving — [[bm25]] restricted to the documents whose
    * ids are in `allowed` (one column named `idCol`): the
    * "search within lang = 'en' / source = wiki" shape, the sparse
    * twin of [[AnnIndexStore.searchFiltered]]. The same frozen-models
    * contract: n, avgdl and every idf stay CORPUS-WIDE (df is a
    * collection statistic — the mask restricts the candidate set,
    * not the model), so an allowed doc's score is bit-identical to
    * its unfiltered [[bm25]] score. BM25 is per-document independent,
    * which makes that equality checkable (unlike filtered ANN, where
    * a pre-filter changes which k fill) — the engine-side point of
    * the pre-filter is COST: the allowed-id semi-join lands on the
    * probed postings rows BEFORE the doclens join and the pivot, so
    * the scoring pipeline processes allowed docs only, while the
    * idf aggregate still reads just the probed terms' row groups
    * (token pushdown binds before the mask). AQE picks the
    * semi-join's build side; a forced broadcast would OOM on a
    * corpus-scale allow-list (the [[Tombstones.BroadcastMaxBytes]] lesson).
    */
  def bm25Filtered(s: SparkSession, idx: Index, terms: Seq[String],
      allowed: DataFrame, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val snap = idx.pin(s)
    val tfAll = snap.postings(s).filter(col("token").isin(terms: _*))
      .select(col(idx.idCol), col("token"), col("tf"))
    val stats = snap.stats(s)
      .select(col("n").as("_n"),
        (col("sumdl") / col("n")).as("_avgdl"))
    val idf = TextOps.bm25Idf(tfAll, stats)
    val tf = tfAll.join(allowed.select(col(idx.idCol)).distinct(),
      Seq(idx.idCol), "left_semi")
    TextOps.bm25ScoreWithIdf(tf, snap.doclens(s), stats, idf,
      idx.idCol, terms, k1, b)
  }

  /** Ceiling on the (token, file) metadata rows [[bm25TopK]] will
    * collect to the driver for its pruning arithmetic — bounded by
    * |probed terms| × files-per-term, which compaction keeps small;
    * past the ceiling the serve falls back to the unpruned full
    * scoring (correct rows, pruning claim void — the
    * [[AnnIndexStore.PruneMaxCells]] discipline).
    */
  val TopKMetaMaxRows = "spark.graft.text.topkMetaMaxRows"
  private val topkMetaMaxDefault = 65536

  /** [[bm25TopK]]'s driver-side pruning decision, split out so the
    * spec can pin that the block-skip is REAL (files excluded,
    * essential set smaller than the query) without reaching into the
    * serve's plan. `theta` is the proven lower bound on the k-th
    * best full score; `allowedFiles` are the candidate-generation
    * blocks that survived the per-file bound test out of
    * `probedFiles` total for the essential terms.
    */
  private[graft] final case class TopKDecision(essential: Seq[String],
      theta: Double, allowedFiles: Seq[String], probedFiles: Int)

  /** Exact top-k BM25 serving with MaxScore/block-max pruning — the
    * answer to "one common term makes [[bm25]] score the whole
    * corpus": a top-k serve does not need a score for every document
    * containing ANY query term, only for documents that could beat
    * the k-th best. From the stored per-(token, file) bounds
    * ([[metaOf]] — written with the postings, read INSTEAD of them):
    *
    *  1. per-term upper bounds `ub(t) = idf(t) · maxFrac(t)` come
    *     from the metadata (idf from the exact per-file df sums when
    *     no tombstones are outstanding, from the probe scan
    *     otherwise — a delete leaves the stored bounds a valid
    *     SUPERSET bound, but df must be live-exact for scoring);
    *  2. a THRESHOLD θ = the k-th best score among documents
    *     containing the top-impact term, scored from that term's
    *     postings alone (partial scores lower-bound full scores, so
    *     θ lower-bounds the true k-th best);
    *  3. the ESSENTIAL terms are the minimal impact-ordered prefix
    *     whose complement's Σub < θ — a document matching only
    *     non-essential terms cannot reach θ (MaxScore), so
    *     candidates are generated from essential postings only: the
    *     common term's corpus-scale postings are never scanned for
    *     candidacy when its ub keeps it non-essential;
    *  4. BLOCK-MAX skip: an essential term's file is skipped when
    *     its per-file bound plus every other term's ub stays under θ
    *     — a document all of whose essential matches sit in skipped
    *     blocks is bounded below θ by the triangle over its best
    *     block (per-term thresholds, so multi-essential queries stay
    *     exact);
    *  5. the surviving candidates (plus step 2's, already known) are
    *     scored EXACTLY through the shared kernel and the top-k
    *     returned — bit-identical rows to `bm25().orderBy(score
    *     desc, id).limit(k)` (spec-pinned; a small ε absorbs the
    *     kernel's contribution rounding on the bound side only).
    *
    * What shrinks and what cannot: candidate generation reads only
    * the essential terms' surviving blocks (the SCALING row's
    * measured collapse), and the scoring pipeline — the doclens
    * join, pivot and aggregation that dominate [[bm25]] — processes
    * candidate rows only. The one irreducible corpus-scale touch is
    * the exact-completion scan (candidates' tf for EVERY query term
    * rides a token-pushdown scan of the probed row groups, then a
    * semi-join): columnar scans have no per-document skip pointers,
    * so exactness costs one pass over the probed row groups — the
    * same single pass plain [[bm25]] makes, with none of its
    * downstream volume.
    */
  def bm25TopK(s: SparkSession, idx: Index, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKImpl(s, idx, terms, k, k1, b, None)

  /** FILTERED exact top-k — [[bm25TopK]]'s pruning under
    * [[bm25Filtered]]'s contract: the top `k` among the documents in
    * `allowed` (one column named `idCol`), scores bit-identical to
    * the unfiltered [[bm25]] values (n / avgdl / idf stay
    * CORPUS-WIDE — the mask restricts candidates, never the model),
    * rows bit-identical to `bm25Filtered(...).orderBy(score desc,
    * id).limit(k)` (spec-pinned). The pruning arithmetic survives
    * the mask because every bound only ever OVER-estimates:
    * per-(token, file) upper bounds valid for the whole corpus are
    * valid for any subset, while the threshold θ — the one quantity
    * that must UNDER-estimate — is recomputed from the top-impact
    * term's ALLOWED postings only (an unallowed high scorer would
    * inflate θ above the true allowed k-th best and prune documents
    * the filtered serve must return). Candidate generation semi-joins
    * the mask before scoring, so the doclens join and pivot process
    * allowed candidates only — the filtered twin of the serve's
    * whole point. The mask rides AQE's build-side choice exactly as
    * in [[bm25Filtered]] (never a forced broadcast).
    */
  def bm25TopKFiltered(s: SparkSession, idx: Index,
      terms: Seq[String], allowed: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKImpl(s, idx, terms, k, k1, b, Some(allowed))

  private def bm25TopKImpl(s: SparkSession, idx: Index,
      terms: Seq[String], k: Int, k1: Double, b: Double,
      allowedOpt: Option[DataFrame]): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k >= 1, "k must be >= 1")
    val dterms = terms.distinct
    val snap = idx.pin(s)
    val statsF = snap.stats(s).select(col("n").as("_n"),
      (col("sumdl") / col("n")).as("_avgdl"))
    val st0 = statsF.head()
    val avgdl = st0.getDouble(1)
    val allowedIds = allowedOpt.map(_.select(col(idx.idCol)).distinct())
    // restrict a doc-keyed frame to the allowed set; identity when
    // unfiltered (the mask applies to candidates and θ, NEVER to the
    // idf probe — collection statistics stay corpus-wide)
    def mask(df: DataFrame): DataFrame =
      allowedIds.map(a => df.join(a, Seq(idx.idCol), "left_semi"))
        .getOrElse(df)
    def fullTf = snap.postings(s)
      .filter(col("token").isin(dterms: _*))
      .select(col(idx.idCol), col("token"), col("tf"))
    def topKOf(scores: DataFrame): DataFrame =
      scores.orderBy(col("score").desc, col(idx.idCol).asc).limit(k)
    def fullTopK(idf: DataFrame): DataFrame =
      topKOf(TextOps.bm25ScoreWithIdf(mask(fullTf), snap.doclens(s),
        statsF, idf, idx.idCol, dterms, k1, b))
    val maxMeta = s.conf.get(TopKMetaMaxRows,
      topkMetaMaxDefault.toString).toInt
    val metaRows = s.read.parquet(snap.metaPath)
      .filter(col("token").isin(dterms: _*))
      .limit(maxMeta + 1).collect()
    if (metaRows.length > maxMeta) // ceiling: correct, unpruned
      return fullTopK(TextOps.bm25Idf(fullTf, statsF))
    // exact idf — the metadata df sums when no deletes are
    // outstanding, the masked probe otherwise (same kernel
    // expression either way, so scores stay bit-identical)
    val idfF =
      if (snap.tombstonesIfAny(s).isEmpty) {
        import s.implicits._
        TextOps.bm25IdfOfDf(
          metaRows.groupBy(_.getString(0)).view
            .mapValues(_.map(_.getLong(2)).sum).toSeq.toDF("token", "df"),
          statsF)
      } else TextOps.bm25Idf(fullTf, statsF)
    decisionOf(s, snap, idfF, metaRows, dterms, k, k1, b, avgdl,
        mask) match {
      case None => fullTopK(idfF) // fewer than k matches: no bound
      case Some(d) =>
        val cand1 = snap.postings(s)
          .filter(col("token") === d.essential.head)
          .select(col(idx.idCol))
        val candE =
          if (d.allowedFiles.isEmpty) cand1
          else s.read.parquet(d.allowedFiles: _*)
            .filter(col("token").isin(d.essential: _*))
            .select(col(idx.idCol))
            .unionByName(cand1)
        topKOf(TextOps.bm25ScoreWithIdf(
          fullTf.join(mask(candE).distinct(), Seq(idx.idCol),
            "left_semi"),
          snap.doclens(s), statsF, idfF, idx.idCol, dterms, k1, b))
    }
  }

  /** Steps 1–4 of [[bm25TopK]] (driver arithmetic over the collected
    * metadata + one partial-scoring job for θ) — None when fewer
    * than k documents match the top-impact term, where no threshold
    * exists and the caller serves unpruned. `eps` absorbs the
    * kernel's round-to-6 contribution / round-to-4 score steps: a
    * pruned document's true score is provably below θ − ε with ε
    * well above the worst accumulated rounding.
    */
  private[graft] def decisionOf(s: SparkSession, snap: Snapshot,
      idfF: DataFrame, metaRows: Array[org.apache.spark.sql.Row],
      dterms: Seq[String], k: Int, k1: Double, b: Double,
      avgdl: Double,
      mask: DataFrame => DataFrame = identity): Option[TopKDecision] = {
    val eps = 1e-3
    val idfMap = idfF.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    def frac(maxTf: Long, minDl: Long): Double =
      (k1 + 1) * maxTf /
        (maxTf + k1 * (1 - b + b * minDl / avgdl))
    val fileUb = metaRows.toSeq.map { r =>
      (r.getString(0), r.getString(1),
        idfMap.getOrElse(r.getString(0), 0.0) *
          frac(r.getLong(3), r.getLong(4)))
    }
    val ub = dterms.map(t => t ->
      fileUb.filter(_._1 == t).map(_._3).maxOption.getOrElse(0.0)).toMap
    val sorted = dterms.sortBy(t => (-ub(t), t))
    val t1 = sorted.head
    // θ: k-th best PARTIAL score from the top-impact term alone —
    // partial ≤ full, so this lower-bounds the true k-th best; under
    // a filter the mask applies HERE (θ must lower-bound the k-th
    // best ALLOWED score — an unallowed high scorer would inflate it)
    val t1tf = mask(snap.postings(s).filter(col("token") === t1)
      .select(col(snap.idCol), col("token"), col("tf")))
    val statsF = snap.stats(s).select(col("n").as("_n"),
      (col("sumdl") / col("n")).as("_avgdl"))
    val part = TextOps.bm25ScoreWithIdf(t1tf, snap.doclens(s), statsF,
        idfF, snap.idCol, Seq(t1), k1, b)
      .orderBy(col("score").desc, col(snap.idCol).asc)
      .limit(k).collect()
    if (part.length < k) return None
    val theta = part.last.getDouble(1)
    // essential prefix: smallest prefix whose complement's Σub < θ
    val e = (1 to sorted.size).find { j =>
      sorted.drop(j).map(ub).sum + eps < theta
    }.getOrElse(sorted.size)
    val essential = sorted.take(e)
    val totalUb = dterms.map(ub).sum
    // block-max: keep (t, f) iff its bound plus EVERY other term's
    // ub could still reach θ
    val probed = fileUb.filter(x => essential.contains(x._1))
    val allowed = probed.filter { case (t, _, u) =>
      u + (totalUb - ub(t)) + eps >= theta
    }.map(_._2).distinct
    Some(TopKDecision(essential, theta, allowed,
      probed.map(_._2).distinct.size))
  }

  /** Conjunctive (boolean AND) retrieval — the documents containing
    * EVERY term in `terms`, with the matched terms' total tf:
    * (idCol, tf_sum). The boolean-retrieval primitive that fronts a
    * ranked stage in real services ("must contain all query terms,
    * then rank"); from the stored postings it is ONE aggregate over
    * the probed terms' rows — the scan reads only those row groups
    * (token-sorted files / bucketed catalog table, pushed IN filter),
    * the groupBy key is the doc id (never a corpus-wide hot key:
    * a doc matches each term once, so group size ≤ |terms|), and the
    * HAVING is a countDistinct == |terms| post-aggregate. Distinct
    * because a (id, token) postings row is unique by construction —
    * countDistinct here is belt-and-braces against a delta overlap
    * bug, not a semantic need.
    */
  def matchAll(s: SparkSession, idx: Index, terms: Seq[String])
      : DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    idx.postings(s).filter(col("token").isin(terms: _*))
      .groupBy(col(idx.idCol))
      .agg(sum("tf").as("tf_sum"),
        countDistinct(col("token")).as("_nt"))
      .filter(col("_nt") === terms.distinct.size)
      .select(col(idx.idCol), col("tf_sum"))
  }

  /** Exact PHRASE retrieval from the positional postings — the
    * documents containing `phrase` as CONSECUTIVE tokens, with the
    * occurrence count: (idCol, hits). Slot i of the phrase
    * contributes its term's occurrence positions shifted back by i
    * (`start = pos - i`), and a phrase occurrence is a (doc, start)
    * every slot agrees on — |phrase| − 1 equi-joins on (id, start)
    * over the PROBED terms' rows only (the scan reads just those
    * terms' row groups, the matchAll pruning), each join keyed by
    * (doc, position) so no corpus-wide hot key exists at any scale.
    * Duplicate terms in the phrase ("batch batch") work unchanged:
    * the same postings row feeds both slots at different shifts.
    * Tombstones mask through [[Snapshot.postings]] underneath.
    */
  def phraseMatch(s: SparkSession, idx: Index, phrase: Seq[String])
      : DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val probed = idx.postings(s)
      .filter(col("token").isin(phrase.distinct: _*))
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      probed.filter(col("token") === t)
        .select(col(idx.idCol), explode(col("positions")).as("_p"))
        .select(col(idx.idCol), (col("_p") - i).as("start"))
    }
    slots.reduce((a, b) => a.join(b, Seq(idx.idCol, "start")))
      .groupBy(col(idx.idCol)).agg(count(lit(1)).as("hits"))
  }

  /** ORDERED PROXIMITY retrieval — [[phraseMatch]] generalized by a
    * per-step `slop`: the documents where the terms occur in order
    * with at most `slop` − 1 other tokens between consecutive terms
    * (slop = 1 IS the exact phrase — spec-pinned identity), with the
    * count of distinct term-position chains: (idCol, hits). The
    * "terms near each other, in order" primitive between matchAll's
    * bag-of-words and phraseMatch's exact adjacency. Each step is an
    * equi-join on the doc id with the gap bound as a post-join range
    * predicate — candidate pairs per doc are bounded by the probed
    * terms' in-doc tf product, never corpus-scale, and the scan
    * still reads only the probed terms' row groups.
    */
  def proximityMatch(s: SparkSession, idx: Index, terms: Seq[String],
      slop: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(slop >= 1, "slop must be >= 1 (1 = exact phrase)")
    val probed = idx.postings(s)
      .filter(col("token").isin(terms.distinct: _*))
    val slots = terms.zipWithIndex.map { case (t, i) =>
      probed.filter(col("token") === t)
        .select(col(idx.idCol), explode(col("positions")).as(s"_p$i"))
    }
    val chained = slots.zipWithIndex.tail.foldLeft(slots.head) {
      case (acc, (slot, i)) =>
        acc.join(slot, Seq(idx.idCol))
          .filter((col(s"_p$i") - col(s"_p${i - 1}")).between(1, slop))
    }
    chained.groupBy(col(idx.idCol)).agg(count(lit(1)).as("hits"))
  }

  /** QUORUM (boolean "at least m of n") retrieval — [[matchAll]]'s
    * HAVING relaxed from == |terms| to >= `m`: every document
    * containing at least `m` DISTINCT query terms, with the match
    * breadth and the matched terms' total tf:
    * (idCol, matched_terms, tf_sum). The standard middle ground
    * between AND (too strict for long queries) and OR (too loose) —
    * m = |terms| IS matchAll and m = 1 IS the OR, both spec-pinned
    * identities. Same scale shape as matchAll: one aggregate over
    * the probed terms' postings rows, pruned scan, doc-id group key
    * with group size ≤ |terms|.
    */
  def matchAtLeast(s: SparkSession, idx: Index, terms: Seq[String],
      m: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(m >= 1 && m <= terms.distinct.size,
      s"m must be in [1, ${terms.distinct.size}]")
    idx.postings(s).filter(col("token").isin(terms.distinct: _*))
      .groupBy(col(idx.idCol))
      .agg(countDistinct(col("token")).as("matched_terms"),
        sum("tf").as("tf_sum"))
      .filter(col("matched_terms") >= m)
      .select(col(idx.idCol), col("matched_terms"), col("tf_sum"))
  }

  /** UNORDERED window proximity — the documents where all `terms`
    * (distinct required) co-occur within a span of at most `window`
    * tokens IN ANY ORDER: some choice of one occurrence position per
    * term has max(pos) − min(pos) ≤ `window`. Returns the count of
    * qualifying position tuples: (idCol, hits). The order-free
    * complement of [[proximityMatch]] ("these concepts mentioned
    * together", not "this phrase-ish sequence") — for TWO distinct
    * terms the identity `window(a,b,w) == ordered(a,b,w) +
    * ordered(b,a,w)` is spec-pinned, which is exactly the
    * "unordered = both orders" law. Scale shape is
    * [[proximityMatch]]'s: doc-keyed joins over the probed terms'
    * row groups only, candidate tuples per doc bounded by the
    * in-doc tf product — and the span bound is applied PAIRWISE at
    * every join step (max−min ≤ w over a tuple ⟺ every pair is
    * ≤ w apart), so intermediates are pruned as they form instead
    * of materializing the full tf product before one final filter.
    */
  def proximityWindow(s: SparkSession, idx: Index,
      terms: Seq[String], window: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct.size == terms.size,
      "window proximity takes DISTINCT terms (order carries no " +
        "meaning, so a repeated term adds nothing)")
    require(window >= terms.size - 1,
      s"window must be >= ${terms.size - 1} (the tightest span " +
        s"${terms.size} distinct terms can occupy)")
    val probed = idx.postings(s)
      .filter(col("token").isin(terms: _*))
    val slots = terms.zipWithIndex.map { case (t, i) =>
      probed.filter(col("token") === t)
        .select(col(idx.idCol), explode(col("positions")).as(s"_p$i"))
    }
    val joined = slots.zipWithIndex.tail.foldLeft(slots.head) {
      case (acc, (slot, i)) =>
        val pairwise = (0 until i).map(j =>
          abs(col(s"_p$i") - col(s"_p$j")) <= window).reduce(_ && _)
        acc.join(slot, Seq(idx.idCol)).filter(pairwise)
    }
    joined.groupBy(col(idx.idCol)).agg(count(lit(1)).as("hits"))
  }

  /** Clone the index as of snapshot `seq` into `dstDir` — a fully
    * independent store ([[StoreVersions.cloneAt]]: stats copied
    * wholesale, every append stage at its flip-time file manifest,
    * one commit), so the clone serves that epoch's postings, doclens
    * AND collection stats together and then lives its own life
    * (update/delete/compact/time-travel all work on it verbatim).
    * On a bucketed store the clone's postings keep their bucket file
    * layout through the copy (bucket ids ride the file names), and
    * the catalog table is re-registered at the clone's location
    * under the clone's own name. New lineage: no `_applied` batch
    * witnesses come along — a batch id the source folded after `seq`
    * folds into the clone normally.
    */
  def cloneAt(s: SparkSession, idx: Index, seq: Int,
      dstDir: String): Index = {
    val fs = new Path(idx.dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    StoreVersions.cloneAt(fs, idx.dir, dstDir, seq, AppendSnap)
    val out = Index(dstDir, idx.idCol, idx.postingsBuckets)
    if (idx.postingsBuckets > 0)
      registerBucketedTable(s, tableNameFor(dstDir),
        out.pin(s).postingsPath, idx.postingsBuckets)
    out
  }

  /** Handle for an EXISTING store directory with the bucket layout
    * detected from the session catalog — the SQL front door's entry
    * point ([[graft.plans.TextSearchSql]]), where the caller has a
    * directory string rather than the build-time handle. A
    * registered postings table restores the bucketed serving shape;
    * absent (or pointing elsewhere — the standing location guard
    * applies on the read side), the store serves through the plain
    * path scan: correct rows either way.
    */
  def forDir(s: SparkSession, dir: String, idCol: String): Index = {
    val buckets =
      try s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            tableNameFor(dir)))
        .bucketSpec.map(_.numBuckets).getOrElse(0)
      catch { case scala.util.control.NonFatal(_) => 0 }
    Index(dir, idCol, buckets)
  }

  /** The LIVE document count as a one-row metadata read — the exact
    * `n` counter every update/delete folds through its stats
    * flip-commit, so the operational membership probe
    * ([[CorpusStore.liveCounts]]) never scans the doclens stage.
    * Exact by the same argument as the BM25 `n` it shares: the flip
    * IS the commit, so a committed batch's counter is always in. */
  def liveCount(s: SparkSession, idx: Index): Long =
    idx.pin(s).stats(s).select(col("n")).head().getLong(0)

  // ---- session-lifetime store per corpus directory ----------------

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Index]()

  def indexDirFor(dataDir: String, suffix: String = ""): String =
    StoreDirs.dirFor("target/text-index/", dataDir, suffix)

  /** The memoized index for the `documents` corpus at `dataDir`:
    * tokenized once per JVM, served by every consumer query. */
  def forCorpus(s: SparkSession, dataDir: String): Index =
    built.computeIfAbsent(dataDir, d =>
      build(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        indexDirFor(d)))
}
