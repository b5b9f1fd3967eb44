package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The advisor must (a) read every signal the stores actually
  * maintain, (b) advise `ok` on a fresh store, and (c) flip to the
  * right action when each overdue condition is fabricated — with the
  * thresholds honored from the same conf dials the stores themselves
  * degrade on.
  */
class AdvisorSpec extends SparkSpec {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("advisor").toString
  private lazy val corpus = {
    val docs = sf("documents")
    val emb = sf("embeddings")
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id"), col("text"), col("source"),
        col("embedding"))
  }
  private lazy val dials = AnnIndexStore.Dials(
    col("doc_id") % 50 === 7, col("doc_id") % 10 === 3,
    m = 2, subDim = 32, iters = 2)

  private def actions(df: org.apache.spark.sql.DataFrame) =
    df.select("store", "metric", "action").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      .toMap

  test("fresh quad advises ok everywhere; each fabricated overdue " +
      "condition flips exactly its row to the advised action") {
    val st = CorpusStore.build(corpus, "doc_id", "text", "embedding",
      s"$tmp/adv", annDials = Some(dials), sourceCol = Some("source"))
    val fresh = actions(Advisor.advise(spark, st))
    assert(fresh.keySet == Set(
      ("curation", "tombstone_bytes"), ("curation", "label_delta_bytes"),
      ("ann", "tombstone_bytes"), ("ann", "codes_files_per_cell"),
      ("text", "tombstone_bytes"), ("text", "postings_delta_bytes"),
      ("stats", "stale_sources")),
      s"unexpected metric set: ${fresh.keySet}")
    assert(fresh.values.forall(_ == "ok"),
      s"a fresh quad is not all-ok: $fresh")

    // a takedown plants tombstones in the three serving stores and
    // sketch debt in the stats tier: with default (32 MB) ceilings
    // only the stats row flips — debt has no grace threshold
    val doomed = corpus.filter(col("doc_id") % 10 === 6)
    CorpusStore.delete(st, doomed.select("doc_id"), "d1",
      Some(doomed))
    val afterDelete = actions(Advisor.advise(spark, st))
    assert(afterDelete(("stats", "stale_sources")) == "compact",
      "outstanding sketch debt did not advise compact")
    assert((afterDelete - (("stats", "stale_sources")))
        .values.forall(_ == "ok"),
      s"tiny tombstones tripped a 32 MB ceiling: $afterDelete")

    // drop the tombstone ceiling to zero: the three serving rows
    // flip to compact — the advisor honors the same dials the
    // stores' masks degrade on
    val key = Tombstones.BroadcastMaxBytes
    try {
      spark.conf.set(key, "0")
      val tight = actions(Advisor.advise(spark, st))
      assert(Seq("curation", "ann", "text").forall(s =>
          tight((s, "tombstone_bytes")) == "compact"),
        s"zero ceiling did not advise compact everywhere: $tight")
    } finally spark.conf.unset(key)

    // per-add file growth: an ingest appends ~one file per touched
    // cell; with the files-per-cell ceiling fabricated below 1 the
    // codes row advises compact
    try {
      spark.conf.set(Advisor.CodesFilesPerCellMax, "0.5")
      assert(actions(Advisor.adviseAnn(spark, st.ann))(
          ("ann", "codes_files_per_cell")) == "compact",
        "files-per-cell past the ceiling did not advise compact")
    } finally spark.conf.unset(Advisor.CodesFilesPerCellMax)

    // outstanding postings delta — a BUCKETED-layout signal (a plain
    // store's update appends inside the postings version itself):
    // an update against the immutable bucketed base lands in the
    // delta stage, and a zero guard flips the row
    val batch = corpus.filter(col("doc_id") % 10 === 6)
      .withColumn("doc_id", col("doc_id") + 1000000)
    intercept[IllegalArgumentException] {
      // (re-adding the deleted ids must still be guarded — the
      // fabrication batch uses shifted ids instead)
      CorpusStore.ingest(st, doomed, "text", "embedding", "i-bad")
    }
    CorpusStore.ingest(st, batch, "text", "embedding", "i1")
    val bText = TextIndexStore.build(
      corpus.select(col("doc_id"), col("text")), "doc_id", "text",
      s"$tmp/btext", bucketPostings = 2)
    assert(actions(Advisor.adviseText(spark, bText))(
        ("text", "postings_delta_bytes")) == "ok",
      "fresh bucketed base reported an outstanding delta")
    TextIndexStore.update(bText, batch.select("doc_id", "text"),
      "text", batchId = Some("t1"))
    try {
      spark.conf.set(Advisor.TextDeltaMaxBytes, "0")
      assert(actions(Advisor.adviseText(spark, bText))(
          ("text", "postings_delta_bytes")) == "compact",
        "outstanding text delta did not advise compact")
    } finally spark.conf.unset(Advisor.TextDeltaMaxBytes)

    // recall trend: no probe history → no recall row; after a probe
    // the row appears, and a floor above the measured recall advises
    // the re-train (rebuild — compaction cannot help a stale model)
    assert(!actions(Advisor.adviseAnn(spark, st.ann))
        .contains(("ann", "mean_recall")),
      "recall row emitted without a probe history")
    val queries = corpus.filter(col("doc_id") % 100 === 3)
      .select(col("doc_id").as("qid"), col("embedding"))
    AnnIndexStore.recallProbe(spark, st.ann,
      corpus.select(col("doc_id"), col("embedding")), queries,
      "qid", "embedding", k = 5, snapshot = "s1")
    // floor pinned on both sides of the measured value so the
    // assertion tests the COMPARISON, not this fixture's PQ recall:
    // recall ∈ [0, 1] always, so 0 can never trip and 1.01 must
    try {
      spark.conf.set(Advisor.RecallFloor, "0.0")
      assert(actions(Advisor.adviseAnn(spark, st.ann))(
          ("ann", "mean_recall")) == "ok",
        "a floor of zero tripped")
      spark.conf.set(Advisor.RecallFloor, "1.01")
      assert(actions(Advisor.adviseAnn(spark, st.ann))(
          ("ann", "mean_recall")) == "rebuild",
        "recall under the floor did not advise rebuild")
    } finally spark.conf.unset(Advisor.RecallFloor)

    // label delta: compact upgrades the curation store to the
    // bucketed layout; the NEXT ingest stages a delta beside the
    // immutable base, and a zero guard flips the row
    val live = corpus.filter(col("doc_id") % 10 =!= 6)
      .unionByName(batch)
    val st2 = CorpusStore.compact(spark, st, liveCorpus = Some(live))
    assert(actions(Advisor.advise(spark, st2))(
        ("stats", "stale_sources")) == "ok",
      "compact did not settle the sketch debt")
    val batch2 = corpus.filter(col("doc_id") % 10 === 2)
      .withColumn("doc_id", col("doc_id") + 2000000)
    CorpusStore.ingest(st2, batch2, "text", "embedding", "i2")
    try {
      spark.conf.set(CurationStore.DeltaBroadcastMaxBytes, "0")
      assert(actions(Advisor.adviseCuration(spark, st2.curation))(
          ("curation", "label_delta_bytes")) == "compact",
        "outstanding label delta did not advise compact")
    } finally spark.conf.unset(CurationStore.DeltaBroadcastMaxBytes)
  }

  test("gate health: no rows before a gated batch, a healthy batch " +
      "advises ok, an all-duplicate recrawl collapses admit_rate to " +
      "alert at the default floor, and the semantic dial is honored " +
      "on both sides of the measured rate") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => ((seed * 31 + j * 7) % 13 - 6) / 6f)
    def words(seed: Int): String =
      (0 until 8).map(i => s"w${seed}x$i").mkString(" ")
    val stored = Seq(3L, 7L, 13L, 20L, 21L, 22L, 23L)
      .map(i => (i, words(i.toInt), vec(i.toInt)))
      .toDF("doc_id", "text", "embedding")
    val st = CorpusStore.build(stored, "doc_id", "text", "embedding",
      s"$tmp/gate")
    assert(actions(Advisor.advise(spark, st)).keys
        .forall(_._1 != "gate"),
      "gate rows emitted before any gated batch")
    // healthy batch: two fresh docs, one text-dup of stored 21 —
    // admit rate 2/3, well over the 0.05 floor
    val batch1 = Seq((101L, words(101), vec(55)),
      (102L, words(21), vec(66)), (103L, words(103), vec(77)))
      .toDF("doc_id", "text", "embedding")
    CorpusStore.ingestScreened(st, batch1, "text", "embedding", "g1")
    val healthy = actions(Advisor.adviseGate(spark, st.curation))
    assert(healthy == Map(("gate", "admit_rate") -> "ok",
      ("gate", "admit_rate_window") -> "ok",
      ("gate", "gate_window_batches") -> "ok",
      ("gate", "semantic_rate") -> "ok",
      ("gate", "semantic_rate_window") -> "ok"),
      s"healthy batch not all-ok: $healthy")
    // the crawler-loop shape: the SAME texts return under new ids —
    // every doc is a hist_dup of what g1 folded, admit rate 0
    val batch2 = Seq((201L, words(101), vec(58)),
      (202L, words(21), vec(69)), (203L, words(103), vec(80)))
      .toDF("doc_id", "text", "embedding")
    CorpusStore.ingestScreened(st, batch2, "text", "embedding", "g2")
    val collapsed = actions(Advisor.adviseGate(spark, st.curation))
    assert(collapsed(("gate", "admit_rate")) == "alert",
      s"an all-duplicate batch did not alert: $collapsed")
    // the semantic dial, pinned on both sides of the measured rate
    // (0 here — no semantic gate was mounted): a ceiling of -1 must
    // trip, the default must not (already asserted above)
    try {
      spark.conf.set(Advisor.SemanticRateMax, "-1")
      assert(actions(Advisor.adviseGate(spark, st.curation))(
          ("gate", "semantic_rate")) == "alert",
        "a ceiling below the measured semantic rate did not alert")
    } finally spark.conf.unset(Advisor.SemanticRateMax)
    // advise() carries the gate rows once the log exists
    assert(actions(Advisor.advise(spark, st))
        .contains(("gate", "admit_rate")),
      "advise() does not union the gate rows")
  }

  test("gate trend: one healthy batch after a collapse clears the " +
      "latest-rate row but NOT the windowed alarm; the window dial " +
      "bounds how far back the trend reads; an empty batch appends " +
      "no log row and never poisons the readout; the seq path is " +
      "listing-derived (named single-file rows, zero Spark jobs)") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => ((seed * 31 + j * 7) % 13 - 6) / 6f)
    def words(seed: Int): String =
      (0 until 8).map(i => s"t${seed}y$i").mkString(" ")
    val stored = Seq(3L, 7L, 20L)
      .map(i => (i, words(i.toInt), vec(i.toInt)))
      .toDF("doc_id", "text", "embedding")
    val st = CorpusStore.build(stored, "doc_id", "text", "embedding",
      s"$tmp/trend")
    def gate(id: String, rows: Seq[(Long, String, Array[Float])]) =
      CorpusStore.ingestScreened(st,
        rows.toDF("doc_id", "text", "embedding"),
        "text", "embedding", id)
    // g1 healthy (2 of 3 kept), g2 the collapse (all three are
    // text-dups of stored/g1 docs — admit 0), g3 ONE fresh doc
    // (admit 1.0): the latest row recovers, the window must not
    gate("t1", Seq((101L, words(101), vec(55)),
      (102L, words(7), vec(66)), (103L, words(103), vec(77))))
    gate("t2", Seq((201L, words(101), vec(58)),
      (202L, words(7), vec(69)), (203L, words(103), vec(80))))
    gate("t3", Seq((301L, words(301), vec(56))))
    try {
      // floor 0.5: latest = 1.0 (ok), window-of-5 = (2+0+1)/7 ≈
      // 0.4286 (alert) — the collapse is still inside the window
      spark.conf.set(Advisor.AdmitRateFloor, "0.5")
      val trend = actions(Advisor.adviseGate(spark, st.curation))
      assert(trend(("gate", "admit_rate")) == "ok",
        s"latest healthy batch should read ok at floor 0.5: $trend")
      assert(trend(("gate", "admit_rate_window")) == "alert",
        "one healthy batch cleared the standing windowed collapse: " +
          s"$trend")
      val nBatches = Advisor.adviseGate(spark, st.curation)
        .filter(col("metric") === "gate_window_batches")
        .select("value").head().getDouble(0)
      assert(nBatches == 3.0,
        s"window should hold the 3 logged batches, got $nBatches")
      // window dial = 1: only g3 in view — the windowed row clears
      spark.conf.set(Advisor.GateWindowBatches, "1")
      val narrow = actions(Advisor.adviseGate(spark, st.curation))
      assert(narrow(("gate", "admit_rate_window")) == "ok",
        s"a 1-batch window should read only the healthy g3: $narrow")
    } finally {
      spark.conf.unset(Advisor.AdmitRateFloor)
      spark.conf.unset(Advisor.GateWindowBatches)
    }
    // an EMPTY batch (the streaming foreachBatch shape): no log row
    // appended — a 0/0 rate row would be NULL and poison every later
    // readout — and the advisor still answers from the real batches
    val logDir = s"${st.curation.dir}/gate_log"
    def logFiles() = new java.io.File(logDir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    val before = logFiles()
    gate("t-empty", Seq.empty)
    assert(logFiles() == before,
      "an empty batch appended a gate-log row")
    assert(actions(Advisor.adviseGate(spark, st.curation))
        .contains(("gate", "admit_rate")),
      "adviseGate broke after an empty gated batch")
    // the log layout IS the seq: one named single-file row per
    // non-empty batch, so the writer's next-seq derivation and the
    // advisor's window resolve from the listing alone
    assert(before == Seq("seq-00001.parquet", "seq-00002.parquet",
      "seq-00003.parquet"), s"unexpected gate-log layout: $before")
    // and the derivation itself runs ZERO Spark jobs on this layout
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(CorpusStore.nextGateSeq(spark, logDir) == 4L,
        "wrong next seq off the listing")
      Thread.sleep(300) // listener events post asynchronously
      assert(jobs.get() == 0,
        s"the seq readout launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("maintain executes exactly the advised compacts: due stores " +
      "settle, untouched stores keep their manifests verbatim, " +
      "rebuild advice passes through unexecuted WITHOUT the opt-in " +
      "inputs — and executes the re-train with them (fresh log, " +
      "fresh manifest, serving restored over the live corpus)") {
    val st = CorpusStore.build(corpus, "doc_id", "text", "embedding",
      s"$tmp/maint", annDials = Some(dials), sourceCol = Some("source"))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifests(x: CorpusStore.Stores) = Seq(
      StoreVersions.read(fs, x.curation.dir),
      StoreVersions.read(fs, x.ann.dir),
      StoreVersions.read(fs, x.text.dir))
    val doomed = corpus.filter(col("doc_id") % 10 === 4)
    CorpusStore.delete(st, doomed.select("doc_id"), "m1", Some(doomed))
    val live = corpus.filter(col("doc_id") % 10 =!= 4)

    // only the stats tier's debt is due (tiny tombstones sit under
    // the 32 MB ceilings): maintain settles it and NOTHING else —
    // the serving stores' manifests are byte-identical after
    val servingBefore = manifests(st)
    val (st1, after1) = CorpusStore.maintain(spark, st,
      liveCorpus = Some(live))
    assert(actions(after1)(("stats", "stale_sources")) == "ok",
      "maintain did not settle the due sketch debt")
    assert(manifests(st1) == servingBefore,
      "maintain touched serving stores whose signals were all ok")
    assert(st1.curation.tombstonesIfAny(spark).isDefined,
      "fixture: the un-advised tombstones should still be outstanding")

    // drop the tombstone ceiling to zero: all three serving stores
    // come due, maintain compacts them (removals physical, masks
    // clear) and the post readout is ok even at the zero ceiling
    val key = Tombstones.BroadcastMaxBytes
    try {
      spark.conf.set(key, "0")
      val pre2 = manifests(st1)
      val (st2, after2) = CorpusStore.maintain(spark, st1,
        liveCorpus = Some(live))
      assert(Seq("curation", "ann", "text").forall(n =>
          actions(after2)((n, "tombstone_bytes")) == "ok"),
        s"advised compacts did not clear the tombstones: " +
          s"${actions(after2)}")
      assert(st2.curation.tombstonesIfAny(spark).isEmpty &&
          manifests(st2) != pre2,
        "maintain reported ok without compacting")

      // rebuild advice is surfaced, not executed, when the caller
      // does not hand maintain the re-train inputs: with the recall
      // floor above any possible recall, maintain leaves the ann
      // manifest alone and the readout still says rebuild
      val queries = corpus.filter(col("doc_id") % 100 === 7)
        .select(col("doc_id").as("qid"), col("embedding"))
      AnnIndexStore.recallProbe(spark, st2.ann,
        live.select(col("doc_id"), col("embedding")), queries,
        "qid", "embedding", k = 5, snapshot = "m-probe")
      spark.conf.set(Advisor.RecallFloor, "1.01")
      val annBefore = StoreVersions.read(fs, st2.ann.dir)
      val (st3, after3) = CorpusStore.maintain(spark, st2,
        liveCorpus = Some(live))
      assert(actions(after3)(("ann", "mean_recall")) == "rebuild",
        "rebuild advice must pass through the maintain readout")
      assert(StoreVersions.read(fs, st3.ann.dir) == annBefore,
        "maintain must not execute a rebuild without the opt-in")
      // dials WITHOUT the corpus is a loud contract error, not a
      // silent pass-through — half an opt-in is a caller bug
      intercept[IllegalArgumentException] {
        CorpusStore.maintain(spark, st3, liveCorpus = Some(live),
          annDials = Some(dials))
      }
      // the opt-in arm: corpus + dials present and the re-train due
      // — maintain executes AnnIndexStore.build over the live
      // vectors: a NEW manifest, a FRESH recall log (the stale
      // history would pollute the new life's trend — so the readout
      // has no recall row at all), the exact live counter at the
      // live-corpus count, and serving works
      val others = Seq(StoreVersions.read(fs, st3.curation.dir),
        StoreVersions.read(fs, st3.text.dir))
      val (st4, after4) = CorpusStore.maintain(spark, st3,
        liveCorpus = Some(live),
        annCorpus = Some(live.select(col("doc_id"), col("embedding"))),
        annDials = Some(dials))
      assert(StoreVersions.read(fs, st4.ann.dir) != annBefore,
        "opted-in rebuild did not produce a fresh ann manifest")
      assert(!actions(after4).contains(("ann", "mean_recall")),
        "the stale recall history leaked into the rebuilt store's " +
          "readout")
      assert(Seq(StoreVersions.read(fs, st4.curation.dir),
          StoreVersions.read(fs, st4.text.dir)) == others,
        "the ann re-train touched another store's manifest")
      assert(AnnIndexStore.liveCount(spark, st4.ann) == live.count(),
        "rebuilt index live counter != live corpus size")
      assert(AnnIndexStore.search(spark, st4.ann, queries, "qid",
          "embedding", k = 5).count() > 0,
        "rebuilt index does not serve")
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(Advisor.RecallFloor)
    }
  }
}
