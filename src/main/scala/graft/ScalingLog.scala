package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Shared SCALING.jsonl ownership protocol for the dev-run evidence
  * generators ([[Scaling]] — untiered batch rows at the file head,
  * [[StreamScaling]] — `tier:"streaming"`, [[SkewScaling]] —
  * `tier:"skew"`, [[StreamReplay]] — `tier:"streaming_replay"`,
  * [[IncrementalScaling]] — `tier:"incremental"`,
  * [[RewriteScaling]] — `tier:"rewrite"`,
  * [[AsofScaling]] — `tier:"asof_hotkey"`,
  * [[AnnIndexScaling]] — `tier:"ann_index"`,
  * [[TopKScaling]] — `tier:"text_topk"`).
  *
  * Each generator owns ONE slice, selected by an exact-match
  * predicate; a regeneration keeps every other line byte-identical
  * and replaces the file via temp-file + atomic rename, so a crashed
  * run can never leave a half-written artifact. Tier ownership
  * matches the full `"tier":"name"` token INCLUDING the closing
  * quote — `streaming` can never capture `streaming_replay`'s rows.
  *
  * Generators must still run SERIALLY: read-filter-rewrite is
  * last-writer-wins, and two concurrent rewrites would drop
  * whichever slice landed first (ScalingEvidenceSpec turns that
  * mistake into a red `sbt test` instead of silent evidence loss).
  */
object ScalingLog {

  private val path = Paths.get("SCALING.jsonl")

  /** ONE definition of the measured-run discipline every generator
    * shares (Scaling, SkewScaling, IncrementalScaling,
    * RewriteScaling, AsofScaling): warm once (JIT/codegen), clear
    * cached intermediates, drain the listener bus, reset the
    * listener, time ONE run, then clear + drain again so the
    * listener's counters cover exactly the measured run. Returns
    * (result, seconds); each generator formats its own tier-specific
    * JSON fields from the listener. Consolidated for the same reason
    * as the UpdateMarker writer lifecycle: a fix to the flush
    * ordering must not have five copies to miss.
    *
    * Generators whose run has SIDE EFFECTS (IncrementalScaling's
    * store updates, RewriteScaling's conf-flipped arms) pass
    * `warm = false` — a warm-up there would double-apply the update
    * being measured.
    */
  def measured(spark: org.apache.spark.sql.SparkSession,
      listener: TaskMetricsListener, warm: Boolean = true)(
      run: => Long): (Long, Double) = {
    if (warm) run
    spark.catalog.clearCache()
    org.apache.spark.sql.graft.Shims.flushListenerBus(spark.sparkContext)
    listener.reset()
    val t0 = System.nanoTime()
    val result = run
    val sec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    org.apache.spark.sql.graft.Shims.flushListenerBus(spark.sparkContext)
    (result, sec)
  }

  /** ONE definition of the per-case JSON line the maintenance-tier
    * generators ([[IncrementalScaling]], [[AnnIndexScaling]]) emit
    * from the listener's counters — consolidated like [[measured]]:
    * a field added or a counter corrected must not have per-driver
    * copies to miss.
    */
  /** Counter snapshot for [[caseLine]] — take it BEFORE any
    * post-measurement verification job runs, or the verification's
    * reads pollute the emitted numbers. */
  final case class Counters(input: Long, shuffleWrite: Long,
      shuffleRead: Long)
  def countersOf(listener: TaskMetricsListener): Counters =
    Counters(listener.inputRecords, listener.shuffleWriteRecords,
      listener.shuffleReadRecords)

  def caseLine(tier: String, sf: String, name: String, result: Long,
      c: Counters, sec: Double, extra: Map[String, Any]): String = {
    val extras = extra.map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"tier":"$tier","sf":"$sf","case":"$name","result":$result,""" +
      s""""input_records":${c.input},""" +
      s""""shuffle_write_records":${c.shuffleWrite},""" +
      s""""shuffle_read_records":${c.shuffleRead},""" +
      s""""sec":${f"$sec%.3f"}$extras}"""
  }

  /** Ownership predicate for a tier's rows. */
  def tier(name: String): String => Boolean =
    _.contains(s""""tier":"$name"""")

  /** Ownership predicate for the untiered batch rows. */
  val untiered: String => Boolean = line => !line.contains("\"tier\":")

  /** Replace the owned slice: drop lines matching `owns`, splice in
    * `newLines` (a '\n'-terminated block) — appended after the kept
    * lines, or prepended when the owner holds the file's head.
    */
  def replaceSlice(owns: String => Boolean, newLines: String,
      prepend: Boolean = false): Unit = {
    val existing =
      if (Files.exists(path)) Files.readString(path) else ""
    val kept = existing.linesIterator.filterNot(owns)
      .mkString("\n")
    val content =
      if (kept.isEmpty) newLines
      else if (prepend) newLines + kept + "\n"
      else kept + "\n" + newLines
    val tmp = Files.createTempFile(
      path.toAbsolutePath.getParent, "SCALING", ".jsonl.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
