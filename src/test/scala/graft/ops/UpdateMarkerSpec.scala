package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The marker protocol's own files must be crash-safe: the round-13
  * review found that a non-atomic marker write could leave a
  * zero-length `_inflight` which settlement would then parse as a
  * marker with NO listings and "heal" every live data file away —
  * data loss inside the crash-safety protocol itself; the round-14
  * review found the atomic-write fix had traded away the
  * single-writer guard (an exists() check-then-act instead of an
  * atomic claim). This spec pins the closures of both: write()
  * claims the marker atomically (createNewFile) and commits content
  * by unique-tmp + rename; a zero-length marker is a PRE-MUTATION
  * claim, spent safely without healing; non-empty garbage fails
  * LOUDLY instead of settling.
  */
class UpdateMarkerSpec extends SparkSpec {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("marker").toString
  private def fs = new Path(tmp)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("write commits atomically and round-trips; a second writer " +
      "fails loudly at the existing marker (atomic claim, not a " +
      "check-then-act)") {
    val dir = s"$tmp/a"
    fs.mkdirs(new Path(dir))
    val marker = UpdateMarker.markerPath(dir)
    val state = UpdateMarker.State("b-7",
      Map("codes" -> Set(s"$dir/codes/p1.parquet", s"$dir/codes/p2.parquet")))
    UpdateMarker.write(fs, marker, state)
    assert(!fs.listStatus(new Path(dir)).exists(
        _.getPath.getName.startsWith("_inflight.tmp")),
      "tmp file left behind")
    assert(UpdateMarker.read(fs, marker).contains(state))
    val e = intercept[IllegalStateException] {
      UpdateMarker.write(fs, marker, state)
    }
    assert(e.getMessage.contains("concurrent"))
    // the collision error is the multi-writer OPERATIONAL contract's
    // front line — it must say what the collision means (a LIVE
    // writer, not a crash: crashed markers self-heal at entry) and
    // name the remedy (one scheduler lane / an external lease or
    // queue, retry after the holder; never hand-delete a live claim)
    assert(e.getMessage.contains("LIVE"), e.getMessage)
    assert(e.getMessage.contains("lease/queue"), e.getMessage)
    assert(e.getMessage.contains("RETRY"), e.getMessage)
    assert(e.getMessage.contains("never delete a live marker"),
      e.getMessage)
    // the claim is atomic even when the first writer died BEFORE its
    // content rename: a bare zero-length claim still excludes a
    // second write()
    UpdateMarker.remove(fs, marker)
    assert(fs.createNewFile(marker))
    val e2 = intercept[IllegalStateException] {
      UpdateMarker.write(fs, marker, state)
    }
    assert(e2.getMessage.contains("concurrent"))
    UpdateMarker.remove(fs, marker)
  }

  test("a zero-length marker is a pre-mutation claim — spent safely " +
      "once AGED (no healing), held while young (a live writer may " +
      "be mid-claim); a non-empty garbage marker refuses to settle") {
    val dir = s"$tmp/b"
    fs.mkdirs(new Path(dir))
    val marker = UpdateMarker.markerPath(dir)
    def age(): Unit = fs.setTimes(marker,
      System.currentTimeMillis() - 2 * UpdateMarker.ClaimGraceMs, -1)
    // a FRESH zero-length claim could be a LIVE writer between its
    // createNewFile and its content rename — read() must NOT spend
    // it (a settlement that cleared it would let both writers
    // proceed); it fails loudly like write()'s own guard
    fs.create(marker, true).close()
    val eLive = intercept[IllegalStateException] {
      UpdateMarker.read(fs, marker)
    }
    assert(eLive.getMessage.contains("concurrent"))
    assert(fs.exists(marker), "a live claim was spent")
    // aged past the grace period = a writer died inside write(),
    // before any store mutation: read() clears the claim and reports
    // no marker, and the settlement paths proceed without healing
    age()
    assert(UpdateMarker.read(fs, marker).isEmpty)
    assert(!fs.exists(marker), "spent claim not cleared")
    // settlement against a spent claim heals nothing: the append
    // stage's file is beyond the (absent) snapshot, and a claim read
    // as an empty-listing marker would delete it
    val stages = Map("codes" -> s"$dir/codes", "stats" -> s"$dir/stats")
    val appended = new Path(s"$dir/codes/part-0.parquet")
    fs.create(appended, true).close()
    fs.create(new Path(s"$dir/stats/part-0.parquet"), true).close()
    fs.create(marker, true).close()
    age()
    assert(!UpdateMarker.settle(spark, fs, dir, stages, None))
    assert(fs.exists(appended), "a pre-mutation claim healed stage files")
    assert(UpdateMarker.read(fs, marker).exists(_.listings("codes")
        .contains(fs.makeQualified(appended).toString)),
      "settle did not replace the spent claim with its own marker")
    UpdateMarker.remove(fs, marker)
    // NON-EMPTY garbage could be a truncated real marker: fail loudly
    val out = fs.create(marker, true)
    try out.write("garbage\n".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalStateException] {
      UpdateMarker.read(fs, marker)
    }
    assert(e.getMessage.contains("corrupt"))
    intercept[IllegalStateException] {
      UpdateMarker.settle(spark, fs, dir, stages, None)
    }
    assert(fs.exists(appended), "a corrupt marker healed stage files")
    UpdateMarker.remove(fs, marker)
  }

  test("writeApplied replaces the record atomically (tmp+rename; " +
      "no truncated id at the final name)") {
    val dir = s"$tmp/c"
    fs.mkdirs(new Path(dir))
    UpdateMarker.writeApplied(fs, dir, "batch-1")
    assert(UpdateMarker.readApplied(fs, dir).contains("batch-1"))
    UpdateMarker.writeApplied(fs, dir, "batch-2")
    assert(UpdateMarker.readApplied(fs, dir).contains("batch-2"))
    assert(!fs.exists(new Path(s"$dir/_applied.tmp")),
      "tmp file left behind")
  }

  test("a failed rename is loud, not silent") {
    // Hadoop's FileSystem.rename reports many failures by returning
    // FALSE rather than throwing (dest exists as a file is the
    // deterministic local-fs case); the checked wrapper must turn
    // that into a throw and leave the source where it was
    val dir = s"$tmp/d"
    val src = new Path(s"$dir/stage")
    fs.mkdirs(src)
    fs.create(new Path(src, "part-0.parquet"), true).close()
    val dest = new Path(s"$dir/dest")
    fs.create(dest, true).close() // plain file occupies the destination
    val e = intercept[IllegalArgumentException] {
      UpdateMarker.rename(fs, src, dest)
    }
    assert(e.getMessage.contains("rename"))
    assert(fs.exists(new Path(src, "part-0.parquet")),
      "failed rename must not move data")
  }
}
