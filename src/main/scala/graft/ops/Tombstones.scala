package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE definition of the tombstone read-side machinery all three
  * persisted stores share ([[CurationStore]], [[AnnIndexStore]],
  * [[TextIndexStore]]): the stage probe, the broadcast-or-shuffle
  * size decision, and the masking anti-join. Centralized for the
  * same reason the [[UpdateMarker]] writer lifecycle is — the
  * protocol must not fork per store (the round-14 review found
  * exactly that drift: one store restricted deletes to live ids
  * while the other two tombstoned never-stored ids). Each store
  * keeps only what is genuinely its own: the tombstone directory
  * layout and WHICH columns of which stages mask.
  */
private[ops] object Tombstones {

  /** Ceiling (bytes of tombstone parquet) up to which every store's
    * deleted-id mask rides reads as a BROADCAST; past it the mask
    * degrades to a shuffle anti-join instead of OOMing. Hitting it
    * means the store's compact() is overdue. */
  val BroadcastMaxBytes = "spark.graft.store.tombBroadcastMaxBytes"
  private val broadcastDefault = 32L * 1024 * 1024

  def broadcastMaxBytes(s: SparkSession): Long =
    s.conf.get(BroadcastMaxBytes, broadcastDefault.toString).toLong

  /** Where a read's tombstone set comes from: the LIVE stage
    * directory (listed at read time — every current-pin read), or a
    * PINNED file manifest (a [[StoreVersions]] time-travel
    * snapshot's listing, path + bytes captured at flip time). The
    * two make identical mask decisions — `Pinned` just freezes the
    * listing the `Live` form would have produced at that epoch. */
  sealed trait Src
  final case class Live(dir: String) extends Src
  final case class Pinned(files: Seq[(String, Long)]) extends Src

  private def listing(s: SparkSession,
      src: Src): Seq[(String, Long)] = src match {
    case Pinned(files) => files
    case Live(dir) =>
      val p = new Path(dir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.toString, st.getLen))
  }

  /** The store's tombstoned ids, when the source holds committed
    * files. */
  def ifAny(s: SparkSession, src: Src): Option[DataFrame] = {
    val files = listing(s, src)
    if (files.isEmpty) None
    else Some(s.read.parquet(files.map(_._1): _*))
  }

  /** Broadcast-or-shuffle decision by ON-DISK tombstone bytes (a
    * file-listing read — or the pinned listing — no job): below the
    * ceiling the deleted-id mask rides reads as a broadcast; past it
    * readers degrade to the shuffle anti-join instead of OOMing —
    * the degrade-don't-OOM rule. Hitting the ceiling means compact()
    * is overdue (compaction makes removals physical and empties the
    * set). */
  private def broadcastable(s: SparkSession, src: Src): Boolean =
    listing(s, src).map(_._2).sum <= broadcastMaxBytes(s)

  /** Drop tombstoned ids' rows from a stage view, matching the
    * store's `idCol` against each of `onCols` in turn (a pairs stage
    * masks both endpoints): broadcast anti-join while the set is
    * small, shuffle past the ceiling; the stage's column order is
    * restored afterwards (consumers compare frames positionally).
    * A mask is a join ABOVE the stage scan, so pushed filters and
    * partition/bucket pruning on the stage still bind.
    */
  def mask(s: SparkSession, df: DataFrame, idCol: String,
      src: Src, onCols: Seq[String]): DataFrame =
    ifAny(s, src) match {
      case None => df
      case Some(t) =>
        val ids = t.select(col(idCol)).distinct()
        val bc = broadcastable(s, src)
        val masked = onCols.foldLeft(df) { (acc, c) =>
          val rhs = ids.select(col(idCol).as(c))
          acc.join(if (bc) broadcast(rhs) else rhs, Seq(c), "left_anti")
        }
        masked.select(df.columns.map(col).toIndexedSeq: _*)
    }
}
