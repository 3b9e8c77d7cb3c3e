package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** One raw CDC record, as the landed JSON carries it. `cdcTs` is the
  * ordering key of the intra-batch dedup; its micros are kept parsed. */
final case class CdcRecord(
    id: Long,
    country: String,
    district: String,
    visitTs: String,
    numVisitors: Long,
    op: String,
    cdcTs: String) {
  val cdcMicros: Long = CdcRecord.micros(cdcTs)
  /** The fields the pipeline's `data_hash` covers: equal content means an
    * equal hash, which is what the silver UPDATE guard compares. */
  def content: (Long, String, String, String, Long) =
    (id, country, district, visitTs, numVisitors)

  def json: String =
    s"""{"id": $id, "country": "$country", "district": "$district", """ +
      s""""visit_timestamp": "$visitTs", "num_visitors": $numVisitors, """ +
      s""""cdc_operation": "$op", "cdc_timestamp": "$cdcTs"}"""
}

object CdcRecord {
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss[.SSSSSS][.SSS]")
  def micros(ts: String): Long = {
    val t = LocalDateTime.parse(ts, Fmt)
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
  }

  /** A JSON-array file as the reference lands it: one object per line. */
  def file(records: Seq[CdcRecord]): String =
    records.map("  " + _.json).mkString("[\n", ",\n", "\n]\n")
}

/** A silver row as the model keeps it. */
final case class SilverRow(
    country: String, district: String, visitTs: String,
    numVisitors: Long, cdcTs: String)

/** Reference model of the bronze→silver→gold pipeline in plain Scala.
  *
  * Each batch is folded exactly as the engine's pipeline specifies it:
  * keep the latest event per id (by `cdc_timestamp`), then apply the
  * guarded three-clause silver merge — matched DELETE deletes, matched
  * UPDATE with different content updates, unmatched non-DELETE inserts —
  * and maintain gold as signed per-country deltas. Every applied batch is
  * one silver version; the model keeps each id's history, so any past
  * version and any change-feed range can be recomputed. */
final class CdcModel {
  private val live = mutable.HashMap.empty[Long, SilverRow]
  // ids in `live`, for uniform random choice; `slot` indexes into it
  private val liveIds = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  private val goldSums = mutable.TreeMap.empty[String, Long]
  // per id: (version, row after that version or None when deleted)
  private val history = mutable.HashMap.empty[Long, List[(Long, Option[SilverRow])]]
  // per version: change rows (id, change type, country, num_visitors)
  private val changeLog = mutable.HashMap.empty[Long, Vector[ChangeRow]]
  private var nextId = 0L
  var version = 0L

  def size: Int = liveIds.size
  def row(id: Long): Option[SilverRow] = live.get(id)
  def liveAt(i: Int): Long = liveIds(i)
  def gold: Map[String, Long] = goldSums.toMap
  def freshId(): Long = { val i = nextId; nextId += 1; i }
  /** Every id issued so far is below this. */
  def idBound: Long = nextId

  /** Silver as it stands now. */
  def silver: Map[Long, SilverRow] = live.toMap

  /** Gold recomputed from silver: what `recomputedGold` must return. */
  def recomputedGold: Map[String, Long] =
    live.values.groupMapReduce(_.country)(_.numVisitors)(_ + _)

  private def put(id: Long, r: SilverRow): Unit = {
    if (!live.contains(id)) { slot(id) = liveIds.size; liveIds += id }
    live(id) = r
  }

  private def remove(id: Long): Unit = {
    live.remove(id)
    val i = slot.remove(id).get
    val last = liveIds.remove(liveIds.size - 1)
    if (last != id) { liveIds(i) = last; slot(last) = i }
  }

  /** Folds one batch as one commit at `version`; returns its changes. */
  def apply(batch: Seq[CdcRecord], atVersion: Long): Vector[ChangeRow] = {
    batch.foreach(r => nextId = math.max(nextId, r.id + 1))
    val latest = batch.groupBy(_.id).values.map(_.maxBy(_.cdcMicros))
    val out = Vector.newBuilder[ChangeRow]
    for (r <- latest.toSeq.sortBy(_.id)) {
      val now = SilverRow(r.country, r.district, r.visitTs, r.numVisitors, r.cdcTs)
      live.get(r.id) match {
        case Some(old) if r.op == "DELETE" =>
          remove(r.id)
          out += ChangeRow(r.id, "delete", old.country, old.numVisitors)
          record(r.id, atVersion, None)
        case Some(old) if r.op == "UPDATE" &&
            (r.id, old.country, old.district, old.visitTs, old.numVisitors) != r.content =>
          put(r.id, now)
          out += ChangeRow(r.id, "update_preimage", old.country, old.numVisitors)
          out += ChangeRow(r.id, "update_postimage", now.country, now.numVisitors)
          record(r.id, atVersion, Some(now))
        case None if r.op != "DELETE" =>
          put(r.id, now)
          out += ChangeRow(r.id, "insert", now.country, now.numVisitors)
          record(r.id, atVersion, Some(now))
        case _ =>
      }
    }
    val changes = out.result()
    changes.foreach { c =>
      val signed = if (c.changeType == "update_preimage" || c.changeType == "delete")
        -c.numVisitors else c.numVisitors
      goldSums(c.country) = goldSums.getOrElse(c.country, 0L) + signed
    }
    changeLog(atVersion) = changes
    version = atVersion
    changes
  }

  private def record(id: Long, v: Long, r: Option[SilverRow]): Unit =
    history(id) = (v, r) :: history.getOrElse(id, Nil)

  /** The row of `id` in silver as of `v`. */
  def rowAt(id: Long, v: Long): Option[SilverRow] =
    history.getOrElse(id, Nil).find(_._1 <= v).flatMap(_._2)

  /** Change rows of versions `lo..hi`, each tagged with its version. */
  def changes(lo: Long, hi: Long): Seq[(Long, ChangeRow)] =
    (lo to hi).flatMap(v => changeLog.getOrElse(v, Vector.empty).map(v -> _))

  /** Gold as of silver version `v`. */
  def goldAt(v: Long): Map[String, Long] = {
    val sums = mutable.HashMap.empty[String, Long]
    for (u <- 1L to v; c <- changeLog.getOrElse(u, Vector.empty)) {
      val signed = if (c.changeType == "update_preimage" || c.changeType == "delete")
        -c.numVisitors else c.numVisitors
      sums(c.country) = sums.getOrElse(c.country, 0L) + signed
    }
    sums.toMap
  }
}

final case class ChangeRow(id: Long, changeType: String, country: String, numVisitors: Long)
