package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** One stored version row of the reference model: the scope key its
  * version chain advances under, its `[start, end)` block interval, and
  * its column values in table-schema order (interval columns excluded). */
final class VRow(val table: String, val scope: String, val start: Long, var end: Long,
                 val values: IndexedSeq[Any]) {
  def live: Boolean = end == Model.Max
  def validAt(b: Long): Boolean = start <= b && b < end
  def apply(column: String): Any = values(Model.index(table)(column))
  /** The full row, interval included, as the store holds it. */
  def toRow: org.apache.spark.sql.Row = org.apache.spark.sql.Row.fromSeq(values :+ start :+ end)
}

/** A state change as the model sees it: `rows` holds the new row set of
  * every table the entity type writes (an empty set still closes the
  * previous version). */
sealed trait MChange
final case class MSet(kind: Kind, id: String, rows: Map[String, Seq[IndexedSeq[Any]]]) extends MChange
final case class MDelete(assertionId: String) extends MChange

/** Entity types of the certificate registry and the reporting tables each
  * one writes; the first table is the entity's own. */
sealed abstract class Kind(val name: String, val tables: Seq[String])
object Kind {
  case object Agent extends Kind("agent", Seq("agents"))
  case object Organization extends Kind("organization",
    Seq("organizations", "accreditations", "addresses", "authorizations", "contacts"))
  case object Certificate extends Kind("certificate", Seq("certificates"))
  case object Request extends Kind("request", Seq("requests"))
  case object Standard extends Kind("standard", Seq("standards", "standard_versions"))
  case object Assertion extends Kind("assertion", Seq("assertions"))
  val all: Seq[Kind] = Seq(Agent, Organization, Certificate, Request, Standard, Assertion)
}

/** Reference model of the SCD2 reporting store, written independently of
  * the program: plain Scala over block-ordered changes, with the
  * reference's semantics — a SET at block b closes the scope's live
  * version at b and opens a new one; an assertion DELETE closes it with
  * no successor; a block arriving with a known number but a new id is a
  * fork, which drops every version born at or after it and re-opens
  * every version it closed. */
final class Model {
  import Model.Max

  val tables: Map[String, mutable.HashMap[String, mutable.ArrayBuffer[VRow]]] =
    Model.tableNames.map(_ -> mutable.HashMap.empty[String, mutable.ArrayBuffer[VRow]]).toMap
  /** The block chain: block_num → block_id. */
  val chain: mutable.TreeMap[Long, String] = mutable.TreeMap.empty

  /** Rewind first if `num` is already on the chain under another id. */
  def enterBlock(num: Long, id: String): Unit = {
    if (chain.get(num).exists(_ != id)) rewind(num)
    chain(num) = id
  }

  def apply(num: Long, c: MChange): Unit = c match {
    case MSet(kind, id, rows) =>
      kind.tables.foreach { t =>
        val versions = tables(t).getOrElseUpdate(id, mutable.ArrayBuffer.empty)
        versions.foreach(r => if (r.live) r.end = num)
        rows.getOrElse(t, Nil).foreach(v => versions += new VRow(t, id, num, Max, v))
      }
    case MDelete(id) =>
      tables("assertions").get(id).foreach(_.foreach(r => if (r.live) r.end = num))
  }

  def rewind(fork: Long): Unit = {
    tables.values.foreach(_.values.foreach { versions =>
      versions.filterInPlace(_.start < fork)
      versions.foreach(r => if (r.end >= fork) r.end = Max)
    })
    chain.keys.filter(_ >= fork).toSeq.foreach(chain.remove)
  }

  def isLive(table: String, id: String): Boolean =
    tables(table).get(id).exists(_.exists(_.live))

  def rows(table: String): Iterator[VRow] = tables(table).valuesIterator.flatMap(_.iterator)
  def liveRows(table: String): Iterator[VRow] = rows(table).filter(_.live)
  def scopeRows(table: String, id: String): Seq[VRow] =
    tables(table).get(id).fold(Seq.empty[VRow])(_.toSeq)

  /** Order-free fingerprint of the live rows' full content — the same
    * sum `Checks` computes in Spark. */
  def liveFingerprint(table: String): Long =
    liveRows(table).map(r => Model.rowHash(table, r)).sum

  // ---- expected result sizes of the read mix -------------------------

  def expectByKey(table: String, id: String): Long = scopeRows(table, id).count(_.live)
  def expectProfile(orgId: String, at: Option[Long]): Long =
    scopeRows("organizations", orgId).count(r => at.fold(r.live)(r.validAt))
  def expectHistory(table: String, id: String): Long = scopeRows(table, id).size
  def expectAsOf(table: String, b: Long): Long = rows(table).count(_.validAt(b))
  def expectChanges(table: String, since: Long): Long =
    rows(table).count(r => r.start > since ||
      (r.start <= since && r.end > since && r.end != Max))

  def expectCertsResolved(): Long = {
    def liveCount(t: String): Map[String, Int] =
      liveRows(t).toSeq.groupBy(_.scope).view.mapValues(_.size).toMap
    val orgs = liveCount("organizations")
    val stds = liveCount("standards")
    liveRows("certificates").map { c =>
      orgs.getOrElse(c("factory_id").toString, 0).toLong *
        orgs.getOrElse(c("certifying_body_id").toString, 0) *
        math.max(1, stds.getOrElse(c("standard_id").toString, 0))
    }.sum
  }
  def expectValidAt(epoch: Long): Long = liveRows("certificates").count { c =>
    c("valid_from").asInstanceOf[Long] <= epoch && c("valid_to").asInstanceOf[Long] > epoch }
  def expectSearch(q: String): Long = liveRows("organizations").count { o =>
    o("organization_type") == "Factory" && o("name").toString.toLowerCase.contains(q.toLowerCase) }
  def expectRequestStatuses(): Long = liveRows("requests").map(_("status")).toSet.size.toLong
}

object Model {
  val Max: Long = Long.MaxValue
  val tableNames: Seq[String] = Kind.all.flatMap(_.tables)

  /** Scope-key column of each table (its SCD2 version-chain key). */
  val scopeCol: Map[String, String] = graft.sds.Schemas.tables.map { case (t, (_, k)) => t -> k.head }
  def schema(table: String): StructType = graft.sds.Schemas.tables(table)._1
  /** Column name → position in `VRow.values`. */
  val index: Map[String, Map[String, Int]] =
    tableNames.map(t => t -> schema(t).fieldNames.zipWithIndex.toMap).toMap

  /** Low 32 bits of Spark's `xxhash64` over every column of the row (the
    * sum of these stays far from overflow on both sides). */
  def rowHash(table: String, r: VRow): Long = {
    val lits = schema(table).fields.toSeq.zip(r.values :+ r.start :+ r.end).map {
      case (f, null) => Literal(null, f.dataType)
      case (f, v: String) => Literal(UTF8String.fromString(v), f.dataType)
      case (f, v) => Literal(v, f.dataType)
    }
    XxHash64(lits, 42L).eval(null).asInstanceOf[Long] & 0xffffffffL
  }
}
