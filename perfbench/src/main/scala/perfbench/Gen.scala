package perfbench

import scala.collection.mutable

import graft.sds.Fixtures
import Fixtures.{Change, jstr}

/** Sizes of one generated block log: entities across all types, and
  * state changes per block. */
final case class GenConfig(keyspace: Int, changesPerBlock: Int)

/** One generated block: its EventList JSON line is all the program sees;
  * `changes` are the same changes in the model's terms. */
final case class Block(num: Long, id: String, json: String, changes: Seq[MChange])

/** Seeded generator of certificate-registry blocks. Every draw comes from
  * one `java.util.Random(seed)` in a fixed order, so a seed fixes the log.
  * It keeps the reference model current as it goes (it needs the model to
  * DELETE only live assertions), so after generating a block the model
  * holds the expected state through that block.
  *
  * Mix: agents, organizations (factories with an address, certifying
  * bodies with accreditations, standards bodies; each with contacts and
  * authorizations — one change fans out to up to 5 tables), certificates
  * referencing organizations and standards, requests, standards with
  * versions, and assertions with DELETEs and later re-SETs. Keys are Zipf
  * over each type's share of the keyspace; no address changes twice in
  * one block. */
final class Gen(seed: Long, cfg: GenConfig, val model: Model = new Model) {
  import Gen._
  private val rng = new java.util.Random(seed)
  private val version = mutable.HashMap.empty[String, Int]
  private val addresses = mutable.HashMap.empty[String, String]

  // (kind, share of changes, share of keyspace)
  private val mix: Seq[(Kind, Double, Double)] = Seq(
    (Kind.Agent, 0.18, 0.20), (Kind.Organization, 0.22, 0.24),
    (Kind.Certificate, 0.20, 0.20), (Kind.Request, 0.14, 0.14),
    (Kind.Standard, 0.04, 0.04), (Kind.Assertion, 0.22, 0.18))
  private val keys: Map[Kind, Int] =
    mix.map { case (k, _, ks) => k -> math.max(10, (cfg.keyspace * ks).toInt) }.toMap
  private val zipf: Map[Kind, Zipf] = keys.map { case (k, n) => k -> new Zipf(n, ZipfS) }
  private val kindCdf: Array[Double] = mix.map(_._2).scanLeft(0.0)(_ + _).tail.toArray

  /** Zipf-popular key index of a kind (rank scattered over the space). */
  def drawKey(k: Kind, r: java.util.Random = rng): Int = {
    val n = keys(k)
    ((zipf(k).rank(r).toLong * 7919L) % n).toInt
  }

  def idOf(k: Kind, i: Int): String = k match {
    case Kind.Agent => s"agent_$i"
    case Kind.Organization => s"org_$i"
    case Kind.Certificate => s"cert_$i"
    case Kind.Request => s"req_$i"
    case Kind.Standard => s"std_$i"
    case Kind.Assertion => s"asrt_$i"
  }

  private def address(k: Kind, id: String): String = addresses.getOrElseUpdate(id, k match {
    case Kind.Agent => Fixtures.agentAddress(id)
    case Kind.Organization => Fixtures.orgAddress(id)
    case Kind.Certificate => Fixtures.certAddress(id)
    case Kind.Request => Fixtures.requestAddress(id)
    case Kind.Standard => Fixtures.standardAddress(id)
    case Kind.Assertion => Fixtures.assertionStateAddress(id)
  })

  /** Generate block `num` with id `id`, entering it into the model first
    * (a known number under a new id is a fork and rewinds the model). */
  def block(num: Long, id: String, changes: Int): Block = {
    model.enterBlock(num, id)
    val used = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[(Change, MChange)]
    var attempts = 0
    while (out.size < changes && attempts < changes * 4) {
      attempts += 1
      val u = rng.nextDouble()
      val kind = mix(kindCdf.indexWhere(u < _) match { case -1 => mix.size - 1; case k => k })._1
      val i = drawKey(kind)
      val id = idOf(kind, i)
      if (used.add(id)) {
        val c =
          if (kind == Kind.Assertion && model.isLive("assertions", id) && rng.nextDouble() < DeleteShare)
            (Change(address(kind, id), "DELETE", ""), MDelete(id))
          else {
            val v = version.getOrElse(id, 0) + (if (rng.nextDouble() < DupShare) 0 else 1)
            version(id) = v
            val (json, rows) = entity(kind, i, id, v, num)
            (Change(address(kind, id), "SET", Fixtures.container(json)), MSet(kind, id, rows))
          }
        out += c
        model.apply(num, c._2)
      }
    }
    Block(num, id, Fixtures.batch(num, id, out.map(_._1).toSeq), out.map(_._2).toSeq)
  }

  // ---- entity payloads: wire JSON + the model's rows -------------------

  private val words = Seq("Cedar", "Harbor", "Summit", "Aurora", "Granite", "Meadow", "Falcon",
    "Willow", "Beacon", "Ember", "Juniper", "Orchid", "Quarry", "Ridge", "Tundra", "Vale")
  private val orgKinds = Seq("FACTORY" -> "Factory", "CERTIFYING_BODY" -> "CertifyingBody",
    "STANDARDS_BODY" -> "StandardsBody")
  private val statuses = Seq("OPEN" -> "Open", "IN_PROGRESS" -> "InProgress",
    "CLOSED" -> "Closed", "CERTIFIED" -> "Certified", "PRE_CERTIFIED" -> "PreCertified")
  val EpochBase = 1600000000L

  /** Organization type by index: 60% factories, 30% certifying bodies,
    * 10% standards bodies — fixed per id, so a re-SET keeps its type. */
  def orgType(i: Int): Int = i % 10 match { case d if d < 6 => 0; case d if d < 9 => 1; case _ => 2 }
  private def orgOfType(t: Int, h: Int): String = {
    val n = keys(Kind.Organization)
    val base = (math.abs(h.toLong * 31L) % math.max(1, n / 10)).toInt * 10
    val digit = t match { case 0 => h % 6; case 1 => 6 + h % 3; case _ => 9 }
    idOf(Kind.Organization, math.min(base + digit, n - 1))
  }
  private def stdOf(h: Int): String = idOf(Kind.Standard, math.abs(h) % keys(Kind.Standard))
  def searchWord(r: java.util.Random): String = words(r.nextInt(words.size)).toLowerCase

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def s(v: String): String = jstr(v)

  /** Wire JSON of one entity version, and the rows each of its tables
    * should then hold (values in table-schema order, as `Decode` maps
    * them: enums renamed, "" and absent optional strings as null). */
  private def entity(kind: Kind, i: Int, id: String, v: Int, num: Long)
      : (String, Map[String, Seq[IndexedSeq[Any]]]) = kind match {
    case Kind.Agent =>
      val org = orgOfType(i % 3, i)
      val name = s"agent $i v$v"
      (obj("public_key" -> s(id), "organization_id" -> s(org), "name" -> s(name),
        "timestamp" -> num.toString),
        Map("agents" -> Seq(IndexedSeq(id, org, name, num))))

    case Kind.Organization =>
      val (wire, label) = orgKinds(orgType(i))
      val name = s"${words(i % 16)} ${words((i / 16 + v) % 16)} $label"
      val contacts = (0 until 1 + (i + v) % 2).map(j =>
        IndexedSeq(id, s"contact $j of $id", s"555-$i-$j", "en"))
      val auths = (0 until (i + v) % 3).map(j =>
        IndexedSeq(id, s"key_${i}_$j", if (j == 0) "Admin" else "Transactor"))
      val accreds = if (wire != "CERTIFYING_BODY") Nil else (0 until 1 + (i + v) % 2).map(j =>
        IndexedSeq(id, stdOf(i + j), s"v${1 + j}", orgOfType(2, i + j), EpochBase + j,
          EpochBase + 400L * 86400 + v))
      val address = if (wire != "FACTORY") Nil else
        Seq(IndexedSeq(id, s"$i Mill Road", null, words((i + 3) % 16), null, "NZ", f"${i % 10000}%04d"))
      val json = obj(Seq("id" -> s(id), "name" -> s(name), "organization_type" -> s(wire),
        "contacts" -> arr(contacts.map(c => obj("name" -> s(c(1).toString),
          "phone_number" -> s(c(2).toString), "language_code" -> s(c(3).toString)))),
        "authorizations" -> arr(auths.map(a => obj("public_key" -> s(a(1).toString),
          "role" -> s(a(2).toString.toUpperCase))))) ++
        (if (accreds.isEmpty) Nil else Seq("certifying_body_details" -> obj("accreditations" ->
          arr(accreds.map(a => obj("standard_id" -> s(a(1).toString), "standard_version" -> s(a(2).toString),
            "accreditor_id" -> s(a(3).toString), "valid_from" -> a(4).toString, "valid_to" -> a(5).toString)))))) ++
        address.map(a => "factory_details" -> obj("address" -> obj("street_line_1" -> s(a(1).toString),
          "city" -> s(a(3).toString), "state_province" -> s(""), "country" -> s(a(5).toString),
          "postal_code" -> s(a(6).toString)))): _*)
      (json, Map("organizations" -> Seq(IndexedSeq(id, name, label)), "contacts" -> contacts,
        "authorizations" -> auths, "accreditations" -> accreds, "addresses" -> address))

    case Kind.Certificate =>
      val factory = orgOfType(0, i)
      val cb = orgOfType(1, i + 1)
      val std = stdOf(i)
      val from = EpochBase + ((i * 7L + v * 13L) % 1000) * 86400
      val to = from + (30 + (i + v) % 700) * 86400L
      (obj("id" -> s(id), "certifying_body_id" -> s(cb), "factory_id" -> s(factory),
        "standard_id" -> s(std), "standard_version" -> s("v1"),
        "valid_from" -> from.toString, "valid_to" -> to.toString),
        Map("certificates" -> Seq(IndexedSeq(id, cb, factory, std, "v1", from, to))))

    case Kind.Request =>
      val (wire, label) = statuses((i + v) % statuses.size)
      val (std, factory, date) = (stdOf(i), orgOfType(0, i), EpochBase + num)
      (obj("id" -> s(id), "status" -> s(wire), "standard_id" -> s(std),
        "factory_id" -> s(factory), "request_date" -> date.toString),
        Map("requests" -> Seq(IndexedSeq(id, factory, std, label, date))))

    case Kind.Standard =>
      val versions = (0 until 1 + (i + v) % 3).map(j =>
        IndexedSeq(id, s"v${j + 1}", s"https://standards.example/$id/$j", s"$id revision $j",
          EpochBase + j * 86400L))
      val (org, name) = (orgOfType(2, i), s"Standard $i")
      (obj("id" -> s(id), "organization_id" -> s(org), "name" -> s(name),
        "versions" -> arr(versions.map(x => obj("version" -> s(x(1).toString), "link" -> s(x(2).toString),
          "description" -> s(x(3).toString), "approval_date" -> x(4).toString)))),
        Map("standards" -> Seq(IndexedSeq(id, org, name)), "standard_versions" -> versions))

    case Kind.Assertion =>
      val (wire, label) = Seq("FACTORY" -> "Factory", "CERTIFICATE" -> "Certificate",
        "STANDARD" -> "Standard")((i + v) % 3)
      val (addr, assertor, obj_) = (address(kind, id), s"agent_${i % 97}", orgOfType(0, i))
      (obj("id" -> s(id), "address" -> s(addr), "assertor_pub_key" -> s(assertor),
        "assertion_type" -> s(wire), "object_id" -> s(obj_)),
        Map("assertions" -> Seq(IndexedSeq(id, addr, assertor, label, obj_, null))))
  }
}

object Gen {
  /** Zipf exponent of key popularity. */
  val ZipfS = 0.9
  /** Share of changes to a live assertion that DELETE it. */
  val DeleteShare = 0.25
  /** Share of SETs that repeat the entity's previous content. */
  val DupShare = 0.1
}

/** Zipf(s) ranks over [0, n) by inverse-CDF binary search. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def rank(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Names a fresh block id for block `num` on chain `fork`. */
object BlockIds {
  def apply(num: Long, fork: Int): String = f"blk$num%08d-f$fork"
}

