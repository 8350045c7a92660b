package perfbench

import graft.sds.{Queries, Scd2Store}

/** One REST-style read: the op, its arguments, and (once run) what it
  * returned. `at` is an as-of block or `since` cursor; `n` a number
  * argument (epoch seconds for `valid_at`). */
final case class ReadReq(op: String, table: String = "", key: String = "", at: Long = 0L,
                         n: Long = 0L, q: String = "")

/** The read mix the reporting store serves (`graft.sds.Queries` and the
  * store's own `asOf`/`changes`), with each op's expected result size
  * under the reference model. Results are materialized on the driver, as
  * an API handler would. */
object Reads {
  val point: Seq[String] = Seq("by_key", "org_profile", "org_profile_asof", "history")
  val scan: Seq[String] = Seq("asof_near", "asof_deep", "certs_resolved", "valid_at", "search",
    "request_counts", "changes")
  val all: Seq[String] = point ++ scan
  /** Fixed op orders of the two read-phase readers. By-key GETs lead the
    * point mix, as for a REST API; every op appears in each run. */
  val pointCycle: Seq[String] = Seq("by_key", "org_profile", "by_key", "history", "by_key",
    "org_profile_asof")
  val scanCycle: Seq[String] = scan

  private val byKeyTables = Seq(Kind.Agent -> "agents", Kind.Certificate -> "certificates",
    Kind.Request -> "requests", Kind.Assertion -> "assertions", Kind.Organization -> "organizations",
    Kind.Organization -> "contacts")
  private val historyTables = Seq(Kind.Organization -> "organizations", Kind.Certificate -> "certificates",
    Kind.Agent -> "agents", Kind.Assertion -> "assertions")
  private val asOfTables = Seq("agents", "certificates", "requests")
  private val changeTables = Seq("assertions", "certificates", "organizations")

  /** A request for `op` with seeded arguments; `tag` is the newest
    * committed block, so as-of blocks always lie in committed history. */
  def request(op: String, gen: Gen, r: java.util.Random, tag: Long): ReadReq = {
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def key(k: Kind): String = gen.idOf(k, gen.drawKey(k, r))
    op match {
      case "by_key" => val (k, t) = pick(byKeyTables); ReadReq(op, t, key(k))
      case "org_profile" => ReadReq(op, key = key(Kind.Organization))
      case "org_profile_asof" =>
        ReadReq(op, key = key(Kind.Organization), at = math.max(1L, tag - r.nextInt(50)))
      case "history" => val (k, t) = pick(historyTables); ReadReq(op, t, key(k))
      case "asof_near" => ReadReq(op, pick(asOfTables), at = math.max(1L, tag - 1 - r.nextInt(5)))
      case "asof_deep" => ReadReq(op, pick(asOfTables), at = 1L + r.nextInt(math.max(1, (tag / 10).toInt)))
      case "certs_resolved" => ReadReq(op)
      case "valid_at" => ReadReq(op, n = gen.EpochBase + r.nextInt(1000) * 86400L)
      case "search" => ReadReq(op, q = gen.searchWord(r))
      case "request_counts" => ReadReq(op)
      case "changes" => ReadReq(op, pick(changeTables), at = math.max(0L, tag - 1 - r.nextInt(20)))
    }
  }

  /** Run a read; returns the number of rows it materialized. */
  def run(store: Scd2Store, q: Queries, r: ReadReq): Long = (r.op match {
    case "by_key" => q.byKey(r.table, r.key)
    case "org_profile" => q.organizationProfile(r.key)
    case "org_profile_asof" => q.organizationProfile(r.key, Some(r.at))
    case "history" => q.history(r.table, Model.scopeCol(r.table), r.key)
    case "asof_near" | "asof_deep" => store.asOf(r.table, r.at)
    case "certs_resolved" => q.certificatesResolved()
    case "valid_at" => q.certificatesValidAt(r.n)
    case "search" => q.searchFactories(r.q)
    case "request_counts" => q.requestCountsByStatus()
    case "changes" => store.changes(r.table, r.at)
  }).collect().length.toLong

  /** The model's row count for a read. */
  def expect(m: Model, r: ReadReq): Long = r.op match {
    case "by_key" => m.expectByKey(r.table, r.key)
    case "org_profile" => m.expectProfile(r.key, None)
    case "org_profile_asof" => m.expectProfile(r.key, Some(r.at))
    case "history" => m.expectHistory(r.table, r.key)
    case "asof_near" | "asof_deep" => m.expectAsOf(r.table, r.at)
    case "certs_resolved" => m.expectCertsResolved()
    case "valid_at" => m.expectValidAt(r.n)
    case "search" => m.expectSearch(r.q)
    case "request_counts" => m.expectRequestStatuses()
    case "changes" => m.expectChanges(r.table, r.at)
  }
}
