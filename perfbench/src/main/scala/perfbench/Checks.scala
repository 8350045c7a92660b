package perfbench

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sds.SdsStore

/** Untimed post-run checks of the store against the reference model. */
object Checks {
  final case class Outcome(name: String, ok: Boolean, detail: String)

  /** One Spark pass per table: live-row count, a fingerprint of the live
    * rows' full content, total version rows, and version intervals of one
    * scope that overlap — which includes two live versions of one key.
    * Then the blocks log against the model's post-fork chain. */
  def store(store: SdsStore, model: Model,
            parallel: Seq[() => Outcome] => Seq[Outcome]): Seq[Outcome] = {
    val tableChecks = parallel(Model.tableNames.map { t => () =>
      val k = col(Model.scopeCol(t))
      val s = col("start_block_num")
      val e = col("end_block_num")
      val isLive = e === lit(Model.Max)
      val w = Window.partitionBy(k).orderBy(s, e)
      val all = Model.schema(t).fieldNames.map(col)
      val r = store.table(t)
        .select(all :+ lead(s, 1).over(w).as("_nx"): _*)
        .agg(
          coalesce(sum(when(isLive, 1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(isLive, xxhash64(all: _*).bitwiseAND(lit(0xffffffffL))).otherwise(0L)), lit(0L)),
          count(lit(1)),
          coalesce(sum(when(col("_nx") > s && e > col("_nx"), 1L).otherwise(0L)), lit(0L)))
        .head()
      val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val want = (model.liveRows(t).size.toLong, model.liveFingerprint(t), model.rows(t).size.toLong, 0L)
      Outcome(s"table:$t", got == want,
        s"(live, fingerprint, rows, overlaps) store=$got model=$want")
    })
    val stored = store.table("blocks").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val chain = model.chain.toMap
    val blocks = Outcome("blocks", stored == chain,
      s"store=${stored.size} blocks, model=${chain.size} blocks, " +
        s"differing=${(stored.keySet ++ chain.keySet).count(b => stored.get(b) != chain.get(b))}")
    tableChecks :+ blocks
  }
}
