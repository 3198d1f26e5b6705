package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot differencing — derive a change feed (CDC) from two table
  * versions when the format has no built-in change log (plain parquet
  * tables, unlike Delta's CDF):
  *
  *   diff(old, new, keys) → one row per changed key with change_type ∈
  *   {insert, delete, update}.
  *
  * Plan shape: ONE full outer join on the business key, with both sides
  * pre-hashed to a single change-detection column — the row payload is
  * compared by md5, not column-by-column, so the join carries (key, hash)
  * plus whatever the caller selects, and the comparison cost is independent
  * of row width. At 100 TB this is the standard "reconcile yesterday's
  * snapshot" job: shuffle both sides once on the key; AQE handles skew.
  * (The same hash-compare drives the SCD2 merge, core.Scd2.changeHash.)
  */
object SnapshotDiff {

  private def nullSafeStr(c: Column): Column = coalesce(c.cast("string"), lit("NULL"))

  /** md5 over every non-key column, null-safe, in a caller-fixed order. */
  def payloadHash(cols: Seq[String]): Column =
    md5(concat_ws("||", cols.map(c => nullSafeStr(col(c))): _*))

  /** Change feed between two snapshots keyed by `keys`; `tracked` are the
    * payload columns compared for updates (defaults to all non-key columns
    * of the NEW snapshot, which both sides must share).
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
           tracked: Seq[String] = Seq.empty): DataFrame = {
    val payload =
      if (tracked.nonEmpty) tracked
      else newSnap.columns.filterNot(keys.contains).toSeq
    // null-safe (<=>) key equality: a null-keyed row present unchanged in
    // both snapshots must NOT surface as a phantom insert+delete pair
    // (plain `=` drops null matches; contrast Scd2, which preserves the
    // reference's null-drop semantics deliberately)
    val o = oldSnap.select(
      keys.map(c => col(c).as(s"_o_$c")) :+ payloadHash(payload).as("_old_hash"): _*)
    val n = newSnap.select(
      keys.map(c => col(c).as(s"_n_$c")) :+ payloadHash(payload).as("_new_hash"): _*)
    val cond = keys.map(c => col(s"_o_$c") <=> col(s"_n_$c")).reduce(_ && _)
    o.join(n, cond, "full_outer")
      .withColumn("change_type",
        when(col("_old_hash").isNull, "insert")
          .when(col("_new_hash").isNull, "delete")
          .when(col("_old_hash") =!= col("_new_hash"), "update"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(c =>
        coalesce(col(s"_o_$c"), col(s"_n_$c")).as(c)) :+ col("change_type"): _*)
  }
}
