package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scan-parallelism repair for UNSPLITTABLE small inputs (optimization
  * guide §2.5, "input skew": *one huge unsplittable file … otherwise
  * repartition immediately after the read*).
  *
  * The bench tables are single-row-group parquet files, which parquet
  * cannot split below file grain: every scan stage — and everything
  * pipelined into it (text kernels, shingling, percentile partials,
  * Expand aggregations, checkpoint materialization) — runs in ONE task
  * regardless of core count. Operators whose cost is scan-side compute
  * are then serial with 31 idle cores.
  *
  * `Spread.bySize` pays one round-robin exchange of the (tiny) input to
  * restore parallelism, but ONLY when the listed input under the data dir
  * is at most [[MaxInputBytes]] (1 GiB) — a metadata-only file-listing
  * check ([[InputSize]]), decided before any job runs. At 100 TB the
  * inputs carry thousands of row groups, the scan parallelizes
  * naturally, the threshold test fails, and the repartition
  * is NEVER planned — so the at-scale plan is untouched (no extra
  * exchange of bulk data). Partition count follows the session's
  * `defaultParallelism` (= cores in local mode, executor slots on a
  * cluster), so the driver's reduced-core scaling runs see proportional
  * spreads rather than a constant tuned to 32.
  *
  * Row-level semantics are unchanged: round-robin repartition is
  * deterministic under retry (`spark.sql.execution.sortBeforeRepartition`
  * stays on), and every caller is an order-independent computation
  * (integer-cent sums, exact percentiles, shingle sets) gated against the
  * DuckDB oracle.
  */
object Spread {

  val MaxInputBytes: Long = 1L << 30

  /** Repartition `df` to the session's default parallelism iff the named
    * tables under `dir` are (metadata-provably) small enough that the
    * exchange is cheaper than the serial scan it repairs.
    *
    * Keyless (round-robin) form — note it pays a local sort of the input
    * rows (`sortBeforeRepartition`, kept on for retry determinism), which
    * is fine for narrow rows but expensive when rows carry document text;
    * use [[byKey]] there.
    */
  def bySize(s: SparkSession, dir: String, tables: Seq[String])(
      df: DataFrame): DataFrame =
    ifSmall(s, dir, tables)(df)(
      _.repartition(s.sparkContext.defaultParallelism))

  /** Hash-repartition by `keys` under the same size gate: no
    * sort-before-repartition cost (partition assignment is a pure hash of
    * the key, deterministic under retry by construction), so wide text
    * rows move without a full-row sort. Use when a well-spread key exists.
    */
  def byKey(s: SparkSession, dir: String, tables: Seq[String],
            keys: Seq[org.apache.spark.sql.Column])(df: DataFrame): DataFrame =
    ifSmall(s, dir, tables)(df)(
      _.repartition(s.sparkContext.defaultParallelism, keys: _*))

  /** [[byKey]] + checkpoint: materializes the spread result so the
    * optimizer cannot sink downstream per-row kernels below the exchange
    * (where they would run at the unsplittable scan's parallelism — 1
    * task — and, under AQE's per-branch stage materialization, once per
    * consumer branch). Only fires under the same small-input gate, so at
    * scale neither the exchange nor the materialization exists.
    */
  def pinByKey(s: SparkSession, dir: String, tables: Seq[String],
               keys: Seq[org.apache.spark.sql.Column])(df: DataFrame): DataFrame =
    ifSmall(s, dir, tables)(df)(d =>
      Checkpoint(d.repartition(s.sparkContext.defaultParallelism, keys: _*)))

  /** [[bySize]] for inputs whose on-disk size the CALLER already measured
    * (catalog tables, computed locations) — same gate, same round-robin
    * spread, no path convention assumed.
    */
  def byKnownSize(s: SparkSession, inputBytes: Long)(df: DataFrame): DataFrame =
    if (small(inputBytes)) df.repartition(s.sparkContext.defaultParallelism)
    else df

  /** The WRITE-side counterpart of the scan spread, under the same
    * metadata gate: a small table about to be written lands as ONE file
    * per hive partition (keyed form) or one file total (keyless form), so
    * a following OPTIMIZE pass finds an already-compact layout and skips
    * its read+rewrite (Maintenance.compact's bin-packing skip). One tiny
    * exchange of MB-sized data buys back two Spark jobs per table. Above
    * the gate nothing is planned: at scale writers stay parallel and
    * OPTIMIZE does its real job.
    */
  def packForWrite(s: SparkSession, inputBytes: Long,
                   keys: Seq[org.apache.spark.sql.Column] = Seq.empty)(
      df: DataFrame): DataFrame =
    if (!small(inputBytes)) df
    else if (keys.isEmpty) df.repartition(1)
    else df.repartition(keys: _*)

  private def small(inputBytes: Long): Boolean = inputBytes <= MaxInputBytes

  private def ifSmall(s: SparkSession, dir: String, tables: Seq[String])(
      df: DataFrame)(f: DataFrame => DataFrame): DataFrame =
    if (small(InputSize.bytes(s, dir, tables.map(t => s"$t.parquet")))) f(df)
    else df
}
