package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Stable 60-bit hashes usable from both Spark and the DuckDB oracle.
  *
  * `md5Long` takes the first 15 hex chars (60 bits) of md5 so the value fits
  * a signed 64-bit long in both engines; DuckDB reproduces it with
  * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`. md5 is ~5x slower than
  * xxhash64, so the scale path (`fastLong`) uses Spark's codegen'd
  * `xxhash64` — same API, not oracle-portable. Library entry points accept
  * either; the oracle-checked queries pin the portable one.
  */
object Hashing {

  /** Portable (Spark == DuckDB) 60-bit hash of a string column. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Seeded variant: independent hash family member i (for MinHash perms). */
  def md5LongSeeded(seed: Int, c: Column): Column =
    md5Long(concat(lit(s"$seed:"), c.cast("string")))

  /** DuckDB SQL fragment equivalent to [[md5Long]]. */
  def md5LongSql(expr: String): String =
    s"CAST('0x' || substr(md5(CAST($expr AS VARCHAR)),1,15) AS BIGINT)"

  /** Scale-path hash: whole-stage-codegen xxhash64 (not oracle-portable). */
  def fastLong(c: Column): Column = xxhash64(c)

  def fastLongSeeded(seed: Int, c: Column): Column = xxhash64(lit(seed), c)
}
