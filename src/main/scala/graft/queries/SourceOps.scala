package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Source/sink format breadth beyond the reference's CSV + Parquet: JSON
  * lines and ORC, each proven by a lossless write→read→join→rollup whose
  * oracle computes the same rollup straight from the parquet originals —
  * any reader/writer asymmetry (type coercion, null handling, encoding)
  * breaks the hash.
  *
  * Scale notes: JSON is the interchange format (schema-on-read, explicit
  * `StructType` here — inference would scan twice); ORC is the columnar
  * alternative when the lake standardizes on it — same pushdown/pruning
  * machinery as parquet in Spark.
  */
object SourceOps {

  type Q = (SparkSession, String) => DataFrame

  /** JSON-lines round-trip: supplier → .jsonl → explicit-schema read →
    * broadcast-join nation → per-nation rollup.
    */
  def jsonRoundtrip: Q = (s, d) => {
    val tmp = Scratch.dir("graft_json")
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .coalesce(1).write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
    val back = s.read.schema(schema).json(tmp)
    back.join(broadcast(Tables.nation(s, d)),
        back("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        Num.moneySum(col("s_acctbal")).as("sum_acctbal"))
      .orderBy(col("n_name"))
  }

  val jsonRoundtripSql: String =
    s"""SELECT n_name, count(*) AS n_suppliers,
      |  ${Num.moneySumSql("s_acctbal")} AS sum_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Schema-evolution read: two parquet batches of orders written with
    * DIFFERENT schemas — v1 carries (o_orderkey, o_totalprice), v2 adds
    * o_orderpriority — read back in ONE `mergeSchema` scan; v1 rows
    * null-pad the new column. This is the lakehouse add-a-column contract:
    * old files are never rewritten, the reconciled schema is a footer
    * union. SCALE: schema reconciliation is planning-time metadata work
    * (file footers; a catalog pins the schema at 100 TB so no sampling is
    * needed); the data path stays a plain columnar scan with pushdown —
    * old files simply have no chunk for the new column.
    */
  def schemaEvolution: Q = (s, d) => {
    val tmp = Scratch.dir("graft_schema_evo")
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(tmp + "/v1")
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(tmp + "/v2")
    s.read.option("mergeSchema", "true").parquet(tmp + "/v1", tmp + "/v2")
      .groupBy(coalesce(col("o_orderpriority"), lit("(legacy)")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        Num.moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("priority"))
  }

  val schemaEvolutionSql: String =
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(legacy)'
      |    ELSE o_orderpriority END AS priority,
      |  count(*) AS n_orders, ${Num.moneySumSql("o_totalprice")} AS sum_price
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  /** ORC round-trip: events (timestamps included) → ORC → read → hourly
    * rollup. Timestamp fidelity through a second columnar format is the
    * point.
    */
  def orcRoundtrip: Q = (s, d) => {
    val tmp = Scratch.dir("graft_orc")
    Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour"), col("event_type"))
  }

  val orcRoundtripSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Fixed-width record round-trip — the mainframe/legacy-feed format the
    * `text` source + substring slicing handles without any parser
    * library: supplier encoded as zero-padded fixed columns (money as
    * OFFSET cents — lpad zero-fill breaks on a minus sign, so negatives
    * ride as `cents + 10⁹`), written via the text sink, sliced back by
    * position, decoded, and rolled up per nation. The oracle computes the
    * rollup from the raw table — any slicing/offset/cast asymmetry breaks
    * the hash.
    *
    * SCALE: text scan + substring projection is codegen'd scan-side work;
    * the encode is a single concat projection. Same shuffle geometry as
    * the parquet original.
    */
  def fixedWidthRoundtrip: Q = (s, d) => {
    val tmp = Scratch.dir("graft_fixedwidth")
    val Offset = 1000000000L
    Tables.supplier(s, d)
      .select(concat(
        lpad(col("s_suppkey").cast("string"), 10, "0"),
        lpad(col("s_nationkey").cast("string"), 5, "0"),
        lpad((Num.cents(col("s_acctbal")) + Offset).cast("string"), 15, "0"))
        .as("value"))
      .coalesce(1).write.mode("overwrite").text(tmp)
    val back = s.read.text(tmp).select(
      substring(col("value"), 1, 10).cast("long").as("s_suppkey"),
      substring(col("value"), 11, 5).cast("int").as("s_nationkey"),
      ((substring(col("value"), 16, 15).cast("long") - Offset).cast("double") / 100.0)
        .as("s_acctbal"))
    back.join(broadcast(Tables.nation(s, d)),
        back("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        Num.moneySum(col("s_acctbal")).as("sum_acctbal"),
        min(col("s_suppkey")).as("min_suppkey"))
      .orderBy(col("n_name"))
  }

  val fixedWidthRoundtripSql: String =
    s"""SELECT n_name, count(*) AS n_suppliers,
      |  ${Num.moneySumSql("s_acctbal")} AS sum_acctbal,
      |  CAST(min(s_suppkey) AS BIGINT) AS min_suppkey
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** The fixed-width feed again, but through the engine's own
    * DATASOURCE V2 implementation ([[graft.sources.FixedWidthSource]])
    * instead of `text`+substring: `spark.read.format(...)` with a layout
    * spec, a filter that PUSHES INTO the custom scan (evaluated during
    * record parse — `.explain` shows it under `PushedFilters`, asserted
    * in PlanSpec), and column pruning so only referenced byte ranges are
    * parsed. Money rides as offset cents exactly like
    * [[fixedWidthRoundtrip]]; the oracle recomputes the filtered rollup
    * from the raw table, so parse/pushdown/pruning asymmetries all break
    * the hash.
    */
  def fixedWidthDsv2: Q = (s, d) => {
    val tmp = Scratch.dir(
      s"graft_fixedwidth_dsv2_${java.lang.Integer.toHexString(d.hashCode)}")
    val Offset = 1000000000L
    val layout = "s_suppkey:long:0:10,s_nationkey:int:10:5,cents_off:long:15:15"
    // write THROUGH the custom sink: per-task staged files renamed on task
    // commit, _SUCCESS on job commit (the protocol a failed write hides
    // behind), records encoded by the source's own layout writer
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        (Num.cents(col("s_acctbal")) + Offset).as("cents_off"))
      .write.format("graft.sources.FixedWidthSource")
      .option("path", tmp).option("fields", layout)
      .mode("overwrite").save()
    val back = s.read.format("graft.sources.FixedWidthSource")
      .option("path", tmp)
      .option("fields", layout)
      .load()
      .filter(col("s_nationkey") < 13) // pushed into the custom scan
      .select(col("s_suppkey"), col("s_nationkey"),
        ((col("cents_off") - Offset).cast("double") / 100.0).as("s_acctbal"))
    back.join(broadcast(Tables.nation(s, d)),
        back("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        Num.moneySum(col("s_acctbal")).as("sum_acctbal"),
        min(col("s_suppkey")).as("min_suppkey"))
      .orderBy(col("n_name"))
  }

  val fixedWidthDsv2Sql: String =
    s"""SELECT n_name, count(*) AS n_suppliers,
      |  ${Num.moneySumSql("s_acctbal")} AS sum_acctbal,
      |  CAST(min(s_suppkey) AS BIGINT) AS min_suppkey
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_nationkey < 13
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** The manifest-log table format end-to-end: lineitem appended as three
    * committed versions, then aggregated from BOTH the version-2 snapshot
    * (time travel: first two slices only) and the tip (all rows). The
    * oracle recomputes each from the raw table with the matching slice
    * filters — hash equality proves commits are complete snapshots and
    * time travel reads exactly the pinned one.
    */
  def tableLog: Q = (s, d) => {
    val dir = Scratch.dir("tlog_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    (0 to 2).foreach(i =>
      graft.core.TableLog.append(s, dir, li.filter(col("l_orderkey") % 3 === i)))
    val atV2 = graft.core.TableLog.read(s, dir, version = Some(2L))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_v2"), sum(col("l_quantity")).as("qty_v2"))
    val atTip = graft.core.TableLog.read(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_tip"), sum(col("l_quantity")).as("qty_tip"))
    atV2.join(atTip, "l_returnflag").orderBy(col("l_returnflag"))
  }

  /** The SQL/CATALOG front door ([[graft.sources.GraftCatalog]]), gated
    * end to end: the same three-commit lineitem table as [[tableLog]] is
    * laid out under a warehouse root, the `graft` TableCatalog is
    * activated by runtime conf (catalogs load lazily — no session-build
    * hook needed), and the GATE QUERY ITSELF is `spark.sql` text over
    * `graft.gold.items` — tip via `spark.table`-style reference, v2 via
    * `VERSION AS OF` — resolved through the DSv2 ParquetScan over the
    * manifest FileIndex. Hash equality against the raw-parquet oracle
    * proves catalog resolution, snapshot isolation, and time travel
    * agree with the API path exactly (the reference's user surface is
    * `spark.table("gold.x")` everywhere —
    * reference: src/utils/silver_transformations.py:43).
    */
  def tableLogSqlFrontDoor: Q = (s, d) => {
    val wh = Scratch.dir("tlogsql_" + java.lang.Integer.toHexString(d.hashCode))
    val dir = s"$wh/gold/items"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    (0 to 2).foreach(i =>
      graft.core.TableLog.append(s, dir, li.filter(col("l_orderkey") % 3 === i)))
    // catalog name carries the dataset hash: CatalogManager caches the
    // catalog INSTANCE (and its warehouse) per name on first use, so a
    // fixed name would pin the first dataset's warehouse for the session
    val cat = "graft_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"""
      SELECT v2.l_returnflag, n_v2, qty_v2, n_tip, qty_tip
      FROM (SELECT l_returnflag, count(*) AS n_v2,
              CAST(sum(l_quantity) AS DOUBLE) AS qty_v2
            FROM $cat.gold.items VERSION AS OF 2 GROUP BY l_returnflag) v2
      JOIN (SELECT l_returnflag, count(*) AS n_tip,
              CAST(sum(l_quantity) AS DOUBLE) AS qty_tip
            FROM $cat.gold.items GROUP BY l_returnflag) tip
        ON v2.l_returnflag = tip.l_returnflag
      ORDER BY v2.l_returnflag""")
  }

  val tableLogSql: String =
    """WITH v2 AS (SELECT l_returnflag, count(*) AS n_v2,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_v2
      |  FROM lineitem WHERE l_orderkey % 3 IN (0, 1) GROUP BY l_returnflag),
      |tip AS (SELECT l_returnflag, count(*) AS n_tip,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_tip
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n_v2, qty_v2, n_tip, qty_tip
      |FROM v2 JOIN tip USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** Deletion vectors end-to-end, hash-gated: lineitem committed once,
    * then TWO merge-on-read deletes (`deleteWhereDv`) that never touch a
    * data file — each writes only a (file, row-index) sidecar. The gate
    * reads the tip (both deletes applied), time-travels to the
    * first-delete version (second delete invisible), and aggregates both;
    * the oracle recomputes the two views from the raw table with the
    * matching NOT-predicates. Hash equality proves the anti-join hides
    * EXACTLY the deleted rows — across accumulated vectors and version
    * pinning — and that the second delete's matching ran against the
    * already-dv-applied view.
    *
    * SCALE: the whole point of the feature — a selective DELETE on a
    * 100 TB table commits kilobytes of sidecar instead of rewriting every
    * file holding a matching row; the read-side cost is one anti-join
    * whose build side is the deleted-row count (broadcast-sized for the
    * selective deletes dvs exist for). Bulk deletes use the
    * copy-on-write path; OPTIMIZE materializes and retires the vectors.
    */
  def tableLogDv: Q = (s, d) => {
    val dir = Scratch.dir("tlog_dv_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_linestatus"), col("l_quantity"))
    graft.core.TableLog.append(s, dir, li)                              // v1
    graft.core.TableLog.deleteWhereDv(s, dir,
      col("l_returnflag") === "R" && col("l_quantity") > 45)            // v2
    graft.core.TableLog.deleteWhereDv(s, dir,
      col("l_linestatus") === "F" && col("l_quantity") < 5)             // v3
    val afterFirst = graft.core.TableLog.read(s, dir, version = Some(2L))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_v2"), sum(col("l_quantity")).as("qty_v2"))
    val tip = graft.core.TableLog.read(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_tip"), sum(col("l_quantity")).as("qty_tip"))
    afterFirst.join(tip, "l_returnflag").orderBy(col("l_returnflag"))
  }

  val tableLogDvSql: String =
    """WITH v2 AS (SELECT l_returnflag, count(*) AS n_v2,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_v2
      |  FROM lineitem
      |  WHERE NOT (l_returnflag = 'R' AND l_quantity > 45)
      |  GROUP BY l_returnflag),
      |tip AS (SELECT l_returnflag, count(*) AS n_tip,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_tip
      |  FROM lineitem
      |  WHERE NOT (l_returnflag = 'R' AND l_quantity > 45)
      |    AND NOT (l_linestatus = 'F' AND l_quantity < 5)
      |  GROUP BY l_returnflag)
      |SELECT l_returnflag, n_v2, qty_v2, n_tip, qty_tip
      |FROM v2 JOIN tip USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** The manifest-backed FileIndex (`TableLog.read`) hash-gated:
    * lineitem lands in THREE commits of disjoint orderkey thirds (per-file
    * `#stats=` min/max recorded) partitioned by return flag, and the gate
    * queries it with a plain WHERE on BOTH the partition column and the
    * stats column. Spark's planner hands those conjuncts to the custom
    * FileIndex, which prunes partitions from hive path segments and files
    * from manifest stats before any footer is opened (spec asserts the
    * numFiles metric). The oracle recomputes from the raw table — hash
    * equality proves automatic pruning is exactly lossless.
    *
    * SCALE: planning cost is manifest-resident (no object-store listing),
    * and a selective predicate reads only matching files' bytes — the
    * lakehouse data-skipping contract, engaged by the optimizer rather
    * than the caller.
    */
  def tableLogAuto: Q = (s, d) => {
    val dir = Scratch.dir("tlog_auto_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"))
    val maxKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val third = maxKey / 3 + 1
    (0 until 3).foreach(i => graft.core.TableLog.append(s, dir,
      li.filter(col("l_orderkey") >= i * third &&
        col("l_orderkey") < (i + 1) * third),
      partitionBy = Seq("l_returnflag"), statsCol = Some("l_orderkey")))
    graft.core.TableLog.read(s, dir)
      .filter(col("l_returnflag") === "A" && col("l_orderkey") <= third)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_linestatus"))
  }

  val tableLogAutoSql: String =
    """SELECT l_linestatus, count(*) AS n,
      |  CAST(sum(l_quantity) AS DOUBLE) AS qty,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |WHERE l_returnflag = 'A'
      |  AND l_orderkey <= (SELECT max(l_orderkey) // 3 + 1 FROM lineitem)
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** HIDDEN partitioning hash-gated: events land with a `days(ts)` +
    * `bucket(16, user_id)` layout (derived at write, recorded as
    * `#layout=` metadata, invisible to readers — the schema the gate
    * reads is exactly the raw one), and the query filters on the RAW
    * `ts` column over a one-week window. The FileIndex translates that
    * predicate to epoch-day directory bounds — pruning Spark cannot do
    * itself, since nothing relates `_tp_day_ts` to `ts` — and the oracle
    * recomputes from the raw table. Hash equality proves the
    * transform-pruned read is lossless at the window edges (inclusive /
    * exclusive boundaries land mid-directory).
    *
    * SCALE: the Iceberg hidden-partitioning contract — queries keep
    * writing `WHERE ts >= X`, operators re-layout by day or week or
    * bucket count without breaking a single query, and a time-window scan
    * touches only the matching day directories of a 100 TB table.
    */
  def tableLogHidden: Q = (s, d) => {
    val dir = Scratch.dir("tlog_hp_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // optimizeWrite: the shuffle-on-layout write emits ONE file per
    // layout directory instead of one per (task × directory) — without
    // it this gate wrote thousands of tiny files (19s at sf0.1, mostly
    // per-file overhead). bucket(4) sizes the days×bucket grid to the
    // data (~120 dirs at a month of events): hidden partitioning makes
    // layout an OPERATIONAL knob, and a right-sized grid is part of
    // operating it.
    graft.core.TableLog.append(s, dir, ev,
      transforms = Seq(graft.sources.DaysOf("ts"),
        graft.sources.BucketOf(4, "user_id")),
      optimizeWrite = true)
    graft.core.TableLog.read(s, dir)
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Num.moneySum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  val tableLogHiddenSql: String =
    s"""SELECT event_type, count(*) AS n,
      |  count(DISTINCT user_id) AS n_users,
      |  ${Num.moneySumSql("value")} AS sum_value,
      |  min(event_id) AS min_event, max(event_id) AS max_event
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** EQUALITY deletes hash-gated: lineitem committed once, then a
    * delete-by-KEY-LIST (`deleteKeys` — Iceberg's equality-delete format:
    * the commit writes ONLY the key sidecar, reading and rewriting zero
    * data files) removes every 50th orderkey. The gate aggregates the
    * visible snapshot plus a time-travel view; the oracle recomputes with
    * a NOT IN. Hash equality proves the key anti-join hides exactly the
    * listed keys' rows and nothing else.
    *
    * SCALE: the GDPR-shaped operation — "delete these 10k users" on a
    * 100 TB table costs writing a 10k-row sidecar; readers pay one
    * broadcast-sized anti-join until OPTIMIZE materializes it.
    */
  def tableLogEq: Q = (s, d) => {
    val dir = Scratch.dir("tlog_eq_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    graft.core.TableLog.append(s, dir, li)                              // v1
    val doomed = li.select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") % 50 === 0)
    graft.core.TableLog.deleteKeys(s, dir, doomed)                      // v2
    val tip = graft.core.TableLog.read(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_tip"), sum(col("l_quantity")).as("qty_tip"))
    val atV1 = graft.core.TableLog.read(s, dir, version = Some(1L))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_v1"))
    tip.join(atV1, "l_returnflag").orderBy(col("l_returnflag"))
  }

  val tableLogEqSql: String =
    """WITH tip AS (SELECT l_returnflag, count(*) AS n_tip,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_tip
      |  FROM lineitem WHERE l_orderkey % 50 <> 0
      |  GROUP BY l_returnflag),
      |v1 AS (SELECT l_returnflag, count(*) AS n_v1
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n_tip, qty_tip, n_v1
      |FROM tip JOIN v1 USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** The TABLE FORMAT as a streaming SOURCE, hash-gated — the other half
    * of the Delta streaming story (the sink gate below proves
    * exactly-once INGEST; this proves exactly-once TAILING). lineitem is
    * committed as three log versions, a real streaming query tails the
    * log through `TableLogStreamProvider` (offsets = version numbers,
    * per-batch file sets from manifest diffs, stock parquet read path)
    * into a memory sink, and the rollup of what ARRIVED must hash-match
    * the batch oracle over the raw table: a dropped version, a re-emitted
    * file, or a row lost at a batch boundary all move the counts/sums.
    *
    * SCALE: per-batch planning is two manifest reads and a set
    * difference; checkpoint state is one long. No directory listing,
    * no file-registry state — the log IS the registry.
    */
  def tableLogSource: Q = (s, d) => {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val wh = Scratch.dir("tlog_src_" + hex)
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_tls_" + hex
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = s"$wh/gold/src"
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    (0 to 2).foreach(i =>
      graft.core.TableLog.append(s, dir, li.filter(col("l_orderkey") % 3 === i)))
    val sink = "graft_tlog_source_sink_" + hex
    val ckpt = Scratch.dir(s"stream_ckpt_$sink")
    Scratch.wipe(ckpt)
    s.catalog.dropTempView(sink)
    // the CATALOG front door: the table advertises MICRO_BATCH_READ, so
    // `readStream.table` plans the DSv2 micro-batch stream — no provider
    // class name, same stock parquet partition readers per window
    val q = s.readStream.table(s"$cat.gold.src")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    s.table(sink)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  val tableLogSourceSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS DOUBLE) AS qty,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The TABLE FORMAT as a streaming sink, exactly-once, hash-gated: the
    * events file streams through `foreachBatch` into TableLog with one
    * idempotent transaction token per micro-batch, and EVERY batch is
    * delivered TWICE (the foreachBatch at-least-once contract made
    * concrete) — the second append must be a no-op via the `#txn=` log
    * check. The rollup of the final table hash-matches the batch
    * single-read oracle; one replayed row would move both the count and
    * the integer-micro sum.
    *
    * SCALE: this is the Delta streaming-sink pattern — per-batch token
    * in the commit log, checked inside the commit retry loop so
    * concurrent re-deliveries can't both land. State is one token per
    * batch in log metadata, not per-row bookkeeping.
    */
  def tableLogStream: Q = (s, d) => {
    import org.apache.spark.sql.types._
    val dir = Scratch.dir("tlog_stream_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .select(col("event_id"), col("event_type"), col("value"))
    // salt the checkpoint like the table dir: a fixed checkpoint shared
    // across data dirs would replay another SF's committed offsets
    val ckpt = Scratch.dir(
      "stream_ckpt_tlog_sink_" + java.lang.Integer.toHexString(d.hashCode))
    Scratch.wipe(ckpt)
    EventOps.withStatePartitions(s, EventOps.StatePartitions) {
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val b = batch.localCheckpoint()
          graft.core.TableLog.appendIdempotent(s, dir, b, s"sink-$id")
          // redelivery: same batch, same token -> must be a no-op
          graft.core.TableLog.appendIdempotent(s, dir, b, s"sink-$id")
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    graft.core.TableLog.read(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), Num.microSum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val tableLogStreamSql: String =
    s"""SELECT event_type, count(*) AS n_events,
      |  ${Num.microSumSql("value")} AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Partitioned TableLog: two commits laid out hive-style by order
    * status, then a MANIFEST-pruned read of one partition (only that
    * partition's files are handed to Spark — metadata-only pruning). The
    * oracle is the equivalent predicate over the raw table, so the gate
    * proves pruning loses no rows and invents none.
    */
  def tableLogPartitioned: Q = (s, d) => {
    val dir = Scratch.dir("tlogp_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    (0 to 1).foreach(i => graft.core.TableLog.append(s, dir,
      o.filter(col("o_orderkey") % 2 === i), partitionBy = Seq("o_orderstatus")))
    graft.core.TableLog.read(s, dir)
      .where(col("o_orderstatus") === "F")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Num.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val tableLogPartitionedSql: String =
    s"""SELECT o_orderstatus, count(*) AS n_orders,
      |  ${Num.moneySumSql("o_totalprice")} AS revenue
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Copy-on-write DELETE + MERGE on the table log: delete a predicate
    * slice, upsert a keyed update set (replacing matched keys, inserting
    * the rest), then aggregate the tip — hash-matched against the same
    * relational algebra applied directly in the oracle. Only files
    * containing affected rows were rewritten (TableLogSpec proves the
    * file-level selectivity; this gates the row-level semantics).
    */
  def tableLogMerge: Q = (s, d) => {
    val dir = Scratch.dir("tlogm_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    (0 to 2).foreach(i => graft.core.TableLog.append(s, dir,
      o.filter(col("o_orderkey") % 3 === i)))
    graft.core.TableLog.deleteWhere(s, dir,
      col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 0)
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", lit(100.0))
    graft.core.TableLog.upsert(s, dir, updates, Seq("o_orderkey"))
    graft.core.TableLog.read(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Num.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val tableLogMergeSql: String =
    s"""WITH afterdel AS (SELECT * FROM orders
      |    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)),
      |ups AS (SELECT o_orderkey, o_orderstatus, 100.0 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |merged AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM afterdel
      |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
      |  UNION ALL SELECT * FROM ups)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  ${Num.moneySumSql("o_totalprice")} AS revenue
      |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Manifest-stats data skipping: commits carry per-file min/max of the
    * order key, a range read prunes files from the log alone, and the
    * surviving rows' aggregate hash-matches the equivalent predicate over
    * the raw table — skipping must lose nothing the predicate wants.
    * (Files are range-disjoint here because each commit is a key slice —
    * the clustered-ingest layout that makes stats selective at scale.)
    */
  def tableLogSkipping: Q = (s, d) => {
    val dir = Scratch.dir("tlogs_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val maxKey = o.agg(max(col("o_orderkey"))).first().getLong(0)
    val slice = maxKey / 4 + 1
    (0 until 4).foreach(i => graft.core.TableLog.append(s, dir,
      o.filter(col("o_orderkey") >= i * slice && col("o_orderkey") < (i + 1) * slice),
      statsCol = Some("o_orderkey")))
    val lo = slice + 1
    val hi = 3 * slice - 2
    graft.core.TableLog.read(s, dir)
      .where(col("o_orderkey").between(lo, hi))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Num.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val tableLogSkippingSql: String =
    s"""WITH b AS (SELECT CAST(max(o_orderkey) AS BIGINT) // 4 + 1 AS slice FROM orders)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  ${Num.moneySumSql("o_totalprice")} AS revenue
      |FROM orders CROSS JOIN b
      |WHERE o_orderkey BETWEEN b.slice + 1 AND 3 * b.slice - 2
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Change-data-capture off the table log's write paths: version 1 is
    * the full table, then a predicate DELETE and a keyed MERGE commit
    * versions 2-3; `SnapshotDiff.diff(v1, tip)` derives the change feed
    * (inserts/updates/deletes) that Delta would surface as CDF. The
    * oracle recomputes the same feed relationally: deletes = the delete
    * predicate minus re-upserted keys, updates = the upsert key set.
    */
  def tableLogCdc: Q = (s, d) => {
    val dir = Scratch.dir("tlogc_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    graft.core.TableLog.append(s, dir, o)
    graft.core.TableLog.deleteWhere(s, dir, col("o_orderkey") % 10 === 0)
    graft.core.TableLog.upsert(s, dir,
      o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", lit(-1.0)), // impossible price -> always a hash change
      Seq("o_orderkey"))
    graft.ops.SnapshotDiff.diff(
        graft.core.TableLog.read(s, dir, Some(1)),
        graft.core.TableLog.read(s, dir),
        Seq("o_orderkey"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy(col("change_type"))
  }

  val tableLogCdcSql: String =
    """SELECT 'delete' AS change_type, count(*) AS n_keys
      |  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 0
      |UNION ALL
      |SELECT 'update', count(*) FROM orders WHERE o_orderkey % 7 = 0
      |ORDER BY change_type""".stripMargin

  /** RESTORE + DESCRIBE HISTORY over the log: append (v1), predicate
    * delete (v2), `restore(1)` (v3 — a metadata-only commit re-pointing
    * at v1's files). The result carries BOTH the v2 time-travel aggregate
    * (proving the delete really removed rows) and the tip aggregate
    * (proving restore re-surfaced exactly the deleted rows), plus the
    * history's operation column pinned as a literal — so the `#op=`
    * audit trail is hash-gated too.
    */
  def tableLogRestore: Q = (s, d) => {
    val dir = Scratch.dir("tlogr_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    graft.core.TableLog.append(s, dir, o)
    graft.core.TableLog.deleteWhere(s, dir, col("o_orderkey") % 5 === 0)
    graft.core.TableLog.restore(s, dir, 1)
    val oplog = graft.core.TableLog.history(s, dir).collect()
      .map(_.getString(1)).mkString(",")
    val afterDelete = graft.core.TableLog.read(s, dir, Some(2))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_del"), Num.moneySum(col("o_totalprice")).as("rev_del"))
    val tip = graft.core.TableLog.read(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_tip"), Num.moneySum(col("o_totalprice")).as("rev_tip"))
    afterDelete.join(tip, "o_orderstatus")
      .withColumn("oplog", lit(oplog))
      .orderBy(col("o_orderstatus"))
  }

  val tableLogRestoreSql: String =
    s"""WITH afterdel AS (SELECT o_orderstatus, count(*) AS n_del,
      |    ${Num.moneySumSql("o_totalprice")} AS rev_del
      |  FROM orders WHERE o_orderkey % 5 <> 0 GROUP BY o_orderstatus),
      |tip AS (SELECT o_orderstatus, count(*) AS n_tip,
      |    ${Num.moneySumSql("o_totalprice")} AS rev_tip
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus, n_del, rev_del, n_tip, rev_tip,
      |  'restore(1),delete,append' AS oplog
      |FROM afterdel JOIN tip USING (o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  /** Dynamic partition overwrite — the backfill idiom every partitioned
    * lake relies on: rewrite ONLY the partitions present in the incoming
    * batch, leave the rest untouched. Writes orders hive-partitioned by
    * status, then "backfills" just the F partition with corrected prices
    * under `partitionOverwriteMode=dynamic`; the final rollup proves O/P
    * partitions survived byte-identical while F was replaced. (Static
    * mode — the default — would have dropped ALL partitions first.)
    */
  def dynamicOverwrite: Q = (s, d) => {
    val tmp = Scratch.dir("graft_dynpart")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    s.read.parquet(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Num.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val dynamicOverwriteSql: String =
    s"""SELECT o_orderstatus, count(*) AS n_orders,
      |  ${Num.moneySumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2 ELSE o_totalprice END")} AS revenue
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** PERMISSIVE-mode CORRUPT-RECORD QUARANTINE: the ingest contract the
    * reference's CSV readers rely on (PERMISSIVE + explicit schema,
    * SURVEY §2.1 S1) taken to its failure path. Customer rows are written
    * as $-separated text with every 5th row deliberately malformed (a
    * non-numeric key AND an extra column); the typed read captures each
    * malformed line whole in `_corrupt_record` while good rows parse
    * normally. The gate hash-checks the split: good/quarantined counts,
    * the good-side key checksum, and the quarantined lines' length sum —
    * wrong on any row that leaked across the boundary in either
    * direction.
    *
    * The `cache()` is load-bearing, not an optimization: Spark refuses
    * queries that filter the internal corrupt-record column of an
    * un-materialized CSV relation (the column exists only during parse),
    * so a quarantine split ALWAYS materializes first — at 100 TB that is
    * the landing-zone write (parse once, fork good/bad to separate
    * sinks), exactly what this shape stands in for.
    */
  def csvQuarantine: Q = (s, d) => {
    val tmp = Scratch.dir("graft_csv_quarantine")
    Tables.customer(s, d)
      .select(when(col("c_custkey") % 5 === 0,
          concat(lit("BAD_"), col("c_custkey").cast("string"), lit("$"),
            col("c_name"), lit("$"), col("c_nationkey").cast("string"),
            lit("$EXTRA")))
        .otherwise(concat(col("c_custkey").cast("string"), lit("$"),
          col("c_name"), lit("$"), col("c_nationkey").cast("string")))
        .as("value"))
      .coalesce(1).write.mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", LongType),
      StructField("_corrupt_record", StringType)))
    val parsed = s.read
      .option("sep", "$").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(tmp)
      .cache()
    parsed.agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_quarantined"),
        sum(when(col("_corrupt_record").isNull, col("c_custkey"))
          .otherwise(0L)).as("good_key_checksum"),
        sum(when(col("_corrupt_record").isNotNull,
          length(col("_corrupt_record")).cast("long")).otherwise(0L))
          .as("quarantined_chars"))
  }

  /** Closed-form oracle: the corruption rule is deterministic, so both
    * counts and checksums derive straight from the customer table.
    */
  val csvQuarantineSql: String =
    """SELECT
      |  CAST(sum(CASE WHEN c_custkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  CAST(sum(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
      |  CAST(sum(CASE WHEN c_custkey % 5 <> 0 THEN c_custkey ELSE 0 END) AS BIGINT)
      |    AS good_key_checksum,
      |  CAST(sum(CASE WHEN c_custkey % 5 = 0 THEN
      |      length('BAD_' || CAST(c_custkey AS VARCHAR) || '$' || c_name || '$'
      |        || CAST(c_nationkey AS VARCHAR) || '$EXTRA')
      |    ELSE 0 END) AS BIGINT) AS quarantined_chars
      |FROM customer""".stripMargin

  /** The CHECKPOINTED log end-to-end, hash-gated: with
    * `checkpointInterval=3`, five appended lineitem slices and a
    * copy-on-write delete land as full manifests at v1/v3/v6 and `.delta`
    * line-edit commits everywhere else; vacuum then drops v1–v3, which
    * forces the retention floor (v4, a delta) to be MATERIALIZED into a
    * checkpoint. The gate reads the tip (delete applied, resolved v6) and
    * time-travels to v5 — a delta version that now replays off the
    * vacuum-materialized v4 — and the oracle recomputes both views from
    * the raw table. Hash equality proves delta replay, mixed
    * manifest/delta logs, and the vacuum floor swap are all invisible to
    * queries: the log encoding changed, the table didn't.
    *
    * SCALE: this is the metadata story at 100 TB — a commit to a
    * million-file table writes O(changed-files) log bytes, not the full
    * listing; only every k-th commit pays the checkpoint.
    */
  def tableLogCkpt: Q = (s, d) => {
    val dir = Scratch.dir("tlog_ckpt_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val key = "spark.graft.tablelog.checkpointInterval"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "3")
    try {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      (0 to 4).foreach(i => graft.core.TableLog.append(s, dir,
        li.filter(col("l_orderkey") % 5 === i)))                       // v1..v5
      graft.core.TableLog.deleteWhere(s, dir, col("l_quantity") >= 30) // v6
      graft.core.TableLog.vacuum(s, dir, keepVersions = 3, retainMs = 0L)
      val atV5 = graft.core.TableLog.read(s, dir, version = Some(5L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_v5"), sum(col("l_quantity")).as("qty_v5"))
      val atTip = graft.core.TableLog.read(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_tip"), sum(col("l_quantity")).as("qty_tip"))
      atV5.join(atTip, "l_returnflag").orderBy(col("l_returnflag"))
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  val tableLogCkptSql: String =
    """WITH v5 AS (SELECT l_returnflag, count(*) AS n_v5,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_v5
      |  FROM lineitem GROUP BY l_returnflag),
      |tip AS (SELECT l_returnflag, count(*) AS n_tip,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_tip
      |  FROM lineitem WHERE l_quantity < 30 GROUP BY l_returnflag)
      |SELECT l_returnflag, n_v5, qty_v5, n_tip, qty_tip
      |FROM v5 JOIN tip USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** Merge-on-read THROUGH THE SQL FRONT DOOR, hash-gated — the round-6
    * scope gap closed: a snapshot carrying BOTH delete families (a
    * positional deletion-vector delete and a GDPR-style equality-key
    * delete) resolves via `graft.<schema>.<name>` catalog SQL, tip and
    * `VERSION AS OF` alike. The DSv2 scan keeps manifest pruning +
    * filter pushdown and subtracts deleted rows inside the readers
    * (parquet row-index generation for dv, key-set lookup for eq); the
    * oracle recomputes both views from raw lineitem with the matching
    * NOT-predicates, so a resurrected row, a double-hidden row, or a
    * version-pinning leak all break the hash.
    *
    * SCALE: sidecars are deleted-row-count sized and ship as ONE
    * broadcast; reads stay pruned/pushed-down; compaction retires the
    * row-based-reader penalty. See GraftMorScan scaladoc.
    */
  def tableLogSqlDv: Q = (s, d) => {
    val wh = Scratch.dir("tlogsqldv_" + java.lang.Integer.toHexString(d.hashCode))
    val dir = s"$wh/gold/li"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    graft.core.TableLog.append(s, dir, li)                             // v1
    graft.core.TableLog.deleteWhereDv(s, dir,
      col("l_orderkey") % 10 === 3)                                    // v2
    graft.core.TableLog.deleteKeys(s, dir,
      li.select(col("l_orderkey")).distinct()
        .filter(col("l_orderkey") % 50 === 0))                         // v3
    // dataset-hashed catalog name: see tableLogSqlFrontDoor
    val cat = "graft_mor_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"""
      SELECT tip.l_returnflag, n_tip, qty_tip, n_v1
      FROM (SELECT l_returnflag, count(*) AS n_tip,
              CAST(sum(l_quantity) AS DOUBLE) AS qty_tip
            FROM $cat.gold.li GROUP BY l_returnflag) tip
      JOIN (SELECT l_returnflag, count(*) AS n_v1
            FROM $cat.gold.li VERSION AS OF 1 GROUP BY l_returnflag) v1
        ON tip.l_returnflag = v1.l_returnflag
      ORDER BY tip.l_returnflag""")
  }

  val tableLogSqlDvSql: String =
    """WITH tip AS (SELECT l_returnflag, count(*) AS n_tip,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty_tip
      |  FROM lineitem
      |  WHERE l_orderkey % 10 <> 3 AND l_orderkey % 50 <> 0
      |  GROUP BY l_returnflag),
      |v1 AS (SELECT l_returnflag, count(*) AS n_v1
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n_tip, qty_tip, n_v1
      |FROM tip JOIN v1 USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** The SQL WRITE path, hash-gated — `CREATE TABLE ... AS SELECT` plus
    * `INSERT INTO` through the graft catalog commit via the SAME TableLog
    * protocol as the API (atomic CAS, optimistic rebase, CHECK
    * constraints, tip-matching layout; DSv2 V1Write fallback →
    * `TableLog.appendLikeTip`). The reference's entire write surface is
    * `saveAsTable` (reference: src/bronze/ingest_demographics.py:65-67)
    * — this is that surface on our table format. The oracle recomputes
    * the union of the two written slices from raw lineitem; a dropped
    * commit, a double-landed batch, or a lost-update race breaks the
    * hash.
    */
  def tableLogSqlWrite: Q = (s, d) => {
    val wh = Scratch.dir("tlogsqlw_" + java.lang.Integer.toHexString(d.hashCode))
    val dir = s"$wh/silver/li"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // dataset-hashed catalog name: see tableLogSqlFrontDoor
    val cat = "graft_w_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .createOrReplaceTempView("graft_w_src")
    s.sql(s"""CREATE TABLE $cat.silver.li AS
      SELECT * FROM graft_w_src WHERE l_orderkey % 3 = 0""")
    s.sql(s"""INSERT INTO $cat.silver.li
      SELECT * FROM graft_w_src WHERE l_orderkey % 3 = 1""")
    s.sql(s"""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_quantity) AS DOUBLE) AS qty
      FROM $cat.silver.li
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  val tableLogSqlWriteSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS DOUBLE) AS qty
      |FROM lineitem WHERE l_orderkey % 3 IN (0, 1)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Partition-scoped `INSERT OVERWRITE ... PARTITION (col=val)` through
    * the graft catalog, hash-gated — the reference's fact write IS a
    * partitioned overwrite (/root/reference/src/gold/facts/
    * fact_adverse_events.py:325-327), and through SQL it must rewrite
    * ONLY the named partition's files ([[graft.core.TableLog
    * .overwritePartitions]]'s file-selective manifest rewrite; untouched
    * partitions carry byte-identical, asserted in GraftCatalogSpec). The
    * oracle recomputes the post-backfill table from raw lineitem: rows
    * leaking into unnamed partitions, a flattened layout, or a lost
    * carry-over all break the hash.
    */
  def tableLogSqlPow: Q = (s, d) => {
    val wh = Scratch.dir("tlogsqlpow_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_pow_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .createOrReplaceTempView("graft_pow_src")
    s.sql(s"""CREATE TABLE $cat.gold.lif
      (l_orderkey BIGINT, l_quantity DOUBLE)
      PARTITIONED BY (l_returnflag STRING)""")
    s.sql(s"""INSERT INTO $cat.gold.lif
      SELECT l_orderkey, CAST(l_quantity AS DOUBLE), l_returnflag
      FROM graft_pow_src""")
    // quarterly-backfill shape: partition 'A' := corrected slice; every
    // other partition's files must carry into the new version untouched
    s.sql(s"""INSERT OVERWRITE $cat.gold.lif PARTITION (l_returnflag = 'A')
      SELECT l_orderkey, CAST(l_quantity * 2 AS DOUBLE)
      FROM graft_pow_src
      WHERE l_returnflag = 'A' AND l_orderkey % 2 = 0""")
    s.sql(s"""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_quantity) AS DOUBLE) AS qty
      FROM $cat.gold.lif
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  val tableLogSqlPowSql: String =
    """WITH tip AS (
      |  SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS q, l_returnflag
      |  FROM lineitem WHERE l_returnflag <> 'A'
      |  UNION ALL
      |  SELECT l_orderkey, CAST(l_quantity * 2 AS DOUBLE) AS q, l_returnflag
      |  FROM lineitem WHERE l_returnflag = 'A' AND l_orderkey % 2 = 0)
      |SELECT l_returnflag, count(*) AS n, CAST(sum(q) AS DOUBLE) AS qty
      |FROM tip GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ALTER TABLE end-to-end, hash-gated: a table built by the API,
    * ALTERed through SQL (`ADD COLUMNS` → insert under the widened
    * schema → `RENAME COLUMN` → `DROP COLUMN`), then a merge-on-read
    * delete against the RENAMED column — every alter a metadata-only
    * commit (no data file read or rewritten), renames riding the
    * Delta-style column mapping (`#schema=` manifest line +
    * `graft.physical` field metadata; see
    * [[graft.core.TableLog.alterSchema]]). The oracle reconstructs the
    * final logical view from the raw table: hash equality proves the
    * rename surfaced the SAME on-disk data under the new name, the drop
    * hid exactly one column, the pre-alter rows carry null for the added
    * column, and the dv delete resolved the logical name.
    */
  def tableLogAlter: Q = (s, d) => {
    val wh = Scratch.dir("tlogalt_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val dir = s"$wh/gold/t"
    val cat = "graft_alt_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_tax"),
        col("l_returnflag"))
    graft.core.TableLog.append(s, dir,
      li.filter(col("l_orderkey") % 3 === 0).drop("l_returnflag"))
    s.sql(s"ALTER TABLE $cat.gold.t ADD COLUMNS (note STRING)")
    li.filter(col("l_orderkey") % 3 === 1)
      .withColumnRenamed("l_returnflag", "note")
      .writeTo(s"$cat.gold.t").append()
    s.sql(s"ALTER TABLE $cat.gold.t RENAME COLUMN l_quantity TO qty")
    s.sql(s"ALTER TABLE $cat.gold.t DROP COLUMN l_tax")
    // merge-on-read delete resolving the LOGICAL (renamed) name
    graft.core.TableLog.deleteWhereDv(s, dir, col("qty") >= 40)
    s.sql(s"""
      SELECT coalesce(note, '_none') AS note, count(*) AS n,
             CAST(sum(qty) AS DOUBLE) AS qty_sum
      FROM $cat.gold.t
      GROUP BY coalesce(note, '_none') ORDER BY note""")
  }

  val tableLogAlterSql: String =
    """WITH t AS (
      |  SELECT l_quantity AS qty, NULL AS note
      |  FROM lineitem WHERE l_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT l_quantity, l_returnflag FROM lineitem WHERE l_orderkey % 3 = 1)
      |SELECT coalesce(note, '_none') AS note, count(*) AS n,
      |       CAST(sum(qty) AS DOUBLE) AS qty_sum
      |FROM t WHERE qty < 40
      |GROUP BY coalesce(note, '_none') ORDER BY note""".stripMargin

  /** Type-widening `ALTER COLUMN TYPE` (Delta/Iceberg's widening subset:
    * int→long, float→double, decimal precision growth) — metadata-only;
    * old files keep their narrow physical type and every read requests
    * the WIDE type per file (Spark's ParquetVectorUpdaterFactory
    * IntegerToLong/FloatToDouble updaters), so a 100 TB table widens in
    * one manifest commit, no rewrite. The gate writes int32/float files,
    * widens through the SQL front door, appends a row only BIGINT can
    * hold, and hash-gates an aggregate spanning both file generations.
    * Cents use the floor(x·100+0.5) pure-arithmetic form ([[Num.roundAt]]
    * rationale): identical IEEE ops on both engines, no round() builtin.
    */
  def tableLogWiden: Q = (s, d) => {
    val wh = Scratch.dir("tlogwid_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_wid_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // pmod keeps the narrow-era keys inside int32 at ANY scale factor
    // (sf10's key-shifted copies exceed 2^31 — a bare cast would wrap on
    // the Spark side and ERROR on the DuckDB side)
    graft.core.TableLog.append(s, s"$wh/gold/wd",
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 3 === 0)
        .select(pmod(col("o_orderkey"), lit(1000000000)).cast("int").as("k"),
          col("o_totalprice").cast("float").as("price"),
          col("o_orderstatus")))
    s.sql(s"ALTER TABLE $cat.gold.wd ALTER COLUMN k TYPE BIGINT")
    s.sql(s"ALTER TABLE $cat.gold.wd ALTER COLUMN price TYPE DOUBLE")
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 1)
      .select((col("o_orderkey") + 10000000000L).as("k"),
        col("o_totalprice").as("price"), col("o_orderstatus"))
      .writeTo(s"$cat.gold.wd").append()
    s.sql(s"""
      SELECT o_orderstatus, count(*) AS n,
             sum(k) AS key_sum,
             CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM $cat.gold.wd
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  val tableLogWidenSql: String =
    """WITH u AS (
      |  SELECT CAST(CAST(o_orderkey % 1000000000 AS INT) AS BIGINT) AS k,
      |         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price,
      |         o_orderstatus
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000000, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey % 3 = 1)
      |SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(k) AS BIGINT) AS key_sum,
      |       CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** SQL `DELETE FROM` through the graft catalog ([[GraftTable]]'s
    * `SupportsDelete`): two statement-level deletes — a compound
    * predicate and an OR of pushable shapes — each committing a
    * merge-on-read deletion-vector sidecar (no data file rewritten; the
    * `cow` dial is spec-covered). The oracle applies the matching
    * NOT-predicates to the raw table; hash equality proves the v1-Filter
    * → Column translation is EXACT (a mistranslated shape would delete
    * the wrong rows, not error).
    */
  def tableLogSqlDelete: Q = (s, d) => {
    val wh = Scratch.dir("tlogsqldel_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_del_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.core.TableLog.append(s, s"$wh/gold/ld",
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")))
    s.sql(s"DELETE FROM $cat.gold.ld WHERE l_returnflag = 'A' AND l_quantity > 25")
    s.sql(s"DELETE FROM $cat.gold.ld WHERE l_orderkey <= 100 OR l_returnflag = 'N'")
    // at-scale escape hatch (surfaced by the sf10 escalation): these two
    // statements delete ~half the table — past the MoR read cap that
    // delete fraction calls for OPTIMIZE (full compact materializes the
    // deletes and clears the vectors). Below the cap the MoR read path
    // stays exercised.
    if (graft.core.TableLog.dvEntryCount(s, s"$wh/gold/ld") >
        graft.sources.GraftMorScan.MaxEntries / 2)
      graft.core.TableLog.compact(s, s"$wh/gold/ld")
    s.sql(s"""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_quantity) AS DOUBLE) AS qty
      FROM $cat.gold.ld
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  val tableLogSqlDeleteSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(l_quantity) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE NOT (l_returnflag = 'A' AND l_quantity > 25)
      |  AND NOT (l_orderkey <= 100 OR l_returnflag = 'N')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** SQL `UPDATE` through the graft catalog, hash-gated — the DSv2
    * row-level-operation path ([[graft.sources.GraftRowLevelOperation]]),
    * DELTA-based: matching rows' positions land in a deletion-vector
    * sidecar and the updated images in fresh hive-layout files, ONE
    * atomic commit, NO existing data file rewritten (spec-asserted
    * byte-identical in GraftRowLevelSpec). Two statements compose: a
    * measure update and a PARTITION-COLUMN update that must move rows
    * across hive directories. The oracle recomputes both as CASE
    * projections over the raw table — a lost update, a resurrected
    * dv-row, or an image landing in the wrong partition breaks the hash.
    *
    * SCALE: cost is O(matched rows), not O(files holding matched rows) —
    * the shape that lets a 100 TB fact accept point corrections.
    */
  def tableLogSqlUpdate: Q = (s, d) => {
    val wh = Scratch.dir("tlogsqlupd_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_upd_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.core.TableLog.append(s, s"$wh/gold/lu",
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .repartition(col("l_returnflag")),
      partitionBy = Seq("l_returnflag"))
    s.sql(s"UPDATE $cat.gold.lu SET l_quantity = l_quantity + 100 " +
      "WHERE l_orderkey % 7 = 0")
    // partition-column update: rows MOVE from l_returnflag=R to =X
    s.sql(s"UPDATE $cat.gold.lu SET l_returnflag = 'X' " +
      "WHERE l_returnflag = 'R' AND l_orderkey % 10 = 1")
    // at-scale escape hatch (surfaced by the sf10 escalation): past the
    // MoR read cap the playbook is OPTIMIZE — compact each partition
    // (materializes its deletes) then retire the now-inert sidecar
    // entries. Below the cap the MoR read path stays exercised.
    if (graft.core.TableLog.dvEntryCount(s, s"$wh/gold/lu") >
        graft.sources.GraftMorScan.MaxEntries / 2) {
      Seq("A", "N", "R", "X").foreach(v =>
        graft.core.TableLog.compactPartition(s, s"$wh/gold/lu",
          ("l_returnflag", v)))
      graft.core.TableLog.compactDeletes(s, s"$wh/gold/lu")
    }
    s.sql(s"""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_quantity) AS DOUBLE) AS qty
      FROM $cat.gold.lu
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  val tableLogSqlUpdateSql: String =
    """WITH t AS (
      |  SELECT CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 100
      |              ELSE l_quantity END AS q,
      |         CASE WHEN l_returnflag = 'R' AND l_orderkey % 10 = 1
      |              THEN 'X' ELSE l_returnflag END AS f
      |  FROM lineitem)
      |SELECT f AS l_returnflag, count(*) AS n,
      |       CAST(sum(q) AS DOUBLE) AS qty
      |FROM t GROUP BY f ORDER BY f""".stripMargin

  /** SQL `MERGE INTO` through the graft catalog, hash-gated — the
    * reference's dimension maintenance IS a MERGE (reference:
    * src/utils/scd_type2.py), here as Spark's full three-clause form
    * (MATCHED DELETE + MATCHED UPDATE + NOT MATCHED INSERT) against a
    * TableLog table. Delta-based merge-on-read: the join's matched
    * positions become dv entries, updated/inserted images fresh files,
    * one commit. The oracle recomputes the merge relationally (left
    * join + anti join over the raw table); a duplicated insert, a
    * surviving deleted row, or a half-applied clause breaks the hash.
    */
  /** Change feed over SQL row-level DML — the Delta-CDF role for the
    * delta (merge-on-read) commits: append (v1), SQL `UPDATE` (v2, an
    * update_delta commit: dv pre-images + re-inserted post-images), SQL
    * `MERGE INTO` (v3, merge_delta: matched deletes, matched updates,
    * unmatched inserts), then [[graft.core.TableLog.changes]] keyed on
    * the business key reconstructs per-version
    * insert/delete/update_preimage/update_postimage rows from the
    * manifest deltas alone — no data file is re-diffed. The gate hashes
    * per-(step, change_type) counts, key sums, and integer-cents price
    * sums, so a misclassified or missing change row flips the hash.
    */
  def tableLogCdcDml: Q = (s, d) => {
    val wh = Scratch.dir("tlogcdml_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_cdml_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = s"$wh/gold/cd"
    graft.core.TableLog.append(s, dir,
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .filter(col("o_orderkey") % 3 === 0))
    val v1 = graft.core.TableLog.versions(s, dir).last
    s.sql(s"UPDATE $cat.gold.cd SET o_totalprice = -1.0 " +
      "WHERE o_orderkey % 7 = 0")
    Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("p"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 2 === 0)
      .createOrReplaceTempView("graft_cdml_src")
    s.sql(s"""MERGE INTO $cat.gold.cd t USING graft_cdml_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderkey % 20 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus)
        VALUES (s.o_orderkey, s.p, s.o_orderstatus)""")
    val vTip = graft.core.TableLog.versions(s, dir).last
    graft.core.TableLog.changes(s, dir, v1, vTip, keys = Seq("o_orderkey"))
      .groupBy((col("_commit_version") - v1).as("step"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(Num.cents(col("o_totalprice"))).as("cents"))
      .orderBy(col("step"), col("change_type"))
  }

  val tableLogCdcDmlSql: String =
    """WITH t0 AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
      |upd AS (SELECT o_orderkey, o_totalprice FROM t0 WHERE o_orderkey % 7 = 0),
      |v2 AS (SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 7 = 0 THEN -1.0 ELSE o_totalprice END AS p
      |       FROM t0),
      |src AS (SELECT o_orderkey, o_totalprice * 2 AS p
      |        FROM orders WHERE o_orderkey % 2 = 0),
      |matched AS (SELECT v2.o_orderkey, v2.p
      |            FROM v2 JOIN src ON v2.o_orderkey = src.o_orderkey),
      |chg AS (
      |  SELECT 1 AS step, 'update_preimage' AS change_type,
      |         o_orderkey, o_totalprice AS p FROM upd
      |  UNION ALL SELECT 1, 'update_postimage', o_orderkey, -1.0 FROM upd
      |  UNION ALL SELECT 2, 'delete', o_orderkey, p
      |    FROM matched WHERE o_orderkey % 20 = 0
      |  UNION ALL SELECT 2, 'update_preimage', o_orderkey, p
      |    FROM matched WHERE o_orderkey % 20 <> 0
      |  UNION ALL SELECT 2, 'update_postimage', s.o_orderkey, s.p
      |    FROM src s JOIN t0 ON s.o_orderkey = t0.o_orderkey
      |    WHERE s.o_orderkey % 20 <> 0
      |  UNION ALL SELECT 2, 'insert', s.o_orderkey, s.p
      |    FROM src s ANTI JOIN t0 ON s.o_orderkey = t0.o_orderkey)
      |SELECT CAST(step AS BIGINT) AS step, change_type,
      |  count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM chg GROUP BY step, change_type
      |ORDER BY step, change_type""".stripMargin

  /** The MATERIALIZED change feed through the DSv2 BATCH door — the
    * Delta `_change_data` role end-to-end: the table opts in with
    * `graft.enableChangeDataFeed` (+ the declared business key), so the
    * SQL UPDATE and MERGE commits write their typed change rows as
    * hive-partitioned sidecar parquet AT COMMIT TIME (while pre- and
    * post-image files are both guaranteed retained), and the read —
    * `spark.read.format("graft").option("readChangeFeed", "true")` with
    * a (startingVersion, endingVersion] window — plans the sidecars as
    * plain file partitions: ONE scan regardless of how many rewrite
    * commits the window holds, zero reconstruction joins at read time.
    * Same oracle as the reconstruction gate [[tableLogCdcDml]]: the
    * materialized rows must be byte-equivalent to what reconstruction
    * derives, or the hash flips.
    *
    * SCALE: this is the rewrite-heavy-window fix — a year of daily
    * MERGEs on a hot table reads as one sidecar scan (the sidecars are
    * changed-row sized), not 365 per-commit reconstruction branches.
    */
  def tableLogCdfMat: Q = (s, d) => {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val wh = Scratch.dir("tlogcdfm_" + hex)
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_cdfm_" + hex
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = s"$wh/gold/cf"
    graft.core.TableLog.append(s, dir,
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .filter(col("o_orderkey") % 3 === 0))
    graft.core.TableLog.setTableProperties(s, dir, Map(
      graft.core.TableLog.CdfProp -> "true",
      graft.core.TableLog.CdfKeysProp -> "o_orderkey"))
    val v0 = graft.core.TableLog.versions(s, dir).last
    s.sql(s"UPDATE $cat.gold.cf SET o_totalprice = -1.0 " +
      "WHERE o_orderkey % 7 = 0")
    Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("p"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 2 === 0)
      .createOrReplaceTempView("graft_cdfm_src")
    s.sql(s"""MERGE INTO $cat.gold.cf t USING graft_cdfm_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderkey % 20 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus)
        VALUES (s.o_orderkey, s.p, s.o_orderstatus)""")
    val vTip = graft.core.TableLog.versions(s, dir).last
    s.read.format("graft")
      .option("readChangeFeed", "true").option("keys", "o_orderkey")
      .option("startingVersion", v0.toString)
      .option("endingVersion", vTip.toString)
      .load(dir)
      .groupBy((col("_commit_version") - v0).as("step"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(Num.cents(col("o_totalprice"))).as("cents"))
      .orderBy(col("step"), col("change_type"))
  }

  // identical change semantics to the reconstruction feed — only the
  // serving mechanism differs, which is exactly the point
  val tableLogCdfMatSql: String = tableLogCdcDmlSql

  /** Dynamic partition pruning through the graft catalog door — the
    * 100 TB star-join shape (partitioned fact ⋈ filtered dim; the
    * reference's gold fact table is written exactly so — reference:
    * src/gold/facts/fact_adverse_events.py:325-327). Spark's own DSv2
    * FileScan never implements `SupportsRuntimeFiltering`, so
    * [[graft.sources.GraftRuntimePrune]] adds it: at execution time the
    * dim's surviving join keys prune fact partitions/files from the
    * manifest before they are planned. The gate pins the SEMANTICS
    * (runtime pruning must lose no rows and invent none — hash vs the
    * raw-table oracle); GraftDppSpec pins the file-level pruning itself.
    */
  def tableLogDpp: Q = (s, d) => {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val wh = Scratch.dir("tlogdpp_" + hex)
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_dpp_" + hex
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = s"$wh/gold/fact"
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    graft.core.TableLog.append(s, dir, o.repartition(col("o_orderstatus")),
      partitionBy = Seq("o_orderstatus"))
    // FILE-backed dim (a LocalRelation would constant-fold its filter
    // away and no DPP subquery gets planned): distinct statuses + flag
    o.select(col("o_orderstatus")).distinct()
      .withColumn("is_final", col("o_orderstatus") === "F")
      .write.mode("overwrite").parquet(s"$wh/dim_status")
    s.read.parquet(s"$wh/dim_status")
      .createOrReplaceTempView(s"dpp_dim_$hex")
    s.sql(
      s"""SELECT f.o_orderstatus, count(*) AS n_orders,
         |  ${Num.moneySumSql("f.o_totalprice")} AS revenue
         |FROM $cat.gold.fact f
         |JOIN dpp_dim_$hex d ON f.o_orderstatus = d.o_orderstatus
         |WHERE d.is_final
         |GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""".stripMargin)
  }

  val tableLogDppSql: String =
    s"""SELECT o_orderstatus, count(*) AS n_orders,
      |  ${Num.moneySumSql("o_totalprice")} AS revenue
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** The change feed CONSUMED AS A STREAM — the Delta `readChangeFeed`
    * streaming-source role (round-9 verdict ask 3): the same UPDATE +
    * MERGE window as [[tableLogCdcDml]], but delivered through
    * [[graft.sources.TableLogCdcSource]] across THREE separate
    * checkpoint-restarted `Trigger.AvailableNow` runs (subscribe →
    * UPDATE → catch-up → MERGE → catch-up). Each drain appends its
    * micro-batches to a parquet sink; the gate aggregates the SINK, so a
    * change row dropped, duplicated, or misclassified anywhere across
    * the restarts flips the hash against the batch-CDC oracle. This is
    * the incremental-SCD2 consumption shape the reference's medallion
    * rebuild (src/utils/scd_type2.py:111-226) would upgrade to at 100 TB:
    * per-trigger cost is the window's changed rows, never the table.
    */
  def streamCdc: Q = (s, d) => {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val wh = Scratch.dir("tlogscdc_" + hex)
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_scdc_" + hex
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = s"$wh/gold/sc"
    val out = Scratch.dir("tlogscdc_out_" + hex)
    val ck = Scratch.dir("tlogscdc_ck_" + hex)
    Scratch.wipe(out); Scratch.wipe(ck)
    def drain(): Unit = {
      // the DSv2 path front door (format("graft") is the registered
      // TableProvider): the change feed streams as a MicroBatchStream —
      // reconstruction commits spool once under the checkpoint's own
      // metadata path, insert commits stamp their added files in place
      val q = s.readStream
        .format("graft")
        .option("path", dir).option("readChangeFeed", "true")
        .option("keys", "o_orderkey").load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // awaitTermination(timeout) returns false on timeout with the query
      // still running — failing fast here turns a wedged drain into a
      // clear error instead of an ambiguous hash mismatch from a sink
      // that keeps receiving writes during the next DML statement.
      assert(q.awaitTermination(600000), "CDC drain timed out after 600s")
    }
    graft.core.TableLog.append(s, dir,
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .filter(col("o_orderkey") % 3 === 0))
    val v1 = graft.core.TableLog.versions(s, dir).last
    drain() // run 1: initial load arrives as inserts
    s.sql(s"UPDATE $cat.gold.sc SET o_totalprice = -1.0 " +
      "WHERE o_orderkey % 7 = 0")
    drain() // run 2 (restart): exactly the UPDATE's change rows
    Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("p"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 2 === 0)
      .createOrReplaceTempView("graft_scdc_src")
    s.sql(s"""MERGE INTO $cat.gold.sc t USING graft_scdc_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderkey % 20 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus)
        VALUES (s.o_orderkey, s.p, s.o_orderstatus)""")
    drain() // run 3 (restart): exactly the MERGE's change rows
    s.read.parquet(out)
      .groupBy((col("_commit_version") - v1).as("step"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(Num.cents(col("o_totalprice"))).as("cents"))
      .orderBy(col("step"), col("change_type"))
  }

  val streamCdcSql: String =
    """WITH t0 AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
      |upd AS (SELECT o_orderkey, o_totalprice FROM t0 WHERE o_orderkey % 7 = 0),
      |v2 AS (SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 7 = 0 THEN -1.0 ELSE o_totalprice END AS p
      |       FROM t0),
      |src AS (SELECT o_orderkey, o_totalprice * 2 AS p
      |        FROM orders WHERE o_orderkey % 2 = 0),
      |matched AS (SELECT v2.o_orderkey, v2.p
      |            FROM v2 JOIN src ON v2.o_orderkey = src.o_orderkey),
      |chg AS (
      |  SELECT 0 AS step, 'insert' AS change_type,
      |         o_orderkey, o_totalprice AS p FROM t0
      |  UNION ALL SELECT 1, 'update_preimage', o_orderkey, o_totalprice FROM upd
      |  UNION ALL SELECT 1, 'update_postimage', o_orderkey, -1.0 FROM upd
      |  UNION ALL SELECT 2, 'delete', o_orderkey, p
      |    FROM matched WHERE o_orderkey % 20 = 0
      |  UNION ALL SELECT 2, 'update_preimage', o_orderkey, p
      |    FROM matched WHERE o_orderkey % 20 <> 0
      |  UNION ALL SELECT 2, 'update_postimage', s.o_orderkey, s.p
      |    FROM src s JOIN t0 ON s.o_orderkey = t0.o_orderkey
      |    WHERE s.o_orderkey % 20 <> 0
      |  UNION ALL SELECT 2, 'insert', s.o_orderkey, s.p
      |    FROM src s ANTI JOIN t0 ON s.o_orderkey = t0.o_orderkey)
      |SELECT CAST(step AS BIGINT) AS step, change_type,
      |  count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM chg GROUP BY step, change_type
      |ORDER BY step, change_type""".stripMargin

  /** `MERGE INTO ... WITH SCHEMA EVOLUTION` — Delta's merge `autoMerge`
    * role: the source carries a column (`bonus`) the target lacks; the
    * analyzer's schema-evolution pass routes an AddColumn through the
    * catalog's metadata-only ALTER (`#schema=` commit — zero files
    * rewritten), then the ordinary MoR delta write lands the new column's
    * values. Untouched rows read NULL for it (grouped as -1 here); a
    * failed evolution, a rewritten file, or a value landing on the wrong
    * row flips the hash. The oracle recomputes the evolved table
    * relationally from the raw orders.
    */
  def tableLogMergeEvo: Q = (s, d) => {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val wh = Scratch.dir("tlogmrgevo_" + hex)
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_mrgevo_" + hex
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.core.TableLog.append(s, s"$wh/gold/me",
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .filter(col("o_orderkey") % 3 === 0))
    Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("p"),
        col("o_orderstatus"), (col("o_orderkey") % 5).as("bonus"))
      .filter(col("o_orderkey") % 2 === 0)
      .createOrReplaceTempView("graft_mrgevo_src")
    s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.gold.me t
      USING graft_mrgevo_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderkey % 20 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET o_totalprice = s.p, bonus = s.bonus
      WHEN NOT MATCHED THEN INSERT
        (o_orderkey, o_totalprice, o_orderstatus, bonus)
        VALUES (s.o_orderkey, s.p, s.o_orderstatus, s.bonus)""")
    s.sql(s"""
      SELECT coalesce(bonus, -1) AS bonus_grp, count(*) AS n,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
      FROM $cat.gold.me
      GROUP BY coalesce(bonus, -1) ORDER BY bonus_grp""")
  }

  val tableLogMergeEvoSql: String =
    """WITH tgt AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |src AS (
      |  SELECT o_orderkey, o_totalprice * 2 AS p, o_orderstatus,
      |         o_orderkey % 5 AS bonus
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT t.o_orderkey,
      |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.p
      |              ELSE t.o_totalprice END AS o_totalprice,
      |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.bonus
      |              ELSE NULL END AS bonus
      |  FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
      |  WHERE s.o_orderkey IS NULL OR s.o_orderkey % 20 <> 0
      |  UNION ALL
      |  SELECT s.o_orderkey, s.p, s.bonus
      |  FROM src s ANTI JOIN tgt t ON s.o_orderkey = t.o_orderkey)
      |SELECT coalesce(bonus, -1) AS bonus_grp, count(*) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS total_cents
      |FROM merged GROUP BY coalesce(bonus, -1) ORDER BY bonus_grp""".stripMargin

  def tableLogSqlMerge: Q = (s, d) => {
    val wh = Scratch.dir("tlogsqlmrg_" + java.lang.Integer.toHexString(d.hashCode))
    val p = new org.apache.hadoop.fs.Path(wh)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cat = "graft_mrg_" + java.lang.Integer.toHexString(d.hashCode)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.core.TableLog.append(s, s"$wh/gold/om",
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .filter(col("o_orderkey") % 3 === 0))
    Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("p"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 2 === 0)
      .createOrReplaceTempView("graft_mrg_src")
    s.sql(s"""MERGE INTO $cat.gold.om t USING graft_mrg_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.o_orderkey % 20 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus)
        VALUES (s.o_orderkey, s.p, s.o_orderstatus)""")
    // integer-cents sum (queries.Num convention): bit-identical at any
    // partitioning, which a double sum over a merge result is not
    s.sql(s"""
      SELECT o_orderstatus, count(*) AS n,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
      FROM $cat.gold.om
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  val tableLogSqlMergeSql: String =
    """WITH tgt AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |src AS (
      |  SELECT o_orderkey, o_totalprice * 2 AS p, o_orderstatus
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT t.o_orderkey,
      |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.p
      |              ELSE t.o_totalprice END AS o_totalprice,
      |         t.o_orderstatus
      |  FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
      |  WHERE s.o_orderkey IS NULL OR s.o_orderkey % 20 <> 0
      |  UNION ALL
      |  SELECT s.o_orderkey, s.p, s.o_orderstatus
      |  FROM src s ANTI JOIN tgt t ON s.o_orderkey = t.o_orderkey)
      |SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_csv_quarantine" -> csvQuarantine,
    "q_dynamic_overwrite" -> dynamicOverwrite,
    "q_json_roundtrip" -> jsonRoundtrip,
    "q_schema_evolution" -> schemaEvolution,
    "q_orc_roundtrip" -> orcRoundtrip,
    "q_fixedwidth_roundtrip" -> fixedWidthRoundtrip,
    "q_fixedwidth_dsv2" -> fixedWidthDsv2,
    "q_table_log" -> tableLog,
    "q_table_log_sql" -> tableLogSqlFrontDoor,
    "q_table_log_sql_dv" -> tableLogSqlDv,
    "q_table_log_sql_write" -> tableLogSqlWrite,
    "q_table_log_sql_pow" -> tableLogSqlPow,
    "q_table_log_alter" -> tableLogAlter,
    "q_table_log_widen" -> tableLogWiden,
    "q_table_log_sql_delete" -> tableLogSqlDelete,
    "q_table_log_sql_update" -> tableLogSqlUpdate,
    "q_table_log_sql_merge" -> tableLogSqlMerge,
    "q_table_log_merge_evo" -> tableLogMergeEvo,
    "q_table_log_dv" -> tableLogDv,
    "q_table_log_auto" -> tableLogAuto,
    "q_table_log_hidden" -> tableLogHidden,
    "q_table_log_source" -> tableLogSource,
    "q_table_log_eq" -> tableLogEq,
    "q_table_log_stream" -> tableLogStream,
    "q_table_log_partitioned" -> tableLogPartitioned,
    "q_table_log_merge" -> tableLogMerge,
    "q_table_log_skipping" -> tableLogSkipping,
    "q_table_log_cdc" -> tableLogCdc,
    "q_table_log_cdc_dml" -> tableLogCdcDml,
    "q_table_log_cdf_mat" -> tableLogCdfMat,
    "q_table_log_dpp" -> tableLogDpp,
    "q_stream_cdc" -> streamCdc,
    "q_table_log_restore" -> tableLogRestore,
    "q_table_log_ckpt" -> tableLogCkpt,
  )

  val oracles: Map[String, String] = Map(
    "q_csv_quarantine" -> csvQuarantineSql,
    "q_dynamic_overwrite" -> dynamicOverwriteSql,
    "q_json_roundtrip" -> jsonRoundtripSql,
    "q_schema_evolution" -> schemaEvolutionSql,
    "q_orc_roundtrip" -> orcRoundtripSql,
    "q_fixedwidth_roundtrip" -> fixedWidthRoundtripSql,
    "q_fixedwidth_dsv2" -> fixedWidthDsv2Sql,
    "q_table_log" -> tableLogSql,
    "q_table_log_sql" -> tableLogSql,
    "q_table_log_sql_dv" -> tableLogSqlDvSql,
    "q_table_log_sql_write" -> tableLogSqlWriteSql,
    "q_table_log_sql_pow" -> tableLogSqlPowSql,
    "q_table_log_alter" -> tableLogAlterSql,
    "q_table_log_widen" -> tableLogWidenSql,
    "q_table_log_sql_delete" -> tableLogSqlDeleteSql,
    "q_table_log_sql_update" -> tableLogSqlUpdateSql,
    "q_table_log_sql_merge" -> tableLogSqlMergeSql,
    "q_table_log_merge_evo" -> tableLogMergeEvoSql,
    "q_table_log_dv" -> tableLogDvSql,
    "q_table_log_auto" -> tableLogAutoSql,
    "q_table_log_hidden" -> tableLogHiddenSql,
    "q_table_log_source" -> tableLogSourceSql,
    "q_table_log_eq" -> tableLogEqSql,
    "q_table_log_stream" -> tableLogStreamSql,
    "q_table_log_partitioned" -> tableLogPartitionedSql,
    "q_table_log_merge" -> tableLogMergeSql,
    "q_table_log_skipping" -> tableLogSkippingSql,
    "q_table_log_cdc" -> tableLogCdcSql,
    "q_table_log_cdc_dml" -> tableLogCdcDmlSql,
    "q_table_log_cdf_mat" -> tableLogCdfMatSql,
    "q_table_log_dpp" -> tableLogDppSql,
    "q_stream_cdc" -> streamCdcSql,
    "q_table_log_restore" -> tableLogRestoreSql,
    "q_table_log_ckpt" -> tableLogCkptSql,
  )
}
