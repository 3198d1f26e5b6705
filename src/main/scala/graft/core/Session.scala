package graft.core

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one front door for graft sessions: every main and spec builds its
  * session through [[local]] or adopts an externally built one through
  * [[tune]], and both install graft's extensions through [[install]].
  *
  * The reference pins AQE + coalescePartitions + skewJoin on every job
  * (reference: resources/jobs/faers_pipeline.yml:17-19) and runs Spark 4.x
  * (Databricks 17.2.x-scala2.13). We mirror those and add local-mode sizing:
  * shuffle partitions = cores (not 200) so small-SF local runs don't drown in
  * empty tasks, while a real cluster deployment would size this to
  * 2-3x total executor cores.
  */
object Session {

  /** Confs we want on ANY session (cluster or local). Safe at 100 TB:
    * AQE re-plans shuffle partition counts / join strategies / skew splits
    * at runtime from actual stage statistics.
    */
  val commonConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // FAERS date repair feeds garbage into to_date; reference relies on
    // permissive null-on-error semantics (PySpark default).
    "spark.sql.ansi.enabled" -> "false",
    // Some driver rounds generate events.parquet with TIMESTAMP(NANOS),
    // which the vectorized reader rejects outright; with this conf it reads
    // as long and the source wrapper (core.Tables.events) converts. Rounds
    // that emit timestamp[us] are unaffected by the conf.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
  )

  /** The `file://` filesystem of graft sessions ([[GraftLocalFileSystem]]
    * and its `FileContext` twin): Hadoop's local filesystem without a
    * `chmod` process per file and directory written.
    */
  private[core] val localFsConfs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName,
  )
  /** Hadoop's own values of those keys, the only ones [[install]]
    * replaces: a conf naming any other class keeps it.
    */
  private val hadoopLocalFs = Map(
    "fs.file.impl" -> "",
    "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs")

  /** Whole-plan extensions: the as-of join operator, its pushdown/pruning
    * rules, and runtime source-key pruning for MERGE targets.
    */
  private val strategies: Seq[SparkStrategy] = Seq(graft.plans.AsOfJoinStrategy)
  private val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.AsOfJoinOptimizations, graft.plans.MergeRuntimeFiltering)

  /** Local parallelism of every graft main: `$SPARK_GRAFT_CPUS`, else all
    * available processors.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = cpus,
            appName: String = "graft",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
    val hadoopConfs = localFsConfs.map { case (k, v) => s"spark.hadoop.$k" -> v }
    (commonConfs ++ hadoopConfs ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
  }

  /** Apply common confs + install graft's extensions on a session built
    * outside graft (e.g. by a job platform before our code runs).
    */
  def tune(spark: SparkSession): SparkSession = {
    commonConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    install(spark)
  }

  /** Idempotently install the native functions, strategies and optimizer
    * rules and the `file://` filesystem on a live session. A session built
    * outside graft has already read `spark.sql.extensions`, so the
    * function registry and `experimental.*` are the public runtime routes.
    */
  def install(spark: SparkSession): SparkSession = synchronized {
    // direct `FileSystem.get` callers pass the context's conf; every
    // `newHadoopConf()` copy, and so every task's conf, starts from the
    // shared state's
    Seq(spark.sparkContext.hadoopConfiguration,
      org.apache.spark.sql.graftshim.GraftShim.sharedHadoopConf(spark)).foreach(useLocalFs(_))
    evictStockLocalFs(spark.sparkContext.hadoopConfiguration)
    val registry = spark.sessionState.functionRegistry
    graft.functions.GraftFunctions.functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
    val ex = spark.experimental
    ex.extraStrategies ++= strategies.filterNot(ex.extraStrategies.contains)
    ex.extraOptimizations ++= optimizerRules.filterNot(ex.extraOptimizations.contains)
    spark
  }

  private def useLocalFs(conf: Configuration): Unit =
    localFsConfs.foreach { case (k, v) =>
      if (Option(conf.get(k)).forall(_ == hadoopLocalFs(k))) conf.set(k, v)
    }

  /** Hadoop caches one `file://` filesystem per user, whatever conf later
    * asks for it. One created before [[install]] (a session built outside
    * graft makes one for its warehouse) is Hadoop's default class and
    * would serve every later `FileSystem.get`. Closing it drops it from
    * the cache. Closing also runs its delete-on-exit set, which nothing
    * here fills: in Spark only Hive's insert staging registers paths, and
    * graft sessions run without Hive. Holders of the closed instance can
    * keep using it.
    */
  private def evictStockLocalFs(conf: Configuration): Unit =
    if (conf.get("fs.file.impl") == localFsConfs("fs.file.impl")) {
      val cached = FileSystem.get(URI.create("file:///"), conf)
      if (!cached.isInstanceOf[GraftLocalFileSystem]) cached.close()
    }

  /** The same extensions for the build-time `spark.sql.extensions` route. */
  def inject(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.functions.foreach(ext.injectFunction)
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
