package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative operators (connected components,
  * PageRank, k-means, signature reuse).
  *
  * Default is `localCheckpoint()`: blocks cached on executors, no IO —
  * right for local mode and short interactive jobs, but NOT fault-tolerant:
  * on a 1000-executor cluster, losing one executor loses non-replicated
  * checkpoint blocks and kills the whole iterative job.
  *
  * Setting `spark.graft.checkpoint.dir` (any Hadoop-compatible path —
  * HDFS/S3/local) switches every iterative op to reliable `checkpoint()`:
  * blocks are written to storage that survives executor loss, which is the
  * correct mode for 100 TB runs. One conf, no per-operator plumbing.
  */
object Checkpoint {

  val DirConf = "spark.graft.checkpoint.dir"

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf).filter(_.trim.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir appends a per-app UUID subdir; only initialize
        // once and respect a dir the caller set directly on the context
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None =>
        // SERIALIZED blocks, not Spark's deserialized default: a
        // checkpointed edge list stores as compact row bytes (~5x smaller
        // than boxed objects) and evicts to disk under pressure instead
        // of starving the join/agg tasks sharing the heap — at 100x the
        // deserialized default turned a 40 GB JVM into a GC storm
        // (surfaced by the sf10 escalation on q_lpa_copart). The read
        // cost is one deserialization per round, paid off the hot loop.
        df match {
          case ds: org.apache.spark.sql.classic.Dataset[_] =>
            ds.localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
              .asInstanceOf[DataFrame]
          case _ => df.localCheckpoint()
        }
    }
  }
}
