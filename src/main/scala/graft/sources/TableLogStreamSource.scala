package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** TableLog as a STREAMING SOURCE — the Delta streaming-source role:
  * `readStream.format("graft.sources.TableLogStreamProvider")
  * .option("path", dir)` tails the commit log, emitting each version's
  * newly-added files as a micro-batch; add
  * `.option("readChangeFeed", "true")` for typed change rows instead.
  *
  * This class is a DSv2 [[TableProvider]] only: the returned
  * [[GraftTable]] advertises `MICRO_BATCH_READ`, so every query through
  * this format name runs the DSv2 [[GraftAppendMicroBatchStream]] /
  * [[GraftCdcMicroBatchStream]] (admission control,
  * `Trigger.AvailableNow` catch-up semantics, stock parquet partition
  * readers — see [[GraftStreamPlanner]]). There is no V1 `Source`: with
  * the class listed in `spark.sql.streaming.disabledV2MicroBatchReaders`
  * a query fails at start instead of taking a weaker path.
  *
  * Offsets are VERSION NUMBERS: the log is the single source of truth,
  * manifests are immutable once committed, and a batch is re-derivable
  * from any (startVersion, endVersion] pair — so checkpoint recovery
  * replays exactly the unprocessed versions (same contract the
  * exactly-once SINK gate proves from the other side; keep `vacuum`'s
  * retention above the checkpoint horizon).
  *
  * Append-only contract (Delta's): a version that REMOVES files
  * (overwrite, delete, compaction) or adds deletion vectors breaks the
  * stream with an explanatory error unless `skipChangeCommits=true`, in
  * which case change commits contribute only their ADDED files (their
  * removals/dvs are ignored) — matching Delta's option of the same name.
  *
  * SCALE: per-batch planning is two manifest reads + a set difference;
  * state is ONE long in the checkpoint. No directory listing ever
  * happens — the log says what is new, which is the entire point of a
  * log-structured table format under a streaming reader at 100 TB.
  */
class TableLogStreamProvider extends DataSourceRegister with TableProvider {

  override def shortName(): String = "graft-tablelog"

  private def tableFor(options: CaseInsensitiveStringMap): GraftTable =
    new GraftTable(SparkSession.active,
      Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
        "graft-tablelog source requires .option(\"path\", <table dir>)")),
      None, None, cdcSchema = options.getBoolean("readChangeFeed", false))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    tableFor(new CaseInsensitiveStringMap(properties))
}
