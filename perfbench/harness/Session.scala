package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's session posture, set here by value rather than read from
  * the environment. The values are the defaults `graft.Bench` applies when
  * none of its environment knobs is set, so figures stay comparable with
  * the earlier `graft.Bench` series, with one addition: the session time
  * zone is pinned to UTC (as `graft.Verify` pins it), so the ETL's dates
  * and the gates' timestamps do not follow the host's zone. On top of them
  * a run sets only the master (`local[min(cores, 4)]`) and pins every
  * directory under the run's own scratch directory.
  */
object Session {

  val benchConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.shuffle.partitions" -> "16",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.minBatchesToRetain" -> "1",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "false",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "graft.streaming.LocalCheckpointFileManager",
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.shuffle.compress" -> "true",
    "spark.shuffle.spill.compress" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem",
    // not set by graft.Bench; see above
    "spark.sql.session.timeZone" -> "UTC",
  )

  /** Every conf the run sets, in order; printed next to the metrics. */
  def confs(cores: Int, runDir: String, traced: Boolean): Seq[(String, String)] =
    Seq("spark.master" -> s"local[$cores]",
      "spark.sql.warehouse.dir" -> s"$runDir/warehouse",
      "spark.local.dir" -> s"$runDir/local") ++ benchConfs.map {
      // the traced run counts file-system operations through a subclass
      case ("spark.hadoop.fs.file.impl", _) if traced =>
        "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName
      case kv => kv
    }

  def start(cores: Int, runDir: String, traced: Boolean = false): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    confs(cores, runDir, traced).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
