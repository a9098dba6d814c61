package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared shuffle-partition pin for gates whose post-exchange stages are
  * overhead-bound at the bench default (the pagerank/stream/HLL pattern).
  *
  * Session conf binds at ACTION time, not DataFrame construction, so a pin
  * is only effective if the gate materializes inside it — the body is
  * therefore eagerly `localCheckpoint()`ed before the conf is restored.
  */
object GateConf {
  def withShuffleParts(spark: SparkSession, parts: String)(body: => DataFrame): DataFrame = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      body.localCheckpoint()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
