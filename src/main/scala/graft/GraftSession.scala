package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main and the test fixture
  * run on, so the tests certify the session the bench measures:
  *
  *  - `cpus` local cores and as many shuffle partitions;
  *  - UTC session time zone;
  *  - parquet TIMESTAMP(NANOS) read as epoch-nanosecond longs, and no
  *    inferred TIMESTAMP_NTZ (the driver's testdata is written that
  *    way);
  *  - AQE with size-based coalescing (`parallelismFirst=false`, the
  *    Spark docs' recommended setting): reduce-stage task counts follow
  *    advisoryPartitionSizeInBytes instead of defaultParallelism, so
  *    tiny stages stop paying `cpus` tasks of scheduling overhead;
  *  - no UI, log level WARN.
  *
  * A main that needs something else (SkewBench's broadcast thresholds)
  * sets it through `spark.conf` after the build. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
