package graft.core

import org.apache.spark.sql.SparkSession

/** Standard SparkSession factory: UTC, AQE on, shuffle partitions sized to
  * the local core count (not the 200 default), nanos-as-long so the ns-
  * timestamped events table is readable (see [[Tables.events]]). The same
  * settings are what a cluster deploy would set via spark-submit confs. */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // runtime bloom-filter pushdown: a selective dim-side predicate
      // seeds a bloom filter that prunes the fact side BEFORE its shuffle
      // — at 100 TB this is the difference between shuffling the whole
      // fact table and shuffling only rows that can possibly join
      .config("spark.sql.optimizer.runtimeFilter.bloomFilter.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // driver-generated parquet stores naive (no-zone) timestamps; without
      // this Spark infers TIMESTAMP_NTZ and unix_micros()/tz arithmetic on
      // events.ts fails analysis — read them as session-TZ (UTC) timestamps
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // With artifact isolation on (the default), every Dataset task runs
      // under the session's ExecutorClassLoader, and concurrent tasks that
      // load classes cold serialize on its monitor: ETL task threads spent
      // seconds blocked there. graft never adds session artifacts, so the
      // isolation buys nothing; off, Dataset tasks use the executor's
      // shared class loader, as RDD tasks already do. Only takes effect
      // when the session is created.
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** NOTE: getOrCreate returns a pre-existing session AS-IS — a second
    * call with a different core count does NOT re-master or re-size
    * shuffle partitions, and builder configs (extensions, nanosAsLong)
    * are only guaranteed applied when this call creates the session.
    * One session per JVM is the operating assumption (every main and the
    * test harness respect it); stop() the old session first if a
    * different configuration is genuinely needed. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
