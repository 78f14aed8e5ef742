package graft.core

import graft.SparkSpecBase

class SessionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("Dataset tasks run off the per-session ExecutorClassLoader") {
    // with artifact isolation on, every SQL task runs under the session's
    // ExecutorClassLoader, whose monitor concurrent cold class loads
    // queue on
    val loaders = spark.range(8).repartition(4)
      .map(_ => Thread.currentThread.getContextClassLoader.getClass.getName)
      .distinct().collect()
    assert(loaders.nonEmpty)
    assert(!loaders.contains("org.apache.spark.executor.ExecutorClassLoader"),
      loaders.mkString(", "))
  }
}
