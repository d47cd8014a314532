package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"

  /** The RDD ids of every [[graft.Cut]] persisted now. */
  def persistedCuts: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, rdd) if rdd.name == "graft.Cut" => id }.toSet

  /** Run `body` with the RocksDB state store provider, restoring the
    * previous provider after — the fixture for the suites that replay a
    * `flatMapGroupsWithState` operator on RocksDB state to pin that its
    * output does not depend on the provider (the default is the
    * HDFS-backed store). */
  def withRocksDbProvider[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(s)
    s
  }
}
