package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, reused). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Runs `body` with the session conf `key` set to `value`; the session's
    * own setting (or its absence) is restored after. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body` with ConnectedComponents' driver path off: with broadcast
    * off, every graph is above the size bound and takes the distributed
    * large-star/small-star loop. */
  def withCcLoop[T](body: => T): T = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
}
