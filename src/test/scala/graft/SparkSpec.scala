package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy, local[4], oracle-parity configs). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config(Tables.sessionConf)
    .getOrCreate()

  /** statusTracker counts lag the (async) listener bus; poll until the
    * count is stable so the gate never races event delivery. */
  def jobsInGroup(group: String): Int = {
    var prev = -1
    var cur = spark.sparkContext.statusTracker
      .getJobIdsForGroup(group).length
    var spins = 0
    while (cur != prev && spins < 50) {
      prev = cur; Thread.sleep(100)
      cur = spark.sparkContext.statusTracker
        .getJobIdsForGroup(group).length
      spins += 1
    }
    cur
  }

  /** Run `f` with the given session confs set, then restore them. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  val Sf0001 = "/root/testdata/sf0.001"
}
