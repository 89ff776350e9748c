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

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  val Sf0001 = "/root/testdata/sf0.001"
}
