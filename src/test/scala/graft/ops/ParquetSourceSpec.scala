package graft.ops

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.{SparkSpec, Tables}

/** [[StorageOps.parquet]]: a source resolves once per session and
  * source version, every load gets fresh attribute ids, and failures
  * look exactly like a plain `spark.read.parquet`. */
class ParquetSourceSpec extends SparkSpec {

  /** `body`'s result and the number of Spark jobs it started. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val group = s"parquet-source-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "parquet source", false)
    val out = try body finally sc.clearJobGroup()
    (out, jobsInGroup(group))
  }

  private def withDir[T](name: String)(body: String => T): T = {
    val base = Files.createTempDirectory(name)
    try body(s"$base/data")
    finally FileUtils.deleteDirectory(base.toFile)
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  test("a second load of an unchanged table in one session starts no " +
      "Spark job") {
    val first = Tables.load(spark, Sf0001, "orders")
    val (second, jobs) = withJobCount(Tables.load(spark, Sf0001, "orders"))
    assert(jobs == 0, s"second load started $jobs jobs: it re-resolved")
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("two loads joined on a(k) === b(k) return what two raw reads " +
      "return") {
    import spark.implicits._
    withDir("parquet-selfjoin") { dir =>
      Seq(1L -> "a", 1L -> "b", 2L -> "c", 3L -> "d", 3L -> "e", 3L -> "f")
        .toDF("k", "v").write.parquet(dir)
      def pairs(a: DataFrame, b: DataFrame): Seq[(Long, String, String)] =
        a.join(b, a("k") === b("k") && a("v") < b("v"))
          .select(a("k"), a("v"), b("v")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .toSeq.sorted
      val (a, b) = (StorageOps.parquet(spark, dir),
        StorageOps.parquet(spark, dir))
      val ids = (df: DataFrame) =>
        df.queryExecution.analyzed.output.map(_.exprId).toSet
      assert((ids(a) & ids(b)).isEmpty, "loads must not share attribute ids")
      val raw = pairs(spark.read.parquet(dir), spark.read.parquet(dir))
      assert(raw == Seq((1L, "a", "b"), (3L, "d", "e"), (3L, "d", "f"),
        (3L, "e", "f")))
      assert(pairs(a, b) == raw)
    }
  }

  test("an in-place rewrite with other rows and an added column shows " +
      "on the next load") {
    import spark.implicits._
    withDir("parquet-rewrite") { dir =>
      Seq(1L, 2L).toDF("k").write.parquet(dir)
      assert(StorageOps.parquet(spark, dir).count() == 2)
      Seq(3L -> "x", 4L -> "y", 5L -> "z").toDF("k", "extra")
        .write.mode("overwrite").parquet(dir)
      val (after, jobs) = withJobCount(StorageOps.parquet(spark, dir))
      assert(jobs >= 1, "a rewritten source must re-resolve")
      assert(after.columns.toSeq == Seq("k", "extra"))
      assert(after.collect().map(r => (r.getLong(0), r.getString(1)))
        .toSeq.sorted == Seq(3L -> "x", 4L -> "y", 5L -> "z"))
    }
  }

  test("a missing path fails as spark.read.parquet does") {
    withDir("parquet-missing") { dir =>
      val plain = intercept[Exception](spark.read.parquet(dir))
      val ours = intercept[Exception](StorageOps.parquet(spark, dir))
      val typed = intercept[Exception](StorageOps.parquet(spark, dir,
        Some(new StructType().add("k", LongType))))
      assert(ours.getClass == plain.getClass &&
        typed.getClass == plain.getClass)
      val cond = (e: Exception) => e.asInstanceOf[SparkThrowable].getCondition
      assert(cond(ours) == cond(plain) && cond(typed) == cond(plain) &&
        cond(plain) == "PATH_NOT_FOUND")
    }
  }

  test("a load given its schema starts no Spark job and reads what an " +
      "inferred load reads") {
    import spark.implicits._
    withDir("parquet-schema") { dir =>
      Seq(3L -> "c", 1L -> "a", 2L -> "b").toDF("k", "v").write.parquet(dir)
      val schema = new StructType().add("k", LongType).add("v", StringType)
      val (typed, jobs) =
        withJobCount(StorageOps.parquet(spark, dir, Some(schema)))
      assert(jobs == 0, s"a load with a known schema started $jobs jobs")
      val inferred = spark.read.parquet(dir)
      assert(typed.schema == inferred.schema)
      assert(typed.collect().toSeq.sortBy(_.getLong(0)) ==
        inferred.collect().toSeq.sortBy(_.getLong(0)))
    }
  }

  test("a new session resolves on its own and never receives another " +
      "session's plan") {
    import spark.implicits._
    withDir("parquet-session") { dir =>
      Seq(1L, 2L, 3L).toDF("k").write.parquet(dir)
      val mine = StorageOps.parquet(spark, dir)
      StorageOps.parquet(spark, dir)
      val other: SparkSession = spark.newSession()
      val (theirs, jobs) = withJobCount(StorageOps.parquet(other, dir))
      assert(jobs >= 1, "the new session must resolve the source itself")
      assert(relationOf(theirs).sparkSession eq other)
      assert(relationOf(mine).sparkSession eq spark)
      assert(relationOf(StorageOps.parquet(spark, dir)).sparkSession eq spark)
      assert(theirs.count() == 3)
    }
  }

  test("compactedFileCount sums a listing and starts no Spark job") {
    withDir("parquet-compact-count") { dir =>
      Tables.orders(spark, Sf0001).repartition(16).write.parquet(dir)
      val target = 16L * 1024
      val hconf = spark.sparkContext.hadoopConfiguration
      val bytes = spark.read.parquet(dir).inputFiles.map { f =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }.sum
      val (n, jobs) =
        withJobCount(StorageOps.compactedFileCount(spark, dir, target))
      assert(jobs == 0, s"file count started $jobs jobs")
      assert(n == ((bytes + target - 1) / target).toInt && n > 1)
    }
  }
}
