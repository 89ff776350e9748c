package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class StorageAndSkewSpec extends SparkSpec {

  test("fan-out gate: a small derived estimate over a large leaf " +
      "cannot fire the repartition (mis-estimate guard)") {
    def hasRepartition(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("Repartition")
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    try {
      val scan = Tables.lineitem(spark, Sf0001)
      val leafBytes = scan.queryExecution.optimizedPlan
        .stats.sizeInBytes.toLong
      // gate = par(4) × maxPartitionBytes; pick maxPartitionBytes so
      // that limit-estimate < gate < leaf-estimate
      spark.conf.set(key, (leafBytes / 8).max(64L).toString)
      val derived = scan.limit(1) // tiny optimizer estimate, huge leaf
      val dBytes = derived.queryExecution.optimizedPlan
        .stats.sizeInBytes
      assert(dBytes < BigInt(leafBytes),
        s"test setup: limit estimate $dBytes must undercut leaf $leafBytes")
      assert(!hasRepartition(StorageOps.fanOutForKernel(derived)),
        "leaf guard must block the fan-out when the scan is over-gate")
      assert(!hasRepartition(StorageOps.fanOutForKey(derived,
        col("l_orderkey"))),
        "keyed fan-out shares the same leaf guard")
      // and a genuinely small scan-rooted input still fires
      spark.conf.set(key, ((leafBytes + 1) * 4).toString)
      assert(hasRepartition(StorageOps.fanOutForKernel(scan)),
        "an under-gate scan-rooted input must still fan out")
    } finally spark.conf.set(key, saved)
  }

  test("partitioned write + partition-pruned read") {
    val dir = Files.createTempDirectory("graft-part").toString + "/orders"
    val orders = Tables.orders(spark, Sf0001)
      .withColumn("status", col("o_orderstatus"))
    StorageOps.writePartitioned(orders, dir, "status")

    val pruned = StorageOps.readPartition(spark, dir, "status", "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "scan must list PartitionFilters")
    assert(plan.contains("isnotnull(status") || plan.contains("status#"),
      s"partition predicate missing from scan: $plan")
    // pruning correctness: same rows as a plain filter
    val expected = orders.filter(col("status") === "F").count()
    assert(pruned.count() == expected && expected > 0)
    // and the data-level PushedFilters must NOT contain the partition
    // predicate (it is resolved at listing time)
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.nonEmpty)
  }

  test("bucketed table joins without a shuffle on the bucket key") {
    // warehouse + metastore live in /tmp via build.sbt javaOptions
    // (static confs); a fresh derby metastore does not know about
    // leftover table dirs from previous JVMs — clear them first
    Seq("orders_b", "lineitem_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val dir = new java.io.File(s"/tmp/graft-warehouse/$tbl")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val orders = Tables.orders(spark, Sf0001)
    StorageOps.writeBucketed(orders, "orders_b", "o_orderkey", 4)
    val li = Tables.lineitem(spark, Sf0001)
    StorageOps.writeBucketed(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
      "o_orderkey", 4)
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), Seq("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-bucketed sort-merge join: no Exchange on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() > 0)
  }

  test("q_bucketed_join plan: zero hash exchanges, bucketed scans, oracle-equal result") {
    // clear leftovers from previous JVMs (fresh derby metastore does
    // not know about stale table dirs)
    val tbls = Seq("customer", "orders")
      .map(n => s"graft_bkt_${n}_${math.abs(Sf0001.hashCode.toLong)}")
    tbls.foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val dir = new java.io.File(s"/tmp/graft-warehouse/$tbl")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val df = graft.SparkEntry.queries("q_bucketed_join")(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join/agg must not hash-shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scans must consume the bucket layout:\n$plan")
    // layout must not change results: compare to the plain-parquet join
    val plain = Tables.customer(spark, Sf0001)
      .join(Tables.orders(spark, Sf0001),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n_orders"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bucketed = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bucketed == plain && plain.nonEmpty)
  }

  test("compact merges a fragmented dataset without changing data") {
    val base = Files.createTempDirectory("graft-compact").toString
    val orders = Tables.orders(spark, Sf0001)
    orders.repartition(64).write.mode("overwrite")
      .parquet(s"$base/fragmented")
    val before = spark.read.parquet(s"$base/fragmented")
    assert(before.inputFiles.length >= 32, "setup: should be fragmented")
    StorageOps.compact(spark, s"$base/fragmented", s"$base/compacted")
    val after = spark.read.parquet(s"$base/compacted")
    assert(after.inputFiles.length < before.inputFiles.length / 4,
      s"still ${after.inputFiles.length} files")
    assert(after.count() == orders.count())
    assert(after.select(sum(col("o_orderkey"))).head.getLong(0) ==
      orders.select(sum(col("o_orderkey"))).head.getLong(0))
  }

  test("compact sizes URI-encoded paths correctly (no single-file collapse)") {
    // a space in the directory name makes inputFiles return %20-encoded
    // URIs: the old java.io.File sizing read those as 0 bytes and
    // collapsed the whole dataset into ONE file regardless of size
    val base = Files.createTempDirectory("graft compact uri").toString
    val orders = Tables.orders(spark, Sf0001)
    orders.repartition(16).write.mode("overwrite")
      .parquet(s"$base/fragmented")
    assert(spark.read.parquet(s"$base/fragmented").inputFiles
      .exists(_.contains("%20")), "setup: paths should be URI-encoded")
    // tiny target size: correct byte accounting MUST produce >1 file
    StorageOps.compact(spark, s"$base/fragmented", s"$base/compacted",
      targetFileBytes = 16L * 1024)
    val after = spark.read.parquet(s"$base/compacted")
    assert(after.inputFiles.length > 1,
      s"byte sizing failed (got ${after.inputFiles.length} file)")
    assert(after.count() == orders.count())
  }

  test("upsert: updates replace, new keys append, untouched rows persist") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B"), (9L, "Z")).toDF("k", "v")
    val merged = StorageOps.upsert(base, updates, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(merged.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "Z")))
    val e = intercept[IllegalArgumentException] {
      StorageOps.upsert(base, updates.toDF("k", "other"), "k")
    }
    assert(e.getMessage.contains("identical schemas"))
  }

  test("contentSignature changes when the underlying data changes") {
    val base = Files.createTempDirectory("graft-sig").toString + "/t"
    val orders = Tables.orders(spark, Sf0001)
    orders.limit(100).write.mode("overwrite").parquet(base)
    val sig1 = StorageOps.contentSignature(spark, base)
    val sig1Again = StorageOps.contentSignature(spark, base)
    assert(sig1 == sig1Again, "signature must be stable on unchanged data")
    // regenerate in place with different content (the stale-cache case)
    orders.limit(200).write.mode("overwrite").parquet(base)
    val sig2 = StorageOps.contentSignature(spark, base)
    assert(sig1 != sig2, "regenerated data must change the signature")
  }

  test("schema evolution: mergeSchema unions column sets across file versions") {
    val dir = Files.createTempDirectory("graft-evolve").toString + "/t"
    val v1 = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey") + 1000000, col("o_totalprice"),
        col("o_orderstatus"))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")
    v1.write.parquet(s"$dir/p=1")
    v2.write.parquet(s"$dir/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("o_orderkey", "o_totalprice", "o_orderstatus", "p"))
    // old files surface the new column as null
    assert(merged.filter(col("p") === 1)
      .filter(col("o_orderstatus").isNotNull).count() == 0)
    assert(merged.filter(col("p") === 2)
      .filter(col("o_orderstatus").isNull).count() == 0)
    assert(merged.count() == v1.count() + v2.count())
  }

  test("salted aggregation equals plain aggregation") {
    val li = Tables.lineitem(spark, Sf0001)
    val plain = li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toString)).toSet
    val salted = SkewOps.saltedAgg(li, "l_suppkey",
      saltFrom = col("l_orderkey") * 10 + col("l_linenumber"), salts = 8,
      aggs = Seq(
        (count(lit(1)).as("pn"), sum(col("pn")).as("n")),
        (sum(col("l_quantity").cast("decimal(18,2)")).as("pq"),
          sum(col("pq")).as("q"))))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toString)).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, Sf0001).limit(2000)
    val supp = Tables.supplier(spark, Sf0001)
    val plain = li.join(supp, li("l_suppkey") === supp("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = SkewOps.saltedJoin(li, supp, "l_suppkey", "s_suppkey",
        saltFrom = li("l_orderkey") * 10 + li("l_linenumber"), salts = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(plain.toSeq == salted.toSeq)
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      // force a shuffle join and make the skew detector fire at
      // testdata scale (defaults target multi-GB partitions)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 70% of fact rows share one key — the stall-one-reducer shape
      val fact = (0 until 60000).map(i =>
        (if (i % 10 < 7) 0L else (i % 997).toLong, s"payload$i"))
        .toDF("k", "payload")
      val dim = (0L until 997L).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = fact.join(dim, Seq("k"))
      // execute THIS plan (count() would compile a different one), then
      // read the adaptive final plan off the same queryExecution
      val qe = joined.queryExecution
      assert(qe.toRdd.count() == 60000L)
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed join (skew=true) in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // ---- artifact store ----------------------------------------------

  private def freshArtifact(tag: String): String =
    StorageOps.scratchPath(s"spec_${tag}_${java.util.UUID.randomUUID()}")

  /** Entries next to `path` named `<path's name>.<anything>` — where
    * a publish keeps its temp copy. */
  private def siblings(path: String): Seq[String] = {
    val p = Paths.get(path)
    Files.list(p.getParent).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(p.getFileName.toString + ".")).toSeq
  }

  private def writePart(tmp: String, content: String): Unit = {
    Files.createDirectories(Paths.get(tmp))
    Files.write(Paths.get(tmp, "part"), content.getBytes(UTF_8))
  }

  private def readPart(path: String): String =
    new String(Files.readAllBytes(Paths.get(path, "part")), UTF_8)

  test("publish: a throwing writer leaves neither the target nor a " +
      "temp sibling, and the next call builds") {
    val path = freshArtifact("publish_fail")
    val e = intercept[IllegalStateException] {
      StorageOps.publish(path) { tmp =>
        writePart(tmp, "half")
        throw new IllegalStateException("writer failed")
      }
    }
    assert(e.getMessage == "writer failed")
    assert(!Files.exists(Paths.get(path)), "a failed build must not publish")
    assert(siblings(path).isEmpty, s"temp leaked: ${siblings(path)}")
    StorageOps.publish(path)(writePart(_, "whole"))
    assert(readPart(path) == "whole")
    assert(siblings(path).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
  }

  test("publish: two racing publishers leave one target holding one " +
      "writer's content and no temp sibling") {
    val path = freshArtifact("publish_race")
    // both writers finish writing before either renames
    val written = new java.util.concurrent.CountDownLatch(2)
    def publisher(content: String): Future[Unit] = Future {
      StorageOps.publish(path) { tmp =>
        writePart(tmp, content)
        written.countDown()
        assert(written.await(60, SECONDS), "the other writer never wrote")
      }
    }
    Seq(publisher("a"), publisher("b")).foreach(Await.result(_, 120.seconds))
    assert(Set("a", "b").contains(readPart(path)))
    assert(Files.list(Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString).toSeq == Seq("part"))
    assert(siblings(path).isEmpty, s"temp leaked: ${siblings(path)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
  }

  test("cachedRows: a hit does not call build, and a miss and a hit " +
      "return equal rows") {
    val src = s"$Sf0001/orders.parquet"
    val name = s"spec_rows_${java.util.UUID.randomUUID()}"
    var builds = 0
    def build: Seq[String] = { builds += 1; Seq("1.5", "left right", "-0.0") }
    val miss = StorageOps.cachedRows(spark, src, name)(build)
    val hit = StorageOps.cachedRows(spark, src, name)(build)
    assert(builds == 1, "the second call must be served from the store")
    assert(miss == hit && miss == Seq("1.5", "left right", "-0.0"))
    Files.delete(Paths.get(StorageOps.artifactPath(spark, src, name) + ".txt"))
  }

  test("the artifact policy has one home: no ATOMIC_MOVE or " +
      "contentSignature( in src/main outside StorageOps.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "StorageOps.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p, UTF_8).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("ATOMIC_MOVE") ||
              line.contains("contentSignature(") => s"$p:${i + 1}: $line"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "key and publish artifacts through StorageOps:\n" +
        offenders.mkString("\n"))
  }

  test("one way to open parquet: no read.parquet( in src/main outside " +
      "StorageOps.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "StorageOps.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p, UTF_8).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("read.parquet(") =>
            s"$p:${i + 1}: $line"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "open parquet sources through StorageOps.parquet:\n" +
        offenders.mkString("\n"))
  }
}
