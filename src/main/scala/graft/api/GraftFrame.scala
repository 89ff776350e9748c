package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Lazy relational frame mirroring the reference's `Dataframe` trait
  * (reference src/dataframe/mod.rs:13-24: schema / project / filter /
  * aggregate / logical_plan) plus the pieces the reference declared but
  * never made executable (limit — SURVEY §2.6 item 2) and the
  * beyond-reference extensions (join, sort, union).
  *
  * Each method wraps the underlying Catalyst logical plan in a new
  * immutable node and returns a new frame — the same builder discipline
  * as the reference (dataframe/mod.rs:26-56), with Catalyst as the
  * optimizer instead of the reference's single pushdown rule.
  */
class GraftFrame private[api] (val df: DataFrame) {

  def schema: StructType = df.schema

  /** Reference `project(exprs)` (dataframe/mod.rs:33-38). */
  def project(exprs: Column*): GraftFrame = new GraftFrame(df.select(exprs: _*))

  /** Reference `filter(expr)` (dataframe/mod.rs:40-45). */
  def filter(cond: Column): GraftFrame = new GraftFrame(df.filter(cond))

  /** Reference `aggregate(group_expr, aggregate_expr)`
    * (dataframe/mod.rs:47-56). */
  def aggregate(groupExpr: Seq[Column], aggExpr: Seq[Column]): GraftFrame =
    new GraftFrame(
      if (groupExpr.isEmpty) df.agg(aggExpr.head, aggExpr.tail: _*)
      else df.groupBy(groupExpr: _*).agg(aggExpr.head, aggExpr.tail: _*))

  /** Working limit — the reference declared `Limit` but could neither
    * build nor plan it (SURVEY §2.6 item 2). */
  def limit(n: Int): GraftFrame = new GraftFrame(df.limit(n))

  /** Column by position — the reference's `#index` expression
    * (logical_plan/mod.rs:353-373), resolved against this frame's
    * schema. */
  def colAt(index: Int): Column = df.col(df.columns(index))

  // ---- beyond-reference extensions --------------------------------

  def join(other: GraftFrame, cond: Column,
      how: String = "inner"): GraftFrame =
    new GraftFrame(df.join(other.df, cond, how))

  /** As-of join (see [[graft.ops.JoinOps.asofJoin]]). */
  def asofJoin(other: GraftFrame, leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightCols: Seq[String]): GraftFrame =
    new GraftFrame(graft.ops.JoinOps.asofJoin(df, other.df, leftKey,
      rightKey, leftTime, rightTime, rightCols))

  def aggregateRollup(groupExpr: Seq[Column],
      aggExpr: Seq[Column]): GraftFrame =
    new GraftFrame(df.rollup(groupExpr: _*)
      .agg(aggExpr.head, aggExpr.tail: _*))

  def aggregateCube(groupExpr: Seq[Column],
      aggExpr: Seq[Column]): GraftFrame =
    new GraftFrame(df.cube(groupExpr: _*)
      .agg(aggExpr.head, aggExpr.tail: _*))

  /** Exact dedup on a column subset (keeps an arbitrary-but-
    * deterministic-per-plan representative; use ops.DedupOps for
    * keep-lowest-id semantics). */
  def dedup(cols: String*): GraftFrame =
    new GraftFrame(if (cols.isEmpty) df.distinct()
      else df.dropDuplicates(cols))

  def sort(exprs: Column*): GraftFrame = new GraftFrame(df.orderBy(exprs: _*))

  def union(other: GraftFrame): GraftFrame = new GraftFrame(df.union(other.df))

  def distinct(): GraftFrame = new GraftFrame(df.distinct())

  /** The reference's only sink: stringify as CSV
    * (`RecordBatch::to_csv`, reference src/datatypes/mod.rs:308-328 —
    * golden `"1,Bob,Ben\n4,Mayne,Vary\n"` at execution/mod.rs:78-84).
    * Driver-side materialization; use [[writeParquet]]/`df.write` for
    * real output at scale. */
  def toCsvString(): String =
    df.collect().map(_.toSeq.map {
      case null => ""
      case v => v.toString
    }.mkString(",")).map(_ + "\n").mkString

  /** Distributed sinks (beyond-reference; the reference has no file
    * writer at all). */
  def writeParquet(path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def writeCsv(path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  def writeOrc(path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Attach named observation metrics (Spark `observe`): computed
    * during execution at zero extra passes, surfaced via
    * QueryExecutionListener — production pipeline observability
    * (row counts per stage, quality averages) without a second job. */
  def observe(name: String, exprs: Column*): GraftFrame =
    new GraftFrame(df.observe(name, exprs.head, exprs.tail: _*))

  // ---- inspection / execution -------------------------------------

  /** Physical plan string (reference physical_plan/mod.rs:32-43). */
  def explainPhysical(): String = df.queryExecution.executedPlan.toString

  def collect(): Array[Row] = df.collect()

  def count(): Long = df.count()
}
