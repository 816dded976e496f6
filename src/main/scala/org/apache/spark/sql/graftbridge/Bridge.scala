package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the sql-private Column ⇄ Expression conversions
  * (Spark 4 moved Column onto ColumnNode; ExpressionUtils is the
  * supported classic-session path but is private[sql], so extension
  * libraries expose it via a bridge in the sql package — the standard
  * pattern for custom-Expression libraries).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A catalyst predicate as a V1 source filter (the sql-private
    * `DataSourceStrategy.translateFilter`), when it has one — what a
    * file index uses to prune with the filters a scan pushed.
    */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** A DataFrame over an already-analyzed logical plan (the
    * private[sql] `Dataset.ofRows`) — what a command that captured a
    * resolved sub-plan (e.g. a MERGE source) uses to re-enter the
    * public Dataset API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as a STREAMING one (the private[sql]
    * `internalCreateDataFrame(..., isStreaming = true)`): what a V1
    * streaming `Source.getBatch` must return — the engine asserts the
    * returned frame's logical plan is streaming.
    */
  def streamingFrom(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** A batch DataFrame over an RDD of InternalRows (the private[sql]
    * `internalCreateDataFrame`) — what a zero-shuffle operator that
    * composed its result RDD outside the planner (e.g. the
    * bucket-aligned join's per-bucket zip) uses to re-enter the
    * Dataset API without a Row round-trip.
    */
  def internalFrame(spark: org.apache.spark.sql.SparkSession,
                    rdd: org.apache.spark.rdd.RDD[
                      org.apache.spark.sql.catalyst.InternalRow],
                    schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** The PRUNABLE CONJUNCTS of a predicate Column, as neutral hints
    * `(op, columnName, values)` with op ∈ {"=", "in", ">=", "<="}
    * normalized to column-on-the-left semantics (strict comparisons
    * relax to their inclusive hint — pruning is conservative). Handles
    * BOTH Column flavors: ColumnNode trees (DataFrame-API predicates)
    * and ExpressionColumnNode-wrapped catalyst expressions (what the
    * SQL DML rules rebuild) — both are sql-private shapes, hence this
    * lives in the bridge. Unknown shapes yield no hint (prune
    * nothing); NULL literals yield no hint (NULL never
    * equality-matches a stat range meaningfully). Decimal literals
    * yield EQUALITY/IN hints only — `pruneForKeys` compares those by
    * their unscaled-long form at the column's scale, the footer's own
    * representation — never RANGE hints (mayGe/mayLe compare raw
    * values against unscaled ints).
    */
  def prunableConjuncts(c: Column): Seq[(String, String, Seq[Any])] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.{internal => in}
    def ok(v: Any): Option[Any] = v match {
      case null => None
      case _: java.math.BigDecimal | _: scala.math.BigDecimal |
           _: org.apache.spark.sql.types.Decimal => None
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case other => Some(other)
    }
    def okEq(v: Any): Option[Any] = v match {
      case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
      case _: java.math.BigDecimal | _: scala.math.BigDecimal => Some(v)
      case other => ok(other)
    }
    // ---- catalyst side ----
    def exName(e: ce.Expression): Option[String] = e match {
      case a: ce.AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 => Some(u.name)
      case _ => None
    }
    def exVal(e: ce.Expression): Option[Any] = e match {
      case ce.Literal(v, _) => ok(v)
      case _ => None
    }
    def exValEq(e: ce.Expression): Option[Any] = e match {
      case ce.Literal(v, _) => okEq(v)
      case _ => None
    }
    def fromExpr(e: ce.Expression): Seq[(String, String, Seq[Any])] = e match {
      case ce.And(a, b) => fromExpr(a) ++ fromExpr(b)
      case ce.EqualTo(l, r) =>
        (for (c0 <- exName(l); v <- exValEq(r)) yield ("=", c0, Seq(v))).toSeq ++
          (for (c0 <- exName(r); v <- exValEq(l)) yield ("=", c0, Seq(v))).toSeq
      case ce.In(l, vs) if vs.nonEmpty =>
        (for (c0 <- exName(l); vals <- Option(vs.flatMap(exValEq))
              if vals.length == vs.length) yield ("in", c0, vals)).toSeq
      case ce.GreaterThan(l, r) => fromExpr(ce.GreaterThanOrEqual(l, r))
      case ce.LessThan(l, r) => fromExpr(ce.LessThanOrEqual(l, r))
      case ce.GreaterThanOrEqual(l, r) =>
        (for (c0 <- exName(l); v <- exVal(r)) yield (">=", c0, Seq(v))).toSeq ++
          (for (c0 <- exName(r); v <- exVal(l)) yield ("<=", c0, Seq(v))).toSeq
      case ce.LessThanOrEqual(l, r) =>
        (for (c0 <- exName(l); v <- exVal(r)) yield ("<=", c0, Seq(v))).toSeq ++
          (for (c0 <- exName(r); v <- exVal(l)) yield (">=", c0, Seq(v))).toSeq
      case _ => Nil
    }
    // ---- ColumnNode side ----
    def cnName(n: in.ColumnNode): Option[String] = n match {
      case a: in.UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def cnVal(n: in.ColumnNode): Option[Any] = n match {
      case l: in.Literal => ok(l.value)
      case _ => None
    }
    def cnValEq(n: in.ColumnNode): Option[Any] = n match {
      case l: in.Literal => okEq(l.value)
      case _ => None
    }
    def fromNode(n: in.ColumnNode): Seq[(String, String, Seq[Any])] = n match {
      case org.apache.spark.sql.classic.ExpressionColumnNode(e, _) =>
        fromExpr(e)
      case f: in.UnresolvedFunction => (f.functionName, f.arguments) match {
        case ("and", args) => args.flatMap(fromNode)
        case ("=" | "==", Seq(l, r)) =>
          (for (c0 <- cnName(l); v <- cnValEq(r)) yield ("=", c0, Seq(v))).toSeq ++
            (for (c0 <- cnName(r); v <- cnValEq(l)) yield ("=", c0, Seq(v))).toSeq
        case ("in", l +: vs) if vs.nonEmpty =>
          (for (c0 <- cnName(l); vals <- Option(vs.flatMap(cnValEq))
                if vals.length == vs.length) yield ("in", c0, vals)).toSeq
        case (">" | ">=", Seq(l, r)) =>
          (for (c0 <- cnName(l); v <- cnVal(r)) yield (">=", c0, Seq(v))).toSeq ++
            (for (c0 <- cnName(r); v <- cnVal(l)) yield ("<=", c0, Seq(v))).toSeq
        case ("<" | "<=", Seq(l, r)) =>
          (for (c0 <- cnName(l); v <- cnVal(r)) yield ("<=", c0, Seq(v))).toSeq ++
            (for (c0 <- cnName(r); v <- cnVal(l)) yield (">=", c0, Seq(v))).toSeq
        case _ => Nil
      }
      case _ => Nil
    }
    fromNode(c.node)
  }

  /** A V1 `StreamingRelation` over a stream-source provider (the node
    * `readStream.format(provider).load()` resolves to), with EXPLICIT
    * output attributes — what a resolution rule that swaps a DSv2
    * streaming relation for the V1 source needs: `DataSource` is
    * private[sql], so the construction lives in the bridge. The
    * engine later calls the provider's `createSource` with the schema
    * its `sourceSchema(options)` declares — callers must pass output
    * attrs consistent with it.
    */
  def streamingRelation(spark: org.apache.spark.sql.SparkSession,
                        provider: String, options: Map[String, String],
                        output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val ds = org.apache.spark.sql.execution.datasources.DataSource(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      className = provider, options = options)
    new org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
      ds, provider, output)
  }

  /** The inverse of [[streamingFrom]]: re-anchor a streaming
    * micro-batch frame on its computed RDD as a plain BATCH frame —
    * what a V1 streaming `Sink.addBatch` needs before handing the
    * data to a batch write path.
    */
  def batchFrom(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
