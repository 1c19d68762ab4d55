package graft.functions

import graft.functions.expressions.{CosineSimilarity, DotProduct, HyperplaneBucket, VecNorm}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL-surface registration: expose the engine's functions to
  * `spark.sql(...)` users. Native expressions register through the
  * session function registry (planned + codegen'd like built-ins); the
  * remaining deterministic Scala functions register as named UDFs.
  */
object Registry {

  /** Column-API handle for the native cosine expression (Spark 4 Column
    * API split: classic conversions bridge Column <-> Expression).
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API handle for the native dot-product expression. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API handle for the native vector-norm expression. */
  def vecNorm(v: Column): Column =
    ColumnBridge.column(VecNorm(ColumnBridge.expression(v)))

  /** Column-API handle for the native hyperplane-LSH bucket expression. */
  def hyperplaneBucket(v: Column, planes: Int, seed: Long, dim: Int): Column =
    ColumnBridge.column(HyperplaneBucket(
      ColumnBridge.expression(v), planes, seed, dim))

  /** Register a fixed-arity native expression for SQL; a call with the
    * wrong number of arguments fails analysis with Spark's WRONG_NUM_ARGS
    * error naming the function and the count it takes.
    */
  private def registerNative(spark: SparkSession, name: String, arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      exprs => {
        if (exprs.length != arity)
          throw ColumnBridge.wrongNumArgs(name, arity, exprs.length)
        build(exprs)
      },
      "built-in")

  def registerAll(spark: SparkSession): Unit = {
    registerNative(spark, "cosine_similarity", 2)(e => CosineSimilarity(e(0), e(1)))
    registerNative(spark, "vec_dot", 2)(e => DotProduct(e(0), e(1)))
    registerNative(spark, "vec_norm", 1)(e => VecNorm(e(0)))

    // both wrap the Fns kernels so SQL and Column surfaces cannot drift
    // (they HAD drifted: the SQL rolling hash skipped the normalization
    // the Column API applies, giving different fingerprints for the same
    // input through the two surfaces)
    spark.udf.register("graft_hmac_sha256",
      (key: String, s: String) => Fns.hmacSha256Raw(key, s))

    spark.udf.register("graft_rolling_hash",
      (s: String) => Fns.rollingHashRaw(s))
  }
}
