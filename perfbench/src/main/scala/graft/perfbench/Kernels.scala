package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** The `functions` layer in isolation: the codegen'd vector kernels
  * (`graft_dot`, `graft_dist2`, `graft_norm2`) and the higher-order
  * fold they replace, each resolved by the session's analyzer and
  * evaluated through a generated projection over in-memory rows — no
  * Spark job. Reports nanoseconds per vector element. */
object Kernels {

  val Dim = 128
  val Rows = 1024
  /** Untimed sweeps first (the generated projection's JIT warm-up),
    * then the timed ones. */
  val WarmMs = 50L
  val TimedMs = 150L

  val Exprs: Seq[(String, String)] = Seq(
    "dot" -> "graft_dot(a, b)",
    "dist2" -> "graft_dist2(a, b)",
    "norm2" -> "graft_norm2(a)",
    "hof_dot" -> "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")

  private def vec(seed: Long, r: Int): Array[Double] =
    Array.tabulate(Dim)(i => Gen.floatVal(Gen.mix(seed, 7L, r, i)))

  /** ns per element of each kernel; fails if a kernel's answer on
    * the first row differs from the plain fold. */
  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("b", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val as = Array.tabulate(Rows)(r => vec(seed, 2 * r))
    val bs = Array.tabulate(Rows)(r => vec(seed, 2 * r + 1))
    val rows: Array[InternalRow] = Array.tabulate(Rows)(r => InternalRow(
      UnsafeArrayData.fromPrimitiveArray(as(r)), UnsafeArrayData.fromPrimitiveArray(bs(r))))
    val truth = Map(
      "dot" -> as(0).zip(bs(0)).foldLeft(0.0) { case (s, (x, y)) => s + x * y },
      "dist2" -> as(0).zip(bs(0)).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) },
      "norm2" -> as(0).foldLeft(0.0)((s, x) => s + x * x))
    Exprs.map { case (name, sql) =>
      val plan = empty.selectExpr(sql).queryExecution.analyzed.asInstanceOf[Project]
      val bound = BindReferences.bindReference(plan.projectList.head, plan.child.output)
      val proj = UnsafeProjection.create(Seq(bound))
      val want = truth.getOrElse(name, truth("dot"))
      val got = proj(rows(0)).getDouble(0)
      require(got == want, s"functions.$name: $got != $want")
      var sink = 0.0
      /** Whole sweeps over the rows for `ms`: (elements, elapsed ns). */
      def sweeps(ms: Long): (Long, Long) = {
        var elems = 0L
        val t0 = System.nanoTime()
        val deadline = t0 + ms * 1000000L
        while (System.nanoTime() < deadline) {
          var r = 0
          while (r < Rows) { sink += proj(rows(r)).getDouble(0); r += 1 }
          elems += Rows.toLong * Dim
        }
        (elems, System.nanoTime() - t0)
      }
      sweeps(WarmMs)
      val (elems, ns) = sweeps(TimedMs)
      require(!sink.isNaN)
      name -> ns.toDouble / elems
    }.toMap
  }
}
