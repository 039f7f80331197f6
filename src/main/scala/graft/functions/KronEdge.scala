package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.gen.Kronecker

/**
 * `kron_edge(scale, i)` — Graph500 Kronecker edge `i` as a
 * STRUCT<src BIGINT, dst BIGINT>, making deterministic generation
 * callable from SQL (SURVEY §7.3's stretch goal):
 *
 *   SELECT e.src, e.dst FROM (SELECT kron_edge(10, id) AS e FROM range(16384))
 *
 * Uses the benchmark seeds (2,3). CodegenFallback: the MRG skip-ahead +
 * R-MAT descent (`Kronecker.makeEdge`, a full skip from the seed per
 * row) measured 0.45-0.57 µs per row at SCALE 16 on one thread of a
 * 4-core x86 host — codegen would only inline the call; generation
 * stays embarrassingly parallel (evaluated inside whole-stage-codegen'd
 * range scans via fallback call). */
case class KronEdge(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))
  override def prettyName: String = "kron_edge"

  @transient private lazy val scrambles =
    Kronecker.scrambleVals(Kronecker.DefaultSeed1, Kronecker.DefaultSeed2)

  override def nullSafeEval(scaleAny: Any, iAny: Any): Any = {
    val scale = scaleAny.asInstanceOf[Number].intValue()
    val i = iAny.asInstanceOf[Number].longValue()
    val (s, d) = Kronecker.makeEdge(scale, i,
      Kronecker.DefaultSeed1, Kronecker.DefaultSeed2,
      scrambles._1, scrambles._2)
    InternalRow(s, d)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KronEdge =
    copy(left = newLeft, right = newRight)
}
