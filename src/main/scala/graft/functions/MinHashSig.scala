package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 16 min-hash slots of a shingle-set in
  * ONE array pass.
  *
  * Semantics are EXACTLY the md5-slice formula the DuckDB oracle runs
  * (RegistryExtensions.duckSig16Body): per shingle x, four digests md5('j|' || x)
  * for j = 0..3; slot i (0..15) is the minimum over the set of hex chars
  * [8*(i%4), 8*(i%4)+8) of digest i/4 — i.e. the 16 8-hex-char slices of
  * the 128-char digest concat, min'd per slice position.
  *
  * Built-ins CAN express this (one digest transform + 16 slice/min array
  * passes — see PERF_NOTES_r8.md), but the 17 higher-order passes cost
  * ~3x the digest work itself on the SF100 corpus: every pass re-walks the
  * array and allocates per-element slices. Here the mins are tracked as
  * raw digest bytes in a tight loop (hex-lexicographic order == unsigned
  * byte order, since '0'..'9' < 'a'..'f' in ASCII) and only the 16
  * winners are hex-encoded. Null/empty input -> null, matching
  * array_min-over-empty semantics of the composed form. */
case class MinHashSig16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash16_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got " +
        other.catalogString)
  }

  override protected def nullSafeEval(in: Any): Any =
    MinHashSig16.compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashSig16$$.MODULE$$.compute($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig16 =
    copy(child = newChild)
}

object MinHashSig16 {

  private val seeds: Array[Array[Byte]] =
    Array("0|", "1|", "2|", "3|").map(_.getBytes("UTF-8"))

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Unsigned lexicographic compare of digest bytes [off, off+4) vs min. */
  private def less(dg: Array[Byte], off: Int, min: Array[Byte]): Boolean = {
    var k = 0
    while (k < 4) {
      val a = dg(off + k) & 0xff
      val b = min(k) & 0xff
      if (a != b) return a < b
      k += 1
    }
    false
  }

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val md = md5Local.get()
    val mins = Array.ofDim[Byte](16, 4)
    var any = false
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val sb = s.getBytes
        var j = 0
        while (j < 4) {
          md.update(seeds(j))
          md.update(sb)
          val dg = md.digest() // 16 bytes; digest() also resets
          var k = 0
          while (k < 4) {
            val slot = j * 4 + k
            if (!any || less(dg, 4 * k, mins(slot)))
              System.arraycopy(dg, 4 * k, mins(slot), 0, 4)
            k += 1
          }
          j += 1
        }
        any = true
      }
      i += 1
    }
    if (!any) return null
    val out = new Array[AnyRef](16)
    var slot = 0
    while (slot < 16) {
      val hex = new Array[Byte](8)
      var k = 0
      while (k < 4) {
        val b = mins(slot)(k) & 0xff
        hex(2 * k) = hexChars(b >>> 4).toByte
        hex(2 * k + 1) = hexChars(b & 0xf).toByte
        k += 1
      }
      out(slot) = UTF8String.fromBytes(hex)
      slot += 1
    }
    new GenericArrayData(out)
  }

  /** Register `minhash16_sig` for SQL text / `expr(...)` use. Idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash16_sig", exprs => MinHashSig16(exprs(0)), "built-in")
}
