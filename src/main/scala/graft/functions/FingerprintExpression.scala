package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._

/** The fused fingerprint kernel as a native Catalyst expression (SURVEY
  * §2.11, §4 item 1): html + text -> one struct with every per-document
  * signature field, in a single pass over the extracted tokens.
  *
  * Why an `Expression` and not a typed map/UDF: the fingerprint stage is the
  * engine's hot map. A typed Dataset map pays an Encoder round-trip
  * (UnsafeRow -> case class -> UnsafeRow) per row and breaks the
  * whole-stage-codegen span; this expression participates in codegen
  * (`doGenCode` emits a direct kernel call on the deserialized inputs — no
  * fallback iterator), keeps column pruning natural, and writes primitive
  * arrays via `UnsafeArrayData.fromPrimitiveArray` (no boxing).
  *
  * Determinism: the kernel delegates to the same `graft.core` functions the
  * sequential oracle uses, so parity is by construction (and pinned by
  * FingerprintExprSpec).
  */
case class PageFingerprint(left: Expression, right: Expression, cfg: GraftConfig)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"page_fingerprint expects (BINARY, STRING), got (${left.dataType}, ${right.dataType})")
  }
  override def nullable: Boolean = false
  override def prettyName: String = "page_fingerprint"

  override def dataType: DataType = PageFingerprint.schema

  @transient private lazy val kernel = new FingerprintKernel(cfg)

  /** Both children nullable-safe: a null html means an empty page; null text
    * means "no expected text" (extract_ok compares against empty). */
  override def eval(input: InternalRow): Any = {
    val html = left.eval(input)
    val text = right.eval(input)
    kernel.evalRow(
      if (html == null) null else html.asInstanceOf[Array[Byte]],
      if (text == null) null else text.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("fpKernel", kernel, classOf[FingerprintKernel].getName)
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val out =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        InternalRow ${ev.value} = $kernelRef.evalRow(
          ${leftGen.isNull} ? null : ${leftGen.value},
          ${rightGen.isNull} ? null : ${rightGen.value});
      """
    ev.copy(code = out, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PageFingerprint {
  val schema: StructType = StructType(Seq(
    StructField("text_len", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("text_md5", StringType, nullable = false),
    StructField("simhash_head", LongType, nullable = true),
    StructField("simhash_tail", LongType, nullable = true),
    StructField("mh_bands_head", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("mh_bands_tail", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("mh_rescue_head", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("mh_rescue_tail", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("shingles_head", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("shingles_tail", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("ss_keys", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("extract_ok", BooleanType, nullable = false),
    StructField("reject_reason", StringType, nullable = true)
  ))

  /** Column-API entry point (Spark 4: Column <-> Expression bridge is
    * private[sql]; see graftbridge.ColumnBridge). */
  def apply(html: Column, text: Column, cfg: GraftConfig): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(new PageFingerprint(
      ColumnBridge.expression(html), ColumnBridge.expression(text), cfg))
  }
}

/** Serializable, codegen-referencable kernel. Public because generated code
  * calls it. */
final class FingerprintKernel(cfg: GraftConfig) extends Serializable {
  @transient private lazy val mh = new MinHasher(cfg.numPerm, cfg.seed)

  def evalRow(html: Array[Byte], text: UTF8String): InternalRow = {
    val extracted = Extract.text(html)
    val expected = if (text == null) "" else text.toString
    val sig = DocSignatures.of(extracted, cfg, mh)
    val row = new GenericInternalRow(14)
    row.setLong(0, sig.textLen)
    row.setLong(1, sig.sizeBytes)
    row.update(2, UTF8String.fromString(FingerprintKernel.md5hex(extracted)))
    if (sig.simhashHead == 0L) row.setNullAt(3) else row.setLong(3, sig.simhashHead)
    if (sig.simhashTail == 0L) row.setNullAt(4) else row.setLong(4, sig.simhashTail)
    // per-slot signatures come precomputed on the DocSignature (computed once
    // over the stored arrays in DocSignatures.of) — re-running the
    // O(numPerm x slot) pass here would double the hottest kernel's cost
    row.update(5, UnsafeArrayData.fromPrimitiveArray(bandKeys(sig.mhHead)))
    row.update(6, UnsafeArrayData.fromPrimitiveArray(bandKeys(sig.mhTail)))
    row.update(7, UnsafeArrayData.fromPrimitiveArray(
      rescueKeys(sig.mhHead, sig.shinglesHead.length)))
    row.update(8, UnsafeArrayData.fromPrimitiveArray(
      rescueKeys(sig.mhTail, sig.shinglesTail.length)))
    row.update(9, UnsafeArrayData.fromPrimitiveArray(sig.shinglesHead))
    row.update(10, UnsafeArrayData.fromPrimitiveArray(sig.shinglesTail))
    row.update(11, UnsafeArrayData.fromPrimitiveArray(sig.ssKeys))
    row.setBoolean(12, extracted == expected)
    val reject =
      if (extracted.isEmpty) "empty_text"
      else if (html != null && extracted.length > html.length) "extract_anomaly"
      else if (sig.isRejected) "low_entropy"
      else null
    if (reject == null) row.setNullAt(13) else row.update(13, UTF8String.fromString(reject))
    row
  }

  private def hashRows(sigArr: Array[Long], from: Int, n: Int, seed: Long): Long =
    XXH64.hashLongsLE(sigArr, from, n, seed, new Array[Byte](n << 3))

  def bandKeys(sigArr: Array[Long]): Array[Long] =
    if (sigArr == null) Array.emptyLongArray
    else {
      val rows = cfg.minhashRowsPerBand
      Array.tabulate(cfg.minhashBands)(b => hashRows(sigArr, b * rows, rows, cfg.seed + b))
    }

  def rescueKeys(sigArr: Array[Long], nShingles: Int): Array[Long] =
    if (sigArr == null || nShingles >= cfg.shortSlotShingles) Array.emptyLongArray
    else Array.tabulate(cfg.numPerm / 2)(b => hashRows(sigArr, 2 * b, 2, cfg.seed + 5000 + b))
}

object FingerprintKernel {
  def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }
}
