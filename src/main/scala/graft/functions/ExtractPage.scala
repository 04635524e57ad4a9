package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.{Assembler, ContentTokenizer, ExtractorConfig, Scorer}

/** Native whole-operator expression (SURVEY.md §4.3b, the M7 path):
  * `extract_page(html, blockSep, maxHtmlBytes)` → STRUCT<text,
  * span_starts, span_ends, span_block_ids, span_scores, n_blocks, n_kept,
  * bytes_in, bytes_out>. This is the only Spark entry to the kernel.
  *
  * The whole pipeline stays a Project inside the codegen stage: the
  * kernel writes straight into an InternalRow (UTF8String + primitive
  * UnsafeArrayData, no case-class intermediates, no encoder, no
  * DeserializeToObject/SerializeFromObject pair). CodegenFallback only
  * wraps the kernel CALL — the row never leaves Tungsten representation.
  *
  * Byte-identity: same kernel (HtmlTokenizer/Scorer/Assembler), so the
  * result is bit-for-bit equal to GoldenExtractor (asserted row by row
  * in SparkPipelineSpec).
  */
case class ExtractPage(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def nullable: Boolean = false

  // analysis-time type errors beat executor-side ClassCastException
  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(msg)
    if (children.length != 3)
      fail(s"extract_page expects 3 args (html, blockSep, maxHtmlBytes), got ${children.length}")
    else if (children(0).dataType != BinaryType)
      fail(s"arg 1 (html) must be BINARY, got ${children(0).dataType.simpleString}")
    else if (!children(1).foldable || children(1).dataType != StringType)
      fail(s"arg 2 (blockSep) must be a STRING literal, got ${children(1).dataType.simpleString}")
    else if (!children(2).foldable || !children(2).dataType.isInstanceOf[NumericType])
      fail(s"arg 3 (maxHtmlBytes) must be a numeric literal, got ${children(2).dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override val dataType: DataType = ExtractPage.schema

  @transient private lazy val cfg: ExtractorConfig = ExtractorConfig(
    blockSep = children(1).eval(InternalRow.empty).asInstanceOf[UTF8String].toString,
    maxHtmlBytes = children(2).eval(InternalRow.empty) match {
      case d: Decimal => d.toInt
      case n => n.asInstanceOf[Number].intValue()
    })

  override def eval(input: InternalRow): Any = {
    val html = children.head.eval(input).asInstanceOf[Array[Byte]]
    ExtractPage.extractToRow(html, cfg)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExtractPage = copy(children = newChildren)
}

object ExtractPage {

  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("span_starts", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("span_ends", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("span_block_ids", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("span_scores", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("n_blocks", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("bytes_in", LongType, nullable = false),
    StructField("bytes_out", LongType, nullable = false)
  ))

  /** Kernel → InternalRow, no case-class intermediates. */
  def extractToRow(html: Array[Byte], cfg: ExtractorConfig): InternalRow = {
    val blocks = ContentTokenizer.tokenize(html, cfg)
    val scored = Scorer.score("", blocks)
    val a = Assembler.assembleColumnar(scored, cfg)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(9)
    row.update(0, UTF8String.fromString(a.text))
    row.update(1, UnsafeArrayData.fromPrimitiveArray(a.starts))
    row.update(2, UnsafeArrayData.fromPrimitiveArray(a.ends))
    row.update(3, UnsafeArrayData.fromPrimitiveArray(a.blockIds))
    row.update(4, UnsafeArrayData.fromPrimitiveArray(a.scores))
    row.update(5, blocks.length)
    row.update(6, a.nSpans)
    row.update(7, (if (html == null) 0 else html.length).toLong)
    row.update(8, a.textBytes.toLong) // accumulated during assembly, no second pass
    row
  }
}
