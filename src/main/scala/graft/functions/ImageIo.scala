package graft.functions

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Real image decode for every container the JDK itself reads —
  * PNG, JPEG, GIF (and BMP/WBMP) via `javax.imageio` (java.desktop,
  * already on this JVM; no external media library). Two surfaces:
  *
  *  - [[ImageIo.imageDims]]: header-ONLY dimension probe (the reader
  *    parses the header; pixel data is never decoded) — the cheap
  *    metadata gate [[graft.operators.Multimodal.withMetadata]] uses
  *    for non-BMP containers.
  *  - [[ImageIo.aHash]]: full pixel decode → the SAME 8×8 integer
  *    average-hash as [[BmpAHash]] (identical grid mapping, R+G+B
  *    grayscale, integer mean threshold, [hi, lo] bit packing) — so
  *    a losslessly-encoded PNG/GIF of an image hashes IDENTICALLY to
  *    its BMP encoding (spec-pinned), and near-dup detection (mm4's
  *    banding) composes across container formats.
  *
  * The BMP codegen kernel ([[BmpAHash]]) stays the mm3/mm4 oracle
  * path — its byte arithmetic is re-derivable in DuckDB, a zlib/DCT
  * decode is not — this expression is the spec-pinned twin for the
  * compressed containers.
  *
  * Both expressions follow the [[BmpAHashExpr]] codegen pattern: the
  * generated code calls straight into the static kernel (one JVM call
  * — no eval/codegen divergence, whole-stage codegen stays intact).
  *
  * Scale/abuse guards: a decode failure of any kind is a diagnosable
  * NULL, never a stage-killing throw; [[ImageIo.MaxPixels]] bounds
  * the full decode's allocation so an adversarial header claiming a
  * gigapixel image (decompression bomb) can't OOM an executor —
  * exactly the crawler-poison threat the admission gates exist for.
  */
object ImageIo {

  // Without this, every createImageInputStream/read spills the
  // in-memory blob to a java.io.tmpdir cache FILE and deletes it —
  // per row, per probe — pure temp-file I/O overhead on the
  // metadata-gate hot path (review finding, round 8).
  ImageIO.setUseCache(false)

  /** Full-decode allocation cap: refuse to decode pixel data for
    * images larger than this many pixels (header dims are still
    * reported — the caller's gate can reject on them). */
  val MaxPixels: Long = 64L * 1024 * 1024

  /** Header-only probe: [width, height] or null when no installed
    * reader recognizes the container (the honest "not an image this
    * JVM can read" signal — callers fall back to the documented
    * stub). */
  def dims(b: Array[Byte]): Array[Int] = {
    if (b == null || b.length < 12) return null
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(b))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return null
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          Array(r.getWidth(0), r.getHeight(0))
        } finally r.dispose()
      } finally iis.close()
    } catch { case _: Exception => null }
  }

  /** Full pixel decode → 8×8 aHash [hi, lo], or null on undecodable
    * bytes, degenerate dims, or a [[MaxPixels]]-exceeding claim.
    * Identical sampling/threshold/packing to [[BmpAHash.compute]]:
    * grid cell (r, c) samples the pixel at logical-top-down
    * (row r·h/8, col c·w/8), grayscale = R+G+B, bit set iff
    * gray > integer mean, row-major bits 0-31 in lo, 32-63 in hi. */
  def aHash(b: Array[Byte], grid: Int): Array[Long] = {
    require(grid * grid == 64, s"bit packing assumes an 8x8 grid, got $grid")
    val d = dims(b)
    if (d == null || d(0) <= 0 || d(1) <= 0 ||
      d(0).toLong * d(1) > MaxPixels) return null
    val img =
      try ImageIO.read(new ByteArrayInputStream(b))
      catch { case _: Exception => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0) return null
    val n = grid * grid
    val gray = new Array[Long](n)
    var sum = 0L
    var i = 0
    while (i < n) {
      val rImg = (i / grid) * h / grid
      val cImg = (i % grid) * w / grid
      val rgb = img.getRGB(cImg, rImg)
      gray(i) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      sum += gray(i)
      i += 1
    }
    val mean = sum / n
    var hi = 0L
    var lo = 0L
    i = 0
    while (i < n) {
      if (gray(i) > mean) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    Array(hi, lo)
  }

  /** Decode any readable container and RE-ENCODE as PNG, or null on
    * undecodable/oversized input. The byte stream is whatever the
    * JDK's PNG writer emits (not canonical across JDKs) — callers
    * must only depend on the DECODED PIXELS (e.g. [[aHash]] of the
    * result), which are exact because PNG is lossless. This is the
    * transcode step of a real media-normalization pipeline, and the
    * engine-side half of the mm5 cross-format parity check. */
  def toPng(b: Array[Byte]): Array[Byte] = {
    val d = dims(b)
    if (d == null || d(0) <= 0 || d(1) <= 0 ||
      d(0).toLong * d(1) > MaxPixels) return null
    val img =
      try ImageIO.read(new ByteArrayInputStream(b))
      catch { case _: Exception => null }
    if (img == null) return null
    val out = new java.io.ByteArrayOutputStream()
    if (!ImageIO.write(img, "png", out)) return null
    out.toByteArray
  }

  /** Column API: header-probed [width, height] (array<int>) or NULL. */
  def imageDims(bin: Column): Column =
    Bridge.column(ImageDimsExpr(Bridge.expression(bin)))

  /** Column API: ImageIO-decoded [hi, lo] aHash halves or NULL. */
  def imageAHash(bin: Column): Column =
    Bridge.column(ImageIoAHashExpr(Bridge.expression(bin)))

  /** Column API: losslessly transcode to PNG (binary) or NULL. */
  def imageToPng(bin: Column): Column =
    Bridge.column(ImageToPngExpr(Bridge.expression(bin)))
}

/** `image_to_png(binary)` → binary PNG | NULL. */
case class ImageToPngExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "image_to_png"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"image_to_png needs binary, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    ImageIo.toPng(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bin => {
      val out = ctx.freshName("png")
      s"""
         |byte[] $out = graft.functions.ImageIo.toPng($bin);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ImageToPngExpr =
    copy(child = newChild)
}

/** `image_dims(binary)` → array<int> [width, height] | NULL. */
case class ImageDimsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "image_dims"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"image_dims needs binary, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val out = ImageIo.dims(input.asInstanceOf[Array[Byte]])
    if (out == null) null else new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bin => {
      val out = ctx.freshName("dims")
      s"""
         |int[] $out = graft.functions.ImageIo.dims($bin);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ImageDimsExpr =
    copy(child = newChild)
}

/** `imageio_ahash(binary)` → array<long> [hi, lo] | NULL. */
case class ImageIoAHashExpr(child: Expression) extends UnaryExpression {

  private val Grid = 8

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "imageio_ahash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"imageio_ahash needs binary, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val out = ImageIo.aHash(input.asInstanceOf[Array[Byte]], Grid)
    if (out == null) null else new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bin => {
      val out = ctx.freshName("ahash")
      s"""
         |long[] $out = graft.functions.ImageIo.aHash($bin, $Grid);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ImageIoAHashExpr =
    copy(child = newChild)
}
