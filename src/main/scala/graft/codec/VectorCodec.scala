package graft.codec

import java.nio.{ByteBuffer, ByteOrder}
import graft.ElemType

/** Pack/unpack between the wire format (little-endian packed BLOB, the
  * reference's storage form — README.md:7, sqlite-vector.c:1663-1675) and
  * the canonical `Array[Float]`.
  */
object VectorCodec {

  /** The one packer: the probes' literals, and `PackVector` from
    * `eval` and generated code alike.
    */
  def pack(v: Array[Float], et: ElemType): Array[Byte] = {
    val out = new Array[Byte](v.length * et.bytesPerElem)
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    et match {
      case ElemType.F32  => var i = 0; while (i < v.length) { bb.putFloat(v(i)); i += 1 }
      case ElemType.F16  => var i = 0; while (i < v.length) { bb.putShort(Fp16.floatToF16(v(i))); i += 1 }
      case ElemType.BF16 => var i = 0; while (i < v.length) { bb.putShort(Fp16.floatToBf16(v(i))); i += 1 }
      case ElemType.I8   => var i = 0; while (i < v.length) { bb.put(v(i).toByte); i += 1 }
      case ElemType.U8   => var i = 0; while (i < v.length) { bb.put((v(i).toInt & 0xff).toByte); i += 1 }
    }
    out
  }

  def unpack(b: Array[Byte], et: ElemType): Array[Float] = {
    val n = b.length / et.bytesPerElem
    val out = new Array[Float](n)
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    et match {
      case ElemType.F32  => var i = 0; while (i < n) { out(i) = bb.getFloat(); i += 1 }
      case ElemType.F16  => var i = 0; while (i < n) { out(i) = Fp16.f16ToFloat(bb.getShort() & 0xffff); i += 1 }
      case ElemType.BF16 => var i = 0; while (i < n) { out(i) = Fp16.bf16ToFloat(bb.getShort() & 0xffff); i += 1 }
      case ElemType.I8   => var i = 0; while (i < n) { out(i) = b(i).toFloat; i += 1 }
      case ElemType.U8   => var i = 0; while (i < n) { out(i) = (b(i) & 0xff).toFloat; i += 1 }
    }
    out
  }

  /** Validate a packed blob like vector_as_* does: size must be a multiple
    * of the element size (sqlite-vector.c:1663-1668) and, when a dimension
    * is supplied, exactly dim × elemSize (:1669-1675).
    */
  def checkBlob(b: Array[Byte], et: ElemType, dim: Int = -1): Unit = {
    require(b.length % et.bytesPerElem == 0,
      s"blob size ${b.length} is not a multiple of ${et.bytesPerElem} (${et.name})")
    if (dim > 0) require(b.length == dim * et.bytesPerElem,
      s"blob size ${b.length} != dim $dim * ${et.bytesPerElem}")
  }

  /** Parse a JSON text array like `'[0.1, 0.2, 0.3]'` into floats.
    *
    * Hand-rolled like the reference (vector_from_json,
    * sqlite-vector.c:1528-1653): tolerates whitespace and a trailing comma
    * (:1634-1635); rejects anything else non-numeric. Range checks for
    * i8/u8 targets (:1601-1615) are done by the caller via `checkRange`.
    */
  def parseJson(s: String, expectDim: Int = -1): Array[Float] = {
    val t = s.trim
    require(t.length >= 2 && t.charAt(0) == '[' && t.charAt(t.length - 1) == ']',
      s"not a JSON array: $s")
    val inner = t.substring(1, t.length - 1).trim
    val out =
      if (inner.isEmpty) Array.empty[Float]
      else {
        val parts = inner.split(",", -1).map(_.trim)
        // trailing comma => last part empty; tolerated like the reference
        val vals = if (parts.nonEmpty && parts.last.isEmpty) parts.dropRight(1) else parts
        vals.map { p =>
          require(p.nonEmpty, s"empty element in JSON array: $s")
          try p.toFloat
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(s"non-numeric element '$p' in JSON array") }
        }
      }
    if (expectDim > 0) require(out.length == expectDim,
      s"JSON array has ${out.length} elements, expected $expectDim")
    out
  }

  /** The vector_as_* evaluation (shared by ToVector's interpreted eval and
    * its generated code, which receives the ElemType case object via a
    * codegen reference — no parallel id registry to drift).
    * JSON text → parse + range-check + round-trip through the target
    * representation; packed blob → size-check + unpack.
    */
  def toVectorJ(v: Object, et: ElemType, expectDim: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val floats: Array[Float] = v match {
      case s: org.apache.spark.unsafe.types.UTF8String =>
        val parsed = parseJson(s.toString, expectDim)
        checkRange(parsed, et)
        // round-trip through the target representation, like packing does
        unpack(pack(parsed, et), et)
      case b: Array[Byte] =>
        checkBlob(b, et, expectDim)
        unpack(b, et)
      case other =>
        throw new IllegalArgumentException(s"vector_as_*: unsupported input ${other.getClass}")
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(floats)
  }

  /** i8/u8 range checks per sqlite-vector.c:1601-1615. */
  def checkRange(v: Array[Float], et: ElemType): Unit = et match {
    case ElemType.I8 =>
      v.foreach(x => require(x >= -128f && x <= 127f, s"value $x out of INT8 range"))
    case ElemType.U8 =>
      v.foreach(x => require(x >= 0f && x <= 255f, s"value $x out of UINT8 range"))
    case _ =>
  }
}
