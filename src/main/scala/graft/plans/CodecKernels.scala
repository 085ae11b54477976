package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** ArrayData adapters for the VByte doc-vector codec
  * (graft.functions.VByteCodec — byte-parity with the reference's
  * VByteDocVector container). */
object CodecKernels {
  /** Null for an array holding a null element: VByte has no null, and
    * `toLongArray` would write it as 0. */
  def encodeData(ids: ArrayData): Array[Byte] =
    if (ids == null || (0 until ids.numElements()).exists(ids.isNullAt)) null
    else graft.functions.VByteCodec.encode(ids.toLongArray())

  def decodeData(bytes: Array[Byte]): ArrayData =
    if (bytes == null) null
    else new GenericArrayData(graft.functions.VByteCodec.decode(bytes))
}
