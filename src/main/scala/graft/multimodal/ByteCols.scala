package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared declarative byte accessors over `binary` columns (binary has no
  * element accessor — hex the 1-byte slice and parse; codegen'd). One
  * definition for the whole multimodal package so endianness helpers
  * can't drift between the image and audio parsers. Offsets are 1-BASED
  * (substring convention). */
private[multimodal] object ByteCols {
  def u8(c: Column, i: Int): Column =
    conv(hex(substring(c, i, 1)), 16, 10).cast("int")
  def leU16(c: Column, i: Int): Column = u8(c, i) + u8(c, i + 1) * 256
  def beU32(c: Column, i: Int): Column =
    ((u8(c, i) * 256L + u8(c, i + 1)) * 256L + u8(c, i + 2)) * 256L + u8(c, i + 3)
  def leU24(c: Column, i: Int): Column =
    u8(c, i) + u8(c, i + 1) * 256 + u8(c, i + 2) * 65536
  def leU32(c: Column, i: Int): Column =
    u8(c, i) + u8(c, i + 1) * 256L + u8(c, i + 2) * 65536L +
      u8(c, i + 3) * 16777216L
  def ascii4(c: Column, i: Int): Column = substring(c, i, 4).cast("string")
}
