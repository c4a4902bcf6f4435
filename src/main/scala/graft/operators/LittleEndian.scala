package graft.operators

/** Unsigned little-endian reads of the byte containers the operators
  * walk (ZIP, RIFF, Ogg, GIF, BMP, WebP): the value of the `n`-byte
  * field at offset `o` of `b`.
  */
private[graft] object LittleEndian {

  def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)

  def le24(b: Array[Byte], o: Int): Long = le16(b, o) | ((b(o + 2) & 0xFFL) << 16)

  def le32(b: Array[Byte], o: Int): Long = le24(b, o) | ((b(o + 3) & 0xFFL) << 24)

  def le64(b: Array[Byte], o: Int): Long = le32(b, o) | (le32(b, o + 4) << 32)
}
