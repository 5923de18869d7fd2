package graft.core

/** Shared digest helpers — one table-driven hex encoder instead of the
  * per-byte `"%02x".format` Formatter idiom on hot paths.
  */
object Digests {

  private val HexChars = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }
}
