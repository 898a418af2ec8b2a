package graft.functions.expressions

/** Shared digest plumbing for the native md5-family expressions
  * ([[Md5Hex]], [[Md5Fraction]], [[Md5Words]], [[WinnowMin]]): one thread-local
  * MessageDigest (the built-in md5() allocates per call) and one
  * lowercase-hex encoder. */
private[expressions] object Md5Util {

  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** The thread's digest, reset and ready. */
  def md5(): java.security.MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** 16-byte digest → 32-char lowercase hex (what Spark's md5 emits;
    * byte-order-monotone, so byte mins and hex mins agree). */
  def hex(digest: Array[Byte]): String = {
    val out = new Array[Char](32)
    var j = 0
    while (j < 16) {
      out(2 * j) = HexChars((digest(j) >> 4) & 0xf)
      out(2 * j + 1) = HexChars(digest(j) & 0xf)
      j += 1
    }
    new String(out)
  }
}
