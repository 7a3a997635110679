package graft.functions

import java.security.MessageDigest

/** The one MD5 state graft's hashing kernels share: a `MessageDigest` per
  * thread (instances are not thread-safe, and `getInstance` per row pays a
  * provider lookup), handed out reset so a kernel never sees a previous
  * caller's partial update. */
private[functions] object Md5 {

  private val local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def get(): MessageDigest = {
    val md = local.get()
    md.reset()
    md
  }

  /** The 8 digest bytes at `off` as one big-endian word: its order as an
    * unsigned long is the order of their 16 hex chars. */
  def word(digest: Array[Byte], off: Int): Long = {
    var w = 0L
    var i = 0
    while (i < 8) { w = (w << 8) | (digest(off + i) & 0xffL); i += 1 }
    w
  }
}
