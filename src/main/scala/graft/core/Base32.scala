package graft.core

/** RFC 4648 base32 (no padding stripping — standard '=' padding), as used
  * for WARC payload/block digests in CDX convention.
  * Behavior reference: /root/reference/src/lib/warcserializer.ts:185-192
  * (base32-encode, variant "RFC4648"). */
object Base32 {
  private val ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  def encode(data: Array[Byte]): String = {
    val sb = new StringBuilder((data.length * 8 + 4) / 5)
    var bits = 0
    var value = 0
    var i = 0
    while (i < data.length) {
      value = (value << 8) | (data(i) & 0xff)
      bits += 8
      while (bits >= 5) {
        sb.append(ALPHABET((value >>> (bits - 5)) & 31))
        bits -= 5
      }
      i += 1
    }
    if (bits > 0) sb.append(ALPHABET((value << (5 - bits)) & 31))
    // RFC4648 pads to a multiple of 8 chars
    while (sb.length % 8 != 0) sb.append('=')
    sb.toString
  }
}
