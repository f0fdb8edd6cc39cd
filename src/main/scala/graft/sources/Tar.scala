package graft.sources

/** The USTAR (POSIX.1-1988) header codec behind the `graft-tar` connector
  * ([[graft.sources.tarv2.TarDataSource]]), which reads and writes
  * WebDataset-style tar shards — the interchange format for multimodal
  * training corpora (a shard is a plain `.tar`; each sample is one or
  * more adjacent entries named `<key>.<ext>`; trainers stream shards
  * sequentially and shuffle at the shard level). Fixed 512-byte headers,
  * octal fields, the space-initialized checksum — so shards interoperate
  * with `tar`/`tarfile` and no archive library is needed.
  */
object Tar {

  private val BLOCK = 512

  /** Fail-loud name limit: USTAR's name field is 100 bytes (the prefix
    * field could extend it, but WebDataset keys are short by convention —
    * a longer name is almost certainly a bug upstream).
    */
  private def checkName(name: String): Array[Byte] = {
    val b = name.getBytes("UTF-8")
    require(b.length <= 100 && b.nonEmpty,
      s"tar entry name must be 1..100 bytes, got ${b.length}: '$name'")
    b
  }

  /** One USTAR entry (header + payload + padding), deterministic: mtime
    * 0, mode 0644, uid/gid 0, empty uname/gname — byte-identical output
    * for identical input, so shard files are reproducible artifacts.
    */
  private[sources] def entryBytes(name: String, payload: Array[Byte]): Array[Byte] = {
    val nameB = checkName(name)
    val h = new Array[Byte](BLOCK)
    def putOctal(value: Long, off: Int, len: Int): Unit = {
      // len-1 octal digits, NUL terminated (the classic encoding)
      val s = java.lang.Long.toOctalString(value)
      val padded = ("0" * (len - 1 - s.length)) + s
      require(padded.length == len - 1, s"octal overflow: $value in $len")
      System.arraycopy(padded.getBytes("US-ASCII"), 0, h, off, len - 1)
      h(off + len - 1) = 0
    }
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    putOctal(0x1a4, 100, 8)            // mode 0644
    putOctal(0, 108, 8)                // uid
    putOctal(0, 116, 8)                // gid
    putOctal(payload.length.toLong, 124, 12) // size
    putOctal(0, 136, 12)               // mtime
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum: spaces first
    h(156) = '0'                       // typeflag: regular file
    System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, 257, 5)
    h(262) = 0
    System.arraycopy("00".getBytes("US-ASCII"), 0, h, 263, 2)
    val sum = h.foldLeft(0L)((a, b) => a + (b & 0xff))
    // checksum: 6 octal digits, NUL, space
    val cs = java.lang.Long.toOctalString(sum)
    val csPad = ("0" * (6 - cs.length)) + cs
    System.arraycopy(csPad.getBytes("US-ASCII"), 0, h, 148, 6)
    h(154) = 0
    h(155) = ' '.toByte
    val padLen = (BLOCK - payload.length % BLOCK) % BLOCK
    val out = new Array[Byte](BLOCK + payload.length + padLen)
    System.arraycopy(h, 0, out, 0, BLOCK)
    System.arraycopy(payload, 0, out, BLOCK, payload.length)
    out
  }

  /** Validate one 512-byte USTAR header block: verifies the checksum and
    * decodes (name, payload size, typeflag). Returns None on the
    * end-of-archive zero block. A POSIX ustar header's non-empty `prefix`
    * field is joined as `prefix/name`. A PAX `'x'` header's payload goes
    * to [[paxPath]], whose `path` names the next entry; a PAX `'g'`
    * header is skipped like any other non-file entry. GNU long-name
    * entries (`'L'`/`'K'`) rewrite the next entry's name in a form this
    * codec does not decode, so they fail loud naming `context` (the
    * shard) rather than yield a cut name.
    */
  private[sources] def parseHeader(h: Array[Byte],
      context: String): Option[(String, Long, Char)] = {
    if (h.forall(_ == 0)) return None // end-of-archive
    val stored = new String(h, 148, 8, "US-ASCII")
      .takeWhile(c => c >= '0' && c <= '7')
    val saved = java.util.Arrays.copyOfRange(h, 148, 156)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    val sum = h.foldLeft(0L)((a, b) => a + (b & 0xff))
    System.arraycopy(saved, 0, h, 148, 8)
    require(java.lang.Long.parseLong(stored, 8) == sum,
      s"tar header checksum mismatch in $context")
    val typeflag = h(156).toChar
    require(typeflag != 'L' && typeflag != 'K',
      s"tar entry type '$typeflag' (GNU long-name header) in $context is " +
        "not supported — write shards in ustar or pax format")
    // the name field is BYTES 0..99 — a full 100-byte name has no
    // NUL terminator, so scanning the whole header would run into
    // the mode field
    def field(off: Int, len: Int) =
      new String(h.slice(off, off + len).takeWhile(_ != 0), "UTF-8")
    val base = field(0, 100)
    // POSIX magic "ustar\0" only: the old GNU layout ("ustar  ") keeps
    // atime/ctime where POSIX keeps the prefix
    val posix = new String(h, 257, 6, "US-ASCII") == "ustar\u0000"
    val prefix = if (posix) field(345, 155) else ""
    val name = if (prefix.isEmpty) base else s"$prefix/$base"
    val size = java.lang.Long.parseLong(
      new String(h, 124, 12, "US-ASCII").trim.takeWhile(_ != 0), 8)
    Some((name, size, typeflag))
  }

  /** Decode a PAX `'x'` header's payload, records of the form
    * `<len> <key>=<value>\n`, and return its `path`, which names the
    * next entry in place of that entry's ustar name. Other keys (mtime,
    * uid, uname, linkpath, vendor `SCHILY.*` …) describe what the reader
    * does not return, and are ignored. Keys that change the payload's
    * length or layout (`size`, `GNU.sparse.*`) or the name's encoding
    * (`hdrcharset`) fail loud naming `context`.
    */
  private[sources] def paxPath(rec: Array[Byte], context: String): Option[String] = {
    var path: Option[String] = None
    var i = 0
    while (i < rec.length && rec(i) != 0) {
      val sp = rec.indexOf(' '.toByte, i)
      val len = if (sp <= i) -1
        else scala.util.Try(new String(rec, i, sp - i, "US-ASCII").toInt).getOrElse(-1)
      require(len > sp - i + 1 && i + len <= rec.length && rec(i + len - 1) == '\n',
        s"malformed PAX header record at byte $i in $context")
      val kv = new String(rec, sp + 1, i + len - 2 - sp, "UTF-8")
      val eq = kv.indexOf('=')
      require(eq > 0, s"malformed PAX header record at byte $i in $context")
      val key = kv.substring(0, eq)
      require(key != "size" && key != "hdrcharset" && !key.startsWith("GNU.sparse."),
        s"PAX header key '$key' in $context is not supported")
      if (key == "path") path = Some(kv.substring(eq + 1))
      i += len
    }
    path
  }
}
