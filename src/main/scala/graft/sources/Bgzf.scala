package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, Deflater, Inflater}

/** Splittable BGZF (bgzip) text reader/writer.
  *
  * Plain gzip is not splittable — one task per file, which serializes a
  * 100 TB single-file gVCF no matter how many executors exist. bgzip
  * output (what samtools/tabix produce; reference consumers e.g.
  * compress_gvcf.py:122-212 read it exclusively) is a chain of independent
  * <=64 KiB gzip members, each carrying its compressed size in a BC extra
  * subfield — so any byte range can locate the next member boundary with a
  * bounded forward scan and start inflating there.
  *
  * Spark-first: the driver cuts the file into compressed byte ranges; each
  * task finds its first block, inflates forward, and emits lines under a
  * single-owner rule: **a line belongs to the reader whose owned blocks
  * contain the newline byte that precedes it** (the first line of the file
  * belongs to the reader holding block 0). Owned blocks = blocks whose
  * start offset falls in the reader's range — every block has exactly one
  * owner, every newline lives in exactly one block, so every line is
  * emitted exactly once with no cross-task coordination:
  *   - a reader skips bytes through the first newline found in its owned
  *     blocks (that newline terminates some predecessor's line);
  *   - it then emits lines, inflating past its range end when a line
  *     straddles it, and stops after emitting the line begun by the last
  *     owned newline;
  *   - a reader whose owned blocks contain no newline (a range fully
  *     inside one giant line) emits nothing.
  *
  * Every read goes through one line cursor ([[Cursor]]), as every htslib
  * read goes through `bgzf_getline`: the scan's split reader
  * ([[splitLines]]), the driver-local tabix lookup ([[chunkLines]]) and
  * the tabix builder's walk ([[splitLinesWithOffsets]]) are short loops
  * over it, so they cut lines and compute virtual offsets alike. A line
  * is decoded as UTF-8 once, whatever blocks it crosses, and loses one
  * '\r' before its end, so a CRLF file reads like its LF form.
  */
object Bgzf {

  private val MaxBlock = 65536 // BSIZE is 16-bit: total member size <= 64 KiB

  /** BGZF member total size (BSIZE+1) parsed from a header at `off` in
    * `buf`, or -1 if `off` does not start a valid BGZF member header. */
  private[sources] def memberSize(buf: Array[Byte], off: Int): Int = {
    def u8(i: Int) = buf(off + i) & 0xff
    if (off + 18 > buf.length) return -1
    if (u8(0) != 0x1f || u8(1) != 0x8b || u8(2) != 8 || (u8(3) & 4) == 0) return -1
    val xlen = u8(10) | (u8(11) << 8)
    if (off + 12 + xlen > buf.length) return -1
    var p = 12
    while (p + 4 <= 12 + xlen) {
      val slen = u8(p + 2) | (u8(p + 3) << 8)
      if (u8(p) == 66 && u8(p + 1) == 67 && slen == 2)
        return (u8(p + 4) | (u8(p + 5) << 8)) + 1
      p += 4 + slen
    }
    -1
  }

  /** Does a valid member header at `off` of `buf` (file offset `at`)
    * chain — its BSIZE landing exactly on EOF or on another valid
    * header? The next header is read from `in` only when it lies past
    * `buf`. */
  private def chains(in: FSDataInputStream, buf: Array[Byte], off: Int, at: Long,
                     fileLen: Long): Boolean = {
    val sz = memberSize(buf, off)
    if (sz <= 0) return false
    val next = at + sz
    if (next == fileLen) true
    else if (next > fileLen || fileLen - next < 18) false
    else if (off + sz + 18 <= buf.length)
      memberSize(java.util.Arrays.copyOfRange(buf, off + sz, off + sz + 18), 0) > 0
    else {
      val hdr = new Array[Byte](18)
      in.seek(next)
      in.readFully(hdr)
      memberSize(hdr, 0) > 0
    }
  }

  /** Compressed offset of the first BGZF block starting at or after `from`
    * (`fileLen` when none): scan a bounded window for the gzip magic and
    * validate a candidate by chaining. A block must start within MaxBlock
    * bytes of any in-file offset, so the window never exceeds two blocks.
    * Leaves `in` at an unspecified position. */
  private[sources] def findBlockStart(in: FSDataInputStream, from: Long,
                                      fileLen: Long): Long = {
    if (from >= fileLen) return fileLen
    val winLen = math.min(2L * MaxBlock, fileLen - from).toInt
    val win = new Array[Byte](winLen)
    in.seek(from)
    in.readFully(win, 0, winLen)
    var o = 0
    while (o < winLen) {
      if (chains(in, win, o, from + o, fileLen)) return from + o
      o += 1
    }
    fileLen
  }

  /** True when the file begins with a valid chained BGZF member (cheap
    * sniff for dispatching between this reader and the plain-text path):
    * one 18-byte header, plus the next one when the first member does
    * not end the file. */
  def isBgzf(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    if (len < 28) return false
    val in = fs.open(p)
    try {
      val hdr = new Array[Byte](18)
      in.readFully(hdr)
      chains(in, hdr, 0, 0L, len)
    } finally in.close()
  }

  /** The one BGZF line reader, htslib's `bgzf_getline` as a class: it
    * reads members sequentially from one stream (a positional read on a
    * checksummed FS opens a fresh checker, the data file and its .crc, per
    * call), inflates them, and cuts lines at '\n'. A line inside one block
    * is decoded straight from the inflated block; a line that crosses
    * blocks is gathered as bytes and decoded once, so a UTF-8 character
    * split by a block edge survives. One '\r' ending a line is dropped
    * (htslib's rule), so a CRLF file reads like its LF form. [[offset]] is
    * the virtual offset (coffset<<16 | uoffset) of the next byte within
    * the current block, which a line ending its block leaves at that
    * block's end: the chunk coordinates a tabix index records. */
  private final class Cursor(conf: Configuration, path: String) extends AutoCloseable {
    private val (in, fileLen) = {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val n = fs.getFileStatus(p).getLen
      (fs.open(p), n)
    }
    private val inflater = new Inflater(true) // raw deflate: no member header/trailer
    private val hdr = new Array[Byte](18)
    private val raw = new Array[Byte](MaxBlock)
    private val data = new Array[Byte](MaxBlock) // the current block, inflated
    private var len = 0 // inflated bytes in `data`
    private var pos = 0 // the next unread byte of `data`
    private var next = 0L // compressed offset of the member after `block`
    private var acc = new Array[Byte](256) // a line that crosses blocks
    /** Compressed offset of the current block (-1 before the first). */
    var block = -1L
    /** Whether the last [[readLine]] ended at a '\n' rather than at EOF. */
    var newline = false

    def offset: Long = (block << 16) | pos

    /** Reads and inflates the member at `at` (an empty one, such as the
      * EOF marker, leaves no data). */
    private def load(at: Long): Unit = {
      if (in.getPos != at) in.seek(at)
      val sz = if (fileLen - at < 18) -1 else { in.readFully(hdr); memberSize(hdr, 0) }
      require(sz >= 26, s"not a BGZF block at offset $at of $path")
      System.arraycopy(hdr, 0, raw, 0, 18)
      in.readFully(raw, 18, sz - 18)
      def le(i: Int) = raw(i) & 0xff
      val xlen = le(10) | (le(11) << 8)
      val isize = le(sz - 4) | (le(sz - 3) << 8) | (le(sz - 2) << 16) | (le(sz - 1) << 24)
      var n = 0
      if (isize != 0) {
        inflater.reset()
        inflater.setInput(raw, 12 + xlen, sz - 12 - xlen - 8)
        while (n < isize && n < MaxBlock && !inflater.finished() && !inflater.needsInput())
          n += inflater.inflate(data, n, MaxBlock - n)
        require(n == isize, s"short inflate at offset $at of $path")
      }
      block = at
      next = at + sz
      len = n
      pos = 0
    }

    /** Positions before the first block that starts at or after
      * compressed offset `from`. */
    def seekBlock(from: Long): Unit = {
      next = if (from == 0L) 0L else findBlockStart(in, from, fileLen)
      len = 0
      pos = 0
    }

    /** Positions at virtual offset `v`; true when a line starts there: the
      * byte before it is a '\n' or the file's start. */
    def seek(v: Long): Boolean = {
      val blk = v >>> 16
      val off = (v & 0xffff).toInt
      val startsLine = off > 0 || blk == 0L || { val b = byteBefore(blk); b == '\n' || b == -1 }
      if (blk != block) load(blk)
      pos = off
      startsLine && off <= len && (off == 0 || data(off - 1) == '\n')
    }

    /** The last inflated byte before block `blk` (-1 when only empty
      * members precede it within MaxBlock): blocks are walked forward from
      * the first one found in the MaxBlock before `blk`, which the previous
      * block must start in. -2 when the walk misses `blk`. */
    private def byteBefore(blk: Long): Int = {
      var b = findBlockStart(in, math.max(0L, blk - MaxBlock), fileLen)
      var last = -1
      while (b < blk) {
        load(b)
        if (len > 0) last = data(len - 1) & 0xff
        b = next
      }
      if (b == blk) last else -2
    }

    /** Moves past consumed and empty blocks; false at EOF. */
    def haveData: Boolean = {
      while (pos >= len && next < fileLen) load(next)
      pos < len
    }

    private def eol(): Int = {
      var i = pos
      while (i < len && data(i) != '\n') i += 1
      i
    }

    /** Skips through the next '\n' that lies in a block starting before
      * `limit`; false when there is none. */
    def skipLine(limit: Long): Boolean = {
      while (haveData && block < limit) {
        val i = eol()
        if (i < len) { pos = i + 1; return true }
        pos = len
      }
      false
    }

    /** The next line, without its '\n' and one '\r' before it ("" at EOF). */
    def readLine(): String = {
      val i = eol()
      newline = i < len
      if (newline) { val s = pos; pos = i + 1; return decode(data, s, i - s) }
      var n = 0
      while (!newline && haveData) {
        val j = eol()
        newline = j < len
        if (n + j - pos > acc.length)
          acc = java.util.Arrays.copyOf(acc, math.max(2 * acc.length, n + j - pos))
        System.arraycopy(data, pos, acc, n, j - pos)
        n += j - pos
        pos = if (newline) j + 1 else len
      }
      decode(acc, 0, n)
    }

    private def decode(b: Array[Byte], from: Int, n: Int): String =
      new String(b, from, if (n > 0 && b(from + n - 1) == '\r') n - 1 else n, UTF_8)

    override def close(): Unit = try in.close() finally inflater.end()
  }

  /** What `step` yields until it returns null, closing `res` then or at an
    * early `close()` (e.g. a LIMIT query's PartitionReader). */
  private[sources] def closingIterator[A <: AnyRef](res: AutoCloseable)(step: => A)
      : Iterator[A] with AutoCloseable =
    new Iterator[A] with AutoCloseable {
      private var pending: A = _
      private var closed = false
      override def hasNext: Boolean = {
        if (pending == null && !closed) {
          pending = step
          if (pending == null) close()
        }
        pending != null
      }
      override def next(): A = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending; pending = null.asInstanceOf[A]; r
      }
      override def close(): Unit = if (!closed) { closed = true; res.close() }
    }

  /** One split's lines under the single-owner rule above: the VCF
    * scan's BGZF partition reader. */
  private[sources] def splitLines(conf: Configuration, path: String,
                                  start: Long, end: Long): Iterator[String] with AutoCloseable = {
    val cur = new Cursor(conf, path)
    var started = false
    var done = false
    closingIterator(cur) {
      if (!started) {
        started = true
        cur.seekBlock(start)
        // start == 0: the file start acts as an owned preceding newline
        done = start > 0L && !cur.skipLine(end)
      }
      if (done || !cur.haveData) null
      else {
        val l = cur.readLine()
        // EOF without newline, or the terminating newline is past our
        // range: the next line (if any) belongs to a later reader
        done = !cur.newline || cur.block >= end
        l
      }
    }
  }

  /** The lines of tabix chunks (disjoint virtual-offset ranges in file
    * order, as [[Tabix.regionChunks]] gives them), read by the caller:
    * per chunk one seek to its block, the in-block offset skipped, then
    * every line whose first byte's virtual offset is below the chunk end.
    * A chunk must start a line, the byte before it a '\n'; otherwise the
    * index does not match the file, and the read fails naming the file
    * and offset rather than parse a line fragment. */
  private[sources] def chunkLines(conf: Configuration, path: String,
                                  chunks: Seq[(Long, Long)]): Iterator[String] with AutoCloseable = {
    val cur = new Cursor(conf, path)
    val todo = chunks.iterator
    var end = -1L // the current chunk's end; -1 between chunks
    closingIterator(cur) {
      var l: String = null
      while (l == null && (end >= 0 || todo.hasNext)) {
        if (end < 0) {
          val (u, v) = todo.next()
          require(cur.seek(u), s"tabix chunk at virtual offset $u of $path does not start a line: " +
            "the index does not match the file")
          end = v
        }
        if (cur.haveData && cur.offset < end) l = cur.readLine() else end = -1L
      }
      l
    }
  }

  /** Whole-file lines with their BGZF virtual offsets [vBeg, vEnd): vBeg
    * addresses the line's first byte, vEnd the byte after its newline —
    * the chunk coordinates a tabix index records. */
  private[sources] def splitLinesWithOffsets(conf: Configuration, path: String)
      : Iterator[(String, Long, Long)] with AutoCloseable = {
    val cur = new Cursor(conf, path)
    closingIterator(cur) {
      if (!cur.haveData) null
      else { val b = cur.offset; val l = cur.readLine(); (l, b, cur.offset) }
    }
  }

  /** Write lines as chained BGZF members of at most `blockBytes`
    * uncompressed bytes (cap below the format's 64 KiB), ending with the
    * standard EOF marker — the bgzip-compatible sink side of S10. Bytes
    * are packed at BYTE granularity, so a line may straddle blocks exactly
    * like bgzip's own output. */
  def write(lines: Iterator[String], out: OutputStream,
            blockBytes: Int = 60000): Unit = {
    val sink = new LineSink(out, blockBytes)
    lines.foreach(sink.writeLine)
    sink.close()
  }

  /** Incremental form of [[write]] for row-at-a-time producers (the
    * DataSourceV2 writer): feed lines as they arrive; `close()` drains the
    * tail and appends the EOF marker. The underlying stream is NOT closed
    * — the caller owns it. Output is byte-identical to [[write]] over the
    * same lines. */
  final class LineSink(out: OutputStream, blockBytes: Int = 60000)
      extends AutoCloseable {
    private val cap = math.max(16, math.min(blockBytes, MaxBlock - 1024))
    private val buf = new java.io.ByteArrayOutputStream(cap * 2)
    private var closed = false
    private var compressedPos = 0L

    /** BGZF virtual offset (coffset<<16 | uoffset) of the NEXT byte this
      * sink will accept — captured before `writeLine` it addresses that
      * line's first byte, the coordinate tabix indexes record. Valid
      * because the pending buffer is exactly the prefix of the next block
      * (drain flushes whole blocks only), so uoffset = pending size. */
    def virtualOffset: Long = (compressedPos << 16) | buf.size()

    private def drain(all: Boolean): Unit = {
      val data = buf.toByteArray
      buf.reset()
      var off = 0
      while (data.length - off >= cap || (all && data.length - off > 0)) {
        val n = math.min(cap, data.length - off)
        compressedPos += writeBlock(data, off, n, out)
        off += n
      }
      if (off < data.length) buf.write(data, off, data.length - off)
    }

    def writeLine(l: String): Unit = {
      buf.write(l.getBytes("UTF-8")); buf.write('\n')
      if (buf.size() >= cap) drain(false)
    }

    override def close(): Unit = if (!closed) {
      closed = true
      drain(true)
      out.write(EofMarker)
    }
  }

  /** Whole byte array as chained BGZF members + EOF marker — the framing
    * the tabix sidecar (.tbi) itself uses. */
  def writeBytes(data: Array[Byte], out: OutputStream,
                 blockBytes: Int = 60000): Unit = {
    val cap = math.max(16, math.min(blockBytes, MaxBlock - 1024))
    var off = 0
    while (off < data.length) {
      val n = math.min(cap, data.length - off)
      writeBlock(data, off, n, out)
      off += n
    }
    out.write(EofMarker)
  }

  /** Writes one member; returns its total compressed size in bytes. */
  private def writeBlock(data: Array[Byte], off: Int, len: Int,
                         out: OutputStream): Long = {
    val defl = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(data, off, len)
    defl.finish()
    val comp = new Array[Byte](len + 256)
    var cn = 0
    while (!defl.finished()) cn += defl.deflate(comp, cn, comp.length - cn)
    defl.end()
    val crc = new CRC32()
    crc.update(data, off, len)
    val total = 12 + 6 + cn + 8
    val h = new Array[Byte](18)
    h(0) = 0x1f.toByte; h(1) = 0x8b.toByte; h(2) = 8; h(3) = 4
    // mtime(4)=0, xfl=0, os=0xff, xlen=6; BC subfield with slen=2
    h(9) = 0xff.toByte; h(10) = 6
    h(12) = 66; h(13) = 67; h(14) = 2
    val bsize = total - 1
    h(16) = (bsize & 0xff).toByte; h(17) = ((bsize >> 8) & 0xff).toByte
    out.write(h)
    out.write(comp, 0, cn)
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    out.write(le32(crc.getValue))
    out.write(le32(len.toLong))
    total.toLong
  }

  /** The canonical 28-byte BGZF EOF marker (an empty member). */
  val EofMarker: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff,
    0x06, 0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
}
