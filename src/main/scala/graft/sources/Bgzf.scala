package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import java.io.OutputStream
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

  /** The raw bytes of the member at `at` (where `in` is positioned),
    * leaving `in` at the next member. Sequential reads
    * only: a positional read on a checksummed FS opens a fresh checker
    * (the data file and its .crc) per call. */
  private def readMember(in: FSDataInputStream, at: Long, fileLen: Long,
                         path: String): Array[Byte] = {
    val hdr = new Array[Byte](18)
    in.readFully(hdr, 0, math.min(18L, fileLen - at).toInt)
    val sz = memberSize(hdr, 0)
    require(sz >= 26, s"not a BGZF block at offset $at of $path")
    val raw = java.util.Arrays.copyOf(hdr, sz)
    in.readFully(raw, 18, sz - 18)
    raw
  }

  /** Inflated payload of one raw member (empty for the EOF marker). */
  private def inflate(raw: Array[Byte], at: Long, path: String): Array[Byte] = {
    val sz = raw.length
    val xlen = (raw(10) & 0xff) | ((raw(11) & 0xff) << 8)
    val isize = (raw(sz - 4) & 0xff) | ((raw(sz - 3) & 0xff) << 8) |
      ((raw(sz - 2) & 0xff) << 16) | ((raw(sz - 1) & 0xff) << 24)
    if (isize == 0) return Array.emptyByteArray
    val out = new Array[Byte](isize)
    val inf = new Inflater(true) // raw deflate: no member header/trailer
    inf.setInput(raw, 12 + xlen, sz - 12 - xlen - 8)
    var n = 0
    while (n < isize && !inf.finished()) n += inf.inflate(out, n, isize - n)
    inf.end()
    require(n == isize, s"short inflate at offset $at of $path")
    out
  }

  /** One split's lines under the single-owner rule above: the VCF
    * scan's BGZF partition reader. */
  private[sources] def splitLines(conf: Configuration, path: String,
                                  start: Long, end: Long): Iterator[String] with AutoCloseable = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)

    new Iterator[String] with AutoCloseable {
      private var nextBlockStart = if (start == 0L) 0L else findBlockStart(in, start, fileLen)
      // one seek, then members are read sequentially from this stream
      if (nextBlockStart > 0L && nextBlockStart < fileLen) in.seek(nextBlockStart)
      private var curBlockStart = -1L
      private var buf: Array[Byte] = Array.emptyByteArray
      private var bufPos = 0
      private var closed = false
      private var done = false
      // start == 0: the file start acts as an owned preceding newline
      private var skipped = start == 0L
      private var pending: String = _

      /** Inflate the next non-empty block into `buf`; false at EOF. */
      private def pullBlock(): Boolean = {
        while (nextBlockStart < fileLen) {
          val blockStart = nextBlockStart
          val raw = readMember(in, blockStart, fileLen, path)
          nextBlockStart += raw.length
          val out = inflate(raw, blockStart, path)
          if (out.nonEmpty) {
            curBlockStart = blockStart
            buf = out
            bufPos = 0
            return true
          }
          // zero-length member (the 28-byte EOF marker): skip
        }
        false
      }

      private def haveData: Boolean = bufPos < buf.length || pullBlock()

      /** Skip through the first newline in an OWNED block. False when the
        * owned range holds no newline (nothing to emit for this split). */
      private def skipToFirstOwnedNewline(): Boolean = {
        while (haveData) {
          if (curBlockStart >= end) return false // first newline is not ours
          var i = bufPos
          while (i < buf.length && buf(i) != '\n') i += 1
          if (i < buf.length) { bufPos = i + 1; return true }
          bufPos = buf.length
        }
        false
      }

      /** Next line begun by an owned newline; null when exhausted. Reads
        * past `end` to finish a straddling line; stops after the line whose
        * PRECEDING newline was the last owned one. */
      private def advance(): String = {
        if (done) return null
        if (!skipped) {
          skipped = true
          if (!skipToFirstOwnedNewline()) { done = true; return null }
        }
        if (!haveData) { done = true; return null }
        val sb = new java.lang.StringBuilder(96)
        var terminatorBlock = -1L
        var found = false
        while (!found && haveData) {
          var i = bufPos
          while (i < buf.length && buf(i) != '\n') i += 1
          sb.append(new String(buf, bufPos, i - bufPos, "UTF-8"))
          if (i < buf.length) {
            bufPos = i + 1
            terminatorBlock = curBlockStart
            found = true
          } else bufPos = buf.length
        }
        // EOF without newline, or the terminating newline is past our
        // range: the NEXT line (if any) belongs to a later reader
        if (!found || terminatorBlock >= end) done = true
        sb.toString
      }

      override def hasNext: Boolean = {
        if (pending == null && !closed) {
          pending = advance()
          if (pending == null) { closed = true; in.close() }
        }
        pending != null
      }

      override def next(): String = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending
        pending = null
        r
      }

      /** Early-termination hook (e.g. a LIMIT query's PartitionReader):
        * releases the FS stream before exhaustion. */
      override def close(): Unit =
        if (!closed) { closed = true; in.close() }
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
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)

    new Iterator[String] with AutoCloseable {
      private val todo = chunks.iterator
      private var end = -1L // the current chunk's end; -1 between chunks
      private var curBlockStart = -1L
      private var nextBlockStart = 0L
      private var buf: Array[Byte] = Array.emptyByteArray
      private var bufPos = 0
      private var pending: String = _
      private var closed = false

      private def load(at: Long): Unit = {
        if (in.getPos != at) in.seek(at)
        val raw = readMember(in, at, fileLen, path)
        curBlockStart = at
        nextBlockStart = at + raw.length
        buf = inflate(raw, at, path)
        bufPos = 0
      }

      /** Moves past consumed and empty blocks; false at EOF. */
      private def haveData: Boolean = {
        while (bufPos >= buf.length && nextBlockStart < fileLen) load(nextBlockStart)
        bufPos < buf.length
      }

      /** The last inflated byte before block `blk` (-1 when only empty
        * members precede it within MaxBlock): blocks are walked forward
        * from the first one found in the MaxBlock before `blk`, which the
        * previous block must start in. -2 when the walk misses `blk`. */
      private def byteBefore(blk: Long): Int = {
        var b = findBlockStart(in, math.max(0L, blk - MaxBlock), fileLen)
        var last = -1
        while (b < blk) {
          in.seek(b)
          val raw = readMember(in, b, fileLen, path)
          val out = inflate(raw, b, path)
          if (out.nonEmpty) last = out.last & 0xff
          b += raw.length
        }
        if (b == blk) last else -2
      }

      private def startChunk(u: Long, v: Long): Unit = {
        val blk = u >>> 16
        val off = (u & 0xffff).toInt
        val atLineStart = off > 0 || blk == 0L || {
          val b = byteBefore(blk); b == '\n' || b == -1
        }
        if (blk != curBlockStart) load(blk)
        require(atLineStart && off <= buf.length && (off == 0 || buf(off - 1) == '\n'),
          s"tabix chunk at virtual offset $u of $path does not start a line: " +
            "the index does not match the file")
        bufPos = off
        end = v
      }

      private def readLine(): String = {
        val sb = new java.lang.StringBuilder(96)
        var found = false
        while (!found && haveData) {
          var i = bufPos
          while (i < buf.length && buf(i) != '\n') i += 1
          sb.append(new String(buf, bufPos, i - bufPos, "UTF-8"))
          found = i < buf.length
          bufPos = if (found) i + 1 else buf.length
        }
        sb.toString
      }

      private def advance(): String = {
        while (end >= 0 || todo.hasNext) {
          if (end < 0) { val (u, v) = todo.next(); startChunk(u, v) }
          if (haveData && ((curBlockStart << 16) | bufPos) < end) return readLine()
          end = -1L
        }
        null
      }

      override def hasNext: Boolean = {
        if (pending == null && !closed) {
          pending = advance()
          if (pending == null) close()
        }
        pending != null
      }

      override def next(): String = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending; pending = null; r
      }

      override def close(): Unit = if (!closed) { closed = true; in.close() }
    }
  }

  /** Sequential (blockStart, inflated bytes) iterator over a whole BGZF
    * file — the builder-side walk for tabix indexing (one streaming pass,
    * no ownership rule needed). */
  private[sources] def blocks(conf: Configuration, path: String)
      : Iterator[(Long, Array[Byte])] with AutoCloseable = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    new Iterator[(Long, Array[Byte])] with AutoCloseable {
      private var nextBlockStart = 0L
      private var pending: (Long, Array[Byte]) = _
      private var closed = false

      private def pull(): Unit = {
        while (pending == null && nextBlockStart < fileLen) {
          val blockStart = nextBlockStart
          val raw = readMember(in, blockStart, fileLen, path)
          nextBlockStart += raw.length
          val out = inflate(raw, blockStart, path)
          if (out.nonEmpty) pending = (blockStart, out)
        }
        if (pending == null) close()
      }

      override def hasNext: Boolean = {
        if (pending == null && !closed) pull()
        pending != null
      }
      override def next(): (Long, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending; pending = null; r
      }
      override def close(): Unit = if (!closed) { closed = true; in.close() }
    }
  }

  /** Whole-file lines with their BGZF virtual offsets [vBeg, vEnd): vBeg
    * addresses the line's first byte, vEnd the byte after its newline —
    * the chunk coordinates a tabix index records. */
  private[sources] def splitLinesWithOffsets(conf: Configuration, path: String)
      : Iterator[(String, Long, Long)] with AutoCloseable = {
    val blk = blocks(conf, path)
    new Iterator[(String, Long, Long)] with AutoCloseable {
      private var cur: (Long, Array[Byte]) = _
      private var pos = 0
      private var pending: (String, Long, Long) = _
      private var lineStart = -1L
      private var endV = 0L
      private val acc = new java.io.ByteArrayOutputStream(128)
      private var closed = false

      private def ensureBlock(): Boolean = {
        while ((cur == null || pos >= cur._2.length) && blk.hasNext) {
          cur = blk.next(); pos = 0
        }
        cur != null && pos < cur._2.length
      }

      private def advance(): (String, Long, Long) = {
        if (!ensureBlock())
          return if (lineStart >= 0 && acc.size() > 0) {
            val r = (acc.toString("UTF-8"), lineStart, endV) // no trailing \n
            acc.reset(); lineStart = -1L
            r
          } else null
        if (lineStart < 0) lineStart = (cur._1 << 16) | pos
        var result: (String, Long, Long) = null
        while (result == null) {
          val data = cur._2
          var i = pos
          while (i < data.length && data(i) != '\n') i += 1
          acc.write(data, pos, i - pos)
          if (i < data.length) {
            pos = i + 1
            endV = (cur._1 << 16) | pos
            result = (acc.toString("UTF-8"), lineStart, endV)
            acc.reset(); lineStart = -1L
          } else {
            pos = data.length
            endV = (cur._1 << 16) | pos
            if (!ensureBlock()) {
              result = (acc.toString("UTF-8"), lineStart, endV)
              acc.reset(); lineStart = -1L
            }
          }
        }
        result
      }

      override def hasNext: Boolean = {
        if (pending == null && !closed) {
          pending = advance()
          if (pending == null) close()
        }
        pending != null
      }
      override def next(): (String, Long, Long) = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending; pending = null; r
      }
      override def close(): Unit = if (!closed) { closed = true; blk.close() }
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
