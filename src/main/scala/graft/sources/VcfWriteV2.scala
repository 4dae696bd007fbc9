package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 write path: `df.write.format("vcf").mode("overwrite")
  * .save(dir)` — the sink symmetry for [[VcfDataSource]] (the reference
  * writes VCFs everywhere, e.g. ugvc/pipelines/compress_gvcf.py:123,214,
  * vcfbed/calibrate_bridging_snvs.py:107-130).
  *
  * Shape: one file per input partition under `dir` (`part-NNNNN-M.vcf`,
  * `.vcf.gz` when `compression=bgzf`), each starting with the VCF header —
  * exactly the multi-file layout the read side consumes as a directory
  * load, so write→read round-trips without a merge step and a 1000-task
  * write never funnels through one writer (a single file is
  * `df.coalesce(1).write.format("vcf")`).
  *
  * Record formatting inverts [[VcfRecord.value]] field-for-field:
  * alleles(0) → REF, the rest → ALT, `.` for null id/qual/filter, INFO
  * map entries as `k=v` (bare `k` for null values), and the `sample` map
  * (or the wide `samples` array) as FORMAT + per-sample columns. Columns
  * the schema lacks degrade to `.` so any projection of the read schema
  * writes cleanly.
  *
  * Commit protocol: tasks write to `dir/_staging-<queryId>/`; the driver
  * commit (optionally) truncates visible files, renames staged files in,
  * and removes the staging dir; abort deletes the staging dir. Speculative
  * duplicate attempts are resolved at rename time (last rename wins on a
  * distinct attempt-suffixed name; only committed messages are moved).
  */
class VcfWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new VcfBatchWrite(path, info.schema(), info.options().asCaseSensitiveMap(),
        doTruncate, info.queryId())
  }
}

/** `sidecars` are extra staged files renamed alongside the part file
  * (the .tbi/.csi built in the task). */
case class VcfCommitMessage(stagedPath: String, finalName: String,
                            sidecars: Seq[(String, String)] = Nil)
    extends WriterCommitMessage

class VcfBatchWrite(path: String, schema: StructType,
                    options: java.util.Map[String, String],
                    truncate: Boolean, queryId: String)
    extends BatchWrite {

  private def opt(k: String): Option[String] = Option(options.get(k))
  private def bad(k: String, v: String, want: String): Nothing =
    throw new IllegalArgumentException(s"vcf write option $k must be $want, got '$v'")
  private val bgzf = opt("compression").exists(v =>
    v.equalsIgnoreCase("bgzf") || bad("compression", v, "absent or bgzf"))
  private val blockBytes = opt("bgzf_block_bytes").fold(60000)(v =>
    v.toIntOption.filter(n => n >= 16 && n <= 64512)
      .getOrElse(bad("bgzf_block_bytes", v, "a whole number in [16, 64512]")))
  private val sampleNames = opt("sample_names").map(_.split(",").toSeq)
  // option("index","tbi"), "csi", or "tbi,csi" — build sidecar indexes
  // at write time, mirroring the reference's tabix_index-after-every-write
  // (csi for contigs past .tbi's 2^29 limit, the same fallback bcftools
  // applies)
  private val indexKinds: Set[String] =
    opt("index").map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
  require(indexKinds.subsetOf(Set("tbi", "csi")),
    s"vcf write: unknown index kind(s) ${indexKinds -- Set("tbi", "csi")} " +
      "(supported: tbi, csi)")
  require(indexKinds.isEmpty || bgzf,
    "vcf write: index=tbi/csi requires compression=bgzf (tabix indexes BGZF files)")

  private def stagingDir = new Path(path, s"_staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    fs.mkdirs(stagingDir)
    // one broadcast conf per write, not a copy inside every task
    VcfWriterFactory(spark.sparkContext.broadcast(new SerializableConfiguration(conf)),
      stagingDir.toString, schema, bgzf, blockBytes, sampleNames, querySalt, indexKinds)
  }

  // task IDs restart at 0 per application, so `part-<pid>-<taskId>` alone
  // can collide with a prior app's output under append-shape writes; salt
  // final names with the query id so every write's files are unique
  private def querySalt: String = {
    val s = Option(queryId).getOrElse("").filter(_.isLetterOrDigit)
    if (s.isEmpty) java.util.UUID.randomUUID.toString.filter(_.isLetterOrDigit).takeRight(8)
    else s.takeRight(8)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (truncate) {
      val existing = Option(fs.listStatus(dir)).getOrElse(Array.empty)
      existing.foreach { s =>
        val n = s.getPath.getName
        if (!n.startsWith("_staging-")) fs.delete(s.getPath, true)
      }
    }
    def move(staged: String, finalName: String): Unit = {
      // rename returns false (rather than throwing) on HDFS/local when the
      // destination exists or a parent vanished; swallowing it and then
      // deleting the staging dir would silently drop the partition — fail
      // the job instead (file names are queryId-salted, so a same-app
      // collision indicates a real conflict, not append-mode reuse)
      val dst = new Path(dir, finalName)
      if (!fs.rename(new Path(staged), dst))
        throw new java.io.IOException(
          s"vcf write commit: rename $staged -> $dst failed " +
            "(destination exists or filesystem refused the move)")
    }
    messages.foreach {
      case VcfCommitMessage(staged, finalName, sidecars) =>
        move(staged, finalName)
        sidecars.foreach { case (s, n) => move(s, n) }
      case _ => ()
    }
    fs.delete(stagingDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    fs.delete(stagingDir, true)
  }
}

case class VcfWriterFactory(hadoopConf: Broadcast[SerializableConfiguration],
                            stagingDir: String, schema: StructType,
                            bgzf: Boolean, blockBytes: Int,
                            sampleNames: Option[Seq[String]],
                            salt: String,
                            indexKinds: Set[String] = Set.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val conf = hadoopConf.value.value
    val ext = if (bgzf) ".vcf.gz" else ".vcf"
    val name = f"part-$partitionId%05d-$taskId-$salt$ext"
    new VcfDataWriter(conf, stagingDir, name, schema, bgzf, blockBytes,
      sampleNames, indexKinds)
  }
}

class VcfDataWriter(conf: Configuration, stagingDir: String, fileName: String,
                    schema: StructType, bgzf: Boolean, blockBytes: Int,
                    sampleNames: Option[Seq[String]],
                    indexKinds: Set[String] = Set.empty)
    extends DataWriter[InternalRow] {

  private val fmt = new VcfRowFormatter(schema)
  private val staged = new Path(stagingDir, fileName)
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var sink: Bgzf.LineSink = _

  // The header's sample-column count comes from the SCHEMA, not from
  // whichever row arrives first: a leading null-sample row must not freeze
  // an 8-column header onto a file whose later lines carry FORMAT+samples
  // (spec-invalid for bcftools/pysam). `sample` → 1 column; `samples` →
  // sample_names width when given; neither → 0. A `samples` schema WITHOUT
  // sample_names has no static width: rows are buffered (bounded) until
  // one actually carries samples.
  private var declared: Int =
    if (schema.fieldNames.contains("samples")) sampleNames.map(_.length).getOrElse(-1)
    else if (schema.fieldNames.contains("sample")) 1
    else 0
  private val MaxBuffered = 65536
  private var buffered: scala.collection.mutable.ArrayBuffer[(String, Int, (String, java.lang.Long, Long))] =
    if (declared < 0) scala.collection.mutable.ArrayBuffer.empty else null

  // write-time index state: the tabix builders fed line-by-line with the
  // sink's virtual offsets (bgzf only — enforced at option parse); "csi"
  // uses the deeper scheme so >2^29 contigs index instead of failing
  private val tbiBuilder: Tabix.Builder =
    if (indexKinds.contains("tbi")) new Tabix.Builder else null
  private val csiBuilder: Tabix.Builder =
    if (indexKinds.contains("csi"))
      new Tabix.Builder(depth = Tabix.CsiDepth) else null

  private def emit(line: String): Unit =
    if (sink != null) sink.writeLine(line)
    else { out.write(line.getBytes("UTF-8")); out.write('\n') }

  /** Header is written lazily on the first emitted row; an empty partition
    * still commits a header-only file. */
  private def ensureOpen(): Unit = if (out == null) {
    out = staged.getFileSystem(conf).create(staged, true)
    if (bgzf) sink = new Bgzf.LineSink(out, blockBytes)
    emit("##fileformat=VCFv4.2")
    val base = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
    if (declared <= 0) emit(base)
    else {
      val names = sampleNames.getOrElse((1 to declared).map(i => s"S$i"))
      emit(base + "\tFORMAT\t" + names.take(declared).padTo(declared, "S?")
        .mkString("\t"))
    }
  }

  /** Pads a formatted line to the declared sample width: a row with no
    * sample data in a file declaring N samples still emits FORMAT '.' and
    * one '.' per declared column, keeping every data line rectangular.
    * (The graft reader reads a padded sample back as map('.' -> '.'), not
    * null — VCF has no rectangular encoding for "column absent".) */
  private def pad(line: String, n: Int): String =
    if (declared <= 0 || n >= declared) line
    else if (n == 0) line + "\t." + ("\t." * declared)
    else line + ("\t." * (declared - n))

  /** `ext` is the row's [[VcfRowFormatter.extent]] when a tabix builder
    * exists, else null. */
  private def emitRow(line: String, n: Int,
                      ext: (String, java.lang.Long, Long)): Unit = {
    ensureOpen()
    if (ext == null) emit(pad(line, n))
    else {
      val vBeg = sink.virtualOffset
      emit(pad(line, n))
      val vEnd = sink.virtualOffset
      def index(b: Tabix.Builder): Unit = if (b != null) {
        if (ext._2 == null) b.addUnplaced(ext._1, vBeg, vEnd)
        else b.add(Tabix.Feature(ext._1, ext._2.longValue() - 1, ext._3, vBeg, vEnd))
      }
      index(tbiBuilder)
      index(csiBuilder)
    }
  }

  private def flushBuffered(): Unit = {
    val pend = buffered; buffered = null
    pend.foreach { case (l, n, e) => emitRow(l, n, e) }
  }

  override def write(row: InternalRow): Unit = {
    val (line, nSamples) = fmt.format(row)
    val ext = if (tbiBuilder != null || csiBuilder != null) fmt.extent(row) else null
    if (declared >= 0) emitRow(line, nSamples, ext)
    else if (nSamples > 0) { declared = nSamples; flushBuffered(); emitRow(line, nSamples, ext) }
    else {
      buffered += ((line, nSamples, ext))
      // bounded: past the cap give up inferring a width (every row so far
      // had no sample data), declare 0 and stream — a later sample-bearing
      // row still emits its columns (positionally readable, though ragged)
      if (buffered.length >= MaxBuffered) { declared = 0; flushBuffered() }
    }
  }

  override def commit(): WriterCommitMessage = {
    if (declared < 0) { declared = 0; flushBuffered() }
    ensureOpen()
    if (sink != null) sink.close()
    out.close()
    // index the task's OWN part file in the task — distributed, zero
    // extra read pass; the driver only renames
    val sidecars =
      (if (tbiBuilder == null) Nil
       else {
         Tabix.write(conf, staged.toString, tbiBuilder)
         Seq((staged.toString + Tabix.Suffix, fileName + Tabix.Suffix))
       }) ++
      (if (csiBuilder == null) Nil
       else {
         Tabix.writeCsi(conf, staged.toString, csiBuilder)
         Seq((staged.toString + Tabix.CsiSuffix, fileName + Tabix.CsiSuffix))
       })
    VcfCommitMessage(staged.toString, fileName, sidecars)
  }

  override def abort(): Unit = {
    try { if (sink != null) sink.close(); if (out != null) out.close() }
    catch { case _: Throwable => () }
    try staged.getFileSystem(conf).delete(staged, false)
    catch { case _: Throwable => () }
  }

  override def close(): Unit = ()
}

/** InternalRow → VCF line, the inverse of [[VcfRecord.value]]. Null
  * and absent columns degrade to `.`; the `sample` map column (single) or
  * `samples` array column (wide panel) becomes FORMAT + sample columns.
  * FORMAT keys are the first-seen-order union across the line's non-null
  * sample maps (single-map lines use that map's own order). */
class VcfRowFormatter(schema: StructType) extends Serializable {
  private def ix(name: String): Int = schema.fieldNames.indexOf(name)
  private val iChrom = ix("chrom")
  private val iPos = ix("pos")
  private val iId = ix("id")
  private val iRef = ix("ref")
  private val iAlleles = ix("alleles")
  private val iQual = ix("qual")
  private val iFilter = ix("filter")
  private val iInfo = ix("info")
  private val iSample = ix("sample")
  private val iSamples = ix("samples")

  private def str(row: InternalRow, i: Int): String =
    if (i < 0 || row.isNullAt(i)) "." else row.getUTF8String(i).toString

  /** Indexing extent of a row: (chrom, 1-based pos or null, 0-based
    * half-open end = pos-1+len(REF), widened to INFO END — the gVCF block
    * convention). Null when the row has no chrom. */
  def extent(row: InternalRow): (String, java.lang.Long, Long) = {
    if (iChrom < 0 || row.isNullAt(iChrom)) return null
    val chrom = row.getUTF8String(iChrom).toString
    if (iPos < 0 || row.isNullAt(iPos)) return (chrom, null, 0L)
    val pos = row.getLong(iPos)
    val ref =
      if (iAlleles >= 0 && !row.isNullAt(iAlleles)) {
        val a = row.getArray(iAlleles)
        if (a.numElements() > 0 && !a.isNullAt(0)) a.getUTF8String(0).toString
        else null
      } else if (iRef >= 0 && !row.isNullAt(iRef)) row.getUTF8String(iRef).toString
      else null
    var infoEnd: Option[Long] = None
    if (iInfo >= 0 && !row.isNullAt(iInfo)) {
      val m = row.getMap(iInfo)
      val ks = m.keyArray(); val vs = m.valueArray()
      var i = 0
      while (i < m.numElements() && infoEnd.isEmpty) {
        if (ks.getUTF8String(i).toString == "END" && !vs.isNullAt(i)) {
          val v = VcfLineParser.toLongOrNull(vs.getUTF8String(i).toString)
          if (v != null) infoEnd = Some(v.longValue())
        }
        i += 1
      }
    }
    val (_, e) = Tabix.vcfExtent(pos, ref, infoEnd)
    (chrom, java.lang.Long.valueOf(pos), e)
  }

  /** Returns (formatted line, sample-column count). */
  def format(row: InternalRow): (String, Int) = {
    val sb = new java.lang.StringBuilder(96)
    sb.append(str(row, iChrom)).append('\t')
    if (iPos < 0 || row.isNullAt(iPos)) sb.append('.')
    else sb.append(row.getLong(iPos))
    sb.append('\t').append(str(row, iId)).append('\t')
    // REF/ALT from alleles (read-schema shape), falling back to a bare ref
    if (iAlleles >= 0 && !row.isNullAt(iAlleles)) {
      val a = row.getArray(iAlleles)
      if (a.numElements() == 0) sb.append(".\t.")
      else {
        sb.append(if (a.isNullAt(0)) "." else a.getUTF8String(0).toString)
        sb.append('\t')
        if (a.numElements() == 1) sb.append('.')
        else {
          var i = 1
          while (i < a.numElements()) {
            if (i > 1) sb.append(',')
            sb.append(if (a.isNullAt(i)) "." else a.getUTF8String(i).toString)
            i += 1
          }
        }
      }
    } else sb.append(str(row, iRef)).append("\t.")
    sb.append('\t')
    if (iQual < 0 || row.isNullAt(iQual)) sb.append('.')
    else sb.append(row.getDouble(iQual))
    sb.append('\t').append(str(row, iFilter)).append('\t')
    if (iInfo < 0 || row.isNullAt(iInfo)) sb.append('.')
    else {
      val m = row.getMap(iInfo)
      if (m.numElements() == 0) sb.append('.')
      else {
        val ks = m.keyArray(); val vs = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          if (i > 0) sb.append(';')
          sb.append(ks.getUTF8String(i).toString)
          if (!vs.isNullAt(i))
            sb.append('=').append(vs.getUTF8String(i).toString)
          i += 1
        }
      }
    }
    var nSamples = 0
    if (iSamples >= 0 && !row.isNullAt(iSamples)) {
      val arr = row.getArray(iSamples)
      nSamples = arr.numElements()
      if (nSamples > 0) {
        // FORMAT keys: first-seen order unioned across every NON-null
        // sample (a null first element used to NPE; keys present only in
        // later samples used to be silently dropped); samples missing a
        // key emit '.' in its slot
        val keys = scala.collection.mutable.LinkedHashSet.empty[String]
        var s = 0
        while (s < nSamples) {
          if (!arr.isNullAt(s)) {
            val m = arr.getMap(s)
            var i = 0
            while (i < m.numElements()) {
              keys += m.keyArray().getUTF8String(i).toString; i += 1
            }
          }
          s += 1
        }
        if (keys.isEmpty) {
          // every sample element null: FORMAT '.' and '.' per column keeps
          // the line rectangular for external parsers
          sb.append("\t.")
          var t = 0
          while (t < nSamples) { sb.append("\t."); t += 1 }
        } else {
          val keySeq = keys.toSeq
          sb.append('\t').append(keySeq.mkString(":"))
          var t = 0
          while (t < nSamples) {
            sb.append('\t')
            if (arr.isNullAt(t)) sb.append(keySeq.map(_ => ".").mkString(":"))
            else {
              val m = arr.getMap(t)
              val lookup = (0 until m.numElements()).map { i =>
                m.keyArray().getUTF8String(i).toString ->
                  (if (m.valueArray().isNullAt(i)) "."
                   else m.valueArray().getUTF8String(i).toString)
              }.toMap
              sb.append(keySeq.map(k => lookup.getOrElse(k, ".")).mkString(":"))
            }
            t += 1
          }
        }
      }
    } else if (iSample >= 0 && !row.isNullAt(iSample)) {
      nSamples = 1
      val m = row.getMap(iSample)
      val ks = m.keyArray(); val vs = m.valueArray()
      val keys = (0 until m.numElements()).map(ks.getUTF8String(_).toString)
      val vals = (0 until m.numElements()).map(i =>
        if (vs.isNullAt(i)) "." else vs.getUTF8String(i).toString)
      sb.append('\t').append(keys.mkString(":"))
      sb.append('\t').append(vals.mkString(":"))
    }
    (sb.toString, nSamples)
  }
}
