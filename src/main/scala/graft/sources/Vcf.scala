package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** VCF text reader (SURVEY.md §2.1 S2/S3; the S10 writer is [[VcfWriteV2]]).
  *
  * The reference flattens VCF records into a frame via `get_vcf_df`
  * [absent; inferred — call sites ugvc/pipelines/run_no_gt_report.py:307-312,
  * ugvc/comparison/variant_hit_fraction_caller.py:33-40] with lower-cased
  * field names, and streams records with pysam (compress_gvcf.py:122-212).
  *
  * Spark-first: `spark.read.text` → line split → typed columns; INFO
  * becomes `map<string,string>` plus opt-in typed extraction; the
  * first-sample FORMAT fields become `gt array<int>` (nullable elements
  * for no-calls), `ad`/`pl` int arrays, `dp`/`gq` ints. Everything is
  * built-in expressions, so column pruning reaches the text scan and
  * unneeded per-sample parsing is dropped by Catalyst.
  *
  * At scale: plain-text VCFs are line-delimited, so the text source
  * splits files by range and parses in parallel; a `.gz`/`.bgz` file is
  * one task through the gzip codec (the splittable BGZF read is the
  * DataSourceV2 scan, [[VcfDataSource]]). Downstream genomic operators
  * should `repartitionByRange($"chrom", $"pos")` once and reuse that
  * partitioning.
  */
object Vcf {

  /** Index sidecars (.tbi/.csi) that sit BESIDE data files in a
    * directory written with `option("index",...)` or indexed by external
    * tools — never data, excluded from every data-file walk (a `.tbi`
    * parsed as VCF text yields garbage rows on an unfiltered scan).
    * `.gidx` is the JSON sidecar earlier builds of this engine wrote;
    * directories holding one must still load. */
  def isIndexSidecar(name: String): Boolean =
    name.endsWith(".gidx") || name.endsWith(Tabix.Suffix) ||
      name.endsWith(Tabix.CsiSuffix)

  /** The data files `path` (a file, directory or glob) names, lazily and
    * sorted by name at each level: directories are walked recursively
    * (dir/chrom=1/part.vcf is read, not skipped), and hidden names (`_`/
    * `.` prefixed) and index sidecars are skipped at every level. Fails
    * naming `path` when nothing matches it; an existing directory with no
    * data files yields nothing. */
  def dataFiles(conf: Configuration, path: String): Iterator[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def walk(s: FileStatus): Iterator[FileStatus] = {
      val n = s.getPath.getName
      if (n.startsWith("_") || n.startsWith(".") || isIndexSidecar(n)) Iterator.empty
      else if (s.isDirectory)
        fs.listStatus(s.getPath).sortBy(_.getPath.getName).iterator.flatMap(walk)
      else Iterator.single(s)
    }
    val matched = fs.globStatus(p)
    if (matched == null || matched.isEmpty)
      throw new java.io.FileNotFoundException(s"vcf: no file matches $path")
    matched.sortBy(_.getPath.getName).iterator.flatMap(walk)
  }

  /** The leading '#'-prefixed header block, read with a BOUNDED
    * driver-side stream that stops at the first data line — O(header),
    * not O(file): schema and sample inference on a 100 GB VCF must not
    * scan 100 GB (a distributed `read.text(...).filter(startsWith("#"))`
    * collect touches every line). Globs/directories resolve to their
    * first data file, the V2 scan's reference file for its planning-time
    * header-compatibility gate; gzip/BGZF decode through the codec, of
    * which only the header's blocks are ever inflated. */
  def headerLines(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val target = dataFiles(conf, path).nextOption().getOrElse(
      throw new java.io.FileNotFoundException(s"vcf: no data file under $path"))
    headerLinesOf(conf, target.getPath)
  }

  /** [[headerLines]] for one concrete file. */
  def headerLinesOf(conf: Configuration, target: Path): Seq[String] = {
    val raw = target.getFileSystem(conf).open(target)
    val in: java.io.InputStream =
      if (target.getName.endsWith(".gz") || target.getName.endsWith(".bgz"))
        new java.util.zip.GZIPInputStream(raw, 65536)
      else raw
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    try {
      val out = Seq.newBuilder[String]
      var line = br.readLine()
      while (line != null && line.startsWith("#")) {
        out += line
        line = br.readLine()
      }
      out.result()
    } finally br.close()
  }

  /** What must AGREE across the files of one directory/glob scan for the
    * first-file schema inference to be sound: the #CHROM sample columns
    * (a different panel order silently reads the WRONG sample under
    * `sample_index`) and, when typed INFO columns are requested, each
    * requested key's declared (Number, Type). */
  final case class HeaderMeta(samples: Seq[String], infoTypes: Map[String, String])

  private val InfoDecl =
    """##INFO=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+)""".r.unanchored

  def headerMetaOf(conf: Configuration, target: Path): HeaderMeta = {
    val lines = headerLinesOf(conf, target)
    val samples = lines.find(_.startsWith("#CHROM"))
      .map(_.split("\t").drop(9).toSeq).getOrElse(Seq.empty)
    val info = lines.collect {
      case InfoDecl(id, num, tpe) => id -> s"Number=$num,Type=$tpe"
    }.toMap
    HeaderMeta(samples, info)
  }

  // planning may see the same (unchanged) files every query: cache header
  // fingerprints by (path, len, mtime). LRU-bounded — evicting one cold
  // entry at a time, never clearing wholesale (a hot directory must not
  // re-plan every header after crossing the bound)
  private val HeaderCacheMax = 100000
  private def statusCache[V]: java.util.Map[(String, Long, Long), V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), V](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), V]): Boolean =
          size() > HeaderCacheMax
      })
  private val headerMetaCache = statusCache[HeaderMeta]
  private val bgzfCache = statusCache[java.lang.Boolean]

  /** [[Bgzf.isBgzf]] of `s`, cached by (path, len, mtime) like the header
    * metadata, so planning does not reopen every file; a file that cannot
    * be sniffed reads as not BGZF, and is sniffed again next time. */
  def isBgzfCached(conf: Configuration, s: FileStatus): Boolean = {
    val key = (s.getPath.toString, s.getLen, s.getModificationTime)
    val hit = bgzfCache.get(key)
    if (hit != null) hit
    else try { val b = Bgzf.isBgzf(conf, key._1); bgzfCache.put(key, b); b }
    catch { case _: Throwable => false }
  }

  def headerMetaCached(conf: Configuration, s: FileStatus): HeaderMeta = {
    val key = (s.getPath.toString, s.getLen, s.getModificationTime)
    val hit = headerMetaCache.get(key)
    if (hit != null) hit
    else {
      // the header read runs OUTSIDE the map lock (the planning-time
      // compat walk fans these over a thread pool — a computeIfAbsent
      // would serialize the I/O it exists to parallelize); a racing
      // duplicate read is benign and idempotent
      val m = headerMetaOf(conf, s.getPath)
      headerMetaCache.put(key, m)
      m
    }
  }

  /** The cached fingerprint of `s` when this (path, len, mtime) has been
    * read before; None means [[headerMetaCached]] would read the header. */
  def headerMetaIfCached(s: FileStatus): Option[HeaderMeta] =
    Option(headerMetaCache.get((s.getPath.toString, s.getLen, s.getModificationTime)))

  /** Sample names from the #CHROM header line (columns 10+). */
  def sampleNames(spark: SparkSession, path: String): Seq[String] = {
    val header = headerLines(spark, path).find(_.startsWith("#CHROM"))
      .getOrElse(throw new IllegalArgumentException(s"no #CHROM header line in $path"))
    header.split("\t").drop(9).toSeq
  }

  /** Columns: chrom, pos (long), id, ref, alleles array<string>, qual double,
    * filter, info map<string,string>, sample fields gt/ad/pl/dp/gq for the
    * requested sample (0-based; the reference's get_vcf_df takes sample_id
    * the same way). For whole-panel work use [[readAllSamples]] /
    * [[explodeSamples]] — one scan for every sample. */
  def read(spark: SparkSession, path: String, sampleIndex: Int = 0): DataFrame =
    fromLines(textLines(spark, path), sampleIndex)

  /** `spark.read.text` over [[dataFiles]], so index sidecars beside the
    * parts are never parsed as data. `.gz` and `.bgz` inputs decode
    * through Hadoop's gzip codec, which reads every member of a
    * multi-member BGZF file; each such file is one task. */
  private[sources] def textLines(spark: SparkSession, path: String): DataFrame = {
    val files = dataFiles(spark.sessionState.newHadoopConf(), path)
      .map(_.getPath.toString).toSeq
    if (files.isEmpty) // a directory holding only sidecars or hidden files
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("value", StringType))))
    else spark.read.option("io.compression.codecs", classOf[BgzCodec].getName)
      .text(files: _*)
  }

  /** Parse a raw line frame (column `value`) into the single-sample
    * variant frame — shared by the batch and streaming text reads. */
  def fromLines(raw: DataFrame, sampleIndex: Int = 0): DataFrame = {
    require(sampleIndex >= 0, s"vcf sampleIndex must be >= 0, got $sampleIndex")
    val lines = raw.filter(!col("value").startsWith("#"))
    val f = split(col("value"), "\t")
    def fld(i: Int): Column = try_element_at(f, lit(i))

    // a sites-only line has no FORMAT or sample column: null sample
    val fmtKeys = split(fld(9), ":")
    val fmtVals = split(fld(10 + sampleIndex), ":")
    val sample = sampleMap(fmtKeys, fmtVals)

    withSampleFields(lines.select(coreCols(fld) :+ sample.as("sample"): _*))
  }

  /** Streaming VCF ingestion: new files landing under `glob` parse
    * incrementally through the SAME expression pipeline as [[read]]
    * (fromLines is source-agnostic — `readStream.text` swaps in for
    * `read.text`). The production shape for a VCF drop-zone: per-contig
    * bgzip parts arriving continuously, each micro-batch parsing only the
    * new files; compose with the [[graft.streaming.Streams]] automata
    * (e.g. streamingBlockCompress) downstream. gz parts decompress
    * whole-file per task, which matches the arrival granularity. */
  def readStream(spark: SparkSession, glob: String, sampleIndex: Int = 0,
                 maxFilesPerTrigger: Int = 1000): DataFrame =
    fromLines(
      spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .text(glob),
      sampleIndex)

  /** Multi-sample read: ONE text scan regardless of panel width. `samples`
    * holds one FORMAT map per sample column (VCF columns 10+); pair with
    * [[sampleNames]] for the name -> index mapping and [[explodeSamples]]
    * for the long (one row per sample) shape distributed joins want. */
  def readAllSamples(spark: SparkSession, path: String): DataFrame = {
    val lines = textLines(spark, path).filter(!col("value").startsWith("#"))
    // materialize the line split and the FORMAT keys BEFORE the per-sample
    // transform: expressions referenced inside a HOF lambda re-evaluate per
    // ELEMENT, so inlining `split(value)` there re-splits the whole line
    // once per sample — O(width²) per record (a 1000-sample panel parsed
    // ~0.2 s/LINE; materialized it is ~milliseconds). The multi-reference
    // `_f` column keeps CollapseProject from re-inlining it.
    def fld(i: Int): Column = try_element_at(col("_f"), lit(i))
    val wide = lines
      .withColumn("_f", split(col("value"), "\t"))
      .withColumn("_keys", split(fld(9), ":"))
    // greatest(..., 0): the slice must stay total — header lines can reach
    // this projection before the '#' filter in the same codegen stage. A
    // line with no sample column has null samples, as on the scan
    val samples = when(size(col("_f")) >= 10, transform(
      slice(col("_f"), lit(10), greatest(size(col("_f")) - 9, lit(0))),
      v => sampleMap(col("_keys"), split(v, ":"))))
    wide.select(coreCols(fld) :+ samples.as("samples"): _*)
  }

  /** Long format: one row per (record, sample) with typed gt/ad/pl/dp/gq and
    * a 0-based `sample_idx` — the multi-sample shape that joins/aggregates
    * across a panel without N re-reads (denovo_refinement.py:30-35 reads one
    * frame per individual; at panel scale this replaces that loop). */
  def explodeSamples(df: DataFrame): DataFrame =
    withSampleFields(
      // outer + null-filter, NOT plain posexplode: the inferred pre-Generate
      // filter `size(samples)>0` inlines the whole per-sample transform into
      // an interpreted condition, re-splitting the line once per sample —
      // O(width²) per record again (measured 53s -> 6s on a 1000-sample
      // panel). Filtering the GENERATED index afterwards is equivalent.
      df.select(col("*"), posexplode_outer(col("samples")).as(Seq("sample_idx", "sample")))
        .filter(col("sample_idx").isNotNull)
        .drop("samples"))

  /** FORMAT-keyed sample map, total over ragged columns: the VCF spec lets
    * a sample drop trailing FORMAT fields (and pysam pads them), so both
    * arrays are sliced to their common length before map_from_arrays —
    * otherwise a `GT:AD:DP` FORMAT with a bare `0/1` sample value throws
    * at runtime. Dropped fields are simply absent from the map (typed
    * extraction then yields null, matching the reference's None). */
  private def sampleMap(fmtKeys: Column, fmtVals: Column): Column = {
    val m = least(size(fmtKeys), size(fmtVals))
    map_from_arrays(slice(fmtKeys, lit(1), m), slice(fmtVals, lit(1), m))
  }

  /** Typed extraction of the standard FORMAT fields from a `sample` map.
    * try_cast, not cast: `.` is the VCF missing-value marker inside
    * FORMAT values (same convention QUAL handles explicitly), and under
    * ANSI mode a plain cast would throw on it — a missing/malformed
    * sample value reads as null, identical to the scan's [[VcfRecord]]. */
  private def withSampleFields(df: DataFrame): DataFrame =
    df.withColumn("gt",
        transform(split(regexp_replace(element_at(col("sample"), "GT"), "\\|", "/"), "/"),
          g => when(g === "." || g === "", null).otherwise(g).try_cast("int")))
      .withColumn("ad", intArray(element_at(col("sample"), "AD")))
      .withColumn("pl", intArray(element_at(col("sample"), "PL")))
      .withColumn("dp", element_at(col("sample"), "DP").try_cast("int"))
      .withColumn("gq", element_at(col("sample"), "GQ").try_cast("int"))

  private def coreCols(fld: Int => Column): Seq[Column] = Seq(
    fld(1).as("chrom"),
    fld(2).try_cast("long").as("pos"),
    fld(3).as("id"),
    fld(4).as("ref"),
    concat(array(fld(4)), split(fld(5), ",")).as("alleles"),
    when(fld(6) === ".", null).otherwise(fld(6)).cast("double").as("qual"),
    fld(7).as("filter"),
    str_to_map(fld(8), lit(";"), lit("=")).as("info"))

  private def intArray(c: Column): Column =
    when(c.isNull, null).otherwise(transform(split(c, ","), x => x.try_cast("int")))

  /** Typed INFO accessor: `infoField(df, "END")` as long, etc. try_cast,
    * not cast: INFO values are user data and ANSI cast would fail the
    * whole scan on one malformed or '.'-marked value (the reference's
    * frame building tolerates them as missing). */
  def infoLong(name: String): Column = element_at(col("info"), name).try_cast("long")

  /** get_vcf_df's `custom_info_fields` (sv_stats_collect.py:34-36): project
    * INFO keys to typed, LOWER-CASED columns in one pass. Supported types:
    * "long", "double", "string", "flag" (presence boolean). Values use
    * try_cast leniency — same rationale as [[infoLong]] — matching the
    * DSv2 `info_fields` columns. */
  def withInfoFields(df: DataFrame, fields: Map[String, String]): DataFrame =
    fields.foldLeft(df) { case (acc, (name, tpe)) =>
      val c = tpe match {
        case "flag" => map_contains_key(col("info"), name)
        case t      => element_at(col("info"), name).try_cast(t)
      }
      acc.withColumn(name.toLowerCase, c)
    }

  private val InfoHeader =
    """##INFO=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+).*""".r

  /** Infer the typed-INFO projection from the `##INFO=<ID=..,Type=..>`
    * header lines, the way get_vcf_df types its frame from the pysam
    * header: Integer→long, Float→double, Flag→flag, String/Character→
    * string. Number≠1 fields stay strings (comma-joined), matching the
    * reference's tuple-valued cells that callers unpack themselves. */
  def infoSchema(spark: SparkSession, path: String): Map[String, String] =
    headerLines(spark, path)
      .filter(_.startsWith("##INFO="))
      .flatMap(line => line match {
        case InfoHeader(id, number, tpe) =>
          val t = (tpe, number) match {
            case ("Flag", _)    => "flag"
            case (_, n) if n != "1" => "string"
            case ("Integer", _) => "long"
            case ("Float", _)   => "double"
            case _              => "string"
          }
          Some(id -> t)
        case _ => None
      }).toMap

  /** One-call typed read: body parse + header-driven INFO projection. */
  def readTyped(spark: SparkSession, path: String, sampleIndex: Int = 0): DataFrame =
    withInfoFields(read(spark, path, sampleIndex), infoSchema(spark, path))
}

/** Hadoop's gzip codec under bgzip's other extension, `.bgz`, so the
  * text source decodes those files too. */
class BgzCodec extends org.apache.hadoop.io.compress.GzipCodec {
  override def getDefaultExtension: String = ".bgz"
}
