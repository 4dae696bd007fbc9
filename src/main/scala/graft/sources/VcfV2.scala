package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util
import scala.annotation.switch
import scala.jdk.CollectionConverters._

/** VCF DataSourceV2: `spark.read.format("vcf").load(path)` with real
  * scan-time predicate pushdown and column pruning — the reference's
  * manual `bcftools view -r/-i` restriction BEFORE parsing
  * (correct_genotypes_by_imputation.py:141-148,
  * train_lib_prep_recalibration_model.py:57), expressed as a Spark
  * `TableProvider` so Catalyst routes the filters down automatically.
  *
  * Why it matters at scale: the expression path ([[Vcf.read]]) splits
  * all 10+N tab fields and builds the INFO and FORMAT maps of EVERY line
  * before the filter runs. Here each line is a [[VcfRecord]], cut and
  * parsed only as far as asked: the pushed predicates run first, those
  * on the fewest leading fields first, and a line they drop is cut no
  * further; pruned columns (`SupportsPushDownRequiredColumns`) are never
  * parsed.
  *
  * Splits: BGZF files get one task per `split_bytes` of compressed data
  * via [[Bgzf.splitLines]]'s single-owner rule; plain text files get byte
  * ranges with the standard skip-first-partial-line / read-through-end
  * convention (a line belongs to the split containing its first byte,
  * inclusive of the end boundary). The one driver-side read is a region
  * lookup over BGZF files with fresh `.tbi`/`.csi` sidecars whose merged
  * chunks span at most `min(split_bytes, VcfLocalScan.Cap)` compressed
  * bytes: [[VcfLocalScan]] reads just those chunks while Spark plans, and
  * runs no job. Over the cap the chunks only prune splits.
  *
  * Which pushed filters the scan decides and which it only prunes: a
  * region predicate — `EqualTo`/`In`/`IsNotNull` on `chrom`, and
  * `EqualTo`/`In`/`IsNotNull`/range comparisons on `pos` with `Long`
  * comparands, or `And`/`Or` trees of only those — is evaluated exactly
  * on the very (chrom, pos) values the scan emits, under SQL's
  * three-valued logic (a null value or comparand never keeps a line), so
  * it is NOT returned as a post-scan filter. A region lookup therefore
  * plans as a bare scan with no `Filter`: a `LocalTableScan`, or over the
  * cap a vcf `BatchScan` whose generated code carries no literals and
  * hits Spark's codegen cache. Every other pushed predicate (`qual`,
  * `filter`, `info_*`, `gq`/`dp`, and `Or` trees mixing them in) only
  * prunes: the scan drops lines that cannot match and Spark re-applies
  * the predicate. Either way results are row-identical to
  * `Vcf.read(...).filter(...)` (spec-gated in VcfBedSpec, VcfPushdownSpec,
  * VcfRegionParitySpec and VcfLocalScanSpec).
  *
  * Read options: `sample_index` (default 0), `split_bytes` (default 16
  * MiB), `samples` (`all` reads the wide panel shape) and `info_fields`
  * (typed INFO columns, see [[VcfV2.parseInfoFields]]). A `sample_index`
  * below 0 or a `split_bytes` below 1 fails naming the option.
  */
class VcfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vcf"

  // writes hand the incoming frame's schema to getTable (the writer
  // formats whatever projection of the read schema it is given)
  override def supportsExternalMetadata(): Boolean = true

  /** Driver-read limit for region lookups; specs override it to force the
    * distributed arm. */
  private[sources] def localCap: Long = VcfLocalScan.Cap

  private def allSamples(opts: java.util.Map[String, String]): Boolean =
    Option(opts.get("samples")).exists(_.equalsIgnoreCase("all"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VcfV2.schemaFor(allSamples(options),
      VcfV2.parseInfoFields(Option(options.get("info_fields"))))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("vcf source requires a path"))
    def whole(name: String, default: Long, min: Long, max: Long): Long =
      Option(properties.get(name)).fold(default) { v =>
        v.toLongOption.filter(n => n >= min && n <= max).getOrElse(
          throw new IllegalArgumentException(
            s"vcf option $name must be a whole number in [$min, $max], got '$v'"))
      }
    val sampleIndex = whole("sample_index", 0, 0, Int.MaxValue).toInt
    val splitBytes = whole("split_bytes", 16L * 1024 * 1024, 1, Long.MaxValue)
    // the write path supplies the incoming frame's schema (any projection
    // of the read shapes); reads pass inferSchema's result back unchanged
    new VcfTable(path, sampleIndex, splitBytes, allSamples(properties),
      Option(schema).filter(_.fields.nonEmpty),
      VcfV2.parseInfoFields(Option(properties.get("info_fields"))), localCap)
  }
}

object VcfV2 {
  private val core = Seq(
    StructField("chrom", StringType),
    StructField("pos", LongType),
    StructField("id", StringType),
    StructField("ref", StringType),
    StructField("alleles", ArrayType(StringType)),
    StructField("qual", DoubleType),
    StructField("filter", StringType),
    StructField("info", MapType(StringType, StringType)))

  /** Same columns, order, and types as [[Vcf.read]]'s output frame. */
  val schema: StructType = StructType(core ++ Seq(
    StructField("sample", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("gt", ArrayType(IntegerType)),
    StructField("ad", ArrayType(IntegerType)),
    StructField("pl", ArrayType(IntegerType)),
    StructField("dp", IntegerType),
    StructField("gq", IntegerType)))

  /** `option("samples","all")`: [[Vcf.readAllSamples]]'s wide panel shape
    * — one FORMAT map per sample column, single scan for any panel width;
    * compose with [[Vcf.explodeSamples]] for the long form. */
  val allSamplesSchema: StructType = StructType(core :+
    StructField("samples",
      ArrayType(MapType(StringType, StringType, valueContainsNull = false))))

  /** `option("info_fields","AN:long,VARIANT_TYPE,DB:flag")`: INFO keys as
    * first-class typed columns named `info_<key lowercased>` — the DSv2
    * form of [[Vcf.withInfoFields]] (get_vcf_df's custom_info_fields,
    * sv_stats_collect.py:34-36). Making them COLUMNS is what lets
    * Catalyst push `INFO/AN>4`-style predicates (run_somatic_comparison_
    * and_graphs.py:164, run_no_gt_report.py:348) into the scan, where
    * they are evaluated on the line's first 8 fields BEFORE any sample
    * parse or row assembly. Types: long, double, string (default), flag
    * (key presence). Values are lenient (try_cast semantics: '.' or
    * malformed → null) — pushdown only ever prunes, Spark re-applies the
    * predicate. */
  def parseInfoFields(spec: Option[String]): Seq[(String, String, String)] =
    spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { e =>
      val (key, tpe) = e.indexOf(':') match {
        case -1 => (e, "string")
        case i => (e.substring(0, i).trim, e.substring(i + 1).trim.toLowerCase)
      }
      require(Set("string", "long", "double", "flag")(tpe),
        s"vcf info_fields: unsupported type '$tpe' for $key " +
          "(supported: string, long, double, flag)")
      ("info_" + key.toLowerCase, key, tpe)
    }

  private def infoStructField(tpe: String): DataType = tpe match {
    case "long" => LongType
    case "double" => DoubleType
    case "flag" => BooleanType
    case _ => StringType
  }

  /** Read schema for the option combination. */
  def schemaFor(allSamples: Boolean,
                infoFields: Seq[(String, String, String)]): StructType = {
    val base = if (allSamples) allSamplesSchema else schema
    StructType(base ++ infoFields.map { case (col, _, tpe) =>
      StructField(col, infoStructField(tpe))
    })
  }
}

class VcfTable(path: String, sampleIndex: Int, splitBytes: Long,
               allSamples: Boolean = false,
               external: Option[StructType] = None,
               infoFields: Seq[(String, String, String)] = Nil,
               localCap: Long = VcfLocalScan.Cap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"vcf $path"
  override def schema(): StructType = external.getOrElse(
    VcfV2.schemaFor(allSamples, infoFields))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VcfScanBuilder(path, sampleIndex, splitBytes, schema(), infoFields, localCap)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // any projection of the read shapes writes cleanly; unknown columns or
    // wrong types fail here with guidance, not as executor ClassCastErrors.
    // info_* projections (the typed INFO read shape) are accepted and
    // ignored — their content is the info map, which IS written
    val known = (VcfV2.schema ++ VcfV2.allSamplesSchema.filter(_.name == "samples"))
      .map(f => f.name -> f.dataType).toMap
    info.schema().fields.foreach { f =>
      known.get(f.name) match {
        case None if f.name.startsWith("info_") => ()
        case None => throw new IllegalArgumentException(
          s"vcf write: unknown column '${f.name}' (writable columns: " +
            known.keys.toSeq.sorted.mkString(", ") + ")")
        case Some(dt) if dt != f.dataType => throw new IllegalArgumentException(
          s"vcf write: column '${f.name}' must be $dt, got ${f.dataType}")
        case _ => ()
      }
    }
    new VcfWriteBuilder(path, info)
  }
}

class VcfScanBuilder(path: String, sampleIndex: Int, splitBytes: Long,
                     full: StructType,
                     infoFields: Seq[(String, String, String)] = Nil,
                     localCap: Long = VcfLocalScan.Cap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full
  private val infoCols = infoFields.map(_._1).toSet

  /** Accept every predicate [[VcfFilterEval]] can evaluate; return as
    * post-scan filters only those the scan does not decide exactly (see
    * [[VcfFilterEval.exact]]): region predicates on (chrom, pos) are
    * decided here, the rest (and anything unsupported) Spark re-applies,
    * so for them pushdown only skips lines the engine would drop anyway. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(VcfFilterEval.supported(_, infoCols))
    filters.filterNot(VcfFilterEval.exact)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** A pushed region is planned here, once: the driver-read
    * [[VcfLocalScan]] when every file's tabix chunks span at most
    * `min(split_bytes, localCap)`, else the distributed [[VcfScan]]. */
  override def build(): Scan = {
    val scan = new VcfScan(path, sampleIndex, splitBytes, pushed, required, infoFields)
    if (!Tabix.hasRegion(pushed)) scan
    else scan.localChunks(math.min(splitBytes, localCap))
      .map(new VcfLocalScan(scan, _)).getOrElse(scan)
  }
}

class VcfScan(path: String, sampleIndex: Int, splitBytes: Long,
              pushed: Array[Filter], required: StructType,
              infoFields: Seq[(String, String, String)] = Nil)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // surfaced in the plan text (BatchScan ... PushedFilters/ReadSchema) so
  // pushdown is assertable the same way parquet scans are
  override def description(): String =
    s"vcf $path PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.fieldNames.mkString(",")}"

  private[sources] lazy val conf: Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  /** Each file's partitions after tabix pruning, with its merged tabix
    * chunks when a fresh `.tbi`/`.csi` resolved the pushed region —
    * computed once, for both arms. */
  private lazy val plan: Seq[VcfFilePlan] = {
    val files = Vcf.dataFiles(conf, path).toIndexedSeq
    // Header-compatibility gate for multi-file scans: the read schema and
    // sample panel were inferred from the FIRST file (Vcf.headerLines);
    // the reference never mixes headers silently — pysam reads each
    // file's own header (ugvc/joint/denovo_refinement.py:30-35 one frame
    // per parent file). A foreign directory mixing panels or INFO
    // declarations must fail HERE with the offending file, not yield the
    // wrong sample or silent nulls. O(header) per file, driver-side at
    // planning, cached by (path, len, mtime).
    if (files.length > 1) {
      val ref = Vcf.headerMetaCached(conf, files.head)
      def mismatch(s: org.apache.hadoop.fs.FileStatus, m: Vcf.HeaderMeta): Option[String] =
        if (m.samples != ref.samples)
          Some(s"vcf scan: sample columns of ${s.getPath} (${m.samples.mkString(",")}) " +
            s"differ from ${files.head.getPath} (${ref.samples.mkString(",")}); " +
            "a directory scan needs one header — split the load or reorder " +
            "columns upstream")
        else infoFields.collectFirst {
          case (_, key, _) if m.infoTypes.get(key) != ref.infoTypes.get(key) =>
            s"vcf scan: INFO $key declared as " +
              s"${m.infoTypes.getOrElse(key, "<absent>")} in ${s.getPath} but " +
              s"${ref.infoTypes.getOrElse(key, "<absent>")} in ${files.head.getPath}; " +
              "typed info_fields need one declaration"
        }
      val cached = files.tail.map(Vcf.headerMetaIfCached)
      if (cached.forall(_.isDefined))
        // warm planning (every header already fingerprinted): the checks
        // are in-memory comparisons, run inline in file order
        files.tail.zip(cached).foreach { case (s, m) =>
          val mm = mismatch(s, m.get)
          require(mm.isEmpty, mm.get)
        }
      else {
        // each cold check is one bounded header read (O(header), not
        // O(file)), but a 100k-part foreign directory would serialize
        // 100k FS opens inside planning — fan the reads over a bounded
        // pool and surface the FIRST mismatch in file order (deterministic
        // messages). Measured under the ObjStoreProbe latency shim (25
        // ms/open, 2000 files): sequential walk 51.8 s, this pool 3.6 s
        // (OBJSTORE.json). The worker only builds the message; require
        // stays on the driver thread so the error type/text matches the
        // inline walk.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, Runtime.getRuntime.availableProcessors()))
        try {
          val checks = files.tail.map { s =>
            pool.submit(new java.util.concurrent.Callable[Option[String]] {
              override def call(): Option[String] =
                mismatch(s, Vcf.headerMetaCached(conf, s))
            })
          }
          checks.foreach { f =>
            val mm =
              try f.get()
              catch { // keep a failed header read's own exception type
                case e: java.util.concurrent.ExecutionException => throw e.getCause
              }
            require(mm.isEmpty, mm.get)
          }
          // cancels the queued remainder when a mismatch threw mid-walk; a
          // completed walk has nothing left to cancel
        } finally pool.shutdownNow()
      }
    }
    files.map { s =>
      val p = s.getPath.toString
      val len = s.getLen
      val gz = p.endsWith(".gz") || p.endsWith(".bgz")
      val bgzf = gz && Vcf.isBgzfCached(conf, s)
      val splits =
        if (gz && !bgzf)
          // plain gzip is not splittable: one whole-file partition through the
          // codec (same caveat as Vcf.read — feed many files at scale)
          Seq(VcfPartition(p, 0, len, VcfPartition.Gzip))
        else {
          val kind = if (bgzf) VcfPartition.Bgzf else VcfPartition.Text
          val n = math.max(1L, (len + splitBytes - 1) / splitBytes).toInt
          (0 until n).map { i =>
            VcfPartition(p, i.toLong * splitBytes,
              math.min((i + 1).toLong * splitBytes, len), kind)
          }
        }
      // with a (chrom,pos) region pushed, a fresh .tbi/.csi beside a bgzf
      // file keeps only the splits its chunks touch
      val chunks =
        if (bgzf) Tabix.regionChunks(conf, p, s.getModificationTime, pushed) else None
      VcfFilePlan(p, chunks.map(Tabix.splitsFor(_, splits)).getOrElse(splits), chunks)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    plan.flatMap(_.splits).toArray

  /** Every file's chunks, when every file has them and their span (per
    * chunk its first through last block, the last taken as a full 64 KiB)
    * is at most `limit` compressed bytes in all. */
  private[sources] def localChunks(limit: Long): Option[Seq[(String, Seq[(Long, Long)])]] = {
    val cs = plan.flatMap(f => f.chunks.map(f.path -> _))
    val span = cs.flatMap(_._2).map { case (u, v) => (v >>> 16) - (u >>> 16) + 65536L }.sum
    if (plan.nonEmpty && cs.size == plan.size && span <= limit) Some(cs) else None
  }

  private[sources] def reader(lines: Iterator[String]): VcfPartitionReader =
    new VcfPartitionReader(lines, sampleIndex, pushed, required.fieldNames, infoFields)

  // one broadcast conf per scan, not a copy inside every task
  override def createReaderFactory(): PartitionReaderFactory = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    VcfReaderFactory(sc.broadcast(new SerializableConfiguration(conf)), sampleIndex,
      pushed, required.fieldNames, infoFields)
  }
}

/** An under-cap region lookup, read on the driver: the pushed region's
  * merged tabix chunks go through [[Bgzf.chunkLines]] into the same
  * [[VcfPartitionReader]] the distributed scan uses (same pushed filters,
  * pruned columns and typed INFO). Spark plans a `LocalTableScanExec` from
  * [[rows]] and runs no job for it. It calls `rows()` while planning, so
  * `explain()` or `executedPlan` on such a lookup reads those chunks, and
  * executing the same Dataset again returns the rows read then. */
class VcfLocalScan(scan: VcfScan, chunks: Seq[(String, Seq[(Long, Long)])])
    extends LocalScan {
  override def readSchema(): StructType = scan.readSchema()
  override def rows(): Array[InternalRow] = {
    val out = Array.newBuilder[InternalRow]
    chunks.foreach { case (p, cs) =>
      val r = scan.reader(Bgzf.chunkLines(scan.conf, p, cs))
      try while (r.next()) out += r.get() finally r.close()
    }
    out.result()
  }
}

object VcfLocalScan {
  /** Most compressed bytes of tabix chunks (their summed span) a lookup
    * reads on the driver, further bounded by `split_bytes`; over it the
    * lookup is the distributed scan of the pruned splits. Sized on one
    * 200k-record bgzf part, 4 cores, process CPU per collected lookup
    * against the forced distributed arm (CHANGES.md): the driver read
    * costs less up to a 512 KiB span (0.74 against 0.81 s; 35k rows, 18
    * MiB as UnsafeRows) and more past it (1.92 against 1.37 s at 1 MiB).
    * A constant: specs force the distributed arm via `localCap`. */
  val Cap: Long = 512L << 10
}

private[sources] final case class VcfFilePlan(path: String, splits: Seq[VcfPartition],
                                              chunks: Option[Seq[(Long, Long)]])

case class VcfPartition(path: String, start: Long, end: Long, kind: Int)
    extends InputPartition

object VcfPartition {
  val Text = 0; val Bgzf = 1; val Gzip = 2
}

case class VcfReaderFactory(hadoopConf: Broadcast[SerializableConfiguration],
                            sampleIndex: Int, pushed: Array[Filter],
                            fields: Array[String],
                            infoFields: Seq[(String, String, String)] = Nil)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[VcfPartition]
    val conf = hadoopConf.value.value
    val lines = p.kind match {
      case VcfPartition.Bgzf => Bgzf.splitLines(conf, p.path, p.start, p.end)
      case _ => VcfLineParser.textLines(conf, p)
    }
    new VcfPartitionReader(lines, sampleIndex, pushed, fields, infoFields)
  }
}

/** Iterates lines; each data line is reset into the reader's one
  * [[VcfRecord]], the pushed predicates (bound to it once) are evaluated
  * on it cheapest first, by the last tab field each reads, and only a
  * line they all keep becomes a row of the required columns. */
class VcfPartitionReader(lines: Iterator[String], sampleIndex: Int,
                         pushed: Array[Filter], fields: Array[String],
                         infoFields: Seq[(String, String, String)] = Nil)
    extends PartitionReader[InternalRow] {
  private var row: InternalRow = _
  private val rec = new VcfRecord(sampleIndex, infoFields)
  private val filters = pushed.sortBy(VcfFilterEval.lastField).map(VcfFilterEval.bind(_, rec))
  private val columns = fields.map(rec.column)

  override def next(): Boolean = {
    row = null
    while (row == null && lines.hasNext) {
      val line = lines.next()
      if (!line.startsWith("#")) {
        rec.reset(line)
        if (filters.forall(VcfFilterEval.eval(_, rec)))
          row = new GenericInternalRow(columns.map(rec.value))
      }
    }
    row != null
  }

  override def get(): InternalRow = row

  /** Releases the underlying FS stream on early termination (LIMIT
    * queries stop the reader before the iterator exhausts). */
  override def close(): Unit = lines match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** Scan-side evaluation of the pushable filter shapes over a
  * [[VcfRecord]]'s column values: region predicates on (chrom, pos) —
  * `bcftools view -r` — plus `filter` equality/inclusion (`-f PASS`),
  * `qual` comparisons (`-i 'QUAL>x'`), typed INFO columns (`-i 'INFO/AN>4'`)
  * and the sample fields `gq`/`dp` (the reference's `FORMAT/GQ[0]>20`
  * pre-filter, correct_genotypes_by_imputation.py:141-148). */
object VcfFilterEval {
  def supported(f: Filter, infoCols: Set[String] = Set.empty): Boolean = {
    def ordered(a: String) = Set("pos", "qual", "gq", "dp")(a) || infoCols(a)
    f match {
      case _: EqualTo | _: In | _: IsNotNull =>
        Set("chrom", "filter")(f.references.head) || ordered(f.references.head)
      case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual =>
        ordered(f.references.head)
      case And(l, r) => supported(l, infoCols) && supported(r, infoCols)
      case Or(l, r) => supported(l, infoCols) && supported(r, infoCols)
      case _ => false
    }
  }

  /** Does the scan decide `f` exactly, so Spark need not re-apply it?
    * True for region predicates only: chrom equality/inclusion/non-null
    * and pos equality/inclusion/range/non-null with `Long` comparands
    * (`In` lists may hold nulls, which never match — SQL's `x IN (a,
    * null)` is null, not true, unless x = a), and `And`/`Or` trees of
    * those. [[eval]] compares them on the same `chrom` string and `pos`
    * long the row carries, so "kept by the scan" and "true in SQL"
    * coincide. Not exact: `qual`, `filter`, typed INFO and FORMAT fields,
    * which the scan only uses to prune. */
  def exact(f: Filter): Boolean = f match {
    case EqualTo("chrom", _: String) => true
    case In("chrom", vs) => vs.forall(v => v == null || v.isInstanceOf[String])
    case IsNotNull("chrom") | IsNotNull("pos") => true
    case EqualTo("pos", _: java.lang.Long) => true
    case In("pos", vs) => vs.forall(v => v == null || v.isInstanceOf[java.lang.Long])
    case GreaterThan("pos", _: java.lang.Long) | GreaterThanOrEqual("pos", _: java.lang.Long) |
         LessThan("pos", _: java.lang.Long) | LessThanOrEqual("pos", _: java.lang.Long) => true
    case And(l, r) => exact(l) && exact(r)
    case Or(l, r) => exact(l) && exact(r)
    case _ => false
  }

  /** The last tab field `f` reads (typed INFO is 8, `gq`/`dp` the sample):
    * the reader evaluates lower first, so a dropped line is cut no further. */
  def lastField(f: Filter): Int = f.references.map(fieldOf.getOrElse(_, 8)).max
  private val fieldOf = Map("chrom" -> 1, "pos" -> 2, "qual" -> 6, "filter" -> 7,
    "gq" -> 10, "dp" -> 10)

  /** A pushed filter bound to one reader's [[VcfRecord]]: columns as
    * [[VcfRecord.column]] ids and string comparands as the `UTF8String`s
    * the column values are, so a line costs no column-name match and no
    * string conversion. */
  sealed trait Bound
  private final case class Junction(l: Bound, r: Bound, and: Boolean) extends Bound
  private final case class NotNull(column: Int) extends Bound
  /** Keeps a line whose value compares to `v` with a sign in [lo, hi]. */
  private final case class Cmp(column: Int, v: Any, lo: Int, hi: Int) extends Bound
  private final case class AnyOf(column: Int, vs: Array[Any]) extends Bound
  private case object Always extends Bound

  def bind(f: Filter, rec: VcfRecord): Bound = {
    def u(v: Any): Any = v match { case s: String => UTF8String.fromString(s); case o => o }
    f match {
      case And(l, r) => Junction(bind(l, rec), bind(r, rec), and = true)
      case Or(l, r) => Junction(bind(l, rec), bind(r, rec), and = false)
      case IsNotNull(c) => NotNull(rec.column(c))
      case EqualTo(c, v) => Cmp(rec.column(c), u(v), 0, 0)
      case In(c, vs) => AnyOf(rec.column(c), vs.map(u))
      case GreaterThan(c, v) => Cmp(rec.column(c), u(v), 1, 1)
      case GreaterThanOrEqual(c, v) => Cmp(rec.column(c), u(v), 0, 1)
      case LessThan(c, v) => Cmp(rec.column(c), u(v), -1, -1)
      case LessThanOrEqual(c, v) => Cmp(rec.column(c), u(v), -1, 0)
      case _ => Always
    }
  }

  /** SQL three-valued logic collapsed to "keep?": a comparison with a null
    * value or comparand is not a keep, as in the engine-side filter the row
    * would hit anyway. An unsupported shape keeps the line (Spark re-applies it). */
  def eval(f: Bound, rec: VcfRecord): Boolean = f match {
    case Cmp(c, v, lo, hi) => val x = compare(rec.value(c), v); x >= lo && x <= hi
    case NotNull(c) => rec.value(c) != null
    case Junction(l, r, true) => eval(l, rec) && eval(r, rec)
    case Junction(l, r, false) => eval(l, rec) || eval(r, rec)
    case AnyOf(c, vs) => val x = rec.value(c); vs.exists(compare(x, _) == 0)
    case Always => true
  }

  private final val Undecided = Int.MinValue

  /** The sign (-1, 0 or 1) of comparing a column value with a comparand as
    * Spark SQL orders them, or [[Undecided]] when they do not compare (a null on
    * either side). Two integral numbers compare as longs: through
    * doubles, values past 2^53 would tie and a strict comparison would
    * drop a kept line. Other numbers compare in SQL's double order
    * (`SQLOrderingUtil.compareDoubles`: NaN = NaN and above every other
    * value, -0.0 = 0.0), where Java's `==` and `<` would drop lines Spark
    * keeps. Strings compare as UTF-8 bytes, as Spark does, not as UTF-16
    * units: [[bind]] has made every string comparand a `UTF8String`, and
    * `binaryCompare` is the default collation's order without the
    * per-call environment lookup `UTF8String.compareTo` makes. */
  private def compare(a: Any, b: Any): Int = a match {
    case x: UTF8String => b match {
      case y: UTF8String => Integer.signum(x.binaryCompare(y))
      case _ => Undecided
    }
    case x: java.lang.Boolean => b match {
      case y: java.lang.Boolean => Integer.signum(java.lang.Boolean.compare(x, y))
      case _ => Undecided
    }
    case x: Number => b match {
      case y: Number if integral(x) && integral(y) =>
        java.lang.Long.compare(x.longValue(), y.longValue())
      case y: Number =>
        val p = x.doubleValue(); val q = y.doubleValue()
        if (p == q) 0 else java.lang.Double.compare(p, q)
      case _ => Undecided
    }
    case _ => Undecided
  }

  // the comparands Spark pushes for the long (pos, info_*) and int (gq, dp) columns
  private def integral(n: Number): Boolean =
    n.isInstanceOf[java.lang.Long] || n.isInstanceOf[java.lang.Integer]
}

/** One VCF data line, cut lazily, giving the value of any read-schema
  * column with [[Vcf.fromLines]]' expression semantics (split with -1
  * limit, out-of-range element → null, "."/"" handling, FORMAT raggedness
  * slice), so the two paths are row-identical (VcfBedSpec). A reader keeps
  * one record and [[reset]]s it per line. Tab fields are cut only as far as
  * a caller asks; INFO is parsed at most once, and FORMAT with the chosen
  * sample at most once, sliced to their common length. Each parse checks
  * its keys once: a repeated key throws, as `str_to_map`/`map_from_arrays`
  * do under spark.sql.mapKeyDedupPolicy=EXCEPTION. `infoFields` are the
  * typed `info_*` columns of [[VcfV2.parseInfoFields]]. A caller resolves
  * each column name to an id once ([[column]]) and reads [[value]] by id. */
final class VcfRecord(sampleIndex: Int = 0,
                      infoFields: Seq[(String, String, String)] = Nil) {
  import VcfRecord._

  private val typed = infoFields.toArray
  private var line: String = _
  private val fields = new Cuts
  private var next = 0 // start of the first uncut field, -1 past the last
  private var infoParsed, formatParsed, formatKeysCut, posParsed = false
  private var pos: java.lang.Long = _ // once posParsed: a filter tree may read it often
  private val infoKeys, infoVals, formatKeys, sampleVals = new Cuts
  private var formatDup = 0 // index of the first repeated FORMAT key
  private var sampleWidth = -1 // FORMAT keys the sample has values for
  private var chromText: String = _ // the last chrom converted, and its value
  private var chromUtf8: UTF8String = _

  def reset(l: String): this.type = {
    line = l; fields.n = 0; next = 0
    infoParsed = false; formatParsed = false; formatKeysCut = false; posParsed = false
    this
  }

  /** Tab field `i`, 1-based; null past the end of the line. */
  def field(i: Int): String = {
    while (fields.n < i && next >= 0) {
      val tab = line.indexOf('\t', next)
      fields += (if (tab < 0) line.substring(next) else line.substring(next, tab))
      next = if (tab < 0) -1 else tab + 1
    }
    if (i >= 1 && i <= fields.n) fields(i - 1) else null
  }

  /** Parses INFO once; false when the line has no INFO field. */
  private def info(): Boolean = {
    if (!infoParsed) {
      infoParsed = true; infoKeys.n = 0; infoVals.n = 0
      val s = field(8)
      if (s != null) {
        // str_to_map: ";" parts, empties kept; a part's key ends at its
        // first '=' and a part without one has a null value
        var from = 0
        while (from <= s.length) {
          val semi = s.indexOf(';', from)
          val end = if (semi < 0) s.length else semi
          var eq = from
          while (eq < end && s.charAt(eq) != '=') eq += 1
          infoKeys += s.substring(from, eq)
          infoVals += (if (eq < end) s.substring(eq + 1, end) else null)
          from = end + 1
        }
        val d = infoKeys.firstRepeat()
        if (d < infoKeys.n) duplicateKey(infoKeys(d), "INFO")
      }
    }
    infoKeys.n > 0
  }

  /** Cuts the FORMAT keys once; false when the line has no FORMAT field. */
  private def cutFormatKeys(): Boolean = {
    if (!formatKeysCut) {
      formatKeysCut = true; formatKeys.n = 0
      val k = field(9)
      if (k != null) { formatKeys.cut(k, ':'); formatDup = formatKeys.firstRepeat() }
    }
    formatKeys.n > 0
  }

  /** The first `m` FORMAT keys, as a map key set: throws when they repeat. */
  private def checkFormat(m: Int): Unit =
    if (m > formatDup) duplicateKey(formatKeys(formatDup), "FORMAT")

  /** Parses FORMAT and the chosen sample once; the sample's width, -1
    * when the line has no FORMAT or no such sample column. */
  private def sample(): Int = {
    if (!formatParsed) {
      formatParsed = true; sampleWidth = -1
      val v = field(10 + sampleIndex)
      if (v != null && cutFormatKeys()) {
        sampleVals.n = 0
        sampleVals.cut(v, ':')
        sampleWidth = math.min(formatKeys.n, sampleVals.n)
        checkFormat(sampleWidth)
      }
    }
    sampleWidth
  }

  private def sampleValue(key: String): String = {
    val m = sample(); val i = formatKeys.indexOf(key)
    if (i >= 0 && i < m) sampleVals(i) else null
  }

  /** The id [[value]] takes for read-schema column `name`: its place in
    * [[VcfRecord.Columns]], then the typed INFO columns in order. */
  def column(name: String): Int = {
    val i = (Columns ++ infoFields.map(_._1)).indexOf(name)
    require(i >= 0, s"unknown vcf column $name")
    i
  }

  /** The Catalyst value on this line of the column with id `column`. */
  def value(column: Int): Any = (column: @switch) match {
    case Chrom =>
      // a sorted VCF repeats its chrom for millions of lines: convert it
      // once per run of lines, not once per line
      val c = field(1)
      if (c != chromText) { chromText = c; chromUtf8 = utf8(c) }
      chromUtf8
    case Pos =>
      if (!posParsed) { posParsed = true; pos = VcfLineParser.toLongOrNull(field(2)) }
      pos
    case Id => utf8(field(3))
    case Ref => utf8(field(4))
    case Alleles =>
      val alt = field(5)
      if (alt == null) null
      else new GenericArrayData((field(4) +: alt.split(",", -1)).map[Any](utf8))
    case Qual => val q = field(6); if (q == ".") null else toDoubleOrNull(q)
    case FilterCol => utf8(field(7))
    case Info => if (info()) mapData(infoKeys.a, infoVals.a, infoKeys.n) else null
    case Sample => val m = sample(); if (m < 0) null else mapData(formatKeys.a, sampleVals.a, m)
    case Gt =>
      val gt = sampleValue("GT")
      if (gt == null) null
      else new GenericArrayData(gt.replace('|', '/').split("/", -1)
        .map[Any](g => if (g == "." || g == "") null else toIntOrNull(g)))
    case Ad => intArrayData(sampleValue("AD"))
    case Pl => intArrayData(sampleValue("PL"))
    case Dp => toIntOrNull(sampleValue("DP"))
    case Gq => toIntOrNull(sampleValue("GQ"))
    case Samples =>
      // wide panel shape (readAllSamples parity): one FORMAT map per
      // sample column 10.., each sliced to the common key/value length
      if (field(10) == null || !cutFormatKeys()) null
      else {
        field(Int.MaxValue)
        new GenericArrayData(Array.tabulate[Any](fields.n - 9) { i =>
          val vs = fields(9 + i).split(":", -1)
          val m = math.min(formatKeys.n, vs.length)
          checkFormat(m)
          mapData(formatKeys.a, vs, m)
        })
      }
    case _ =>
      // typed INFO column: lenient try_cast semantics ('.'/malformed →
      // null), flag = key presence (null when the line has no INFO)
      if (!info()) null
      else {
        val t = typed(column - Columns.length)
        val i = infoKeys.indexOf(t._2)
        val v = if (i < 0) null else infoVals(i)
        t._3 match {
          case "flag" => java.lang.Boolean.valueOf(i >= 0)
          case "long" => VcfLineParser.toLongOrNull(v)
          case "double" => toDoubleOrNull(v)
          case _ => utf8(v)
        }
      }
  }
}

object VcfRecord {
  /** The read-schema columns other than typed INFO, in column-id order. */
  private val Columns = Array("chrom", "pos", "id", "ref", "alleles", "qual", "filter",
    "info", "sample", "gt", "ad", "pl", "dp", "gq", "samples")
  private final val Chrom = 0; private final val Pos = 1; private final val Id = 2
  private final val Ref = 3; private final val Alleles = 4; private final val Qual = 5
  private final val FilterCol = 6; private final val Info = 7; private final val Sample = 8
  private final val Gt = 9; private final val Ad = 10; private final val Pl = 11
  private final val Dp = 12; private final val Gq = 13; private final val Samples = 14

  /** A reusable list of cut strings: reset by setting `n` to 0. */
  private final class Cuts {
    var a = new Array[String](16)
    var n = 0
    def apply(i: Int): String = a(i)
    def +=(s: String): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = s; n += 1
    }
    /** Appends the `sep`-separated parts of `s`, keeping empty ones. */
    def cut(s: String, sep: Char): Unit = {
      var from = 0
      while (from >= 0) {
        val i = s.indexOf(sep, from)
        this += (if (i < 0) s.substring(from) else s.substring(from, i))
        from = if (i < 0) -1 else i + 1
      }
    }
    def indexOf(s: String): Int = {
      var i = 0
      while (i < n && a(i) != s) i += 1
      if (i < n) i else -1
    }
    /** Index of the first entry that repeats an earlier one, or `n`. */
    def firstRepeat(): Int = {
      val seen = new java.util.HashSet[String](n * 2)
      var i = 0
      while (i < n && seen.add(a(i))) i += 1
      i
    }
  }

  private def duplicateKey(k: String, ctx: String): Nothing =
    throw new IllegalStateException(
      s"Duplicate map key $k was found in $ctx; the vcf v2 parse matches " +
        "map_from_arrays/str_to_map under spark.sql.mapKeyDedupPolicy=EXCEPTION")

  private def toIntOrNull(s: String): java.lang.Integer =
    if (s == null) null
    else try java.lang.Integer.valueOf(s.trim) catch { case _: NumberFormatException => null }

  private def toDoubleOrNull(s: String): java.lang.Double =
    if (s == null) null
    else try java.lang.Double.valueOf(s.trim) catch { case _: NumberFormatException => null }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def mapData(keys: Array[String], vals: Array[String], m: Int): ArrayBasedMapData =
    new ArrayBasedMapData(
      new GenericArrayData(Array.tabulate[Any](m)(i => utf8(keys(i)))),
      new GenericArrayData(Array.tabulate[Any](m)(i => utf8(vals(i)))))

  private def intArrayData(s: String): GenericArrayData =
    if (s == null) null else new GenericArrayData(s.split(",", -1).map[Any](toIntOrNull))
}

object VcfLineParser {
  def toLongOrNull(s: String): java.lang.Long =
    if (s == null) null
    else try java.lang.Long.valueOf(s.trim) catch { case _: NumberFormatException => null }

  /** Lines of a plain-text split or of a whole plain-gzip file, cut by
    * Hadoop's `LineReader` (a line ends at '\n', '\r' or "\r\n", and keeps
    * none of them). A text split [start, end) owns the lines whose first
    * byte lies in (start, end], from byte 0 when start == 0: the
    * LineRecordReader convention, so splits tile a file exactly once. A
    * gzip partition reads its whole file through a `GZIPInputStream`. */
  def textLines(conf: Configuration, part: VcfPartition): Iterator[String] with AutoCloseable = {
    val p = new Path(part.path)
    val raw = p.getFileSystem(conf).open(p)
    val gzip = part.kind == VcfPartition.Gzip
    val lr = new LineReader(
      if (gzip) new java.util.zip.GZIPInputStream(raw, 1 << 16) else { raw.seek(part.start); raw })
    val end = if (gzip) Long.MaxValue else part.end
    val text = new Text()
    var pos = part.start
    if (pos != 0) pos += lr.readLine(text) // discard the straddler's tail
    Bgzf.closingIterator(lr) {
      val n = if (pos > end) 0 else lr.readLine(text)
      pos += n
      if (n == 0) null else text.toString
    }
  }
}
