package graft.format

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Manifest-level file skipping (the Delta/Iceberg data-skipping idea,
  * re-expressed for the graft manifest): each base manifest entry
  * carries per-column min/max captured from its parquet footers at
  * write time, and [[GraftRelation]]'s scan drops entries a pushed
  * filter provably excludes BEFORE the snapshot plan is built.
  *
  * Why this matters at 100 TB: parquet row-group pruning still
  * schedules a task per file split and opens every footer; manifest
  * pruning happens on the driver against a few KB of commit metadata,
  * so a selective query over a 10k-file table plans only the surviving
  * files. (Object-store listings are also skipped — the pruned entries
  * are never turned into input paths.)
  *
  * Correctness under merge-on-read: only BASE files are pruned. Update
  * files carry FULL rows and win last-wins against the base, so a base
  * row whose update satisfies the filter still appears (the update row
  * is scanned); a base row whose update does NOT satisfy it is removed
  * by the re-applied filter above the scan. Tombstones only remove
  * rows. Renames disable pruning wholesale (stats are keyed by the
  * names at write time — [[TableState.pruneBaseFiles]] guards this).
  *
  * Conservativeness: a column with any unstatted row group, a type
  * outside the long/double/string/date/timestamp/decimal domains, or
  * any comparison across domains keeps the file. Temporal stats decode
  * their INT32/INT64 logical annotations into long days/micros at
  * capture time ([[statDomain]]); files written under LEGACY datetime
  * rebase refuse temporal stats wholesale. Decimal stats decode each
  * file's annotation scale into plain value strings at capture, so the
  * comparison space is scale-free exact arithmetic. Null semantics:
  * stats ignore nulls, so IsNull/IsNotNull never prune.
  */
object FileSkipping {

  /** Prune events since JVM start (test instrumentation, same pattern
    * as [[CommitLog.commitReads]]). UNIT CAVEAT: the per-file stat path
    * counts one per pruned FILE; the legacy entry-level fallback (stats
    * predating per-file capture) counts one per pruned ENTRY, whose file
    * count is unknown without a listing — compare deltas only within one
    * stat format. */
  val prunedFiles = new java.util.concurrent.atomic.AtomicLong

  /** Spark types whose parquet footer stats we can compare soundly.
    * long/double/string need no logical-type decoding; date and the two
    * timestamp flavors decode their INT32/INT64 logical annotations into
    * a single long domain at CAPTURE time (days since epoch; micros
    * since epoch, MILLIS scaled up) so prune-time comparison is plain
    * numeric. The two timestamp domains stay separate: an adjusted-to-
    * UTC instant and a wall-clock NTZ value are different quantities and
    * must never compare across ("ts" vs "tsntz").
    */
  private[format] def statDomain(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case DateType => Some("date")
    case TimestampType => Some("ts")
    case TimestampNTZType => Some("tsntz")
    // decimals decode their per-column annotation scale at CAPTURE time
    // into plain decimal strings, so prune-time comparison is the same
    // exact BigDecimal path the numeric domains use
    case _: org.apache.spark.sql.types.DecimalType => Some("dec")
    case _ => None
  }

  /** PER-FILE footer stats for every parquet file of one manifest entry
    * (a directory one `df.write` produced), keyed `rel/fileName`. Every
    * parquet file gets a key — an empty inner map marks "file present,
    * no usable stats" so file-granular pruning can tell "not statted"
    * from "not a member". A column with any stat-less row group is
    * dropped from that file's map. Empty result (never a throw) when
    * anything is off — absence of stats just means "never prune".
    *
    * Per-file granularity is what makes [[GraftDataset.compact]] with
    * `clusterBy` a Z-order-lite: range-repartitioned output files cover
    * disjoint key ranges, so a selective filter prunes all but the
    * covering files of ONE manifest entry.
    */
  def footerStats(spark: SparkSession, root: String, rel: String,
                  schema: StructType): Map[String, Map[String, ColStats]] =
  try {
    // the SESSION-merged hadoop conf: Spark's own write path builds its
    // job conf this way (sessionState.newHadoopConf overlays every SQL
    // conf entry), so a `spark.conf.set("parquet.statistics...")` that
    // affected the just-written footers is visible to the capture too —
    // the base sparkContext conf alone would miss it
    val conf = spark.sessionState.newHadoopConf()
    // When parquet truncates BINARY stats (parquet.statistics.truncate
    // .length below the no-truncation default), the stored string max is
    // an incremented prefix — a valid upper BOUND that need not exist in
    // the data. Mark string stats bound-only so exact MIN/MAX refuses
    // them while range pruning (sound against bounds) keeps working.
    val stringBoundsOnly = {
      val len = conf.getInt("parquet.statistics.truncate.length",
        Int.MaxValue)
      len > 0 && len != Int.MaxValue
    }
    val dir = new Path(root, rel)
    val fs = dir.getFileSystem(conf)
    val wanted: Map[String, String] = schema.fields
      .flatMap(f => statDomain(f.dataType).map(d => f.name -> d)).toMap
    // One footer open per file, parallelized ([[CommitLog.parMap]]): a
    // 10k-file compact must not pay 10k SERIAL driver-side opens (each
    // is a round-trip on an object store).
    val files = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val schemaFields = schema.fieldNames.toSet // hoisted: checked per chunk
    CommitLog.parMap(files.toSeq) { st =>
        val fileRel = rel + "/" + st.getPath.getName
        // per-FILE failure containment: one transient footer-read error
        // (an object-store 503 on one of 1000 files) must cost that one
        // file its stats — the "present, no stats" marker — not silently
        // discard the whole entry's capture forever (stats are only
        // taken at write time). NonFatal keeps interrupts fatal.
        if (wanted.isEmpty) fileRel -> Map.empty[String, ColStats]
        else try {
          // per column: (min, max) accumulated over row groups; a column
          // hit by one stat-less row group is dropped
          val acc = scala.collection.mutable.Map[String, (String, String)]()
          val dropped = scala.collection.mutable.Set[String]()
          val seen = scala.collection.mutable.Set[String]()
          // null counts accumulate independently of the min/max domain
          // rules: a column outside the comparable domains still prunes
          // IsNull/IsNotNull if its counts are complete. One stat-less
          // row group poisons the column's count (None).
          val nullAcc = scala.collection.mutable.Map[String, Option[Long]]()
          var rowCount = 0L
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try {
            // files Spark wrote under LEGACY datetime rebase carry
            // julian-calendar values for ancient dates/timestamps that
            // the proleptic-gregorian decode below would misplace —
            // refuse temporal stats for the whole file (marker keys are
            // what Spark's own reader keys its rebase decision on)
            val kv = r.getFooter.getFileMetaData.getKeyValueMetaData
            val legacyRebase = kv.containsKey("org.apache.spark.legacyDateTime") ||
              kv.containsKey("org.apache.spark.legacyINT96")
            r.getFooter.getBlocks.forEach { block =>
              rowCount += block.getRowCount
              block.getColumns.forEach { cc =>
                val path = cc.getPath.toDotString
                if (wanted.contains(path) || schemaFields.contains(path)) {
                  val s0 = cc.getStatistics
                  val cnt =
                    if (s0 != null && !s0.isEmpty && s0.isNumNullsSet)
                      Some(s0.getNumNulls)
                    else None
                  nullAcc(path) = (nullAcc.getOrElse(path, Some(0L)), cnt) match {
                    case (Some(a), Some(b)) => Some(a + b)
                    case _ => None
                  }
                }
                wanted.get(path).foreach { domain =>
                  seen += path
                  val s = cc.getStatistics
                  val logical = cc.getPrimitiveType.getLogicalTypeAnnotation
                  import org.apache.parquet.schema.LogicalTypeAnnotation
                  // for temporal domains the PHYSICAL match is not
                  // enough: the logical annotation must agree with the
                  // Spark type (utc-adjusted ↔ TimestampType, wall-clock
                  // ↔ NTZ) and carry a unit we scale exactly (MILLIS/
                  // MICROS; NANOS under nanosAsLong surfaces as LongType
                  // and takes the raw "long" path). INT96 timestamps
                  // have no ordered stats and fail the physical match.
                  def tsAnnotationOk(wantUtc: Boolean): Boolean =
                    logical match {
                      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                        t.isAdjustedToUTC == wantUtc &&
                          t.getUnit != LogicalTypeAnnotation.TimeUnit.NANOS
                      case _ => false
                    }
                  def decimalAnnotated: Boolean = logical.isInstanceOf[
                    LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
                  val ok = s != null && !s.isEmpty && s.hasNonNullValue &&
                    (cc.getPrimitiveType.getPrimitiveTypeName match {
                      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
                        domain match {
                          case "long" => true
                          case "ts" => !legacyRebase && tsAnnotationOk(true)
                          case "tsntz" => !legacyRebase && tsAnnotationOk(false)
                          case "date" => !legacyRebase && logical.isInstanceOf[
                            LogicalTypeAnnotation.DateLogicalTypeAnnotation]
                          case "dec" => decimalAnnotated
                          case _ => false
                        }
                      case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
                        domain == "dec" && decimalAnnotated
                      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
                        domain == "double"
                      case PrimitiveTypeName.BINARY => domain == "string"
                      case _ => false
                    })
                  val allNullChunk = s != null && !s.isEmpty &&
                    !s.hasNonNullValue && s.isNumNullsSet
                  if (allNullChunk) {
                    // the chunk holds NO values: its null count already
                    // accumulated above, and the other row groups' bounds
                    // stay valid — dropping the column here would disable
                    // value pruning for the file and (via statMinMax's
                    // no-stats refusal) metadata MIN/MAX for the whole
                    // table, because of one sparse row group
                  } else if (!ok) dropped += path
                  else {
                    // MILLIS-annotated values scale ×1000 into the micros
                    // domain — exact, no rounding either direction
                    val scale = logical match {
                      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                          if (domain == "ts" || domain == "tsntz") &&
                            t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
                        1000L
                      case _ => 1L
                    }
                    // decimals: unscaled footer ints / big-endian
                    // two's-complement FIXED bytes → plain value strings
                    // at the annotation's scale (exact, scale-free
                    // comparison downstream)
                    def decStr(v: Any): String = {
                      val sc = logical.asInstanceOf[
                          LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
                        .getScale
                      val unscaled = v match {
                        case b: org.apache.parquet.io.api.Binary =>
                          new java.math.BigInteger(b.getBytes)
                        case n: Number =>
                          java.math.BigInteger.valueOf(n.longValue)
                      }
                      new java.math.BigDecimal(unscaled, sc).toPlainString
                    }
                    val (mn, mx) = cc.getPrimitiveType.getPrimitiveTypeName match {
                      case _ if domain == "dec" =>
                        (decStr(s.genericGetMin), decStr(s.genericGetMax))
                      case PrimitiveTypeName.BINARY =>
                        (s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                           .toStringUsingUTF8,
                         s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                           .toStringUsingUTF8)
                      case _ if scale != 1L =>
                        (math.multiplyExact(
                           s.genericGetMin.asInstanceOf[Number].longValue, scale)
                           .toString,
                         math.multiplyExact(
                           s.genericGetMax.asInstanceOf[Number].longValue, scale)
                           .toString)
                      case _ =>
                        (s.genericGetMin.toString, s.genericGetMax.toString)
                    }
                    // float/double bounds can legitimately be
                    // Infinity/-Infinity (and NaN-poisoned writers can
                    // emit NaN); those are not decimal-comparable —
                    // drop the column for this file rather than throw
                    // at prune time (ADVICE r12).
                    if (domain == "double" && !(finite(mn) && finite(mx)))
                      dropped += path
                    else acc.get(path) match {
                      case None => acc(path) = (mn, mx)
                      case Some((m0, m1)) =>
                        val lo = if (cmpInDomain(mn, m0, domain) < 0) mn else m0
                        val hi = if (cmpInDomain(mx, m1, domain) > 0) mx else m1
                        acc(path) = (lo, hi)
                    }
                  }
                }
              }
            }
          } finally r.close()
          val withRange = (seen -- dropped).iterator
            .filter(acc.contains) // a column all-null in EVERY row group
                                  // has counts but no bounds: countOnly
            .map { c =>
            val (mn, mx) = acc(c)
            c -> ColStats(mn, mx, wanted(c),
              nulls = nullAcc.getOrElse(c, None), rows = Some(rowCount),
              bound = if (stringBoundsOnly && wanted(c) == "string")
                Some(true) else None)
          }.toMap
          // columns with NO usable min/max (all-null, or a domain we
          // don't compare) still ship their counts when complete —
          // that alone prunes IsNull/IsNotNull and, for all-null
          // files, every value predicate
          val countOnly = nullAcc.iterator.collect {
            case (c, Some(n)) if !withRange.contains(c) =>
              c -> ColStats("", "", "null",
                nulls = Some(n), rows = Some(rowCount))
          }.toMap
          fileRel -> (withRange ++ countOnly)
        } catch { case scala.util.control.NonFatal(_) =>
          fileRel -> Map.empty[String, ColStats]
        }
      }.toMap
  } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def finite(s: String): Boolean =
    s != null && s.nonEmpty &&
      !s.contains("Infinity") && !s.contains("NaN")

  /** Unsigned UTF-8 byte order — the comparator parquet used to compute
    * BINARY min/max. UTF-16 `String.compareTo` DISAGREES with it for
    * strings mixing supplementary code points (surrogates D800+ encode
    * code points ≥ U+10000, which sort ABOVE U+E000..U+FFFF in byte
    * order but below in code-unit order), so comparing stats with
    * compareTo can wrongly prune a file (ADVICE r12).
    */
  private def utf8Cmp(a: String, b: String): Int =
    bytesCmp(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
             b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def bytesCmp(x: Array[Byte], y: Array[Byte]): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[format] def cmpInDomain(a: String, b: String, domain: String): Int =
    domain match {
      case "string" => utf8Cmp(a, b)
      case _ => BigDecimal(a).compare(BigDecimal(b))
    }

  /** The filter value's comparison domain, or None → never prune.
    * Floats stay in FLOAT shortest-repr space (`Float.toString`, the
    * same serialization [[footerStats]] used for the stat bounds):
    * widening to double first (`1.1f.toDouble` = 1.100000023841858)
    * makes an equality on a value actually present in the file compare
    * ABOVE the file's max and wrongly prune it (ADVICE r12 high).
    */
  private def valueDomain(v: Any): Option[(BigDecimal, String)] = v match {
    case n: Byte => Some((BigDecimal(n.toInt), "num"))
    case n: Short => Some((BigDecimal(n.toInt), "num"))
    case n: Int => Some((BigDecimal(n), "num"))
    case n: Long => Some((BigDecimal(n), "num"))
    case n: Float if !n.isNaN && !n.isInfinite =>
      Some((BigDecimal(n.toString), "num"))
    case n: Double if !n.isNaN && !n.isInfinite => Some((BigDecimal(n), "num"))
    case d: java.math.BigDecimal => Some((BigDecimal(d), "num"))
    case d: BigDecimal => Some((d, "num"))
    case _ => None
  }

  /** A pushed temporal filter value decoded into its stat domain —
    * (numeric value, domain tag). Spark hands java.sql types with the
    * default session config and java.time types under
    * `spark.sql.datetime.java8API.enabled`; both decode through the
    * same catalyst util the scan itself uses, so the comparison space
    * is exactly the one the stored micros/days live in.
    */
  private def temporalDomain(v: Any): Option[(Long, String)] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case t: java.sql.Timestamp => Some((DateTimeUtils.fromJavaTimestamp(t), "ts"))
      case i: java.time.Instant => Some((DateTimeUtils.instantToMicros(i), "ts"))
      case l: java.time.LocalDateTime =>
        Some((DateTimeUtils.localDateTimeToMicros(l), "tsntz"))
      case d: java.sql.Date => Some((DateTimeUtils.fromJavaDate(d).toLong, "date"))
      case l: java.time.LocalDate => Some((l.toEpochDay, "date"))
      case _ => None
    }
  }

  // compare a filter value against one stat bound; None = incomparable
  // (including a bound that fails to parse — keep the file, never throw)
  private def cmp(v: Any, bound: String, typ: String): Option[Int] =
    try v match {
      case s: String if typ == "string" => Some(utf8Cmp(s, bound))
      case _ => temporalDomain(v) match {
        case Some((n, dom)) =>
          // a temporal value only ever compares within ITS domain —
          // ts vs tsntz (instant vs wall-clock) must stay incomparable
          if (dom == typ) Some(BigDecimal(n).compare(BigDecimal(bound)))
          else None
        case None => valueDomain(v).collect {
          case (bd, _) if typ == "long" || typ == "double" || typ == "dec" =>
            bd.compare(BigDecimal(bound))
        }
      }
    } catch { case _: NumberFormatException => None }

  /** The attribute of a value-comparison filter (ones a null never
    * satisfies), or None for everything else. */
  private def valueAttr(f: Filter): Option[String] = f match {
    case EqualTo(a, _) => Some(a)
    case In(a, _) => Some(a)
    case GreaterThan(a, _) => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _) => Some(a)
    case LessThanOrEqual(a, _) => Some(a)
    case StringStartsWith(a, _) => Some(a)
    case _ => None
  }

  /** Every row of the file is null in this column (counts complete). */
  private def allNull(s: ColStats): Boolean =
    s.nulls.isDefined && s.rows.isDefined && s.nulls == s.rows &&
      s.rows.exists(_ > 0)

  /** True iff `filter` provably matches NO row of a file with `stats`.
    * Unknown columns/ops/domains → false (keep the file).
    */
  def excludes(stats: Map[String, ColStats], filter: Filter): Boolean = {
    def st(a: String) = stats.get(a)
    filter match {
      // null-count pruning: a value predicate matches NOTHING in an
      // all-null file (SQL three-valued logic: null cmp v is never true)
      case f if valueAttr(f).exists(a => st(a).exists(allNull)) => true
      case IsNull(a) => st(a).exists(_.nulls.contains(0L))
      case IsNotNull(a) => st(a).exists(allNull)
      case EqualTo(a, v) => st(a).exists(s =>
        cmp(v, s.min, s.typ).exists(_ < 0) ||
          cmp(v, s.max, s.typ).exists(_ > 0))
      case In(a, vs) => vs != null && vs.nonEmpty &&
        vs.forall(v => excludes(stats, EqualTo(a, v)))
      case GreaterThan(a, v) => st(a).exists(s =>
        cmp(v, s.max, s.typ).exists(_ >= 0))
      case GreaterThanOrEqual(a, v) => st(a).exists(s =>
        cmp(v, s.max, s.typ).exists(_ > 0))
      case LessThan(a, v) => st(a).exists(s =>
        cmp(v, s.min, s.typ).exists(_ <= 0))
      case LessThanOrEqual(a, v) => st(a).exists(s =>
        cmp(v, s.min, s.typ).exists(_ < 0))
      case StringStartsWith(a, p) => p != null && st(a).exists { s =>
        s.typ == "string" && {
          // byte space throughout (see utf8Cmp): every value < p (max
          // too small), or every value already beyond any p-prefixed
          // string (min's first |bytes(p)| BYTES compare above p —
          // char-based take could split a surrogate pair)
          val utf8 = java.nio.charset.StandardCharsets.UTF_8
          val pb = p.getBytes(utf8)
          val minB = s.min.getBytes(utf8)
          utf8Cmp(s.max, p) < 0 ||
            bytesCmp(java.util.Arrays.copyOf(
              minB, math.min(minB.length, pb.length)), pb) > 0
        }
      }
      case And(l, r) => excludes(stats, l) || excludes(stats, r)
      case Or(l, r) => excludes(stats, l) && excludes(stats, r)
      case _ => false
    }
  }
}
