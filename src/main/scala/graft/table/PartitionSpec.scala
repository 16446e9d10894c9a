package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One field of a [[SnapshotLog]] table's HIDDEN partition spec:
  * `transform(source)` decides which physical partition every row lands
  * in at write time, and the manifest records each data file's partition
  * tuple — so reads prune on predicates over the SOURCE column with no
  * knowledge of the layout (Iceberg-style hidden partitioning: users
  * query `ts`, never a derived `ts_day` column they must remember to
  * filter on; a forgotten derived-column filter is the classic
  * full-scan foot-gun of Hive-style explicit partitioning).
  *
  * Transforms (the value is always recorded as a STRING in the
  * manifest, computed by [[writeExpr]]):
  *  - `identity`  — the column value itself (numeric or string columns);
  *  - `hour`      — epoch hour of a timestamp column;
  *  - `day`       — epoch day of a timestamp/date column;
  *  - `month`     — epoch month of a timestamp/date column (calendar
  *    months are non-uniform — bound math uses real month-start
  *    instants, leap years included);
  *  - `year`      — epoch year (year − 1970), same calendar-exact
  *    bound math as `month`;
  *  - `bucket[N]` — `xxhash64(source) mod N` (the hash Spark's own
  *    `xxhash64` computes, so write path and read planning agree by
  *    construction); prunes point lookups and key joins, composes with
  *    per-file blooms;
  *  - `truncate[W]` — W-wide numeric bins (`v - v mod W`) or W-char
  *    string prefixes.
  *
  * Pruning contract (the mirror of [[ColRange]]'s): [[mayMatch]] is
  * true unless NO row of a file with recorded value `v` can satisfy
  * `source BETWEEN lo AND hi` — absence of a recorded tuple never
  * prunes, so files written before the spec existed (partition
  * evolution from an unpartitioned table) are always kept.
  * [[containedIn]] is true only when EVERY row of such a file provably
  * satisfies the predicate — rows in a non-null partition dir are
  * non-null in the source column by construction (NULLs land in the
  * Hive default partition), so partition containment needs no separate
  * null-count proof the way footer-stats containment does.
  *
  * Scale: the tuple test is driver-side manifest arithmetic — O(files)
  * string compares per query, zero I/O. At 100 TB with day + bucket
  * partitioning, a one-day one-key query plans to a handful of files
  * from ONE manifest GET, before footer stats or blooms are even
  * consulted.
  */
final case class PartitionField(source: String, transform: String) {
  import PartitionField._

  private val (kind, param): (String, Int) = transform match {
    case "identity"    => (Identity, 0)
    case "hour"        => (Hour, 0)
    case "day"         => (Day, 0)
    case "month"       => (Month, 0)
    case "year"        => (Year, 0)
    case BucketRe(n)   => (Bucket, n.toInt)
    case TruncateRe(w) => (Truncate, w.toInt)
    case other => throw new IllegalArgumentException(
      s"unknown partition transform '$other' " +
        "(identity | hour | day | month | year | bucket[N] | truncate[W])")
  }
  require(kind != Bucket || param > 0, s"bucket count must be positive: $transform")
  require(kind != Truncate || param > 0, s"truncate width must be positive: $transform")

  /** The string-valued partition expression for `df`'s schema; throws
    * on a missing source column or a type the transform doesn't model —
    * at STAGE time, before any data writes. */
  private[table] def writeExpr(df: DataFrame): Column = {
    val dt = df.schema(source).dataType
    val c = col(source)
    kind match {
      case Identity => dt match {
        case ByteType | ShortType | IntegerType | LongType | StringType =>
          c.cast("string")
        case other => throw new IllegalArgumentException(
          s"identity($source) partitions integral/string columns, got ${other.simpleString}")
      }
      case Hour => dt match {
        // epoch hour — tz-free by construction (pure epoch arithmetic,
        // and NTZ field extraction carries no timezone)
        case TimestampType =>
          floor(c.cast("double") / 3600d).cast("long").cast("string")
        case TimestampNTZType =>
          (datediff(c.cast("date"), to_date(lit("1970-01-01")))
            .cast("long") * lit(24L) +
            org.apache.spark.sql.functions.hour(c)).cast("string")
        case other => throw new IllegalArgumentException(
          s"hour($source) needs a timestamp column, got ${other.simpleString}")
      }
      case Day => dt match {
        // timestamp→double is the seconds-with-fraction cast; floor
        // handles pre-epoch instants correctly (toward -inf)
        case TimestampType =>
          floor(c.cast("double") / 86400d).cast("long").cast("string")
        case TimestampNTZType =>
          // NTZ refuses the double cast; its date IS its epoch day
          // (timezone-less, matching ColRange.num's UTC reading)
          datediff(c.cast("date"), to_date(lit("1970-01-01")))
            .cast("long").cast("string")
        case DateType =>
          datediff(c, to_date(lit("1970-01-01"))).cast("long").cast("string")
        case other => throw new IllegalArgumentException(
          s"day($source) needs a timestamp/date column, got ${other.simpleString}")
      }
      case Month => dt match {
        // epoch months: (year-1970)·12 + month-1. year()/month() read
        // TimestampType under the SESSION timezone, but the pruning
        // bound math (epochMonth/monthStartMicros) is fixed UTC — and
        // SnapshotLog is a library, so nothing may assume the session
        // is UTC-pinned. Derive the UTC calendar date tz-independently
        // from the epoch day (the double cast is the timezone-free
        // seconds-since-epoch reading, same as the day transform) and
        // extract fields from THAT date, which is tz-free.
        case TimestampType =>
          val utcDate = date_add(to_date(lit("1970-01-01")),
            floor(c.cast("double") / 86400d).cast("int"))
          ((org.apache.spark.sql.functions.year(utcDate) - lit(1970)) *
            lit(12) +
            org.apache.spark.sql.functions.month(utcDate) - lit(1))
            .cast("long").cast("string")
        // field extraction on NTZ/DATE carries no timezone to begin with
        case TimestampNTZType | DateType =>
          ((org.apache.spark.sql.functions.year(c) - lit(1970)) * lit(12) +
            org.apache.spark.sql.functions.month(c) - lit(1))
            .cast("long").cast("string")
        case other => throw new IllegalArgumentException(
          s"month($source) needs a timestamp/date column, got ${other.simpleString}")
      }
      case Year => dt match {
        // epoch years (year - 1970), tz-free via the same UTC epoch-day
        // derivation as month
        case TimestampType =>
          val utcDate = date_add(to_date(lit("1970-01-01")),
            floor(c.cast("double") / 86400d).cast("int"))
          (org.apache.spark.sql.functions.year(utcDate) - lit(1970))
            .cast("long").cast("string")
        case TimestampNTZType | DateType =>
          (org.apache.spark.sql.functions.year(c) - lit(1970))
            .cast("long").cast("string")
        case other => throw new IllegalArgumentException(
          s"year($source) needs a timestamp/date column, got ${other.simpleString}")
      }
      case Bucket => pmod(xxhash64(c), lit(param.toLong)).cast("string")
      case Truncate => dt match {
        case StringType => substring(c, 1, param)
        case ByteType | ShortType | IntegerType | LongType =>
          (c - pmod(c, lit(param.toLong))).cast("long").cast("string")
        case other => throw new IllegalArgumentException(
          s"truncate($source) partitions integral/string columns, got ${other.simpleString}")
      }
    }
  }

  /** Could any row of a file whose recorded partition value is `v`
    * satisfy `source BETWEEN lo AND hi`? False only on a proof of
    * emptiness. `dt` is the source column's declared type when the
    * manifest carries a schema (bucket hashing and identity comparison
    * need it; absence degrades to no pruning where it matters). */
  private[table] def mayMatch(v: String, lo: Any, hi: Any,
      dt: Option[DataType]): Boolean = {
    if (v == NullPartition) {
      // Spark's dynamic-partition write maps BOTH NULL and the EMPTY
      // STRING partition-expression values into this one directory. A
      // NULL source never matches a BETWEEN, but a string-sourced
      // identity/truncate file under this tuple can ALSO hold rows
      // whose source is "" — those are prunable only when the predicate
      // provably excludes "" ("" is the minimal string, so it lies in
      // [lo, hi] iff lo == ""; hi >= "" always). day/month/bucket and
      // numeric identity/truncate can never write "" from a non-null
      // row, so NULL-only reasoning stays exact for them. With dt
      // unknown, lo.toString.isEmpty is still sound: a numeric bound
      // renders non-empty (→ prune is safe either way) and a string
      // bound compares exactly.
      return (kind == Identity || kind == Truncate) &&
        dt.forall(_ == StringType) && lo.toString.isEmpty
    }
    kind match {
      case Identity => dt match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          BigDecimal(v) >= ColRange.num(lo) && BigDecimal(v) <= ColRange.num(hi)
        case Some(StringType) =>
          val u = UTF8String.fromString(v)
          u.compareTo(UTF8String.fromString(lo.toString)) >= 0 &&
            u.compareTo(UTF8String.fromString(hi.toString)) <= 0
        case _ => true // unknown type: never prune
      }
      case Hour =>
        val h = BigDecimal(v)
        h >= epochHour(boundMicros(lo)) && h <= epochHour(boundMicros(hi))
      case Day =>
        val d = BigDecimal(v)
        d >= epochDay(boundMicros(lo)) && d <= epochDay(boundMicros(hi))
      case Month =>
        val m = BigDecimal(v)
        m >= epochMonth(boundMicros(lo)) && m <= epochMonth(boundMicros(hi))
      case Year =>
        val y = BigDecimal(v)
        y >= epochYear(boundMicros(lo)) && y <= epochYear(boundMicros(hi))
      case Bucket =>
        // only a point predicate pins a bucket; ranges keep every file,
        // and an uncoercible key degrades to no pruning (bucketOf=None)
        !sameKey(lo, hi) ||
          dt.forall(t => bucketOf(lo, t).forall(b => BigDecimal(v) == b))
      case Truncate => dt match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          val fileLo = BigDecimal(v)
          fileLo <= ColRange.num(hi) && fileLo + (param - 1) >= ColRange.num(lo)
        case Some(StringType) =>
          // the file holds strings with prefix v: the prefix set
          // [v, v + U+10FFFF…) meets [lo, hi] iff v <= hi and lo either
          // precedes v or extends it
          val u = UTF8String.fromString(v)
          val loS = lo.toString
          u.compareTo(UTF8String.fromString(hi.toString)) <= 0 &&
            (UTF8String.fromString(loS).compareTo(u) <= 0 || loS.startsWith(v))
        case _ => true
      }
    }
  }

  /** Does EVERY row of a file with recorded value `v` satisfy
    * `source BETWEEN lo AND hi`? (The metadata-only drop gate for
    * partition-aligned deletes.) Non-null by construction — see the
    * class doc. Conservative false wherever a proof is not cheap. */
  private[table] def containedIn(v: String, lo: Any, hi: Any,
      dt: Option[DataType]): Boolean = {
    if (v == NullPartition) return false
    kind match {
      case Identity => dt match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          BigDecimal(v) >= ColRange.num(lo) && BigDecimal(v) <= ColRange.num(hi)
        case Some(StringType) =>
          val u = UTF8String.fromString(v)
          u.compareTo(UTF8String.fromString(lo.toString)) >= 0 &&
            u.compareTo(UTF8String.fromString(hi.toString)) <= 0
        case _ => false
      }
      case Day =>
        // all instants of day d: [d·86400e6, (d+1)·86400e6) micros.
        // Conservative by one day for DATE-typed columns (whose values
        // are exactly midnight) — a missed metadata drop, never a wrong
        // row.
        val d = BigDecimal(v)
        boundMicros(lo) <= d * MicrosPerDay &&
          (d + 1) * MicrosPerDay - 1 <= boundMicros(hi)
      case Hour =>
        // all instants of hour h: [h·3600e6, (h+1)·3600e6) micros
        val h = BigDecimal(v)
        boundMicros(lo) <= h * MicrosPerHour &&
          (h + 1) * MicrosPerHour - 1 <= boundMicros(hi)
      case Month =>
        // calendar months are non-uniform: bounds come from real
        // month-start instants, not a fixed unit width
        val m = v.toLong
        boundMicros(lo) <= monthStartMicros(m) &&
          monthStartMicros(m + 1) - 1 <= boundMicros(hi)
      case Year =>
        // calendar years are non-uniform too (leap years): real
        // year-start instants bound the containment proof
        val y = v.toLong
        boundMicros(lo) <= yearStartMicros(y) &&
          yearStartMicros(y + 1) - 1 <= boundMicros(hi)
      case Bucket => false   // a hash bucket never aligns with a range
      case Truncate => dt match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          val fileLo = BigDecimal(v)
          ColRange.num(lo) <= fileLo && fileLo + (param - 1) <= ColRange.num(hi)
        case _ => false // string prefixes have no greatest member
      }
    }
  }

  /** The bucket a point key lands in — evaluated through Spark's own
    * XxHash64 expression on a literal, so this is the SAME hash the
    * write expression computed, by construction rather than by a
    * reimplementation that could drift. Numeric keys widen/narrow to
    * the declared type only when value-preserving; any mismatch that
    * `Literal.create` would reject returns None, and the caller keeps
    * the file — "absence degrades to no pruning", never a planning-time
    * crash. */
  private[table] def bucketOf(key: Any, dt: DataType): Option[BigDecimal] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val coerced: Any = (key, dt) match {
        case (n: Number, ByteType) if n.longValue() == n.byteValue().toLong =>
          n.byteValue()
        case (n: Number, ShortType) if n.longValue() == n.shortValue().toLong =>
          n.shortValue()
        case (n: Number, IntegerType) if n.longValue() == n.intValue().toLong =>
          n.intValue()
        case (n: Number, LongType)  => n.longValue()
        case (s, StringType)        => s.toString
        case other                  => other._1
      }
      val h = new XxHash64(Seq(Literal.create(coerced, dt)), 42L)
        .eval(null).asInstanceOf[Long]
      Some(BigDecimal(((h % param) + param) % param))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Some(bucket count) iff this is a bucket transform — the
    * storage-partitioned-join surface ([[LogBatchScan]]) keys on it. */
  /** This field as the DSv2 connector transform — ONE rendering shared
    * by DESCRIBE surfaces ([[graft.table.GraftTableCatalog]]
    * partitioning), the native write's required distribution and the
    * scan's key-grouped reporting, so every consumer resolves the same
    * function through the catalog ([[GraftTableCatalog.Functions]]).
    * Truncate carries its WIDTH as a literal argument (bucket-style) —
    * the function needs it to bind. */
  private[table] def v2Transform: org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    kind match {
      case PartitionField.Identity => Expressions.identity(source)
      case PartitionField.Hour     => Expressions.hours(source)
      case PartitionField.Day      => Expressions.days(source)
      case PartitionField.Month    => Expressions.months(source)
      case PartitionField.Year     => Expressions.years(source)
      case PartitionField.Bucket   => Expressions.bucket(param, source)
      case PartitionField.Truncate => Expressions.apply("truncate",
        Expressions.literal(param), Expressions.column(source))
    }
  }

  /** Decode this field's recorded partition-tuple STRING back to the
    * typed key value the catalog function produces for the same row —
    * what key-grouped scan reporting feeds Spark as the group key. None
    * when the shape isn't soundly decodable (an identity/truncate over
    * a type the spec machinery doesn't model). `colType` is the source
    * column's declared type (identity/truncate keys take it). */
  private[table] def keyDecoder(colType: Option[DataType])
      : Option[String => Any] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    kind match {
      case PartitionField.Bucket => Some(v => v.toInt)
      case PartitionField.Hour | PartitionField.Day |
           PartitionField.Month | PartitionField.Year =>
        Some(v => v.toLong)
      case PartitionField.Identity => colType.collect {
        case ByteType    => (v: String) => v.toByte
        case ShortType   => (v: String) => v.toShort
        case IntegerType => (v: String) => v.toInt
        case LongType    => (v: String) => v.toLong
        case StringType  => (v: String) => UTF8String.fromString(v)
      }
      case PartitionField.Truncate => colType.collect {
        // integral truncates render (and bind) as LONG; string keeps
        // the prefix
        case ByteType | ShortType | IntegerType | LongType =>
          (v: String) => v.toLong
        case StringType => (v: String) => UTF8String.fromString(v)
      }
    }
  }

  private def sameKey(lo: Any, hi: Any): Boolean =
    lo == hi || (try ColRange.num(lo) == ColRange.num(hi)
    catch { case _: NumberFormatException => false })
}

object PartitionField {
  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncateRe = """truncate\[(\d+)\]""".r
  private val Identity = "identity"
  private val Hour = "hour"
  private val Day = "day"
  private val Month = "month"
  private val Year = "year"
  private val Bucket = "bucket"
  private val Truncate = "truncate"
  private val MicrosPerDay = BigDecimal(86400000000L)
  private val MicrosPerHour = BigDecimal(3600000000L)

  /** Epoch day of a time bound already normalized to micros — floor
    * division, correct for pre-epoch instants. */
  private def epochDay(micros: BigDecimal): BigDecimal =
    (micros / MicrosPerDay).setScale(0, BigDecimal.RoundingMode.FLOOR)

  /** A time bound as epoch MICROS regardless of its type. CRITICAL:
    * [[ColRange.num]] returns epoch DAYS for date-typed values (the
    * unit DATE footer stats are recorded in) — feeding that to
    * [[epochDay]] would divide days by micros-per-day and collapse
    * every date bound to day 0, silently pruning matching files. A
    * date bound converts as its midnight instant, exactly how Spark's
    * residual `BETWEEN` casts date literals against a timestamp
    * column. */
  /** Epoch month ((year-1970)·12 + month-1, UTC) of a micros bound. */
  private def epochMonth(micros: BigDecimal): BigDecimal = {
    val day = epochDay(micros).toLong
    val d = java.time.LocalDate.ofEpochDay(day)
    BigDecimal((d.getYear - 1970) * 12 + d.getMonthValue - 1)
  }

  /** First instant of epoch month `m`, as micros (UTC). */
  private def monthStartMicros(m: Long): BigDecimal = {
    val y = 1970 + Math.floorDiv(m, 12L).toInt
    val mo = Math.floorMod(m, 12L).toInt + 1
    BigDecimal(java.time.LocalDate.of(y, mo, 1).toEpochDay) * MicrosPerDay
  }

  /** Epoch hour of a micros bound — floor division like [[epochDay]]. */
  private def epochHour(micros: BigDecimal): BigDecimal =
    (micros / MicrosPerHour).setScale(0, BigDecimal.RoundingMode.FLOOR)

  /** Epoch year (year − 1970, UTC calendar) of a micros bound. */
  private def epochYear(micros: BigDecimal): BigDecimal = {
    val day = epochDay(micros).toLong
    BigDecimal(java.time.LocalDate.ofEpochDay(day).getYear - 1970)
  }

  /** First instant of epoch year `y`, as micros (UTC). */
  private def yearStartMicros(y: Long): BigDecimal =
    BigDecimal(java.time.LocalDate.of(1970 + y.toInt, 1, 1).toEpochDay) *
      MicrosPerDay

  private def boundMicros(a: Any): BigDecimal = a match {
    case d: java.sql.Date       => BigDecimal(d.toLocalDate.toEpochDay) * MicrosPerDay
    case d: java.time.LocalDate => BigDecimal(d.toEpochDay) * MicrosPerDay
    case other                  => ColRange.num(other)
  }

  /** The directory value Spark writes for a NULL partition expression. */
  private[table] val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  def identity(source: String): PartitionField = PartitionField(source, "identity")
  def hour(source: String): PartitionField = PartitionField(source, "hour")
  def day(source: String): PartitionField = PartitionField(source, "day")
  def month(source: String): PartitionField = PartitionField(source, "month")
  def year(source: String): PartitionField = PartitionField(source, "year")
  def bucket(source: String, n: Int): PartitionField =
    PartitionField(source, s"bucket[$n]")
  def truncate(source: String, w: Int): PartitionField =
    PartitionField(source, s"truncate[$w]")
}
