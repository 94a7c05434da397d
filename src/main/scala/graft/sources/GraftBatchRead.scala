package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.GraftTable
import graft.core.GraftTable.{ColRange, ColStats, Manifest}

/** BATCH READ of a GraftTable via `format("graft")` — the batch half of
  * the DataSource registration ([[GraftStreamSource]] carries the
  * streaming half and advertises `BATCH_READ`):
  *
  * {{{
  *   spark.read.format("graft").load(path)                        // head snapshot
  *   spark.read.format("graft").option("versionAsOf", 3).load(path)
  *   spark.read.format("graft").option("timestampAsOf", "2026-01-01 00:00:00").load(path)
  * }}}
  *
  * The scale story: a load pins ONE manifest ([[resolveManifest]]) and
  * reads it exactly as the Scala API does — a DSv2 relation whose scan
  * is [[GraftBatch]] ([[GraftTable.readFileSubset]]). Catalyst pushes
  * the query's filters into the scan builder, and the per-file
  * [min,max,nulls] stats and bloom filters prove files clean BEFORE any
  * task is planned — stats/bloom file-skipping happens for every
  * consumer (SQL, DataFrame, TVF-over-this) with no rule install and
  * no API opt-in, Delta's `TahoeFileIndex` shape re-derived. Renamed
  * and deletion-vectored files decode inside the reader factory under
  * Spark's own vectorized parquet readers, so one dirty file never
  * changes how the clean ones read. No directory listing ever happens
  * (the manifest IS the listing — on an object store at 100 TB that is
  * the difference between one metadata read and a million S3 LISTs).
  *
  * This object keeps the option resolution and the `sources.Filter`
  * translators the scan builder, `SupportsDelete` and the split planner
  * consume.
  *
  * Reference analogue: the dialect-native table access every model
  * uses (`models/intermediate/stg_dim_customer.sql:71`) — reading a
  * managed table must not require knowing how its files are laid out. */
object GraftBatchRead {

  /** Pin the manifest the options select: `versionAsOf` wins, then
    * `timestampAsOf` (epoch micros or `yyyy-MM-dd HH:mm:ss[.ffffff]`
    * UTC — the [[graft.plans.GraftSql]] literal convention), else the
    * head. */
  def resolveManifest(path: String, options: CaseInsensitiveStringMap): Manifest = {
    val ver = Option(options.get("versionAsOf"))
    val ts = Option(options.get("timestampAsOf"))
    require(ver.isEmpty || ts.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    ver.map(v => GraftTable.manifestAt(path, v.toLong))
      .orElse(ts.map(t => GraftTable.manifestAsOf(path, tsMicros(t))))
      .orElse(GraftTable.currentManifest(path))
      .getOrElse(throw new IllegalArgumentException(s"'$path' is not a GraftTable"))
  }

  private[graft] def tsMicros(s: String): Long = {
    val t = s.trim
    if (t.forall(_.isDigit)) t.toLong
    else {
      val ldt = java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000
    }
  }

  /** Conservative V1-filter → Column translation — what the catalog's
    * `SupportsDelete` turns pushed DELETE filters into; untranslatable
    * shapes return None and [[graft.catalog.GraftNamedTable.canDeleteWhere]]
    * refuses them. */
  private[graft] def v1FilterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case And(l, r) => for (lc <- v1FilterToColumn(l); rc <- v1FilterToColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- v1FilterToColumn(l); rc <- v1FilterToColumn(r)) yield lc || rc
    case Not(c) => v1FilterToColumn(c).map(!_)
    case _ => None
  }

  /** The manifest-stats keep test over pushed V1 filters — ranges
    * probe [min,max], point probes additionally hit the blooms (one
    * lazy probe-hash job per IN column, paid only when some file
    * actually carries a bloom), fed from the `sources.Filter` shapes a
    * ScanBuilder receives. `statsOf` looks up a file's per-column stats
    * (empty when none are known: the file is kept); it is never called
    * when no filter yields a range or point probe. Conservative:
    * anything unexpected keeps everything (stats only ever PRUNE). Used
    * by the [[GraftBatch]] split planner, the scan's statistics and
    * [[graft.plans.GraftPrune]]'s plain-parquet rule, whose files are
    * paths. */
  private[graft] def keepByV1Filters[T](spark: SparkSession, logical: StructType,
      files: Seq[T], filters: Array[Filter])(statsOf: T => Map[String, ColStats]): Seq[T] = {
    try {
      val ranges = filters.toSeq.flatMap(v1Ranges)
      val points = filters.toSeq.flatMap(v1Points(logical, _))
      if (ranges.isEmpty && points.isEmpty) return files
      val hashCache = scala.collection.mutable.HashMap.empty[String, Any => Seq[Long]]
      def hashesFor(c: String, vs: Seq[Any]): Any => Seq[Long] =
        hashCache.getOrElseUpdate(c, {
          lazy val h = GraftTable.probeHashes(spark, logical(c).dataType, vs, GraftTable.BloomK)
          v => h(v)
        })
      files.filter { f =>
        val stats = statsOf(f)
        GraftTable.mayMatch(stats, ranges) && points.forall { case (c, vs) =>
          GraftTable.mayContainIn(stats, c, vs, hashesFor(c, vs)) }
      }
    } catch { case scala.util.control.NonFatal(_) => files }
  }

  private[graft] def v1Ranges(f: Filter): Seq[ColRange] = f match {
    case EqualTo(a, v) if v != null => Seq(ColRange(a, Some(v), Some(v)))
    case GreaterThan(a, v) if v != null => Seq(ColRange(a, lo = Some(v)))
    case GreaterThanOrEqual(a, v) if v != null => Seq(ColRange(a, lo = Some(v)))
    case LessThan(a, v) if v != null => Seq(ColRange(a, hi = Some(v)))
    case LessThanOrEqual(a, v) if v != null => Seq(ColRange(a, hi = Some(v)))
    case And(l, r) => v1Ranges(l) ++ v1Ranges(r)
    case _ => Nil
  }

  private[graft] def v1Points(logical: StructType, f: Filter): Seq[(String, Seq[Any])] = f match {
    case EqualTo(a, v) if v != null && logical.fieldNames.contains(a) =>
      Seq(a -> Seq(v))
    case In(a, vs) if logical.fieldNames.contains(a) =>
      val nn = vs.toSeq.filter(_ != null)
      if (nn.isEmpty) Nil else Seq(a -> nn)
    case And(l, r) => v1Points(logical, l) ++ v1Points(logical, r)
    case _ => Nil
  }
}
