package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  /** `x` (maps, sequences, numbers, strings) as one line of JSON. */
  def apply(x: AnyRef): String = org.json4s.jackson.Serialization.write(x)
}

object Stats {
  /** Mean of `xs`; 0 for no samples. */
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median of `xs`; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Digest {
  /** Order-independent content digest: row count and the sum of a 64-bit
    * hash of each row over its columns in name order. Floating columns
    * are rounded to 6 places first, so a sum computed in a different task
    * order cannot flip the last bit. */
  def of(df: DataFrame, skip: Set[String] = Set.empty): (Long, String) = {
    val cols = df.schema.fields.filterNot(f => skip(f.name)).sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols.toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** A directory walk: every regular file with its size and mtime. */
final case class Walk(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.values.map(_._1).sum
  def count: Int = files.size
  /** Bytes of files present here but absent (or changed) in `before`. */
  def newBytes(before: Walk): Long =
    files.collect { case (p, v) if !before.files.get(p).contains(v) => v._1 }.sum
  def under(prefix: String): Walk = Walk(files.filter(_._1.startsWith(prefix)))
}

object Walk {
  def apply(root: File): Walk = {
    val b = Map.newBuilder[String, (Long, Long)]
    def go(f: File, rel: String): Unit =
      Option(f.listFiles).getOrElse(Array.empty[File]).foreach { c =>
        val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
        if (c.isDirectory) go(c, r) else b += r -> ((c.length, c.lastModified))
      }
    go(root, "")
    Walk(b.result())
  }
}
