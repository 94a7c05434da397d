package graft

import java.io.File
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TableIO

/** [[TableIO.readParquet]]: the schema of a plain-parquet read comes from
  * one footer on the driver — no Spark job before the action — and it is
  * exactly the schema Spark's own inference returns. */
class TableIOSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tio").toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def rows: DataFrame = spark.range(0, 60).select(
    col("id").cast("int").as("k"), concat(lit("v"), col("id")).as("v"),
    (lit(2020) + col("id") % 3).as("year"),
    date_format(date_add(lit("2024-01-01").cast("date"), (col("id") % 2).cast("int")),
      "yyyy-MM-dd").as("day"))

  private def flatTable(): String = {
    val p = tmp() + "/flat"
    rows.drop("year", "day").repartition(3).write.parquet(p)
    p
  }

  private def yearTable(): String = {
    val p = tmp() + "/by_year"
    rows.drop("day").write.partitionBy("year").parquet(p)
    p
  }

  /** The helper's schema equals Spark's inferred one, field for field
    * (types, nullability, metadata, column order). */
  private def sameAsSpark(paths: String*): Unit = {
    val ours = TableIO.readParquet(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema == theirs.schema)
    assert(canon(ours) == canon(theirs))
  }

  test("TableIO.read of a flat and a year-partitioned table starts no Spark job") {
    val (flat, byYear) = (flatTable(), yearTable())
    // the counter sees the inference probe the helper removes
    assert(jobsDuring(spark.read.parquet(flat).schema: Unit) >= 1)
    assert(jobsDuring(TableIO.read(spark, flat).schema: Unit) == 0)
    assert(jobsDuring(TableIO.read(spark, byYear).schema: Unit) == 0)
  }

  test("readParquet schema equals Spark's: flat, partitioned, empty frame, merged") {
    sameAsSpark(flatTable())
    sameAsSpark(yearTable())
    // two partition levels: an int and a date-shaped string, whose types
    // Spark infers from the directory names
    val twoLevel = tmp() + "/two_level"
    rows.write.partitionBy("year", "day").parquet(twoLevel)
    sameAsSpark(twoLevel)
    assert(TableIO.readParquet(spark, twoLevel).schema("day").dataType == DateType)
    // an empty frame still writes one schema-bearing part file
    val empty = tmp() + "/empty"
    rows.limit(0).write.parquet(empty)
    sameAsSpark(empty)
    assert(TableIO.readParquet(spark, empty).columns.toSeq == Seq("k", "v", "year", "day"))
    // explicit file paths (the convert-in-place shape)
    val files = new File(flatTable()).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.toString).toSeq
    sameAsSpark(files: _*)
    // mergeSchema reads every footer: files with different columns union
    val merged = tmp() + "/merged"
    rows.select("k", "v").write.parquet(merged + "/part=a")
    rows.select("k", "year").write.parquet(merged + "/part=b")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      sameAsSpark(merged)
      assert(TableIO.readParquet(spark, merged).columns.toSet == Set("k", "v", "year", "part"))
    }
  }

  test("readParquet schema equals Spark's on non-Spark files, nanos under nanosAsLong") {
    // a parquet-mr file with a TIMESTAMP(NANOS) column and no Spark
    // schema in its footer: the footer's own types convert
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val nanos = tmp() + "/nanos"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(nanos + "/part-0.parquet"))
      .withType(schema).build()
    try (0 until 5).foreach { i =>
      w.write(new SimpleGroupFactory(schema).newGroup().append("id", i.toLong)
        .append("ts", 1700000000000000000L + i))
    } finally w.close()
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      sameAsSpark(nanos)
      assert(TableIO.readParquet(spark, nanos).schema("ts").dataType == LongType)
    }
    // the testdata star schema ($GRAFT_TESTDATA, default ~/testdata), when present
    val sf = sys.env.getOrElse("GRAFT_TESTDATA", sys.props("user.home") + "/testdata") +
      "/sf0.001"
    if (new File(sf).isDirectory)
      withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
        graft.sources.Tables.All.filter(t => new File(s"$sf/$t.parquet").exists)
          .foreach(t => sameAsSpark(s"$sf/$t.parquet"))
      }
  }

  test("a directory with no data file still raises Spark's own error") {
    def sparkError(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    val bare = tmp() + "/bare"
    new File(bare).mkdirs()
    // only hidden / marker files: nothing Spark would read
    new File(bare, "_SUCCESS").createNewFile()
    new File(bare, ".part-0.parquet.crc").createNewFile()
    assert(sparkError(TableIO.readParquet(spark, bare)) == sparkError(spark.read.parquet(bare)))
    val missing = tmp() + "/missing"
    assert(sparkError(TableIO.readParquet(spark, missing)) ==
      sparkError(spark.read.parquet(missing)))
  }

  test("no plain-parquet read in src/main bypasses TableIO.readParquet") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    val read = """\.read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r
    def sources(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).toSeq
        .filterNot(d => d.isDirectory && d.getName == "tools").flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // the helper's own body: from its `def` to the method's closing brace
    def helperLines(lines: Seq[String]): Range = {
      val start = lines.indexWhere(_.contains("def readParquet("))
      if (start < 0) 0 until 0
      else start to lines.indexWhere(_ == "  }", start)
    }
    val strays = sources(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val lines = text.split("\n", -1).toSeq
      val allowed = if (f.getName == "TableIO.scala") helperLines(lines) else 0 until 0
      read.findAllMatchIn(text).map(m => text.substring(0, m.start).count(_ == '\n'))
        .filterNot(allowed.contains)
        .map(i => s"${f.getPath}:${i + 1}: ${lines(i).trim}")
    }
    assert(strays.isEmpty,
      "plain-parquet reads must go through TableIO.readParquet:\n" + strays.mkString("\n"))
  }
}
