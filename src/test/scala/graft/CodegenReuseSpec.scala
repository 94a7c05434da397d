package graft

import org.apache.spark.graftspec.CodegenCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.northwind.NorthwindWarehouse

/** Every generated class compiles once per JVM: the codegen cache holds a
  * build's working set ([[GraftSession.RequiredConfs]]), and code run under
  * [[GraftSession.withTaskClassLoader]] shares its cache entries with the
  * local SQL tasks that execute it. */
class CodegenReuseSpec extends AnyFunSuite with SparkSpecBase {

  /** Generated classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenCount()
    body
    CodegenCount() - before
  }

  /** A tiny whole-stage query whose generated code embeds `i`, so every
    * `i` is a distinct class and a repeated `i` the same one. */
  private def shape(i: Int): DataFrame =
    spark.range(0, 64, 1, 4).select((col("id") * lit(i) + lit(i)).as("x"))
      .filter(col("x") % lit(i + 7) =!= lit(1))

  /** `body` on a new thread whose context class loader is the test
    * thread's own (not the task loader). */
  private def onPlainThread(body: => Unit): Unit = {
    var err: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => err = e })
    t.setContextClassLoader(getClass.getClassLoader)
    t.start(); t.join()
    if (err != null) throw err
  }

  test("the codegen cache holds more than 150 query shapes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt >= 2000)
    GraftSession.withTaskClassLoader(spark) {
      val first = 1000003
      shape(first).collect()
      // each shape compiles at least one class: 150 exceed Spark's default
      // cache of 100 entries, which would evict the first
      (1 to 150).foreach(i => shape(first + i).collect())
      assert(compiles(shape(first).collect()) == 0)
    }
  }

  test("under the task class loader a fresh query compiles each class once") {
    val aligned = compiles(GraftSession.withTaskClassLoader(spark)(shape(2000003).collect()))
    assert(aligned > 0)
    assert(compiles(GraftSession.withTaskClassLoader(spark)(shape(2000003).collect())) == 0)
    // negative control: the same fresh shape from a thread on another
    // loader compiles its whole-stage class twice, on the driver and again
    // in the tasks
    var plain = 0L
    onPlainThread { plain = compiles(shape(2000005).collect()) }
    assert(GraftSession.taskClassLoader(spark).exists(_ ne getClass.getClassLoader))
    assert(plain > aligned, s"unaligned compiled $plain classes, aligned $aligned")
  }

  test("runCycle restores the caller's context class loader") {
    val t = Thread.currentThread
    val old = t.getContextClassLoader
    val mine = new java.net.URLClassLoader(Array.empty[java.net.URL], old)
    val root = java.nio.file.Files.createTempDirectory("graft_cg_loader").toString
    t.setContextClassLoader(mine)
    try {
      NorthwindWarehouse.runCycle(spark, "/root/testdata/sf0.001", root, 1)
      assert(t.getContextClassLoader eq mine)
      intercept[Exception](NorthwindWarehouse.runCycle(spark, root + "/missing", root, 2))
      assert(t.getContextClassLoader eq mine)
    } finally t.setContextClassLoader(old)
  }
}
