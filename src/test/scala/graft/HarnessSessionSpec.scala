package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every main in `src/main` measures the program Bench runs: none builds
  * its own session, all take [[GraftSession.harness]]'s. */
class HarnessSessionSpec extends AnyFunSuite {

  test("no SparkSession builder in src/main outside GraftSession.harness") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    def sources(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // the harness's own body: from its `def` to the blank line after it
    def harnessLines(lines: Seq[String]): Range = {
      val start = lines.indexWhere(_.contains("def harness("))
      if (start < 0) 0 until 0
      else start to lines.indexWhere(_.trim.isEmpty, start)
    }
    val strays = sources(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val lines = text.split("\n", -1).toSeq
      val allowed = if (f.getName == "GraftSession.scala") harnessLines(lines) else 0 until 0
      builder.findAllMatchIn(text).map(m => text.substring(0, m.start).count(_ == '\n'))
        .filterNot(allowed.contains)
        .map(i => s"${f.getPath}:${i + 1}: ${lines(i).trim}")
    }
    assert(strays.isEmpty,
      "sessions in src/main must come from GraftSession.harness:\n" + strays.mkString("\n"))
  }
}
