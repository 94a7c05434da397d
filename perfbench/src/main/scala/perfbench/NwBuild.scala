package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.TableIO
import graft.northwind.NorthwindWarehouse

/** `nw_build`: back-to-back two-cycle Northwind builds, each into a fresh
  * warehouse root — cycle 1 is the initial load, cycle 2 the incremental
  * CDC cycle. After each build, every staging, dwh, snapshot and audit
  * table must match its recorded digest, and seeded as-of star reads
  * (fact_order joined to the dim_customer version its SK resolved to,
  * for a set of customers) must match a driver-side join of the same
  * tables. The first star read compiles the query's code and is in no
  * sample; the others are the workload's reads. */
object NwBuild {
  /** The scale the build reads: the scale the oracle gate checks the
    * warehouse queries at. The build's cost is mostly per-stage overhead
    * (a warm build takes ~30 s at sf0.001 and ~45 s at sf0.1 on 4 cores),
    * so a larger scale adds little signal for much more run time. */
  val Sf = "sf0.01"
  val Sources: Seq[String] = Seq("customer", "orders", "lineitem", "part", "supplier",
    "nation", "region")
  /** The four directories a warehouse root holds. */
  val Dirs: Seq[String] = Seq("staging", "dwh", "snapshots", "audit")
  /** Columns stamped with wall-clock time; every other column is compared. */
  val WallClock: Set[String] = Set("last_processed_date")
  val StarReadsPerBuild = 6
  val CustomersPerRead = 25

  private def tables(root: File): Seq[String] =
    Dirs.flatMap { d =>
      Option(new File(root, d).listFiles).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(f => s"$d/${f.getName}").sorted.toSeq
    }

  def run(r: Run, data: File, expected: File, record: Option[File]): Outcome = {
    val spark = r.spark
    val sfDir = new File(data, Sf)
    val srcBytes = Sources.map(s => new File(sfDir, s"$s.parquet").length).sum.toDouble
    // nw_build has no data fixture (the build reads the sources itself):
    // its set-up is the session plus checking the sources are in place,
    // three times, the median counting
    val fixture = (1 to 3).map { _ =>
      val t0 = System.nanoTime
      require(Sources.forall(s => new File(sfDir, s"$s.parquet").isFile),
        s"testdata scale $Sf not found under $data")
      (System.nanoTime - t0) / 1e9
    }
    r.setupS = Stats.median(fixture)
    val expect: Map[String, String] =
      if (record.isDefined) Map.empty
      else scala.io.Source.fromFile(expected, "UTF-8").getLines()
        .map(_.split("\t")).collect { case Array(t, d) => t -> d }.toMap

    r.startLoop()
    var builds = 0
    var written = 0L
    var last: Walk = Walk(Map.empty[String, (Long, Long)])
    var lastRoot: File = null
    do {
      val root = new File(r.work, s"nw_root_$builds")
      val c1 = r.op("cycle1", "load")(
        NorthwindWarehouse.runCycle(spark, sfDir.getPath, root.getPath, 1))(_ => None)
      val w1 = Walk(root)
      val c2 = r.op("cycle2", "change")(
        NorthwindWarehouse.runCycle(spark, sfDir.getPath, root.getPath, 2))(_ => None)
      val w2 = Walk(root)
      written += w1.bytes + w2.newBytes(w1)
      val cycleIds = r.ops.takeRight(2).map(_.id).toSet
      val digests = r.parallel(tables(root)) { t =>
        val (n, h) = Digest.of(TableIO.read(spark, new File(root, t).getPath), WallClock)
        t -> s"$n:$h"
      }
      record match {
        case Some(f) =>
          Files.write(f.toPath, digests.map { case (t, d) => s"$t\t$d" }
            .mkString("", "\n", "\n").getBytes(UTF_8))
        case None =>
          val bad = (expect.keySet ++ digests.map(_._1)).toSeq.sorted
            .filter(t => expect.get(t) != digests.toMap.get(t))
          if (bad.nonEmpty && c1.isDefined && c2.isDefined)
            r.reject(cycleIds, s"build $builds: digest mismatch on ${bad.mkString(", ")}")
          else r.check("build digests")(bad.isEmpty)
      }
      asOfStarReads(r, root)
      last = w2
      lastRoot = root
      builds += 1
    } while (r.loopSeconds < r.seconds)

    // space: the last build's root against the files its tables' readers scan
    val scanned = tables(lastRoot).flatMap { t =>
      TableIO.read(spark, new File(lastRoot, t).getPath).inputFiles
    }.map(f => new File(new java.net.URI(f)).length).sum
    val spaceAmp = last.bytes.toDouble / scanned

    val cycles = r.ops.filter(o => o.kind == "cycle1" || o.kind == "cycle2").toSeq
    val layers = Units.zeroLayers ++ Dirs.flatMap { d =>
      val w = last.under(d + "/")
      Seq(s"storage.$d.files" -> w.count.toDouble, s"storage.$d.mb" -> w.bytes / 1e6)
    } ++ Map(
      "read.asof_star.p50_ms" -> Stats.median(r.ms("read")),
      "read.after_write.p50_ms" -> Stats.median(r.ms("read")))
    Outcome(Map(
      "load_s" -> Stats.median(r.msOf("cycle1")) / 1e3,
      "change_mean_ms" -> Stats.mean(r.msOf("cycle2")),
      "read_mean_ms" -> Stats.mean(r.ms("read")),
      "ops_per_s" -> r.opsPerSecond,
      "write_amp" -> written / (srcBytes * builds),
      "space_amp" -> spaceAmp), layers, cycles, builds.toDouble)
  }

  /** Seeded as-of star reads over a finished build, each checked against
    * a driver-side join of the collected fact and dim columns. */
  private def asOfStarReads(r: Run, root: File): Unit = {
    val spark = r.spark
    def fact = TableIO.read(spark, new File(root, "dwh/fact_order").getPath)
    def dim = TableIO.read(spark, new File(root, "dwh/dim_customer").getPath)
    val dimRows = dim.select("customer_sk", "customer_id").collect()
      .map(x => (x.get(0), x.getString(1)))
    val idBySk = dimRows.groupBy(_._1).map { case (sk, v) => sk -> v.map(_._2).toSeq }
    val factRows = fact.select("customer_sk", "freight").collect()
      .map(x => (x.get(0), x.getDouble(1)))
    val ids = dimRows.map(_._2).distinct.filterNot(Set("0", "-1")).sorted
    (0 to StarReadsPerBuild).foreach { i =>
      val probe = r.rng.shuffle(ids.toSeq).take(CustomersPerRead)
      val want = probe.toSet
      val hits = factRows.flatMap { case (sk, fr) =>
        idBySk.getOrElse(sk, Nil).filter(want).map(_ => fr) }
      val (wantN, wantSum) = (hits.length.toLong, hits.sum)
      r.op("read.asof_star", if (i == 0) "warm" else "read") {
        fact.join(dim.filter(col("customer_id").isin(probe: _*)), "customer_sk")
          .agg(count(lit(1)), sum(col("freight"))).first()
      } { row =>
        val n = row.getLong(0)
        val s = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
        if (n == wantN && math.abs(s - wantSum) <= 1e-6 * math.max(1.0, math.abs(wantSum))) None
        else Some(s"asof_star: got ($n, $s), want ($wantN, $wantSum)")
      }
    }
  }
}
