package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.audit.AuditControl
import graft.core.TableIO
import graft.operators.{AsOf, Staging}
import graft.scd.{Scd2, Scd2Config}

/** One node of the warehouse DAG. `deps` are step names; `run` is effectful
  * (reads/writes the lake through TableIO). */
case class LoadStep(name: String, deps: Seq[String])(val run: SparkSession => Unit)

/** Explicit-DAG runner — the reference's `dbt run` lifecycle (SURVEY §3-E1)
  * without Jinja: steps execute in topological order; a cycle or missing
  * dependency fails fast at construction. */
class Pipeline(steps: Seq[LoadStep]) {
  private val byName = steps.map(s => s.name -> s).toMap
  require(byName.size == steps.size, "duplicate step names")
  steps.foreach(s => s.deps.foreach(d =>
    require(byName.contains(d), s"step ${s.name} depends on unknown step $d")))

  /** Topological order (stable: preserves declaration order among ready steps). */
  val order: Seq[String] = {
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    var remaining = steps
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(done.contains))
      require(ready.nonEmpty, s"dependency cycle among ${remaining.map(_.name)}")
      ready.foreach(s => done += s.name)
      remaining = blocked
    }
    done.toSeq
  }

  def run(spark: SparkSession): Unit = order.foreach(n => byName(n).run(spark))
}

/** The reference warehouse re-skinned as a reusable builder: bronze →
  * staging (CDC envelope) → SCD2 dims (HWM-incremental) → temporal facts
  * (as-of SK resolution, dummy fallback, late-arriving repair). Each `load*`
  * call registers a LoadStep; `build()` returns the runnable DAG.
  *
  * Steady-state cycle per dim (SURVEY E2): audit.ensureRegistered →
  * read staging delta `dl_process_date > hwm` (C1) → Scd2.merge (§2.5) →
  * upsert → audit.markProcessed(max dl_process_date) (C6). Untouched keys
  * never enter the plan; at scale the HWM predicate prunes the staging scan
  * to fresh partitions.
  */
class WarehouseBuilder(root: String) {
  private val steps = scala.collection.mutable.ArrayBuffer.empty[LoadStep]
  private def auditOf(spark: SparkSession) = new AuditControl(spark, s"$root/audit")

  def stagingPath(name: String) = s"$root/staging/$name"
  def dimPath(name: String) = s"$root/dwh/$name"
  def factPath(name: String) = s"$root/dwh/$name"

  /** Staging load: rename/cast projection + CDC envelope, full overwrite
    * (reference CTAS materialization, S3). `source` reads the bronze input. */
  def loadStaging(name: String, source: SparkSession => DataFrame,
      projection: Seq[(String, Column)], hashCols: Seq[String],
      processTs: Column = current_timestamp()): this.type = {
    steps += LoadStep(name, Nil) { spark =>
      TableIO.overwriteAtomic(
        Staging.stage(source(spark), projection, hashCols, processTs), stagingPath(name))
    }
    this
  }

  /** SCD2 dimension load from a staging table, HWM-incremental. */
  def loadDim(name: String, stagingName: String, cfg: Scd2Config,
      businessKeyDesc: String): this.type = {
    steps += LoadStep(name, Seq(stagingName)) { spark =>
      val audit = auditOf(spark)
      audit.ensureRegistered(name, stagingName, businessKeyDesc)
      val hwm = audit.info(name).hwmDate
      val staged = TableIO.read(spark, stagingPath(stagingName))
      val delta = staged.filter(col("dl_process_date") > lit(hwm))
      if (!delta.isEmpty) {
        val existing = TableIO.readOrEmpty(spark, dimPath(name),
          Scd2.fromHistory(delta, cfg))
        TableIO.overwriteAtomic(Scd2.merge(existing, delta, cfg), dimPath(name))
        val newHwm = delta.agg(max(col("dl_process_date"))).first().getTimestamp(0)
        audit.markProcessed(name, newHwm, current_timestamp())
      }
    }
    this
  }

  /** Temporal fact load: resolve each dim SK as-of the probe timestamp with
    * the dummy-member fallback, then upsert by `factKeys` and repair rows
    * still carrying dummy SKs against the (possibly since-updated) dims
    * (C7 post-hook semantics). */
  def loadFact(name: String, stagingName: String, factKeys: Seq[String],
      probeTs: String,
      dims: Seq[(String, String, String)] // (dimName, factKeyCol, dimKeyCol)
  ): this.type = {
    steps += LoadStep(name, stagingName +: dims.map(_._1)) { spark =>
      val audit = auditOf(spark)
      audit.ensureRegistered(name, stagingName, factKeys.mkString(","))
      val hwm = audit.info(name).hwmDate
      val staged = TableIO.read(spark, stagingPath(stagingName))
      val delta = staged.filter(col("dl_process_date") > lit(hwm))
      if (!delta.isEmpty) {
        val resolved = dims.foldLeft(delta) { case (acc, (dimName, fKey, dKey)) =>
          val dim = TableIO.read(spark, dimPath(dimName))
            .select(col(dKey).as("__k"), col("effective_date"), col("expiry_date"), col("sk"))
          AsOf.pointInTime(acc, dim, fKey, "__k", col(s"__fact.$probeTs"))
            .select(acc.columns.map(c => col(s"__fact.$c")) :+
              AsOf.resolveSk(col("__dim.sk")).as(s"${dimName}_sk"): _*)
        }
        TableIO.upsertByKey(spark, factPath(name), resolved, factKeys)
        val newHwm = delta.agg(max(col("dl_process_date"))).first().getTimestamp(0)
        audit.markProcessed(name, newHwm, current_timestamp())
      }
      // repair pass runs even when no new facts arrived: dims may have
      // caught up since the rows were loaded (late-arriving dimensions)
      if (TableIO.exists(factPath(name))) {
        val repaired = dims.foldLeft(TableIO.read(spark, factPath(name))) {
          case (acc, (dimName, fKey, dKey)) =>
            val dim = TableIO.read(spark, dimPath(dimName))
              .select(col(dKey).as("__k"), col("effective_date"), col("expiry_date"), col("sk"))
            AsOf.repairFailedLookups(acc, dim, fKey, "__k",
              col(s"__fact.$probeTs"), s"${dimName}_sk")
        }
        TableIO.overwriteAtomic(repaired, factPath(name))
      }
    }
    this
  }

  def build(): Pipeline = new Pipeline(steps.toSeq)
}
