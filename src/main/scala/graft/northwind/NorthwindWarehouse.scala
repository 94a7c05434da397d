package graft.northwind

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.audit.AuditControl
import graft.core.TableIO
import graft.functions.SqlFunctions._
import graft.operators.AsOf
import graft.scd.{Scd2, Scd2Config}

/** The reference's concrete 23-model Northwind warehouse, bound end-to-end:
  * 11 staging projections → 4 intermediate CDC-prep models (HWM deltas,
  * join chains, dummy members) → 4 SCD2 dims → 2 temporal facts, run as a
  * genuine two-cycle initial+incremental load with audit state, upserts,
  * and the late-arriving-dimension repair post-hook.
  *
  * Documented divergences from the reference (all SURVEY-prescribed):
  *  - B1 fixed: dim_shipper updates its own audit row, not dim_customer's;
  *  - B7 fixed: fact_order_details upserts on (order_id, product_id);
  *  - B9 kept as effective-inner: the employee chain inner-joins territories;
  *  - B11 kept: dim_employee drops the raw `region` column;
  *  - as-of joins are half-open [effective, expiry) so a probe at a version
  *    flip matches exactly one version (the reference's inclusive BETWEEN
  *    double-matches at the boundary);
  *  - SKs hash the FINAL effective_date as epoch micros (engine convention,
  *    Scd2 scaladoc), so the key-0 dummy SK equals SqlFunctions.dummySk;
  *  - the intermediate employee rank picks its surviving territory row with
  *    a deterministic tie-break (territory_description) where the reference
  *    relies on Snowflake's arbitrary pick;
  *  - created_at/updated_at, and the audit rows' last_processed_date,
  *    stamp the cycle's batch time, not wall clock, so two engines (and
  *    two runs) can agree bit-for-bit.
  *
  * Scale shape: every dim chain is HWM-pruned before its window (the SCD2
  * shuffle is O(|delta|)); the tiny joined sides (categories, region,
  * territories, suppliers) broadcast; fact loads shuffle once on the join
  * key with dims broadcast; BOTH facts are year-partitioned and upserts
  * (including the repair pass) rewrite only partitions containing delta
  * keys — fact_order_details derives its year from the header's current
  * state, bloom-pruned to the delta's order ids.
  */
object NorthwindWarehouse {
  import NorthwindSources.{T1, T2}

  // ------------------------------------------------------------ dummy rows

  /** The two synthetic members every intermediate unions in: key 0 = 'Not
    * Found', key -1 = 'Not Applicable', dated 1900
    * (stg_dim_customer.sql:89-146 et al.). `build` receives (key, filler). */
  private def dummyPair(spark: SparkSession, keyCol: String, keyIsString: Boolean,
      build: (Column, Column) => Seq[Column]): DataFrame = {
    def key(v: Int): Column =
      if (keyIsString) lit(v.toString) else lit(v)
    spark.range(1).select(build(key(0), lit("Not Found")): _*)
      .unionByName(spark.range(1).select(build(key(-1), lit("Not Applicable")): _*))
  }

  // --------------------------------------------------------- intermediates

  /** stg_dim_customer (stg_dim_customer.sql): HWM delta + dummies + rn=1. */
  def stgDimCustomer(spark: SparkSession, stg: DataFrame, hwm: Column): DataFrame = {
    val attrs = Seq("company_name", "contact_name", "contact_title", "address",
      "city", "region", "postal_code", "country", "phone", "fax")
    val delta = stg.filter(col("dl_process_date") > hwm)
      .select((Seq(col("customer_id")) ++ attrs.map(col) ++ Seq(col("op"),
        col("row_hash"), col("dl_process_date").as("updated_at"))): _*)
    val dums = dummyPair(spark, "customer_id", keyIsString = true, (k, f) =>
      Seq(k.as("customer_id")) ++ attrs.map(a => f.as(a)) ++ Seq(
        lit("I").as("op"),
        rowHash(k, f, f, f, f, f, f, f, f).as("row_hash"), // B4 list over fillers
        epochTs.as("updated_at")))
    dedupPerKeyInstant(delta.unionByName(dums), Seq("customer_id"))
  }

  /** stg_dim_shipper (stg_dim_shipper.sql; B1's audit target fixed). */
  def stgDimShipper(spark: SparkSession, stg: DataFrame, hwm: Column): DataFrame = {
    val delta = stg.filter(col("dl_process_date") > hwm)
      .select(col("shipper_id"), col("company_name"), col("phone"), col("op"),
        col("row_hash"), col("dl_process_date").as("updated_at"))
    val dums = dummyPair(spark, "shipper_id", keyIsString = false, (k, f) =>
      Seq(k.as("shipper_id"), f.as("company_name"), f.as("phone"),
        lit("I").as("op"), rowHash(k, f, f).as("row_hash"), epochTs.as("updated_at")))
    dedupPerKeyInstant(delta.unionByName(dums), Seq("shipper_id"))
  }

  /** Latest staged row per key — the cycle's current source state (the
    * oracle's `stateAt`). The 3-way/4-way intermediates join STATE, not
    * history: joining full histories would pair a stale source version
    * with a newer one at the same `greatest(dl)` and leave the rank-1 pick
    * to chance.
    *
    * Precondition (same as the reference's `QUALIFY rn = 1 ... ORDER BY dl
    * DESC`): at most one staged row per (key, dl_process_date) — the raw
    * CDC loader emits one state per key per batch. Same-instant duplicates
    * would make the rank-1 pick engine-arbitrary here exactly as they do
    * in the reference. */
  private def currentState(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("dl_process_date").desc)
    df.withColumn("__crn", row_number().over(w)).filter(col("__crn") === 1).drop("__crn")
  }

  /** stg_dim_products (stg_dim_products.sql): 3-way join over CURRENT
    * staging state, model-level hash (which omits unit_price on real rows —
    * reference quirk, kept), greatest-dl change detection, HWM filter,
    * dummies (whose hash INCLUDES unit_price — also kept). */
  def stgDimProducts(spark: SparkSession, products: DataFrame, suppliers: DataFrame,
      categories: DataFrame, hwm: Column): DataFrame = {
    val p = currentState(products, Seq("product_id"))
      .select(col("product_id"), col("product_name"), col("supplier_id"),
      col("category_id"), col("quantity_per_unit"), col("unit_price"),
      col("reorder_level"), col("discontinued"), col("op"),
      col("dl_process_date").as("p_dl"))
    val s = currentState(suppliers, Seq("supplier_id"))
      .filter(col("op") =!= "D").select(col("supplier_id"),
      col("company_name"), col("address"), col("city"), col("region"),
      col("postal_code"), col("country"), col("dl_process_date").as("s_dl"))
    val c = currentState(categories, Seq("category_id"))
      .filter(col("op") =!= "D").select(col("category_id"),
      col("category_name"), col("description"), col("dl_process_date").as("c_dl"))
    val joined = p.join(broadcast(s), Seq("supplier_id"))
      .join(broadcast(c), Seq("category_id"))
      .withColumn("max_dl", greatest(col("p_dl"), col("s_dl"), col("c_dl")))
    val hashed = joined.withColumn("row_hash", rowHash(
      col("product_id"), col("product_name"), col("quantity_per_unit"),
      col("reorder_level"), col("discontinued"), col("company_name"),
      col("address"), col("city"), col("region"), col("postal_code"),
      col("country"), col("category_name"), col("description")))
    val w = Window.partitionBy("product_id").orderBy(col("max_dl").desc)
    val delta = hashed.withColumn("ranked", row_number().over(w))
      .filter(col("ranked") === 1 && col("max_dl") > hwm)
      .select(col("product_id"), col("product_name"), col("quantity_per_unit"),
        col("unit_price"), col("reorder_level"), col("discontinued"),
        col("company_name"), col("address"), col("city"), col("region"),
        col("postal_code"), col("country"), col("category_name"), col("description"),
        col("op"), col("row_hash"), col("max_dl").as("updated_at"))
    val dums = dummyPair(spark, "product_id", keyIsString = false, (k, f) =>
      Seq(k.as("product_id"), f.as("product_name"), f.as("quantity_per_unit"),
        k.cast("double").as("unit_price"), k.as("reorder_level"),
        lit(true).as("discontinued"), f.as("company_name"), f.as("address"),
        f.as("city"), f.as("region"), f.as("postal_code"), f.as("country"),
        f.as("category_name"), f.as("description"), lit("I").as("op"),
        rowHash(k, f, f, k.cast("double"), k, lit(true), f, f, f, f, f, f, f, f)
          .as("row_hash"),
        epochTs.as("updated_at")))
    dedupPerKeyInstant(delta.unionByName(dums), Seq("product_id"))
  }

  /** stg_dim_employee (stg_dim_employee.sql): 4-way chain, effective-inner
    * (B9), deterministic territory pick, dummies. */
  def stgDimEmployee(spark: SparkSession, employees: DataFrame, empTerr: DataFrame,
      territories: DataFrame, region: DataFrame, hwm: Column): DataFrame = {
    val e = currentState(employees, Seq("employee_id"))
      .select(col("employee_id"), col("first_name"), col("last_name"),
      col("title"), col("title_of_courtesy"),
      col("birth_date").cast("date").as("birthdate"),
      col("address"), col("city"), col("region"), col("postal_code"), col("country"),
      col("home_page"), col("extension"), col("op"), col("dl_process_date").as("e_dl"))
    val et = currentState(empTerr, Seq("employee_id", "territory_id"))
      .filter(col("op") =!= "D")
      .select(col("territory_id"), col("employee_id"), col("dl_process_date").as("et_dl"))
    val t = currentState(territories, Seq("territory_id")).filter(col("op") =!= "D")
      .select(col("territory_id"), col("territory_description"), col("region_id"),
        col("dl_process_date").as("t_dl"))
    val r = currentState(region, Seq("region_id")).filter(col("op") =!= "D")
      .select(col("region_id"), col("region_description"), col("dl_process_date").as("r_dl"))
    val joined = e.join(broadcast(et), Seq("employee_id"))
      .join(broadcast(t), Seq("territory_id"))
      .join(broadcast(r), Seq("region_id"))
      .withColumn("max_dl", greatest(col("e_dl"), col("et_dl"), col("t_dl"), col("r_dl")))
    val hashed = joined.withColumn("row_hash", rowHash(
      col("employee_id"), col("first_name"), col("last_name"), col("title"),
      col("title_of_courtesy"), col("birthdate"), col("address"), col("city"),
      col("region"), col("postal_code"), col("country"), col("home_page"),
      col("extension"), col("region_description"), col("territory_description")))
    val w = Window.partitionBy("employee_id")
      .orderBy(col("max_dl").desc, col("territory_description"))
    val delta = hashed.withColumn("ranked", row_number().over(w))
      .filter(col("ranked") === 1 && col("max_dl") > hwm)
      .select(col("employee_id"), col("first_name"), col("last_name"), col("title"),
        col("title_of_courtesy"), col("birthdate"), col("address"), col("city"),
        col("region"), col("postal_code"), col("country"), col("home_page"),
        col("extension"), col("op"), col("region_description"),
        col("territory_description"), col("row_hash"), col("max_dl").as("updated_at"))
    val dums = dummyPair(spark, "employee_id", keyIsString = false, (k, f) =>
      Seq(k.as("employee_id"), f.as("first_name"), f.as("last_name"), f.as("title"),
        f.as("title_of_courtesy"), to_date(lit("1900-01-01")).as("birthdate"),
        f.as("address"), f.as("city"), f.as("region"), f.as("postal_code"),
        f.as("country"), f.as("home_page"), f.as("extension"), lit("I").as("op"),
        f.as("region_description"), f.as("territory_description"),
        rowHash(k, f, f, f, f, to_date(lit("1900-01-01")), f, f, f, f, f, f, f, f, f)
          .as("row_hash"),
        epochTs.as("updated_at")))
    dedupPerKeyInstant(delta.unionByName(dums), Seq("employee_id"))
  }

  /** snapshot_employee source (snapshots/snapshot_employee.sql:13-135): the
    * same 4-way current-state chain as [[stgDimEmployee]] under snapshot
    * conventions — no HWM filter, no dummy members, no op filters (the
    * reference snapshot joins raw staging with none), and the raw `region`
    * column kept (B11 applies to dim_employee only). The rank-1 territory
    * pick breaks ties on territory_description, the same documented
    * divergence as the dim. The reference's B6 scd-id quirk — hashing the
    * literal string 'employee_id' instead of the column
    * (snapshot_employee.sql:137) — is fixed by Scd2's temporalSk. */
  def snapEmployee(spark: SparkSession, employees: DataFrame, empTerr: DataFrame,
      territories: DataFrame, region: DataFrame): DataFrame = {
    val e = currentState(employees, Seq("employee_id"))
      .select(col("employee_id"), col("first_name"), col("last_name"),
        col("title"), col("title_of_courtesy"),
        col("birth_date").cast("date").as("birthdate"),
        col("address"), col("city"), col("region"), col("postal_code"), col("country"),
        col("home_page"), col("extension"), col("dl_process_date").as("e_dl"))
    val et = currentState(empTerr, Seq("employee_id", "territory_id"))
      .select(col("territory_id"), col("employee_id"), col("dl_process_date").as("et_dl"))
    val t = currentState(territories, Seq("territory_id"))
      .select(col("territory_id"), col("territory_description"), col("region_id"),
        col("dl_process_date").as("t_dl"))
    val r = currentState(region, Seq("region_id"))
      .select(col("region_id"), col("region_description"), col("dl_process_date").as("r_dl"))
    val joined = e.join(broadcast(et), Seq("employee_id"))
      .join(broadcast(t), Seq("territory_id"))
      .join(broadcast(r), Seq("region_id"))
      .withColumn("max_dl", greatest(col("e_dl"), col("et_dl"), col("t_dl"), col("r_dl")))
    // same 15-column hash list as the snapshot's generate_surrogate_key
    // (snapshot_employee.sql:93-109) — includes raw region
    val hashed = joined.withColumn("row_hash", rowHash(
      col("employee_id"), col("first_name"), col("last_name"), col("title"),
      col("title_of_courtesy"), col("birthdate"), col("address"), col("city"),
      col("region"), col("postal_code"), col("country"), col("home_page"),
      col("extension"), col("region_description"), col("territory_description")))
    val w = Window.partitionBy("employee_id")
      .orderBy(col("max_dl").desc, col("territory_description"))
    hashed.withColumn("ranked", row_number().over(w)).filter(col("ranked") === 1)
      .select(col("employee_id"), col("first_name"), col("last_name"), col("title"),
        col("title_of_courtesy"), col("birthdate"), col("address"), col("city"),
        col("region"), col("postal_code"), col("country"), col("home_page"),
        col("extension"), col("region_description"), col("territory_description"),
        col("row_hash"), col("max_dl").cast("timestamp").as("updated_at"))
  }

  /** Timestamp-strategy snapshot config (snapshot_employee.sql:4-9):
    * op-less — dbt snapshots carry no CDC op column. */
  val snapEmployeeCfg: Scd2Config = Scd2Config(
    businessKey = Seq("employee_id"), effectiveCol = "updated_at",
    payload = Seq("first_name", "last_name", "title", "title_of_courtesy",
      "birthdate", "address", "city", "region", "postal_code", "country",
      "home_page", "extension", "region_description", "territory_description",
      "updated_at"))

  /** rn=1 over (key, updated_at) — the intermediates' same-instant dedup
    * (stg_dim_customer.sql:149-157), with row_hash as a deterministic
    * tie-break the reference leaves to the engine. */
  private def dedupPerKeyInstant(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy((keys :+ "updated_at").map(col): _*)
      .orderBy(col("updated_at"), col("row_hash"))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------------------ dims

  /** The four dim configs — tracked columns exactly as each dim's
    * existing_records block declares (dim_customer.sql:14-56,
    * dim_products.sql:14-63, dim_employee.sql:14-62 (B11: no raw region),
    * dim_shipper.sql:14-38). */
  val dimCustomerCfg: Scd2Config = Scd2Config(
    businessKey = Seq("customer_id"), effectiveCol = "updated_at",
    opCol = Some("op"),
    payload = Seq("company_name", "contact_name", "contact_title", "address",
      "city", "region", "postal_code", "country", "phone", "fax", "updated_at"))

  val dimShipperCfg: Scd2Config = Scd2Config(
    businessKey = Seq("shipper_id"), effectiveCol = "updated_at",
    opCol = Some("op"),
    payload = Seq("company_name", "phone", "updated_at"))

  val dimProductsCfg: Scd2Config = Scd2Config(
    businessKey = Seq("product_id"), effectiveCol = "updated_at",
    opCol = Some("op"),
    payload = Seq("product_name", "quantity_per_unit", "unit_price",
      "reorder_level", "discontinued", "company_name", "address", "city",
      "region", "postal_code", "country", "category_name", "description",
      "updated_at"))

  val dimEmployeeCfg: Scd2Config = Scd2Config(
    businessKey = Seq("employee_id"), effectiveCol = "updated_at",
    opCol = Some("op"),
    payload = Seq("first_name", "last_name", "title", "title_of_courtesy",
      "birthdate", "address", "city", "postal_code", "country", "home_page",
      "extension", "region_description", "territory_description", "updated_at"))

  // ------------------------------------------------------------ the runner

  private val stagingNames = Seq("stg_orders", "stg_order_details", "stg_customers",
    "stg_products", "stg_employees", "stg_suppliers", "stg_categories",
    "stg_shippers", "stg_region", "stg_territories", "stg_employeeterritories")

  /** One full `dbt run` cycle (SURVEY E1/E2) against the lake state visible
    * at the cycle's batch time.
    *
    * Models run CONCURRENTLY from the driver by READINESS, not by level:
    * each dim starts the moment its own staging inputs land (dim_customer
    * waits only for stg_customers, not for the slow stg_order_details
    * write), and each fact starts when its staging + dims are in — exactly
    * `dbt run --threads`' node-readiness scheduling, and measurably faster
    * than level barriers because the two heavy staging CTAS (orders,
    * order_details) overlap the dim merges instead of gating them.
    * Audit-table writes are read-modify-write on shared state, so
    * registration happens before the fan-out and HWM marks after each
    * group's join — only the heavy merge/write work runs in parallel.
    *
    * The cycle and its model threads run under the session's SQL-task
    * class loader ([[graft.GraftSession.withTaskClassLoader]]), so in
    * local mode a class the driver compiles while planning is the cache
    * hit of the tasks that run it. */
  def runCycle(spark: SparkSession, sfDir: String, root: String, cycle: Int): Unit =
    graft.GraftSession.withTaskClassLoader(spark) { runCycleBody(spark, sfDir, root, cycle) }

  private def runCycleBody(spark: SparkSession, sfDir: String, root: String, cycle: Int): Unit = {
    import NorthwindSources._
    val cycleTs = to_timestamp(lit(if (cycle == 1) T1 else T2))
    val audit = new AuditControl(spark, s"$root/audit")
    def stagingPath(n: String) = s"$root/staging/$n"
    def tablePath(n: String) = s"$root/dwh/$n"

    // 1. staging CTAS (S3): full overwrite of the current source state
    val staged: Map[String, DataFrame] = Map(
      "stg_orders" -> NorthwindStaging.stgOrders(orders(spark, sfDir, cycle)),
      "stg_order_details" -> NorthwindStaging.stgOrderDetails(orderDetails(spark, sfDir, cycle)),
      "stg_customers" -> NorthwindStaging.stgCustomers(customers(spark, sfDir, cycle)),
      "stg_products" -> NorthwindStaging.stgProducts(products(spark, sfDir, cycle)),
      "stg_employees" -> NorthwindStaging.stgEmployees(employees(spark, sfDir, cycle)),
      "stg_suppliers" -> NorthwindStaging.stgSuppliers(suppliers(spark, sfDir, cycle)),
      "stg_categories" -> NorthwindStaging.stgCategories(categories(spark, sfDir, cycle)),
      "stg_shippers" -> NorthwindStaging.stgShippers(shippers(spark, sfDir, cycle)),
      "stg_region" -> NorthwindStaging.stgRegion(region(spark, sfDir, cycle)),
      "stg_territories" -> NorthwindStaging.stgTerritories(territories(spark, sfDir, cycle)),
      "stg_employeeterritories" ->
        NorthwindStaging.stgEmployeeTerritories(employeeTerritories(spark, sfDir, cycle)))
    def stg(n: String): DataFrame = TableIO.read(spark, stagingPath(n))

    // 2. dims: audit bootstrap (C4) → intermediate delta → SCD2 merge →
    //    upsert-by-business-key (S4 at key grain) → audit HWM (C6)
    case class DimLoad(name: String, driver: String, keyDesc: String,
        cfg: Scd2Config, skCol: String, stagingDeps: Seq[String],
        intermediate: Column => DataFrame)
    val dims = Seq(
      DimLoad("dim_customer", "stg_customers", "customer_id", dimCustomerCfg,
        "customer_sk", Seq("stg_customers"),
        hwm => stgDimCustomer(spark, stg("stg_customers"), hwm)),
      DimLoad("dim_shippers", "stg_shippers", "shipper_id", dimShipperCfg,
        "shipper_sk", Seq("stg_shippers"),
        hwm => stgDimShipper(spark, stg("stg_shippers"), hwm)),
      DimLoad("dim_products", "stg_products", "product_id", dimProductsCfg,
        "product_sk", Seq("stg_products", "stg_suppliers", "stg_categories"),
        hwm => stgDimProducts(spark, stg("stg_products"),
          stg("stg_suppliers"), stg("stg_categories"), hwm)),
      DimLoad("dim_employee", "stg_employees", "employee_id", dimEmployeeCfg,
        "employee_sk", Seq("stg_employees", "stg_employeeterritories",
          "stg_territories", "stg_region"),
        hwm => stgDimEmployee(spark, stg("stg_employees"),
          stg("stg_employeeterritories"), stg("stg_territories"), stg("stg_region"), hwm)))
    // one audit RMW registers every model of the cycle up front
    audit.ensureRegisteredAll(dims.map(dl => (dl.name, dl.driver, dl.keyDesc)) ++ Seq(
      ("fact_order", "stg_orders", "order_id"),
      ("fact_order_details", "stg_order_details", "order_id,product_id")))
    val auditState = audit.infoAll(dims.map(_.name) ++ Seq("fact_order", "fact_order_details"))
    val hwms = dims.map(dl => dl.name -> lit(auditState(dl.name).hwmDate)).toMap

    // readiness DAG: every node is a Future chained on exactly its inputs;
    // Spark's scheduler (thread-safe) interleaves the concurrent jobs across
    // the executor pool. Nothing blocks a pool thread — chains are flatMaps,
    // the driver Awaits only at the two audit-mark joins. Failures propagate
    // through the Awaits.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // model threads carry the caller's context class loader (the task
    // loader runCycle installed) whichever thread first submits to them
    val loader = Thread.currentThread.getContextClassLoader
    val pool = java.util.concurrent.Executors.newFixedThreadPool(stagingNames.size + 6,
      (r: Runnable) => {
        val t = java.util.concurrent.Executors.defaultThreadFactory.newThread(r)
        t.setContextClassLoader(loader)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val stgF: Map[String, Future[Unit]] = stagingNames.map(n => n -> Future {
        TableIO.overwriteAtomic(staged(n), stagingPath(n))
      }).toMap
      def ready(deps: Seq[String]): Future[Unit] =
        Future.sequence(deps.map(stgF)).map(_ => ())

      val dimF: Map[String, Future[(String, java.sql.Timestamp)]] =
        dims.map(dl => dl.name -> ready(dl.stagingDeps).map { _ =>
          val delta = dl.intermediate(hwms(dl.name))
          val existing = TableIO.readOrEmpty(spark, tablePath(dl.name),
            Scd2.fromHistory(delta, dl.cfg, dl.skCol))
          TableIO.overwriteAtomic(Scd2.merge(existing, delta, dl.cfg, dl.skCol),
            tablePath(dl.name))
          dl.name -> TableIO.read(spark, tablePath(dl.name))
            .agg(max(col("updated_at"))).first().getTimestamp(0)
        }).toMap

      // dbt-snapshot + static models run off the same readiness DAG but
      // outside the audit machinery (the reference gives them no hooks):
      // snapshot_employee re-snapshots the CURRENT 4-way employee state
      // each cycle (dbt snapshot steady state — snapshotMerge degenerates
      // to the batch snapshot on the empty first run), dim_date is the
      // reference's materialized dwh model (dim_date.sql:1), rebuilt per
      // cycle exactly as `dbt run` would
      val snapF = ready(Seq("stg_employees", "stg_employeeterritories",
          "stg_territories", "stg_region")).map { _ =>
        val src = snapEmployee(spark, stg("stg_employees"),
          stg("stg_employeeterritories"), stg("stg_territories"), stg("stg_region"))
        val path = s"$root/snapshots/snapshot_employee"
        val existing = TableIO.readOrEmpty(spark, path,
          Scd2.snapshot(src.limit(0), snapEmployeeCfg, "employee_scd_id"))
        TableIO.overwriteAtomic(
          Scd2.snapshotMerge(existing, src, snapEmployeeCfg, "employee_scd_id"), path)
      }
      val dimDateF = Future {
        TableIO.overwriteAtomic(graft.operators.DimDate(spark), tablePath("dim_date"))
      }

      // 3/4. facts (fact_order.sql with its repair post-hook; B7 composite
      // key): start the moment their own staging + dims land
      val factOrderF = for {
        _ <- stgF("stg_orders")
        _ <- dimF("dim_employee"); _ <- dimF("dim_customer"); _ <- dimF("dim_shippers")
        r <- Future(loadFactOrder(spark, root, auditState("fact_order").hwmDate,
          stg("stg_orders"), cycleTs))
      } yield r
      val factDetailsF = for {
        _ <- stgF("stg_order_details")
        _ <- stgF("stg_orders") // order_date rides in for the year partition
        _ <- dimF("dim_products")
        r <- Future(loadFactOrderDetails(spark, root,
          auditState("fact_order_details").hwmDate, stg("stg_order_details"),
          stg("stg_orders")))
      } yield r

      val newHwms = Await.result(Future.sequence(dims.map(dl => dimF(dl.name))), Duration.Inf)
      audit.markProcessedAll(newHwms.toMap, cycleTs)
      val factHwms = Await.result(Future.sequence(Seq(factOrderF, factDetailsF)), Duration.Inf)
      audit.markProcessedAll(factHwms.toMap, cycleTs)
      Await.result(Future.sequence(Seq(snapF, dimDateF)), Duration.Inf): Unit
    } catch {
      case t: Throwable =>
        // a failed model must not leave sibling futures (e.g. a fact whose
        // deps completed) writing into the warehouse after the failure has
        // propagated to the caller: drop queued work, interrupt running
        // tasks, and wait for in-flight ones to wind down before rethrowing.
        // Continuations that fire after shutdownNow are rejected by the
        // executor and never run.
        pool.shutdownNow(): Unit
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES): Unit
        throw t
    } finally pool.shutdown()
  }

  /** As-of SK resolution against one dim, dummy fallback (fact_order.sql:17-42). */
  private def resolveDim(acc: DataFrame, dim: DataFrame, fKey: String, dKey: String,
      skCol: String, probe: Column): DataFrame =
    AsOf.pointInTime(acc, dim.select(col(dKey).as("__k"), col("effective_date"),
        col("expiry_date"), col(skCol).as("__sk")), fKey, "__k", probe)
      .select(acc.columns.map(c => col(s"__fact.$c")) :+
        AsOf.resolveSk(col("__dim.__sk")).as(skCol): _*)

  private val factDims: Seq[(String, String, String, String)] =
    Seq( // (dim table, fact key, dim key, sk col)
      ("dim_employee", "employee_id", "employee_id", "employee_sk"),
      ("dim_customer", "customer_id", "customer_id", "customer_sk"),
      ("dim_shippers", "shipper_id", "shipper_id", "shipper_sk"))

  /** Returns ("fact_order", new HWM); the caller marks the audit row. */
  private def loadFactOrder(spark: SparkSession, root: String, hwm: java.sql.Timestamp,
      stgOrders: DataFrame, cycleTs: Column): (String, java.sql.Timestamp) = {
    val path = s"$root/dwh/fact_order"
    // facts are date-partitioned (order year): the incremental upsert and
    // the repair pass rewrite only partitions containing touched keys —
    // the 100 TB write-amplification story, exercised here for real
    val delta = stgOrders.filter(col("dl_process_date") > lit(hwm))
      .withColumnRenamed("op", "record_status")
      .withColumn("order_year", year(col("order_date")))
    val probe = col("__fact.order_date").cast("timestamp")
    val resolved = factDims.foldLeft(delta) {
      case (acc, (dimName, fKey, dKey, skCol)) =>
        resolveDim(acc, TableIO.read(spark, s"$root/dwh/$dimName"), fKey, dKey, skCol, probe)
    }
    // change detection vs existing (P10, fact_order.sql:128-133): new key,
    // changed hash, or newly-deleted; created_at preserved on update
    val existing = TableIO.readOrEmpty(spark, path,
      resolved.withColumn("created_at", cycleTs).withColumn("updated_at", cycleTs))
    val ex = existing.select(col("order_id"), col("row_hash").as("__ex_hash"),
      col("record_status").as("__ex_status"), col("created_at").as("__ex_created"))
    val changed = resolved.join(ex, Seq("order_id"), "left")
      .filter(col("__ex_hash").isNull ||
        col("__ex_hash") =!= col("row_hash") ||
        (col("__ex_status") =!= "D" && col("record_status") === "D"))
      .withColumn("created_at", coalesce(col("__ex_created"), cycleTs))
      .withColumn("updated_at", cycleTs)
      .drop("__ex_hash", "__ex_status", "__ex_created")
    TableIO.upsertByKey(spark, path, changed, Seq("order_id"), partitionBy = Seq("order_year"))
    // post-hook 1 (C7): repair rows still carrying ANY dummy SK — re-resolve
    // all three SKs against the now-current dims and bump updated_at, even
    // when the re-lookup fails again (the reference UPDATE matches them too).
    // Rows WRITTEN THIS CYCLE are excluded: the dims don't change between
    // the merge above and this post-hook, so re-resolving a fresh failure
    // against the identical dim state provably reproduces the same dummy
    // SK, and its updated_at already carries cycleTs from the merge — the
    // reference's UPDATE touches those rows only to rewrite values they
    // already have. Restricting to prior-cycle rows (updated_at < cycleTs)
    // leaves the final table bit-identical and makes the repair set
    // O(late-arriving history), empty on an initial load.
    // Delta-sized: only the dummy-carrying rows re-enter the keyed writer,
    // which rewrites only their partitions (an empty repair set writes
    // nothing) — the steady-state cycle never rewrites the whole fact
    val skCols = factDims.map(_._4)
    val fact = TableIO.read(spark, path)
    val isDummy = skCols.map(c => col(c) === dummySk).reduce(_ || _)
    val failed = fact.filter(isDummy && col("updated_at") < cycleTs).drop(skCols: _*)
    // steady-state cycles usually have nothing to repair: probe first (a
    // limit-1 scan that stops at the first dummy row) and skip the whole
    // re-resolve + upsert chain when the repair set is empty
    if (!failed.isEmpty) {
      val reResolved = factDims.foldLeft(failed) {
        case (acc, (dimName, fKey, dKey, skCol)) =>
          resolveDim(acc, TableIO.read(spark, s"$root/dwh/$dimName"), fKey, dKey, skCol,
            col("__fact.order_date").cast("timestamp"))
      }.withColumn("updated_at", cycleTs).select(fact.columns.map(col): _*)
      TableIO.upsertByKey(spark, path, reResolved, Seq("order_id"), partitionBy = Seq("order_year"))
    }
    // post-hook 2 (C6): hwm from the fact's own updated_at
    "fact_order" ->
      TableIO.read(spark, path).agg(max(col("updated_at"))).first().getTimestamp(0)
  }

  /** Returns ("fact_order_details", new HWM); the caller marks the audit row. */
  private def loadFactOrderDetails(spark: SparkSession, root: String,
      hwm: java.sql.Timestamp, stgDetails: DataFrame,
      stgOrders: DataFrame): (String, java.sql.Timestamp) = {
    val path = s"$root/dwh/fact_order_details"
    // B8 fixed: filter on od.dl_process_date directly
    val delta = stgDetails.filter(col("dl_process_date") > lit(hwm))
      .withColumnRenamed("dl_process_date", "updated_at")
    // year-partition the fact like fact_order (SCALE.md): order_date rides
    // in from the header's current state, bloom-pruned to the delta's
    // order ids so the header side never shuffles beyond the touched keys
    // (order dates never change across versions, so any header version
    // yields the same year). The upsert below then rewrites only the
    // delta's year partitions instead of the whole table. On the initial
    // load (HWM at epoch) the delta IS the table — pruning buys nothing,
    // so the bloom build job is skipped.
    val initialLoad = hwm.getTime * 1000L <= graft.functions.SqlFunctions.EpochMicros
    val ordCurrent = currentState(stgOrders, Seq("order_id"))
      .select(col("order_id"), col("order_date"))
    val ordState =
      if (initialLoad) ordCurrent
      else ordCurrent.filter(graft.operators.Ops.bloomProbe(
        delta.select(col("order_id")), "order_id", col("order_id")))
    val withYear = delta.join(ordState, Seq("order_id"), "left")
      .withColumn("order_year", year(col("order_date"))).drop("order_date")
    val dimP = TableIO.read(spark, s"$root/dwh/dim_products")
    val resolved = AsOf.pointInTime(withYear, dimP.select(col("product_id").as("__k"),
        col("product_sk"), col("product_name"), col("quantity_per_unit"),
        col("reorder_level"), col("discontinued"), col("company_name"),
        col("address"), col("city"), col("region"), col("postal_code"),
        col("country"), col("category_name"), col("description"), col("version_no"),
        col("effective_date"), col("expiry_date")),
        "product_id", "__k", col("__fact.updated_at"))
      .select(withYear.columns.map(c => col(s"__fact.$c")) ++ Seq(
        col("__dim.product_sk"), col("__dim.product_name"),
        col("__dim.quantity_per_unit"), col("__dim.reorder_level"),
        col("__dim.discontinued"), col("__dim.company_name"), col("__dim.address"),
        col("__dim.city"), col("__dim.region"), col("__dim.postal_code"),
        col("__dim.country"), col("__dim.category_name"), col("__dim.description"),
        col("__dim.version_no"), col("__dim.effective_date")): _*)
    TableIO.upsertByKey(spark, path, resolved, Seq("order_id", "product_id"),
      partitionBy = Seq("order_year"))
    "fact_order_details" -> TableIO.read(spark, path)
      .agg(max(col("updated_at"))).first().getTimestamp(0)
  }

  // ------------------------------------------------- build + memoized root

  /** Run both cycles into `root`. */
  def buildWarehouse(spark: SparkSession, sfDir: String, root: String): Unit = {
    runCycle(spark, sfDir, root, 1)
    runCycle(spark, sfDir, root, 2)
  }

  /** The dim_customer SCD2 chain run ON GraftTable storage: the same two
    * CDC cycles as [[runCycle]]'s dim load (same staging model, same HWM
    * discipline, same merge), but every cycle's state COMMITS as a table
    * version and the next cycle reads the prior state back from the
    * table. Final contents are identical to the plain-parquet path (q123
    * shares q93's oracle); what the format adds for free is per-cycle
    * history — version 1 IS cycle 1's dim, `readAsOf` any post-cycle-1
    * instant replays it (NorthwindSpec pins both), closing the loop on
    * the reference's `AT (TIMESTAMP => …)` staging reads
    * (stg_dim_customer.sql:71). Returns the table path. */
  def buildDimCustomerOnGraftTable(spark: SparkSession, sfDir: String,
      root: String): String = {
    import graft.core.GraftTable
    val path = s"$root/dim_customer"
    var hwm = java.sql.Timestamp.valueOf("1900-01-01 00:00:00")
    for (cycle <- 1 to 2) {
      val stg = NorthwindStaging.stgCustomers(
        NorthwindSources.customers(spark, sfDir, cycle))
      val delta = stgDimCustomer(spark, stg, lit(hwm))
      // first cycle merges against the typed EMPTY relation (P8), exactly
      // as runCycle's readOrEmpty does — fromHistory supplies only schema
      val existing =
        if (GraftTable.currentVersion(path).isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            Scd2.fromHistory(delta, dimCustomerCfg, "customer_sk").schema)
        else GraftTable.read(spark, path)
      GraftTable.overwrite(
        Scd2.merge(existing, delta, dimCustomerCfg, "customer_sk"), path)
      hwm = GraftTable.read(spark, path)
        .agg(max(col("updated_at"))).first().getTimestamp(0)
    }
    path
  }

  /** The dim_customer SCD2 chain through CATALOG-NAMED tables — the
    * reference's actual model shape (every read/write is a
    * schema-qualified NAME inside layered namespaces,
    * `macros/generate_schema_name.sql:1-3`, `models/source.yml:4-19`):
    * cycle 1 materializes `graft.<ns>.dim_customer` via a named CTAS
    * (DataFrameWriterV2.create → [[graft.catalog.GraftCatalog]]), cycle
    * 2 reads it back with `spark.table` and lands the merged state with
    * a named `INSERT OVERWRITE` — no path ever appears outside the
    * catalog's warehouse mapping. Same SCD2 operators, same final state
    * as the path builders (q93's oracle gates it). */
  def buildDimCustomerOnCatalog(spark: SparkSession, sfDir: String,
      ns: String): String = {
    import graft.core.GraftTable
    val name = s"graft.$ns.dim_customer"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    var hwm = java.sql.Timestamp.valueOf("1900-01-01 00:00:00")
    for (cycle <- 1 to 2) {
      val stg = NorthwindStaging.stgCustomers(
        NorthwindSources.customers(spark, sfDir, cycle))
      val delta = stgDimCustomer(spark, stg, lit(hwm))
      if (cycle == 1) {
        val merged = Scd2.merge(
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            Scd2.fromHistory(delta, dimCustomerCfg, "customer_sk").schema),
          delta, dimCustomerCfg, "customer_sk")
        merged.writeTo(name).create()
      } else {
        val merged = Scd2.merge(spark.table(name), delta, dimCustomerCfg, "customer_sk")
        merged.createOrReplaceTempView("nw_cat_dim_customer_merged")
        spark.sql(s"INSERT OVERWRITE $name SELECT * FROM nw_cat_dim_customer_merged")
      }
      hwm = spark.table(name).agg(max(col("updated_at"))).first().getTimestamp(0)
    }
    name
  }

  private val builtRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memoized build per (session, sfDir): companion queries (dim state,
    * fact_order_details) read the artifacts of one shared run — the output
    * is deterministic, so rebuilding per query would only burn time. q36
    * (fact_order) always rebuilds fresh so the bench reports the true
    * pipeline cost. */
  def ensureBuilt(spark: SparkSession, sfDir: String): String =
    builtRoots.computeIfAbsent(sfDir, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_northwind").toString
      buildWarehouse(spark, sfDir, root)
      root
    })
}
