package graft.northwind

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TableIO

/** Deterministic Northwind-shaped CDC fixtures derived from the testdata star
  * schema — the raw `kings.load` layer the reference's staging models scan
  * (/root/reference/models/source.yml:4-19). Columns carry the reference's
  * RAW names (customerid, companyname, …); staging renames them.
  *
  * Each source is a two-batch change history (T1 initial, T2 delta):
  * every row carries `src_ts` (the batch that produced it — staging's
  * deterministic stand-in for ingest wall clock) and `src_op` ('I'/'D').
  * `cycle = 1` returns the state visible at T1; `cycle = 2` the full history
  * (downstream HWM filters isolate the T2 delta, reproducing the minute-
  * replay loop's per-batch view — SURVEY C2 collapse).
  *
  * The delta design exercises every warehouse path:
  *  - customers: `custkey % 7 == 2` arrive only at T2 (late-arriving dim →
  *    fact_order dummy-SK repair); `% 10 == 3` change contact_title at T2
  *    (hash-diff 'U'); `% 50 == 0` soft-delete at T2 ('D' versions);
  *  - orders: `% 13 == 5` arrive at T2 (new facts), `% 11 == 4` change
  *    shipped_date at T2 (fact upsert), `% 101 == 7` delete at T2
  *    (newly-deleted predicate, P10);
  *  - products `% 10 == 3` rename at T2; `% 100 == 17` delete; supplier 5
  *    renames at T2 — rippling to its products via greatest(dl) change
  *    detection through the 3-way intermediate join;
  *  - employee 3 changes title at T2 (4-way chain); shipper 2 changes phone.
  *
  * Volume scales with the SF dir (customer/orders/lineitem/part); the small
  * entity tables (suppliers 100, categories 10, employees 1-10, shippers 3,
  * region 5, territories 20) are generated from ranges so foreign keys stay
  * total at every SF. Every derivation is pure arithmetic/concat on int
  * columns — reproducible verbatim in the DuckDB oracle.
  */
object NorthwindSources {

  val T1 = "2024-01-01 00:00:00"
  val T2 = "2024-02-01 00:00:00"
  def t1: Column = to_timestamp(lit(T1))
  def t2: Column = to_timestamp(lit(T2))

  private def read(s: SparkSession, d: String, t: String): DataFrame =
    TableIO.readParquet(s, s"$d/$t.parquet")

  private def cut(history: DataFrame, cycle: Int): DataFrame =
    if (cycle >= 2) history else history.filter(col("src_ts") <= t1)

  private def ev(ts: Column, op: String): Seq[Column] =
    Seq(ts.as("src_ts"), lit(op).as("src_op"))

  // ------------------------------------------------------------- customers

  private def customerCols(title: Column): Seq[Column] = {
    val k = col("c_custkey")
    Seq(
      // ids shift to 1-based: testdata keys start at 0, which would collide
      // with the key-0 'Not Found' dummy member
      (k + 1).cast("string").as("customerid"),
      col("c_name").as("companyname"),
      concat(lit("Contact "), k).as("contactname"),
      title.as("contacttitle"),
      concat(lit("Addr "), k % 1000).as("address"),
      concat(lit("City "), col("c_nationkey")).as("city"),
      (col("c_nationkey") % 5).cast("string").as("region"),
      (lit(10000) + k % 90000).cast("string").as("postalcode"),
      concat(lit("Country "), col("c_nationkey")).as("country"),
      concat(lit("555-"), k % 10000).as("phone"),
      when(k % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("556-"), k % 10000)).as("fax"))
  }

  def customers(s: SparkSession, d: String, cycle: Int): DataFrame = {
    val c = read(s, d, "customer")
    val k = col("c_custkey")
    val late = k % 7 === 2
    val upd = k % 10 === 3
    val del = k % 50 === 0
    val base = customerCols(col("c_mktsegment"))
    val history = c.filter(!late).select(base ++ ev(t1, "I"): _*)
      .unionByName(c.filter(late).select(base ++ ev(t2, "I"): _*))
      .unionByName(c.filter(!late && upd)
        .select(customerCols(lit("UPDATED")) ++ ev(t2, "I"): _*))
      .unionByName(c.filter(!late && !upd && del).select(base ++ ev(t2, "D"): _*))
    cut(history, cycle)
  }

  // ---------------------------------------------------------------- orders

  private def orderCols(shipped: Column): Seq[Column] = {
    val o = col("o_orderkey")
    Seq(
      (o + 1).as("orderid"),
      (col("o_custkey") + 1).cast("string").as("customerid"),
      (o % 10 + 1).cast("int").as("employeeid"),
      (o % 3 + 1).cast("int").as("shipvia"),
      col("o_orderdate").cast("date").as("orderdate"),
      date_add(col("o_orderdate").cast("date"), 14).as("requireddate"),
      shipped.as("shippeddate"),
      (o % 97).cast("double").as("freight"),
      concat(lit("Ship "), o % 50).as("shipname"),
      concat(lit("SAddr "), o % 1000).as("shipaddress"),
      concat(lit("SCity "), col("o_custkey") % 100).as("shipcity"),
      (o % 5).cast("string").as("shipregion"),
      (lit(30000) + o % 60000).cast("string").as("shippostalcode"),
      concat(lit("SCountry "), o % 25).as("shipcountry"))
  }

  private def shippedBase: Column =
    when(col("o_orderstatus") === "F", date_add(col("o_orderdate").cast("date"), 7))
      .otherwise(lit(null).cast("date"))

  def orders(s: SparkSession, d: String, cycle: Int): DataFrame = {
    val o = read(s, d, "orders")
    val k = col("o_orderkey")
    val late = k % 13 === 5
    val upd = k % 11 === 4
    val del = k % 101 === 7
    val base = orderCols(shippedBase)
    val history = o.filter(!late).select(base ++ ev(t1, "I"): _*)
      .unionByName(o.filter(late).select(base ++ ev(t2, "I"): _*))
      .unionByName(o.filter(!late && upd)
        .select(orderCols(date_add(col("o_orderdate").cast("date"), 10)) ++ ev(t2, "I"): _*))
      .unionByName(o.filter(!late && !upd && del).select(base ++ ev(t2, "D"): _*))
    cut(history, cycle)
  }

  // --------------------------------------------------------- order_details

  private def detailCols(qty: Column): Seq[Column] = Seq(
    (col("l_orderkey") + 1).as("orderid"),
    (col("l_partkey") + 1).as("productid"),
    (col("l_partkey") % 500).cast("double").as("unitprice"),
    qty.as("quantity"),
    (col("l_linenumber").cast("double") / 10).as("discount"))

  def orderDetails(s: SparkSession, d: String, cycle: Int): DataFrame = {
    // one row per (order, product): first lineitem by line number (quantity
    // tiebreak — the testdata has duplicate line numbers per (order, part)).
    // NOT persisted despite feeding three union branches: caching would pin
    // the window's 32 shuffle partitions (cached plans keep their
    // partitioning), turning the staging CTAS into a 96-file write — AQE's
    // post-shuffle coalesce on the uncached plan is the cheaper barrier
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey", "l_partkey").orderBy("l_linenumber", "l_quantity")
    val li = read(s, d, "lineitem")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val k = col("l_orderkey")
    val late = k % 13 === 5
    val upd = k % 9 === 2
    val qty = col("l_quantity").cast("int")
    val history = li.filter(!late).select(detailCols(qty) ++ ev(t1, "I"): _*)
      .unionByName(li.filter(late).select(detailCols(qty) ++ ev(t2, "I"): _*))
      .unionByName(li.filter(!late && upd).select(detailCols(qty + 1) ++ ev(t2, "I"): _*))
    cut(history, cycle)
  }

  // -------------------------------------------------------------- products

  private def productCols(name: Column): Seq[Column] = {
    val p = col("p_partkey")
    Seq(
      (p + 1).as("productid"),
      name.as("productname"),
      (p % 100 + 1).as("supplierid"),
      (p % 10 + 1).as("categoryid"),
      concat(col("p_size"), lit(" per box")).as("quantityperunit"),
      (p % 200).cast("double").as("unitprice"),
      col("p_size").as("unitsinstock"),
      (p % 7).cast("int").as("unitsonorder"),
      (p % 5).cast("int").as("reorderlevel"),
      (p % 20 === 0).as("discontinued"))
  }

  def products(s: SparkSession, d: String, cycle: Int): DataFrame = {
    val p = read(s, d, "part")
    val k = col("p_partkey")
    val upd = k % 10 === 3
    val del = k % 100 === 17
    val base = productCols(col("p_name"))
    val history = p.select(base ++ ev(t1, "I"): _*)
      .unionByName(p.filter(upd)
        .select(productCols(concat(col("p_name"), lit(" v2"))) ++ ev(t2, "I"): _*))
      .unionByName(p.filter(del).select(base ++ ev(t2, "D"): _*))
    cut(history, cycle)
  }

  // ------------------------------------------- generated small dimensions

  /** suppliers 1..100; supplier 5 renames at T2. */
  def suppliers(s: SparkSession, d: String, cycle: Int): DataFrame = {
    def cols(name: Column): Seq[Column] = {
      val i = col("id")
      Seq(
        i.cast("int").as("supplierid"),
        name.as("companyname"),
        concat(lit("SContact "), i).as("contactname"),
        lit("Rep").as("contacttitle"),
        concat(lit("SupAddr "), i).as("address"),
        concat(lit("SupCity "), i % 10).as("city"),
        (i % 5).cast("string").as("region"),
        (lit(20000) + i).cast("string").as("postalcode"),
        concat(lit("SupCountry "), i % 7).as("country"),
        concat(lit("557-"), i).as("phone"),
        when(i % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("558-"), i)).as("fax"),
        concat(lit("sup"), i, lit(".example")).as("homepage"))
    }
    val r = s.range(1, 101, 1, 1)
    val history = r.select(cols(concat(lit("Supplier "), col("id"))) ++ ev(t1, "I"): _*)
      .unionByName(r.filter(col("id") === 5)
        .select(cols(lit("Supplier 5 Updated")) ++ ev(t2, "I"): _*))
    cut(history, cycle)
  }

  /** categories 1..10, static. */
  def categories(s: SparkSession, d: String, cycle: Int): DataFrame =
    s.range(1, 11, 1, 1).select(
      col("id").cast("int").as("categoryid"),
      concat(lit("Category "), col("id")).as("categoryname"),
      concat(lit("Desc "), col("id")).as("description"),
      lit(null).cast("string").as("picture")) // no codecs: blob stays NULL
      .select(col("*") +: ev(t1, "I"): _*)

  /** employees 1..10 (dummy member 0 stays collision-free); employee 3
    * changes title at T2. */
  def employees(s: SparkSession, d: String, cycle: Int): DataFrame = {
    def cols(title: Column): Seq[Column] = {
      val i = col("id")
      Seq(
        i.cast("int").as("EmployeeID"),
        concat(lit("Last "), i).as("LastName"),
        concat(lit("First "), i).as("FirstName"),
        title.as("title"),
        lit("Mx.").as("TitleOfCourtesy"),
        date_add(to_date(lit("1970-01-01")), (col("id") * 100).cast("int")).as("BirthDate"),
        concat(lit("EAddr "), i).as("address"),
        concat(lit("ECity "), i % 4).as("city"),
        (i % 5).cast("string").as("region"),
        (lit(40000) + i).cast("string").as("PostalCode"),
        concat(lit("ECountry "), i % 3).as("country"),
        concat(lit("559-"), i).as("HomePhone"),
        (lit(100) + i).cast("string").as("extension"),
        lit(null).cast("string").as("photo"),
        lit(null).cast("string").as("notes"),
        when(i === 1, lit(null).cast("int")).otherwise(lit(1)).as("ReportsTo"),
        lit(null).cast("string").as("PhotoPath"))
    }
    val r = s.range(1, 11, 1, 1)
    val history = r.select(cols(concat(lit("Title "), col("id") % 3)) ++ ev(t1, "I"): _*)
      .unionByName(r.filter(col("id") === 3).select(cols(lit("Senior Title")) ++ ev(t2, "I"): _*))
    cut(history, cycle)
  }

  /** shippers 1..3; shipper 2 changes phone at T2. */
  def shippers(s: SparkSession, d: String, cycle: Int): DataFrame = {
    def cols(phone: Column): Seq[Column] = Seq(
      col("id").cast("int").as("shipperid"),
      phone.as("phone"),
      concat(lit("Shipper "), col("id")).as("companyname"))
    val r = s.range(1, 4, 1, 1)
    val history = r.select(cols(concat(lit("560-"), col("id"))) ++ ev(t1, "I"): _*)
      .unionByName(r.filter(col("id") === 2).select(cols(lit("560-22")) ++ ev(t2, "I"): _*))
    cut(history, cycle)
  }

  /** regions 0..4, static. */
  def region(s: SparkSession, d: String, cycle: Int): DataFrame =
    s.range(0, 5, 1, 1).select(
      col("id").cast("int").as("RegionID"),
      concat(lit("Region "), col("id")).as("RegionDescription"))
      .select(col("*") +: ev(t1, "I"): _*)

  /** territories 0..19 → region id % 5, static. */
  def territories(s: SparkSession, d: String, cycle: Int): DataFrame =
    s.range(0, 20, 1, 1).select(
      col("id").cast("string").as("TerritoryID"),
      concat(lit("Territory "), col("id")).as("TerritoryDescription"),
      (col("id") % 5).cast("int").as("RegionID"))
      .select(col("*") +: ev(t1, "I"): _*)

  /** employee e holds territories e-1 and e+9, static. */
  def employeeTerritories(s: SparkSession, d: String, cycle: Int): DataFrame = {
    val r = s.range(1, 11, 1, 1)
    r.select(col("id").cast("int").as("EmployeeID"),
        (col("id") - 1).cast("string").as("TerritoryID"))
      .unionByName(r.select(col("id").cast("int").as("EmployeeID"),
        (col("id") + 9).cast("string").as("TerritoryID")))
      .select(col("*") +: ev(t1, "I"): _*)
  }
}
