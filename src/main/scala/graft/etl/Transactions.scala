package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Builds the reference-shaped `transactions` table from the star schema
  * and applies the reference's cleaning pipeline.
  *
  * The reference (ref: data/etl.py:31) processes an Online-Retail
  * transactions table; our substrate is the driver's TPC-H-ish star
  * schema, mapped per SURVEY.md §7.2 / FIXTURES.md §B:
  *   InvoiceNo   ≈ o_orderkey ('C'-prefixed when o_orderstatus='F',
  *                 reproducing the cancelled-invoice convention the
  *                 reference detects at etl.py:76)
  *   StockCode   ≈ l_partkey, Description ≈ p_name
  *   Quantity    ≈ l_quantity, InvoiceDate ≈ o_orderdate
  *   UnitPrice   ≈ l_extendedprice / l_quantity
  *   TotalAmount ≈ l_extendedprice * (1 - l_discount)
  *   CustomerID  ≈ o_custkey, Country ≈ nation.n_name via customer
  *
  * Scale notes: the fact-fact join orders⋈lineitem is an equi-join on
  * the orderkey — at 100 TB this is a shuffle (sort-merge or shuffled
  * hash) on a near-uniform key, the canonical scalable shape. customer /
  * part / nation are dimension tables; Catalyst auto-broadcasts them
  * below `autoBroadcastJoinThreshold`, and at true 100 TB scale customer
  * would exceed it and AQE falls back to shuffle join on its own — no
  * code change needed. Nothing here collects to the driver.
  */
object Transactions {

  /** Raw reference-shaped transactions (pre-clean). ref: etl.py:44-54. */
  def raw(spark: SparkSession, dir: String): DataFrame =
    rawFrom(
      Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.customer(spark, dir), Tables.nation(spark, dir),
      Tables.part(spark, dir))

  /** Source-agnostic assembly: the same reference-shaped projection
    * over ANY five input frames with the star-schema columns — the
    * pipeline half of the S1 source seam (the frames may come from
    * parquet, CSV, or an Excel connector via Tables.via; SourcesSpec
    * proves parquet- and CSV-sourced pipelines agree byte-for-byte). */
  def rawFrom(l: DataFrame, o: DataFrame, c: DataFrame,
              nation: DataFrame, p: DataFrame): DataFrame = {
    val n = broadcast(nation)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
      .select(
        when(o("o_orderstatus") === "F",
          concat(lit("C"), o("o_orderkey").cast(StringType)))
          .otherwise(o("o_orderkey").cast(StringType)).as("InvoiceNo"),
        l("l_partkey").cast(StringType).as("StockCode"),
        p("p_name").as("Description"),
        l("l_quantity").cast(LongType).as("Quantity"),
        o("o_orderdate").as("InvoiceDate"),
        (l("l_extendedprice") / l("l_quantity")).as("UnitPrice"),
        o("o_custkey").cast(IntegerType).as("CustomerID"),
        lower(n("n_name")).as("CountryRaw"),
        (l("l_extendedprice") * (lit(1.0) - l("l_discount"))).as("TotalAmount"),
        l("l_linenumber").as("LineNumber"))
  }

  /** Cleaning pipeline, operator-for-operator with the reference
    * (F1-F13 in SURVEY.md §2.2; ref: etl.py:58-107):
    *  F1  drop null CustomerID            (etl.py:66)
    *  F2  drop null Description           (etl.py:70)
    *  F4  IsCancelled = startswith 'C'    (etl.py:76)
    *  F5  keep cancelled rows as-is; non-cancelled need qty>0 ∧ price>0
    *                                      (etl.py:79-84)
    *  F6  TotalAmount                     (etl.py:88)
    *  F8-F11 date parts; DayOfWeek is Monday=0 like pandas `dt.dayofweek`
    *      — Spark `weekday`, NOT `dayofweek` (Sunday=1) (etl.py:92-96)
    *  F12 Description → trim+upper        (etl.py:99)
    *  F13 Country → title-case            (etl.py:102)
    * All predicates/projections are Catalyst expressions → null filters
    * and the qty/price predicate push down into the Parquet scan.
    */
  def clean(txn: DataFrame): DataFrame = {
    txn
      .filter(col("CustomerID").isNotNull)                    // F1
      .filter(col("Description").isNotNull)                   // F2
      .withColumn("IsCancelled", col("InvoiceNo").startsWith("C")) // F4
      .filter(col("IsCancelled") ||
        (col("Quantity") > 0 && col("UnitPrice") > 0))        // F5
      .withColumn("Year", year(col("InvoiceDate")))           // F8
      .withColumn("Month", month(col("InvoiceDate")))         // F8
      .withColumn("DayOfWeek", expr("weekday(InvoiceDate)"))  // F9 Mon=0
      .withColumn("Hour", hour(col("InvoiceDate")))           // F10
      .withColumn("Date", to_date(col("InvoiceDate")))        // F11
      .withColumn("Description", upper(trim(col("Description")))) // F12
      .withColumn("Country", initcap(trim(col("CountryRaw")))) // F13
      .drop("CountryRaw")
  }

  /** Lineitem rows per cleaned-cache partition (r17): the cleaned
    * substrate inherited the lineitem PARQUET SPLIT count — THREE
    * partitions at sf0.1 (one ~40 MB file) — so the map stage of all
    * ~40 downstream summaries ran 3-wide on a 32-core session
    * (JobProfileProbe: the `transactions` sort's exchange-encode stage
    * alone carried 3.4 s of task time across 3 tasks). The spread is
    * row-SIZED like Tables.documentsSpread and APPLIED ONLY when the
    * corpus is too small for the scan to fill the cluster: at real
    * scale the parquet arrives in many splits and the extra shuffle
    * would be pure cost, so the big path keeps the scan layout. */
  val CleanSpreadLineitemRowsPerPartition = 50000L

  private def cleanSpread(spark: SparkSession, dir: String,
                          df: DataFrame): DataFrame = {
    val dp = spark.sparkContext.defaultParallelism
    val rows = Tables.lineitem(spark, dir).count() // footer-cheap
    val w = ((rows + CleanSpreadLineitemRowsPerPartition - 1L)
      / CleanSpreadLineitemRowsPerPartition).min(dp.toLong).max(1L).toInt
    // (InvoiceNo, LineNumber) is unique per row — a uniform spread key
    if (w < dp) df.repartition(w, col("InvoiceNo"), col("LineNumber")) else df
  }

  /** Cleaned transactions for a scale-factor dir (the `self.cleaned_data`
    * analog, ref: etl.py:248), `.cache()`d once per (session, dir) in
    * the [[graft.Substrates]] registry: the reference materializes the
    * cleaned table once and reads it from all four summaries
    * (etl.py:106/114); caching at the clean boundary is the
    * Spark-native equivalent and saves the 5-way join for every
    * downstream query in Verify/Bench. */
  def cleaned(spark: SparkSession, dir: String): DataFrame =
    graft.Substrates.frame(spark, dir, Kind)(
      cleanSpread(spark, dir, clean(raw(spark, dir))).cache())

  /** Registry kind of the cleaned table; frames derived from it and
    * persisted beside it (Pipeline's summaries) extend it. */
  private[etl] val Kind = "transactions"

  /** Release every cleaned table of `spark` (all dirs) and every frame
    * derived from one. */
  def invalidate(spark: SparkSession): Unit =
    graft.Substrates.release(k => (k.spark eq spark) && k.kind.startsWith(Kind))
}
