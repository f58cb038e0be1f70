package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end orchestration — the `SalesETLPipeline.run()` analog
  * (ref: data/etl.py:390-413): extract → clean → four summaries →
  * load, returning the summary row counts the reference prints
  * (ref: etl.py:415-422).
  *
  * Differences by design: the cleaned table is cached once and shared
  * by all four summaries (the reference recomputes its cancelled-filter
  * per summary, etl.py:114/154/181/210). Like the reference's
  * `transform()` (etl.py:251-254), each output table is materialized
  * once: the summaries are persisted at the cleaned table's storage
  * level, so the first sink write computes each one and every other
  * sink and the row count read the stored result. They are registered
  * under the cleaned table's registry kind, so [[Transactions.invalidate]]
  * releases them together with it, newest first.
  */
object Pipeline {

  private val summaries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "customer_summary" -> Summaries.customerSummary,
    "product_summary" -> Summaries.productSummary,
    "daily_sales" -> Summaries.dailySales,
    "country_summary" -> Summaries.countrySummary)

  /** The five output tables keyed like the reference's
    * `transformed_data` dict (ref: etl.py:38-40, 146-257). A second
    * call on the same session and dir returns the same frames until
    * [[Transactions.invalidate]]. */
  def transform(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Map("transactions" -> Transactions.cleaned(spark, dir)) ++
      summaries.map { case (name, build) =>
        name -> graft.Substrates.frame(spark, dir, s"${Transactions.Kind}.summary", name) {
          val cleaned = Transactions.cleaned(spark, dir)
          build(cleaned).persist(cleaned.storageLevel)
        }
      }

  /** Full run: returns per-table row counts (the reference's summary
    * dict, ref: etl.py:415-422). The default format list is the
    * reference's `csv/parquet/sqlite` (etl.py:367) — same default as
    * [[Load.load]], whose zero-config sqlite path lands an embedded-DB
    * warehouse at `outDir/sales_data.db`. */
  def run(spark: SparkSession, dir: String, outDir: String,
          formats: Seq[String] = Seq("csv", "parquet", "sqlite")): Map[String, Long] = {
    val tables = transform(spark, dir)
    Load.load(tables, outDir, formats)
    tables.map { case (name, df) => name -> df.count() }
  }
}
