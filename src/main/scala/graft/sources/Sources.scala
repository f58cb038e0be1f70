package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Pluggable tabular-source seam (SURVEY.md §2.1 S1).
  *
  * The reference ingests an Excel workbook (`pd.read_excel`, ref:
  * data/etl.py:44-54); this engine's substrate is the driver's parquet
  * star schema. Both are instances of the same contract: "read one
  * table at `path` with a DECLARED schema" — never `inferSchema`, so
  * scans stay deterministic, columns prune, and a schema drift fails
  * loudly at read time instead of corrupting downstream types.
  *
  * Scale: each implementation returns a plain lazy scan (no
  * repartition/cache), so Catalyst pushes filters/projections into the
  * source and AQE sizes shuffles per query. A 100 TB deployment swaps
  * the source object, not the pipeline.
  *
  * Kept with no engine caller: it is the reference's Extract step (S1,
  * `pd.read_excel`, etl.py:44-54; SURVEY.md:119), reached through
  * `Tables.via`.
  */
trait TabularSource {
  def name: String
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame
}

/** Columnar default — the driver testdata substrate. */
object ParquetSource extends TabularSource {
  val name = "parquet"
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
}

/** Header CSV with declared schema (the text-interchange path; also the
  * practical stand-in for spreadsheet exports in this offline image). */
object CsvSource extends TabularSource {
  val name = "csv"
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)
}

/** JSON-Lines with declared schema — THE interchange format of LLM
  * training-data pipelines (one JSON document per line; splittable,
  * appendable, streamable via `readStream.json`). Never
  * `inferSchema`: like the other sources, a declared schema keeps the
  * scan deterministic and single-pass (inference would read the data
  * twice and can flip types between corpus slices). */
object JsonlSource extends TabularSource {
  val name = "jsonl"
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}

/** ORC — the other columnar format Spark ships natively; same
  * pushdown/pruning behavior as parquet through the same scan
  * interface. */
object OrcSource extends TabularSource {
  val name = "orc"
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)
}

/** Excel source (S1) — the reference's ingest format (`pd.read_excel`,
  * ref: data/etl.py:44-54), read by the from-scratch JDK-only
  * [[Xlsx]] parser (zip + StAX; no connector jar exists in this
  * offline image and none is needed). Row 1 is the header; the
  * declared schema maps positionally, mirroring CsvSource's
  * `header=true` convention. The parse streams on the driver (xlsx is
  * a non-splittable zip with a 1,048,576-row sheet cap — see Xlsx
  * scaladoc for why that is every engine's Excel shape) and rows are
  * parallelized to executors; `path` must be driver-accessible.
  * Everything downstream (Transactions.rawFrom, clean, summaries,
  * sinks) is source-agnostic — SourcesSpec proves the pipeline is
  * row-identical under parquet/CSV/xlsx source swaps. */
object ExcelSource extends TabularSource {
  val name = "xlsx"
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val rows = Xlsx.rows(path, schema)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, math.max(1,
        math.min(spark.sparkContext.defaultParallelism, rows.size / 1000 + 1))),
      schema)
  }
}
