package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{bround, col}
import org.apache.spark.sql.types.DoubleType

/** Sinks (SURVEY.md §2.1 S2-S7; ref: data/etl.py:264-386): CSV,
  * Parquet, and JDBC warehouse writes with the reference's per-sink
  * column conventions, plus the format-dispatching `load`.
  *
  * Scale: the csv, parquet, PostgreSQL and MySQL writers are
  * distributed `df.write`s — one file or one inserter per partition, no
  * driver materialization. The embedded warehouse ([[embeddedSink]],
  * the sqlite role) has one writer per table instead: the reference
  * loads it through one connection (etl.py:292-303) and SQLite takes
  * one writer at a time. `Pipeline.run`'s tables are persisted and the
  * default format order puts `sqlite` last, so its input is already
  * materialized by the csv and parquet writes; with `sqlite` alone, the
  * frame's last stage runs in that one task.
  */
object Load {

  /** S2 — CSV with headers (ref: etl.py:264-274). */
  def writeCsv(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").option("header", "true").csv(s"$outDir/csv/$name")
    }

  /** S3 — Parquet (ref: etl.py:276-290). The reference's str-cast of
    * object columns is a pandas-only workaround; Spark columns are
    * already typed. */
  def writeParquet(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/parquet/$name")
    }

  /** SQL-sink column conventions from the reference: lowercase names
    * (PostgreSQL/MySQL, ref: etl.py:328,352 — SQLite keeps original
    * case, etl.py:292-303) and HALF_EVEN 2dp rounding of doubles
    * (MySQL, ref: etl.py:356-357 — pandas `round` is half-even, so
    * `bround`, not `round`). */
  def sqlSinkShape(df: DataFrame, roundDoubles: Boolean,
                   lowercaseCols: Boolean = true): DataFrame = {
    val lowered =
      if (lowercaseCols) df.toDF(df.columns.map(_.toLowerCase): _*) else df
    if (!roundDoubles) lowered
    else lowered.schema.fields.filter(_.dataType == DoubleType)
      .foldLeft(lowered)((d, f) => d.withColumn(f.name, bround(col(f.name), 2)))
  }

  /** S4-S6 — JDBC warehouse write (SQLite/PostgreSQL/MySQL in the
    * reference; ref: etl.py:292-362). Database-agnostic: Spark's JDBC
    * dialect registry picks the DDL per URL. The sqlite/postgres/mysql
    * driver jars are not in this offline image, so the e2e test runs
    * the same code path against embedded Derby (PipelineSpec), which
    * ships with Spark.
    *
    * A `numPartitions` prop is applied here, as a coalesce of the
    * shaped frame. Spark's writer would coalesce too, but it first
    * reads the frame's partition count, which under AQE runs the
    * shuffle stages, and then writes a new plan that runs them again;
    * on an already coalesced frame it writes the same Dataset. */
  def writeJdbc(tables: Map[String, DataFrame], url: String,
                props: java.util.Properties, roundDoubles: Boolean = false,
                lowercaseCols: Boolean = true): Unit =
    tables.foreach { case (name, df) =>
      val shaped = sqlSinkShape(df, roundDoubles, lowercaseCols)
      Option(props.getProperty("numPartitions")).fold(shaped)(n => shaped.coalesce(n.toInt))
        .write.mode("overwrite").jdbc(url, name, props)
    }

  /** A JDBC endpoint for the string-format dispatch: connection URL
    * plus driver properties (Spark's dialect registry shapes DDL per
    * URL, so the same endpoint type serves every SQL sink). */
  final case class JdbcSink(url: String, props: java.util.Properties)

  /** The zero-config embedded warehouse under `outDir` — the sqlite
    * role of the reference's default format list (etl.py:366-367,
    * 292-303: `load_to_sqlite` needs no config and writes
    * `output_dir/sales_data.db`). The sqlite driver jar is not in this
    * offline image; embedded Derby is the in-image analog (file-backed,
    * zero-server, ships with Spark), landing at `outDir/sales_data.db/`
    * so the default `load(tables, outDir)` call matches the
    * reference's shape end-to-end.
    *
    * One writer per table: `numPartitions=1` makes [[writeJdbc]]
    * coalesce each table to one insert task, as the reference's one
    * SQLite connection does. Concurrent inserters into one Derby heap
    * cost bytes: the sf0.01 transactions table (2 partitions) into a
    * fresh DB took 52–56 MB of writes with two inserters and 39 MB with
    * one, and the five-table DB's `seg0` went from 19.5–22 MB to 13 MB.
    * Reads ignore `numPartitions` without a `partitionColumn`, so the
    * same props read the table back. */
  def embeddedSink(outDir: String): JdbcSink = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    props.setProperty("numPartitions", "1")
    JdbcSink(s"jdbc:derby:$outDir/sales_data.db;create=true", props)
  }

  /** S7 — format dispatcher (ref: etl.py:364-386): accepts the
    * reference's full format-string list AND its default
    * `csv/parquet/sqlite` (etl.py:367). SQL formats route through
    * [[writeJdbc]] with the reference's per-sink shaping — `sqlite`
    * keeps column case (etl.py:292-303), `postgres` lowercases
    * (etl.py:328), `mysql` lowercases + HALF_EVEN-rounds doubles
    * (etl.py:352-357). `sqlite` defaults to the zero-config
    * [[embeddedSink]] derived from `outDir`, mirroring the reference's
    * config-free `load_to_sqlite`; postgres/mysql require their
    * endpoint (the reference requires pg/mysql configs the same way). */
  def load(tables: Map[String, DataFrame], outDir: String,
           formats: Seq[String] = Seq("csv", "parquet", "sqlite"),
           sqlite: Option[JdbcSink] = None,
           postgres: Option[JdbcSink] = None,
           mysql: Option[JdbcSink] = None): Unit = {
    def endpoint(fmt: String, s: Option[JdbcSink]): JdbcSink =
      s.getOrElse(throw new IllegalArgumentException(
        s"format '$fmt' requested but no $fmt JdbcSink endpoint supplied"))
    formats.foreach {
      case "csv" => writeCsv(tables, outDir)
      case "parquet" => writeParquet(tables, outDir)
      case "sqlite" =>
        val e = sqlite.getOrElse(embeddedSink(outDir))
        writeJdbc(tables, e.url, e.props, roundDoubles = false, lowercaseCols = false)
      case "postgres" =>
        val e = endpoint("postgres", postgres)
        writeJdbc(tables, e.url, e.props, roundDoubles = false)
      case "mysql" =>
        val e = endpoint("mysql", mysql)
        writeJdbc(tables, e.url, e.props, roundDoubles = true)
      case other => throw new IllegalArgumentException(
        s"unknown sink format '$other' " +
          "(expected csv | parquet | sqlite | postgres | mysql)")
    }
  }
}
