package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Sinks (SURVEY.md §2.1 S2-S7; ref: data/etl.py:264-386): CSV,
  * Parquet, and JDBC warehouse writes with the reference's per-sink
  * column conventions, plus the format-dispatching `load`.
  *
  * Scale: every writer is a distributed `df.write` — one file per
  * partition, no driver materialization. For warehouse-grade layouts,
  * [[writeParquetPartitioned]] adds partition pruning (`partitionBy`)
  * for downstream readers.
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

  /** Partitioned parquet for scale: hive-style partition dirs enable
    * partition pruning for any downstream reader. */
  def writeParquetPartitioned(df: DataFrame, outDir: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)

  /** COMPACTED parquet write — the small-files antidote. A 100 TB
    * pipeline stage that inherits its parent's partitioning can emit
    * thousands of KB-sized files (one per task); downstream jobs then
    * pay a task per file and the namenode pays per object. This sizes
    * the output from the optimizer's own size estimate instead:
    * `ceil(stats.sizeInBytes / target)` partitions via round-robin
    * repartition (even sizes, no key skew). For plain scans the
    * estimate is the on-disk input size (× `fileCompressionFactor`),
    * which matches a rewrite's output closely; for derived plans it
    * is the optimizer's in-memory upper bound, so files land at or
    * under `targetMB`. Callers needing exact file sizes do a second
    * metadata-only pass. Returns the partition count it chose. */
  def writeCompacted(df: DataFrame, outDir: String, targetMB: Int = 128): Int = {
    require(targetMB >= 1, s"targetMB must be >= 1, got $targetMB")
    val target = BigInt(targetMB.toLong << 20)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (((bytes + target - 1) / target) max BigInt(1) min BigInt(1 << 20)).toInt
    df.repartition(n).write.mode("overwrite").parquet(outDir)
    n
  }

  /** Z-ORDERED parquet write — multi-dimensional clustering for
    * stats-based skipping. A layout sorted on one column prunes
    * predicates on that column only: every file still spans the full
    * range of every OTHER column, so a reader filtering on a second
    * dimension must touch all of them. Interleaving the bits of
    * several dimensions into one Morton code and range-partitioning +
    * sorting on it bounds each file in a small hyper-rectangle of ALL
    * `dims` at once — parquet footer min/max stats then let any
    * engine's row-group/file skipping (Spark's parquet filter
    * pushdown included) discard most files for a multi-dimensional
    * box predicate. This is the standard lakehouse `OPTIMIZE ZORDER
    * BY` layout, expressed as a plain write.
    *
    * Mechanics: each dimension is min/max-scaled into `63 / n` bits
    * (NULL → origin), interleaved by the codegen'd `zorder_long`
    * native expression, then `repartitionByRange(nFiles)` over the
    * code (contiguous curve segments → one file each, even sizes via
    * range sampling) with a within-partition sort. The helper column
    * is dropped before the write.
    *
    * Scale: one narrow stats pass (skipped when `bounds` is given —
    * at 100 TB the bounds come from catalog stats or are fixed by the
    * schema), one range shuffle of the payload, distributed local
    * sorts — no global sort, no driver materialization. The write
    * amortizes over every subsequent multi-dim scan, same trade as
    * the bucketed-join and IVF layouts. */
  def writeZOrdered(df: DataFrame, dims: Seq[String], outDir: String,
                    nFiles: Int,
                    bounds: Map[String, (Double, Double)] = Map.empty): Unit = {
    require(dims.size >= 2, s"z-order needs >= 2 dims, got ${dims.size}")
    require(dims.size <= 8, s"z-order supports <= 8 dims, got ${dims.size}")
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val bits = 63 / dims.size
    val maxV = (1L << bits) - 1
    val known = dims.forall(bounds.contains)
    val st: Map[String, (Double, Double)] =
      if (known) {
        // caller-supplied bounds get the same loud validation as the
        // computed path: a NaN/infinite or inverted (mn >= mx) bound
        // would otherwise silently scale the dimension to constant 0
        // and the multi-dim skipping property would quietly not hold
        dims.foreach { d =>
          val (mn, mx) = bounds(d)
          require(!mn.isNaN && !mx.isNaN && !mn.isInfinite && !mx.isInfinite,
            s"z-order dim '$d' has non-finite supplied bounds ($mn, $mx)")
          require(mx > mn,
            s"z-order dim '$d' has degenerate supplied bounds ($mn, $mx): need mn < mx")
        }
        bounds
      } else {
        val aggs = dims.flatMap(d => Seq(
          min(col(d).cast(DoubleType)).as(s"mn_$d"),
          max(col(d).cast(DoubleType)).as(s"mx_$d")))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        dims.map { d =>
          // fail loudly rather than silently collapsing the dimension:
          // an all-null column gives null bounds (getAs would unbox to
          // 0.0) and a single NaN row poisons max() (NaN orders
          // greatest) — either way the dim would scale to constant 0
          // and the multi-dim skipping property would quietly not hold
          val (iMn, iMx) = (r.fieldIndex(s"mn_$d"), r.fieldIndex(s"mx_$d"))
          require(!r.isNullAt(iMn) && !r.isNullAt(iMx),
            s"z-order dim '$d' has no non-null values")
          val (mn, mx) = (r.getDouble(iMn), r.getDouble(iMx))
          require(!mn.isNaN && !mx.isNaN && !mn.isInfinite && !mx.isInfinite,
            s"z-order dim '$d' has non-finite bounds ($mn, $mx)")
          d -> ((mn, mx))
        }.toMap
      }
    val scaled = dims.map { d =>
      val (mn, mx) = st(d)
      if (!(mx > mn)) lit(0L)
      else least(lit(maxV), greatest(lit(0L),
        ((col(d).cast(DoubleType) - lit(mn)) / lit(mx - mn) * lit(maxV.toDouble))
          .cast("long")))
    }
    val zcol = "__graft_z"
    df.withColumn(zcol, call_function("zorder_long", array(scaled: _*)))
      .repartitionByRange(nFiles, col(zcol))
      .sortWithinPartitions(zcol)
      .drop(zcol)
      .write.mode("overwrite").parquet(outDir)
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
    * ships with Spark. */
  def writeJdbc(tables: Map[String, DataFrame], url: String,
                props: java.util.Properties, roundDoubles: Boolean = false,
                lowercaseCols: Boolean = true): Unit =
    tables.foreach { case (name, df) =>
      sqlSinkShape(df, roundDoubles, lowercaseCols)
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
    * reference's shape end-to-end. */
  def embeddedSink(outDir: String): JdbcSink = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
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
