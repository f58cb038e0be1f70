package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.etl.{Load, Pipeline, Tables, Transactions}

/** End-to-end pipeline + sink tests (ref: etl.py:390-413, 264-386). */
class PipelineSpec extends SparkSpec {

  test("run(): five tables, sane cardinalities, csv+parquet+sqlite written") {
    val out = tempDir("graft_pipeline").toString
    val counts = Pipeline.run(spark, sfDir, out)
    assert(counts.keySet === Set("transactions", "customer_summary",
      "product_summary", "daily_sales", "country_summary"))
    assert(counts("transactions") === 6000L)
    assert(counts("customer_summary") === 150L)
    assert(counts("country_summary") === 25L)
    // parquet roundtrip preserves values
    val rt = spark.read.parquet(s"$out/parquet/country_summary")
    assert(rt.count() === 25L)
    // csv written with header
    val csv = spark.read.option("header", "true").csv(s"$out/csv/country_summary")
    assert(csv.count() === 25L && csv.columns.contains("TotalRevenue"))
    // run()'s default format list is the reference's csv/parquet/sqlite
    // (etl.py:367) — the zero-config embedded warehouse must land too
    val wh = Load.embeddedSink(out)
    val sq = spark.read.jdbc(wh.url, "country_summary", wh.props)
    assert(sq.count() === 25L && sq.columns.contains("TotalRevenue"))
  }

  test("Transactions.raw: one row per lineitem, in the reference's ten columns (etl.py:44-54)") {
    val raw = Transactions.raw(spark, sfDir)
    assert(raw.columns.toSeq === Seq("InvoiceNo", "StockCode", "Description", "Quantity",
      "InvoiceDate", "UnitPrice", "CustomerID", "CountryRaw", "TotalAmount", "LineNumber"))
    assert(raw.count() === Tables.lineitem(spark, sfDir).count(),
      "a lineitem lost or duplicated by the order/customer/nation/part joins")
  }

  test("Transactions.raw: C-prefixed invoices are exactly the F-status orders; money per line") {
    // an independent driver-side derivation from lineitem and orders,
    // compared as a multiset: (orderkey, linenumber) is not a key in
    // the fixture
    val status = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .collect().map { l =>
        val key = l.getLong(0)
        val (qty, ext, disc) = (l.getDouble(3), l.getDouble(4), l.getDouble(5))
        (if (status(key) == "F") s"C$key" else key.toString, l.getInt(1), l.getLong(2).toString,
          qty.toLong, ext / qty, ext * (1.0 - disc))
      }.toSeq
    val got = Transactions.raw(spark, sfDir)
      .select("InvoiceNo", "LineNumber", "StockCode", "Quantity", "UnitPrice", "TotalAmount").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toSeq
    assert(expected.exists(_._1.startsWith("C")) && expected.exists(!_._1.startsWith("C")),
      "the fixture must hold both kinds of invoice")
    assert(got.sorted === expected.sorted)
  }

  test("sqlSinkShape: lowercase names + bround half-even (⚠R, etl.py:328,356)") {
    import spark.implicits._
    val df = Seq((1, 2.675, 2.665)).toDF("Id", "A", "B")
    val shaped = Load.sqlSinkShape(df, roundDoubles = true)
    assert(shaped.columns.toSeq === Seq("id", "a", "b"))
    val r = shaped.head()
    // bround is HALF_EVEN on the shortest decimal representation
    assert(r.getDouble(1) === 2.68) // 2.675 -> .675 rounds to even .68
    assert(r.getDouble(2) === 2.66) // 2.665 -> rounds to even .66
  }

  test("JDBC warehouse sink e2e on embedded Derby (S4-S6, etl.py:292-362)") {
    // Derby ships in /opt/spark/jars, so the writeJdbc path runs for
    // real here: all five tables out through mode(overwrite) JDBC with
    // the reference's SQL-sink shape, then read back and compared.
    val dbDir = tempDir("graft_derby").toString
    val url = s"jdbc:derby:$dbDir/wh;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val tables = Pipeline.transform(spark, sfDir)
    Load.writeJdbc(tables, url, props, roundDoubles = true)
    tables.foreach { case (name, df) =>
      val shaped = Load.sqlSinkShape(df, roundDoubles = true)
      val back = spark.read.jdbc(url, name, props)
      assert(back.count() === df.count(), s"$name JDBC roundtrip count")
      assert(back.columns.toSeq === shaped.columns.toSeq, s"$name JDBC columns")
    }
    // exact value roundtrip on the smallest table
    val shaped = Load.sqlSinkShape(tables("country_summary"), roundDoubles = true)
    val got = spark.read.jdbc(url, "country_summary", props)
      .orderBy("country").collect().map(_.toSeq)
    val want = shaped.orderBy("country").collect().map(_.toSeq)
    assert(got.length === 25 && got.toSeq === want.toSeq)
    // overwrite mode really replaces (run twice, same counts)
    Load.writeJdbc(Map("country_summary" -> tables("country_summary")), url, props)
    assert(spark.read.jdbc(url, "country_summary", props).count() === 25L)
  }

  test("load() dispatches the reference's full format-string list incl. SQL sinks (S7, etl.py:364-386)") {
    // the reference's default list is ['csv','parquet','sqlite']
    // (etl.py:368); each SQL format maps to writeJdbc with its own
    // shaping — sqlite keeps column case, mysql rounds doubles
    val out = tempDir("graft_dispatch").toString
    val dbDir = tempDir("graft_derby_dispatch").toString
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    def sink(db: String) =
      Load.JdbcSink(s"jdbc:derby:$dbDir/$db;create=true", props)
    val tables = Map("country_summary" ->
      Pipeline.transform(spark, sfDir)("country_summary"))
    Load.load(tables, out,
      formats = Seq("csv", "parquet", "sqlite", "postgres", "mysql"),
      sqlite = Some(sink("sq")), postgres = Some(sink("pg")),
      mysql = Some(sink("my")))
    assert(spark.read.parquet(s"$out/parquet/country_summary").count() === 25L)
    assert(spark.read.option("header", "true").csv(s"$out/csv/country_summary").count() === 25L)
    // sqlite shape: ORIGINAL column case (etl.py:292-303 does not lowercase)
    val sq = spark.read.jdbc(sink("sq").url, "country_summary", props)
    assert(sq.columns.contains("TotalRevenue"), s"sqlite shape lost case: ${sq.columns.toSeq}")
    // postgres shape: lowercased, values unrounded
    val pg = spark.read.jdbc(sink("pg").url, "country_summary", props)
    assert(pg.columns.contains("totalrevenue"))
    // mysql shape: lowercased AND doubles bround(2)
    val my = spark.read.jdbc(sink("my").url, "country_summary", props)
    val wantMy = Load.sqlSinkShape(tables("country_summary"), roundDoubles = true)
    assert(my.orderBy("country").collect().map(_.toSeq).toSeq ===
      wantMy.orderBy("country").collect().map(_.toSeq).toSeq)
    assert(pg.count() === 25L && sq.count() === 25L)
    // the reference's DEFAULT call shape is zero-config (etl.py:367:
    // formats = ['csv','parquet','sqlite'], load_to_sqlite derives its
    // db from output_dir) — load(tables, outDir) mirrors it, landing
    // the embedded warehouse at outDir/sales_data.db
    val out2 = tempDir("graft_dispatch_default").toString
    Load.load(tables, out2)
    assert(spark.read.parquet(s"$out2/parquet/country_summary").count() === 25L)
    val defSink = Load.embeddedSink(out2)
    val sq2 = spark.read.jdbc(defSink.url, "country_summary", defSink.props)
    assert(sq2.count() === 25L && sq2.columns.contains("TotalRevenue"))
    // postgres/mysql without their endpoint still fail loudly, like
    // the reference requiring pg_config for postgres
    val e = intercept[IllegalArgumentException] {
      Load.load(tables, out, formats = Seq("postgres"))
    }
    assert(e.getMessage.contains("postgres"))
  }

  test("the embedded warehouse has one writer per table, and its own props read the table back") {
    // the reference loads sqlite through one connection (etl.py:292-303):
    // a 4-partition frame must insert in one task, not four, and its
    // shuffle must run once: 4 map tasks, not a second 4 for the
    // coalesced plan
    val df = spark.range(0, 400, 1, 4).select(
      col("id"),
      timestamp_seconds(col("id") * 3607 + 1294128000L).as("InvoiceDate"),
      (col("id") * 1.25).cast("decimal(12,2)").as("TotalPrice"),
      concat(lit("item-"), col("id")).as("Description"))
      .repartition(4)
    val out = tempDir("graft_one_writer").toString
    // the insert stage is the write's only result stage; the shuffle
    // runs as map tasks
    val insertTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val mapTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        t.taskType match {
          case "ResultTask" => insertTasks.incrementAndGet()
          case "ShuffleMapTask" => mapTasks.incrementAndGet()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Load.load(Map("t" -> df), out, formats = Seq("sqlite"))
      // listener delivery is async: wait for the count to go quiet
      eventually(timeout(30.seconds)) { assert(insertTasks.get() > 0) }
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(insertTasks.get() === 1, "insert stage tasks")
    assert(mapTasks.get() === 4, "shuffle map tasks")
    val wh = Load.embeddedSink(out)
    val back = spark.read.jdbc(wh.url, "t", wh.props)
    assert(back.columns.toSeq === df.columns.toSeq)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ===
      df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("writeJdbc only coalesces down: no numPartitions, or one above the frame's, keeps a writer per partition") {
    val df = spark.range(0, 400, 1, 4).select(col("id"), (col("id") * 2).as("twice"))
    val url = s"jdbc:derby:${tempDir("graft_jdbc_parts")}/wh;create=true"
    Seq(None, Some("8")).foreach { parts =>
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      parts.foreach(props.setProperty("numPartitions", _))
      val insertTasks = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskType == "ResultTask") insertTasks.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Load.writeJdbc(Map("t" -> df), url, props)
        // listener delivery is async: wait for the count to go quiet
        eventually(timeout(30.seconds)) { assert(insertTasks.get() > 0) }
        Thread.sleep(500)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(insertTasks.get() === 4, s"insert tasks with numPartitions=$parts")
      assert(spark.read.jdbc(url, "t", props).orderBy("id").collect().map(_.toSeq).toSeq ===
        df.orderBy("id").collect().map(_.toSeq).toSeq, s"read-back with numPartitions=$parts")
    }
  }

  test("transform materializes each summary once; invalidate releases it with the cleaned table") {
    val summaries = Seq("customer_summary", "product_summary", "daily_sales", "country_summary")
    val tables = Pipeline.transform(spark, sfDir)
    Load.writeParquet(tables, tempDir("graft_once").toString)
    val level = tables("transactions").storageLevel
    summaries.foreach { t =>
      assert(tables(t).storageLevel === level, s"$t not persisted at the cleaned level")
    }
    // a second transform on the same cleaned table reuses the frames
    val again = Pipeline.transform(spark, sfDir)
    (summaries :+ "transactions").foreach(t => assert(again(t) eq tables(t), s"$t rebuilt"))
    // a count reads the stored summary, not a recompute from the cleaned cache
    def storedAs(df: DataFrame): Int = df.queryExecution.optimizedPlan match {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
      case p => fail(s"not materialized:\n$p")
    }
    val ids = (summaries :+ "transactions").map(t => t -> storedAs(tables(t))).toMap
    summaries.foreach { t =>
      val reads = tables(t).groupBy().count().queryExecution.optimizedPlan.collect {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
      }
      assert(reads === Seq(ids(t)), s"$t count does not read its stored result")
      assert(tables(t).count() > 0)
    }
    def stored() = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    ids.foreach { case (t, id) => assert(stored()(id), s"$t holds no block") }
    Transactions.invalidate(spark)
    eventually(timeout(30.seconds)) {
      ids.foreach { case (t, id) => assert(!stored()(id), s"$t still holds blocks") }
    }
  }
}
