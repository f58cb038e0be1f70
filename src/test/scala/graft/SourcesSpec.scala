package graft

import java.nio.file.Files

import graft.etl.{Tables, Transactions}
import graft.sources.{CsvSource, ExcelSource, ParquetSource}

/** S1 source-seam tests: the pipeline must be byte-identical under a
  * source swap, and the Excel plug point must fail loudly rather than
  * fake data (ref: data/etl.py:44-54 reads .xlsx). */
class SourcesSpec extends SparkSpec {

  private val starTables = Seq("lineitem", "orders", "customer", "nation", "part")
  private val totalOrder =
    Seq("InvoiceNo", "LineNumber", "StockCode", "Quantity", "TotalAmount", "UnitPrice")

  test("CSV-sourced pipeline equals parquet-sourced pipeline row-for-row") {
    val dir = tempDir("graft_csv_src").toString
    starTables.foreach { n =>
      Tables.via(ParquetSource, spark, sfDir, n)
        .write.mode("overwrite").option("header", "true").csv(s"$dir/$n.csv")
    }
    def collectCleaned(raw: org.apache.spark.sql.DataFrame) =
      Transactions.clean(raw)
        .orderBy(totalOrder.head, totalOrder.tail: _*)
        .collect().map(_.toSeq).toSeq
    val fromCsv = collectCleaned(Transactions.rawFrom(
      Tables.via(CsvSource, spark, dir, "lineitem"),
      Tables.via(CsvSource, spark, dir, "orders"),
      Tables.via(CsvSource, spark, dir, "customer"),
      Tables.via(CsvSource, spark, dir, "nation"),
      Tables.via(CsvSource, spark, dir, "part")))
    val fromParquet = collectCleaned(Transactions.raw(spark, sfDir))
    assert(fromCsv.length === 6000)
    assert(fromCsv === fromParquet)
  }

  test("jsonl- and orc-sourced pipelines equal the parquet-sourced pipeline") {
    import graft.sources.{JsonlSource, OrcSource}
    val dir = tempDir("graft_jsonl_orc_src").toString
    starTables.foreach { n =>
      val df = Tables.via(ParquetSource, spark, sfDir, n)
      df.write.mode("overwrite").json(s"$dir/$n.jsonl")
      df.write.mode("overwrite").orc(s"$dir/$n.orc")
    }
    def collectCleaned(raw: org.apache.spark.sql.DataFrame) =
      Transactions.clean(raw)
        .orderBy(totalOrder.head, totalOrder.tail: _*)
        .collect().map(_.toSeq).toSeq
    def via(src: graft.sources.TabularSource) = collectCleaned(Transactions.rawFrom(
      Tables.via(src, spark, dir, "lineitem"),
      Tables.via(src, spark, dir, "orders"),
      Tables.via(src, spark, dir, "customer"),
      Tables.via(src, spark, dir, "nation"),
      Tables.via(src, spark, dir, "part")))
    val fromParquet = collectCleaned(Transactions.raw(spark, sfDir))
    assert(via(JsonlSource) === fromParquet)
    assert(via(OrcSource) === fromParquet)
  }

  test("avro-sourced pipeline equals parquet-sourced pipeline row-for-row") {
    import graft.sources.AvroSource
    val dir = tempDir("graft_avro_src").toString
    starTables.foreach { n =>
      AvroTestWriter.write(
        Tables.via(ParquetSource, spark, sfDir, n), s"$dir/$n.avro")
    }
    def collectCleaned(raw: org.apache.spark.sql.DataFrame) =
      Transactions.clean(raw)
        .orderBy(totalOrder.head, totalOrder.tail: _*)
        .collect().map(_.toSeq).toSeq
    val fromAvro = collectCleaned(Transactions.rawFrom(
      Tables.via(AvroSource, spark, dir, "lineitem"),
      Tables.via(AvroSource, spark, dir, "orders"),
      Tables.via(AvroSource, spark, dir, "customer"),
      Tables.via(AvroSource, spark, dir, "nation"),
      Tables.via(AvroSource, spark, dir, "part")))
    val fromParquet = collectCleaned(Transactions.raw(spark, sfDir))
    assert(fromAvro.length === 6000)
    assert(fromAvro === fromParquet)
    // a declared field the file lacks must fail loudly, not null-fill
    import org.apache.spark.sql.types._
    val bad = intercept[org.apache.spark.SparkException] {
      AvroSource.read(spark, s"$dir/nation.avro", StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("not_a_field", StringType)))).collect()
    }
    assert(bad.getMessage.contains("not_a_field") ||
      Option(bad.getCause).exists(_.getMessage.contains("not_a_field")))
  }

  test("avro: executor-side opens use the SESSION Hadoop conf, not a fresh default") {
    import graft.sources.AvroSource
    val dir = tempDir("graft_avro_conf").toString
    AvroTestWriter.write(
      Tables.via(ParquetSource, spark, sfDir, "nation"), s"$dir/nation.avro")
    val schema = Tables.via(ParquetSource, spark, sfDir, "nation").schema
    val plain = AvroSource.read(spark, s"$dir/nation.avro", schema)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // the graftfs scheme resolves ONLY through the session conf — a
    // fresh default Configuration (what the executor side used to
    // build) cannot open it. Negative control first, so the FS cache
    // cannot mask it.
    val uri = s"graftfs://$dir/nation.avro"
    intercept[Exception] {
      new org.apache.hadoop.fs.Path(uri)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
    }
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftSessionOnlyFs].getName)
    try {
      val viaSessionFs = AvroSource.read(spark, uri, schema)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(viaSessionFs === plain,
        "session-conf-resolved filesystem read different rows")
    } finally spark.sparkContext.hadoopConfiguration.unset("fs.graftfs.impl")
  }

  test("avro: an existing-but-empty ingest directory reads empty; a missing path errors") {
    import graft.sources.AvroSource
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_avro_empty").toString
    val schema = StructType(Seq(StructField("a", IntegerType)))
    // rotation hasn't delivered yet — a normal ingest state, not an error
    val out = AvroSource.read(spark, dir, schema)
    assert(out.schema === schema)
    assert(out.count() === 0L)
    // a wrong path/glob stays LOUD
    val err = intercept[IllegalArgumentException] {
      AvroSource.read(spark, s"$dir/nope", schema)
    }
    assert(err.getMessage.contains("matched no files"))
  }

  test("avro: one large container file reads across many sync-aligned splits, rows identical") {
    import graft.sources.AvroSource
    val dir = tempDir("graft_avro_split").toString
    // small sync interval -> many blocks in one file (the mega-file
    // shape the round-11 reader serialized to a single task)
    AvroTestWriter.write(
      Tables.via(ParquetSource, spark, sfDir, "lineitem"),
      s"$dir/lineitem.avro", syncInterval = 2048)
    val schema = Tables.via(ParquetSource, spark, sfDir, "lineitem").schema
    val whole = AvroSource.read(spark, s"$dir/lineitem.avro", schema)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    val wholeRows = sortedRows(whole)
    spark.conf.set("spark.graft.avro.splitBytes", "16384")
    try {
      val split = AvroSource.read(spark, s"$dir/lineitem.avro", schema)
      assert(split.rdd.getNumPartitions > 4,
        s"expected many byte-range splits, got ${split.rdd.getNumPartitions}")
      assert(sortedRows(split).toSeq === wholeRows.toSeq,
        "byte-range splits changed the row set")
    } finally spark.conf.unset("spark.graft.avro.splitBytes")
  }

  test("xlsx-sourced pipeline equals parquet-sourced pipeline row-for-row") {
    val dir = tempDir("graft_xlsx_src").toString
    starTables.foreach { n =>
      XlsxTestWriter.write(
        Tables.via(ParquetSource, spark, sfDir, n), s"$dir/$n.xlsx")
    }
    def collectCleaned(raw: org.apache.spark.sql.DataFrame) =
      Transactions.clean(raw)
        .orderBy(totalOrder.head, totalOrder.tail: _*)
        .collect().map(_.toSeq).toSeq
    val fromXlsx = collectCleaned(Transactions.rawFrom(
      Tables.via(ExcelSource, spark, dir, "lineitem"),
      Tables.via(ExcelSource, spark, dir, "orders"),
      Tables.via(ExcelSource, spark, dir, "customer"),
      Tables.via(ExcelSource, spark, dir, "nation"),
      Tables.via(ExcelSource, spark, dir, "part")))
    val fromParquet = collectCleaned(Transactions.raw(spark, sfDir))
    assert(fromXlsx.length === 6000)
    assert(fromXlsx === fromParquet)
  }

  test("xlsx reader picks the FIRST sheet in workbook order and tolerates no shared strings") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_xlsx_multi").toString
    val path = s"$dir/multi.xlsx"
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    // workbook order lists "Data" (rId2 → sheet2.xml) FIRST even though
    // sheet1.xml exists — the reader must follow workbook order via
    // rels, not filename order. No sharedStrings part at all.
    put("xl/workbook.xml",
      """<workbook xmlns:r="http://x"><sheets><sheet name="Data" sheetId="1" r:id="rId2"/><sheet name="Old" sheetId="2" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData><row r="1"><c r="A1"><v>99</v></c></row><row r="2"><c r="A2"><v>-1</v></c></row></sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml",
      """<worksheet><sheetData><row r="1"><c r="A1"><v>0</v></c></row><row r="2"><c r="A2"><v>7</v></c></row><row r="3"><c r="A3"><v>8</v></c></row></sheetData></worksheet>""")
    zos.close()
    val rows = graft.sources.Xlsx.rows(path,
      StructType(Seq(StructField("v", IntegerType))))
    assert(rows.map(_.getAs[Int](0)).toSeq === Seq(7, 8),
      "reader must take the sheet the workbook lists first (sheet2.xml)")
  }

  test("xlsx reader handles Excel serial timestamps, booleans, and blank cells") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_xlsx_mini").toString
    val path = s"$dir/mini.xlsx"
    // hand-built sheet: serial-number date cell (the numeric-timestamp
    // path XlsxTestWriter never emits), a boolean, and a missing cell
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns:r="http://x"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>ts</t></is></c><c r="B1" t="inlineStr"><is><t>ok</t></is></c><c r="C1" t="inlineStr"><is><t>x</t></is></c></row>
        |<row r="2"><c r="A2"><v>25569.5</v></c><c r="B2" t="b"><v>1</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("ok", BooleanType),
      StructField("x", DoubleType)))
    val rows = graft.sources.Xlsx.rows(path, schema)
    assert(rows.length === 1)
    // serial 25569.5 = 1970-01-01 12:00 UTC
    assert(rows.head.getAs[java.sql.Timestamp](0).getTime === 43200000L)
    assert(rows.head.getAs[Boolean](1) === true)
    assert(rows.head.isNullAt(2), "missing cell must read as null")
  }
}

/** Test-only FileSystem for the `graftfs` scheme, registered ONLY in
  * the session's Hadoop conf (never in any default/core-site) — so a
  * successful open through it PROVES the session conf reached the
  * resolution site, and a code path that rebuilds `new Configuration()`
  * fails with "No FileSystem for scheme". Delegates to the local FS;
  * Hadoop instantiates it reflectively (public, no-arg). */
class GraftSessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}
