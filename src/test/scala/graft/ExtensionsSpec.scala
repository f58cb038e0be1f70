package graft

import org.apache.spark.sql.SparkSession

/** GraftExtensions, installed by GraftSession.builder, is the only way a
  * native function reaches a session: every function must be
  * SQL-callable on every session kind with no register call. */
class ExtensionsSpec extends SparkSpec {

  test("extensions-installed session evaluates all graft functions") {
    // getOrCreate returns any existing default session, so clear the
    // registries first; the builder then creates a FRESH session whose
    // state is built with the extensions, reusing the JVM's
    // SparkContext. Never stop() here — that would kill the context
    // shared with the other suites.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.builder(defaultCpus = 2)
      .appName("graft-extensions-spec")
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT
          |  long_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
          |  quantize_vec(array(CAST(0.5 AS FLOAT))) AS q,
          |  token_stats('the cat sat') AS ts,
          |  token_fingerprint('a b a') AS tf,
          |  token_shingles('a b c d') AS sh,
          |  simhash_bits('a b c') AS sb,
          |  zorder_long(array(3L, 3L)) AS z,
          |  rolling_chunks('short') AS rc,
          |  ahash_bands('some sample text body') AS ab,
          |  phash_bands('some sample text body') AS pb,
          |  audiofp_bands('some sample text body') AS fb
          |""".stripMargin).head()
      assert(r.getAs[Long]("d") === 32L)
      assert(r.getAs[Seq[Long]]("q") === Seq(5000L))
      assert(r.getAs[org.apache.spark.sql.Row]("ts").getAs[Int]("NTokens") === 3)
      assert(r.getAs[org.apache.spark.sql.Row]("tf")
        .getAs[String]("Fingerprint").length === 32)
      assert(r.getAs[Seq[String]]("sh") === Seq("a b c", "b c d"))
      assert(r.getAs[String]("sb").matches("[01]{8}"))
      assert(r.getAs[Long]("z") === 15L)
      // sub-window text = one whole-text chunk
      assert(r.getAs[Seq[String]]("rc").length === 1)
      Seq("ab", "pb", "fb").foreach { c =>
        val bands = r.getAs[scala.collection.Seq[Int]](c)
        assert(bands.length === 4, c)
        bands.foreach(v => assert(v >= 0 && v < (1 << 16), s"$c band $v"))
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("native expressions run inside whole-stage codegen (fallback disabled, compile errors fatal)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.builder(defaultCpus = 2)
      .appName("graft-codegen-spec")
      // a Janino compile failure in the generated code must THROW, not
      // silently degrade to interpreted execution
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    try {
      // non-constant inputs so ConstantFolding cannot pre-evaluate the
      // expressions on the interpreted path
      val df = spark.range(64).selectExpr(
        "token_shingles(concat('alpha beta gamma delta ', CAST(id AS STRING))) AS sh",
        "simhash_bits(concat('w1 w2 w3 ', CAST(id AS STRING))) AS sb",
        "token_stats(concat('the quick fox ', CAST(id AS STRING))) AS ts",
        "token_fingerprint(concat('a b c ', CAST(id AS STRING))) AS tf",
        "quantize_vec(array(CAST(0.25 AS FLOAT), CAST(id AS FLOAT))) AS q",
        "zorder_long(array(id, id + 1L)) AS z",
        "rolling_chunks(concat('some chunkable text body ', CAST(id AS STRING))) AS rc",
        "ahash_bands(concat('hash me ', CAST(id AS STRING))) AS ab",
        "phash_bands(concat('hash me ', CAST(id AS STRING))) AS pb",
        "audiofp_bands(concat('hash me ', CAST(id AS STRING))) AS fb")
        .selectExpr("minhash_bands(sh) AS mb", "long_dot(q, q) AS dd",
          "sb", "ts", "tf", "z", "rc", "ab", "pb", "fb")
      val rows = df.collect()
      assert(rows.length === 64)
      assert(rows.forall(_.getAs[Seq[String]]("mb").length === 4))
      assert(rows.forall(_.getAs[String]("sb").matches("[01]{8}")))
      // the Project carrying the native expressions must be INSIDE a
      // WholeStageCodegen span — CollapseCodegenStages pushes any
      // operator holding a CodegenFallback expression out of it, which
      // is exactly the regression this guards against
      import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
      val wsc = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(wsc.nonEmpty, df.queryExecution.executedPlan.toString)
      val fused = wsc.flatMap(_.collect { case p: ProjectExec => p })
        .flatMap(_.projectList).exists(_.exists {
          case _: graft.functions.TokenShingles => true
          case _: graft.functions.MinhashBands => true
          case _: graft.functions.QuantizeVector => true
          case _: graft.functions.TokenStats => true
          case _: graft.functions.TokenFingerprint => true
          case _: graft.functions.SimhashBits => true
          case _: graft.functions.ZOrderLong => true
          case _: graft.functions.RollingChunks => true
          case _: graft.functions.AhashBands => true
          case _: graft.functions.PhashBands => true
          case _: graft.functions.AudioFpBands => true
          case _ => false
        })
      assert(fused,
        s"native expressions not fused into WholeStageCodegen:\n${df.queryExecution.executedPlan}")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("every GraftExtensions function resolves on the session, its siblings and foreachBatch clones") {
    // no register call anywhere: the builder installs the extensions,
    // a newSession() sibling builds its registry from them and a
    // foreachBatch clone copies its parent's
    val names = (new GraftExtensions).functionNames
    def missing(s: SparkSession): Seq[String] = names.filterNot(s.catalog.functionExists)
    assert(missing(spark).isEmpty, s"session lacks: ${missing(spark).mkString(", ")}")
    val sibling = spark.newSession()
    assert(missing(sibling).isEmpty, s"sibling lacks: ${missing(sibling).mkString(", ")}")
    val dir = tempDir("graft_ext_stream")
    import spark.implicits._
    Seq("a b c d").toDF("text").write.mode("overwrite").parquet(s"$dir/in")
    val seen = collection.mutable.ArrayBuffer.empty[(Boolean, Seq[String])]
    val q = spark.readStream.schema("text STRING").parquet(s"$dir/in")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = batch.sparkSession
        seen.synchronized { seen += ((s ne spark) -> missing(s)) }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.nonEmpty, "no microbatch ran — the clone check is vacuous")
    seen.foreach { case (isClone, lacks) =>
      assert(isClone, "the batch ran on the outer session, not a clone")
      assert(lacks.isEmpty, s"foreachBatch clone lacks: ${lacks.mkString(", ")}")
    }
    // static floor: the functions that once skipped the installer stay
    // pinned by name
    val floor = Set("label_argmax", "topk_edges", "kmv_kmin", "bloom_build")
    assert((floor -- names).isEmpty, s"GraftExtensions lost: ${(floor -- names).mkString(", ")}")
  }

  test("token_shingles takes an optional literal window, 3 by default") {
    val r = spark.sql(
      "SELECT token_shingles('a b c d', 2) AS w2, token_shingles('a b c d') AS w3").head()
    assert(r.getAs[Seq[String]]("w2") === Seq("a b", "b c", "c d"))
    assert(r.getAs[Seq[String]]("w3") === Seq("a b c", "b c d"))
    val e = intercept[Exception] {
      spark.range(2).selectExpr("CAST(id AS STRING) AS text", "CAST(id AS INT) AS id")
        .selectExpr("token_shingles(text, id)")
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("token_shingles window must be a literal")), e.toString)
  }
}
