package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Enforcement for the one-builder rule ([[GraftSession]]): round 14
  * had to hand-edit ~20 `SparkSession.builder()` sites to land ONE
  * session conf (the ObjectHashAggregate fallback threshold), and a
  * probe built from a stale template would have published numbers at
  * default settings while claiming engine settings. The compiler
  * cannot forbid calling Spark's public builder, so this spec scans
  * the main source tree instead — the same enforcement shape as the
  * shared shingle-hash seam (`shingleHashCol`): make the wrong
  * version UNWRITABLE, not merely discouraged. The same scan keeps
  * [[GraftExtensions]] the one place a native function is
  * registered, and `graft.streaming.OneShot` the one place a stream
  * twin stages, drains and cleans up. */
class SessionConfigSpec extends SparkSpec {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"expected to run from the repo root, cwd=${System.getProperty("user.dir")}")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  test("GraftSession is the ONLY SparkSession.builder site under src/main") {
    val offenders = mainSources
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder"))
    assert(offenders.isEmpty,
      s"session builders outside GraftSession (engine confs WILL be " +
        s"silently missed there — use GraftSession.local/builder): " +
        offenders.mkString(", "))
  }

  test("GraftExtensions is the ONLY native-function registration site under src/main") {
    // a per-call registration replaces a function while other threads
    // may be analyzing plans; the builder's extensions already give
    // every session, sibling and foreachBatch clone all the functions
    val forbidden = Seq("createOrReplaceTempFunction", "registerFunction", ".register(spark")
    val offenders = mainSources
      .filterNot(_.getFileName.toString == "GraftExtensions.scala")
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        forbidden.filter(src.contains).map(f => s"$p: $f")
      }
    assert(offenders.isEmpty,
      s"function registration outside GraftExtensions: ${offenders.mkString(", ")}")
  }

  test("OneShot is the ONLY one-shot scaffolding site under src/main/scala/graft/streaming") {
    // staging dirs, draining and ts-sniff cleanup live in one helper;
    // a twin that drains or stages by hand has to repeat its cleanup
    val forbidden = Seq("processAllAvailable", "createTempDirectory", "forgetTsEncoding")
    val streaming = mainSources.filter(_.startsWith(Paths.get("src/main/scala/graft/streaming")))
    assert(streaming.exists(_.getFileName.toString == "OneShot.scala"),
      s"scan found no OneShot.scala among ${streaming.mkString(", ")}")
    val offenders = streaming
      .filterNot(_.getFileName.toString == "OneShot.scala")
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        forbidden.filter(src.contains).map(f => s"$p: $f")
      }
    assert(offenders.isEmpty,
      s"one-shot scaffolding outside OneShot: ${offenders.mkString(", ")}")
  }

  test("the shared session carries every engine-wide conf GraftSession promises") {
    // the suite session IS GraftSession.local (SparkSpec), so this
    // asserts the builder actually lands each conf on a real session.
    // Env-overridable confs are asserted against the SAME expression
    // the builder uses (advice r15: pinning the literal default made
    // the spec fail spuriously whenever SPARK_GRAFT_* overrides were
    // exported in the test environment, even though the builder
    // behaved correctly).
    val c = spark.conf
    assert(c.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      === graft.functions.SketchAggregates.ObjectHashFallbackThreshold)
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.sql.adaptive.enabled") === "true")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(c.get("spark.sql.codegen.cache.maxEntries")
      === sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
    assert(c.get("spark.io.compression.codec")
      === sys.env.getOrElse("SPARK_GRAFT_CODEC", "zstd"))
    // the shuffle floor follows the session's OWN cpu count (the
    // suite may build at any defaultCpus), overridable by env
    val cpus = spark.sparkContext.master.stripPrefix("local[").stripSuffix("]")
    assert(c.get("spark.sql.shuffle.partitions")
      === sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
    assert(c.get("spark.network.timeout") === "800s")
  }

  test("OHA fallback threshold default parses as a positive int") {
    // the env override is validated at object init with a clear
    // message (advice r14: a malformed SPARK_GRAFT_OHA_FALLBACK used
    // to surface as an opaque Spark conf error at session build)
    val v = graft.functions.SketchAggregates.ObjectHashFallbackThreshold
    assert(v.toInt > 0)
  }

  test("cpus/shuffle env overrides are validated with the variable name") {
    // advice r15: SPARK_GRAFT_CPUS used to interpolate unvalidated
    // into the master URL — a typo surfaced as an obscure
    // master-URL parse failure instead of naming the variable
    val e = intercept[IllegalArgumentException] {
      GraftSession.positiveIntEnv("SPARK_GRAFT_CPUS_BOGUS_TEST", "32x")
    }
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS_BOGUS_TEST"))
    assert(e.getMessage.contains("32x"))
    assert(GraftSession.positiveIntEnv("SPARK_GRAFT_CPUS", "32")
      === sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
  }
}
