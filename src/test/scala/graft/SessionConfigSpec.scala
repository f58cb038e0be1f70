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
  * twin stages, drains and cleans up. Two more scans keep every public
  * engine entry point reachable from a query, pipeline, tool or
  * benchmark, not only from its own test, and [[SparkSpec.tempDir]]
  * the one place a spec makes a temp dir. */
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

  test("SparkSpec.tempDir is the ONLY temp-dir site under src/test") {
    // a spec that makes its own temp dir has to delete it itself, and
    // most never did: one gate run left ~100 graft* dirs behind
    val made = """createTemp(Directory|File)\(""".r
    val offenders = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "SparkSpec.scala")
      .filter(p => made.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .toSeq
    assert(offenders.isEmpty, s"temp dirs made outside SparkSpec.tempDir: ${offenders.mkString(", ")}")
  }

  /** `src` with every comment blanked to spaces (line breaks kept, so
    * line numbers hold) and every string literal left in place. */
  private def blankComments(src: String, python: Boolean): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def at(k: Int): Char = if (k < src.length) src(k) else '\u0000'
    val triples = if (python) Seq("\"\"\"", "'''") else Seq("\"\"\"")
    var i = 0
    while (i < src.length) {
      triples.find(src.startsWith(_, i)) match {
        case Some(t) =>
          val e = src.indexOf(t, i + 3)
          i = if (e < 0) src.length else e + 3
          while (at(i) == t.head) i += 1 // a literal ending in its quote char
        case None if python && at(i) == '#' || !python && src.startsWith("//", i) =>
          val e = src.indexOf('\n', i)
          val end = if (e < 0) src.length else e
          blank(i, end); i = end
        case None if !python && src.startsWith("/*", i) =>
          var (depth, k) = (1, i + 2) // Scala block comments nest
          while (depth > 0 && k < src.length) {
            if (src.startsWith("/*", k)) { depth += 1; k += 2 }
            else if (src.startsWith("*/", k)) { depth -= 1; k += 2 }
            else k += 1
          }
          blank(i, k); i = k
        case None if at(i) == '"' || python && at(i) == '\'' =>
          val q = at(i)
          i += 1
          while (i < src.length && at(i) != q && at(i) != '\n') i += (if (at(i) == '\\') 2 else 1)
          i += 1
        case None if at(i) == '\'' && at(i + 1) == '\\' && at(i + 3) == '\'' => i += 4 // '\"'
        case None if at(i) == '\'' && at(i + 2) == '\'' => i += 3 // '"'
        case None => i += 1
      }
    }
    out.toString
  }

  test("every public def in graft.{ops,etl,streaming} is reached from outside its own definition") {
    // a public entry point that only its own test calls is engine code
    // no query, pipeline, tool or benchmark reaches. References count
    // in src/main, perfbench/scala and scripts, comments stripped and
    // strings kept: the oracle SQL interpolates names. The one
    // exemption is the reference's Extract step (S1, pd.read_excel,
    // etl.py:44-54)
    val exempt = Set("Tables.via")
    def files(root: String, ext: String): Seq[Path] = {
      val r = Paths.get(root)
      assert(Files.isDirectory(r), s"no $root under ${System.getProperty("user.dir")}")
      Files.walk(r).iterator().asScala.filter(_.toString.endsWith(ext)).toSeq
    }
    val corpus: Map[Path, Array[String]] =
      (files("src/main", ".scala") ++ files("perfbench/scala", ".scala") ++ files("scripts", ".py"))
        .map(p => p -> blankComments(new String(Files.readAllBytes(p), "UTF-8"),
          python = p.toString.endsWith(".py")).split("\n", -1))
        .toMap
    def indent(l: String): Int = l.length - l.replaceAll("^ +", "").length
    val Def = """^( *)((?:(?:final|override|implicit|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)def\s+([A-Za-z_]\w*)""".r.unanchored
    val Template = """\b(object|class|trait)\s+\w+""".r.unanchored
    case class Member(name: String, file: Path, from: Int, until: Int) {
      def where = s"${file.getFileName.toString.stripSuffix(".scala")}.$name"
    }
    val scanned = Seq("ops", "etl", "streaming").map(d => Paths.get(s"src/main/scala/graft/$d"))
    val members = corpus.toSeq.filter { case (p, _) => scanned.exists(p.startsWith) }
      .flatMap { case (p, lines) =>
        lines.indices.flatMap { i =>
          lines(i) match {
            case Def(lead, mods, name) if !mods.contains("private") && !mods.contains("override") =>
              // member-level: the nearest shallower line opens a template
              val ind = lead.length
              val outer = (i - 1 to 0 by -1).find(k => lines(k).trim.nonEmpty && indent(lines(k)) < ind)
              if (!outer.exists(k => Template.findFirstIn(lines(k)).isDefined)) None
              else {
                var e = i + 1
                while (e < lines.length && (lines(e).trim.isEmpty || indent(lines(e)) > ind)) e += 1
                if (e < lines.length && Seq("}", ")").exists(lines(e).trim.startsWith)) e += 1
                Some(Member(name, p, i, e))
              }
            case _ => None
          }
        }
      }
    assert(members.size > 200, s"scan found only ${members.size} public defs")
    // every identifier-like word of the corpus, by where it occurs
    val Word = """[\w$]+""".r
    val uses: Map[String, Seq[(Path, Int)]] = (for {
      (p, lines) <- corpus.toSeq
      i <- lines.indices
      w <- Word.findAllIn(lines(i))
    } yield w -> ((p, i))).groupMap(_._1)(_._2)
    val unreached = members.filterNot { m =>
      uses.getOrElse(m.name, Nil).exists { case (p, i) =>
        !(p == m.file && i >= m.from && i < m.until) }
    }.map(_.where).toSet
    assert(exempt.subsetOf(unreached),
      s"exemption no longer needed: ${(exempt -- unreached).mkString(", ")}")
    assert(unreached -- exempt === Set.empty[String],
      "public defs reached from no query, pipeline, tool or benchmark (delete them, " +
        "or make a test hook on live code private[graft])")
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
