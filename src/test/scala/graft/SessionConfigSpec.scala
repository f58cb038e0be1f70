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
  * registered, `graft.streaming.OneShot` the one place a stream
  * twin stages, drains and cleans up, and `graft.ops.BucketedTables`
  * the one place a persisted index is checked and committed. More scans keep every
  * public or `private[graft]` engine entry point reachable from a
  * query, pipeline, tool or benchmark, not only from its own test
  * (test seams on live code are exempt by name, with a reason), every
  * tool main a documented entry or a cited probe, every setting an
  * env var of one table, every
  * pin in a def whose release is on record, and [[SparkSpec.tempDir]]
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

  test("BucketedTables is the ONLY persisted-index resolve site under src/main") {
    // one resolve path: a part's _SUCCESS, the manifest and the input
    // fingerprint (a read of a file's mtime) are read and written by
    // the form alone, so no index family grows its own ladder of
    // "complete, fresh, else rebuild" beside it. Comments are blanked:
    // a mention is no check.
    val forbidden = Seq("_SUCCESS", graft.ops.BucketedTables.Manifest,
      "getLastModifiedTime|\\.lastModified\\(").map(_.r.unanchored)
    val (form, rest) = mainSources.partition(_.getFileName.toString == "BucketedTables.scala")
    def found(p: Path) = {
      val src = blankComments(new String(Files.readAllBytes(p), "UTF-8"), python = false)
      forbidden.filter(_.findFirstIn(src).isDefined)
    }
    assert(form.size === 1 && found(form.head) === forbidden,
      s"the scan's markers are not all in the form: ${form.mkString(", ")}")
    val offenders = rest.flatMap(p => found(p).map(f => s"$p: $f"))
    assert(offenders.isEmpty,
      s"persisted-index checks outside BucketedTables: ${offenders.mkString(", ")}")
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

  private def indent(l: String): Int = l.length - l.replaceAll("^ +", "").length

  /** A `def` line: its indent, its modifiers, its name. */
  private val Def =
    """^( *)((?:(?:final|override|implicit|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)def\s+([A-Za-z_]\w*)""".r.unanchored

  /** The line after the body of the def declared on line `i`: its
    * body is every following blank or deeper-indented line, plus a
    * closing brace or paren at the def's own indent. */
  private def spanEnd(lines: Array[String], i: Int): Int = {
    val ind = indent(lines(i))
    var e = i + 1
    while (e < lines.length && (lines(e).trim.isEmpty || indent(lines(e)) > ind)) e += 1
    if (e < lines.length && Seq("}", ")").exists(lines(e).trim.startsWith)) e += 1
    e
  }

  test("every public def in graft.{ops,etl,streaming} is reached from outside its own definition") {
    // a public or private[graft] entry point that only its own test
    // calls is engine code no query, pipeline, tool or benchmark
    // reaches. References count in src/main, perfbench/scala and
    // scripts, comments stripped and strings kept: the oracle SQL
    // interpolates names. Exempt, each with its reason:
    val exempt = Map(
      "SimilarityOps.lshCandidateCount" -> "test seam: counts the live lshNeardup banding's candidates",
      "SimilarityOps.pqCodesForTest" -> "test seam: the codes table of the live pqTopk index",
      "DedupOps.candidatePairsFrom" -> "test seam: the live blocking self-join over planted bands")
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
    val Template = """\b(object|class|trait)\s+\w+""".r.unanchored
    case class Member(name: String, file: Path, from: Int, until: Int) {
      def where = s"${file.getFileName.toString.stripSuffix(".scala")}.$name"
    }
    val scanned = Seq("ops", "etl", "streaming").map(d => Paths.get(s"src/main/scala/graft/$d"))
    val members = corpus.toSeq.filter { case (p, _) => scanned.exists(p.startsWith) }
      .flatMap { case (p, lines) =>
        lines.indices.flatMap { i =>
          lines(i) match {
            case Def(lead, mods, name) if (!mods.contains("private") || mods.contains("private[graft]")) &&
                !mods.contains("override") =>
              // member-level: the nearest shallower line opens a template
              val ind = lead.length
              val outer = (i - 1 to 0 by -1).find(k => lines(k).trim.nonEmpty && indent(lines(k)) < ind)
              if (!outer.exists(k => Template.findFirstIn(lines(k)).isDefined)) None
              else Some(Member(name, p, i, spanEnd(lines, i)))
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
    // a line that declares a def of the same name (another object's
    // member, an overload) is not a use of it
    val declared: Set[(String, Path, Int)] = (for {
      (p, lines) <- corpus.toSeq
      i <- lines.indices
      name <- Def.findFirstMatchIn(lines(i)).map(_.group(3))
    } yield (name, p, i)).toSet
    val unreached = members.filterNot { m =>
      uses.getOrElse(m.name, Nil).exists { case (p, i) =>
        !(p == m.file && i >= m.from && i < m.until) && !declared((m.name, p, i)) }
    }.map(_.where).toSet
    assert(exempt.keySet.subsetOf(unreached),
      s"exemption no longer needed: ${(exempt.keySet -- unreached).mkString(", ")}")
    assert(unreached -- exempt.keySet === Set.empty[String],
      "defs reached from no query, pipeline, tool or benchmark (delete them, " +
        "or exempt a test seam on live code with its reason)")
  }

  /** Every tool main under src/main/scala/graft/tools, with its verdict,
    * the file that names it, and why it stays:
    *   - "entry": a user entry that README documents;
    *   - "probe": it reproduces a measured constant or claim that the
    *     named file cites, or that file drives its generators.
    * A tool with neither verdict is deleted, along with any engine def
    * that only it kept alive (the unreached-def scan above finds those). */
  private val ToolVerdicts: Map[String, (String, String, String)] = Map(
    "RunPipeline" -> ("entry", "README.md", "the reference's run(): clean, summaries, load"),
    "RunCuration" -> ("entry", "README.md", "the curation pipeline end to end"),
    "Explain" -> ("entry", "README.md", "explains and times named queries"),
    "ScaleBench" -> ("entry", "README.md", "steady-state query times on a generated scale corpus"),
    "SemDedupK" -> ("entry", "README.md", "the semantic-dedup cluster-count curve at scale"),
    "JobProfileProbe" -> ("probe", "src/main/scala/graft/ops/DedupOps.scala",
      "per-rep walls and per-job rows behind the pin A/Bs the engine cites"),
    "HierAssignProbe" -> ("probe", "src/main/scala/graft/ops/SimilarityOps.scala",
      "the flat/hierarchical crossover behind HierAssignMinNK"),
    "KnnSampleProbe" -> ("probe", "src/main/scala/graft/GraftSession.scala",
      "the zstd shuffle codec measurement"),
    "StateStoreAbProbe" -> ("probe", "src/main/scala/graft/GraftSession.scala",
      "the state-store provider A/B behind keeping the default; GraftSession's extraConfs names it"),
    "GraphScaleProbe" -> ("probe", "src/main/scala/graft/ops/GraphOps.scala",
      "the 100M-edge kernel walls; PlanSpec and RetrievalGraphSpec use its generators"),
    "KnnRecallProbe" -> ("probe", "src/test/scala/graft/OpsSpec.scala",
      "the recall measurement behind the pinned kNN recall bounds"))

  test("every tool main has a verdict, and the file its verdict names still names it") {
    // a tool nobody documents or cites is history, not a user entry or
    // a reproduction: it goes, and with it what only it kept alive
    val tools = Paths.get("src/main/scala/graft/tools")
    val Main = """\bobject\s+(\w+)""".r.unanchored
    val mains = mainSources.filter(_.startsWith(tools)).flatMap { p =>
      val src = blankComments(new String(Files.readAllBytes(p), "UTF-8"), python = false)
      if (src.contains("def main(")) Main.findFirstMatchIn(src).map(_.group(1)) else None
    }.toSet
    assert(mains.size > 5, s"scan found only ${mains.size} tool mains")
    assert(mains -- ToolVerdicts.keySet === Set.empty[String],
      "tool mains with no verdict (document them as an entry, cite what they reproduce, or delete them)")
    assert(ToolVerdicts.keySet -- mains === Set.empty[String], "verdicts for tools that are gone")
    val uncited = ToolVerdicts.toSeq.collect {
      case (tool, (kind, file, _)) if !Seq("entry", "probe").contains(kind) ||
          !Files.isRegularFile(Paths.get(file)) ||
          !s"\\b$tool\\b".r.unanchored.matches(new String(Files.readAllBytes(Paths.get(file)), "UTF-8")) =>
        s"$tool ($kind, $file)"
    }
    assert(uncited.isEmpty, s"verdicts whose file no longer names the tool: ${uncited.mkString(", ")}")
  }

  test("JobProfileProbe takes its query list in the order given, repeats kept") {
    // one session runs the list in order, so a later query's wall shows
    // what the earlier ones built: the order is part of the measurement
    assert(graft.tools.JobProfileProbe.queryList(" customer_summary,transactions ,customer_summary")
      === Seq("customer_summary", "transactions", "customer_summary"))
  }

  test("JobProfileProbe rejects an unknown or empty query list before it starts a session") {
    val e = intercept[IllegalArgumentException] {
      graft.tools.JobProfileProbe.queryList("customer_summary,no_such_query,customer_sumary")
    }
    assert(e.getMessage.contains("no_such_query") && e.getMessage.contains("customer_sumary"),
      e.getMessage)
    assert(!e.getMessage.contains("customer_summary"), e.getMessage)
    intercept[IllegalArgumentException](graft.tools.JobProfileProbe.queryList(" , "))
  }

  /** What a user can set from outside the code, each with what it sets.
    * Every one is an env var: the engine reads no JVM system property
    * and defines no `spark.graft.*` conf. */
  private val SettableEnv: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "the local session's core count (GraftSession)",
    "SPARK_GRAFT_IVF_DIR" -> "the root of the persisted IVF indexes (SimilarityOps)",
    "SPARK_GRAFT_AGG_DIR" -> "the root of the persisted aggregate tables (AggMaintenance)",
    "SPARK_GRAFT_SF_DIR" -> "graft.Bench's input directory",
    "SPARK_GRAFT_BENCH_PASSES" -> "graft.Bench's interleaved pass count",
    "SPARK_GRAFT_BENCH_OUT" -> "graft.Bench's output file")

  private def mainCode: Seq[(Path, String)] = mainSources.map(p =>
    p -> blankComments(new String(Files.readAllBytes(p), "UTF-8"), python = false))

  test("src/main reads exactly the env vars of the settable-value table") {
    val Lit = "\"(SPARK_\\w+)\"".r
    val named = mainCode.flatMap { case (_, src) => Lit.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(named === SettableEnv.keySet,
      "env vars read in src/main and the table differ (a new one is a declared setting: add it with what it sets)")
    // a read through a variable would hide from the literal scan: the one
    // such read is GraftSession.positiveIntEnv, whose callers pass literals
    val byName = mainCode.flatMap { case (p, src) =>
      src.split("\n").filter(l => l.contains("sys.env") || l.contains("System.getenv"))
        .filter(l => Lit.findFirstIn(l).isEmpty).map(_ => p.getFileName.toString)
    }
    assert(byName === Seq("GraftSession.scala"), s"env reads not through a literal name: $byName")
  }

  test("src/main reads no JVM system property and defines no spark.graft.* conf") {
    val forbidden = Seq("sys.props", "System.getProperty", "System.setProperty",
      "Boolean.getBoolean", "Integer.getInteger", "\"spark.graft.")
    val offenders = mainCode.flatMap { case (p, src) => forbidden.filter(src.contains).map(f => s"$p: $f") }
    assert(offenders.isEmpty,
      s"settings outside the env-var table: ${offenders.mkString(", ")}")
  }

  /** Every def under src/main/scala/graft (tools aside) that pins a
    * frame, with the one way its blocks are released:
    *   - "registry": a `Substrates` entry, released by `invalidate`;
    *   - "finally": op-scoped, unpersisted in a `finally` by the op;
    *   - "cut": a loop or lineage cut that the returned plan reads,
    *     whose blocks go when that plan is dropped.
    * A frame bounded by a constant or by the calendar is not pinned
    * at all: `Substrates.local` collects it to a local relation. */
  private val PinSites = Map(
    "Pipeline.transform" -> "registry",
    "Transactions.cleaned" -> "registry",
    "CurateOps.shinglesAt" -> "registry",
    "CurateOps.runCurationPipeline" -> "finally",
    "CurateOps.curationFunnel" -> "finally",
    "DedupOps.docBands" -> "registry",
    "DedupOps.sourceShingles" -> "registry",
    "DedupOps.sourceShingleHashes" -> "registry",
    "DedupOps.prefixRankedShingles" -> "registry",
    "DedupOps.docChunks" -> "registry",
    "DedupOps.cooledChunks" -> "registry",
    "DedupOps.cooledBands" -> "registry",
    "DedupOps.verifiedPairs" -> "registry",
    "DedupOps.componentLabelsFor" -> "registry",
    "DedupOps.componentsOf" -> "finally", // and the per-round label cuts
    "GraphOps.coPurchaseEdges" -> "registry",
    "GraphOps.degreesFor" -> "registry",
    "GraphOps.lpaLabelsFor" -> "registry",
    "GraphOps.orientedWithBloom" -> "registry", // orientedBloomFor's entry
    "GraphOps.kcoreWithRounds" -> "cut",
    "GraphOps.requireSymmetrizedSampleUncached" -> "cut",
    "GraphOps.bfsHopsWithRounds" -> "cut",
    "MultimodalOps.bandedHamming" -> "cut",
    "RetrievalOps.retrievalEval" -> "registry",
    "SimilarityOps.quantized" -> "registry",
    "SimilarityOps.bandedSig" -> "registry",
    "SimilarityOps.mmrTopk" -> "cut",
    "SimilarityOps.mutualGraph" -> "cut",
    "SimilarityOps.kmeansCentroids" -> "cut",
    "SimilarityOps.hierAssigned" -> "registry",
    "TextOps.bpeModel" -> "registry",
    "TextOps.langidModel" -> "registry",
    "TextOps.docPostings" -> "registry",
    "TextOps.docStats" -> "registry",
    "TextOps.unigramCounts" -> "registry",
    "TextOps.bigramCounts" -> "registry",
    "TextOps.textrankKeywords" -> "cut")

  test("every pin under src/main/scala/graft sits in a def of the pin-site table") {
    // a new localCheckpoint/cache/persist needs an owner and a release
    // story before it lands: a registry entry, a finally, or a cut the
    // returned plan reads — or no pin, as a local relation
    val Pin = """localCheckpoint\(|\.cache\(\)|\.persist\(""".r
    val tools = Paths.get("src/main/scala/graft/tools")
    val found = mainSources.filterNot(_.startsWith(tools)).flatMap { p =>
      val lines = blankComments(new String(Files.readAllBytes(p), "UTF-8"), python = false)
        .split("\n", -1)
      val spans = lines.indices.flatMap(i =>
        Def.findFirstMatchIn(lines(i)).map(m => (m.group(3), i, spanEnd(lines, i))))
      val file = p.getFileName.toString.stripSuffix(".scala")
      lines.indices.filter(i => Pin.findFirstIn(lines(i)).isDefined).map { i =>
        // the innermost def whose body holds the line
        val owner = spans.filter { case (_, from, until) => from <= i && i < until }
          .sortBy(-_._2).headOption.fold("<no def>")(_._1)
        s"$file.$owner" -> s"$p:${i + 1}"
      }
    }
    assert(found.size > 40, s"scan found only ${found.size} pins")
    val unlisted = found.filterNot { case (owner, _) => PinSites.contains(owner) }
    assert(unlisted.isEmpty,
      s"pins in defs missing from the pin-site table: ${unlisted.mkString(", ")}")
    assert(PinSites.keySet -- found.map(_._1) === Set.empty[String],
      "pin-site table entries with no pin left")
  }

  test("the shared session carries every engine-wide conf GraftSession promises") {
    // the suite session IS GraftSession.local (SparkSpec), so this
    // asserts the builder actually lands each conf on a real session
    val c = spark.conf
    assert(c.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "65536")
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.sql.adaptive.enabled") === "true")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(c.get("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(c.get("spark.io.compression.codec") === "zstd")
    // the shuffle width follows the session's OWN cpu count (the
    // suite may build at any defaultCpus)
    val cpus = spark.sparkContext.master.stripPrefix("local[").stripSuffix("]")
    assert(c.get("spark.sql.shuffle.partitions") === cpus)
    assert(c.get("spark.network.timeout") === "800s")
  }

  test("OHA fallback threshold default parses as a positive int") {
    val v = graft.functions.SketchAggregates.ObjectHashFallbackThreshold
    assert(v.toInt > 0)
  }

  test("the cpus env override is validated with the variable name") {
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
