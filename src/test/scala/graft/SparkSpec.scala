package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Shared local session for all suites (one per forked test JVM) —
  * built by [[GraftSession]] so every spec runs at the exact engine
  * session settings (and the builder itself is under test).
  *
  * Every temp dir a spec needs comes from [[tempDir]]: the dirs live
  * under one root per suite, deleted in `afterAll`, which then checks
  * that the suite left no other `graft*` entry in `java.io.tmpdir`. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(defaultCpus = 4)

  val sfDir = "/root/testdata/sf0.001"

  /** Set session confs for the duration of `body`, restoring (or
    * unsetting) the previous values even on failure. */
  def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val rootPrefix = "graft_spec_"
  private var graftAtStart = Set.empty[String]
  private var root: Path = _

  private def graftEntries(): Set[String] =
    Option(tmp.toFile.list()).fold(Set.empty[String])(_.filter(_.startsWith("graft")).toSet)

  /** A fresh dir named `prefix…`, deleted with its contents after the
    * suite. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    graftAtStart = graftEntries()
    root = Files.createTempDirectory(s"$rootPrefix${getClass.getSimpleName}_")
  }

  override protected def afterAll(): Unit =
    try {
      graft.ops.BucketedTables.deleteRecursively(root)
      // excluded: the roots of suites running in another test fork, and
      // the session-window sink dirs the engine keeps until JVM exit
      val suspects = (graftEntries() -- graftAtStart).filterNot(n =>
        n.startsWith(rootPrefix) && n != root.getFileName.toString ||
          n.startsWith("graft_sess_sink"))
      // a one-shot staging dir of another fork's running query is gone
      // within seconds; a dir this suite leaked stays
      eventually(timeout(60.seconds), interval(1.second)) {
        val left = suspects.filter(n => Files.exists(tmp.resolve(n)))
        assert(left.isEmpty, s"${getClass.getSimpleName} left in $tmp: ${left.mkString(", ")}")
      }
    } finally super.afterAll()
}
