package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.BucketedTables
import graft.ops.BucketedTables.Form

/** The one persisted-index form ([[BucketedTables]]) over a trivial
  * writer: two `spark.range` parquet parts. Each test counts the
  * writer's calls. An index is rebuilt on every on-disk state but
  * complete parts under an exact manifest, and served with no write
  * otherwise. Each resolve runs in a fresh session, so it has no
  * registry entry and decides from the disk alone. */
class PersistedIndexSpec extends SparkSpec {

  private class Fixture(name: String) {
    val root: Path = tempDir(name)
    val input: Path = root.resolve("input.parquet")
    def writeInput(n: Long): Unit =
      spark.range(n).coalesce(1).write.mode("overwrite").parquet(input.toString)
    writeInput(10)
    val form = Form(root.resolve("index"), Seq("a", "b"), "v1", input)
    val writes = new AtomicInteger
    def writer(f: Form): Unit = {
      writes.incrementAndGet()
      f.parts.foreach(p => spark.range(5).coalesce(1).write.mode("overwrite")
        .parquet(f.base.resolve(p).toString))
    }
    def resolve(f: Form = form, write: Form => Unit = writer,
                session: org.apache.spark.sql.SparkSession = spark.newSession()): Form =
      BucketedTables.resolve(session, root.toString, "test.form")(f)(write)
    /** `body` leaves the index stale: the next resolve writes it once,
      * and the one after serves it. */
    def rebuilds(what: String)(body: => Unit): Unit = {
      body
      val before = writes.get
      resolve()
      assert(writes.get === before + 1, s"served an index with $what")
      resolve()
      assert(writes.get === before + 1, s"rebuilt a servable index after $what")
    }
  }

  test("a registry hit serves with no write and touches no file") {
    val fx = new Fixture("graft_form_hit")
    val session = spark.newSession()
    fx.resolve(session = session)
    assert(fx.writes.get === 1)
    assert(Files.exists(fx.form.manifest))
    // the hit must not even look at the disk: the entry outlives its files
    BucketedTables.deleteRecursively(fx.form.base)
    assert(fx.resolve(session = session) === fx.form)
    assert(fx.writes.get === 1)
    assert(!Files.exists(fx.form.base), "a registry hit touched the index files")
  }

  test("a servable index is served to another session with no write, and invalidation deletes it") {
    val fx = new Fixture("graft_form_serve")
    val first = spark.newSession()
    fx.resolve(session = first)
    val second = spark.newSession()
    assert(fx.resolve(session = second) === fx.form)
    assert(fx.writes.get === 1, "a servable index was rewritten")
    Substrates.invalidate(second, fx.root.toString)
    assert(!Files.exists(fx.form.base), "invalidation left the index files")
    Substrates.invalidate(first, fx.root.toString)
  }

  test("a crash between the parts and the manifest rebuilds instead of serving") {
    val fx = new Fixture("graft_form_crash")
    def crash(f: Form): Unit = {
      fx.writer(f)
      throw new IllegalStateException("crash after the parts")
    }
    // on an empty base, and on a rebuild over a servable index whose
    // input changed
    fx.rebuilds("no manifest after a first build crashed") {
      intercept[IllegalStateException](fx.resolve(write = crash))
      assert(!Files.exists(fx.form.manifest), "the manifest was written before the parts")
    }
    fx.rebuilds("no manifest after a rebuild crashed") {
      fx.writeInput(11)
      intercept[IllegalStateException](fx.resolve(write = crash))
      assert(!Files.exists(fx.form.manifest), "the manifest was written before the parts")
    }
  }

  test("a missing part _SUCCESS, or a manifest that is not exactly the form's, rebuilds") {
    val fx = new Fixture("graft_form_torn")
    fx.resolve()
    val manifest = new String(Files.readAllBytes(fx.form.manifest), "UTF-8")
    fx.rebuilds("a part without _SUCCESS") {
      Files.delete(fx.form.base.resolve("b").resolve("_SUCCESS"))
    }
    fx.rebuilds("no manifest")(Files.delete(fx.form.manifest))
    val otherMd5 = graft.functions.TextExpressions.md5Hex("another corpus")
    // a torn write, a truncated one, a trailing newline, a leftover
    // line, another input's md5
    Seq("", manifest.take(manifest.length / 2), s"$manifest\n", s"${manifest}batches:3\n",
        manifest.replaceAll("input \\w+", s"input $otherMd5")).foreach { c =>
      assert(c != manifest)
      fx.rebuilds(s"the manifest '$c'")(Files.writeString(fx.form.manifest, c))
      assert(new String(Files.readAllBytes(fx.form.manifest), "UTF-8") === manifest)
    }
  }

  private def laterMtime(p: Path): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(Files.getLastModifiedTime(p).toMillis + 5000))

  test("another layout version or another input fingerprint rebuilds") {
    val fx = new Fixture("graft_form_stale")
    fx.resolve()
    fx.rebuilds("another layout")(fx.resolve(fx.form.copy(layout = "v2")))
    // the input rewritten with other rows, then only one file's mtime moved
    fx.rebuilds("another input")(fx.writeInput(12))
    fx.rebuilds("an input file of another mtime") {
      val listing = Files.list(fx.input)
      try laterMtime(listing.filter(_.toString.endsWith(".parquet")).findFirst().get)
      finally listing.close()
    }
  }

  test("a derived form is stale once its base's manifest changes, and the base is not") {
    val fx = new Fixture("graft_form_derived")
    val layer = fx.form.derived("layer", Seq("c"), "layer-v1")
    assert(layer.input === fx.form.manifest)
    val layerWrites = new AtomicInteger
    def resolveLayer(): Form =
      BucketedTables.resolve(spark.newSession(), fx.root.toString, "test.layer")(layer) { f =>
        layerWrites.incrementAndGet()
        spark.range(3).coalesce(1).write.mode("overwrite").parquet(f.base.resolve("c").toString)
      }
    fx.resolve()
    resolveLayer()
    resolveLayer()
    assert((fx.writes.get, layerWrites.get) === ((1, 1)))
    assert(Files.exists(layer.manifest))
    // the base's manifest rewritten (same bytes, a later mtime): the
    // layer's input changed, the base's did not
    laterMtime(fx.form.manifest)
    fx.resolve()
    resolveLayer()
    assert(layerWrites.get === 2, "served a layer built over another base")
    assert(fx.writes.get === 1, "the base was rebuilt")
  }
}
