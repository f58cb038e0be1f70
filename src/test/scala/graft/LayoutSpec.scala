package graft

/** The `zorder_long` native function (Morton interleave of normalized
  * bigint dims, registered by [[GraftExtensions]]): its bit layout and
  * its behaviour on degenerate inputs, its agreement across evaluation
  * paths, and the locality that makes it a clustering key. */
class LayoutSpec extends SparkSpec {

  test("zorder_long interleaves bits (kernel truth table)") {
    import spark.implicits._
    // n=2: bit b of dim j lands at 2b+j
    val got = Seq((1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L))
      .toDF("a", "b")
      .selectExpr("zorder_long(array(a, b)) AS z")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 15L, 6L))
    // dims beyond the first two interleave too (n=3: bit b of dim j at 3b+j)
    val three = Seq((1L, 1L, 1L)).toDF("a", "b", "c")
      .selectExpr("zorder_long(array(a, b, c)) AS z")
      .head().getLong(0)
    assert(three === 7L)
    // null element = origin for that dim
    val withNull = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .selectExpr("zorder_long(array(a, b)) AS z")
      .head().getLong(0)
    assert(withNull === 1L)
  }

  test("zorder_long fails loudly on degenerate inputs") {
    import spark.implicits._
    // empty array: defined as the curve origin, not a crash
    assert(Seq(1).toDF("x")
      .selectExpr("zorder_long(cast(array() as array<bigint>))")
      .head().getLong(0) === 0L)
    // 64+ dims would silently yield bits = 0 → every row z = 0
    val tooMany = (1 to 64).map(_ => "x").mkString("zorder_long(array(", ", ", "))")
    val e = intercept[Exception] {
      Seq(1L).toDF("x").selectExpr(tooMany).collect()
    }
    assert(e.getMessage != null)
  }

  test("zorder_long: interpreted and codegen'd paths agree, and every dim de-interleaves back") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // in-range values per arity: 63 / n bits for each of n dims
    val pts2 = Seq.fill(200)((rnd.nextInt() & Int.MaxValue).toLong,
      (rnd.nextInt() & Int.MaxValue).toLong)
    val pts3 = Seq.fill(200)((rnd.nextInt(1 << 21).toLong,
      rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    def codes(conf: Seq[(String, String)]): (Seq[Long], Seq[Long]) = {
      var out: (Seq[Long], Seq[Long]) = (Nil, Nil)
      withConfs(conf: _*) {
        out = (pts2.toDF("a", "b").selectExpr("zorder_long(array(a, b))")
            .collect().map(_.getLong(0)).toSeq,
          pts3.toDF("a", "b", "c").selectExpr("zorder_long(array(a, b, c))")
            .collect().map(_.getLong(0)).toSeq)
      }
      out
    }
    val compiled = codes(Seq("spark.sql.codegen.wholeStage" -> "true"))
    val interpreted = codes(Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    assert(compiled === interpreted)
    // the inverse map: bit b of dim j sits at z bit b·n + j
    def dim(z: Long, n: Int, j: Int): Long =
      (0 until 63 / n).map(b => ((z >> (b * n + j)) & 1L) << b).sum
    compiled._1.zip(pts2).foreach { case (z, (a, b)) =>
      assert((dim(z, 2, 0), dim(z, 2, 1)) === ((a, b)), s"z=$z")
    }
    compiled._2.zip(pts3).foreach { case (z, (a, b, c)) =>
      assert((dim(z, 3, 0), dim(z, 3, 1), dim(z, 3, 2)) === ((a, b, c)), s"z=$z")
    }
  }

  test("zorder_long: runs of the z-sorted grid are squares; a linear sort spans a whole row") {
    // 64 × 64 grid in z order: every aligned run of 256 codes is one
    // 16 × 16 quadrant, so a file cut at those runs bounds BOTH dims —
    // the property that lets min/max stats prune on either column
    val sorted = spark.range(64 * 64)
      .selectExpr("id div 64 AS a", "id % 64 AS b")
      .selectExpr("a", "b", "zorder_long(array(a, b)) AS z")
      .orderBy("z").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sorted.map(_._3).toSeq === (0L until 4096L))
    def spans(run: Seq[(Long, Long)]): (Long, Long) =
      (run.map(_._1).max - run.map(_._1).min + 1, run.map(_._2).max - run.map(_._2).min + 1)
    sorted.map(p => (p._1, p._2)).grouped(256).foreach { run =>
      assert(spans(run.toSeq) === ((16L, 16L)))
    }
    // the same cut over a linear (a, b) sort: 4 values of a, all of b
    val linear = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    linear.grouped(256).foreach(run => assert(spans(run) === ((4L, 64L))))
  }
}
