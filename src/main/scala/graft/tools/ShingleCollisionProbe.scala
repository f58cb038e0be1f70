package graft.tools

import org.apache.spark.sql.functions._

/** Measured certificate for the 64-bit shingle-key collision budget
  * (CurateOps.shingleKeysSql): counts DISTINCT raw string shingles vs
  * DISTINCT xxhash64 keys over the same corpus at the decontamination
  * window. Equal counts ⇒ the hashing merged ZERO shingles at this
  * corpus size — the gate certifies this at sf0.01 via the
  * string-keyed DuckDB mirrors; this probe extends the certificate to
  * the x100 decade (500k docs, tens of millions of distinct shingles),
  * where the argued budget (~10⁴ colliding pairs per 10¹² shingles)
  * predicts zero with huge margin.
  *
  * usage: runMain graft.tools.ShingleCollisionProbe <dir> [n]
  */
object ShingleCollisionProbe {
  def main(args: Array[String]): Unit = {
    if (args.length < 1) {
      System.err.println("usage: runMain graft.tools.ShingleCollisionProbe <dir> [n]")
      sys.exit(2)
    }
    val dir = args(0)
    val n = if (args.length > 1) args(1).toInt
      else graft.ops.CurateOps.DecontaminationShingleN
    val spark = graft.GraftSession.local()
    val sh = graft.etl.Tables.documents(spark, dir)
      .select(explode(expr(s"token_shingles(text, $n)")).as("S"))
    val t0 = System.nanoTime()
    val row = sh.agg(
      countDistinct(col("S")).as("Strings"),
      countDistinct(xxhash64(col("S"))).as("Hashed")).first()
    val (strings, hashed) = (row.getLong(0), row.getLong(1))
    println(f"[shinglecollision] n=$n distinct_strings=$strings " +
      f"distinct_hashed=$hashed collisions=${strings - hashed} " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    spark.stop()
  }
}
