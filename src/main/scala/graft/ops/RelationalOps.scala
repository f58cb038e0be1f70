package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Summaries, Tables, Transactions}

/** Relational-surface operators beyond the reference's repertoire:
  * rollup/grouping sets, set operations, and as-of (most-recent-prior)
  * semantics — the remaining families a user of a complete engine
  * expects (SURVEY.md §2.6 notes the reference has none of these).
  */
object RelationalOps {

  private val dec = DecimalType(18, 4)

  /** ROLLUP (Country, Year): per-(country, year), per-country, and
    * grand-total revenue in one pass — Spark plans this as a single
    * Expand + hash aggregate (no N-pass union).
    * GroupingId: 0 = leaf, 1 = per-country subtotal, 3 = grand total.
    *
    * Two-level shape (round 5): the fact stream is first reduced to
    * per-(Country, Year, InvoiceNo) partials — revenue is an exact
    * decimal sum (re-aggregates associatively), and distinct-invoice
    * counting over the pre-deduped rows is still `countDistinct`
    * (fully general: an invoice spanning groups is deduped per
    * subtotal). The rollup's 3× Expand then runs over #invoices rows
    * instead of every line item — at 100 TB that divides the Expand
    * shuffle volume by the lines-per-invoice factor while producing
    * bit-identical results (same DuckDB ROLLUP oracle). */
  def rollupCountryYear(spark: SparkSession, dir: String): DataFrame = {
    val perInvoice = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Country"), col("Year"), col("InvoiceNo"))
      .agg(sum(col("TotalAmount").cast(dec)).as("InvRev"))
    perInvoice
      .rollup(col("Country"), col("Year"))
      .agg(
        sum(col("InvRev")).cast(DoubleType).as("TotalRevenue"),
        countDistinct(col("InvoiceNo")).as("TotalOrders"),
        grouping_id().cast(LongType).as("GroupingId"))
      .transform(Summaries.smallSort(_, col("GroupingId"),
        asc_nulls_first("Country"), asc_nulls_first("Year")))
  }

  /** GROUPING SETS ((Country), (Year), ()): independent subtotal
    * shapes a ROLLUP cannot express (per-year totals without the
    * (Country, Year) leaves) — still ONE Expand + hash-aggregate pass,
    * no N-pass union. GroupingId: 1 = per-country, 2 = per-year,
    * 3 = grand total.
    *
    * Two-level shape (round 5): revenue is the only aggregate and it
    * is an exact decimal sum, so the fact stream reduces to
    * per-(Country, Year) partials in one uniform-key pass and the 3×
    * Expand runs over ≤ |countries|·|years| rows — constant-size work
    * regardless of fact volume, bit-identical results. */
  def groupingSetsCountryYear(spark: SparkSession, dir: String): DataFrame = {
    val perCY = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Country"), col("Year"))
      .agg(sum(col("TotalAmount").cast(dec)).as("CYRev"))
    perCY
      .groupingSets(Seq(Seq(col("Country")), Seq(col("Year")), Seq()),
        col("Country"), col("Year"))
      .agg(
        sum(col("CYRev")).cast(DoubleType).as("TotalRevenue"),
        grouping_id().cast(LongType).as("GroupingId"))
      .transform(Summaries.smallSort(_, col("GroupingId"),
        asc_nulls_first("Country"), asc_nulls_first("Year")))
  }

  /** CUBE (Country, Year): every subtotal combination — leaves,
    * per-country, per-year, and grand total — in ONE Expand +
    * hash-aggregate pass (4 grouping sets, no N-pass union).
    * GroupingId: 0 = leaf, 1 = per-country, 2 = per-year, 3 = grand
    * total. Completes the multidimensional family next to ROLLUP /
    * GROUPING SETS / PIVOT.
    *
    * Two-level shape (same as rollupCountryYear): distinct-invoice
    * counting forces per-invoice partials — revenue reduces to an
    * exact decimal partial per invoice, and the 4× Expand runs over
    * #invoices rows instead of every line item, dividing the Expand
    * shuffle volume by the lines-per-invoice factor at any scale. */
  def cubeCountryYear(spark: SparkSession, dir: String): DataFrame = {
    val perInvoice = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Country"), col("Year"), col("InvoiceNo"))
      .agg(sum(col("TotalAmount").cast(dec)).as("InvRev"))
    perInvoice
      .cube(col("Country"), col("Year"))
      .agg(
        sum(col("InvRev")).cast(DoubleType).as("TotalRevenue"),
        countDistinct(col("InvoiceNo")).as("TotalOrders"),
        grouping_id().cast(LongType).as("GroupingId"))
      .transform(Summaries.smallSort(_, col("GroupingId"),
        asc_nulls_first("Country"), asc_nulls_first("Year")))
  }

  /** Salt factor for [[skewSaltedJoin]] — 8 sub-keys per country turns
    * the 25-key Country join into 200 uniform shuffle keys. */
  private[graft] val SaltBuckets = 8

  /** Skew-salted fact-to-dim join: per-customer revenue share of the
    * customer's country. The join key (Country) is LOW-CARDINALITY
    * (≈25 values) — fewer keys than shuffle partitions, so a plain
    * shuffle join serializes each country into one task and the
    * hottest country becomes the stage's straggler. The standard cure
    * when the dim side is too large to broadcast (here the per-country
    * dim is computed and tiny, but stands in for the fat million-row
    * dim of the 100 TB shape — a `shuffle_hash` hint models that):
    * SALT — the fact side appends `salt = pmod(hash(CustomerID), S)`,
    * the dim side replicates each row S ways, and the join runs on
    * (Country, salt), splitting every hot key across S tasks. The
    * post-join per-customer aggregate restores exact semantics: the
    * oracle is the PLAIN unsalted join, so a hash match proves salting
    * is invisible to results. SkewSpec asserts the plan shape (no
    * broadcast, salt in the join keys) and the sub-key split bound. */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val sales = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .select(col("Country"), col("CustomerID"), col("TotalAmount"))
    val dim = sales.groupBy(col("Country"))
      .agg(sum(col("TotalAmount").cast(dec)).as("CountryRevDec"))
    val saltedDim = dim.withColumn("salt",
      explode(lit((0 until SaltBuckets).toArray)))
    val saltedFact = sales.withColumn("salt",
      pmod(hash(col("CustomerID")), lit(SaltBuckets)))
    saltedFact
      .join(saltedDim.hint("shuffle_hash"), Seq("Country", "salt"))
      .groupBy(col("Country"), col("CustomerID"))
      .agg(
        sum(col("TotalAmount").cast(dec)).as("CustRevDec"),
        max(col("CountryRevDec")).as("CRev"))
      .select(col("Country"), col("CustomerID"),
        col("CustRevDec").cast(DoubleType).as("CustRevenue"),
        (col("CustRevDec").cast(DoubleType) / col("CRev").cast(DoubleType))
          .as("CountryShare"))
      .orderBy(col("Country"), col("CustomerID"))
  }

  /** Single-relation data profiling — the ingest-time "describe" a
    * pipeline runs before trusting a new data drop: per profiled
    * column, the row count, null count, exact distinct cardinality,
    * and typed min/max (numeric columns in MinNum/MaxNum, string and
    * date columns as ISO strings in MinStr/MaxStr).
    *
    * Shape: one branch per profiled column, each a partial-aggregated
    * scan of ONLY that column — parquet column pruning keeps each
    * branch's I/O to a single column chunk, so the union's total scan
    * volume ≈ one full-width pass — with a SINGLE countDistinct per
    * branch (two-level hash aggregate, NO Expand). The tempting
    * alternative, one agg with six countDistincts, Expands the fact
    * stream 6× before the first shuffle; per-column branches keep
    * every pass narrow and independently schedulable at 100 TB. */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def branch(name: String, kind: String): DataFrame = {
      val c = col(name)
      val base = li.select(c).agg(
        count(lit(1)).as("RowCnt"),
        (count(lit(1)) - count(c)).as("NullCnt"),
        countDistinct(c).as("DistinctCnt"),
        min(c).as("mn"), max(c).as("mx"))
      val (minNum, maxNum, minStr, maxStr) = kind match {
        case "num" => (col("mn").cast(DoubleType), col("mx").cast(DoubleType),
          lit(null).cast(StringType), lit(null).cast(StringType))
        case "str" => (lit(null).cast(DoubleType), lit(null).cast(DoubleType),
          col("mn").cast(StringType), col("mx").cast(StringType))
        case "date" => (lit(null).cast(DoubleType), lit(null).cast(DoubleType),
          col("mn").cast(DateType).cast(StringType),
          col("mx").cast(DateType).cast(StringType))
      }
      base.select(lit(name).as("ColName"), col("RowCnt"), col("NullCnt"),
        col("DistinctCnt"), minNum.as("MinNum"), maxNum.as("MaxNum"),
        minStr.as("MinStr"), maxStr.as("MaxStr"))
    }
    Seq(
      branch("l_orderkey", "num"),
      branch("l_quantity", "num"),
      branch("l_extendedprice", "num"),
      branch("l_discount", "num"),
      branch("l_returnflag", "str"),
      branch("l_shipdate", "date"))
      .reduce(_.union(_))
      .transform(Summaries.smallSort(_, col("ColName")))
  }

  /** DATA-QUALITY ASSERTION SUITE — the dbt-test/Great-Expectations
    * workload as one query: referential integrity (orphan facts,
    * orphan orders), key uniqueness, and domain-range rules over the
    * star, each reported as (checked, violations, rate). The numbers a
    * load pipeline gates on before publishing a snapshot.
    *
    * Shapes: one branch per rule, each a column-pruned narrow scan —
    * referential rules are anti-join counts (broadcast when the dim
    * side fits, shuffle-hash otherwise; never row-by-row lookups),
    * uniqueness is the Expand-free two-level form (groupBy key count →
    * Σ(cnt−1), the Summaries countDistinct idiom), ranges are plain
    * filter counts with map-side partial aggregation. The union runs
    * on six 1-row frames. */
  /** Declared valid order-date span (half-open) — the dataset contract
    * the range rule enforces; shared with the DuckDB mirror. The
    * synthetic corpus spans 1995..2001, so the contract is the
    * generous warehouse envelope, not TPC-H's 1992-1998. */
  val DqDateMin = "1992-01-01"
  val DqDateMaxExcl = "2002-01-01"

  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    def rule(no: Int, name: String, checked: DataFrame, violations: DataFrame): DataFrame =
      checked.agg(count(lit(1)).as("NChecked"))
        .crossJoin(violations.agg(count(lit(1)).as("NViolations")))
        .select(lit(no).as("RuleNo"), lit(name).as("Rule"),
          col("NChecked"), col("NViolations"),
          (col("NViolations").cast(DoubleType) / col("NChecked")).as("ViolationRate"))
    val dupViolations = li
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("C")).filter(col("C") > 1)
      .select(explode(expr("sequence(2, C)")).as("x")) // one row per extra copy
    Seq(
      rule(1, "lineitem_orphan_order", li,
        li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")),
      rule(2, "order_orphan_customer", ord,
        ord.select(col("o_custkey"))
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")),
      rule(3, "lineitem_dup_linenumber", li, dupViolations),
      rule(4, "lineitem_qty_range", li,
        li.filter(col("l_quantity") <= 0 || col("l_quantity") > 50)),
      rule(5, "lineitem_price_positive", li,
        li.filter(col("l_extendedprice") <= 0)),
      rule(6, "order_date_range", ord,
        ord.filter(col("o_orderdate") < to_date(lit(DqDateMin)) ||
          col("o_orderdate") >= to_date(lit(DqDateMaxExcl)))))
      .reduce(_.union(_))
      .transform(graft.etl.Summaries.smallSort(_, col("RuleNo")))
  }

  /** GROUP-MEDIAN IMPUTATION (fillna) — the data-prep staple the
    * reference's cleaning stage sidesteps by dropping nulls (F1/F2):
    * missing numerics filled with their GROUP's median, the robust
    * default every prep library ships. The corpus has no organic nulls
    * (declared schemas, synthetic data), so the query PLANTS them
    * deterministically (l_orderkey ≡ 0 mod 37 — the piiRedact
    * pattern) and reports the imputation per group: null count, the
    * fill value (exact `percentile` median of the surviving values ≡
    * DuckDB `quantile_cont`), and exact before/after sums in
    * centi-units (quantities are integral, medians at worst x.5 —
    * ×100 stays integer-exact, so the AFTER sum proves the fill
    * arithmetic rather than trusting it).
    *
    * Scale shape: one scan, two hash aggs on the tiny group key (the
    * median needs the full group pass; at extreme cardinality swap in
    * `percentile_approx` — the customerSegmentsApprox trade). The
    * per-row imputed output is the same `coalesce(v, FillValue)`
    * broadcast join, elided here in favor of the verifiable report. */
  def imputeReport(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        when(col("l_orderkey") % 37 === 0, lit(null).cast(DoubleType))
          .otherwise(col("l_quantity")).as("Q"))
    planted.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("NRows"),
        (count(lit(1)) - count(col("Q"))).as("NNulls"),
        expr("percentile(Q, 0.5)").as("FillMedian"),
        sum((col("Q") * 100).cast(LongType)).as("SumQ100Before"))
      .withColumn("SumQ100After",
        col("SumQ100Before") +
          col("NNulls") * floor(col("FillMedian") * 100).cast(LongType))
      .select(col("l_returnflag"), col("NRows"), col("NNulls"),
        col("FillMedian"), col("SumQ100Before"), col("SumQ100After"))
      .transform(graft.etl.Summaries.smallSort(_, col("l_returnflag")))
  }

  /** Bivariate numeric profiling THE DETERMINISTIC WAY — per
    * (returnflag, linestatus) group, Pearson correlation, population
    * covariance, and stddevs between quantity and (whole-dollar) line
    * price, computed from EXACT INTEGER power sums instead of Spark's
    * `corr`/`covar_pop` aggregates (whose running double sums are
    * shuffle-order-dependent — rerun the same query, get a different
    * last bit; useless for an oracle gate or a reproducible data
    * card).
    *
    * Method: x = quantity (integral doubles → exact BIGINT),
    * y = floor(extendedprice) (floor of an identical IEEE double is
    * unambiguous everywhere); accumulate n, Σx, Σy, Σx², Σy², Σxy as
    * LONGS (order-free; Σy² ≤ ~1.1e10/row keeps even an sf100
    * group < 2³⁶ rows away from overflow, documented bound); combine
    * into `n·Σxy − Σx·Σy` etc. in DECIMAL(38,0) (exact — the longs'
    * products exceed int64); ONE correctly-rounded cast to double,
    * then IEEE sqrt/divide, which every engine rounds identically.
    * Degenerate (zero-variance) groups yield NULL via an exact integer
    * comparison, not a float guard.
    *
    * Scale shape: a single narrow scan → partial-aggregated hash agg
    * on a 6-value key; the decimal combination runs on the handful of
    * post-agg rows. */
  def statsCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast(LongType).as("X"),
        floor(col("l_extendedprice")).cast(LongType).as("Y"))
    val sums = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("N"),
        sum(col("X")).as("Sx"), sum(col("Y")).as("Sy"),
        sum(col("X") * col("X")).as("Sxx"),
        sum(col("Y") * col("Y")).as("Syy"),
        sum(col("X") * col("Y")).as("Sxy"))
    // decimal(38,0) exact combination; doubles only after the cast
    sums
      .withColumn("NumD", expr(
        "cast(N as decimal(38,0)) * Sxy - cast(Sx as decimal(38,0)) * Sy"))
      .withColumn("DxD", expr(
        "cast(N as decimal(38,0)) * Sxx - cast(Sx as decimal(38,0)) * Sx"))
      .withColumn("DyD", expr(
        "cast(N as decimal(38,0)) * Syy - cast(Sy as decimal(38,0)) * Sy"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("N"),
        (col("Sx").cast(DoubleType) / col("N")).as("MeanX"),
        (col("Sy").cast(DoubleType) / col("N")).as("MeanY"),
        (sqrt(col("DxD").cast(DoubleType)) / col("N")).as("StddevX"),
        (sqrt(col("DyD").cast(DoubleType)) / col("N")).as("StddevY"),
        (col("NumD").cast(DoubleType) /
          (col("N").cast(DoubleType) * col("N"))).as("CovarPop"),
        when(col("DxD") === 0 || col("DyD") === 0, lit(null).cast(DoubleType))
          .otherwise(col("NumD").cast(DoubleType) /
            (sqrt(col("DxD").cast(DoubleType)) * sqrt(col("DyD").cast(DoubleType))))
          .as("PearsonR"))
      .transform(Summaries.smallSort(_, col("l_returnflag"), col("l_linestatus")))
  }

  /** Heavy-hitter threshold: report countries carrying ≥ 3% of all
    * sale lines. The Misra-Gries capacity (64 > 1/0.03) guarantees
    * every qualifying key survives the sketch. */
  private[graft] val HhK = 64
  private[graft] val HhPhiPct = 3

  /** Heavy hitters (frequent items) — the two-pass sketch-then-confirm
    * architecture: pass 1 is ONE mergeable aggregate computing the
    * [[graft.functions.MisraGriesTopK]] summary and the exact row
    * count together (O(k) state per partition, O(k) bytes over the
    * exchange — the driver never sees per-key counts); pass 2 counts
    * ONLY rows whose key is in the ≤ k-item candidate list (broadcast
    * inner join), so its hash state is O(k) no matter how many
    * distinct keys the corpus has — the reason to sketch at all: an
    * exact groupBy at 100 TB carries every distinct key through the
    * shuffle, this carries ≤ k + the candidate rows.
    *
    * The MG guarantee (any item with true count > N/(k+1) is in the
    * summary, for ANY partitioning/merge order) means candidates ⊇
    * all keys ≥ φN, and the exact confirm filter removes the sketch's
    * false positives — so the output is bit-identical to the exact
    * heavy-hitters oracle even though the sketch itself is
    * approximate and merge-order-dependent. Integer threshold
    * arithmetic (Cnt·100 ≥ φpct·N) keeps the filter fp-free. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val sales = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .select(col("Country"))
    val sketch = sales.agg(
      expr(s"misra_gries(Country, $HhK)").as("Sk"),
      count(lit(1)).as("N"))
    val candidates = sketch
      .select(col("N"), explode(col("Sk")).as("hh"))
      .select(col("hh.item").as("Country"), col("N"))
    sales
      .join(broadcast(candidates), Seq("Country"))
      .groupBy(col("Country"))
      .agg(count(lit(1)).as("Cnt"), max(col("N")).as("NTot"))
      .filter(col("Cnt") * 100 >= lit(HhPhiPct) * col("NTot"))
      .select(col("Country"), col("Cnt"),
        (col("Cnt").cast(DoubleType) / col("NTot").cast(DoubleType)).as("Share"))
      .orderBy(col("Cnt").desc, col("Country"))
  }

  /** Bloom-pruned semi join: revenue of line items belonging to
    * URGENT orders. The dim side (filtered orders keys) builds a
    * [[graft.functions.BloomBuildAgg]] bitset in one aggregate — 64 KB
    * at 2^19 bits — which ships to every fact task as a plan literal;
    * `bloom_contains` drops ~(1 - selectivity) of fact rows BEFORE
    * the shuffle, inside the scan's WholeStageCodegen filter. The
    * exact left-semi join downstream (shuffle_hash-hinted to model
    * the fat-dim shape where broadcast is impossible) removes the
    * bloom's false positives, so results are bit-identical to the
    * plain semi-join oracle — same rewrite-invisible-to-results
    * contract as [[skewSaltedJoin]]. At 100 TB this is the pattern
    * for every selective fact⋈dim: shuffle 20% of the fact table
    * instead of 100% for the cost of one broadcast bitset. Spark's
    * own runtime bloom (`runtime.bloomFilter.enabled`) does this
    * opportunistically; the explicit form is deterministic, sized by
    * the caller, and survives plans AQE won't rewrite.
    *
    * The bitset is built by a DISTRIBUTED aggregate (partials per
    * dim partition, OR-merge); only the final 64 KB passes through
    * the driver into a literal on the fact filter — the same route
    * Spark's own dynamic-pruning/runtime filters take when they
    * collect the build side's summary. Attaching it as a literal
    * rather than a 1-row cross join is what pins the filter BELOW
    * the semi join: a join-backed bloom column is join-reordering
    * bait (the optimizer rewrote it into a BroadcastNestedLoopJoin
    * ABOVE the semi join — pruning after the shuffle it exists to
    * shrink), while a literal filter sits in the scan's own
    * WholeStageCodegen stage. SketchSpec asserts the below-the-join
    * plan shape. */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val dimKeys = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloomBytes = dimKeys
      .agg(expr("bloom_build(o_orderkey, 19)").as("BF"))
      .head().getAs[Array[Byte]](0)
    val l = Tables.lineitem(spark, dir)
    val revenue = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec)
    l.filter(call_function("bloom_contains", lit(bloomBytes), col("l_orderkey")))
      .join(dimKeys.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag").as("ReturnFlag"))
      .agg(
        sum(revenue).cast(DoubleType).as("Revenue"),
        count(lit(1)).as("Lines"),
        sum(col("l_quantity").cast(LongType)).as("Qty"))
      .transform(Summaries.smallSort(_, col("ReturnFlag")))
  }

  private[graft] val KmvK = 256
  private[graft] val SampleK = 200

  /** KMV distinct-count sketch vs the exact count, in one result row.
    * The key's 48-bit md5 prefix (codegen'd `md5`/`conv` on the scan,
    * exact in a double) feeds the [[graft.functions.KMinValues]]
    * bottom-k aggregate: O(k) state per partition, ≤ k longs per
    * partial over the exchange — at 100 TB the exact `countDistinct`
    * column is the one that stops scaling (every distinct key crosses
    * the shuffle); the sketch column is its replacement, and this
    * query measures the trade on the same corpus. Estimate =
    * (k−1)·2^48 / kth-smallest — integer inputs, one IEEE division,
    * so DuckDB reproduces it bit-for-bit; when the corpus has fewer
    * than k distinct keys the kept-set size IS the exact count.
    * `ErrOk` gates the hash on |est − exact| ≤ 25% ≈ 4σ at k=256 —
    * deterministic on a fixed corpus (same hashes every run), the
    * same documented probabilistic-bound caveat as
    * `sketch_approx_stats`. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val pow48 = 281474976710656.0 // 2^48: hash prefix → (0,1) scale
    val hashes = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .select(col("InvoiceNo"),
        conv(substring(md5(col("InvoiceNo")), 1, 12), 16, 10)
          .cast(LongType).as("H"))
    val sk = hashes.agg(expr(s"kmv_kmin(H, $KmvK)").as("Ks"))
    val ex = hashes.agg(countDistinct(col("InvoiceNo")).as("ExactDistinct"))
    sk.crossJoin(ex)
      .select(
        col("ExactDistinct"),
        when(size(col("Ks")) >= KmvK, element_at(col("Ks"), KmvK)).as("KthHash"),
        when(size(col("Ks")) >= KmvK,
          lit((KmvK - 1).toDouble * pow48) /
            element_at(col("Ks"), KmvK).cast(DoubleType))
          .otherwise(size(col("Ks")).cast(DoubleType)).as("KmvEstimate"))
      .withColumn("ErrOk",
        abs(col("KmvEstimate") - col("ExactDistinct").cast(DoubleType)) <=
          lit(0.25) * col("ExactDistinct").cast(DoubleType))
  }

  /** Deterministic uniform sample: the bottom-[[SampleK]] documents by
    * md5(doc_id) — a sample that is (1) uniform (md5 bytes are
    * uniform), (2) REPRODUCIBLE across engines and runs (no RNG
    * state, no partitioning dependence — `TABLESAMPLE`/`df.sample`
    * give neither), and (3) CONSISTENT under corpus growth: a doc
    * leaves the sample only when a new doc hashes below it, so
    * overlapping corpora give overlapping samples (the property that
    * makes hash-sampling composable with incremental ingestion —
    * yesterday's sampled doc stays sampled today unless genuinely
    * displaced). Plans as TakeOrderedAndProject: O(k) per partition,
    * k rows per partial to the driver, no global sort — the same
    * bottom-k-by-hash the [[graft.functions.KMinValues]] aggregate
    * keeps, here as whole rows. */
  def sampleBottomK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("doc_id").cast(StringType)).as("Hash"),
        col("source"), col("n_chars"))
      .orderBy(col("Hash"))
      .limit(SampleK)

  /** Relative-standing windows (percent_rank / cume_dist) over the
    * daily revenue aggregate — the remaining ranking family beyond
    * row_number/ntile/rank-limit already covered. Global window on
    * POST-AGGREGATION rows only (≤ #days), the engine's documented
    * pattern for unpartitioned windows; ranks order by the exact
    * decimal revenue so ties (and therefore both ranks) are
    * engine-independent. */
  def windowDailyRanks(spark: SparkSession, dir: String): DataFrame = {
    val daily = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Date"))
      .agg(sum(col("TotalAmount").cast(dec)).as("RevDec"))
    val w = Window.orderBy(col("RevDec"))
    daily.select(col("Date"), col("RevDec").cast(DoubleType).as("Revenue"),
        percent_rank().over(w).as("PctRank"),
        cume_dist().over(w).as("CumeDist"))
      .transform(Summaries.smallSort(_, col("Date")))
  }

  /** Time-series densify + forward fill (gap fill): the daily sales
    * of the single top-revenue product over the FULL corpus calendar —
    * every date between the corpus' first and last sale day gets a
    * row, gap days carry NULL revenue, and `FilledRevenue` repeats
    * the last observed value (`last(_, ignoreNulls)` over the running
    * frame — pandas `ffill` / ANSI `LAST_VALUE IGNORE NULLS`).
    * `DaysSinceSale` is the staleness of the fill (0 on observed
    * days); leading calendar days before the product's first sale
    * stay NULL end-to-end — the fill never invents data.
    *
    * Scale shape: the fact scan + per-day aggregate are the only
    * passes over raw data; densify/fill run on the POST-AGGREGATION
    * frame (≤ #days rows — kilobytes at any corpus size), where the
    * calendar `sequence`+`explode` and the unpartitioned running
    * window are free. For per-key gap fill at scale the same plan
    * partitions the calendar cross join by key and the window by
    * `partitionBy(key)` — nothing in the shape is tied to one
    * series. */
  def gapfillDaily(spark: SparkSession, dir: String): DataFrame = {
    val sales = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
    val top = sales.groupBy(col("StockCode"))
      .agg(sum(col("TotalAmount").cast(dec)).as("R"))
      .orderBy(col("R").desc, col("StockCode"))
      .limit(1).select(col("StockCode"))
    val perDay = sales.join(broadcast(top), "StockCode")
      .groupBy(col("Date"))
      .agg(sum(col("TotalAmount").cast(dec)).as("RevDec"),
        lit(true).as("Obs"))
    val cal = sales.agg(min(col("Date")).as("mn"), max(col("Date")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"),
        expr("interval 1 day"))).as("Date"))
    val w = Window.orderBy(col("Date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(perDay, Seq("Date"), "left")
      .withColumn("Observed", coalesce(col("Obs"), lit(false)))
      .withColumn("Revenue", col("RevDec").cast(DoubleType))
      .withColumn("FilledRevenue",
        last(col("RevDec"), ignoreNulls = true).over(w).cast(DoubleType))
      .withColumn("CumRevenue",
        sum(coalesce(col("RevDec"), lit(0).cast(dec))).over(w).cast(DoubleType))
      .withColumn("DaysSinceSale", datediff(col("Date"),
        last(when(col("Observed"), col("Date")), ignoreNulls = true).over(w)))
      .select(col("Date"), col("Observed"), col("Revenue"),
        col("FilledRevenue"), col("CumRevenue"), col("DaysSinceSale"))
      .transform(Summaries.smallSort(_, col("Date")))
  }

  /** Set difference: customers active in 1995 but not in 1996
    * (EXCEPT — planned as a left-anti aggregate join). */
  def churnedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val in95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey")).distinct()
    val in96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")).distinct()
    in95.except(in96).orderBy(col("o_custkey"))
  }

  /** As-of semantics over the event stream: for every purchase, the
    * most recent STRICTLY PRIOR view by the same user (the classic
    * time-series as-of join, here composed from a bounded window
    * instead of a custom operator — preference (a) in the design
    * order). Exact microsecond integer arithmetic throughout. */
  def purchaseAsofView(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("us", expr("ts_ns div 1000"))
      .withColumn("LastViewUs",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("PurchaseTs"),
        date_format(timestamp_micros(col("LastViewUs")), "yyyy-MM-dd HH:mm:ss").as("LastViewTs"),
        (col("us") - col("LastViewUs")).as("GapMicros"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** True two-TABLE as-of JOIN (vs [[purchaseAsofView]]'s single-stream
    * window): enrich every purchase with the most recent hourly
    * view-traffic aggregate at-or-before it — the classic streaming
    * enrichment join (trades vs quotes, events vs rates).
    *
    * Spark has no ASOF JOIN operator; the scalable composition is the
    * union-tag trick: tag reference rows 0 and probe rows 1, sort by
    * (time, tag) so a reference row at time T precedes probes at T
    * (>= semantics), then `last(value, ignoreNulls)` over the running
    * window carries each reference row forward to the probes that
    * follow it. One sort, no join at all — O((n+m) log(n+m)) total vs
    * the O(n·m) a naive inequality join degrades to. The oracle runs
    * DuckDB's NATIVE `ASOF LEFT JOIN` — two independent
    * implementations of the operator agreeing bit-for-bit. At scale
    * the same composition runs per entity key (partitionBy the key);
    * this global variant sorts #hours + #purchases rows. */
  def asofJoinHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("us", expr("ts_ns div 1000"))
    val hourly = ev.filter(col("event_type") === "view")
      .groupBy(expr("us - us % 3600000000").as("HourUs"))
      .agg(count(lit(1)).as("NViews"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val u = hourly.select(col("HourUs").as("TUs"), lit(0).as("Src"),
        col("NViews"), lit(null).cast(LongType).as("event_id"),
        lit(null).cast(LongType).as("user_id"))
      .union(purchases.select(col("us").as("TUs"), lit(1).as("Src"),
        lit(null).cast(LongType).as("NViews"), col("event_id"), col("user_id")))
    val w = Window.orderBy(col("TUs"), col("Src"))
      .rowsBetween(Window.unboundedPreceding, 0)
    u.withColumn("AsofNViews", last(col("NViews"), ignoreNulls = true).over(w))
      .withColumn("AsofHourUs",
        last(when(col("Src") === 0, col("TUs")), ignoreNulls = true).over(w))
      .filter(col("Src") === 1)
      .select(col("event_id"), col("user_id"),
        date_format(timestamp_micros(col("TUs")), "yyyy-MM-dd HH:mm:ss").as("PurchaseTs"),
        date_format(timestamp_micros(col("AsofHourUs")), "yyyy-MM-dd HH:mm:ss").as("AsofHour"),
        col("AsofNViews").as("NViews"))
      .transform(Summaries.smallSort(_, col("event_id")))
  }

  /** Approximate/sketch aggregates — the at-scale substitutes for exact
    * distinct counts and sorts: HyperLogLog++ (`approx_count_distinct`,
    * mergeable across partitions, O(1) memory) and quantile sketches
    * (`percentile_approx`). At 100 TB these replace the exact
    * countDistinct double-shuffle wherever a bounded relative error is
    * acceptable.
    *
    * Correctness contract: sketch VALUES are engine-specific, so the
    * output carries (a) the exact columns, which the DuckDB oracle
    * recomputes, and (b) per-sketch error-bound BOOLEANS the oracle
    * states as literal TRUE — HLL relative error ≤ 3×rsd (rsd = 0.02),
    * approx-percentile value within the exact discrete 0.4/0.6 (resp.
    * 0.8/1.0) quantiles, a ±0.1 rank window that dwarfs the sketch's
    * 1/accuracy = 0.01 rank-error guarantee (accuracy 100 — round 5:
    * the previous 1000 bought 0.001 rank error nothing checks, and the
    * GK compress cost that comes with it was the slowest-query line
    * item in BENCH; 0.01 still clears the verified bound 10×). A false
    * boolean (sketch
    * out of bound) hash-mismatches the oracle row, so the driver gate
    * genuinely checks the sketches instead of skipping them.
    * SketchSpec asserts the tighter numeric bounds on the raw values.
    *
    * Gate shape (round-3 fix): the original single mega-aggregate put
    * two `countDistinct`s (→ 3× Expand), three separate
    * `percentile_disc WITHIN GROUP` sort-aggregates (each its own
    * boxed value→count map per group), and the approx sketches into
    * one `agg` — the exact gate cost 16.5 s, dwarfing the sketches it
    * checks (measured variants: PERFORMANCE.md, round-3 optimization
    * pass). Restructured into three lean chains joined on the tiny
    * Country key (AQE broadcasts the ≤#countries-row sides):
    *   1. exact+HLL distinct counts via two-level aggregation
    *      (dedup (Country, key) first — HLL is duplicate-insensitive,
    *      so the post-dedup sketch is value-identical — then count),
    *      avoiding the Expand entirely;
    *   2. exact discrete bound percentiles from PRE-BINNED
    *      (Country, TotalAmount) counts (round 5): one uniform-key
    *      hash aggregate over the facts, then the rank window runs on
    *      distinct amounts only — the value at rank r is the minimum
    *      amount whose running count reaches r, so the former
    *      600K-row-per-country radix sort shrinks to |distinct
    *      amounts| rows while computing the identical discrete
    *      quantiles (positions still exact integer arithmetic:
    *      (q·10·n + 9) div 10 = ceil(q·n));
    *   3. both approx percentiles from one array-fraction
    *      `percentile_approx` (one shared mergeable sketch) in its own
    *      SORTLESS ObjectHashAggregate chain over the raw stream (the
    *      sketch must see per-row frequencies, so it cannot ride the
    *      binned chain).
    * At 100 TB each chain is a single uniform-key shuffle; nothing
    * re-sorts or re-expands the fact stream. */
  def approxSketchStats(spark: SparkSession, dir: String): DataFrame = {
    val c = Transactions.cleaned(spark, dir).filter(!col("IsCancelled"))
    def distinctCounts(key: String, exactAs: String, approxAs: String) =
      c.select(col("Country"), col(key)).distinct()
        .groupBy(col("Country"))
        .agg(count(lit(1)).as(exactAs),
          approx_count_distinct(col(key), 0.02).as(approxAs))
    val custs = distinctCounts("CustomerID", "ExactCustomers", "ac")
    val ords = distinctCounts("InvoiceNo", "ExactOrders", "ao")
    val wOrd = Window.partitionBy(col("Country")).orderBy(col("TotalAmount"))
    val wAll = Window.partitionBy(col("Country"))
    // rank-r value = min amount whose cumulative count reaches r
    // (cum is monotone in TotalAmount within a country)
    def atRank(tenths: Int) = min(when(
      col("cum") >= expr(s"($tenths * cnt + 9) div 10"), col("TotalAmount")))
    val pcts = c.groupBy(col("Country"), col("TotalAmount"))
      .agg(count(lit(1)).as("AmtCnt"))
      .withColumn("cum", sum(col("AmtCnt")).over(wOrd))
      .withColumn("cnt", sum(col("AmtCnt")).over(wAll))
      .groupBy(col("Country"))
      .agg(
        atRank(4).as("lo50"), atRank(6).as("hi50"), atRank(8).as("lo90"),
        max(col("TotalAmount")).as("hi90"))
    val sketch = c.groupBy(col("Country"))
      .agg(percentile_approx(col("TotalAmount"),
        array(lit(0.5), lit(0.9)), lit(100)).as("ap"))
    custs.join(ords, "Country").join(pcts, "Country").join(sketch, "Country")
      .select(
        col("Country"), col("ExactCustomers"), col("ExactOrders"),
        (abs(col("ac") - col("ExactCustomers"))
          <= col("ExactCustomers") * lit(0.06)).as("CustomersSketchOk"),
        (abs(col("ao") - col("ExactOrders"))
          <= col("ExactOrders") * lit(0.06)).as("OrdersSketchOk"),
        (col("ap")(0) >= col("lo50") && col("ap")(0) <= col("hi50")).as("P50SketchOk"),
        (col("ap")(1) >= col("lo90") && col("ap")(1) <= col("hi90")).as("P90SketchOk"))
      .transform(Summaries.isolatedSmallSort(_, col("Country")))
  }

  /** The testdata's order-date span (1995-2001); pivot columns are a
    * DECLARED list so the plan is one pass (no extra distinct-values
    * job, and stable schema under any data subset). */
  private val PivotYears = 1995 to 2001

  /** PIVOT: revenue by country × year, years as columns — Spark's
    * `pivot` with explicit values plans a single hash aggregate with
    * conditional sums (no per-year scans, no values-discovery job).
    * Empty cells stay NULL (no coalesce), matching the SQL CASE-sum
    * mirror. */
  def pivotCountryYear(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Country"))
      .pivot("Year", PivotYears.map(_.asInstanceOf[AnyRef]))
      .agg(sum(col("TotalAmount").cast(dec)).cast(DoubleType))
    PivotYears.foldLeft(pivoted) { (df, y) =>
      df.withColumnRenamed(y.toString, s"Rev$y")
    }.transform(Summaries.smallSort(_, col("Country")))
  }

  /** UNPIVOT (melt) — the inverse reshape of [[pivotCountryYear]]:
    * the wide per-country aggregate (one column per metric) becomes
    * long (Country, Metric, Value) rows via `Dataset.unpivot`, which
    * Spark plans as ONE Expand over the already-aggregated frame —
    * |countries| × |metrics| rows, no join, no shuffle beyond the
    * upstream aggregate. Metrics are pre-cast to one common DOUBLE
    * type (unpivot requires it, and it keeps the value column's
    * engine semantics unambiguous). */
  def unpivotCountryMetrics(spark: SparkSession, dir: String): DataFrame = {
    val wide = Transactions.cleaned(spark, dir)
      .filter(!col("IsCancelled"))
      .groupBy(col("Country"))
      .agg(
        sum(col("TotalAmount").cast(dec)).cast(DoubleType).as("Revenue"),
        countDistinct(col("InvoiceNo")).cast(DoubleType).as("Orders"),
        sum(col("Quantity")).cast(DoubleType).as("Items"))
    wide.unpivot(
        Array(col("Country")),
        Array(col("Revenue"), col("Orders"), col("Items")),
        "Metric", "Value")
      .transform(Summaries.smallSort(_, col("Country"), col("Metric")))
  }

  /** Set intersection: customers active in BOTH 1995 and 1996
    * (INTERSECT — planned as a left-semi aggregate join). */
  def returningCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val in95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey")).distinct()
    val in96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")).distinct()
    in95.intersect(in96).orderBy(col("o_custkey"))
  }

  /** Value bands for [[rangeJoinValueBands]]: (name, lo inclusive,
    * hi exclusive). Non-uniform widths on purpose — the binning math
    * must handle bands narrower and wider than a bin. ALSO read by the
    * DuckDB mirror (ExtSql.rangeJoinValueBands). */
  val ValueBands: Seq[(String, Double, Double)] = Seq(
    ("micro", 0.0, 1.0),
    ("small", 1.0, 10.0),
    ("medium", 10.0, 50.0),
    ("large", 50.0, 150.0),
    ("xlarge", 150.0, 400.0),
    ("jumbo", 400.0, 1000.0))

  /** Bin width for the band replication: bands span ceil(width/25)
    * bins each (42 replicated rows for [[ValueBands]]). */
  val BandBinWidth = 25.0

  /** INTERVAL (range-containment) JOIN, the scale-correct way: events
    * classified into value bands `[lo, hi)`.
    *
    * The naive formulation — `events JOIN bands ON value >= lo AND
    * value < hi` — has no equi-key, so Spark plans a
    * BroadcastNestedLoopJoin: every row compared against every band,
    * O(n·|bands|) compares with no hash locality, and with a
    * larger-than-broadcast interval table it degrades to a cartesian
    * product. The standard fix (genomics/IP-range joins) is
    * bin-and-replicate: carve the value domain into fixed-width bins,
    * replicate each interval to every bin it overlaps (driver-side
    * here — the band table is literal; a DataFrame `sequence`+
    * `explode` does the same for interval TABLES), compute each probe
    * row's bin with one `floor(value / w)`, equi-join on the bin, and
    * re-check the exact containment as a residual predicate. The join
    * becomes a hash join on a dense integer key — broadcastable here,
    * shuffle-on-bin for interval tables of any size — and PlanSpec
    * asserts the nested-loop shape is gone.
    *
    * Aggregation follows the eventsHourly numeric rules: counts plus
    * an exact decimal sum surfaced as double. */
  def rangeJoinValueBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = BandBinWidth
    val bandBins = ValueBands.flatMap { case (name, lo, hi) =>
      (math.floor(lo / w).toLong until math.ceil(hi / w).toLong)
        .map(bin => (name, lo, hi, bin))
    }.toDF("Band", "Lo", "Hi", "Bin")
    Tables.events(spark, dir)
      .withColumn("EBin", floor(col("value") / w).cast(LongType))
      .join(broadcast(bandBins),
        col("EBin") === col("Bin") &&
          col("value") >= col("Lo") && col("value") < col("Hi"))
      .groupBy(col("Band"), col("Lo"), col("Hi"))
      .agg(count(lit(1)).as("NEvents"),
        sum(col("value").cast(dec)).cast(DoubleType).as("TotalValue"))
      .orderBy(col("Lo"))
  }

  /** Regex tokenization counts (punctuation-robust "BPE-ish" proxy) —
    * codegen'd regexp_extract_all, no UDF. */
  def regexTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("NAlpha"),
      size(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).as("NNonSpace"))
      .orderBy(col("doc_id"))
}
