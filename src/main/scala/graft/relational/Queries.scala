package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.io.{CsvSources, Tables}
import graft.ipf.Ipf
import graft.matrix.{CooMatrix, Marginals}
import graft.pipeline.CostAllocation

/** The DuckDB-oracle-checkable relational operator surface (SURVEY.md §2)
  * over the TPC-H-ish testdata.
  *
  * Determinism discipline for exact hash-comparison against DuckDB:
  * double SUMs are computed by casting to DECIMAL first (exact, i.e.
  * order-independent under Spark's partitioned aggregation AND DuckDB's),
  * then cast back to double; re-aggregations of already-exact doubles
  * (e.g. COO row sums feeding IPF) are rounded at the output to absorb
  * last-ulp association differences. Integer outputs are cast to long to
  * match DuckDB's BIGINT. Window/sort outputs order by unique keys.
  */
object Queries {

  /** Exact (order-independent) sum of a double column via decimal. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame = Tables(s, dir, name)

  // ---- scans / filters / projections -------------------------------------

  /** TPC-H Q1-shaped pricing summary: filter pushdown + hash agg. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast("double").as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .cast(DecimalType(18, 6))).cast("double").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Row-level filter + projection + computed column (pushdown check). */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        (col("l_extendedprice") * col("l_discount")).as("disc_revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** TPC-H Q6-shaped scalar aggregate. */
  def revenueAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast(DecimalType(18, 4)))
        .cast("double").as("revenue"))

  // ---- joins -------------------------------------------------------------

  def joinAggSegment(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** 5-way join, small dims broadcast (TPC-H Q5 shape). */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer"); val nation = t(s, dir, "nation")
    val region = t(s, dir, "region")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Wide pivot (q280): per-user event-type count matrix — the inverse of
    * the q56 melt, on Spark's native `pivot` with the value list PINNED
    * (an unpinned pivot runs an extra distinct scan to discover columns,
    * and column order would depend on data). Missing cells coalesce to 0
    * in both engines. One shuffle; pivoted aggs are map-side partial. */
  def eventTypePivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = graft.streaming.Events.batchEvents(s, dir)
      .select(col("user_id"), col("event_type"))
    val piv = ev.groupBy("user_id").pivot("event_type", types).count()
    piv.select(col("user_id") +:
      types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
  }

  /** Exact percentiles per group (q281): Spark's `percentile` (exact,
    * sort-based within the agg — fine per-group; the q93 GK sketch is
    * the corpus-wide streaming path) against DuckDB's `quantile_cont`,
    * both defined as linear interpolation at rank p·(n−1) — hash
    * equality certifies the two engines' interpolation arithmetic
    * agrees bit-for-bit on the same doubles. */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.batchEvents(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"),
        count(lit(1)).as("n"))

  /** Per-group Pearson correlation matrix (q282) from DECIMAL-quantized
    * moment sums — the profiling statistic built the deterministic way:
    * never `corr()` (both engines' streaming covariance updates are
    * order-dependent in the last ulps), but one hash agg of quantized
    * moments (Σx, Σx², Σxy at DECIMAL(38,8) — order-independent, exact)
    * and the closed-form corr per pair as a scalar double expression
    * both engines evaluate identically. One scan, one shuffle. */
  def corrMatrix(s: SparkSession, dir: String): DataFrame =
    corrMatrixFrom(t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
      col("l_quantity").as("q"), col("l_extendedprice").as("p"),
      col("l_discount").as("d")))

  private[graft] def corrMatrixFrom(li: DataFrame): DataFrame = {
    val dec = DecimalType(38, 8)
    def mom(c: Column) = sum(c.cast(dec))
    val sums = li.groupBy("flag").agg(count(lit(1)).as("n"),
      mom(col("q")).as("sq"), mom(col("p")).as("sp"), mom(col("d")).as("sd"),
      mom(col("q") * col("q")).as("sqq"), mom(col("p") * col("p")).as("spp"),
      mom(col("d") * col("d")).as("sdd"), mom(col("q") * col("p")).as("sqp"),
      mom(col("q") * col("d")).as("sqd"), mom(col("p") * col("d")).as("spd"))
    def corrOf(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
      round((col("n") * col(sxy).cast("double") -
          col(sx).cast("double") * col(sy).cast("double")) /
        sqrt((col("n") * col(sxx).cast("double") -
            col(sx).cast("double") * col(sx).cast("double")) *
          (col("n") * col(syy).cast("double") -
            col(sy).cast("double") * col(sy).cast("double"))), 6)
    sums.select(col("flag"), col("n"),
      corrOf("sq", "sp", "sqq", "spp", "sqp").as("corr_qty_price"),
      corrOf("sq", "sd", "sqq", "sdd", "sqd").as("corr_qty_disc"),
      corrOf("sp", "sd", "spp", "sdd", "spd").as("corr_price_disc"))
  }

  def broadcastJoinPart(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val part = t(s, dir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy("p_brand")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Left-anti join — the reference's `missing` lookup (core.clj:167):
    * customers with no large (>450k) order. */
  def antiJoinCustomers(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")).orderBy("c_custkey")
  }

  def semiJoinSuppliers(s: SparkSession, dir: String): DataFrame = {
    val supplier = t(s, dir, "supplier")
    val li = t(s, dir, "lineitem").filter(col("l_quantity") > 49)
    supplier.join(li, supplier("s_suppkey") === li("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name")).orderBy("s_suppkey")
  }

  // ---- window / sort / set ops -------------------------------------------

  /** Share-of-group — the reference's `weight-matrix` shape as an analytic
    * window (core.clj:52-56; ≤2 rows per partition so FP order is fixed). */
  def windowShare(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("qty"))
    g.withColumn("share", col("qty") / sum(col("qty")).over(Window.partitionBy("l_returnflag")))
      .orderBy("l_returnflag", "l_linestatus")
  }

  def sortCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))

  def unionTagged(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n")).withColumn("side", lit("customer"))
    val sp = t(s, dir, "supplier")
      .groupBy(col("s_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n")).withColumn("side", lit("supplier"))
    c.unionByName(sp).select("side", "nationkey", "n").orderBy("side", "nationkey")
  }

  /** Two-sided tagged symmetric difference — the reference's `diff`
    * (data.clj:17-30), as set ops instead of a hand-rolled sorted merge:
    * customers that only ever placed 'F' orders vs only 'O' orders. */
  def symmetricDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val f = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")).distinct()
    val o = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")).distinct()
    f.except(o).withColumn("side", lit("left"))
      .unionByName(o.except(f).withColumn("side", lit("right")))
      .select("side", "custkey").orderBy("side", "custkey")
  }

  /** Outer product of two aggregated marginals — the reference's
    * `seed-matrix` (core.clj:78-80) as a broadcast crossJoin. */
  def outerProduct(s: SparkSession, dir: String): DataFrame = {
    val u = t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nationkey")).agg(count(lit(1)).as("u_n"))
    val v = t(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("orderstatus")).agg(count(lit(1)).as("v_n"))
    u.crossJoin(broadcast(v))
      .select(col("nationkey"), col("orderstatus"), (col("u_n") * col("v_n")).as("mass"))
      .orderBy("nationkey", "orderstatus")
  }

  // ---- COO matrix operator surface ---------------------------------------

  /** The lineitem COO with exact (decimal-summed) cells: row = partkey,
    * col = hour of shipdate, value = Σ measure. */
  def cooExact(s: SparkSession, dir: String, measure: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("mrow"), month(col("l_shipdate")).cast("long").as("mcol"))
      .agg(dsum(col(measure)).as("mval"))

  private def asCoo(df: DataFrame): CooMatrix = CooMatrix.fromDF(df, "mrow", "mcol", "mval")

  private def named(m: CooMatrix, roundTo: Int = -1): DataFrame = {
    val v = if (roundTo >= 0) round(col(CooMatrix.Value), roundTo) else col(CooMatrix.Value)
    m.df.select(col(CooMatrix.Row).as("mrow"), col(CooMatrix.Col).as("mcol"), v.as("mval"))
      .orderBy("mrow", "mcol")
  }

  def matrixTranspose(s: SparkSession, dir: String): DataFrame =
    named(asCoo(cooExact(s, dir, "l_extendedprice")).transpose)

  def matrixSumRows(s: SparkSession, dir: String): DataFrame =
    asCoo(cooExact(s, dir, "l_extendedprice")).sumRows
      .select(col(CooMatrix.Idx).as("mrow"), round(col(CooMatrix.Value), 4).as("mval"))
      .orderBy("mrow")

  def matrixSumCols(s: SparkSession, dir: String): DataFrame =
    asCoo(cooExact(s, dir, "l_extendedprice")).sumCols
      .select(col(CooMatrix.Idx).as("mcol"), round(col(CooMatrix.Value), 4).as("mval"))
      .orderBy("mcol")

  /** COO matmul (partkey×hour)·(hour×returnflag) — SpGEMM join+agg. */
  def matrixMultiply(s: SparkSession, dir: String): DataFrame = {
    val a = asCoo(cooExact(s, dir, "l_quantity"))
    val b = CooMatrix.fromDF(
      t(s, dir, "lineitem")
        .groupBy(month(col("l_shipdate")).cast("long").as("mrow"), col("l_returnflag").as("mcol"))
        .agg(dsum(col("l_quantity")).as("mval")),
      "mrow", "mcol", "mval")
    named(a.multiply(b), roundTo = 4)
  }

  /** Σ xᵢ·yᵢ of two per-partkey marginals (reference `dot`, core.clj:11-16).
    * Products of 2dp-exact doubles are 4dp-exact → decimal sum is exact.
    *
    * Both marginals aggregate the SAME rows by the SAME key, so their key
    * sets coincide and the inner join degenerates to one aggregation
    * computing both sums — one lineitem pass instead of two, no join
    * (guide §2.4). Each dsum is decimal-exact, so `av`/`bv` are the same
    * doubles whichever aggregation computes them. */
  def marginalDot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("k"))
      .agg(dsum(col("l_quantity")).as("av"), dsum(col("l_extendedprice")).as("bv"))
      .agg(sum((col("av") * col("bv")).cast(DecimalType(38, 4))).cast("double").as("dot_product"))

  /** √Σx² of the qty marginal (reference `L2-norm`, core.clj:23-26). */
  def marginalL2Norm(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "lineitem").groupBy(col("l_partkey").as("k")).agg(dsum(col("l_quantity")).as("av"))
    a.agg(sqrt(sum((col("av") * col("av")).cast(DecimalType(38, 4))).cast("double")).as("l2_norm"))
  }

  /** Reference `rmse` (core.clj:28-30): L2 of residual, NO mean. Exact via
    * decimal diffs/squares.
    *
    * The filtered marginal is a conditional aggregate of the SAME rows by
    * the SAME key, so the left join collapses into one aggregation — one
    * lineitem pass instead of two, no join (guide §2.4). A key with no
    * `l_returnflag = 'A'` rows sums all-NULL → NULL, exactly the missing
    * left-join match the coalesce always handled. */
  def marginalRmse(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("k"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("av"),
        sum(when(col("l_returnflag") === "A", col("l_quantity"))
          .cast(DecimalType(18, 2))).as("bv"))
      .select((col("av") - coalesce(col("bv"), lit(0).cast(DecimalType(18, 2)))).as("d"))
      .agg(sqrt(sum((col("d") * col("d")).cast(DecimalType(38, 4))).cast("double")).as("rmse"))

  def laplaceSmooth(s: SparkSession, dir: String): DataFrame =
    named(asCoo(cooExact(s, dir, "l_extendedprice")).laplaceSmooth(0.5))

  /** q22/q23 shape: both zip operands are [[cooExact]] aggregations of the
    * SAME lineitem rows by the SAME (partkey, month) keys, so their supports
    * coincide — the element-wise join (inner for [[CooMatrix.safeDivide]],
    * full-outer for [[CooMatrix.errorMatrix]]; identical on equal supports,
    * the coalesce arms never fire) collapses into ONE aggregation computing
    * both measures. One lineitem pass instead of two and zero joins (guide
    * §1.2/§2.4); each dsum is decimal-exact, so the cell values are the
    * same doubles whichever aggregation computes them. The general
    * [[CooMatrix.zip]]/[[CooMatrix.zipOuter]] operators (arbitrary,
    * differently-supported matrices) are unchanged. */
  private def zipExactSameSupport(s: SparkSession, dir: String)(
      f: (Column, Column) => Column): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("mrow"), month(col("l_shipdate")).cast("long").as("mcol"))
      .agg(dsum(col("l_extendedprice")).as("__p"), dsum(col("l_quantity")).as("__q"))
      .select(col("mrow"), col("mcol"), f(col("__p"), col("__q")).cast("double").as("mval"))
      .orderBy("mrow", "mcol")

  def safeDivide(s: SparkSession, dir: String): DataFrame =
    zipExactSameSupport(s, dir)((x, y) => when(y === 0.0, 0.0).otherwise(x / y))

  def errorMatrix(s: SparkSession, dir: String): DataFrame =
    zipExactSameSupport(s, dir)((x, y) => abs(x - y))

  def minMaxNormalize(s: SparkSession, dir: String): DataFrame =
    named(asCoo(cooExact(s, dir, "l_extendedprice")).minMaxNormalize)

  /** One IPF row-fit (the inferred `optimize-marginal`, core.clj:82-87):
    * rescale each partkey row of the price matrix to the qty marginal.
    *
    * Deliberately NOT fused onto a shared two-measure cell scan (r22
    * negative result, see OPTIMIZATION_r22.md): deriving the marginal from
    * localCheckpointed (partkey, month) cells carrying both decimal sums
    * is bit-identical (decimal order-independence) and saves a fact pass
    * at scale, but measured slower at sf0.1 — the fused agg doubles the
    * per-row decimal CPU while the separate narrow scans run concurrently
    * on idle cores, and the checkpoint barrier adds ~0.4 s. */
  def ipfFitRows(s: SparkSession, dir: String): DataFrame = {
    val m = asCoo(cooExact(s, dir, "l_extendedprice"))
    val marginal = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as(CooMatrix.Idx)).agg(dsum(col("l_quantity")).as(CooMatrix.Value))
    named(m.fitRows(marginal), roundTo = 6)
  }

  /** One full fixed IPF sweep — the reference's `step` (core.clj:89-97):
    * fitRows to the x-marginal, transpose, fitRows (former columns) to the
    * y-marginal, transpose back. This is the hash-checked entry for the
    * engine's central algorithm (q26 keeps the capped iterative `converge`
    * as a rows-only check).
    *
    * Cross-engine determinism: sweep 1 is q25's shape (decimal-exact cells
    * and marginal, plain row sums over ≤12 cells) rounded to 6dp; sweep 2
    * fits the *rounded* intermediate with [[CooMatrix.fitRowsExact]], whose
    * decimal factor sums are order-independent — the ~2000-row column sums
    * would otherwise differ from DuckDB's in the last ulp and poison the
    * 6dp output hash. Both transposes are pure projections (no shuffle). */
  def ipfTwoSweep(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val m = asCoo(cooExact(s, dir, "l_extendedprice"))
    val x = li.groupBy(col("l_partkey").as(CooMatrix.Idx))
      .agg(dsum(col("l_quantity")).as(CooMatrix.Value))
    val y = li.groupBy(month(col("l_shipdate")).cast("long").as(CooMatrix.Idx))
      .agg(dsum(col("l_quantity")).as(CooMatrix.Value))
    // one-pass fits (round 19): the window/broadcast shape consumes the
    // matrix ONCE per fit instead of twice (agg subtree + join probe) —
    // the q94/q121 recipe applied back to the two-sweep certifier.
    // Sweep 1 keeps the reference's double row-sum semantics
    // (fitRowsOnePass; hash-vs-window ulps are absorbed by the 6dp
    // round exactly like the hash-vs-DuckDB ulps always were), sweep 2
    // keeps the decimal-exact column denominator (fitRowsExactOnePass,
    // bit-identical to fitRowsExact by decimal order-independence).
    val sweep1 = m.fitRowsOnePass(x).mapValues(round(_, 6))
    val sweep2 = sweep1.transpose.fitRowsExactOnePass(y).transpose
    named(sweep2, roundTo = 6)
  }

  /** Fixed-k unrolled IPF — the reference `converge` loop body
    * (core.clj:99-119) run for exactly `steps` full sweeps (each sweep =
    * `step`, core.clj:89-97: row fit to x, column fit to y), expressed so a
    * SQL engine can replay it as chained CTEs and hash-match bit-for-bit.
    * This closes the one §2 gap q76 left: q76 proves a single sweep, this
    * proves the *chained* loop semantics (each sweep consuming the previous
    * sweep's output) with a cross-engine oracle; q26 keeps the genuinely
    * iterative driver (loss-lag stopping, checkpoint cadence) as rows-only.
    *
    * Cross-engine determinism, compounding over sweeps: every fit is
    * [[CooMatrix.fitRowsExactOnePass]] — the factor denominator aggregates
    * through DECIMAL(38,6) (window sum == hash-agg sum for decimals, both
    * equal DuckDB's), with the factor association (`target/rowsum`, then
    * `value*factor`) identical to [[CooMatrix.fitRowsExact]] — and every
    * fit's output is rounded to 6dp before the next fit consumes it, so
    * both engines re-enter each sweep from identical 6dp-representable
    * cells.
    *
    * Plan shape: the one-pass fit consumes the matrix ONCE, so the whole
    * unrolled chain is a linear narrow plan — no lineage checkpoints, no
    * 2^k leaf doubling. Measured at sf0.1 (warm): steps 2/4/8 →
    * 0.99/1.13/1.06s, vs 2.2/6.1/10.2s for the former agg+join chain with
    * every-2nd-sweep checkpoints (the round-10 "weak" q94/q121 cost; the
    * ~2s nonlinearity at each truncation barrier was the checkpoint
    * itself). */
  /** 3-way IPF raking, one sweep (q286): the reference's 2-marginal
    * `step` generalized to THREE marginals — the statistical-agency
    * raking shape (region × month × class cells calibrated to three
    * published totals) the 2D library is usually the first casualty of.
    * One sweep = fit to the row marginal, then the column marginal, then
    * the layer marginal, each fit re-normalizing the previous one's
    * output; convergence iterates sweeps exactly as q26 does in 2D.
    * Same determinism rules as [[ipfUnrolled]]: denominator sums ride
    * DECIMAL(38,6) (order-independent), each fit rounds to 6dp.
    * Shape: per fit one hash agg on the dim + two equi-joins (marginal
    * frames are dim-cardinality-sized, broadcast by AQE) — three
    * shuffle rounds per sweep, never a dense cube. */
  def rake3Sweep(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def marg(key: Column, name: String): DataFrame =
      li.groupBy(key.as(name)).agg(dsum(col("l_quantity")).as("tval"))
    val x = marg(col("l_partkey"), "mrow")
    val y = marg(month(col("l_shipdate")).cast("long"), "mcol")
    val z = marg(col("l_returnflag"), "mlay")
    var m = li.groupBy(col("l_partkey").as("mrow"),
        month(col("l_shipdate")).cast("long").as("mcol"),
        col("l_returnflag").as("mlay"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
        .cast("double").as("mval"))
    // One-pass window fit (r22) — the fitRowsExactOnePass shape applied to
    // the 3-marginal rake: the agg+join fit consumed `m` TWICE per fit
    // (denominator subtree + join probe), so the 3-fit chain re-planned
    // and re-executed the m subtree up to 2^3 times (the q121 history).
    // The decimal window sum is order-independent, hence bit-identical to
    // the hash agg, and the value algebra keeps the same association
    // (`mval * (tval / dsum)`, round 6) — the oracle hash certifies it.
    // Each marginal is one row per fitted key (|parts| / 12 months / 3
    // flags) — always the broadcast side.
    def fit(dim: String, target: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(dim)
      m.withColumn("dsum",
          sum(col("mval").cast(DecimalType(38, 6))).over(w).cast("double"))
        .join(broadcast(target), dim)
        .select(col("mrow"), col("mcol"), col("mlay"),
          round(col("mval") * (col("tval") / col("dsum")), 6).as("mval"))
    }
    m = fit("mrow", x)
    m = fit("mcol", y)
    m = fit("mlay", z)
    m
  }

  def ipfUnrolled(s: SparkSession, dir: String, steps: Int = 2): DataFrame = {
    val li = t(s, dir, "lineitem")
    val x = li.groupBy(col("l_partkey").as(CooMatrix.Idx))
      .agg(dsum(col("l_quantity")).as(CooMatrix.Value))
    val y = li.groupBy(month(col("l_shipdate")).cast("long").as(CooMatrix.Idx))
      .agg(dsum(col("l_quantity")).as(CooMatrix.Value))
    var m = asCoo(cooExact(s, dir, "l_extendedprice"))
    for (_ <- 1 to steps) {
      m = m.fitRowsExactOnePass(x).mapValues(round(_, 6))
      m = m.transpose.fitRowsExactOnePass(y).mapValues(round(_, 6)).transpose
    }
    named(m)
  }

  /** Full distributed IPF convergence on the lineitem COO (rows-only
    * check — iterative, not single-statement SQL). */
  def ipfConverge(s: SparkSession, dir: String, maxIter: Int = 8): DataFrame = {
    val li = t(s, dir, "lineitem")
    val seed = CooMatrix(li.groupBy(col("l_partkey").as(CooMatrix.Row),
        month(col("l_shipdate")).cast("long").as(CooMatrix.Col))
      .agg(sum("l_quantity").as(CooMatrix.Value)))
    val x = li.groupBy(col("l_partkey").as(CooMatrix.Idx))
      .agg(sum("l_extendedprice").as(CooMatrix.Value))
    val y = li.groupBy(month(col("l_shipdate")).cast("long").as(CooMatrix.Idx))
      .agg(sum("l_extendedprice").as(CooMatrix.Value))
    // Batched loss checks + 2-step checkpoints: this run is iteration-capped
    // (loss never reaches 1e-9 within 8 sweeps), so the final matrix is
    // identical to per-iteration checking with a fraction of the driver
    // barriers. lossEvery=maxIter leaves exactly TWO loss barriers: the
    // k=0 in-loop boundary (the batched stopping rule stays exercised on
    // the shipped path) and the post-loop recompute for the final step
    // (maxIter−1 is never a boundary) — r21 dropped the old mid-run k=5
    // check, which could not influence this iteration-capped run's
    // stopping decision (its lossDiff is astronomically above 1e-9) and
    // cost one full driver barrier (~0.6s, the round-12 envelope's
    // per-barrier figure). (checkpointEvery=4 measured *slower* — the
    // 8-deep join/agg lineage costs more in planning than the saved
    // materialization barriers.)
    //
    // COST ENVELOPE (round 12, warm JVM, sf0.1, local[32], one-pass window
    // sweeps). Total wall is linear in sweeps:
    //   total ≈ 0.9s fixed + 0.55s/sweep + 0.63s per loss barrier
    // measured as: maxIter 2/4/8 → 2.27/2.88/5.10s (slope 0.55); 7 extra
    // loss barriers (lossEvery 1 vs 100) → +4.43s (0.63 each); checkpoint
    // cadence 1 vs 2 within noise (5.25 vs 5.10). Re-measured on the
    // fused r22 sweep, cadence 2 wins clearly: ten alternating warm pairs
    // at sf0.1, local[4] (4-vCPU VM), converge + count, gave
    // ck=1 median 5.58s (IQR 5.14-6.05) vs ck=2 4.74s (IQR 4.53-4.97),
    // ck=2 faster in 10 of 10 pairs. Round-10's agg+join sweeps measured
    // 0.71s/sweep, 6.40s total — the one-pass window fit is where the
    // saving came from. r21 re-tuned the intercept, not the slope:
    // loop-constant marginals are checkpointed once inside converge (each
    // sweep's two broadcast builds re-ran the lineitem scan+agg before)
    // and one loss barrier was dropped; this config (ck=2, loss=maxIter,
    // 8 sweeps, 1 in-loop + 1 final loss) landed at ~3.2-3.5s warm at
    // local[32] against a 4.37s r21 baseline. A q26 outside ~3-6s at sf0.1
    // with these knobs means a phase regressed: attribute by slope (sweep
    // cost) vs intercept shift (loss/checkpoint cost) before tuning.
    val r = Ipf.converge(x, y, seed, threshold = 1e-9, maxIter = maxIter,
      checkpointEvery = 2, lossEvery = maxIter)
    named(r.matrix, roundTo = 4)
  }

  /** Hierarchical totals via ROLLUP — subtotal rows per market segment and
    * a grand total in one aggregation pass (grouping-set expansion is
    * map-side; one shuffle). Null grouping keys are sentinel-coalesced so
    * the oracle comparison is collation-stable. */
  def rollupRevenue(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    // The `.as("b")` alias + qualified grouping columns sidestep Spark 4's
    // ambiguous-self-join detector, which rollup's internal duplication of
    // grouping expressions otherwise trips after a join.
    orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderstatus"), col("o_totalprice"))
      .as("b")
      .rollup(col("b.c_mktsegment"), col("b.o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .select(coalesce(col("c_mktsegment"), lit("<all>")).as("mktsegment"),
        coalesce(col("o_orderstatus"), lit("<all>")).as("orderstatus"),
        col("n_orders"), col("total_price"))
      .orderBy("mktsegment", "orderstatus")
  }

  /** Entrywise L2,1 norm — reference `matrix-norm` (core.clj:134-136):
    * Σ over rows of row-L2 norms, as a two-level aggregation. Inner sum of
    * squares is decimal-exact; the row norms are rounded to 6dp before the
    * (decimal-exact) outer sum so the result is order-independent. */
  def matrixNorm(s: SparkSession, dir: String): DataFrame =
    cooExact(s, dir, "l_extendedprice")
      .groupBy("mrow")
      .agg(sqrt(sum((col("mval") * col("mval")).cast(DecimalType(38, 4)))
        .cast("double")).as("n"))
      .agg(sum(round(col("n"), 6).cast(DecimalType(38, 6))).cast("double").as("l21_norm"))

  /** Element-wise marginal difference — reference `diff-vector`
    * (core.clj:18-21), over the union of supports with zero fill. */
  def diffVector(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.groupBy(col("l_partkey").as(CooMatrix.Idx))
      .agg(dsum(col("l_quantity")).as(CooMatrix.Value))
    val b = li.filter(col("l_returnflag") === "A")
      .groupBy(col("l_partkey").as(CooMatrix.Idx))
      .agg(dsum(col("l_quantity")).as(CooMatrix.Value))
    Marginals.diffVector(a, b)
      .select(col(CooMatrix.Idx).as("k"), col(CooMatrix.Value).as("diff_v"))
      .orderBy("k")
  }

  /** Whole-matrix mass — the reference's marginal-equality precondition
    * (README.md:7): a single decimal-exact grand total. */
  def grandTotal(s: SparkSession, dir: String): DataFrame =
    asCoo(cooExact(s, dir, "l_extendedprice")).df
      .agg(sum(col(CooMatrix.Value).cast(DecimalType(38, 2))).cast("double").as("grand_total"))

  /** Densify — the reference's `dummy-visits` / zero-cell expansion
    * (core.clj:189): expand the sparse COO to the full part × month key
    * space with explicit zero cells. */
  def densifyMatrix(s: SparkSession, dir: String): DataFrame = {
    val m = asCoo(cooExact(s, dir, "l_quantity"))
    val rows = t(s, dir, "part").select(col("p_partkey").as(CooMatrix.Idx))
    val months = s.range(1, 13).select(col("id").as(CooMatrix.Idx))
    named(CooMatrix.densify(m, rows, months))
  }

  /** Reference fixture CSVs (the reference's own resources/ data, copied to
    * src/test/resources) — exercised as first-class sources so the CSV
    * read family has an oracle-checkable surface. */
  val FixtureDir = "/root/repo/src/test/resources/cost_allocation"

  /** `keywords.csv` scan → zero-click filter → micros→currency scaling
    * (reference core.clj:145-155). */
  def csvKeywordCosts(s: SparkSession, dir: String): DataFrame =
    CostAllocation.keywordCosts(CsvSources.readKeywords(s, s"$FixtureDir/keywords.csv"))
      .select(col(CooMatrix.Idx).as("Keyword"), col(CooMatrix.Value).as("cost"))
      .orderBy("Keyword")

  /** `hours.csv` scan → zero-click filter → micros→currency scaling
    * (reference core.clj:157-165). */
  def csvHourCosts(s: SparkSession, dir: String): DataFrame =
    CostAllocation.hourCosts(CsvSources.readHours(s, s"$FixtureDir/hours.csv"))
      .select(col(CooMatrix.Idx).cast("long").as("HourOfDay"), col(CooMatrix.Value).as("cost"))
      .orderBy("HourOfDay")

  /** Wide visits CSV → melt to COO → zero-pad union for keywords with cost
    * but no visits (reference `missing`/`visits'`, core.clj:167-176). */
  def csvPaddedMatrix(s: SparkSession, dir: String): DataFrame = {
    val x = CostAllocation.keywordCosts(CsvSources.readKeywords(s, s"$FixtureDir/keywords.csv"))
    val visits = CsvSources.visitsCoo(CsvSources.readVisitsWide(s, s"$FixtureDir/visits.csv"))
    CostAllocation.padMissingKeywords(visits, x).df
      .select(col(CooMatrix.Row).as("Keyword"),
        col(CooMatrix.Col).cast("long").as("hour"),
        col(CooMatrix.Value).as("visits"))
      .orderBy("Keyword", "hour")
  }

  /** Labeled-matrix CSV sink round-trip (reference `add-labels` +
    * `save-csv`, core.clj:63-69 / data.clj:11-15): pivot the padded COO to
    * the wide labeled form, write CSV, read it back, melt again. The
    * settled output must equal [[csvPaddedMatrix]] — same oracle. The sink
    * is written once per JVM ([[labeledSinkCache]], the q74 pattern) and
    * the scratch dir is shutdown-hook-deleted — repeated runs re-read, and
    * nothing accumulates on disk. */
  private val labeledSinkCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def csvLabeledRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = labeledSinkCache.computeIfAbsent(FixtureDir, _ => {
      val x = CostAllocation.keywordCosts(CsvSources.readKeywords(s, s"$FixtureDir/keywords.csv"))
      val visits = CsvSources.visitsCoo(CsvSources.readVisitsWide(s, s"$FixtureDir/visits.csv"))
      val padded = CostAllocation.padMissingKeywords(visits, x)
      val path = graft.io.TempDirs.scratch("graft-labeled").resolve("matrix").toString
      CsvSources.writeLabeledCsv(padded, path)
      path
    })
    val wide = s.read.option("header", "true").csv(out)
    val hourCols = wide.columns.drop(1)
    wide.select(col("Keyword"),
        expr(s"stack(${hourCols.length}, " +
          hourCols.map(h => s"'$h', cast(`$h` as double)").mkString(", ") +
          ") as (hour_name, visits)"))
      .select(col("Keyword"), col("hour_name").cast("long").as("hour"), col("visits"))
      .orderBy("Keyword", "hour")
  }

  /** Partitioned parquet sink + partition-pruned scan: write the lineitem
    * COO partitioned by month, read it back with a month predicate, and
    * let only that partition's files be listed — the directory-level prune
    * that makes a 100 TB table behave like its slice. The written layout is
    * cached per (JVM, dir) so repeated query runs re-scan, not re-write,
    * and the scratch dir is shutdown-hook-deleted ([[graft.io.TempDirs]]);
    * PlanLintSpec asserts the PartitionFilters actually appear. */
  private val partitionedSinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()
  def partitionPrunedScan(s: SparkSession, dir: String, month: Int = 3): DataFrame = {
    // The writer's schema rides the cache: a zero-row write leaves no data
    // files, and a schema-less read of that layout cannot infer one — the
    // empty slice of a partitioned table must still be a well-typed scan.
    val (out, schema) = partitionedSinkCache.computeIfAbsent(dir, _ => {
      val path = graft.io.TempDirs.scratch("graft-partitioned")
        .resolve("coo_by_month").toString
      val coo = cooExact(s, dir, "l_quantity")
      coo.write.partitionBy("mcol").mode("overwrite").parquet(path)
      (path, coo.schema)
    })
    s.read.schema(schema).parquet(out)
      .filter(col("mcol") === month)
      .select(col("mrow"), col("mcol").cast("long").as("mcol"), col("mval"))
      .orderBy("mrow")
  }

  /** File-sizing audit (q253) — the small-files control surface of a
    * lakehouse writer. The lineitem slice is written hive-partitioned by
    * ship month with an explicit `maxRecordsPerFile` budget, read back,
    * and audited AT THE FILE GRAIN (`input_file_name` groupBy): one output
    * row per physical file with its row count. With the writer clustered
    * so each month lands in one task (`repartition(col)` — strict hash,
    * AQE may merge but never split a key), the roll-over split is exactly
    * deterministic — `ceil(n/R)` files of R rows plus a remainder — which
    * is what makes a FILE-grain property relationally oracle-checkable:
    * DuckDB reproduces the audit from `count(*)` arithmetic alone, no
    * filesystem access. `file_seq` ranks files largest-first (remainder
    * last); equal-size ties are interchangeable rows, so tie order cannot
    * affect the hash.
    *
    * Why it matters at 100 TB: unsized writes are how a petabyte table
    * becomes 50M tiny files (every later scan pays per-file open + listing
    * cost) or 10k unsplittable 10 GB files (no read parallelism). This
    * operator is both the enforcement (the sized writer) and the monitor
    * (the audit a table-maintenance job alerts on). The layout is written
    * once per (JVM, dir) and scratch is shutdown-hook-deleted. */
  private val sizingSinkCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()
  def fileSizingAudit(s: SparkSession, dir: String, rowsPerFile: Int = 2000): DataFrame = {
    // The writer's schema rides the cache (the q74 rule): an empty slice
    // writes no data files, and the audit of an empty layout must still be
    // a well-typed zero-row frame, not a schema-inference error.
    val (out, schema) = sizingSinkCache.computeIfAbsent(s"$dir#$rowsPerFile", _ => {
      val path = graft.io.TempDirs.scratch("graft-sizing")
        .resolve("lineitem_by_month").toString
      val sized = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          month(col("l_shipdate")).as("ship_month"))
      sized.repartition(col("ship_month"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rowsPerFile.toLong)
        .partitionBy("ship_month").parquet(path)
      (path, sized.schema)
    })
    val w = Window.partitionBy("ship_month").orderBy(col("n_rows").desc, col("__f"))
    s.read.schema(schema).parquet(out)
      .groupBy(col("ship_month").cast("long").as("ship_month"),
        input_file_name().as("__f"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("file_seq", row_number().over(w).cast("long"))
      .select("ship_month", "file_seq", "n_rows")
  }

  /** Top-1-per-group: each customer's most expensive order — the classic
    * argmax-per-key, as a per-key `row_number` window with a total
    * (`totalprice desc, orderkey`) ordering so ties are deterministic on
    * any engine. The window partitions by customer: partition size is
    * orders-per-customer (bounded), never the table, so the shape holds at
    * any corpus scale. Customers with no orders simply don't appear (an
    * argmax over an empty set has no row). */
  def topOrderPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        col("o_totalprice").as("totalprice"))
  }

  /** Per-nation account-balance quartiles via `ntile(4)` — the banded
    * distribution profile (who sits in each quarter of the balance range,
    * per nation). `ntile` follows the SQL-standard bucketing (sizes differ
    * by at most one, larger buckets first) on a total (`acctbal, custkey`)
    * order, so the assignment is engine-independent; min/max per bucket are
    * order statistics — no double-sum ordering hazard. The window
    * partitions by nation (bounded partitions), then one hash agg. */
  def acctbalQuartiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("c_nationkey").cast("long").as("nationkey"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"), max(col("c_acctbal")).as("max_bal"))
  }

  /** Zero-pad union — the reference's `visits'` padding (core.clj:169-172):
    * parts that never ship get explicit zero marginal rows. */
  def zeroPadUnion(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "lineitem").groupBy(col("l_partkey").as("mrow")).agg(dsum(col("l_quantity")).as("mval"))
    val missing = t(s, dir, "part").select(col("p_partkey").as("mrow"))
      .join(m.select("mrow"), Seq("mrow"), "left_anti")
      .withColumn("mval", lit(0.0))
    m.unionByName(missing).orderBy("mrow")
  }

  /** Top-3 parts per brand by shipped quantity with `dense_rank` — rank
    * ties share a rank and do NOT consume the next one, so a brand with
    * tied seconds keeps both (the semantics `row_number` top-k (q114)
    * deliberately avoids; this pins the other contract). The rank orders
    * by (qty DESC, p_partkey) — a total order, so both engines rank
    * identically even among exact ties. One partial-agg shuffle on
    * (brand, part), a broadcast dim join, then a window over bounded
    * brand partitions. */
  def denseRankTopParts(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val li = t(s, dir, "lineitem"); val part = t(s, dir, "part")
    denseRankTopOn(
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(dsum(col("l_quantity")).as("qty")), k)
  }

  /** [[denseRankTopParts]]'s window core on a (p_brand, p_partkey, qty)
    * frame — the unit-testable tie-contract surface. The rank orders by
    * qty ALONE: a tiebreak column in the rank's ORDER BY would make tied
    * quantities distinct sort keys and silently restore row_number
    * semantics. Determinism holds regardless — the rank is a function of
    * the value, so the qualifying row SET is unique; presentation order
    * is the caller's orderBy. */
  def denseRankTopOn(qty: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("qty").desc)
    qty.withColumn("rnk", dense_rank().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("p_brand"), col("rnk"), col("p_partkey"), col("qty"))
  }

  /** Cumulative monthly revenue per nation — the running-total report
    * (unbounded-preceding window frame). The monthly revenue is the
    * decimal-exact per-group sum first (the q01 rule); the running sum
    * then re-aggregates those already-exact doubles through
    * DECIMAL(28,6) so the cumulative value is independent of both
    * partition order AND frame evaluation strategy on either engine.
    * Months are unique within a nation, so the frame order is total. */
  def runningRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
    val nation = t(s, dir, "nation")
    val monthly = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nation), sup("s_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"), month(col("l_shipdate")).cast("long").as("ship_month"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))).cast("double").as("revenue"))
    val w = Window.partitionBy("n_name").orderBy("ship_month")
      .rowsBetween(Window.unboundedPreceding, 0)
    monthly.withColumn("cum_revenue",
        sum(col("revenue").cast(DecimalType(28, 6))).over(w).cast("double"))
      .select(col("n_name"), col("ship_month"), col("revenue"), col("cum_revenue"))
  }

  /** Salted skew join: lineitem → supplier nation revenue where the join
    * key (s_nationkey, 25 values) is exactly the hot-key shape that
    * funnels a 100 TB fact shuffle into 25 reducers. The salting rewrite:
    * the fact side gets a deterministic salt in [0, numSalts) —
    * `pmod(xxhash64(l_orderkey, l_linenumber), S)`, no `rand()` so the
    * result is re-executable — and the dim side is replicated once per
    * salt (`explode(sequence(...))`, dim×S rows, still tiny), turning one
    * hot reducer per nation into S. The aggregate then rolls up by nation
    * only — the salt never reaches the output, so the result is
    * byte-identical to the unsalted join, which is exactly what the
    * DuckDB oracle (plain join, no salt) certifies.
    *
    * At local bench scale AQE would broadcast the dim and no skew exists;
    * the operator pins the REWRITE's correctness so the pattern is
    * trusted where it matters (sort-merge path, skewed fact). Decimal
    * revenue sums per the q01 rule. */
  def saltedSkewJoin(s: SparkSession, dir: String, numSalts: Int = 8): DataFrame = {
    val li = t(s, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(numSalts)))
    val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .withColumn("salt", explode(sequence(lit(0L), lit(numSalts - 1L))))
    val nation = t(s, dir, "nation")
    li.join(sup, li("l_suppkey") === sup("s_suppkey") && li("salt") === sup("salt"))
      .join(broadcast(nation), sup("s_nationkey") === nation("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast("double").as("revenue"))
      .orderBy("n_name")
  }

}
