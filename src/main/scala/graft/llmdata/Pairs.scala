package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit scale contract for exact pairwise operators: their output is
  * Ω(n²) *by declared semantics*, so the input size must be an explicit
  * caller decision — either an id bound, or a spelled-out
  * [[PairScope.Unbounded]] opt-in. No default exists: a 100 TB caller
  * cannot launch an all-pairs computation by omission (the compiler, not a
  * doc comment, enforces the contract). */
sealed trait PairScope {
  /** Apply the scope to the input frame. */
  private[llmdata] def bound(df: DataFrame, idCol: String): DataFrame = this match {
    case PairScope.MaxId(n) => df.filter(col(idCol) < n)
    case PairScope.Unbounded => df
  }
}
object PairScope {
  /** Only rows with `id < n` participate in the pairwise stage. */
  final case class MaxId(n: Long) extends PairScope
  /** Deliberate whole-input all-pairs run (bounded corpora, verify stages). */
  case object Unbounded extends PairScope
}

/** Distributed generation of all unordered row pairs of a DataFrame —
  * the shared backbone of the exact pairwise operators (cosine threshold
  * join, exact Jaccard verify).
  *
  * A naive `a.join(b, a.id < b.id)` theta join plans as a
  * BroadcastNestedLoopJoin: the whole corpus is broadcast and the n²/2
  * pair evaluations get no shuffle parallelism. Here each row is assigned
  * a block (`hash(id) mod numBlocks`), the driver-side block-pair table
  * {(i,j): i ≤ j} is broadcast onto both sides, and pairs materialize
  * through a hash-partitioned equi-join on (bi, bj): B(B+1)/2 join keys
  * spread evenly across the cluster, each task an (n/B)² micro cross
  * product. O(n²) work — unavoidable for exact pairwise semantics — but
  * evenly distributed and never a BNLJ.
  */
object Pairs {

  /** Pin a pair-join SIDE to the capped spread width on its block-pair
    * keys (r22, guide §2.5): the testdata embeddings/documents arrive as
    * a handful of parquet splits, the per-side bp join is a broadcast
    * (narrow), and the final pair join's own exchange is byte-sized — so
    * AQE either broadcasts one side (the pair-eval stage inherits the
    * 3-split scan parallelism) or coalesces the exchange to ~1 task,
    * while the downstream per-pair scoring is the CPU-dense part
    * (measured: q48's score stage = 2.04 s over 3 tasks). Pinning both
    * sides to the same width makes the join co-partitioned (no extra
    * exchange) and the (n/B)² micro cross products run `target`-wide.
    * Same gate and cap as [[graft.io.Tables.spread]]: fires only when
    * the side has FEWER partitions than the capped target, so a real
    * corpus-scale input (thousands of splits) passes through untouched
    * and the pin never LIMITS scale-out parallelism.
    *
    * Width note (measured, r22): because both pinned exchanges feed the
    * pair join's required hash distribution, EnsureRequirements rewrites
    * the user shuffle to the session's `spark.sql.shuffle.partitions`
    * (the dumped plan shows `REPARTITION_BY_NUM` at 32, not the
    * requested 16). The pin's real effect — and the whole win — is that
    * the pair-eval stage stops inheriting the narrow scan/broadcast
    * parallelism and runs at the session's shuffle width, which itself
    * tracks the core count, so the width stays scale-adaptive rather
    * than a local constant.
    *
    * OPT-IN (`pinWidth`), not default: the pinned exchanges move each
    * side's full payload (token arrays, embeddings), so the pin only
    * repays itself when the per-pair scoring is CPU-dense enough to
    * dominate that shuffle. Measured across two full c32 bench runs:
    * q48 (exact cosine over every pair) improved 0.88 -> 0.62 s, but
    * q42's Jaccard (bounded pair scope, light eval) regressed
    * 0.14 -> 0.35 s and q254's margin grid 0.67 -> 1.10 s — so those
    * callers keep the unpinned plan. */
  private def pinned(df: DataFrame, keys: Seq[String]): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    val target = try { math.min(n.toInt, 16) }
      catch { case _: NumberFormatException => 0 }
    if (target > 0 && df.rdd.getNumPartitions < target)
      df.repartition(target, keys.map(col): _*)
    else df
  }

  /** Every unordered pair of `df` rows exactly once, columns suffixed
    * `_a`/`_b`. Side assignment is arbitrary for cross-block pairs: callers
    * must compute symmetric pair functions and order ids with
    * `least`/`greatest`. */
  def blockedSelfPairs(df: DataFrame, idCol: String, numBlocks: Int = 16,
      pinWidth: Boolean = false): DataFrame = {
    require(numBlocks >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val bp = broadcast(
      (for { i <- 0 until numBlocks; j <- i until numBlocks } yield (i, j))
        .toDF("__bi", "__bj"))
    val blocked = df.withColumn("__blk", pmod(hash(col(idCol)), lit(numBlocks)))
    def side(suffix: String): DataFrame =
      blocked.columns.foldLeft(blocked)((d, c) => d.withColumnRenamed(c, s"$c$suffix"))
    def maybePin(d: DataFrame, keys: Seq[String]): DataFrame =
      if (pinWidth) pinned(d, keys) else d
    val a = maybePin(side("_a").join(bp, col("__blk_a") === col("__bi")),
      Seq("__bi", "__bj"))
    val b = maybePin(side("_b").join(bp, col("__blk_b") === col("__bj"))
      .withColumnRenamed("__bi", "__bi_b").withColumnRenamed("__bj", "__bj_b"),
      Seq("__bi_b", "__bj_b"))
    a.join(b, col("__bi") === col("__bi_b") && col("__bj") === col("__bj_b"))
      .filter(col("__bi") < col("__bj") ||
        (col("__bi") === col("__bj") && col(s"${idCol}_a") < col(s"${idCol}_b")))
      .drop("__bi", "__bj", "__bi_b", "__bj_b", "__blk_a", "__blk_b")
  }

  /** Every (left-row, right-row) pair of TWO frames exactly once — the
    * bipartite sibling of [[blockedSelfPairs]], for operators whose pair
    * space is a cross of two distinct sets (bitext mining source×target,
    * probe×index audits). Columns come back suffixed `_a` (left) / `_b`
    * (right).
    *
    * Same plan shape and same rationale: a bare `crossJoin` of two large
    * frames is one BNLJ with no shuffle parallelism, so each side gets a
    * block id (`hash(id) mod numBlocks`), the driver-side B×B block-pair
    * table is broadcast onto both sides, and the n·m pairs materialize
    * through a hash-partitioned equi-join on (bi, bj) — B² join keys, each
    * task an (n/B)·(m/B) micro cross product. The pair count itself is the
    * declared semantics; what the blocking buys is even distribution. */
  def blockedCrossPairs(left: DataFrame, right: DataFrame, idColLeft: String,
      idColRight: String, numBlocks: Int = 16): DataFrame = {
    require(numBlocks >= 1)
    val spark = left.sparkSession
    import spark.implicits._
    val bp = broadcast(
      (for { i <- 0 until numBlocks; j <- 0 until numBlocks } yield (i, j))
        .toDF("__bi", "__bj"))
    def side(df: DataFrame, idCol: String, suffix: String): DataFrame = {
      val blocked = df.withColumn("__blk", pmod(hash(col(idCol)), lit(numBlocks)))
      blocked.columns.foldLeft(blocked)((d, c) => d.withColumnRenamed(c, s"$c$suffix"))
    }
    val a = side(left, idColLeft, "_a").join(bp, col("__blk_a") === col("__bi"))
    val b = side(right, idColRight, "_b").join(bp, col("__blk_b") === col("__bj"))
      .withColumnRenamed("__bi", "__bi_b").withColumnRenamed("__bj", "__bj_b")
    a.join(b, col("__bi") === col("__bi_b") && col("__bj") === col("__bj_b"))
      .drop("__bi", "__bj", "__bi_b", "__bj_b", "__blk_a", "__blk_b")
  }
}
