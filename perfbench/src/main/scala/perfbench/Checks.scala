package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.matrix.Dense

/** Output checks. They run outside the timed region of an op; each returns
  * the list of failed conditions, empty when the output is correct. */
object Checks {

  /** The reference-format inputs of one allocation request, as the engine
    * reads them: x = spend per keyword with clicks, y = spend per hour with
    * clicks (both in currency units), visits = the wide visits rows. */
  final case class AllocInputs(x: Map[String, Double], y: Map[String, Double],
      hours: Vector[String], visits: Map[String, Vector[Double]])

  private def csvRows(text: String): Array[Array[String]] =
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map(_.split(",", -1)).toArray

  def allocInputs(keywordsCsv: String, hoursCsv: String, visitsCsv: String): AllocInputs = {
    val kw = csvRows(keywordsCsv).drop(1).filter(_(2).toLong != 0L)
    val hr = csvRows(hoursCsv).drop(1).filter(_(2).toLong != 0L)
    val vis = csvRows(visitsCsv)
    AllocInputs(
      kw.map(r => r(0) -> r(1).toLong * 1e-6).toMap,
      hr.map(r => r(0) -> r(1).toLong * 1e-6).toMap,
      vis.head.drop(1).dropRight(1).toVector,
      vis.drop(1).map(r => r(0) -> r.drop(1).dropRight(1).map(_.toDouble).toVector).toMap)
  }

  def readAllocInputs(dir: Path): AllocInputs = {
    def rd(f: String) = Files.readString(dir.resolve(f))
    allocInputs(rd("keywords.csv"), rd("hours.csv"), rd("visits.csv"))
  }

  /** The single part file of a `coalesce(1)` CSV write, as keyword ->
    * (hour -> value). An empty cell reads as NaN. */
  def readLabeledCsv(dir: Path): Map[String, Map[String, Double]] = {
    val parts = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
    require(parts.size == 1, s"expected one part file in $dir, found ${parts.size}")
    val rows = csvRows(Files.readString(parts.head))
    val header = rows.head
    rows.drop(1).map { r =>
      r(0) -> header.indices.drop(1).map(i =>
        header(i) -> (if (r(i).isEmpty) Double.NaN else r(i).toDouble)).toMap
    }.toMap
  }

  /** The reference dense solver on the same inputs, laid out as the engine
    * builds its seed: keywords with cost but no visits become zero rows,
    * every present cell gets the Laplace alpha. */
  def denseSolve(in: AllocInputs, tol: Double, alpha: Double = 1e-15): (Map[String, Map[String, Double]], Int) = {
    val kws = in.x.keys.toVector.sorted
    val hours = in.hours.filter(in.y.contains)
    val hIdx = hours.map(in.hours.indexOf)
    val x = kws.map(in.x)
    val y = hours.map(in.y)
    val seed = kws.map(k => in.visits.get(k) match {
      case Some(v) => hIdx.map(v(_) + alpha)
      case None => hIdx.map(_ => alpha)
    })
    val r = Dense.converge(x, y, seed, threshold = tol)
    (kws.zip(r.matrix).map { case (k, row) => k -> hours.zip(row).toMap }.toMap, r.iterations)
  }

  /** Checks one allocation against its inputs: one row per keyword with
    * spend, row and column residuals (L2, currency units) within `tol`,
    * mass conserved, no negative cell, and cell-wise parity with the
    * reference dense solver within `parityTol` at the same iteration count. */
  def allocation(in: AllocInputs, got: Map[String, Map[String, Double]], iterations: Int,
      tol: Double, parityTol: Double = 1e-8): Seq[String] = {
    val fails = Seq.newBuilder[String]
    if (got.keySet != in.x.keySet)
      fails += s"rows: ${got.size} keywords written, ${in.x.size} expected"
    val cells = got.values.flatMap(_.values)
    if (cells.exists(v => v.isNaN || v < 0.0)) fails += "negative or empty cell"
    val rowRes = math.sqrt(in.x.map { case (k, v) =>
      val s = got.get(k).map(_.values.sum).getOrElse(0.0); (s - v) * (s - v) }.sum)
    if (!(rowRes <= tol)) fails += s"row residual $rowRes > $tol"
    val colRes = math.sqrt(in.y.map { case (h, v) =>
      val s = got.values.map(_.getOrElse(h, 0.0)).sum; (s - v) * (s - v) }.sum)
    if (!(colRes <= tol)) fails += s"column residual $colRes > $tol"
    val mass = math.abs(cells.sum - in.x.values.sum)
    if (!(mass <= tol)) fails += s"mass not conserved: off by $mass"
    val (dense, denseIters) = denseSolve(in, tol)
    if (denseIters != iterations) fails += s"$iterations sweeps, dense reference needs $denseIters"
    val worst = dense.iterator.flatMap { case (k, row) => row.iterator.map { case (h, v) =>
      math.abs(got.get(k).flatMap(_.get(h)).getOrElse(Double.NaN) - v) } }
      .foldLeft(0.0)((a, b) => if (b.isNaN) Double.PositiveInfinity else math.max(a, b))
    if (!(worst <= parityTol)) fails += s"dense parity $worst > $parityTol"
    fails.result()
  }

  /** Residuals of a COO allocation against its marginals. */
  def cooFit(x: Array[Double], y: Array[Double], rowSums: Map[Long, Double],
      colSums: Map[Long, Double], minCell: Double, tol: Double): Seq[String] = {
    val fails = Seq.newBuilder[String]
    val rowRes = math.sqrt(x.indices.map { i => val d = rowSums.getOrElse(i.toLong, 0.0) - x(i); d * d }.sum)
    val colRes = math.sqrt(y.indices.map { j => val d = colSums.getOrElse(j.toLong, 0.0) - y(j); d * d }.sum)
    if (!(rowRes <= tol)) fails += s"row residual $rowRes > $tol"
    if (!(colRes <= tol)) fails += s"column residual $colRes > $tol"
    val mass = math.abs(rowSums.values.sum - x.sum)
    if (!(mass <= tol)) fails += s"mass not conserved: off by $mass"
    if (!(minCell >= 0.0)) fails += s"negative cell $minCell"
    fails.result()
  }
}
