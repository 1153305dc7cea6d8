package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators for the four workload families. Every generator
  * is a pure function of its seed: the same seed writes byte-identical
  * files (checked by `HarnessSpec`). The engine only ever sees the files.
  */
object Gen {

  /** Independent stream per (workload seed, family, item index). */
  def rng(seed: Long, family: Int, index: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + family * 7919L + index)

  private def poisson(r: SplittableRandom, lambda: Double): Int = {
    val l = math.exp(-lambda)
    var k = 0
    var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  def write(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, content.getBytes(UTF_8))
  }

  // ---- allocation requests (reference CSV format) ---------------------------

  /** One cost-allocation request: the three CSVs of the reference format.
    * `keywords` counts the keywords that have visits; `missing` keywords
    * carry cost and clicks but no visits row; `zeroClick` keywords have
    * neither. Hours with no clicks are absent from the visits header, as in
    * the reference data. Costs are integer micro-units, and the keyword and
    * hour cost totals are equal, as the reference's IPF requires. */
  final case class AllocRequest(keywordsCsv: String, hoursCsv: String, visitsCsv: String,
      keywords: Int, missing: Int, zeroClick: Int, hours: Int)

  def allocRequest(r: SplittableRandom, keywords: Int, missing: Int, zeroClick: Int,
      absentHours: Int): AllocRequest = {
    val absent = r.ints(0, 24).distinct().limit(absentHours.toLong).toArray.toSet
    val hours = (0 until 24).filterNot(absent)
    // Diurnal hour profile and a Zipf-like keyword popularity.
    val hourW = hours.map(h => 0.4 + math.sin(math.Pi * h / 24.0) + 0.2 * r.nextDouble()).toArray
    val kwW = (0 until keywords).map(k => 1.0 / math.pow(k + 1.0, 0.6)).toArray
    val lambda = 300.0 / hourW.sum
    val visits = Array.tabulate(keywords, hours.size) { (k, h) =>
      poisson(r, lambda * kwW(k) * hourW(h) * 3.0) }
    visits.foreach { row => if (row.sum == 0) row(r.nextInt(row.length)) = 1 }
    // True allocation: cost-per-click per keyword times an hourly factor.
    val cpc = Array.fill(keywords)(0.5 + 4.0 * r.nextDouble())
    val hourF = Array.fill(hours.size)(0.7 + 0.6 * r.nextDouble())
    val kwCost = Array.tabulate(keywords) { k =>
      math.round(1e6 * hours.indices.map(h => visits(k)(h) * cpc(k) * hourF(h)).sum) }
    val missClicks = Array.fill(missing)(1 + r.nextInt(5))
    val missCost = missClicks.map(c => math.round(1e6 * c * (0.5 + 4.0 * r.nextDouble())))
    val hourClicks = hours.indices.map(h => visits.map(_(h)).sum.toLong).toArray
    val hourCostD = hours.indices.map { h =>
      1e6 * (0 until keywords).map(k => visits(k)(h) * cpc(k) * hourF(h)).sum }.toArray
    // Missing keywords' spend lands on the hours in proportion to the profile.
    val wSum = hourW.sum
    for (m <- 0 until missing; h <- hours.indices) {
      hourCostD(h) += missCost(m) * hourW(h) / wSum
    }
    missClicks.foreach(c => hourClicks(r.nextInt(hours.size)) += c)
    val hourCost = hourCostD.map(math.round)
    // Equal totals: the rounding residue goes to the busiest hour.
    val diff = kwCost.sum + missCost.sum - hourCost.sum
    val busiest = hourCost.indices.maxBy(hourCost)
    hourCost(busiest) += diff

    val name = (i: Int) => f"kw$i%05d ${r.nextInt(1000)}%03d"
    val names = Array.tabulate(keywords + missing + zeroClick)(name)
    val kwRows = scala.collection.mutable.ArrayBuffer[String]()
    for (k <- 0 until keywords) kwRows += s"${names(k)},${kwCost(k)},${visits(k).sum}"
    for (m <- 0 until missing) kwRows += s"${names(keywords + m)},${missCost(m)},${missClicks(m)}"
    for (z <- 0 until zeroClick) kwRows += s"${names(keywords + missing + z)},0,0"
    val kwShuffled = shuffle(r, kwRows.toArray)
    val keywordsCsv = ("Keyword,TotalCost,TotalClicks" +: kwShuffled).mkString("", "\n", "\n")
    val hoursCsv = ("HourOfDay,HourlyCost,HourlyClicks" +: (0 until 24).map { h =>
      val i = hours.indexOf(h)
      if (i < 0) s"$h,0,0" else s"$h,${hourCost(i)},${hourClicks(i)}"
    }).mkString("", "\n", "\n")
    val header = ("Keyword" +: hours.map(_.toString) :+ "TotalClicks").mkString(",")
    val visitRows = shuffle(r, Array.tabulate(keywords)(k =>
      (names(k) +: visits(k).map(_.toString) :+ visits(k).sum.toString).mkString(",")))
    val visitsCsv = (header +: visitRows).mkString("", "\n", "\n")
    AllocRequest(keywordsCsv, hoursCsv, visitsCsv, keywords, missing, zeroClick, hours.size)
  }

  def writeAlloc(dir: Path, a: AllocRequest): Unit = {
    write(dir.resolve("keywords.csv"), a.keywordsCsv)
    write(dir.resolve("hours.csv"), a.hoursCsv)
    write(dir.resolve("visits.csv"), a.visitsCsv)
  }

  private def shuffle[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    val b = a.clone()
    for (i <- b.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }
    b
  }

  // ---- large keyword x hour COO -----------------------------------------------

  /** A large allocation problem as COO triples plus consistent marginals:
    * `rows` keywords with Zipf-skewed row lengths over `cols` hour slots.
    * The marginals are the row and column sums of a hidden biproportional
    * rescaling of the seed, so an exact fit exists. */
  final case class Coo(rowIdx: Array[Long], colIdx: Array[Long], value: Array[Double],
      x: Array[Double], y: Array[Double])

  def largeCoo(r: SplittableRandom, rows: Int, cols: Int, meanLen: Int): Coo = {
    val ri = Array.newBuilder[Long]; val ci = Array.newBuilder[Long]; val v = Array.newBuilder[Double]
    val rf = Array.fill(rows)(0.5 + r.nextDouble())
    val cf = Array.fill(cols)(0.5 + r.nextDouble())
    val x = new Array[Double](rows); val y = new Array[Double](cols)
    // Zipf(1) lengths scaled so the mean is about meanLen, capped at cols.
    val h = (1 to rows).map(1.0 / _).sum
    for (i <- 0 until rows) {
      val rank = 1 + r.nextInt(rows)
      val len = math.min(cols, math.max(1, math.round(meanLen * rows / (h * rank)).toInt))
      val start = r.nextInt(cols)
      for (k <- 0 until len) {
        val j = (start + k * 7) % cols
        val s = 1.0 + poisson(r, 3.0)
        ri += i.toLong; ci += j.toLong; v += s
        val t = s * rf(i) * cf(j)
        x(i) += t; y(j) += t
      }
    }
    Coo(ri.result(), ci.result(), v.result(), x, y)
  }

  // ---- documents and embeddings ---------------------------------------------

  private val vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pa", "de", "gu", "fe", "zo", "bi")
    (for (a <- syll; b <- syll) yield a + b).take(180)
  }
  private val langs = Array("en", "de", "fr", "es", "zh", "ja")

  /** A documents batch in the testdata `documents` schema with planted
    * duplicates: `exactGroups` texts each copied to another doc_id (with
    * its own source and lang), and `nearPairs` texts each copied with one
    * word changed (word-3-shingle Jaccard about 0.9; unrelated texts sit
    * near 0). Planted doc sets are disjoint. */
  final case class Corpus(rows: Array[(Long, String, String, String)],
      exactDups: Array[(Long, Long)], nearDups: Array[(Long, Long)])

  def corpus(r: SplittableRandom, idBase: Long, n: Int, exactGroups: Int, nearPairs: Int): Corpus = {
    val base = n - exactGroups - nearPairs
    def text(): String = {
      val len = 12 + r.nextInt(96)
      Array.fill(len)(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val texts = Array.fill(base)(text())
    val rows = Array.newBuilder[(Long, String, String, String)]
    def src() = s"src${r.nextInt(8)}"
    def lang() = langs(r.nextInt(langs.length))
    for (i <- 0 until base) rows += ((idBase + i, texts(i), lang(), src()))
    val order = shuffle(r, Array.range(0, base).filter(i => texts(i).count(_ == ' ') >= 40))
    val exact = Array.tabulate(exactGroups) { g =>
      val orig = order(g)
      val id = idBase + base + g
      rows += ((id, texts(orig), lang(), src()))
      (idBase + orig, id)
    }
    val near = Array.tabulate(nearPairs) { p =>
      val orig = order(exactGroups + p)
      val words = texts(orig).split(" ")
      val at = 1 + r.nextInt(words.length - 2)
      words(at) = words(at) + "x"
      val id = idBase + base + exactGroups + p
      rows += ((id, words.mkString(" "), lang(), src()))
      (idBase + orig, id)
    }
    Corpus(rows.result(), exact, near)
  }

  /** Embeddings in the testdata schema (vec_id, embedding float[dim],
    * label). Each query vector (vec_id < queries) has a planted neighbour:
    * a copy with small noise at a random non-query vec_id. */
  final case class Embeddings(rows: Array[(Long, Array[Float], Int)], planted: Array[(Long, Long)])

  def embeddings(r: SplittableRandom, n: Int, dim: Int, queries: Int): Embeddings = {
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(a => a * a).sum); v.map(a => (a / norm).toFloat)
    }
    val raw = Array.fill(n)(Array.fill(dim)(gaussian(r)))
    val targets = shuffle(r, Array.range(queries, n)).take(queries)
    val planted = Array.tabulate(queries) { q =>
      val t = targets(q)
      raw(t) = raw(q).map(a => a + 0.05 * gaussian(r))
      (q.toLong, t.toLong)
    }
    Embeddings(Array.tabulate(n)(i => (i.toLong, unit(raw(i)), r.nextInt(10))), planted)
  }

  // ---- events ---------------------------------------------------------------

  /** Events in the testdata `events` schema: `users` users emit `n` events
    * over `hours` hours in bursts (so sessions form), with a skewed type
    * mix. `ts` is epoch micros. */
  def events(r: SplittableRandom, idBase: Long, n: Int, users: Int, hours: Int)
      : Array[(Long, Long, Long, String, Double, String)] = {
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val span = hours * 3600L * 1000000L
    val out = new Array[(Long, Long, Long, String, Double, String)](n)
    var i = 0
    while (i < n) {
      val user = r.nextInt(users).toLong
      val burst = math.min(n - i, 1 + r.nextInt(6))
      var ts = t0 + (r.nextDouble() * span).toLong
      for (_ <- 0 until burst) {
        val u = r.nextDouble()
        val tpe = if (u < 0.55) "view" else if (u < 0.8) "click" else if (u < 0.9) "purchase"
          else if (u < 0.96) "signup" else "error"
        val value = math.round(r.nextDouble() * 20000.0) / 100.0
        out(i) = (idBase + i, ts, user, tpe, value, s"""{"k": ${r.nextInt(100)}}""")
        ts += (r.nextDouble() * 240e6).toLong
        i += 1
      }
    }
    out
  }
}
