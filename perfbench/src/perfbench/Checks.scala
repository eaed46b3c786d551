package perfbench

import graft.ext.Dedup

/** Output checks. Each returns the problem found, or None. They take plain
  * collected values, so a test can hand them a corrupted result.
  */
object Checks {

  /** Every planted spike lies inside a reported window of its series.
    * `windows` are (seriesKey, startTsMs, endTsMs).
    */
  def spikesCovered(series: Seq[Gen.Series], windows: Seq[(String, Long, Long)]): Option[String] = {
    val byKey = windows.groupBy(_._1)
    val missed = for {
      s <- series
      i <- s.spikes
      ts = s.tsMs(i)
      if !byKey.getOrElse(s.key, Nil).exists { case (_, a, b) => a <= ts && ts <= b }
    } yield s"${s.key}@$ts"
    if (missed.isEmpty) None
    else Some(s"${missed.length} planted spikes outside every window, e.g. ${missed.take(3).mkString(", ")}")
  }

  /** The same config on the same input gives the same anomaly count. */
  def repeats(what: String, first: Long, now: Long): Option[String] =
    if (first == now) None else Some(s"$what: $now anomalies, first pass had $first")

  def equalCount(what: String, expected: Long, got: Long): Option[String] =
    if (expected == got) None else Some(s"$what: expected $expected, got $got")

  /** Exact Jaccard of two documents' distinct 3-gram hash sets, computed
    * independently of the engine with the same 32-bit shingle hash.
    */
  def jaccard(a: String, b: String, n: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def set(t: String): Set[Long] =
      t.split(" ", -1).sliding(n).filter(_.length == n).map(g => Dedup.shingleHash32(md, g.mkString(" "))).toSet
    val (x, y) = (set(a), set(b))
    val i = (x intersect y).size
    i.toDouble / (x.size + y.size - i)
  }

  /** Spark's `round(double, 4)`. */
  def round4(d: Double): Double = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Planted pairs (da < db) within each cluster with their exact Jaccard
    * rounded like the engine's output. Fails if a planted pair falls below
    * `tau`: the generator then did not plant what the check assumes.
    */
  def plantedPairs(
      text: Map[Long, String], clusters: Seq[Seq[Long]], n: Int, tau: Double): Map[(Long, Long), Double] =
    (for {
      c <- clusters
      Seq(x, y) <- c.combinations(2)
      (a, b) = (math.min(x, y), math.max(x, y))
      j = jaccard(text(a), text(b), n)
    } yield {
      require(j >= tau + 0.05, s"planted pair ($a, $b) has Jaccard $j, too close to tau $tau")
      (a, b) -> round4(j)
    }).toMap

  /** Exact join: the verified pairs are the planted pairs, scores equal. */
  def exactPairs(planted: Map[(Long, Long), Double], got: Seq[(Long, Long, Double)]): Option[String] = {
    val g = got.map { case (a, b, j) => (a, b) -> j }
    val gm = g.toMap
    val missing = planted.keySet -- gm.keySet
    val extra = gm.keySet -- planted.keySet
    val wrong = planted.filter { case (p, j) => gm.get(p).exists(_ != j) }
    if (g.length != gm.size) Some(s"${g.length - gm.size} duplicate pairs")
    else if (missing.nonEmpty || extra.nonEmpty || wrong.nonEmpty)
      Some(s"pairs: ${missing.size} planted missing, ${extra.size} unplanted, ${wrong.size} wrong scores")
    else None
  }

  /** LSH join: recall may fall short, but no pair is below tau and every
    * returned pair is planted with its exact score.
    */
  def lshPairs(planted: Map[(Long, Long), Double], got: Seq[(Long, Long, Double)], tau: Double): Option[String] = {
    val below = got.count(_._3 < tau)
    val bad = got.count { case (a, b, j) => !planted.get((a, b)).contains(j) }
    if (below > 0) Some(s"$below LSH pairs below tau $tau")
    else if (bad > 0) Some(s"$bad LSH pairs not planted or with a wrong score")
    else None
  }
}
