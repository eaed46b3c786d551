package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of the seed
  * (and an index), so executors can write the rows and the Spark driver can
  * recompute what it expects from them without keeping the data.
  */
object Gen {

  /** splitmix64 finaliser: decorrelates (seed, index) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  val T0Ms: Long = 1700000000000L
  val StepMs: Long = 60000L
  val Noise = 1.0

  def key(k: Int): String = f"host$k%05d:cpu"

  /** One monitored series: seasonal signal (period 96 points) plus unit
    * noise, one level shift of ±6σ in the middle half and three spikes of
    * ±15–20σ, away from the ends and more than min(20, n/16) points apart
    * and from the shift.
    * Spikes this large stand out of the point-to-point differences even
    * when the noise of both neighbours works against them, so every one
    * must fall in a reported window of the derivative detector.
    */
  final case class Series(k: Int, values: Array[Double], spikes: Vector[Int], shiftAt: Int) {
    def key: String = Gen.key(k)
    def tsMs(i: Int): Long = T0Ms + i * StepMs
  }

  def series(seed: Long, k: Int, n: Int): Series = {
    require(n >= 32, s"series too short to plant anomalies: $n")
    val gap = math.min(20, n / 16)
    val r = new SplittableRandom(mix(seed, k.toLong))
    val base = 20 + r.nextInt(80)
    val amp = 1 + 3 * r.nextDouble()
    val phase = r.nextDouble() * 2 * math.Pi
    val shiftAt = n / 4 + r.nextInt(n / 2)
    val shift = (if (r.nextBoolean()) 6 else -6) * Noise
    var spikes = Vector.empty[Int]
    while (spikes.length < 3) {
      val i = n / 10 + r.nextInt(n * 8 / 10)
      if (math.abs(i - shiftAt) > gap && spikes.forall(s => math.abs(s - i) > gap)) spikes :+= i
    }
    val v = Array.tabulate(n) { i =>
      base + amp * math.sin(2 * math.Pi * i / 96 + phase) + Noise * gaussian(r) +
        (if (i >= shiftAt) shift else 0.0)
    }
    for (s <- spikes) v(s) += (if (r.nextBoolean()) 1 else -1) * (15 + 5 * r.nextDouble()) * Noise
    Series(k, v, spikes.sorted, shiftAt)
  }

  /** Skewed key draw for the interactive workload: Zipf(1.1) over `keys`,
    * so a few keys are hot, by inverse-CDF on a precomputed table.
    */
  final class Zipf(keys: Int, s: Double = 1.1) {
    private val cdf = {
      val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, keys - 1)
    }
  }

  /** One event of the streaming feed. */
  final case class Event(k: Int, i: Long, tsMs: Long, value: Double)

  /** Micro-batch `b` of the streaming feed over `keys` live keys: each key's
    * next `perKey` points in event-time order, then — from batch 2 on —
    * `planted` duplicates of the previous batch's events (same timestamp)
    * and `planted` late events (one millisecond before a timestamp two
    * batches back), shuffled together. Returns the rows and how many were
    * planted duplicates or late events.
    */
  def streamBatch(seed: Long, b: Int, keys: Int, perKey: Int, planted: Int): (Vector[Event], Int) = {
    def point(k: Int, i: Long): Event = {
      val r = new SplittableRandom(mix(mix(seed, k.toLong), i))
      Event(k, i, T0Ms + i * 1000L, 10 + k % 50 + Noise * gaussian(r))
    }
    val r = new SplittableRandom(mix(seed ^ 0x5EED5EEDL, b.toLong))
    val fresh = for (k <- 0 until keys; j <- 0 until perKey) yield point(k, b.toLong * perKey + j)
    val extra =
      if (b < 2) Vector.empty
      else {
        val dups = Vector.fill(planted) {
          point(r.nextInt(keys), (b - 1).toLong * perKey + r.nextInt(perKey))
        }
        val late = Vector.fill(planted) {
          val e = point(r.nextInt(keys), (b - 2).toLong * perKey + r.nextInt(perKey))
          e.copy(tsMs = e.tsMs - 1)
        }
        dups ++ late
      }
    val all = (fresh ++ extra).toArray
    var i = all.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
      i -= 1
    }
    (all.toVector, extra.length)
  }

  /** Dedup corpus: `clusters` planted near-duplicate clusters of `size`
    * members (a base document and variants with `edits` token
    * substitutions each) among `background` unrelated documents. Every
    * document has `len` tokens drawn from a 20,000-word vocabulary, so
    * unrelated documents share almost no 3-gram. Ids are a seeded
    * permutation, so clusters are not contiguous. Returns (id, text) rows
    * and the clusters as id lists.
    */
  def corpus(
      seed: Long,
      clusters: Int,
      size: Int,
      background: Int,
      len: Int = 100,
      edits: Int = 3): (Vector[(Long, String)], Vector[Vector[Long]]) = {
    val r = new SplittableRandom(mix(seed, 0xD0C5L))
    def word(): String = "w" + r.nextInt(20000)
    val total = clusters * size + background
    val ids = (0L until total.toLong).toArray
    var i = ids.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    var next = 0
    def nextId(): Long = { next += 1; ids(next - 1) }
    val docs = Vector.newBuilder[(Long, String)]
    val groups = Vector.newBuilder[Vector[Long]]
    for (_ <- 0 until clusters) {
      val base = Array.fill(len)(word())
      val members = Vector.tabulate(size) { m =>
        val toks = base.clone()
        if (m > 0) for (_ <- 0 until edits) toks(r.nextInt(len)) = word()
        val id = nextId()
        docs += id -> toks.mkString(" ")
        id
      }
      groups += members
    }
    for (_ <- 0 until background) docs += nextId() -> Array.fill(len)(word()).mkString(" ")
    (docs.result(), groups.result())
  }
}
